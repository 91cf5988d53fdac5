"""The benchmark's own checks must reject wrong outputs.

Each test builds the output a correct program would produce straight from
the generator's model, confirms the check accepts it, then corrupts it in
one way (a dropped row, a swapped reject reason, a stale lookup, ...) and
confirms the check reports it.

    python3 perfbench/tests/test_checks.py
"""
import copy
import json
import os
import sys
import tempfile
import unittest
from datetime import datetime, timezone

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402


def _iso(us):
    return datetime.fromtimestamp(us / 1e6, tz=timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%fZ")


class ChecksRejectCorruptOutputs(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        d = cls.tmp.name
        cls.ingest = gen.gen_ingest(5, os.path.join(d, "i"), files=40)
        cls.sync = gen.gen_sync(5, os.path.join(d, "s"), companies=30, days=3, lookups_per_day=40)
        cls.dedup = gen.gen_dedup(5, os.path.join(d, "d"), docs=400)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    # ------------------------------------------------------------ ingest --

    def ingest_out(self):
        m = self.ingest
        return {"rejects": {k: v + ": detail" for k, v in m["rejects"].items()},
                "excel": copy.deepcopy(m["excel"]), "pdf": copy.deepcopy(m["pdf"]),
                "po": copy.deepcopy(m["po"]),
                "invoice_valid": [r[1:] for r in m["invoice_valid"]],
                "invoice_rejected": m["invoice_rejected"]}

    def test_ingest_correct_output_passes(self):
        self.assertEqual(checks.check_ingest(self.ingest, self.ingest_out()), [])

    def test_ingest_dropped_row_fails(self):
        for kind in ["excel", "pdf", "po", "invoice_valid"]:
            out = self.ingest_out()
            out[kind].pop(len(out[kind]) // 2)
            self.assertTrue(checks.check_ingest(self.ingest, out), kind)

    def test_ingest_swapped_reject_reason_fails(self):
        out = self.ingest_out()
        by_reason = {}
        for name, reason in out["rejects"].items():
            by_reason.setdefault(reason.split(":")[0], name)
        a, b = by_reason["unknown_format"], by_reason["pdf_parse_error"]
        out["rejects"][a], out["rejects"][b] = out["rejects"][b], out["rejects"][a]
        self.assertEqual(len(checks.check_ingest(self.ingest, out)), 2)

    def test_ingest_unplanted_or_missing_reject_fails(self):
        out = self.ingest_out()
        out["rejects"].pop(sorted(out["rejects"])[0])
        self.assertTrue(checks.check_ingest(self.ingest, out))
        out = self.ingest_out()
        out["rejects"]["good_file.xlsx"] = "xlsx_parse_error: ZipException"
        self.assertTrue(checks.check_ingest(self.ingest, out))

    def test_ingest_wrong_amount_fails(self):
        out = self.ingest_out()
        row = next(r for r in out["excel"] if r[4] is not None)
        row[4] += 1
        self.assertTrue(checks.check_ingest(self.ingest, out))

    # -------------------------------------------------------------- sync --

    def sync_out(self, day_of_answer=lambda day: day):
        m = self.sync
        lookups = []
        for d, burst in enumerate(m["schedule"], start=1):
            fin, dirs = m["snapshots"][day_of_answer(d) - 1]
            for k, s in enumerate(burst):
                rows = checks.expected_lookup(fin, dirs, s["kind"], s["tax_id"], s["year"], s["to"], s["page"])
                if s["kind"] == "response":
                    rows = [{k2: (v if k2 == "tax_id" else json.dumps(v)) for k2, v in r.items()} for r in rows]
                lookups.append({"day": d, "k": k, "kind": s["kind"], "rows": rows})
        fin, dirs = m["snapshots"][-1]
        out = {"lookups": lookups, "days": len(m["schedule"]),
               "fin": [checks._fin_row(t, y, v) for (t, y), v in fin.items()],
               "dirs": [dict(d) for ds in dirs.values() for d in ds]}
        events = [e for day in m["events"] for e in day]
        out["cdc"] = [{"event_id": eid, "user_id": u, "event_type": et, "value": v, "ts": _iso(ts),
                       "__deleted": et == "error"}
                      for u, (eid, _, et, v, ts) in checks.expected_cdc(events).items()]
        out["cdc_batch"] = copy.deepcopy(out["cdc"])
        wm = max(e[4] for e in m["events"][-1]) - 3600 * 1_000_000
        out["windows"] = [{"win_start": s, "event_type": et, "n": n, "total_value": c / 100}
                          for (s, et), (n, c) in checks.expected_windows(m["events"][-1], wm).items()]
        out["watermark"] = _iso(wm)
        return out

    def test_sync_correct_output_passes(self):
        self.assertEqual(checks.check_sync(self.sync, self.sync_out()), [])

    def test_sync_stale_lookup_fails(self):
        # every lookup answered from the previous day's table
        out = self.sync_out(day_of_answer=lambda day: max(day - 1, 1))
        fails = checks.check_sync(self.sync, out)
        self.assertTrue(any(f.startswith("lookup day 2") for f in fails))

    def test_sync_single_stale_value_fails(self):
        out = self.sync_out()
        lk = next(lk for lk in out["lookups"] if lk["kind"] == "point" and lk["rows"])
        lk["rows"][0]["net_profit"] = (lk["rows"][0]["net_profit"] or 0.0) + 0.01
        self.assertEqual(len(checks.check_sync(self.sync, out)), 1)

    def test_sync_dropped_table_row_fails(self):
        out = self.sync_out()
        out["fin"].pop()
        self.assertTrue(checks.check_sync(self.sync, out))
        out = self.sync_out()
        out["dirs"].pop()
        self.assertTrue(checks.check_sync(self.sync, out))

    # ------------------------------------------------------------- dedup --

    def dedup_out(self):
        m = self.dedup
        return {"kept": list(m["singletons"]) + [f["keep"] for f in m["families"]], "pairs": []}

    def test_dedup_correct_output_passes(self):
        self.assertEqual(checks.check_dedup(self.dedup, self.dedup_out()), [])

    def test_dedup_two_survivors_fail(self):
        out = self.dedup_out()
        fam = self.dedup["families"][0]
        out["kept"].append(next(i for i in fam["ids"] if i != fam["keep"]))
        self.assertTrue(checks.check_dedup(self.dedup, out))

    def test_dedup_wrong_keeper_and_dropped_singleton_fail(self):
        out = self.dedup_out()
        fam = self.dedup["families"][0]
        out["kept"].remove(fam["keep"])
        out["kept"].append(next(i for i in fam["ids"] if i != fam["keep"]))
        out["kept"].remove(self.dedup["singletons"][0])
        self.assertEqual(len(checks.check_dedup(self.dedup, out)), 2)

    def test_dedup_surviving_exact_duplicate_fails(self):
        out = self.dedup_out()
        out["kept"].append(self.dedup["exact"][0]["id"])
        self.assertTrue(checks.check_dedup(self.dedup, out))

    # ---------------------------------------------------- sync: CDC feed --

    def test_cdc_dropped_snapshot_row_fails(self):
        out = self.sync_out()
        out["cdc"].pop()
        self.assertEqual(len(checks.check_sync(self.sync, out)), 2)

    def test_cdc_resurrected_tombstone_fails(self):
        out = self.sync_out()
        row = next(r for r in out["cdc"] if r["__deleted"])
        row["__deleted"] = False
        self.assertTrue(checks.check_sync(self.sync, out))

    def test_cdc_wrong_or_missing_window_fails(self):
        out = self.sync_out()
        out["windows"][0]["n"] += 1
        self.assertEqual(len(checks.check_sync(self.sync, out)), 1)
        out = self.sync_out()
        out["windows"].pop()
        self.assertEqual(len(checks.check_sync(self.sync, out)), 1)


if __name__ == "__main__":
    unittest.main()
