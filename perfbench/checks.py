"""Model-based correctness checks.

Each workload has a loader (`load_*`: read the files the program wrote
into plain Python values) and a pure comparison (`check_*(model, out)`)
that returns a list of failure strings, one per wrong item. The
comparisons never look at the program's code, only at its outputs and
at the model the generator built from the seed.
"""
import glob
import json
import os

INCOME_COLS = ["net_revenue", "total_revenue", "cost_of_goods_sold", "gross_profit",
               "operating_expenses", "total_expenses", "interest_expenses",
               "profit_before_tax", "income_tax_expenses", "net_profit"]
BALANCE_COLS = ["accounts_receivable_net", "inventories", "current_assets",
                "property_plant_equipment", "non_current_assets", "total_assets",
                "current_liabilities", "non_current_liabilities", "total_liabilities",
                "shareholders_equity", "total_liabilities_and_shareholder_equity"]
RATIO_COLS = ["return_on_assets_percent", "return_on_equity_percent",
              "gross_profit_margin_percent", "operating_profit_margin_percent",
              "net_profit_margin_percent", "current_ratio_times",
              "accounts_receivable_turnover_times", "inventory_turnover_times",
              "accounts_payable_turnover_times", "total_asset_turnover_times",
              "operating_expense_ratio_percent",
              "total_assets_to_shareholders_equity_ratio_times",
              "total_liabilities_to_total_assets_ratio_times",
              "debt_to_equity_ratio_times", "debt_to_working_capital_ratio_times"]
FIN_ITEMS = ["total_revenue", "cost_of_goods_sold", "net_profit"]


def read_json_dir(path):
    """Rows of every JSON-lines part file Spark wrote under `path`."""
    rows = []
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(f, encoding="utf-8") as fh:
            rows += [json.loads(line) for line in fh if line.strip()]
    return rows


def cents(v):
    return None if v is None else round(v * 100)


def _multiset_diff(label, want, got, limit=20):
    """Failures for items missing from or unexpected in `got`."""
    from collections import Counter
    w, g = Counter(map(json.dumps, want)), Counter(map(json.dumps, got))
    out = [f"{label}: missing {k}" for k in (w - g)] + [f"{label}: unexpected {k}" for k in (g - w)]
    return out if len(out) <= limit else out[:limit] + [f"{label}: ... {len(out) - limit} more"]


# ---------------------------------------------------------- ingest_hostile --

def load_ingest(out_dir):
    base = os.path.basename
    out = {"rejects": {base(r["source_file"]): r["reject_reason"]
                       for r in read_json_dir(os.path.join(out_dir, "rejects"))}}
    out["excel"] = [[base(r["source_file"]), r.get("source_sheet"), r.get("code"), r.get("name"),
                     cents(r.get("amount")), r.get("date")]
                    for r in read_json_dir(os.path.join(out_dir, "excel"))]
    out["pdf"] = [[base(r["source_file"]), r.get("seq"), r.get("invoice_no"), cents(r.get("amount"))]
                  for r in read_json_dir(os.path.join(out_dir, "pdf"))]
    out["po"] = [[base(r["source_file"]), r.get("po_no"), r.get("supplier_code"), r.get("supplier_name"),
                  r.get("order_date"), cents(r.get("amount_incl_vat")), cents(r.get("amount_incl_vat_2")),
                  r.get("buyer_code")]
                 for r in read_json_dir(os.path.join(out_dir, "po"))]
    out["invoice_valid"] = [[r.get("invoice_no"), cents(r.get("amount"))]
                            for r in read_json_dir(os.path.join(out_dir, "invoice"))]
    out["invoice_rejected"] = len(read_json_dir(os.path.join(out_dir, "invoice_rejects")))
    return out


def check_ingest(model, out):
    fails = []
    want, got = model["rejects"], out["rejects"]
    for name in sorted(set(want) | set(got)):
        if name not in got:
            fails.append(f"reject: planted {name} ({want[name]}) was not rejected")
        elif name not in want:
            fails.append(f"reject: {name} rejected but not planted: {got[name]}")
        elif not got[name].startswith(want[name]):
            fails.append(f"reject: {name} reason {got[name]!r} lacks prefix {want[name]!r}")
    fails += _multiset_diff("excel", model["excel"], out["excel"])
    fails += _multiset_diff("pdf", model["pdf"], out["pdf"])
    fails += _multiset_diff("po", model["po"], out["po"])
    fails += _multiset_diff("invoice", [r[1:] for r in model["invoice_valid"]], out["invoice_valid"])
    if out["invoice_rejected"] != model["invoice_rejected"]:
        fails.append(f"invoice: {out['invoice_rejected']} rejected rows, want {model['invoice_rejected']}")
    return fails


# ---------------------------------------------------------- sync_and_serve --

def _num_eq(a, b):
    """Money to the cent: every amount is a whole number of cents, far
    below the 2^53 range where a double loses them."""
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) < 1e-4


def _fin_row(t, y, vals):
    row = {"tax_id": t, "fiscal_year": y}
    for item, c in zip(FIN_ITEMS, vals):
        row[item] = None if c is None else c / 100
    return row


def expected_lookup(fin, dirs, kind, tax_id, year, to, page):
    if kind == "point":
        v = fin.get((tax_id, year))
        return [] if v is None else [_fin_row(tax_id, year, v)]
    if kind == "range":
        return [_fin_row(tax_id, y, fin[(tax_id, y)])
                for y in range(year, to + 1) if (tax_id, y) in fin]
    if kind == "response":
        years = sorted(y for (t, y) in fin if t == tax_id)
        income = {str(y): {c: (None if c not in FIN_ITEMS else _fin_row(tax_id, y, fin[(tax_id, y)])[c])
                           for c in INCOME_COLS} for y in years}
        return [{"tax_id": tax_id,
                 "balance": {str(y): {c: None for c in BALANCE_COLS} for y in years},
                 "income": income,
                 "ratios": {str(y): {c: None for c in RATIO_COLS} for y in years}}]
    ds = sorted(dirs.get(tax_id, []), key=lambda d: (d["director_no"] is None, d["director_no"] or 0, d["id"]))
    return [dict(d, total=len(ds)) for d in ds[(page - 1) * 50: page * 50]]


def _decode_response(rows):
    return [{k: (json.loads(v) if k != "tax_id" else v) for k, v in r.items()} for r in rows]


def _deep_eq(a, b):
    if isinstance(a, dict) and isinstance(b, dict):
        return set(a) == set(b) and all(_deep_eq(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_deep_eq(x, y) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not isinstance(a, bool):
        return _num_eq(float(a), float(b))
    return a == b


def load_sync(exports):
    with open(exports["lookups"], encoding="utf-8") as f:
        lookups = [json.loads(line) for line in f if line.strip()]
    for lk in lookups:
        lk["rows"] = [json.loads(r) for r in lk["rows"]]
    with open(exports["windows"], encoding="utf-8") as f:
        windows = [json.loads(line) for line in f if line.strip()]
    return {"lookups": lookups, "fin": read_json_dir(exports["fin"]),
            "dirs": read_json_dir(exports["dirs"]), "days": exports["days"],
            "cdc": read_json_dir(exports["cdc"]), "cdc_batch": read_json_dir(exports["cdc_batch"]),
            "windows": windows, "watermark": exports["watermark"]}


def check_sync(model, out):
    fails = []
    sched = model["schedule"]
    for lk in out["lookups"]:
        fin, dirs = model["snapshots"][lk["day"] - 1]
        s = sched[lk["day"] - 1][lk["k"]]
        want = expected_lookup(fin, dirs, s["kind"], s["tax_id"], s["year"], s["to"], s["page"])
        got = _decode_response(lk["rows"]) if s["kind"] == "response" else lk["rows"]
        if not _deep_eq(want, got):
            fails.append(f"lookup day {lk['day']} #{lk['k']} {s['kind']} {s['tax_id']}: "
                         f"got {json.dumps(got, ensure_ascii=False)[:200]}")
    fin, dirs = model["snapshots"][out["days"] - 1]
    want_fin = sorted((json.dumps(_fin_row(t, y, v), sort_keys=True) for (t, y), v in fin.items()))
    got_fin = sorted(json.dumps({k: r.get(k) for k in ["tax_id", "fiscal_year"] + FIN_ITEMS}, sort_keys=True)
                     for r in out["fin"])
    if len(want_fin) != len(got_fin) or not all(
            _deep_eq(json.loads(a), json.loads(b)) for a, b in zip(want_fin, got_fin)):
        fails.append(f"final table: {len(got_fin)} rows differ from the model's {len(want_fin)}")
    want_dirs = sorted(json.dumps(d, sort_keys=True, ensure_ascii=False) for ds in dirs.values() for d in ds)
    got_dirs = sorted(json.dumps({k: r.get(k) for k in ["id", "tax_id", "director_no", "name"]},
                                 sort_keys=True, ensure_ascii=False) for r in out["dirs"])
    if want_dirs != got_dirs:
        fails.append(f"final directors: {len(got_dirs)} rows differ from the model's {len(want_dirs)}")
    events = [e for day in model["events"][:out["days"]] for e in day]
    return fails + check_cdc(events, model["events"][out["days"] - 1], out)


# ----------------------------------------------------------- corpus_dedup --

def load_dedup(exports):
    return {"kept": [r["id"] for r in read_json_dir(exports["kept"])],
            "pairs": [(r["id_a"], r["id_b"]) for r in read_json_dir(exports["pairs"])]}


def check_dedup(model, out):
    fails = []
    kept = set(out["kept"])
    if len(kept) != len(out["kept"]):
        fails.append("kept: duplicate ids in the output")
    for fam in model["families"]:
        alive = [i for i in fam["ids"] if i in kept]
        if alive != [fam["keep"]]:
            fails.append(f"family {fam['ids']}: survivors {alive}, want [{fam['keep']}]")
    for i in model["singletons"]:
        if i not in kept:
            fails.append(f"singleton {i} was dropped")
    for e in model["exact"]:
        if e["id"] in kept:
            fails.append(f"exact duplicate {e['id']} of {e['of']} survived")
    return fails


def pair_precision(model, pairs):
    """Share of verified pairs that lie inside one planted family."""
    fam = {i: k for k, f in enumerate(model["families"]) for i in f["ids"]}
    hits = sum(1 for a, b in pairs if a in fam and fam.get(a) == fam.get(b))
    return hits / len(pairs) if pairs else 0.0


# ------------------------------------------------------------- CDC feed --

def expected_cdc(events):
    """Latest event per user by (ts, event_id); an `error` event is a
    tombstone kept as a ghost row."""
    latest = {}
    for e in events:
        eid, u, et, v, ts = e
        if u not in latest or (ts, eid) > (latest[u][4], latest[u][0]):
            latest[u] = e
    return latest


def expected_windows(events, watermark_us, window_s=300):
    wins = {}
    for eid, u, et, v, ts in events:
        start = ts // 1_000_000 // window_s * window_s
        if (start + window_s) * 1_000_000 <= watermark_us:
            n, c = wins.get((start, et), (0, 0))
            wins[(start, et)] = (n + 1, c + round(v * 100))
    return wins


def _iso_us(s):
    """'2025-01-01T10:00:00.000Z' style timestamps to epoch microseconds."""
    from datetime import datetime, timezone
    s = s.replace("Z", "+00:00")
    dt = datetime.fromisoformat(s)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return round(dt.timestamp() * 1_000_000)


def _cdc_key(r):
    return (r["user_id"], r["event_id"], r["event_type"], round(r["value"] * 100),
            _iso_us(r["ts"]), bool(r["__deleted"]))


def check_cdc(events, last_day_events, out):
    """The streamed snapshot against the batch merge and the model over
    every applied day's events; the last day's windows against a group-by
    over that day's events the final watermark closed."""
    fails = []
    stream = sorted(map(_cdc_key, out["cdc"]))
    batch = sorted(map(_cdc_key, out["cdc_batch"]))
    if stream != batch:
        fails.append(f"cdc: streamed snapshot ({len(stream)} rows) differs from the batch "
                     f"applyChangelogVersioned ({len(batch)} rows)")
    want = sorted((u, eid, et, round(v * 100), ts, et == "error")
                  for u, (eid, _, et, v, ts) in expected_cdc(events).items())
    if stream != want:
        fails.append(f"cdc: streamed snapshot ({len(stream)} rows) differs from the model ({len(want)} rows)")
    if not out["watermark"]:
        fails.append("windows: no final watermark reported")
        return fails
    wm = _iso_us(out["watermark"])
    want_w = expected_windows(last_day_events, wm)
    got_w = {(r["win_start"], r["event_type"]): (r["n"], round(r["total_value"] * 100))
             for r in out["windows"]}
    if len(got_w) != len(out["windows"]):
        fails.append("windows: a (window, type) appears twice")
    for k in sorted(set(want_w) | set(got_w)):
        if want_w.get(k) != got_w.get(k):
            fails.append(f"window {k}: got {got_w.get(k)}, want {want_w.get(k)}")
    if not want_w:
        fails.append("windows: the final watermark closed no window")
    return fails


def load_nightly(exports):
    return {"ingest": load_ingest(exports["ingest"]["out"]), "dedup": load_dedup(exports["dedup"])}


def check_nightly(model, out):
    return check_ingest(model["ingest"], out["ingest"]) + check_dedup(model["dedup"], out["dedup"])


LOADERS = {"nightly_batch": load_nightly, "sync_and_serve": load_sync}
CHECKS = {"nightly_batch": check_nightly, "sync_and_serve": check_sync}
