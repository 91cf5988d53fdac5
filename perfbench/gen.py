"""Seeded input generators for the hostile-file corpus, the document
corpus, the sync days and the CDC event files, each paired with the model
its outputs are checked against.

`generate(workload, seed, out_dir, passes)` writes the input files under
`out_dir` and returns the model the checks compare the program's outputs
with. The same seed always yields the same bytes; the seed picks the
content, while the inputs' shape (file counts, sizes, mixes) is fixed so
that seeds do not change how much work a run does. Standard library only.
"""
import json
import os
import random

import fixtures

# ----------------------------------------------------------- shared bits --

THAI_SYL = ["สยาม", "ไทย", "ทอง", "เงิน", "ค้า", "ขาย", "พัฒนา", "ก่อสร้าง", "ขนส่ง",
            "อาหาร", "เกษตร", "บริการ", "วัสดุ", "เหล็ก", "ยาง", "ผ้า", "พลาสติก", "ไม้"]
YEARS = list(range(2019, 2025))


def thai_name(rng):
    return "บริษัท " + " ".join(rng.choice(THAI_SYL) for _ in range(rng.randint(1, 3))) + " จำกัด"


def fmt_amount(rng, cents):
    """One of the spellings the cleansing DSL accepts for `cents`."""
    neg, c = cents < 0, abs(cents)
    plain = f"{c // 100}.{c % 100:02d}"
    grouped = f"{c // 100:,}.{c % 100:02d}"
    style = rng.randrange(4)
    if neg:
        return f"({grouped})" if style < 2 else "−" + grouped
    return [grouped, plain, grouped, " " + grouped + " "][style]


def fmt_be_date(rng, y, m, d):
    """Buddhist-era d/m/y (the reference's dominant spelling) or ISO."""
    if rng.random() < 0.75:
        sep = rng.choice(["/", "/", "."])
        return f"{d:02d}{sep}{m:02d}{sep}{y + 543}"
    return f"{y}-{m:02d}-{d:02d}"


def rand_date(rng):
    return 2024 + rng.randint(0, 1), rng.randint(1, 12), rng.randint(1, 28)


def write(path, data):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


def ws_noise(rng, s):
    """Extra ASCII spaces the cleansing DSL must collapse."""
    if rng.random() < 0.3:
        s = "  " + s.replace(" ", "   ", 1) + " "
    return s


def collapse(s):
    return " ".join(p for p in s.split(" ") if p)


# ---------------------------------------------------------- ingest_hostile --

EXCEL_HEADER = ["code", "name", "amount", "date"]
INVOICE_KEYS = ["Invoice No.", "Supplier Code", "Invoice Date", "Invoice Received Date",
                "Related Document", "Amount", "Status"]
PO_HEADER = ["PO No.", "Supplier Code", "Supplier Name", "Order Date", "Send Date",
             "Delivery Date", "Amount (PO Include VAT)", "Amount (PO Include VAT)"]


def _excel_sheet(rng, serial, n_rows):
    header = list(EXCEL_HEADER)
    if rng.random() < 0.3:
        rng.shuffle(header)          # column drift: resolved per sheet header
    rows, expect = [header], []
    for _ in range(n_rows):
        code = f"S{serial[0]:06d}"
        serial[0] += 1
        cents = rng.randint(-50_000, 5_000_000)
        name = thai_name(rng)
        if rng.random() < 0.04:
            amount_raw, cents = "n/a", None
        elif rng.random() < 0.3:
            amount_raw = cents / 100          # numeric cell
        else:
            amount_raw = fmt_amount(rng, cents)
        y, m, d = rand_date(rng)
        if rng.random() < 0.04:
            date_raw, iso = "-", None
        else:
            date_raw, iso = fmt_be_date(rng, y, m, d), f"{y}-{m:02d}-{d:02d}"
        vals = {"code": code, "name": ws_noise(rng, name), "amount": amount_raw, "date": date_raw}
        rows.append([vals[h] for h in header])
        expect.append((code, collapse(name), cents, iso))
    return rows, expect


def gen_ingest(seed, root, files=60):
    rng = random.Random(seed * 7919 + 1)
    # the file-kind mix is an assumption (README, "Where the traffic numbers come from")
    n_excel, n_pdf, n_csv = files * 40 // 100, files * 20 // 100, files * 25 // 100
    n_inv = files - n_excel - n_pdf - n_csv
    serial = [1]
    model = {"files": files, "rejects": {}, "excel": [], "pdf": [], "po": [],
             "invoice_valid": [], "invoice_rejected": 0, "bytes": 0}
    total = 0

    # Excel: .xlsx, legacy .xls, and .xls bytes under a lying .xlsx name.
    # A tenth of the corpus is planted corruption with a typed reject.
    plants = ["nopk", "truncated", "badref"]
    n_bad_excel = max(3, files // 10 - files // 40)
    for i in range(n_excel):
        kind = plants[i % 3] if i < n_bad_excel else ["xlsx", "xls", "xlsx", "xls_as_xlsx"][i % 4]
        sheets, expect = [], []
        for si in range(1 + i % 3):
            rows, ex = _excel_sheet(rng, serial, 4 + (3 * i + 5 * si) % 9)
            sheets.append((f"Sheet{si + 1}", rows))
            expect += [(f"Sheet{si + 1}",) + e for e in ex]
        if i % 3 == 1:
            sheets.append(("Empty", [[]]))
        name = f"sup_{i:04d}." + ("xls" if kind == "xls" else "xlsx")
        if kind == "xls":
            data = fixtures.xls_bytes(sheets)
        elif kind == "xls_as_xlsx":
            data = fixtures.xls_bytes(sheets)
        else:
            data = fixtures.xlsx_bytes(sheets, bad_row_ref=(kind == "badref"))
        if kind == "nopk":
            data = b"<html><body>Service Unavailable</body></html>\n" * 12
            model["rejects"][name] = "unknown_format"
        elif kind == "truncated":
            data = fixtures.truncate_zip_mid_entry(data)
            model["rejects"][name] = "xlsx_parse_error"
        elif kind == "badref":
            model["rejects"][name] = "xlsx_parse_error: NumberFormatException"
        else:
            for sheet, code, nm, cents, iso in expect:
                model["excel"].append([name, sheet, code, nm, cents, iso])
        write(os.path.join(root, "excel", name), data)
        total += len(data)

    # PDF invoice tables: title, header, numbered rows, total row per page.
    n_bad_pdf = max(1, files // 40)
    for i in range(n_pdf):
        name = f"inv_{i:04d}.pdf"
        pages, seq = [], 1
        expect = []
        for p in range(1 + i % 3):
            rows = [(780.0, [(72.0, "รายงานใบแจ้งหนี้")]),
                    (750.0, [(72.0, "ลำดับที่"), (150.0, "Invoice No"), (300.0, "Amount")])]
            y, page_sum = 730.0, 0
            for _ in range(5 + (4 * i + 3 * p) % 11):
                digits = rng.choice("23456789") + f"{rng.randint(100, 9999)}"
                inv = "IV" + digits
                shown = inv
                if rng.random() < 0.2:   # OCR look-alikes after the first digit
                    shown = "IV" + digits[0] + digits[1:].replace("0", "O").replace("1", "l")
                cents = rng.randint(-20_000, 2_000_000)
                cells = [(72.0, str(seq)), (150.0, shown), (300.0, fmt_amount(rng, cents))]
                if rng.random() < 0.05:
                    cells = [cells[0], cells[2]]
                    inv = None
                rows.append((y, cells))
                expect.append([name, seq, inv, cents])
                page_sum += cents
                seq += 1
                y -= 18.0
            rows.append((y, [(72.0, "รวมทั้งสิ้น"), (300.0, fmt_amount(rng, page_sum))]))
            pages.append(rows)
        data = fixtures.pdf_table_bytes(pages)
        if i < n_bad_pdf:
            # a broken PDF: header kept, object table cut away
            data = data[:9] + b"%% truncated transfer\n" if i % 2 == 0 else b"\x89PNG\r\n\x1a\n" + data[9:200]
            model["rejects"][name] = "pdf_parse_error"
        else:
            model["pdf"] += expect
        write(os.path.join(root, "pdf", name), data)
        total += len(data)

    # PO reports as CSV in four encodings (the read_po_csv shape).
    encodings = ["utf-8", "utf-8-sig", "tis_620", "cp874"]
    for i in range(n_csv):
        name = f"po_{i:04d}.csv"
        enc = encodings[i % 4]
        buyer = f"{rng.randint(10**12, 10**13 - 1)}"
        buyer_name = thai_name(rng)
        header = list(PO_HEADER)
        if rng.random() < 0.3:
            header[1], header[2] = header[2], header[1]
        lines = ["PO DETAIL REPORT,,,,,,,", f",Buyer : ({buyer}) {buyer_name},,,,,,",
                 ",,,,,,,", ",,,7/1/2025,,7/31/2025,,", ",".join(header)]
        n_rows = 4 + (5 * i) % 12
        for r in range(n_rows):
            po = f"{1013000000 + i * 1000 + r}"
            sup, sname = f"{rng.randint(10000, 99999)}", thai_name(rng)
            y, m, d = rand_date(rng)
            c1, c2 = rng.randint(-100_000, 3_000_000), rng.randint(0, 3_000_000)
            vals = {"PO No.": po, "Supplier Code": sup, "Supplier Name": ws_noise(rng, sname),
                    "Order Date": fmt_be_date(rng, y, m, d),
                    "Send Date": f"{m}/{d}/{y} {rng.randint(0, 23)}:{rng.randint(0, 59):02d}:00",
                    "Delivery Date": fmt_be_date(rng, y, m, d)}
            amounts = [fmt_amount(rng, c1), fmt_amount(rng, c2)]
            if enc in ("tis_620", "cp874"):     # no U+2212 in the Thai code pages
                amounts = [a.replace("−", "-") for a in amounts]
            cells = [vals.get(h) for h in header[:6]] + amounts
            lines.append(",".join('"' + c + '"' if ("," in c or c != c.strip()) else c for c in cells))
            model["po"].append([name, po, sup, collapse(sname), f"{y}-{m:02d}-{d:02d}", c1, c2, buyer])
            if r == n_rows // 2 and i % 3 == 0:
                lines.append(",".join(header))      # printed header echo
        lines += [",,,,,,,", ',,รวมทั้งสิ้น,,,,"1.00","1.00"', ",,,,,,,"]
        data = "\r\n".join(lines).encode(enc)
        write(os.path.join(root, "po", name), data)
        total += len(data)

    # OCR'd invoice reports as JSON documents with a /records array.
    for i in range(n_inv):
        name = f"invoice_{i:04d}.json"
        recs = []
        for r in range(5 + (7 * i) % 16):
            digits = f"{rng.randint(1000, 999999)}"
            prefix = rng.choice(["BL", "IV", "iv", "TX"])
            inv_raw = prefix + (digits.replace("0", "O") if rng.random() < 0.2 else digits)
            ok_inv = rng.random() > 0.05
            if not ok_inv:
                inv_raw = prefix + "-" + digits
            code_ok = rng.random() > 0.05
            code = f"{rng.randint(10000, 99999)}" if code_ok else "bad-code"
            date_ok = rng.random() > 0.05
            y, m, d = rand_date(rng)
            cents = rng.randint(-100_000, 3_000_000)
            recs.append({"Invoice No.": inv_raw, "Supplier Code": code,
                         "Invoice Date": fmt_be_date(rng, y, m, d) if date_ok else "n/a",
                         "Invoice Received Date": f"{y}-{m:02d}-{d:02d} 10:22:00",
                         "Related Document": f"PO:{rng.randint(10**9, 10**10 - 1)}",
                         "Amount": fmt_amount(rng, cents), "Status": rng.choice(["PAID", "PENDING"])})
            if ok_inv and code_ok and date_ok:
                model["invoice_valid"].append([name, prefix.upper() + digits, cents])
            else:
                model["invoice_rejected"] += 1
            if r == 2:
                recs.append({k: k for k in INVOICE_KEYS})   # header-echo row
        data = json.dumps({"meta": {"source": "pdf_ocr_inv_to_json"}, "records": recs},
                          ensure_ascii=False, indent=1).encode("utf-8")
        write(os.path.join(root, "invoice", name), data)
        total += len(data)

    model["bytes"] = total
    return model


# ---------------------------------------------------------- sync_and_serve --

ITEMS = [("รายได้รวม", "total_revenue"), ("ต้นทุนขาย", "cost_of_goods_sold"),
         ("กำไร(ขาดทุน)สุทธิ", "net_profit")]
# The lookup mix, the Zipf exponent, the table size and the daily churn are
# assumptions: the reference publishes no traffic figures (README, "Where
# the traffic numbers come from").
LOOKUP_MIX = [("point", 40), ("range", 25), ("response", 15), ("page", 20)]


def _tax_ids(rng, n):
    ids = set()
    while len(ids) < n:
        ids.add("0" + "".join(str(rng.randint(0, 9)) for _ in range(12)))
    return sorted(ids)


def _spell_tax(rng, t):
    if rng.random() < 0.3:
        return f"{t[0]}-{t[1:5]}-{t[5:10]}-{t[10:12]}-{t[12]}"
    return t


def _money(rng, cents):
    if cents is None:
        return ""
    if cents == 0:
        return "-"
    return f"({abs(cents) // 100:,}.{abs(cents) % 100:02d})" if cents < 0 else f"{cents // 100:,}.{cents % 100:02d}"


def _fin_records(rng, state, keys):
    recs = []
    for t, y in keys:
        vals = []
        for th, en in ITEMS:
            r = rng.random()
            cents = None if r < 0.03 else 0 if r < 0.08 else rng.randint(-10**9, 10**11)
            vals.append(cents)
            label = th if rng.random() < 0.8 else th[:2] + "\u200b" + th[2:]
            recs.append({"tax_id": _spell_tax(rng, t), "fiscal_year": y, "item_th": label,
                         "amount": _money(rng, cents)})
        state[(t, y)] = vals
    rng.shuffle(recs)
    return {"records": recs}


def gen_sync(seed, root, companies=400, days=8, lookups_per_day=18, rate_per_s=3.0, event_files=4,
             events_per_file=750):
    rng = random.Random(seed * 104729 + 2)
    taxes = _tax_ids(rng, companies)
    fin, dirs, next_id = {}, {}, [1]

    def director_set(t, keep=()):
        out = [d for d in keep]
        for _ in range(1 + int(t[-2:]) % 5):
            out.append({"id": next_id[0], "tax_id": t,
                        "director_no": None if rng.random() < 0.15 else rng.randint(1, 20),
                        "name": thai_name(rng).replace("บริษัท ", "นาย ").replace(" จำกัด", "")})
            next_id[0] += 1
        return out

    write(os.path.join(root, "day00", "fin.json"), json.dumps(
        _fin_records(rng, fin, [(t, y) for t in taxes for y in YEARS]), ensure_ascii=False).encode())
    for t in taxes:
        dirs[t] = director_set(t)
    _write_dirs(os.path.join(root, "day00", "dirs.jsonl"), [d for t in taxes for d in dirs[t]])

    order = list(taxes)
    rng.shuffle(order)
    weights = [1.0 / (r + 1) ** 1.1 for r in range(len(order))]
    snapshots, schedule, events = [], [], []
    for day in range(1, days + 1):
        touched = rng.sample(taxes, 30)
        keys = [(t, rng.choice(YEARS + [2025])) for t in touched]
        keys = sorted(set(keys))
        write(os.path.join(root, f"day{day:02d}", "fin.json"),
              json.dumps(_fin_records(rng, fin, keys), ensure_ascii=False).encode())
        incoming = []
        for t in rng.sample(taxes, 15):
            kept = [d for d in dirs[t] if rng.random() < 0.6]
            dirs[t] = director_set(t, kept)
            incoming += dirs[t]
        _write_dirs(os.path.join(root, f"day{day:02d}", "dirs.jsonl"), incoming)
        events.append(gen_events(rng, os.path.join(root, f"day{day:02d}", "events"),
                                 (day - 1) * event_files, event_files,
                                 1 + sum(len(e) for e in events), events_per_file))
        snapshots.append(({k: list(v) for k, v in fin.items()},
                          {t: [dict(d) for d in ds] for t, ds in dirs.items()}))
        # the same mix every day (largest remainder), each kind spread
        # evenly over the burst: the seed picks keys, never the arrival
        # pattern, so seeds do not differ in how many heavy lookups queue
        quota = {k: w * lookups_per_day // 100 for k, w in LOOKUP_MIX}
        for k, _ in sorted(LOOKUP_MIX, key=lambda kw: -(kw[1] * lookups_per_day % 100)):
            if sum(quota.values()) < lookups_per_day:
                quota[k] += 1
        kinds = [k for _, k in sorted(((j + 0.5) / quota[k], k) for k, _ in LOOKUP_MIX
                                      for j in range(quota[k]))]
        burst = []
        for i, kind in enumerate(kinds):
            t = rng.choices(order, weights)[0]
            lo = rng.choice(YEARS)
            if kind == "range":     # always three stored years, so every range reads alike
                lo = min(lo, YEARS[-3])
            burst.append({"due_ms": round(i * 1000.0 / rate_per_s, 3), "kind": kind, "tax_id": t,
                          "year": lo, "to": lo + 2, "page": 1})
        schedule.append(burst)
    write(os.path.join(root, "schedule.tsv"), "".join(
        f"{d + 1}\t{l['due_ms']}\t{l['kind']}\t{l['tax_id']}\t{l['year']}\t{l['to']}\t{l['page']}\n"
        for d, burst in enumerate(schedule) for l in burst).encode())
    return {"snapshots": snapshots, "schedule": schedule, "events": events}


def _write_dirs(path, rows):
    write(path, "\n".join(json.dumps(r, ensure_ascii=False) for r in rows).encode())


# ----------------------------------------------------------- corpus_dedup --

def gen_dedup(seed, root, docs=4800, vocab=6000):
    rng = random.Random(seed * 1299709 + 3)
    words = sorted({"".join(rng.choice("abcdefghijklmnoprstuvwy") for _ in range(rng.randint(3, 9)))
                    for _ in range(vocab)})

    def text(n):
        return [rng.choice(words) for _ in range(n)]

    # The corpus's shape (which slots are families, their sizes, document
    # lengths, where exact copies sit) is fixed; the seed picks the words.
    rows, families, singletons, exact = [], [], [], []
    next_id, slot = 1, 0
    quality_pool = rng.sample(range(1, 10 * docs), docs + docs // 5)
    while next_id <= docs:
        slot += 1
        if slot % 4 == 0:                  # near-duplicate family
            base = text(80 + (37 * slot) % 61)
            members = []
            texts = {" ".join(base)}
            for j in range(2 + (slot // 4) % 3):
                toks = list(base)
                while j > 0 and " ".join(toks) in texts:   # one substituted word per
                    toks = list(base)                        # variant, never an exact copy
                    toks[rng.randrange(len(toks))] = rng.choice(words)
                texts.add(" ".join(toks))
                members.append((next_id, " ".join(toks), quality_pool[next_id]))
                next_id += 1
            rows += members
            best = max(members, key=lambda m: (m[2], -m[0]))[0]
            families.append({"ids": [m[0] for m in members], "keep": best})
        else:
            rows.append((next_id, " ".join(text(60 + (53 * slot) % 81)), quality_pool[next_id]))
            singletons.append(next_id)
            next_id += 1
        if slot % 20 == 7:                 # an exact duplicate (case/space noise)
            src = rows[-1]
            dup_text = "  " + src[1].upper().replace(" ", "   ", 3) + " "
            rows.append((next_id, dup_text, quality_pool[next_id]))
            exact.append({"id": next_id, "of": src[0]})
            next_id += 1
    rng.shuffle(rows)
    lines = [json.dumps({"id": i, "text": t, "quality": q}) for i, t, q in rows]
    data = "\n".join(lines).encode()
    write(os.path.join(root, "docs.jsonl"), data)
    return {"families": families, "singletons": singletons, "exact": exact}


# ------------------------------------------------------------- CDC events --

EVENT_TYPES = ["view", "view", "click", "purchase", "error"]


def gen_events(rng, root, first_slice, files, first_eid, events_per_file=3000, users=3000,
               slice_s=7200):
    """Time-ordered CDC event files: global slice k covers
    [k*slice, (k+1)*slice) of event time, so a watermark delay of an hour
    never marks a row late. Returns the events as tuples."""
    t0 = 1_735_689_600      # 2025-01-01T00:00:00Z
    eid, events = first_eid, []
    for k in range(first_slice, first_slice + files):
        lines = ["event_id,user_id,event_type,value,ts"]
        for _ in range(events_per_file):
            ts_us = (t0 + k * slice_s) * 1_000_000 + rng.randrange(slice_s * 1_000_000)
            u = rng.randint(1, users)
            et = rng.choice(EVENT_TYPES)
            v = rng.randint(0, 100_000) / 100
            lines.append(f"{eid},{u},{et},{v:.2f},{ts_us}")
            events.append((eid, u, et, v, ts_us))
            eid += 1
        write(os.path.join(root, f"slice_{k:03d}.csv"), "\n".join(lines).encode())
    return events


def gen_nightly(seed, root):
    return {"ingest": gen_ingest(seed, os.path.join(root, "ingest")),
            "dedup": gen_dedup(seed, os.path.join(root, "dedup"))}


def generate(workload, seed, out_dir, passes):
    """Inputs and model for `passes` timed passes (a sync pass is a day; the
    untimed first pass takes one more)."""
    if workload == "nightly_batch":
        return gen_nightly(seed, out_dir)
    return gen_sync(seed, out_dir, days=passes + 1)
