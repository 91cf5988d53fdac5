"""Per-layer summary of a traced run.

Turns the raw trace the JVM wrote (spans, Spark jobs/stages/tasks,
query planning phases, streaming progress, block-manager storage) into
the `<layer>.<span>.<field>` metrics listed in BENCHMARK.json.

Self time: at every instant of a traced pass, the wall time is shared
equally by the innermost open spans (for sequential calls that is the
classic "duration minus the children"; for concurrent lookups it splits
the overlap instead of counting it twice). Time when only the pass's
root span is open is unattributed and is reported as such, so the self
times of all layer spans plus the unattributed time equal the pass's
wall time exactly. All values are per traced pass.
"""
import glob
import os
import statistics

import checks

LOOKUP_KINDS = ["point", "range", "response", "page"]
DEDUP_STEPS = ["exact", "minhash_pairs", "components", "keep_best"]
STREAM_PHASES = {"latest_offset": "latestOffset", "get_batch": "getBatch",
                 "query_planning": "queryPlanning", "add_batch": "addBatch",
                 "wal_commit": "walCommit"}
WORKLOADS = ["nightly_batch", "sync_and_serve"]


def metric_names():
    """Every per-layer metric, in BENCHMARK.json order, with its unit."""
    m = []
    for r in ["excel", "pdf", "csv"]:
        m += [(f"sources.{r}.self_s", "s"), (f"sources.{r}.max_task_s", "s")]
    m += [("sources.read.files", "count"), ("sources.read.bytes", "B"),
          ("sources.read.rejects", "count"), ("sources.read.gc_s", "s")]
    m += [("functions.cleanse.self_s", "s"), ("functions.cleanse.rows", "count"),
          ("functions.cleanse.parsed_ratio", "ratio")]
    for p in ["po", "invoice", "dbd"]:
        m += [(f"pipelines.{p}.self_s", "s"), (f"pipelines.{p}.rows_out", "count"),
              (f"pipelines.{p}.rows_rejected", "count")]
    m += [(f"sources.sink.{k}.self_s", "s") for k in ["json", "staged", "parquet"]]
    m += [("sources.sink.files_written", "count"), ("sources.sink.bytes_written", "B")]
    m += [("operators.merge.self_s", "s"), ("operators.merge.shuffle_bytes", "B"),
          ("operators.merge.rows_touched", "count")]
    m += [(f"operators.company_queries.{k}.ms_p50", "ms") for k in LOOKUP_KINDS]
    m += [("operators.company_queries.plan_ms", "ms"),
          ("operators.company_queries.files_read_per_lookup", "count"),
          ("operators.company_queries.bytes_read_per_row_returned", "B")]
    for s in DEDUP_STEPS:
        m += [(f"operators.dedup.{s}.self_s", "s"), (f"operators.dedup.{s}.shuffle_bytes", "B"),
              (f"operators.dedup.{s}.spill_bytes", "B"), (f"operators.dedup.{s}.max_task_s", "s")]
    m += [("operators.dedup.verified_pairs", "count"), ("operators.dedup.pair_precision", "ratio"),
          ("operators.dedup.components_jobs", "count")]
    m += [("core.storage.peak_bytes", "B"), ("core.storage.dropped_blocks", "count")]
    for q in ["cdc", "tumbling"]:
        m += [(f"streaming.{q}.self_s", "s"), (f"streaming.{q}.batches", "count"),
              (f"streaming.{q}.lifecycle_s", "s"), (f"streaming.{q}.trigger_ms_p50", "ms")]
        m += [(f"streaming.{q}.{k}_ms_p50", "ms") for k in STREAM_PHASES]
    m += [("streaming.tumbling.state_rows_max", "count"), ("streaming.tumbling.state_bytes_max", "B")]
    for w in WORKLOADS:
        m += [(f"engine.{w}.jobs", "count"), (f"engine.{w}.tasks", "count"),
              (f"engine.{w}.plan_ms", "ms"), (f"engine.{w}.sched_wait_s", "s"),
              (f"engine.{w}.gc_s", "s"), (f"engine.{w}.heap_after_gc_peak_mb", "MB")]
    m += [("bench.wall_s", "s"), ("bench.unattributed_s", "s"),
          ("bench.lookup_lag_ms_p95", "ms"), ("bench.trace_overhead_ratio", "ratio")]
    return m


def dir_bytes_rows(path):
    """Bytes and JSON rows of the part files under every output dir."""
    size = rows = 0
    for f in glob.glob(os.path.join(path, "*", "part-*")):
        size += os.path.getsize(f)
        with open(f, "rb") as fh:
            rows += sum(1 for line in fh if line.strip())
    return size, rows


def self_times(spans):
    """span id -> attributed self time (ms), by a sweep over span edges."""
    by_id = {s["id"]: s for s in spans}
    edges = sorted({t for s in spans for t in (s["start_ms"], s["end_ms"])})
    out = {s["id"]: 0.0 for s in spans}
    for a, b in zip(edges, edges[1:]):
        active = [s for s in spans if s["start_ms"] <= a and s["end_ms"] >= b]
        if not active:
            continue
        parents = {s["parent"] for s in active}
        leaves = [s for s in active if s["id"] not in parents]
        for s in leaves:
            out[s["id"]] += (b - a) / len(leaves)
    assert all(i in by_id for i in out)
    return out


def _p50(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(workload, res, model, out):
    t = res["trace"]
    spans = [s for s in t["spans"] if s["end_ms"] > 0]
    roots = [s for s in spans if s["parent"] == 0]
    n = max(len(roots), 1)
    own = self_times(spans)
    name = {s["id"]: s["name"] for s in spans}
    stages = t["stages"]
    m = {k: 0.0 for k, _ in metric_names()}

    def self_of(prefix):
        return sum(own[s["id"]] for s in spans if s["name"] == prefix) / 1000.0 / n

    def stages_of(prefix, exact=True):
        return [st for st in stages if st["span"] in name and
                (name[st["span"]] == prefix if exact else name[st["span"]].startswith(prefix))]

    def counts(prefix, key):
        return sum(s["counts"].get(key, 0.0) for s in spans if s["name"] == prefix) / n

    def max_task(sts):
        return max((st["max_task_ms"] for st in sts), default=0.0) / 1000.0

    # sources
    for r in ["excel", "pdf"]:
        m[f"sources.{r}.self_s"] = self_of(f"sources.{r}")
        m[f"sources.{r}.max_task_s"] = max_task(stages_of(f"sources.{r}"))
    csv = [st for st in stages_of("pipelines.po") if "binaryFiles" in st["call_sites"]]
    m["sources.csv.self_s"] = sum(st["done_ms"] - st["submit_ms"] for st in csv) / 1000.0 / n
    m["sources.csv.max_task_s"] = max_task(csv)
    # bytes the binary-file scans read per pass (a file scanned twice counts
    # twice); files and rejects are counted at the corpus and reject outputs
    readers = [st for st in stages if "binaryFiles" in st["call_sites"]]
    m["sources.read.bytes"] = sum(st["in_bytes"] for st in readers) / n
    if workload == "nightly_batch":
        m["sources.read.files"] = float(model["ingest"]["files"])
        m["sources.read.rejects"] = float(len(out["ingest"]["rejects"]))
    m["sources.read.gc_s"] = sum(st["gc_ms"] for st in stages_of("sources.", exact=False)
                                 if not name[st["span"]].startswith("sources.sink")) / 1000.0 / n
    # functions
    m["functions.cleanse.self_s"] = self_of("functions.cleanse")
    m["functions.cleanse.rows"] = counts("functions.cleanse", "rows")
    inputs = counts("functions.cleanse", "inputs")
    m["functions.cleanse.parsed_ratio"] = counts("functions.cleanse", "parsed") / inputs if inputs else 0.0
    # pipelines
    for p in ["po", "invoice", "dbd"]:
        m[f"pipelines.{p}.self_s"] = self_of(f"pipelines.{p}")
        m[f"pipelines.{p}.rows_out"] = counts(f"pipelines.{p}", "rows")
        m[f"pipelines.{p}.rows_rejected"] = counts(f"pipelines.{p}", "rejected")
    # sinks
    sink_stages = stages_of("sources.sink", exact=False)
    for k in ["json", "staged", "parquet"]:
        m[f"sources.sink.{k}.self_s"] = self_of(f"sources.sink.{k}")
    m["sources.sink.files_written"] = sum(st["tasks"] for st in sink_stages if st["out_bytes"] > 0) / n
    m["sources.sink.bytes_written"] = sum(st["out_bytes"] for st in sink_stages) / n
    # operators
    m["operators.merge.self_s"] = self_of("operators.merge")
    m["operators.merge.shuffle_bytes"] = sum(st["shuffle_write"] for st in stages_of("operators.merge")) / n
    m["operators.merge.rows_touched"] = counts("operators.merge", "rows") + counts("operators.merge", "deleted")
    lookups = [s for s in spans if s["name"].startswith("operators.company_queries.")]
    for k in LOOKUP_KINDS:
        m[f"operators.company_queries.{k}.ms_p50"] = _p50(
            [s["end_ms"] - s["start_ms"] for s in lookups if s["name"].endswith("." + k)])
    if lookups:
        ids = {s["id"] for s in lookups}
        q_in = [q for q in t["queries"] if any(
            s["start_ms"] <= q["start_ms"] <= s["end_ms"] for s in lookups)]
        m["operators.company_queries.plan_ms"] = sum(q["plan_ms"] for q in q_in) / len(lookups)
        m["operators.company_queries.files_read_per_lookup"] = sum(q["files"] for q in q_in) / len(lookups)
        rows = sum(s["counts"].get("rows", 0.0) for s in lookups)
        read = sum(st["in_bytes"] for st in stages if st["span"] in ids)
        m["operators.company_queries.bytes_read_per_row_returned"] = read / rows if rows else 0.0
    for s in DEDUP_STEPS:
        sts = stages_of(f"operators.dedup.{s}")
        m[f"operators.dedup.{s}.self_s"] = self_of(f"operators.dedup.{s}")
        m[f"operators.dedup.{s}.shuffle_bytes"] = sum(st["shuffle_write"] for st in sts) / n
        m[f"operators.dedup.{s}.spill_bytes"] = sum(st["disk_spill"] for st in sts) / n
        m[f"operators.dedup.{s}.max_task_s"] = max_task(sts)
    m["operators.dedup.verified_pairs"] = counts("operators.dedup.minhash_pairs", "verified_pairs")
    if workload == "nightly_batch":
        m["operators.dedup.pair_precision"] = checks.pair_precision(model["dedup"], out["dedup"]["pairs"])
    comp_ids = {s["id"] for s in spans if s["name"] == "operators.dedup.components"}
    m["operators.dedup.components_jobs"] = sum(1 for j in t["jobs"] if j["span"] in comp_ids) / n
    # core
    m["core.storage.peak_bytes"] = float(t["storage"]["peak_bytes"])
    m["core.storage.dropped_blocks"] = float(t["storage"]["dropped_blocks"])
    # streaming
    traced_drains = [d for d in res["extra"].get("drains", []) if d["traced"] and not d["warmup"]]
    for q in ["cdc", "tumbling"]:
        ds = [d for d in traced_drains if d["query"] == q]
        if not ds:
            continue
        runs = {d["run"] for d in ds}
        ps = [p for p in t["progress"] if p["run"] in runs]
        m[f"streaming.{q}.self_s"] = self_of(f"streaming.{q}")
        m[f"streaming.{q}.trigger_ms_p50"] = _p50([x for d in ds for x in d["trigger_ms"]])
        m[f"streaming.{q}.batches"] = sum(d["batches"] for d in ds) / len(ds)
        m[f"streaming.{q}.lifecycle_s"] = sum(
            d["drain_s"] - sum(d["trigger_ms"]) / 1000.0 for d in ds) / len(ds)
        for k, key in STREAM_PHASES.items():
            m[f"streaming.{q}.{k}_ms_p50"] = _p50([p["durations"][key] for p in ps if key in p["durations"]])
        if q == "tumbling":
            m["streaming.tumbling.state_rows_max"] = float(max((p["state_rows"] for p in ps), default=0))
            m["streaming.tumbling.state_bytes_max"] = float(max((p["state_bytes"] for p in ps), default=0))
    # engine: everything the traced passes ran
    m[f"engine.{workload}.jobs"] = len([j for j in t["jobs"] if j["span"]]) / n
    m[f"engine.{workload}.tasks"] = sum(st["tasks"] for st in stages if st["span"]) / n
    m[f"engine.{workload}.plan_ms"] = sum(q["plan_ms"] for q in t["queries"]) / n
    m[f"engine.{workload}.sched_wait_s"] = sum(st["wait_ms"] for st in stages if st["span"]) / 1000.0 / n
    m[f"engine.{workload}.gc_s"] = sum(st["gc_ms"] for st in stages if st["span"]) / 1000.0 / n
    m[f"engine.{workload}.heap_after_gc_peak_mb"] = res["heap_after_gc_peak_bytes"] / 2**20
    # the benchmark's own health
    m["bench.wall_s"] = sum(r["end_ms"] - r["start_ms"] for r in roots) / 1000.0 / n
    m["bench.unattributed_s"] = sum(own[r["id"]] for r in roots) / 1000.0 / n
    if workload == "sync_and_serve":
        lags = [lk["lag_ms"] for lk in res["extra"]["lookups"]]
        m["bench.lookup_lag_ms_p95"] = percentile(lags, 0.95)
    walls = {tr: [p["wall_s"] for p in res["passes"] if p["traced"] is tr] for tr in (True, False)}
    if walls[True] and walls[False]:
        m["bench.trace_overhead_ratio"] = _p50(walls[True]) / _p50(walls[False])
    units = dict(metric_names())
    return {k: {"value": v, "unit": units[k]} for k, v in m.items()}


def percentile(xs, q):
    """Linear interpolation between closest ranks (numpy's default); 0 for
    no samples."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def describe(workload, res):
    """Human-readable lines: per span name, self time per pass, and the
    self-time identity (layer self times + unattributed = wall)."""
    t = res["trace"]
    spans = [s for s in t["spans"] if s["end_ms"] > 0]
    roots = [s for s in spans if s["parent"] == 0]
    n = max(len(roots), 1)
    own = self_times(spans)
    by = {}
    for s in spans:
        if s["parent"]:
            by[s["name"]] = by.get(s["name"], 0.0) + own[s["id"]]
    wall = sum(r["end_ms"] - r["start_ms"] for r in roots)
    unattr = sum(own[r["id"]] for r in roots)
    lines = [f"{workload:15s} trace: {len(roots)} traced passes, per pass:"]
    for k, v in sorted(by.items(), key=lambda kv: -kv[1]):
        lines.append(f"{workload:15s}   {k:44s} self {v / n / 1000:9.4f} s")
    lines.append(f"{workload:15s}   {'(unattributed)':44s} self {unattr / n / 1000:9.4f} s")
    lines.append(f"{workload:15s}   layers + unattributed = {(sum(by.values()) + unattr) / n / 1000:.4f} s;"
                 f" wall = {wall / n / 1000:.4f} s")
    return lines
