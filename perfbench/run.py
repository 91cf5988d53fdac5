#!/usr/bin/env python3
"""User-journey benchmark for the graft library.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Run from the repository root. The first run compiles the library
(src/main/scala) and the benchmark application (perfbench/app) with the
Scala compiler that ships in Spark's jars, into .bench_build/ (or
$CARGO_TARGET_DIR when set). Each run generates its inputs from the seed,
runs one workload in one JVM, checks the outputs against the generator's
model and prints one JSON object as the last line of standard output:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import summary  # noqa: E402

WORKLOADS = ["nightly_batch", "sync_and_serve"]
# which library calls belong to which part of the nightly batch
DEDUP_OPS = ("operators.dedup.", "sources.sink.parquet")
HEAP = "1g"                 # the JVM heap every workload runs at
# Spark's task threads (local[CORES]) and the JVM's processor count. Half of
# a 4-vCPU shared box: the passes ran as fast as at local[4], and the spare
# cores keep the JIT, GC and the host's other tenants off the task threads.
CORES = 2
# a run times seconds / NOMINAL_PASS_S passes, the same count on a slow run
# as on a fast one. On the reference box (README) a nightly pass takes 8 to
# 11 s, and a sync day 7 to 9 s plus its 3 s lookup burst.
NOMINAL_PASS_S = {"nightly_batch": 9.0, "sync_and_serve": 10.0}
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the library build's
    own unmanagedBase."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        for line in open(sbt):
            if line.strip().startswith("unmanagedBase") and 'file("' in line:
                cands.append(line.split('file("', 1)[1].split('"', 1)[0])
    for c in cands:
        if os.path.isdir(c) and any(f.startswith("spark-core") for f in os.listdir(c)):
            return c
    fail("Spark jars not found (set SPARK_HOME)")


def java_bin():
    jh = os.environ.get("JAVA_HOME")
    return os.path.join(jh, "bin", "java") if jh else "java"


def build(root, build_dir):
    """Compile library + benchmark app once per source state."""
    lib = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(lib):
        fail(f"no library sources under {lib}: run from the repository root")
    srcs = sorted(os.path.join(d, f) for top in (lib, os.path.join(HERE, "app"))
                  for d, _, fs in os.walk(top) for f in fs if f.endswith(".scala"))
    jars_dir = spark_jars(root)
    jars = sorted(os.path.join(jars_dir, f) for f in os.listdir(jars_dir) if f.endswith(".jar"))
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(jars).encode())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(classes, ".stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return classes, jars
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        with open(os.path.join(build_dir, "sources.txt"), "w") as f:
            f.write("\n".join(srcs))
        cp = ":".join(jars)
        t = time.time()
        print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
        r = subprocess.run([java_bin(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                            "-nowarn", "-d", tmp, "-classpath", cp,
                            "@" + os.path.join(build_dir, "sources.txt")],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            print(r.stdout[-4000:], file=sys.stderr)
            fail("compilation failed")
        print(f"[perfbench] compiled in {time.time() - t:.1f}s", file=sys.stderr)
        with open(os.path.join(tmp, ".stamp"), "w") as f:
            f.write(stamp)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
    return classes, jars


def run_jvm(workload, inputs, work, passes, trace, classes, jars, deadline):
    result_path = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the heap is touched in full at start, so VmHWM does not depend on how
    # far G1 got through it in a given run
    cmd = [java_bin(), f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch", "-Xss4m",
           f"-XX:ActiveProcessorCount={CORES}",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + ":" + ":".join(jars), "perfbench.PerfBench", workload, inputs, work,
            str(passes), "1" if trace else "0", result_path]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        # SPARK_LOCAL_DIRS would override spark.local.dir: keep scratch in `work`
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None, log_path
    if p.returncode != 0 or not os.path.exists(result_path):
        return None, log_path
    with open(result_path) as f:
        return json.load(f), log_path


def e2e_metrics(workload, res, setup_s, out, model):
    """The end-to-end metrics every workload reports (README)."""
    timed = [p for p in res["passes"] if not p["traced"]]
    pass_s = statistics.median(p["s"] for p in timed)
    ex = res["exports"]
    lat = None
    if workload == "sync_and_serve":
        lookups = [lk for lk in res["extra"]["lookups"] if not lk["traced"]]
        lat = [lk["latency_ms"] for lk in lookups]
        by_kind = {}
        for lk in lookups:
            by_kind.setdefault(lk["kind"], []).append(lk["latency_ms"])
        out_bytes, rows = ex["table_bytes"], len(out["fin"])
    else:
        # a batch job's unit of waiting is one library call of the pass; the
        # calls of one name in one pass (six JSON sinks, two cleanses) add up
        per_pass = {}
        for o in res["ops"]:
            if not o["traced"]:
                key = (o["name"], o["pass"])
                per_pass[key] = per_pass.get(key, 0.0) + o["ms"]
        by_kind = {}
        for (name, _), ms in per_pass.items():
            by_kind.setdefault(name, []).append(ms)
        json_bytes, json_rows = summary.dir_bytes_rows(ex["ingest"]["out"])
        out_bytes = json_bytes + ex["dedup"]["out_bytes"]
        rows = json_rows + len(out["dedup"]["kept"])
    return {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (res["vm_hwm_kb"] / 1024.0, "MB"),
        "pass_s": (pass_s, "s"),
        # each kind's median over the run, then the geometric mean over the
        # kinds: a median over all calls jumps from one kind to the next
        # between runs, and a mean over single calls swings with the shortest
        "op_ms_gmean": (math.exp(statistics.fmean(math.log(statistics.median(v))
                                                  for v in by_kind.values())), "ms"),
        "out_bytes_per_row": (out_bytes / max(rows, 1), "B"),
    }, lat


def journey_metrics(workload, res, e2e, model, failed_share, lat):
    """The journey names of the same measurements, for people."""
    m = {"setup_s": e2e["setup_s"], "failed_op_share": (failed_share, "ratio"),
         "peak_rss_mb": e2e["peak_rss_mb"],
         "heap_after_gc_peak_mb": (res["heap_after_gc_peak_bytes"] / 2**20, "MB")}
    if workload == "nightly_batch":
        ops = [o for o in res["ops"] if not o["traced"]]
        passes = max(len([p for p in res["passes"] if not p["traced"]]), 1)
        dedup_s = sum(o["ms"] for o in ops if o["name"].startswith(DEDUP_OPS)) / 1000.0 / passes
        ingest_s = sum(o["ms"] for o in ops if not o["name"].startswith(DEDUP_OPS)) / 1000.0 / passes
        m["ingest_s"] = (ingest_s, "s")
        m["ingest_mb_per_s"] = (model["ingest"]["bytes"] / 1e6 / ingest_s, "MB/s")
        m["dedup_s"] = (dedup_s, "s")
    else:
        commits = [c["commit_s"] for c in res["extra"]["commits"] if not c["traced"] and not c["warmup"]]
        m["sync_delta_s_p50"] = (statistics.median(commits), "s")
        m["lookup_ms_p50"] = (summary.percentile(lat, 0.50), "ms")
        m["lookup_ms_p95"] = (summary.percentile(lat, 0.95), "ms")
        m["stored_bytes_per_row"] = e2e["out_bytes_per_row"]
        lags = [lk["lag_ms"] for lk in res["extra"]["lookups"] if not lk["traced"]]
        m["lookup_samples"] = (len(lat), "count")
        m["lookup_lag_ms_p95"] = (summary.percentile(lags, 0.95), "ms")
        drains = [d for d in res["extra"]["drains"] if not d["traced"] and not d["warmup"]]
        days = max(len({d["day"] for d in drains}), 1)
        m["stream_drain_s"] = (sum(d["drain_s"] for d in drains) / days, "s")
        batches = [t for d in drains for t in d["trigger_ms"][1:]]   # first batch excluded
        m["microbatch_ms_p50"] = (summary.percentile(batches, 0.50), "ms")
        m["microbatch_ms_p95"] = (summary.percentile(batches, 0.95), "ms")
        m["microbatch_samples"] = (len(batches), "count")
    return m


def run_one(root, workload, seed, seconds, trace, keep=False):
    t_start = time.time()
    deadline = t_start + JVM_TIMEOUT_S
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes, jars = build(root, build_dir)
    if time.time() - t_start > 60:          # a fresh build: give the run its own budget
        deadline = time.time() + JVM_TIMEOUT_S
    work = os.path.join(build_dir, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        # a traced run alternates untraced and traced passes, at least one each
        passes = max(2 if trace else 1, int(seconds / NOMINAL_PASS_S[workload]))
        # set-up, part 1: input generation, three times, median taken
        gen_times = []
        for k in range(3):
            d = os.path.join(work, f"in{k}")
            t = time.perf_counter()
            model = gen.generate(workload, seed, d, passes)
            gen_times.append(time.perf_counter() - t)
            if k < 2:
                shutil.rmtree(d)
        inputs = os.path.join(work, "in2")
        res, log_path = run_jvm(workload, inputs, work, passes, trace, classes, jars, deadline)
        if res is None:
            with open(log_path, errors="replace") as f:
                print(f.read()[-6000:], file=sys.stderr)
            fail(f"{workload}: the JVM failed or timed out", 1)
        # set-up, part 2: JVM start, session, preparation, first untimed pass
        setup_s = statistics.median(gen_times) + res["jvm_setup_s"]
        out = checks.LOADERS[workload](res["exports"])
        failures = checks.CHECKS[workload](model, out)
        attempted = len(res["ops"]) + (len(res["extra"]["lookups"]) if workload == "sync_and_serve" else 0)
        attempted = max(attempted, 1)
        failed = min(attempted, len(res["failures"]) + len(failures))
        for f in failures[:20] + res["failures"][:20]:
            print(f"[perfbench] check failed: {f}", file=sys.stderr)
        e2e, lat = e2e_metrics(workload, res, setup_s, out, model)
        info = journey_metrics(workload, res, e2e, model, failed / attempted, lat)
        for name, (v, unit) in info.items():
            print(f"{workload:15s} {name:24s} {v:14.4f} {unit}")
        print(f"{workload:15s} {'storage_memory_mb':24s} {res['storage_memory_bytes'] / 2**20:14.4f} MB"
              f"   (heap {res['heap_max_bytes'] / 2**20:.0f} MB, {res['cores']} cores)")
        if trace:
            metrics = summary.layer_metrics(workload, res, model, out)
            for line in summary.describe(workload, res):
                print(line)
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        return {"correct": not failures and not res["failures"], "attempted": attempted,
                "failed": failed, "metrics": metrics}
    finally:
        if not keep:
            shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    a = ap.parse_args()
    root = os.getcwd()
    if a.workload == "all":
        out = {w: run_one(root, w, a.seed, a.seconds, a.trace, a.keep) for w in WORKLOADS}
        res = {"correct": all(r["correct"] for r in out.values()),
               "attempted": sum(r["attempted"] for r in out.values()),
               "failed": sum(r["failed"] for r in out.values()),
               "metrics": {f"{w}.{k}": v for w, r in out.items() for k, v in r["metrics"].items()}}
    else:
        res = run_one(root, a.workload, a.seed, a.seconds, a.trace, a.keep)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
