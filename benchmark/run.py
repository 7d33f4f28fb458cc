#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine.

Usage: python3 benchmark/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark's JVM side from source (once per source
state, into .bench_build/), runs one closed-loop client over one workload in
a fresh JVM, checks every result, and prints a report followed by one JSON
line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones. Exits non-zero when a check fails. See benchmark/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "graftbench")
WORKLOADS = ("q6_reference", "batch_mix", "stream_micro")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# Per-layer metrics that are peaks (reported as the max over operations);
# every other one is reported as the mean per operation.
PEAKS = {"Caches.stored_bytes_peak", "jvm.heap_peak_mb"}
STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
                 "latestOffset", "state_commit")


def fail(msg):
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(2)


def build():
    """Compiles program + benchmark unless the last build saw these sources."""
    sources = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True)
                     + glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
                     + [os.path.join(HERE, "build.sh")])
    h = hashlib.sha256()
    for p in sources:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = os.path.join(BUILD, "STAMP")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    t0 = time.time()
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), BUILD, spark_jars()],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    print(f"benchmark: built in {time.time() - t0:.1f} s", file=sys.stderr)


def host_sample():
    """1-min loadavg and cumulative CPU steal (jiffies) from /proc."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    steal = int(cpu[8]) if len(cpu) > 8 else 0
    return {"loadavg1": load1, "steal_jiffies": steal,
            "total_jiffies": sum(int(x) for x in cpu[1:])}


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark install on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    fail("no Spark install found: set SPARK_HOME")


def run_jvm(args, run_dir, sf_dir, cores):
    jars = spark_jars()
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx6g", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={run_dir}/tmp",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{BUILD}:{jars}/*", "graftbench.Main",
        args.workload, str(args.seed), str(args.seconds), str(args.trace),
        run_dir, sf_dir, str(time.time_ns()), str(cores)]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             cwd=run_dir, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        fail(f"JVM exited with {rc}; log tail:\n{tail}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


# ---- oracle comparison: the rules of scripts/compare.py ----

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def tclass(t):
    s = str(t)
    for k in ("decimal", "int", "uint", "float", "double", "bool", "date",
              "timestamp", "string", "large_string", "list"):
        if s.startswith(k):
            return {"uint": "int", "double": "float", "large_string": "string",
                    "date": "datetime", "timestamp": "datetime",
                    "decimal": s}.get(k, k)
    return s


def oracle_checks(checks, sf_dir):
    """Compares each written result with DuckDB's answer to the key's
    oracle SQL. Expected answers are cached per (fixture dir, SQL)."""
    todo = {k: c for k, c in checks.items() if c.get("kind") == "oracle"}
    if not todo:
        return
    import duckdb
    import pandas as pd
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    cache = os.path.join(ROOT, ".bench_build", "oracle")
    os.makedirs(cache, exist_ok=True)
    for key, c in todo.items():
        digest = hashlib.sha256((os.path.abspath(sf_dir) + "\n" + c["sql"]).encode()).hexdigest()
        cached = os.path.join(cache, f"{key}-{digest[:16]}.parquet")
        if not os.path.exists(cached):
            tbl = con.execute(c["sql"]).arrow()
            pq.write_table(tbl, cached + ".tmp")
            os.replace(cached + ".tmp", cached)
        duck = pq.read_table(cached)
        files = sorted(glob.glob(os.path.join(c["path"], "*.parquet")))
        spark = con.execute(f"SELECT * FROM read_parquet({files!r})").arrow()
        c["ok"], c["detail"] = compare(spark, duck, pd)
        del c["sql"]


def compare(spark_arrow, duck_arrow, pd):
    sk = {f.name: tclass(f.type) for f in spark_arrow.schema}
    dk = {f.name: tclass(f.type) for f in duck_arrow.schema}
    mism = [(c, sk[c], dk[c]) for c in sk if c in dk and sk[c] != dk[c]]
    if mism:
        return False, f"type-class mismatch {mism}"
    s = spark_arrow.to_pandas()
    d = duck_arrow.to_pandas()
    s = s[sorted(s.columns)].reset_index(drop=True)
    d = d[sorted(d.columns)].reset_index(drop=True)
    if list(s.columns) != list(d.columns):
        return False, f"columns {list(s.columns)} vs {list(d.columns)}"
    if len(s) != len(d):
        return False, f"rows {len(s)} vs {len(d)}"
    for c in s.columns:
        a, b = s[c], d[c]
        if sk.get(c) == "datetime":
            a, b = pd.to_datetime(a), pd.to_datetime(b)
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            eq = (a == b) | (a.isna() & b.isna())
        else:
            eq = (a.astype(str) == b.astype(str)) | (a.isna() & b.isna())
        if not eq.all():
            i = int(eq.idxmin())
            return False, f"col {c} row {i}: spark={a.iloc[i]!r} duck={b.iloc[i]!r}"
    return True, f"{len(s)} rows match"


# ---- metrics ----

def quantile_report(values):
    """Median and p90 (p90 only with at least 10 samples beyond it)."""
    v = sorted(values)
    n = len(v)
    p50 = statistics.median(v) if v else None
    p90 = statistics.quantiles(v, n=10)[8] if n >= 100 else None
    return p50, p90, n


def per_layer(ops, cores):
    traced = [o for o in ops if o["layers"]]
    if not traced:
        return {}
    names = traced[0]["layers"].keys()
    out = {}
    for k in names:
        vals = [o["layers"][k] for o in traced]
        out[k] = max(vals) if k in PEAKS else sum(vals) / len(vals)
    wall = sum(o["wall_s"] for o in traced)
    out["exec.busy_frac"] = sum(o["layers"]["exec.run_s"] for o in traced) / (cores * wall)
    # micro-batch time as a share of operation wall, and each phase as a
    # share of micro-batch time (0 where no micro-batch ran)
    trigger = sum(o["layers"]["streaming.trigger_ms"] for o in traced)
    out["streaming.trigger_share"] = trigger / 1e3 / wall
    for k in STREAM_PHASES:
        phase = sum(o["layers"][f"streaming.{k}_ms"] for o in traced)
        out[f"streaming.{k}_share"] = phase / trigger if trigger else 0.0
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":  # each workload in turn, each in its own run
        rcs = [subprocess.run([sys.executable, __file__, "--workload", w,
                               "--seed", str(args.seed), "--seconds", str(args.seconds),
                               "--trace", str(args.trace)]).returncode
               for w in WORKLOADS]
        sys.exit(max(rcs))

    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        fail(f"program sources not found under {ROOT}/src/main/scala")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sf_dir = os.environ.get("GRAFT_BENCH_SF_DIR",
                            os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
    if args.workload != "q6_reference" and not os.path.isdir(sf_dir):
        fail(f"fixture directory {sf_dir} not found (set GRAFT_BENCH_SF_DIR)")
    build()

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".bench_build", "runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    host_before = host_sample()
    res = run_jvm(args, run_dir, sf_dir, cores)
    host_after = host_sample()
    # the private tmpdir (ANN index artifacts, temporary files) and Spark's
    # local dir die with the run
    for d in ("tmp", "spark-local", "q6data"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)

    checks = res["checks"]
    oracle_checks(checks, sf_dir)
    shutil.rmtree(os.path.join(run_dir, "out"), ignore_errors=True)

    ops = res["ops"]
    bad_checks = sorted(k for k, c in checks.items() if not c.get("ok"))
    errors = [o for o in ops if o["error"]]
    attempted = len(ops)
    failed = len(errors) + sum(1 for k in bad_checks
                               if checks[k].get("kind") != "error")
    timed = [o for o in ops if o["phase"] == "timed" and not o["error"]]
    untraced = [o for o in timed if not o["traced"]]
    lat50, lat90, n_lat = quantile_report([o["wall_s"] for o in untraced])
    # Geometric mean over keys of each key's median latency (TPC-H's Power
    # aggregation): on a mix, the plain median is one key's latency and
    # jumps when keys near it swap places; on q6 the two are equal.
    by_key = {}
    for o in untraced:
        by_key.setdefault(o["key"], []).append(o["wall_s"])
    geo = (math.exp(statistics.mean(math.log(statistics.median(v)) for v in by_key.values()))
           if by_key else None)
    mbs = [m for o in untraced for m in o["microbatch_ms"]]
    mb50, mb90, n_mb = quantile_report(mbs)
    n_timed = len([o for o in ops if o["phase"] == "timed"])
    # a traced run interleaves traced operations: count untraced ones only
    window = (sum(o["wall_s"] + o["release_s"] for o in untraced) if args.trace
              else res["window_s"])
    e2e = {
        "setup_s": (res["setup_s"], "s", 1),
        "latency_p50_s": (lat50, "s", n_lat),
        "latency_p90_s": (lat90, "s", n_lat),
        "key_p50_geomean_s": (geo, "s", len(by_key)),
        "throughput_ops_per_s": (len(untraced) / window if window else None, "ops/s", len(untraced)),
        "failed_frac": (failed / attempted, "frac", attempted),
        "peak_rss_mb": (res["peak_rss_mb"], "MB", 1),
    }
    if args.workload == "stream_micro":
        e2e["microbatch_p50_ms"] = (mb50, "ms", n_mb)
        e2e["microbatch_p90_ms"] = (mb90, "ms", n_mb)
    layers = per_layer(ops, cores)
    if layers:
        lat_traced = statistics.median(o["wall_s"] for o in timed if o["traced"])
        layers["trace.overhead_frac"] = lat_traced / lat50 - 1 if lat50 else 0.0
        selfs = sum(v for k, v in layers.items() if k.startswith("self."))
        mean_wall = statistics.mean(o["wall_s"] for o in timed if o["traced"])

    report = {"workload": args.workload, "seed": args.seed, "cores": cores,
              "passes": res["passes"], "timed_ops": n_timed,
              "end_to_end": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in e2e.items()},
              "per_layer": layers, "checks": checks,
              "errors": [{"key": o["key"], "phase": o["phase"], "error": o["error"]} for o in errors],
              "census_unrun": res["census_unrun"], "census_keys": res["census_keys"],
              "host": {"before": host_before, "after": host_after,
                       "steal_frac": (host_after["steal_jiffies"] - host_before["steal_jiffies"])
                       / max(1, host_after["total_jiffies"] - host_before["total_jiffies"])},
              "excluded_s": {k: res[k] for k in ("input_s", "oracle_s", "check_s") if k in res}}
    with open(os.path.join(run_dir, "report.json"), "w") as f:
        json.dump(report, f, indent=1)

    print(f"workload {args.workload} seed {args.seed}: {n_timed} timed operations "
          f"in {res['passes']} passes, {cores} cores; report in {os.path.relpath(run_dir, ROOT)}")
    for k, (v, u, n) in e2e.items():
        shown = "n/a (fewer than 100 samples)" if v is None else f"{v:.6g} {u}"
        print(f"  {k:24s} {shown}  (n={n})")
    if layers:
        for k in sorted(layers):
            print(f"  {k:32s} {layers[k]:.6g}")
        print(f"  self times + other = {selfs:.6f} s; mean operation wall = {mean_wall:.6f} s")
    h = report["host"]
    print(f"  host loadavg1 {h['before']['loadavg1']} -> {h['after']['loadavg1']}, "
          f"steal {h['steal_frac']:.4f}")
    print(f"  census: {res['census_keys']} keys, {len(res['census_unrun'])} run by no workload")
    for k in bad_checks:
        print(f"  CHECK FAILED {k}: {checks[k].get('detail')}")
    for o in errors:
        print(f"  ERROR {o['phase']} {o['key']}: {o['error']}")

    correct = not bad_checks and not errors
    if args.trace:
        metrics = {m["name"]: {"value": layers.get(m["name"]), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
