#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Usage: python3 benchmark/spread.py [--runs 10] [--first-seed 100]
                                   [--workloads a,b] [--out results.json]

Runs benchmark/run.py once per seed on each workload (untraced, with
BENCHMARK.json's run_seconds) and prints, per metric, the median and the
distance between the first and third quartile as a share of the median,
next to the metric's bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default="")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in spec["workloads"]])
    results = {}
    for w in workloads:
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                 "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            try:
                line = json.loads(last)
            except json.JSONDecodeError:
                line = {}
            if p.returncode != 0 or not line.get("correct"):
                print(f"{w} seed {seed}: FAILED rc={p.returncode}\n{p.stderr[-2000:]}")
                continue
            runs.append({k: v["value"] for k, v in line["metrics"].items()})
        results[w] = runs
        print(f"{w}: {len(runs)} runs")
        for m in spec["end_to_end"]:
            vals = [r[m["name"]] for r in runs]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            print(f"  {m['name']:24s} median {med:10.5g} {m['unit']:6s} "
                  f"spread {(q3 - q1) / med:7.4f} (bound {m['bound']})")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1)


if __name__ == "__main__":
    main()
