#!/usr/bin/env python3
"""Run-to-run spread of the benchmark (run from the repository root):

  python3 perfbench/spread.py [--seeds 10] [--first-seed 1] [--trace] [workload ...]

Runs each workload once per seed and prints, for every end-to-end metric,
the median and the distance between the first and third quartiles
(statistics.quantiles(values, n=4)) as a share of the median, next to the
metric's bound from BENCHMARK.json. With --trace it also makes one traced
run per seed and prints the tracing overhead: median traced pass wall minus
median untraced pass_s.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def one(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True).stdout.strip().splitlines()
    res = json.loads(out[-1])
    if not res["correct"]:
        raise SystemExit(f"{workload} seed {seed}: {res['failed']} failed calls")
    return {k: v["value"] for k, v in res["metrics"].items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("workloads", nargs="*")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]
    for w in args.workloads or [x["name"] for x in bench["workloads"]]:
        seeds = range(args.first_seed, args.first_seed + args.seeds)
        runs = [one(w, s, seconds, 0) for s in seeds]
        print(f"{w}: {len(runs)} runs, seeds {seeds.start}..{seeds.stop - 1}")
        for name, bound in bounds.items():
            vals = [r[name] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            flag = "" if spread < bound / 3 else "  <-- over a third of the bound"
            print(f"  {name:14s} median {med:10.4f}  iqr/median {spread:.4f}  "
                  f"bound {bound}{flag}")
        if args.trace:
            traced = [one(w, s, seconds, 1) for s in seeds]
            overhead = (statistics.median(t["trace.pass_s"] for t in traced)
                        - statistics.median(r["pass_s"] for r in runs))
            print(f"  tracing overhead {overhead:+.3f} s on pass_s")
        print(json.dumps({"workload": w, "runs": runs}), file=sys.stderr)


if __name__ == "__main__":
    main()
