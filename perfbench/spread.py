#!/usr/bin/env python3
"""Run one workload over several seeds and print, per metric, the median,
the quartiles (statistics.quantiles, n=4) and the quartile spread as a
share of the median -- the steadiness check for the end-to-end bounds.

    python3 perfbench/spread.py --workload sql_adhoc --seeds 1-10 [--trace 0]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    values, runs = {}, []
    for seed in range(lo, hi + 1):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
             "--trace", str(args.trace)],
            capture_output=True, text=True, check=True).stdout
        res = json.loads(out.strip().splitlines()[-1])
        runs.append({"seed": seed, "correct": res["correct"], "failed": res["failed"]})
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(json.dumps({"seed": seed, **{k: round(v["value"], 4)
                                            for k, v in res["metrics"].items()}}),
              file=sys.stderr, flush=True)
    summary = {}
    for k, vs in values.items():
        q1, q2, q3 = statistics.quantiles(vs, n=4)
        med = statistics.median(vs)
        summary[k] = {"median": med, "q1": q1, "q3": q3, "n": len(vs),
                      "spread": (q3 - q1) / med if med else None}
    print(json.dumps({"workload": args.workload, "runs": runs, "metrics": summary},
                     indent=1))


if __name__ == "__main__":
    main()
