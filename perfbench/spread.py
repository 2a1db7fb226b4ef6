#!/usr/bin/env python3
"""Check the benchmark's run-to-run spread.

    python3 perfbench/spread.py --seeds 10 --seconds 10 [workload ...]

Runs each workload once per seed (1..N, untraced) and prints, for every
end-to-end metric, the median and the interquartile range as a share of
the median (statistics.quantiles, n=4), next to the metric's bound in
BENCHMARK.json. Run from the root of the checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("workloads", nargs="*",
                    default=[w["name"] for w in spec["workloads"]])
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for w in a.workloads:
        values = {}
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            out = subprocess.run(
                [sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(a.seconds), "--trace", "0"],
                cwd=ROOT, check=True, stdout=subprocess.PIPE, text=True).stdout
            result = json.loads(out.strip().splitlines()[-1])
            if not result["correct"]:
                print(f"{w} seed {seed}: incorrect ({result['failed']} failed)")
            for k, m in result["metrics"].items():
                values.setdefault(k, []).append(m["value"])
        print(f"{w}:")
        for k in sorted(values):
            v = values[k]
            med = statistics.median(v)
            q = statistics.quantiles(v, n=4) if len(v) > 1 else [med, med, med]
            spread = (q[2] - q[0]) / med if med else float("inf")
            print(f"  {k:18s} median {med:10.4f}  spread {spread:6.3f}"
                  f"  bound {bounds.get(k, float('nan')):.2f}"
                  f"  values {[round(x, 3) for x in v]}")


if __name__ == "__main__":
    main()
