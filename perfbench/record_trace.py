#!/usr/bin/env python3
"""Record the committed traced run of each workload.

    python3 perfbench/record_trace.py [--seed N] [--seconds S] [workload ...]

For each workload, runs the benchmark untraced and then traced with the
same seed, and writes perfbench/traces/<workload>.json: the traced
record (every span with its Spark jobs, the per-layer table, session
config and versions) plus the untraced end-to-end metrics and the
tracing overhead, traced minus untraced, for each end-to-end metric.
Run from the root of the checkout.
"""
import argparse
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(workload, seed, seconds, trace):
    subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                    "--workload", workload, "--seed", str(seed),
                    "--seconds", str(seconds), "--trace", str(trace)],
                   cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    path = os.path.join(ROOT, ".bench_build", "records",
                        f"{workload}-seed{seed}-trace{trace}.json")
    with open(path) as fh:
        return json.load(fh)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("workloads", nargs="*",
                    default=[w["name"] for w in spec["workloads"]])
    a = ap.parse_args()
    os.makedirs(os.path.join(BENCH, "traces"), exist_ok=True)
    for w in a.workloads:
        plain = run(w, a.seed, a.seconds, 0)
        traced = run(w, a.seed, a.seconds, 1)
        overhead = {}
        for k, m in plain["end_to_end"].items():
            t = traced["end_to_end"][k]["value"]
            overhead[k] = {"traced": t, "untraced": m["value"],
                           "delta": t - m["value"], "unit": m["unit"],
                           "relative": (t - m["value"]) / m["value"]}
        traced["untraced_end_to_end"] = plain["end_to_end"]
        traced["tracing_overhead"] = overhead
        out = os.path.join(BENCH, "traces", f"{w}.json")
        with open(out, "w") as fh:
            json.dump(traced, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"{w}: wrote {os.path.relpath(out, ROOT)}")


if __name__ == "__main__":
    main()
