#!/usr/bin/env python3
"""Traced-run report: per-layer self time per workload, and the tracing overhead.

    python3 perfbench/report.py [--seed N] [--seconds S] [WORKLOAD ...]

For each workload it runs the benchmark twice with the same seed, untraced
(`--trace 0`) and traced (`--trace 1`), then prints:

- the traced run's per-layer self time (a span's time minus the time of the
  spans it encloses) and the Spark jobs started in each layer;
- the per-layer metrics of the traced run;
- the tracing overhead: traced vs untraced ops_per_s.

Run from the root of the repository.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("queries", "pipeline_deliveries")


def bench(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("workloads", nargs="*", default=list(WORKLOADS))
    a = ap.parse_args()
    for w in a.workloads:
        plain = bench(w, a.seed, a.seconds, 0)
        traced = bench(w, a.seed, a.seconds, 1)
        with open(os.path.join(".bench_build", "traces", f"{w}-seed{a.seed}.json")) as f:
            trace = json.load(f)
        jobs = {}
        for s in trace["spans"]:
            jobs[s["layer"]] = jobs.get(s["layer"], 0) + s["jobs"]
        print(f"\n== {w} (seed {a.seed}; correct: untraced {plain['correct']}, traced {traced['correct']})")
        print(f"{'layer':<14}{'self_s':>10}{'jobs':>8}")
        for layer, secs in sorted(trace["self_s"].items(), key=lambda kv: -kv[1]):
            print(f"{layer:<14}{secs:>10.3f}{jobs.get(layer, 0):>8}")
        print("per-layer metrics (per lap):")
        for k, v in traced["metrics"].items():
            print(f"  {k:<30}{v['value']:>16.4f} {v['unit']}")
        base = plain["metrics"]["ops_per_s"]["value"]
        with_trace = traced["metrics"]["trace.ops_per_s"]["value"]
        print(f"tracing overhead: ops_per_s untraced {base:.4f}, traced {with_trace:.4f} "
              f"(traced/untraced = {with_trace / base:.3f})")


if __name__ == "__main__":
    main()
