#!/usr/bin/env python3
"""Per-layer profile of each workload, with the tracing overhead.

    python3 graftbench/profile.py

For each workload of BENCHMARK.json, runs the benchmark three times
untraced and three times traced (seeds 1..3, alternating, run_seconds
each) and writes
graftbench/profiles/<workload>.json: the median of every metric, the
tracing overhead (median traced pass wall minus median untraced pass
wall), the derived shares — DataFrame construction as a share of pass
wall, and executor busy share — and every run's result and provenance.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
RUNS = 3
SECONDS = BENCH["run_seconds"]


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True, check=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["provenance"], json.loads(lines[-1])


def main():
    os.makedirs(os.path.join(HERE, "profiles"), exist_ok=True)
    for w in (w["name"] for w in BENCH["workloads"]):
        runs = {0: [], 1: []}
        for seed in range(1, RUNS + 1):
            for trace in (0, 1):
                runs[trace].append(run(w, seed, SECONDS, trace))
        m0, m1 = (median_metrics([r for _, r in runs[t]]) for t in (0, 1))
        wall0, wall1 = m0["wall_s"]["value"], m1["trace.wall_s"]["value"]
        out = {
            "workload": w, "runs_per_mode": RUNS, "seconds": SECONDS,
            "tracing_overhead_s": wall1 - wall0,
            "tracing_overhead_frac": (wall1 - wall0) / wall0,
            "construction_share": m1["operators.construct_s"]["value"] / wall1,
            "executor_busy_share": m1["exec.busy_frac"]["value"],
            "untraced_median": m0, "traced_median": m1,
            "runs": {"untraced": runs[0], "traced": runs[1]},
        }
        with open(os.path.join(HERE, "profiles", f"{w}.json"), "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")
        print(f"{w}: wall {wall0:.3f} s untraced, {wall1:.3f} s traced "
              f"(overhead {out['tracing_overhead_frac']:+.1%}), construction "
              f"{out['construction_share']:.1%}, executors busy "
              f"{out['executor_busy_share']:.1%}", flush=True)


def median_metrics(results):
    return {k: {"value": statistics.median(r["metrics"][k]["value"] for r in results),
                "unit": m["unit"]} for k, m in results[0]["metrics"].items()}


if __name__ == "__main__":
    main()
