#!/usr/bin/env python3
"""Smoke check of the benchmark harness at scale factor 0.001.

    python3 graftbench/smoke.py

Runs every workload of BENCHMARK.json once untraced and once traced,
for one second each, and asserts that the last stdout line names every
end-to-end (untraced) or per-layer (traced) metric with its unit, that
every value is a number, and that no operation failed or returned a
wrong result.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))


def main():
    bad = []
    for w in BENCH["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                 "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", "0.001"],
                capture_output=True, text=True, timeout=600)
            label = f"{w['name']} trace={trace}"
            if p.returncode != 0:
                bad.append(f"{label}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            want = {m["name"]: m["unit"] for m in BENCH[key]}
            got = {k: v.get("unit") for k, v in res["metrics"].items()}
            if got != want:
                bad.append(f"{label}: metrics {sorted(got.items())} != {sorted(want.items())}")
            if not all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()):
                bad.append(f"{label}: a value is not a number")
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                bad.append(f"{label}: correct={res['correct']} failed={res['failed']}/{res['attempted']}")
            print(f"{label}: {res['attempted']} operations, failed_frac "
                  f"{res['failed'] / max(res['attempted'], 1)}", flush=True)
    if bad:
        print("\n".join(bad), file=sys.stderr)
        sys.exit(1)
    print("smoke ok")


if __name__ == "__main__":
    main()
