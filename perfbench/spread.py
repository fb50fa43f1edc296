#!/usr/bin/env python3
"""Runs one workload with several seeds and prints, for each metric, its
median and its quartile spread ((Q3 - Q1) / median), the figure the bounds in
BENCHMARK.json are checked against.

Usage (from the repository root):
  python3 perfbench/spread.py WORKLOAD [--runs 10] [--first-seed 1] [--trace 0]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    values = {}
    for seed in range(a.first_seed, a.first_seed + a.runs):
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(a.trace)],
            cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
        out = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={out['correct']} attempted={out['attempted']} "
              f"failed={out['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()), flush=True)
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:28s} median {med:12.5g}  IQR/median {spread:.4f}")


if __name__ == "__main__":
    main()
