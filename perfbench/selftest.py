#!/usr/bin/env python3
"""Self-test of the benchmark: a tiny run (3 keys at sf0.001) must print every
metric named in BENCHMARK.json with its unit, a corrupted expected digest must
show as failed, and a directory holding only the benchmark must be refused.

Usage (from the repository root): python3 perfbench/selftest.py
Takes about two minutes; exits non-zero on the first broken expectation.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".bench_runs", "selftest")
KEYS = ["q_scan_count", "q_filter_pred", "q_join_inner"]


def run(extra, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", "selftest", "--seed", "1", "--seconds", "1",
           "--sf", "sf0.001", "--keys", ",".join(KEYS)] + extra
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if p.returncode == 0 else None


def expect(cond, what):
    print(("ok    " if cond else "FAIL  ") + what)
    if not cond:
        sys.exit(1)


def check_metrics(out, declared, what):
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    want = {m["name"]: m["unit"] for m in declared}
    expect(got == want, f"{what}: metrics and units match BENCHMARK.json")
    expect(all(isinstance(v["value"], (int, float)) for v in out["metrics"].values()),
           f"{what}: every value is a number")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH)

    for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
        rc, out = run(["--trace", str(trace)])
        expect(rc == 0, f"trace {trace}: exit code 0")
        expect(set(out) == {"correct", "attempted", "failed", "metrics"},
               f"trace {trace}: result has exactly the contract keys")
        expect(out["correct"] and out["failed"] == 0 and out["attempted"] >= len(KEYS),
               f"trace {trace}: all {out['attempted']} executions correct")
        check_metrics(out, declared, f"trace {trace}")
        if trace:
            expect(out["metrics"]["failed_frac"]["value"] == 0, "trace 1: failed_frac is 0")

    with open(os.path.join(HERE, "expected", "sf0.001.json")) as f:
        expected = json.load(f)
    expected[KEYS[1]]["digest"] = "0" * 32
    bad = os.path.join(SCRATCH, "corrupt.json")
    with open(bad, "w") as f:
        json.dump(expected, f)
    rc, out = run(["--trace", "1", "--expected", bad])
    expect(rc == 0 and not out["correct"] and out["failed"] > 0,
           "corrupted digest: run reports failures")
    expect(out["metrics"]["failed_frac"]["value"] > 0,
           f"corrupted digest: failed_frac = {out['metrics']['failed_frac']['value']:.3f}")

    bare = os.path.join(SCRATCH, "bare")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, out = run(["--trace", "0"], cwd=bare)
    expect(rc != 0 and out is None, f"benchmark alone: refused with exit code {rc}")
    shutil.rmtree(SCRATCH, ignore_errors=True)


if __name__ == "__main__":
    main()
