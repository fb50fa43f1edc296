#!/usr/bin/env python3
"""Repository benchmark: closed-loop runs of `graft.SparkEntry.queries` keys.

Usage (from the repository root):
  python3 perfbench/run.py --workload floor|curation --seed N \
      --seconds S --trace 0|1

Builds the program and the runner (perfbench/build.py), starts one JVM on
local[<cores>], runs two untimed warm passes, then about S seconds of timed
passes, each in a new SparkSession. Every collected result is checked
against perfbench/expected/<sf>.json. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. See perfbench/README.md.

Dev options: --keys k1,k2 and --sf sf0.001 replace the workload's key list
and scale; --expected FILE checks against another digest file; --record FILE
writes the digests seen instead of checking them.
"""
import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

RUNS = os.path.join(ROOT, ".bench_runs")
JVM_TIMEOUT_S = 170

# One key from each of 12 cost strata of floor's pool at sf0.001. The pool:
# all 521 keys, timed in two one-pass runs (forward and reverse key order,
# fresh session, 4 cores), less the 30 keys of the BENCH_r16.json list, the
# 23 memo-sharing keys and the keys whose cost moved by a factor outside
# 0.7-1.8 with key order (shared derivations); then the 5th to 80th cost
# percentile, 341 keys, split into 12 equal strata by mean wall time. The
# sample is one fixed draw and the seed only shuffles its order: samples
# drawn per seed read up to a third apart, because a key's cost in a 12-key
# JVM differs from its cost in the all-key runs the strata came from.
FLOOR_KEYS = [
    "q_unpivot", "q_distinct", "q_time_weighted_avg", "q_intersect",
    "q_moving_extrema", "q_grouping_id", "q_scan_sorted", "q_text_stats",
    "q_period_end_balance", "q_peak_hour", "q_minmax_scale", "q_dup_ratio",
]

# Families that share memo-pinned derivations, in the order they run: the
# first key of a family pays the derivation, the next reuses it in the pass.
CURATION_FAMILIES = [
    ("dedup-cluster", ["q_dedup_clusters", "q_component_profile"]),
    ("sketch", ["q_lsh_recall", "q_minhash_accuracy"]),
]


def floor_keys(seed):
    keys = list(FLOOR_KEYS)
    random.Random(seed).shuffle(keys)
    return keys


def curation_keys(_seed):
    return [k for _, ks in CURATION_FAMILIES for k in ks]


# name -> (scale, key picker, typical timed-pass seconds on 4 cores). A run
# makes round(--seconds / typical) passes, so the pass count, and with it
# the medians and the retained heap, does not depend on how fast the box
# happened to be.
WORKLOADS = {
    "floor": ("sf0.001", floor_keys, 5.5),
    "curation": ("sf0.01", curation_keys, 7.5),
}

# (name, unit, per-query field summed over a traced pass)
PER_QUERY_SUMS = [
    ("ops.construct_s", "s", "construct_s"),
    ("ops.construct_jobs", "count", "construct_jobs"),
    ("plan.s", "s", "plan_s"),
    ("plan.lines", "lines", "plan_lines"),
    ("plan.exchanges", "count", "plan_exchanges"),
    ("exec.action_s", "s", "action_s"),
    ("exec.jobs", "count", "jobs"),
    ("exec.stages", "count", "stages"),
    ("exec.tasks", "count", "tasks"),
    ("exec.single_task_stages", "count", "single_task_stages"),
    ("exec.task_run_s", "s", "task_run_s"),
    ("exec.task_gc_s", "s", "task_gc_s"),
    ("exec.idle_s", "s", "idle_s"),
    ("exec.shuffle_write_bytes", "bytes", "shuffle_write_bytes"),
    ("exec.shuffle_read_bytes", "bytes", "shuffle_read_bytes"),
    ("exec.spill_bytes", "bytes", "spill_bytes"),
    ("sources.input_bytes", "bytes", "input_bytes"),
    ("sources.output_bytes", "bytes", "output_bytes"),
]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(classpath, rundir, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # -XX:-UsePerfData: no hsperfdata file outside the run's directories.
    cmd += ["-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={rundir}/tmp",
            f"-Dspark.local.dir={rundir}/local",
            f"-Dspark.sql.warehouse.dir={rundir}/work/spark-warehouse",
            # user.timezone: collected Timestamps and Dates print, and so
            # digest, the same on every box.
            "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join(classpath), "perfbench.Runner"] + args
    return cmd


def run_jvm(cmd, cwd):
    """Runs the JVM in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(f"perfbench: runner exceeded {JVM_TIMEOUT_S} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def tree_bytes(d):
    total = 0
    for base, _, files in os.walk(d):
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except OSError:
                pass
    return total


def check(queries, expected):
    """Marks each record ok or failed against the expected digests."""
    failed = []
    for q in queries:
        exp = expected.get(q["key"])
        if q["error"] is not None:
            q["ok"] = False
            why = q["error"]
        elif exp is None:
            q["ok"], why = False, "no expected digest"
        elif exp.get("rows_only"):
            q["ok"] = q["rows"] == exp["rows"]
            why = f"rows {q['rows']} != {exp['rows']}"
        else:
            q["ok"] = q["digest"] == exp["digest"] and q["rows"] == exp["rows"]
            why = f"digest {q['digest']} ({q['rows']} rows) != {exp['digest']} ({exp['rows']} rows)"
        if not q["ok"]:
            failed.append((q["pass"], q["key"], why))
    for p, k, why in failed:
        print(f"[perfbench] pass {p} {k} FAILED: {why}", file=sys.stderr)
    return len(failed)


def record(path, queries):
    seen = {}
    if os.path.exists(path):
        with open(path) as f:
            seen = json.load(f)
    for q in queries:
        if q["error"] is not None:
            print(f"[perfbench] not recorded {q['key']}: {q['error']}", file=sys.stderr)
            continue
        new = {"rows": q["rows"], "digest": q["digest"]}
        old = seen.get(q["key"])
        if old is not None and old["rows"] != new["rows"]:
            print(f"[perfbench] {q['key']}: row count differs between runs", file=sys.stderr)
        if old is not None and (old.get("rows_only") or old["digest"] != new["digest"]):
            new = {"rows": new["rows"], "digest": None, "rows_only": True}
        seen[q["key"]] = new
    with open(path, "w") as f:
        json.dump(dict(sorted(seen.items())), f, indent=1)
        f.write("\n")


def metric(v, unit):
    return {"value": v, "unit": unit}


def end_to_end(res, setup_s):
    # A pass of each key's median execution: one noisy pass or one noisy
    # query in a pass does not move it. Per-query percentiles are not
    # reported: over 12 or 4 keys they spread past the largest bound.
    by_key = {}
    for q in res["queries"]:
        by_key.setdefault(q["key"], []).append(q["wall_s"])
    return {
        "total_s": metric(sum(statistics.median(v) for v in by_key.values()), "s"),
        "setup_s": metric(setup_s, "s"),
        "retained_heap_mb": metric(res["retained_heap_mb"], "MB"),
    }


def per_layer(res, tmp_bytes, attempted, failed):
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    by_pass = {p["pass"]: [q for q in res["queries"] if q["pass"] == p["pass"]]
               for p in traced}
    out = {}
    for name, unit, field in PER_QUERY_SUMS:
        out[name] = metric(statistics.median(
            sum(q.get(field, 0) for q in by_pass[p["pass"]]) for p in traced), unit)
    cap = [sum(q["action_s"] for q in by_pass[p["pass"]]) * res["cores"] for p in traced]
    run = [sum(q.get("task_run_s", 0) for q in by_pass[p["pass"]]) for p in traced]
    out["exec.slot_util"] = metric(statistics.median(
        r / c if c > 0 else 0.0 for r, c in zip(run, cap)), "ratio")
    out["state.storage_mb"] = metric(statistics.median(p["storage_mb"] for p in traced), "MB")
    out["state.persisted_rdds"] = metric(
        statistics.median(p["persisted_rdds"] for p in traced), "count")
    out["state.tmp_bytes"] = metric(tmp_bytes, "bytes")
    out["trace.overhead_s"] = metric(
        statistics.median(p["total_s"] for p in traced)
        - statistics.median(p["total_s"] for p in plain), "s")
    out["trace.unattributed_jobs"] = metric(res["unattributed_jobs"], "count")
    out["failed_frac"] = metric(failed / attempted, "ratio")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keys")
    ap.add_argument("--sf")
    ap.add_argument("--expected")
    ap.add_argument("--record")
    a = ap.parse_args()
    if a.workload not in WORKLOADS and not (a.keys and a.sf):
        sys.exit(f"perfbench: unknown workload {a.workload!r}")

    classpath = build.build()
    sf, pick, pass_s = WORKLOADS.get(a.workload, (a.sf, None, a.seconds))
    sf = a.sf or sf
    keys = a.keys.split(",") if a.keys else pick(a.seed)
    # Traced runs make at least one full ABBA cycle: two traced passes and
    # two untraced ones, so the tracing overhead compares like with like.
    passes = max(4 if a.trace else 1, round(a.seconds / pass_s))
    data = os.path.join(HERE, "data", sf)
    expected_path = a.expected or os.path.join(HERE, "expected", f"{sf}.json")
    if not os.path.isdir(data):
        sys.exit(f"perfbench: no data for {sf}")
    expected = {}
    if not a.record:
        with open(expected_path) as f:
            expected = json.load(f)

    os.makedirs(RUNS, exist_ok=True)
    tag = f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}"
    rundir = os.path.join(RUNS, tag)
    shutil.rmtree(rundir, ignore_errors=True)
    for d in ("tmp", "local", "work"):
        os.makedirs(os.path.join(rundir, d))
    results = os.path.join(RUNS, tag + ".json")
    args = ["--sf-dir", data, "--keys", ",".join(keys), "--passes", str(passes),
            "--trace", str(a.trace), "--cores", str(cores()), "--out", results]
    if a.trace:
        args += ["--spans", os.path.join(RUNS, tag + ".spans.jsonl")]
    try:
        launch_ms = time.time() * 1000
        rc = run_jvm(java_cmd(classpath, rundir, args), os.path.join(rundir, "work"))
        if rc != 0:
            sys.exit(f"perfbench: runner exited with {rc}")
        with open(results) as f:
            res = json.load(f)
        tmp_bytes = tree_bytes(rundir)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    os.remove(results)

    if a.record:
        record(a.record, res["queries"])
    attempted = len(res["queries"])
    failed = check(res["queries"], expected) if not a.record else 0
    setup_s = (res["setup_end_ms"] - launch_ms) / 1000
    print(f"[perfbench] {a.workload} {sf} seed={a.seed} keys={len(keys)} "
          f"passes={len(res['passes'])} executions={attempted} failed={failed}",
          file=sys.stderr)
    metrics = (per_layer(res, tmp_bytes, attempted, failed) if a.trace
               else end_to_end(res, setup_s))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
