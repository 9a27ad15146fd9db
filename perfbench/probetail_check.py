#!/usr/bin/env python3
"""Cross-checks the benchmark's tracer against graft.ProbeTail.

    python3 perfbench/probetail_check.py [--reps 5]

Runs graft.ProbeTail on its four default queries at local[4], then the
benchmark's traced loop on the same queries, and prints for each query
the median pre / jobs / gaps / post split of both (ProbeTail's listener
split and the one the summarizer computes from spans), in seconds and as
shares of the query's wall time. Absolute times differ by design:
ProbeTail runs each query five times in a row after one warm-up run,
the benchmark interleaves the queries in shuffled rounds after one
warm-up pass. The tracer agrees when each part's share
differs by no more than 0.05 plus the interquartile range of ProbeTail's
own repetitions.
Run it from the root of a graft checkout. Both sides build their session
with GraftSession.local; its warehouse, scratch space and fixtures stay
in the checkout's work directory through SPARK_GRAFT_CONF and the JVM's
temp directory.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402
import summarize  # noqa: E402

QUERIES = ["text_fingerprint", "scan_zstd_roundtrip", "text_clean", "metric_mrr"]
PARTS = ["pre", "jobs", "gaps", "post"]
LINE = re.compile(r"\[tail\] (\S+) rep\d+: total (\d+)ms = pre (-?\d+)ms \+ jobs (\d+)ms "
                  r"\(\d+ jobs\) \+ gaps (-?\d+)ms \+ post (-?\d+)ms")


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q3 - q1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=5)
    a = ap.parse_args()
    root = os.getcwd()
    cp, opts = run.build(root, os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    data = os.path.join(root, ".bench_data", "sf0.1")
    run.ensure_data(root, cp, opts, data)
    work = os.path.join(root, ".bench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        env = dict(run.child_env(work), SPARK_GRAFT_CPUS=str(run.CORES))
        out = subprocess.run(["java"] + opts + run.jvm_flags(work) + ["-cp", cp, "graft.ProbeTail",
                                                                      ",".join(QUERIES), data, str(a.reps)],
                             cwd=root, env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             text=True, timeout=600, check=True).stdout
        probe = {}
        for m in LINE.finditer(out):
            probe.setdefault(m.group(1), []).append(
                dict(zip(["total"] + PARTS, (int(x) / 1e3 for x in m.groups()[1:]))))
        raw_path = os.path.join(work, "raw.json")
        run.java(root, cp, opts, work,
                 ["run", "--workload", "custom", "--queries", ",".join(QUERIES), "--seed", "1",
                  "--seconds", "4", "--trace", "1", "--data", data, "--work", work,
                  "--out", raw_path, "--cores", str(run.CORES)], 600)
        raw = json.load(open(raw_path))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    splits, violations = summarize.query_splits(raw)
    names = {r["qid"]: r["name"] for r in raw["queries"]}
    traced = {}
    for qid, s in splits.items():
        traced.setdefault(names[qid], []).append(dict(s, total=s["wall"]))
    ok = not violations
    print(f"{'query':22s} {'part':6s} {'probetail_s':>12s} {'trace_s':>9s} "
          f"{'probetail_share':>16s} {'trace_share':>12s} {'noise':>6s}")
    for q in QUERIES:
        p_runs, t_runs = probe.get(q, []), traced.get(q, [])
        if not p_runs or not t_runs:
            print(f"{q:22s} missing (probetail {len(p_runs)}, trace {len(t_runs)} samples)")
            ok = False
            continue
        for part in PARTS:
            p_share = [r[part] / r["total"] for r in p_runs if r["total"] > 0]
            t_share = [r[part] / r["total"] for r in t_runs if r["total"] > 0]
            noise = 0.05 + iqr(p_share)
            diff = abs(statistics.median(p_share) - statistics.median(t_share))
            flag = "" if diff <= noise else "  DIFFERS"
            ok = ok and not flag
            print(f"{q:22s} {part:6s} {statistics.median(r[part] for r in p_runs):12.4f} "
                  f"{statistics.median(r[part] for r in t_runs):9.4f} "
                  f"{statistics.median(p_share):16.3f} {statistics.median(t_share):12.3f} "
                  f"{noise:6.3f}{flag}")
    for v in violations:
        print(f"trace check failed: {v}")
    print("tracer agrees with ProbeTail" if ok else "tracer does NOT agree with ProbeTail")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
