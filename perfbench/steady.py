#!/usr/bin/env python3
"""Steadiness report: runs each workload in sets of runs with distinct
seeds and prints, per set, each end-to-end metric's median and
interquartile range as a share of the median.

    python3 perfbench/steady.py [--workloads tail,ingest] [--runs 10]
        [--sets 2] [--seconds 10] [--first-seed 1]

A metric is flagged UNSTEADY when its spread in a set exceeds a third of
its bound in BENCHMARK.json, or DRIFT when a later set's median is worse
than the first set's by more than the bound. setup_s is flagged like the
others, although automated evaluation bounds only its drift. Run it from the root of a graft checkout; the per-run
results are kept in .bench_out/steady.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(workload, seed, seconds):
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
    res = json.loads(out.stdout.strip().splitlines()[-1])
    print(f"  {workload} seed {seed}: " + ", ".join(
        f"{k} {v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    if not res["correct"]:
        print(f"  {workload} seed {seed}: correct=false, {res['failed']} of {res['attempted']} failed")
    return res


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    bench = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    seconds = a.seconds or bench["run_seconds"]
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    results, flags = {}, []
    seed = a.first_seed
    for w in a.workloads.split(","):
        for s in range(a.sets):
            runs = []
            for _ in range(a.runs):
                runs.append(run_once(w, seed, seconds))
                seed += 1
            results.setdefault(w, []).append(runs)
        print(f"{w}:")
        first = {}
        for name, m in metrics.items():
            cells = []
            for s, runs in enumerate(results[w]):
                vals = [r["metrics"][name]["value"] for r in runs]
                med, sp = statistics.median(vals), spread(vals)
                cells.append(f"set{s + 1} median {med:.4g} iqr/median {sp:.3f}")
                if sp > m["bound"] / 3:
                    flags.append(f"UNSTEADY {w} {name} set{s + 1}: spread {sp:.3f} > bound/3 {m['bound'] / 3:.3f}")
                if s == 0:
                    first[name] = med
                else:
                    worse = (med - first[name]) / first[name] if m["better"] == "lower" \
                        else (first[name] - med) / first[name]
                    if worse > m["bound"]:
                        flags.append(f"DRIFT {w} {name} set{s + 1}: {worse:.3f} worse than set1 > bound {m['bound']}")
            print(f"  {name} [{m['unit']}, {m['better']} is better, bound {m['bound']}]: " + "; ".join(cells))
    os.makedirs(".bench_out", exist_ok=True)
    with open(os.path.join(".bench_out", "steady.json"), "w") as f:
        json.dump(results, f)
    for fl in flags:
        print(fl)
    print("steady" if not flags else f"{len(flags)} flag(s)")
    return 1 if flags else 0


if __name__ == "__main__":
    sys.exit(main())
