#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs for one perfbench workload.

    python3 scripts/ab_pairs.py <parent-rev> --workload tail --pairs 10 \
        [--seed0 1] [--seconds 3] [--warmup 1] [--out pairs.json]

Run it from the root of the change's checkout. The parent revision is
checked out with `git worktree add` into a fresh temporary directory
(under $TMPDIR), which builds and generates its own data on its first
run, and is removed at the end. A built checkout is never copied: sbt's
incremental compiler records absolute class paths, and building a copy
of a built tree can delete the original's classes.

Pair i runs `perfbench/run.py --workload W --seed seed0+i` once on each
side, parent first on even pairs and change first on odd ones, so a
drifting host weighs on both sides alike. `--warmup` runs per side are
made first and discarded (the first run of a checkout builds it).

For every end-to-end metric in BENCHMARK.json it prints each side's
median and quartiles, the number of pairs the change won, and whether a
claim on that metric holds: the change wins at least 9 of every 10
pairs, and its median beats the parent's by more than the parent's
interquartile range. It also prints each side's share of failed
operations.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile


def log(msg):
    print(f"[ab_pairs] {msg}", file=sys.stderr, flush=True)


def git(*args, cwd):
    return subprocess.run(["git"] + list(args), cwd=cwd, check=True,
                          capture_output=True, text=True).stdout.strip()


def bench(root, workload, seed, seconds):
    """One perfbench run in `root`; returns its final JSON line, with the
    report lines printed above it (the set-up times among them) under
    `report`."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=1800)
    lines = p.stdout.splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        raise SystemExit(f"{root}: run.py exited {p.returncode}\n{p.stderr[-3000:]}")
    return dict(json.loads(lines[-1]), report=lines[:-1])


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(name, better, parent, change):
    """One report line for metric `name` over paired samples."""
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    gain = sign * (pm - cm)
    holds = wins * 10 >= 9 * len(parent) and gain > p3 - p1
    return (f"{name}: parent median {pm:.4g} [q1 {p1:.4g}, q3 {p3:.4g}]  "
            f"change median {cm:.4g} [q1 {c1:.4g}, q3 {c3:.4g}]  "
            f"change {(cm - pm) / pm:+.1%}  wins {wins}/{len(parent)}  "
            f"claim {'holds' if holds else 'not met'}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent_rev")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=3)
    ap.add_argument("--warmup", type=int, default=1)
    ap.add_argument("--out", help="write every run's JSON line and report here")
    a = ap.parse_args()
    if a.pairs < 2:
        raise SystemExit("--pairs must be at least 2")

    change = git("rev-parse", "--show-toplevel", cwd=os.getcwd())
    spec = json.load(open(os.path.join(change, "BENCHMARK.json")))
    tmp = tempfile.mkdtemp(prefix="ab_pairs_")
    parent = os.path.join(tmp, "parent")
    git("worktree", "add", "--detach", parent, a.parent_rev, cwd=change)
    log(f"parent {a.parent_rev} checked out at {parent}")
    runs = {"parent": [], "change": []}
    try:
        sides = {"parent": parent, "change": change}
        for side, root in sides.items():
            for i in range(a.warmup):
                log(f"warm-up {side} {i + 1}/{a.warmup}")
                bench(root, a.workload, a.seed0, a.seconds)
        for i in range(a.pairs):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                log(f"pair {i + 1}/{a.pairs} {side} seed {a.seed0 + i}")
                runs[side].append(bench(sides[side], a.workload, a.seed0 + i, a.seconds))
    finally:
        git("worktree", "remove", "--force", parent, cwd=change)
        os.rmdir(tmp)
        if a.out:
            with open(a.out, "w") as f:
                json.dump(runs, f, indent=1)

    print(f"workload {a.workload}, {a.pairs} pairs, parent {a.parent_rev}")
    for m in spec["end_to_end"]:
        vals = {s: [r["metrics"][m["name"]]["value"] for r in runs[s]] for s in runs}
        print(verdict(m["name"], m["better"], vals["parent"], vals["change"]))
    for s in runs:
        attempted = sum(r["attempted"] for r in runs[s])
        failed = sum(r["failed"] for r in runs[s])
        print(f"{s}: {failed}/{attempted} operations failed")


if __name__ == "__main__":
    main()
