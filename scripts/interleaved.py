#!/usr/bin/env python
"""Process-interleaved A/B protocol — the ONLY protocol PERF.md headline
tables are generated with from round 10 on.

Why: DuckDB denominators on this box move 1.5-3x between sessions from
page-cache warmth alone (PERF.md round-9 postmortem: identical files,
q18 8.28 vs 5.99 s), so a Spark number from one session divided by a
DuckDB number from another is noise. This runner alternates FRESH
processes round-robin — Spark JVM, then DuckDB, repeated `rounds`
times — so both engines sample the same machine state, and reports
per-query min-of-rounds for each side plus the ratio. Each in-process
measurement is itself best-of after a warm-up pass (BenchBig/bench_big
semantics, reps=1 inside the process; the cross-process rounds are the
repetition).

Usage:
  python scripts/interleaved.py headline <bigDir> <oracle_sql.json> [rounds]
  python scripts/interleaved.py rel      <bigDir> <oracle_sql.json> [rounds]
  python scripts/interleaved.py advisor  <bigDir> <oracle_sql.json> [rounds]
  python scripts/interleaved.py <names>  <bigDir> <oracle_sql.json> [rounds]

`advisor` runs the Spark side through graft.ProbeAdvisorSweep (the
17-query suite over advisor-staged layouts; first round pays the
one-time staging write OUTSIDE the timed queries) against DuckDB's flat
`rel` suite — the honest comparison: engine+advised layout vs DuckDB's
best flat-table plan on identical source data.

Dev-only tool (driver-side python env); not part of the library.
"""
import json
import subprocess
import sys


def last_json(text, key):
    for line in reversed(text.splitlines()):
        line = line.strip()
        if line.startswith("[info]"):
            line = line[len("[info]"):].strip()
        if line.startswith("{") and f'"{key}"' in line:
            return json.loads(line)
    raise RuntimeError("no JSON line with key %r in output:\n%s" % (key, text[-2000:]))


def run(cmd):
    print("[interleaved] $", " ".join(cmd), file=sys.stderr)
    p = subprocess.run(cmd, capture_output=True, text=True, cwd="/root/repo")
    if p.returncode != 0:
        raise RuntimeError(f"command failed ({p.returncode}):\n{p.stdout[-3000:]}\n{p.stderr[-3000:]}")
    return p.stdout + "\n" + p.stderr


def main():
    mode, big_dir, oracle = sys.argv[1:4]
    rounds = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    if mode == "advisor":
        spark_cmd = ["sbt", "-batch", f"runMain graft.ProbeAdvisorSweep {big_dir} 1 layout"]
        duck_names = "rel"
    elif mode == "routed":
        # per-query projection routing (LayoutAdvisor.routeAll over
        # adviseProjections' one-projection-per-hot-key staging)
        spark_cmd = ["sbt", "-batch", f"runMain graft.ProbeAdvisorSweep {big_dir} 1 routed"]
        duck_names = "rel"
    elif mode == "denorm":
        # materialized-join projections (RewriteMaterializedJoin over
        # adviseDenormalized's staged star) composed with routing
        spark_cmd = ["sbt", "-batch", f"runMain graft.ProbeAdvisorSweep {big_dir} 1 denorm"]
        duck_names = "rel"
    else:
        spark_cmd = ["sbt", "-batch", f"runMain graft.BenchBig {big_dir} {mode} 1"]
        duck_names = mode
    duck_cmd = ["python3", "scripts/bench_big.py", big_dir, oracle, "1", duck_names]

    spark_rounds, duck_rounds = [], []
    for r in range(rounds):
        spark_rounds.append(last_json(run(spark_cmd), "queries")["queries"])
        duck_rounds.append(last_json(run(duck_cmd), "queries")["queries"])
        print(f"[interleaved] round {r + 1}/{rounds} done", file=sys.stderr)

    names = [n for n in spark_rounds[0] if n in duck_rounds[0]]
    rows = []
    for n in names:
        s = min(rd[n] for rd in spark_rounds)
        d = min(rd[n] for rd in duck_rounds)
        rows.append((n, s, d, s / d if d > 0 else float("inf")))
    print("| query | spark s | duckdb s | ratio |")
    print("|---|---|---|---|")
    for n, s, d, r in rows:
        print(f"| {n} | {s:.2f} | {d:.2f} | {r:.2f}x |")
    # finite positive ratios only (a 0-second DuckDB rep would otherwise
    # poison the geomean with inf), and fail legibly on an empty overlap
    # instead of dividing by zero after all rounds have been paid for
    import math
    ratios = [r for _, _, _, r in rows if r > 0 and math.isfinite(r)]
    if not ratios:
        raise SystemExit("interleaved: no overlapping finite-ratio queries "
                         "between the Spark and DuckDB runs — check names")
    geomean = 1.0
    for r in ratios:
        geomean *= r
    geomean **= 1.0 / len(ratios)
    print(f"\ngeomean ratio: {geomean:.3f}x over {len(ratios)} queries, "
          f"{rounds} interleaved rounds")
    print(json.dumps({
        "protocol": "process-interleaved", "rounds": rounds, "mode": mode,
        "geomean": round(geomean, 3),
        "queries": {n: {"spark": s, "duck": d, "ratio": round(r, 3)}
                    for n, s, d, r in rows}}))


if __name__ == "__main__":
    main()
