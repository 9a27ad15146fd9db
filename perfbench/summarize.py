"""Turns the raw result of one benchmark JVM run into metrics.

The JVM (graftbench.Main) writes every timed operation, every set-up
time and, in a traced run, its spans and per-query listener counters.
This module computes the end-to-end metrics of an untraced run, the
per-layer metrics and layer self times of a traced run, and checks that
each traced query's jobs fit inside its span and their parent spans.
"""
import math
import statistics

MB = 1 << 20


def percentile(values, q):
    """Nearest-rank percentile (q in 0..1) of a non-empty list."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def tail_percentile(values, cap=0.90):
    """The highest percentile, at most `cap`, with at least ten samples
    beyond it; None when there are fewer than twenty samples."""
    n = len(values)
    if n < 20:
        return None
    q = min(cap, math.floor(100 * (1 - 10 / n)) / 100)
    return q, percentile(values, q)


def untraced_ops(raw, kind=None):
    return [o for o in raw["ops"] if not o["traced"] and (kind is None or o["kind"] == kind)]


def query_p50(ops):
    """Geometric mean over query names of each query's median latency.
    Pooling every sample instead would put the median on the edge
    between two queries' latency bands, where a small shift of one
    query moves it a lot."""
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o["s"])
    return math.exp(statistics.fmean(math.log(statistics.median(v)) for v in by_name.values()))


def end_to_end(raw):
    """Every end-to-end metric of the run, as name -> (value, unit).

    Only untraced operations count. `queries_per_s` divides the timed
    queries (reads, in `ingest`) by the timed seconds of every operation,
    so in `ingest` it is reads per second of whole append-maintain-serve
    cycles and a slower write lowers it too."""
    queries = [o["s"] for o in untraced_ops(raw, "query")]
    timed = sum(o["s"] for o in untraced_ops(raw))
    return {
        "setup_s": (statistics.median(raw["setup_s"][1:]), "s"),
        "query_p50_s": (query_p50(untraced_ops(raw, "query")), "s"),
        "queries_per_s": (len(queries) / timed, "1/s"),
        "retained_heap_mb": (raw["retained_heap_bytes"] / MB, "MB"),
    }


def report(raw):
    """Every end-to-end metric the README names, with sample counts, as
    lines of text (the ones the contract's JSON cannot carry on every
    workload included). A traced run reports only its error rate: its
    end-to-end figures would include tracing."""
    lines = [f"workload {raw['workload']} seed {raw['seed']} cores {raw['cores']} "
             f"trace {int(raw['trace'])}"]
    if raw["trace"]:
        lines.append("end-to-end metrics: see an untraced run (--trace 0)")
    else:
        lines += _end_to_end_report(raw)
    lines.append(f"error_rate = {raw['failed'] / max(1, raw['attempted']):.6g} "
                 f"({raw['failed']} of {raw['attempted']})")
    for f in raw["failures"][:20]:
        lines.append(f"failure: {f}")
    return lines


def _end_to_end_report(raw):
    queries = [o["s"] for o in untraced_ops(raw, "query")]
    writes = [o["s"] for o in untraced_ops(raw, "write")]
    timed = sum(o["s"] for o in untraced_ops(raw))
    lines = [f"{k} = {v:.6g} {unit}" for k, (v, unit) in end_to_end(raw).items()]
    names = {o["name"] for o in untraced_ops(raw, "query")}
    lines.append(f"timed queries = {len(queries)} ({len(names)} distinct) over {timed:.3f} s timed; "
                 f"set-ups = {len(raw['setup_s'])}: "
                 + ", ".join(f"{s:.3f}" for s in raw["setup_s"])
                 + " s (the first from JVM start; setup_s is the median of the others)")
    tp = tail_percentile(queries)
    lines.append("query_p90_s = " + (f"{tp[1]:.6g} s (p{round(tp[0] * 100)} of all {len(queries)} "
                                     "timed samples: the highest percentile up to p90 with ten "
                                     "samples beyond it)"
                                     if tp else f"n/a (fewer than 20 samples: {len(queries)})"))
    if raw["workload"] == "ingest":
        ex = raw["extra"]
        wp = tail_percentile(writes)
        lines.append(f"write_p50_s = {statistics.median(writes):.6g} s ({len(writes)} samples)")
        lines.append("write_p90_s = " + (f"{wp[1]:.6g} s (p{round(wp[0] * 100)})" if wp
                                         else f"n/a (fewer than 20 samples: {len(writes)})"))
        cycle_s = sum(o["s"] for o in raw["ops"])
        lines.append(f"ingest_rows_per_s = {ex['appended_rows'] / cycle_s:.6g} 1/s "
                     f"({ex['appended_rows']} rows in {ex['cycles']} cycles)")
        lines.append(f"space_amp = {(ex['fact_bytes'] + ex['derived_bytes']) / ex['fact_bytes']:.6g}")
        lines.append(f"stage_s = {ex['stage_s']:.6g} s")
    return lines


def union(intervals):
    """Total length covered by a list of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(iv, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in iv if min(e, hi) > max(s, lo)]


def self_times(spans):
    """Per span name: total self time (duration minus the part of it its
    children cover), in seconds."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = clip([(c["start"], c["end"]) for c in children.get(s["id"], [])], s["start"], s["end"])
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - union(kids)) / 1e9
    return out


TOLERANCE_NS = 2_000_000  # listener clocks tick in milliseconds


def query_splits(raw):
    """Per traced query span: wall, build, execute and the ProbeTail split
    (pre, jobs, gaps, post) plus the jobs it ran, and a list of
    violations of the trace's consistency check.

    The check runs on the raw job intervals, as converted from the
    listener clock: every job of the query's job group must lie inside
    the query span and inside the build or execute span it hangs under,
    within the listener clock's tolerance. Only after the check are the
    intervals clipped to the query span for the split."""
    spans = raw["spans"]
    by_id = {s["id"]: s for s in spans}
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    jobs_of = {}
    for s in spans:
        if s["name"] == "job":
            jobs_of.setdefault(s["query"], []).append(s)

    def inside(j, p):
        return j["start"] >= p["start"] - TOLERANCE_NS and j["end"] <= p["end"] + TOLERANCE_NS

    out, violations = {}, []
    for q in (s for s in spans if s["name"] == "query"):
        wall = q["end"] - q["start"]
        kids = by_parent.get(q["id"], [])
        build_ids = {k["id"] for k in kids if k["name"] == "build"}
        part_ids = build_ids | {k["id"] for k in kids if k["name"] == "execute"}
        jobs = jobs_of.get(q["query"], [])
        for j in jobs:
            if not inside(j, q):
                violations.append(f"query {q['query']}: job {j['id']} [{j['start']}, {j['end']}] "
                                  f"outside the query span [{q['start']}, {q['end']}]")
            if j["parent"] not in part_ids:
                violations.append(f"query {q['query']}: job {j['id']} under neither build nor execute")
            elif not inside(j, by_id[j["parent"]]):
                p = by_id[j["parent"]]
                violations.append(f"query {q['query']}: job {j['id']} [{j['start']}, {j['end']}] "
                                  f"outside its {p['name']} span [{p['start']}, {p['end']}]")
        iv = clip([(j["start"], j["end"]) for j in jobs], q["start"], q["end"])
        busy = union(iv)
        pre = (min(s for s, _ in iv) - q["start"]) if iv else wall
        post = (q["end"] - max(e for _, e in iv)) if iv else 0
        gaps = wall - pre - busy - post
        out[q["query"]] = {
            "wall": wall / 1e9,
            "build": sum(k["end"] - k["start"] for k in kids if k["name"] == "build") / 1e9,
            "execute": sum(k["end"] - k["start"] for k in kids if k["name"] == "execute") / 1e9,
            "pre": pre / 1e9, "jobs": busy / 1e9, "gaps": gaps / 1e9, "post": post / 1e9,
            "n_jobs": len(jobs),
            "build_jobs": sum(1 for j in jobs if j["parent"] in build_ids),
            "infer_jobs": [j for j in jobs if "Tables.scala" in j["attrs"].get("site", "")],
        }
    return out, violations


def overhead(raw):
    """Tracing overhead: the median over pairs of (traced / untraced - 1)
    for each query (each read, in `ingest`) that the traced run ran both
    ways in a row."""
    untraced = {(o["name"], o["round"]): o["s"] for o in raw["ops"]
                if o["kind"] == "query" and not o["traced"]}
    return statistics.median(o["s"] / untraced[(o["name"], o["round"])] - 1 for o in raw["ops"]
                             if o["kind"] == "query" and o["traced"])


def per_layer(raw):
    """Every per-layer metric of a traced run, as name -> (value, unit).
    Per-query values are means over the traced timed queries."""
    recs = [r for r in raw["queries"] if r["kind"] == "query"]
    splits, _ = query_splits(raw)
    qs = [splits[r["qid"]] for r in recs if r["qid"] in splits]
    n = max(1, len(recs))

    def mean(f):
        return sum(f(r) for r in recs) / n

    def smean(f):
        return sum(f(s) for s in qs) / max(1, len(qs))

    ex = raw["extra"]
    tables_jobs = [s for s in raw["spans"] if s["name"] == "job" and s["query"] == ex["tables_apply_qid"]]
    job_wall = sum(s["jobs"] for s in qs)
    runs = sum(r["graft_rule_runs"] for r in recs)
    writes = [o for o in raw["ops"] if o["kind"] == "write"]
    traced_writes = [r for r in raw["queries"] if r["kind"] == "write"]
    m = {
        "tables.infer_jobs": (smean(lambda s: len(s["infer_jobs"])), "count"),
        "tables.infer_s": (smean(lambda s: sum(j["end"] - j["start"] for j in s["infer_jobs"]) / 1e9), "s"),
        "tables.apply_s": (ex["tables_apply_s"], "s"),
        "tables.apply_jobs": (len(tables_jobs), "count"),
        "entry.build_s": (smean(lambda s: s["build"]), "s"),
        "entry.build_jobs": (smean(lambda s: s["build_jobs"]), "count"),
        "plans.analysis_s": (mean(lambda r: r["analysis_ms"]) / 1e3, "s"),
        "plans.optimization_s": (mean(lambda r: r["optimization_ms"]) / 1e3, "s"),
        "plans.planning_s": (mean(lambda r: r["planning_ms"]) / 1e3, "s"),
        "plans.rule_s": (mean(lambda r: r["rule_ns"]) / 1e9, "s"),
        "plans.graft_rule_s": (mean(lambda r: r["graft_rule_ns"]) / 1e9, "s"),
        "plans.graft_rule_runs": (runs / n, "count"),
        "plans.graft_rule_hit_ratio": (sum(r["graft_rule_effective"] for r in recs) / max(1, runs), "ratio"),
        "plans.rollup_served_ratio": (ex.get("rollup_served", 0) / max(1, ex.get("rollup_checked", 0)), "ratio"),
        "plans.refresh_s": (_mean([o["s"] for o in writes if o["name"] == "refresh"]), "s"),
        "scheduler.jobs": (smean(lambda s: s["n_jobs"]), "count"),
        "scheduler.stages": (mean(lambda r: r["stages"]), "count"),
        "scheduler.tasks": (mean(lambda r: r["tasks"]), "count"),
        "scheduler.pre_s": (smean(lambda s: s["pre"]), "s"),
        "scheduler.job_s": (smean(lambda s: s["jobs"]), "s"),
        "scheduler.gap_s": (smean(lambda s: s["gaps"]), "s"),
        "scheduler.post_s": (smean(lambda s: s["post"]), "s"),
        "scheduler.task_delay_s": (mean(lambda r: r["sched_delay_ms"]) / 1e3, "s"),
        "scheduler.slot_util": (sum(r["run_ns"] for r in recs) / 1e9 / max(1e-9, raw["cores"] * job_wall), "ratio"),
        "operators.run_s": (mean(lambda r: r["run_ns"]) / 1e9, "s"),
        "operators.cpu_s": (mean(lambda r: r["cpu_ns"]) / 1e9, "s"),
        "operators.deser_s": (mean(lambda r: r["deser_ns"]) / 1e9, "s"),
        "operators.input_rows": (mean(lambda r: r["input_rows"]), "count"),
        "operators.input_mb": (mean(lambda r: r["input_bytes"]) / MB, "MB"),
        "operators.shuffle_read_mb": (mean(lambda r: r["shuffle_read_bytes"]) / MB, "MB"),
        "operators.shuffle_write_mb": (mean(lambda r: r["shuffle_write_bytes"]) / MB, "MB"),
        "operators.spill_mb": (mean(lambda r: r["spill_bytes"]) / MB, "MB"),
        "operators.peak_mem_mb": (mean(lambda r: r["peak_mem_bytes"]) / MB, "MB"),
        "operators.checkpoint_mb": (mean(lambda r: r["checkpoint_bytes"]) / MB, "MB"),
        "streaming.batches": (mean(lambda r: r["stream_batches"]), "count"),
        "streaming.batch_s": (mean(lambda r: r["stream_batch_ms"]) / 1e3, "s"),
        "streaming.state_rows": (mean(lambda r: r["stream_state_rows"]), "count"),
        "sources.append_s": (_mean([o["s"] for o in writes if o["name"] in ("append", "bucket_append")]), "s"),
        "sources.compact_s": (_mean([o["s"] for o in writes if o["name"] == "compact"]), "s"),
        "sources.bytes_written_mb": (sum(r["bytes_written"] for r in traced_writes) / MB
                                     / max(1, ex.get("cycles", 0)), "MB"),
        "sources.files_written": (ex.get("files_written", 0) / max(1, ex.get("cycles", 0)), "count"),
        "sources.write_amp": (sum(r["bytes_written"] for r in traced_writes)
                              / max(1, ex.get("appended_bytes", 0)), "ratio"),
        "sources.files_per_bucket": (_mean(ex.get("files_per_bucket", [])), "count"),
        "codegen.compiles": (mean(lambda r: r["codegen_compiles"]), "count"),
        "jvm.jit_s": (raw["jit_setup_s"], "s"),
        "jvm.gc_s": (ex["window_gc_s"] / max(1, len(raw["ops"])), "s"),
        "jvm.peak_heap_mb": (ex["peak_heap_bytes"] / MB, "MB"),
        "trace.overhead": (100 * overhead(raw), "%"),
    }
    return m


# Per-layer times that read 0 on every run of one workload (writes and
# rollup refresh on `tail`, streaming micro-batches on `ingest`); they are
# printed with the report, not carried in the JSON.
REPORT_ONLY = ("plans.refresh_s", "streaming.batch_s", "sources.append_s", "sources.compact_s")


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0
