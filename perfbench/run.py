#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload tail|heavy|ingest --seed N \
        --seconds S --trace 0|1

Run it from the root of a graft checkout. The first run builds the
benchmark (sbt, offline) and generates the sf0.1 driver tables into
.bench_data/; later runs reuse both while the sources are unchanged.
The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The lines before it
report every metric with its sample count; see perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import summarize  # noqa: E402

CORES = 4
HEAP = "3g"
# the first run of a checkout builds and generates data: 600 + 120 + 170 s
# stay within the 900 s a first run may take; later runs within 180 s
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
GEN_TIMEOUT_S = 120
# graft settings from the environment would change what is measured; the
# benchmark JVM gets a SPARK_GRAFT_CONF of its own (graft_conf)
UNSET_ENV = ("SPARK_GRAFT_CONF", "SPARK_GRAFT_JAVA_OPTS", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_TRACE")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest(root):
    """Digest of everything the build reads: graft's and the benchmark's
    sources and build files."""
    h = hashlib.sha256()
    paths = ["build.sbt", "project/build.properties", "perfbench/build.sbt",
             "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, top)):
            paths += [os.path.relpath(os.path.join(d, f), root) for f in files]
    for p in sorted(paths):
        h.update(p.encode())
        with open(os.path.join(root, p), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def graft_conf(work):
    """The only settings the benchmark adds to GraftSession.local's: the
    warehouse and Spark's scratch space live in the work directory."""
    return f"spark.sql.warehouse.dir={work}/warehouse;spark.local.dir={work}/spark-local"


def child_env(work=None):
    env = {k: v for k, v in os.environ.items() if k not in UNSET_ENV}
    env.setdefault("COURSIER_MODE", "offline")
    if work is not None:
        env["SPARK_GRAFT_CONF"] = graft_conf(work)
    return env


def run_child(cmd, timeout, cwd, env=None):
    """Runs a child in its own process group, its stdout sent to our
    stderr; on timeout the whole group is killed and waited for."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env or child_env(), stdout=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build(root, build_dir):
    """Builds with sbt when the sources changed since the last build and
    returns (classpath, JVM options) for launching the benchmark."""
    stamp = os.path.join(build_dir, "stamp")
    launch = os.path.join(build_dir, "launch.txt")
    digest = sources_digest(root)
    built = os.path.exists(launch) and os.path.exists(stamp) and open(stamp).read() == digest
    if not built:
        log("building with sbt (first run in this checkout)")
        os.makedirs(build_dir, exist_ok=True)
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                       BUILD_TIMEOUT_S, os.path.join(root, "perfbench"))
        if rc != 0:
            raise SystemExit(f"sbt build failed with exit code {rc}")
        shutil.copy(os.path.join(root, "perfbench", "target", "launch.txt"), launch)
        with open(stamp, "w") as f:
            f.write(digest)
    lines = open(launch).read().splitlines()
    return lines[0], [l for l in lines[1:] if l]


def jvm_flags(work):
    # temp files go to the work directory; -XX:-UsePerfData keeps the JVM
    # from writing its hsperfdata file to the system temp directory
    return [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-XX:-UsePerfData",
            "-Duser.timezone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]


def java(root, cp, opts, work, args, timeout):
    cmd = (["java"] + opts + jvm_flags(work) + ["-cp", cp, "graftbench.Main"] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    rc = run_child(cmd, timeout, root, child_env(work))
    if rc != 0:
        raise SystemExit(f"benchmark JVM exited with code {rc}")


def ensure_data(root, cp, opts, data):
    """Generates the sf0.1 tables once per checkout; an interrupted
    generation leaves only a directory the next run discards."""
    if os.path.isdir(data):
        return
    tmp = data + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    work = os.path.join(root, ".bench_work")
    log("generating sf0.1 driver tables")
    java(root, cp, opts, work, ["gen", tmp], GEN_TIMEOUT_S)
    os.rename(tmp, data)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["tail", "heavy", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: graft's sources (src/main/scala/graft) are not here; "
                         "run from the root of a graft checkout")
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp, opts = build(root, build_dir)
    data = os.path.join(root, ".bench_data", "sf0.1")
    ensure_data(root, cp, opts, data)

    work = os.path.join(root, ".bench_work")
    shutil.rmtree(work, ignore_errors=True)
    raw_path = os.path.join(work, "raw.json")
    try:
        java(root, cp, opts, work,
             ["run", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--data", data, "--work", work, "--out", raw_path,
              "--cores", str(CORES), "--fingerprints", os.path.join(HERE, "fingerprints.tsv")],
             JVM_TIMEOUT_S)
        raw = json.load(open(raw_path))
        if a.trace:
            os.makedirs(os.path.join(root, ".bench_out"), exist_ok=True)
            shutil.copy(raw_path, os.path.join(root, ".bench_out",
                                               f"trace-{a.workload}-{a.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for line in summarize.report(raw):
        print(line)
    attempted, failed = raw["attempted"], raw["failed"]
    if a.trace:
        metrics = summarize.per_layer(raw)
        for name in summarize.REPORT_ONLY:
            v, unit = metrics.pop(name)
            print(f"{name} = {v:.6g} {unit}")
        _, violations = summarize.query_splits(raw)
        for v in violations:
            print(f"trace check failed: {v}")
        # the trace's own consistency check counts as one operation
        attempted += 1
        failed += 1 if violations else 0
        for name, secs in sorted(summarize.self_times(raw["spans"]).items()):
            print(f"self time {name} = {secs:.4f} s")
        print(f"tracing overhead = {metrics['trace.overhead'][0]:.2f} % of query latency")
    else:
        metrics = summarize.end_to_end(raw)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
