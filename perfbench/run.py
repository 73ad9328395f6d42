#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload folds --seed 1 --seconds 8 --trace 0

Run from the repository root. The first run builds the program and the
benchmark runner with sbt (perfbench/build.sbt); later runs start the JVM
directly. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
LAUNCH = os.path.join(BENCH, "target", "launch.txt")

sys.path.insert(0, BENCH)
import gen  # noqa: E402
import oracle  # noqa: E402

# Each workload's fixture: its scale factor and the tables generated from
# --seed (written as several part files). The seed also sets the query order
# of every pass. The other tables are the same for every seed, so
# data-dependent loops (PageRank's convergence, the tokenizer training in
# set-up) do the same work in every run. The query lists live in
# Workloads.scala.
WORKLOADS = {
    "folds": {"sf": 0.02, "seeded": ("lineitem", "orders")},
    "loops_lake": {"sf": 0.001, "seeded": ()},
}
# set-ups timed per run; setup_s is their median, so the one cold set-up
# in a fresh JVM does not set it
SETUPS = 3
# a fixed heap, so it is not resized while passes are timed; no
# hsperfdata file in the system temp dir
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData"]
RUN_LIMIT_S = 170  # a run, build excluded, must end within this
MAX_SECONDS = 60  # the longest --seconds that still ends within RUN_LIMIT_S

END_TO_END = {"wall_s": "s", "query_p50_s": "s", "setup_s": "s", "ok_frac": "ratio"}
PER_LAYER = {
    "queries.construct_s": "s", "queries.execute_s": "s", "queries.construct_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "catalyst.query_executions": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.job_busy_s": "s", "scheduler.driver_gap_s": "s",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.deserialize_s": "s", "executor.busy_frac": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s", "shuffle.spill_bytes": "bytes",
    "sources.scan_bytes": "bytes", "sources.scan_rows": "count",
    "graftshard.write_cmds": "count", "graftshard.write_s": "s",
    "graftshard.files_on_disk": "count", "graftshard.disk_bytes": "bytes",
    "cache.persisted_frames": "count", "cache.peak_cached_bytes": "bytes",
    "jvm.heap_used_peak_bytes": "bytes",
    "trace.wall_s": "s", "trace.overhead_frac": "ratio",
    "steady.drift_frac": "ratio", "setup.cold_s": "s", "setup.warm_pass_s": "s",
}


class Fail(Exception):
    """A one-line reason the benchmark cannot produce a result."""


class Parser(argparse.ArgumentParser):
    def error(self, message):
        raise Fail(message)


def _bounded_int(lo, hi):
    def parse(text):
        try:
            v = int(text)
        except ValueError:
            raise argparse.ArgumentTypeError(f"must be a whole number, got {text!r}")
        if not lo <= v <= hi:
            raise argparse.ArgumentTypeError(f"must be in [{lo}, {hi}], got {v}")
        return v
    return parse


def parse_args(argv):
    p = Parser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", required=True, type=_bounded_int(0, 2**31 - 1))
    p.add_argument("--seconds", required=True, type=_bounded_int(1, MAX_SECONDS))
    p.add_argument("--trace", type=_bounded_int(0, 1), default=0)
    p.add_argument("--cores", type=_bounded_int(1, 256),
                   default=len(os.sched_getaffinity(0)))
    return p.parse_args(argv)


def _sources_digest():
    """Digest of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for path in paths:
            h.update(path.encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the runner unless the launch file is current."""
    entry = os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isfile(entry)):
        raise Fail("program sources not found: run from a checkout of the repository")
    digest = _sources_digest()
    stamp = LAUNCH + ".digest"
    if os.path.isfile(LAUNCH) and os.path.isfile(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "launchFile"],
                                cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=840).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            raise Fail(f"build failed: {e}")
    if rc != 0 or not os.path.isfile(LAUNCH):
        raise Fail(f"build failed (sbt exit {rc}); see {os.path.relpath(log, ROOT)}")
    with open(stamp, "w") as f:
        f.write(digest)


def fixture(workload, sf, seed):
    """The seeded fixture for this workload, generated once per checkout."""
    spec = WORKLOADS[workload]
    base = os.path.join(WORK, "fixtures")
    key = "-".join([f"sf{sf}", *(f"{t}{seed}" for t in spec["seeded"])])
    path = os.path.join(base, f"{key}-gen{gen.GEN_VERSION}")
    gen.generate(path, sf, seed, spec["seeded"])
    os.utime(path)
    # keep the few most recently used fixtures
    for old in sorted(os.scandir(base), key=lambda e: e.stat().st_mtime)[:-6]:
        shutil.rmtree(old.path, ignore_errors=True)
    return path


def run_jvm(args, data, run_dir, deadline):
    """Run graft.perfbench.Runner; return its result JSON."""
    with open(LAUNCH) as f:
        cp, *opts = f.read().splitlines()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    cmd = (["java"] + [o for o in opts if not o.startswith("-Xmx")]
           + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graft.perfbench.Runner",
              f"workload={args.workload}", f"data={data}", f"seed={args.seed}",
              f"seconds={args.seconds}", f"trace={args.trace}", f"cores={args.cores}",
              f"setups={SETUPS}", f"dump={os.path.join(run_dir, 'dump')}", f"out={out}",
              "spans=" + os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")])
    # Spark prefers these over java.io.tmpdir for its block-manager dirs;
    # without them every scratch file stays under run_dir
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_EXECUTOR_DIRS")}
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise Fail("benchmark JVM did not finish in time")
        finally:
            # also on SIGTERM or Ctrl-C: the JVM never outlives the run
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.isfile(out):
        with open(log) as f:
            tail = [l for l in f.read().splitlines() if "Exception" in l or "Error" in l][-3:]
        raise Fail(f"benchmark JVM failed (exit {rc}): {' | '.join(tail)}")
    with open(out) as f:
        return json.load(f)


def summarize(result, check, trace):
    """The printed JSON object, from the JVM's result and the output check."""
    queries = result["queries"]
    bad = {q for q, why in check.items() if why} | set(result["errors"]) & set(queries)
    timed = [p for p in result["passes"] if not p["traced"]]
    executions = sum(len(p["queries"]) for p in result["passes"])
    failed_exec = sum(1 for p in result["passes"] for v in p["queries"].values() if v < 0)
    if trace:
        metrics = {k: {"value": result["layers"][k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        latencies = [v for p in timed for v in p["queries"].values() if v >= 0]
        if not latencies:
            raise Fail("no query of the workload succeeded")
        values = {
            "wall_s": statistics.median(p["wall_s"] for p in timed),
            "query_p50_s": statistics.median(latencies),
            "setup_s": statistics.median(result["setup_s"]),
            "ok_frac": 1 - len(bad) / len(queries),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    for k, m in metrics.items():
        if not (isinstance(m["value"], float) and math.isfinite(m["value"])):
            raise Fail(f"metric {k} is not a finite number: {m['value']!r}")
    return {
        "correct": not bad and "selfcheck" not in result["errors"],
        "attempted": len(queries) + executions,
        "failed": sum(1 for why in check.values() if why) + failed_exec,
        "metrics": metrics,
    }


def main(argv):
    start = time.monotonic()
    args = parse_args(argv)
    built = time.monotonic()
    build()
    # the first run in a checkout builds; the build is not held to the limit
    deadline = start + RUN_LIMIT_S + (time.monotonic() - built)
    data = fixture(args.workload, WORKLOADS[args.workload]["sf"], args.seed)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        result = run_jvm(args, data, run_dir, deadline)
        check = oracle.compare(ROOT, data, os.path.join(run_dir, "dump"), result["queries"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    summary = summarize(result, check, args.trace == 1)
    for q, why in sorted(check.items()):
        if why:
            print(f"perfbench: {q} failed its check: {why}", file=sys.stderr)
    for q, why in sorted(result["errors"].items()):
        print(f"perfbench: {q}: {why}", file=sys.stderr)
    print(f"perfbench: {args.workload} seed {args.seed} in {time.monotonic() - start:.1f} s",
          file=sys.stderr)
    print(json.dumps(summary))


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main(sys.argv[1:])
    except Fail as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
