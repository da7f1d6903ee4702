#!/usr/bin/env python3
"""Benchmark of the extraction engine: three batch workloads, one per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (each one job over a fixed seeded input, closed loop, one job at
a time, in one Spark session at local[<cores>]):

  extract_commit  ExtractMain's committed path: prune, extraction kernel
                  behind the bucket-key shuffle, bucketed write + manifests.
  curate_dedup    CurateMain.run over a corpus with planted exact and near
                  duplicates: many small Spark jobs (MinHash, LSH, CC loop).
  eval_fields     EvalJob.evaluate, one CSV per folder, folder summary.

Run from the repository root. The first run compiles the engine and the
benchmark into .bench_build/ (see build.py); scratch data goes to
.bench_work/ and is removed at exit; --trace 1 writes its spans, jobs and
stages as JSON lines to .bench_trace/<workload>-seed<n>.jsonl.

The last line of stdout is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are docs_per_s, setup_s and peak_rss_mb; with
--trace 1 they are the per-layer metrics listed in BENCHMARK.json,
including scaling_eff, for which the same process reruns the jobs at
local[1] pinned to one CPU (taskset). Exit code 0 only with a result.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402  (the benchmark's build file, beside this one)

ROOT = build.ROOT
WORKLOADS = ("extract_commit", "curate_dedup", "eval_fields")
DEADLINE_S = 170
HEAP = "3g"

# The engine build's forked-JVM options (build.sbt javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_command(classes, work, args, main="graft.perfbench.BenchMain"):
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    opts += [
        # fixed heap and generation sizes: the peak RSS and GC pauses then
        # depend on the work, not on how adaptive sizing drifted this run
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
    ]
    return ["java", *opts, "-cp", build.classpath([classes]),
            main, *args]


def run_jvm(cmd, work, deadline):
    """Run one benchmark process; return its last stdout line as JSON."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError("benchmark process ran out of time")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    lines = [ln for ln in out.splitlines() if ln.strip()]
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"benchmark process exited with {proc.returncode}")
    return json.loads(lines[-1])


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    return args


def main(argv=None):
    args = parse_args(argv)
    deadline = time.monotonic() + DEADLINE_S
    try:
        classes = build.ensure_built()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    deadline = max(deadline, time.monotonic() + DEADLINE_S - 10)  # a first build gets its own time
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    trace_out = os.path.join(ROOT, ".bench_trace", f"{args.workload}-seed{args.seed}.jsonl")
    try:
        result = run_jvm(jvm_command(classes, work, [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--pin-cpu", str(min(os.sched_getaffinity(0))),
            "--work", work, "--trace-out", trace_out]), work, deadline)
    except (RuntimeError, ValueError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if set(result) != {"correct", "attempted", "failed", "metrics"} or result["attempted"] < 1:
        print(f"perfbench: malformed result {result}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
