#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload payload-decode --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark if a source changed (see build.py), then
runs the workload in one JVM (a traced run first runs the kernel and
framing probes in a JVM of their own). The JVM prints a metric table and, as the last
line of standard output, one JSON object with `correct`, `attempted`,
`failed` and `metrics`. Each run works in its own directory under
`.bench_build/perfbench-runs/` and removes it at exit; reports and span
files land in `.bench_out/`.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

import build

WORKLOADS = ("payload-decode", "ocf-scan", "ocf-commit", "corpus-ops")
# The JVM must answer well inside the 180 s a run may take.
JVM_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (as build.sbt sets them).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# A fixed heap and young generation (no adaptive sizing), small enough that
# every measured window sees collections.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-Xmn256m", "-XX:+UseParallelGC",
             "-XX:-UseAdaptiveSizePolicy", "-Xss4m"]
# The workload JVM compiles with C1 only. C2 was still compiling Spark's code
# in the measured window after a 17 s warm-up (both compiler threads busy),
# and the window figures spread two to three times as much as under C1. C1
# alone would shrink the code cache to 48 MB, which Spark's generated classes
# fill within a run; the cache keeps the tiered default of 240 MB. The
# kernel and framing probes of a traced run measure single-threaded decode
# loops, where C2 matters most, so they run in a JVM of their own with the
# default tiered JIT, as the engine runs when deployed.
WORKLOAD_JIT = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]
PROBE_JIT = []


def git_sha(root):
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else ""
    except (OSError, subprocess.SubprocessError):
        return ""


def main():
    # A terminating signal unwinds through `finally`, which stops the JVM.
    def stop(signum, frame):
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGHUP, stop)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    classpath, source_sha = build.build()
    root = build.ROOT
    run_dir = os.path.join(root, ".bench_build", "perfbench-runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(run_dir, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    deadline = time.monotonic() + JVM_TIMEOUT_S

    def jvm(jit, work_dir, extra):
        """Runs perfbench.Main in a JVM working under `work_dir`; returns its exit code."""
        cmd = (["java"] + JVM_FLAGS + jit + [f"-Djava.io.tmpdir={tmp}"]
               + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", classpath, "perfbench.Main",
                  "--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                  "--run-dir", work_dir, "--out-dir", out_dir,
                  "--git-sha", git_sha(root) or "none", "--source-sha", source_sha] + extra)
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work_dir, "spark-local"))
        proc = subprocess.Popen(cmd, cwd=root, env=env, start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            print(f"run: JVM exceeded {JVM_TIMEOUT_S} s; killed", file=sys.stderr)
            return 1
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()

    try:
        extra = []
        if args.trace:
            probes = os.path.join(run_dir, "probes.json")
            code = jvm(PROBE_JIT, os.path.join(run_dir, "probe-jvm"),
                       ["--probes-only", "1", "--probes-file", probes])
            if code != 0:
                return code
            extra = ["--probes-file", probes]
        return jvm(WORKLOAD_JIT, run_dir, extra)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
