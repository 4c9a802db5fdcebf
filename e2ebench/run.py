#!/usr/bin/env python3
"""Benchmark entry point.

    python3 e2ebench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 e2ebench/run.py --selftest

Builds the engine and harness from source (see build.py), runs one workload
in a fresh JVM and prints a context line, then the result as the last line
of stdout: {"correct", "attempted", "failed", "metrics"}. Everything the run
writes stays under the build directory ($CARGO_TARGET_DIR, else
.bench_build); the per-run work directory is removed afterwards and the
spans of a traced run are kept under <build>/traces/.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the benchmark directory free of caches
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("validate_quarantine", "curate_twopass", "query_mix")
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def jvm_cmd(classes, main, args, work):
    jars = os.path.join(build.spark_jars(), "*")
    resources = os.path.join(build.ROOT, "src", "main", "resources")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", *opens,
            "-Dlog4j2.configurationFile=" + os.path.join(build.ROOT, "e2ebench", "log4j2.properties"),
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", os.pathsep.join([classes, resources, jars]), main, *args]


def run_jvm(cmd, timeout):
    """Runs the JVM with its stdout sent to stderr; kills it on timeout or
    when this process is told to stop, and always waits for it to end."""
    # a SPARK_LOCAL_DIRS from the environment would override spark.local.dir
    # and send shuffle files outside the build directory
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, stdout=sys.stderr, env=env)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"[run] JVM exceeded {timeout} s, killed", file=sys.stderr)
        return 124


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    build_dir = os.path.join(build.ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build.build(build_dir)
    name = "selftest" if a.selftest else f"{a.workload}-{a.seed}-{a.trace}"
    work = os.path.join(build_dir, "runs", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    try:
        if a.selftest:
            return run_jvm(jvm_cmd(classes, "graftbench.SelfTest", [], work), JVM_TIMEOUT_S)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--out", out,
                "--cores", str(min(4, os.cpu_count() or 1))]
        rc = run_jvm(jvm_cmd(classes, "graftbench.Main", args, work), JVM_TIMEOUT_S)
        if rc != 0 or not os.path.exists(out):
            print(f"[run] harness failed (exit {rc}); no result", file=sys.stderr)
            return rc or 1
        if a.trace:
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(out + ".spans.json", os.path.join(traces, f"{name}.spans.json"))
        with open(out) as f:
            sys.stdout.write(f.read())
        sys.stdout.flush()
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
