#!/usr/bin/env python3
"""The graft benchmark: one closed-loop client per workload on Spark local[N].

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 graftbench/run.py --selftest

Workloads (see graftbench/README.md): backfill_jdbc, index_serve, index_churn.
The first run in a checkout compiles graft and the benchmark (build.py). The
last line of standard output is the result object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("backfill_jdbc", "index_serve", "index_churn")
RUN_TIMEOUT_S = 170
SELFTEST_TIMEOUT_S = 600


def is_result(line):
    """The result object: {"correct", "attempted", "failed", "metrics"}."""
    if not line.startswith("{"):
        return False
    try:
        return set(json.loads(line)) == {"correct", "attempted", "failed", "metrics"}
    except ValueError:
        return False


def run_java(cmd, timeout):
    """Run the JVM in its own process group, relaying its stdout from a
    reader thread; kill the group at `timeout`. Returns (exit code, result
    line)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    lines = []

    def relay():
        for line in proc.stdout:
            line = line.rstrip("\n")
            lines.append(line)
            if line and not is_result(line):
                print(line, flush=True)

    reader = threading.Thread(target=relay, daemon=True)
    reader.start()

    def stop(signum, _frame):
        # the JVM runs in its own process group: take it down with us
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, stop)
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"[graftbench] run exceeded {timeout}s; killed", file=sys.stderr)
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        reader.join(timeout=5)
        return 124, None
    reader.join()
    results = [x for x in lines if is_result(x)]
    return proc.returncode, (results[-1] if results else None)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    try:
        classpath = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"[graftbench] build failed: {e}", file=sys.stderr)
        return 2

    tag = "selftest" if a.selftest else f"{a.workload}-{a.seed}"
    work = os.path.join(build.OUT, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        jvm = build.jvm_args(classpath, work)
        if a.selftest:
            code, _ = run_java(jvm + ["graftbench.SelfTest", "--work", work,
                                      "--fixture", build.FIXTURE], SELFTEST_TIMEOUT_S)
            return code
        code, result = run_java(jvm + [
            "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--fixture", build.FIXTURE,
            "--out", os.path.join(build.OUT, "traces")],
            RUN_TIMEOUT_S)
        if code != 0 or result is None:
            print(f"[graftbench] run failed (exit {code})", file=sys.stderr)
            return code or 1
        print(result, flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
