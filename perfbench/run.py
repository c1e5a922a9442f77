#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout:

    python3 perfbench/run.py --workload route_agg --seed 1 --trace 0
    python3 perfbench/run.py --selftest

Workload names and the default --seconds come from BENCHMARK.json.

Builds the engine and the benchmark if needed (perfbench/build.py), then
runs the workload in one JVM. The JVM prints every metric with its unit
and sample count; its last stdout line is the JSON result. The exit code
is non-zero when an output check failed or the run could not complete.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the package directory free of build output
import build  # noqa: E402

JVM_TIMEOUT_S = 170


def benchmark_json():
    path = os.path.join(build.ROOT, "BENCHMARK.json")
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError) as e:
        sys.exit(f"[perfbench] cannot read {os.path.relpath(path, build.ROOT)}: {e}")


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none (not a git checkout)"
    except (OSError, subprocess.SubprocessError):
        return "none (git unavailable)"


def main():
    spec = benchmark_json()
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")

    try:
        out, jars, fp, fresh = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    cmd = build.jvm(out, jars)
    if a.selftest:
        cmd += ["perfbench.SelfTest", "--root", build.ROOT]
    else:
        cmd += ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--root", build.ROOT,
                "--nproc", str(len(os.sched_getaffinity(0))), "--git", git_commit(), "--source", fp,
                "--build", "fresh" if fresh else "cached"]
    proc = subprocess.Popen(cmd, cwd=build.ROOT)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"[perfbench] run exceeded {JVM_TIMEOUT_S} s and was stopped", file=sys.stderr)
        return 3


if __name__ == "__main__":
    sys.exit(main())
