#!/usr/bin/env python3
"""Run one workload of the graft benchmark.

    python3 perfbench/run.py --workload <sql_collection|wire_serve|curate_dedup> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source on first use (see
build.py), runs the workload in one JVM and prints its report; the last
line of standard output is the JSON result. Spark's log goes to
.bench_build/logs/. All scratch data lives in a per-run directory under
.bench_build that is removed when the run ends. Exits non-zero, without a
result line, if the build or the run fails.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # write nothing outside .bench_build
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("sql_collection", "wire_serve", "curate_dedup")
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()
    try:
        cp = build.ensure_built()
    except build.BuildError as e:
        print("[perfbench] build failed: %s" % e, file=sys.stderr)
        return 2
    work = os.path.join(build.OUT, "run-%d" % os.getpid())
    logs = os.path.join(build.OUT, "logs")
    os.makedirs(work)
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, "%s-seed%d-trace%s.log" % (a.workload, a.seed, a.trace))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = build.java_cmd(cp, "graftbench.Main",
                         ["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", a.trace,
                          "--work", work], tmp)
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                                    stderr=log, text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                print("[perfbench] run exceeded %d s" % RUN_TIMEOUT_S, file=sys.stderr)
                return 3
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        print("[perfbench] run failed (exit %d), log: %s" % (proc.returncode, log_path),
              file=sys.stderr)
        return proc.returncode or 4
    sys.stdout.write(out)
    if '"correct": false' in lines[-1]:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
