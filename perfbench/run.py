"""Benchmark launcher.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run from the root of a source tree. The launcher

- gives the run a private directory under ``.perfbench_runs/`` (its own
  ``TMPDIR``, Spark local dir and index directories), so nothing cached by
  an earlier run or another tree is reused;
- sets ``SPARK_GRAFT_CPUS`` to the usable core count and a
  ``SPARK_DRIVER_MEM`` that fits the machine;
- runs ``perfbench/bench.py`` in a child process, stops every process the
  run started (the JVM and the PySpark workers included) and waits for
  each to end;
- prints the result object as the last line of standard output.

It exits non-zero, printing no result, when the tree has no
``ee_outliers_spark`` package, or when the run fails or overruns.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from spans import process_tree  # noqa: E402

RUN_TIMEOUT_S = 170
PR_SET_CHILD_SUBREAPER = 36


def driver_mem() -> str:
    """A quarter of physical memory, at most 2 GiB, at least 1 GiB."""
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh
                        if line.startswith("MemTotal:"))
    return f"{max(1024, min(2048, total_kb // 4096))}m"


def run_env(run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    mem = driver_mem()
    jvm_files = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env = dict(os.environ)
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": mem,
        # the session's default heap option; every JVM (spark-submit's
        # launcher too) keeps its temp files in the run directory and
        # writes no hsperfdata file
        "SPARK_DRIVER_JAVA_OPTS": f"-Xms{mem} {jvm_files}",
        "SPARK_LAUNCHER_OPTS": jvm_files,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": ROOT,
    })
    return env


def reap_all(grace_s: float = 20.0) -> None:
    """Stop every process left from the run and wait for each to end.
    As child subreaper this process inherits every orphaned descendant."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] != 0:
                pass
        except ChildProcessError:
            return
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        for pid in process_tree()[1:]:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)


def main() -> int:
    ap = argparse.ArgumentParser(description="perfbench launcher")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "ee_outliers_spark",
                                       "__init__.py")):
        print("perfbench: no ee_outliers_spark package in this tree",
              file=sys.stderr)
        return 2

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    signal.signal(signal.SIGTERM, _terminate)

    runs = os.path.join(ROOT, ".perfbench_runs")
    run_dir = os.path.join(runs, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    out = os.path.join(run_dir, "result.json")
    proc = None
    try:
        env = run_env(run_dir)
        cmd = [sys.executable, os.path.join(HERE, "bench.py"),
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--run-dir", run_dir, "--out", out]
        # the worker's output (Spark's included) goes to stderr; stdout
        # carries only the result line
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print("perfbench: run overran", file=sys.stderr)
            rc = -1
        reap_all()
        if rc != 0 or not os.path.exists(out):
            print(f"perfbench: run failed (exit {rc})", file=sys.stderr)
            return 1
        with open(out) as fh:
            result = json.load(fh)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        reap_all()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
