#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 10 --trace 0

Run from the repository root. Pins the environment, starts one run of the
workload in a child process (``child.py``), relays its output -- the last
line is the JSON result -- and makes sure every process the run started has
ended before returning. Working files go under ``.perfbench/`` in the
repository root; nothing is written elsewhere.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 170  # a run must end within 180 s


def _group_alive(pgid: int) -> list[int]:
    alive = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            alive.append(int(d))
    return alive


def _stop_group(pgid: int) -> None:
    """Stop every process of the run's process group and wait until all
    have ended (the JVM and its Python workers are not our children)."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while _group_alive(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "pgsf_spark")):
        print(f"perfbench: no pgsf_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(ROOT, ".perfbench", "work", f"{tag}-{os.getpid()}")
    out = os.path.join(ROOT, ".perfbench", "out", f"{tag}.json")
    os.makedirs(work)
    env = dict(os.environ)
    env.update({
        # executors import pgsf_spark (TableStore's footer-stats job)
        "PYTHONPATH": ROOT,
        "PYTHONHASHSEED": "0",
        "TZ": "UTC",
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYSPARK_PYTHON": sys.executable,
    })
    os.makedirs(env["TMPDIR"])
    cmd = [sys.executable, os.path.join(HERE, "child.py"), "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--out", out]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)

    def on_signal(signum, _frame):
        raise SystemExit(128 + signum)  # runs the cleanup below

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S} s; stopping it", file=sys.stderr)
        code = 3
    finally:
        _stop_group(proc.pid)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
