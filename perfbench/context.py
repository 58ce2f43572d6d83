"""State shared by one run's workload code: arguments, Spark, the tracer
and the tally of operations attempted and failed."""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

from spans import Tracer


class Aborted(RuntimeError):
    """An operation failed in a way the run cannot continue from."""


class Run:
    """State of one run: arguments, Spark, the tracer, and the tally of
    operations attempted and failed."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.spark = None
        self.tracer = Tracer()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.info: dict = {}  # recorded in the artifact, not gated

    def dir(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def timed(self, fn, fatal: bool = False):
        """Run one operation; returns (result, seconds). A raised exception
        counts as a failed operation and returns (None, None), or aborts the
        run when ``fatal``."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001 -- every failure is tallied and reported
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {e}"[:500])
            traceback.print_exc(file=sys.stderr)
            if fatal:
                raise Aborted(self.errors[-1]) from e
            return None, None
        return out, time.perf_counter() - t0

    def check(self, error: str | None) -> None:
        """Count a wrong result as a failed operation (it was already
        counted as attempted by ``timed``)."""
        if error:
            self.failed += 1
            self.errors.append(error[:500])
            print(f"CHECK FAILED: {error}", file=sys.stderr)


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n <= 10:
        return None
    s = sorted(xs)
    k = n - 11  # index with exactly ten samples above it
    return {"percentile": round(100.0 * (k + 1) / n, 1), "value": s[k], "samples": n}
