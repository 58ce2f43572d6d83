"""Close-of-round certification ritual, mechanized.

Runs the full oracle sweep at BOTH scales under the driver-like vanilla
session, AFTER the round's last code change, and writes CERTIFICATION.json
at the repo root: the commit, ``len(QUERIES)``, and per scale the pass and
fail counts, the failed names and the sweep seconds. Every count is derived
from the live registry, never hand-typed; tests/test_doc_counts.py then
checks that the committed certification matches the registry.

Usage: python tools/close_round.py <round_number>
Exits non-zero if any query fails either sweep (the file still records the
red, so a stale green cannot survive a red re-run).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# Sweep-time budget awareness: the availableNow streaming gates each run a
# real bounded stream (~8-17 s), so every full-registry sweep carries a
# fixed streaming cost. The certification records per-scale wall-clock and
# the streaming family's share; if the family ever exceeds this fraction of
# a sweep, run it once (not twice) in the double-certification ritual.
STREAM_BUDGET_FRACTION = 0.25


def _commit() -> str:
    """HEAD's hash, suffixed ``+dirty`` when tracked files differ from it."""
    git = ["git", "-C", REPO]
    head = subprocess.run([*git, "rev-parse", "HEAD"], capture_output=True, text=True)
    dirty = subprocess.run(
        [*git, "status", "--porcelain", "--untracked-files=no"],
        capture_output=True,
        text=True,
    )
    return head.stdout.strip() + ("+dirty" if dirty.stdout.strip() else "")


def main() -> int:
    rnd = sys.argv[1] if len(sys.argv) > 1 else "?"
    from tools.verify_local import _vanilla_spark

    from pgsf_spark.analytics.registry import QUERIES
    from pgsf_spark.verify import verify_queries

    n = len(QUERIES)
    streaming = {name for name in QUERIES if name.startswith("stream_")}
    spark = _vanilla_spark()
    scales = {}
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        t0 = time.time()
        sresults = (
            verify_queries(spark, sf, only=streaming, log=lambda s: None)
            if streaming
            else {}
        )
        stream_sec = time.time() - t0
        bresults = verify_queries(
            spark, sf, only=set(QUERIES) - streaming, log=lambda s: None
        )
        results = {**sresults, **bresults}
        total_sec = time.time() - t0
        bad = sorted(name for name, ok in results.items() if not ok)
        scale = sf.rstrip("/").rsplit("/", 1)[-1]
        scales[scale] = {
            "pass": n - len(bad),
            "fail": len(bad),
            "failed": bad,
            "sweep_s": round(total_sec, 1),
            "streaming_s": round(stream_sec, 1),
        }
        share = stream_sec / total_sec if total_sec else 0.0
        print(
            f"{sf}: {n - len(bad)}/{n} green in {total_sec:.0f}s "
            f"(streaming family {stream_sec:.0f}s = {share:.0%})"
        )
        if share > STREAM_BUDGET_FRACTION:
            print(
                f"  NOTE: streaming share {share:.0%} exceeds the "
                f"{STREAM_BUDGET_FRACTION:.0%} budget -- run the streaming "
                f"family once (not twice) in the double-certification ritual"
            )
        if bad:
            print(f"RED at {sf}: {bad}")
    spark.stop()
    cert = {"round": rnd, "commit": _commit(), "n_queries": n, "scales": scales}
    with open(os.path.join(REPO, "CERTIFICATION.json"), "w") as fh:
        json.dump(cert, fh, indent=2)
        fh.write("\n")
    return 1 if any(s["fail"] for s in scales.values()) else 0


if __name__ == "__main__":
    sys.exit(main())
