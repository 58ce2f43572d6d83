#!/usr/bin/env python3
"""Interleaved A/B bench: baseline tree vs optimized tree, same weather.

The host's idle-box noise band is wide (hypervisor steal drifts 0-8% across
an afternoon), so separate before/after bench runs mostly measure weather.
This harness interleaves COLD child samples (bench.py's own child mode --
identical measurement) from TWO checkouts, alternating A/B order per round,
so both trees see the same noise distribution; per-query medians and the
A/B ratio then attribute differences to CODE, not host state.

Usage:
  python tools/ab_bench.py --baseline /tmp/r14_baseline [--rounds 4]
          [--out /tmp/ab_bench.json]

The baseline dir is a plain git worktree of the pre-optimization commit.
Each child is `python bench.py` with SPARK_GRAFT_BENCH_CHILD=1 run with
that tree's bench.py, so each tree imports its own engine code. Steal% and
load are recorded per sample; no gating (interleaving replaces it) but the
per-sample steal stays in the artifact for adjudication.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

# Null-experiment calibration (OPTIMIZATION_r14, /tmp/ab_null.json): with
# IDENTICAL code in both slots this harness's per-query MEDIANS read a
# 1.9x "regression", because the box's hypervisor steal arrives in
# multi-minute bursts that land on whole child samples (steal 5-9% on
# 3/4 of one slot's samples vs 1/4 of the other's). Medians over burst-
# contaminated samples measure the bursts, not the code. The robust
# statistic is the MIN over CLEAN samples (steal-gated), with each child
# launch additionally gated on pre-launch 1-min load so a child never
# starts in the tail of the previous child's load. Both are implemented
# below; the median table is kept in the artifact for comparison.

LOAD_GATE = 0.5
LOAD_WAIT_S = 30
LOAD_MAX_WAITS = 8
CLEAN_STEAL_PCT = 1.5


def _gate_load() -> float:
    load = os.getloadavg()[0]
    for _ in range(LOAD_MAX_WAITS):
        if load <= LOAD_GATE:
            break
        time.sleep(LOAD_WAIT_S)
        load = os.getloadavg()[0]
    return round(load, 2)


def run_child(tree: str) -> dict:
    bench = os.path.join(tree, "bench.py")
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, bench],
        env={**os.environ, "SPARK_GRAFT_BENCH_CHILD": "1"},
        capture_output=True,
        text=True,
        timeout=1800,
        cwd=tree,
    )
    if proc.returncode != 0:
        print(proc.stderr[-4000:], file=sys.stderr)
        raise RuntimeError(f"child in {tree} failed rc={proc.returncode}")
    payload = json.loads(proc.stdout.strip().splitlines()[-1])
    payload["wall"] = round(time.time() - t0, 1)
    return payload


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--baseline", required=True, help="worktree of the before commit")
    ap.add_argument(
        "--optimized", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    ap.add_argument("--rounds", type=int, default=4)
    ap.add_argument("--out", default="/tmp/ab_bench.json")
    ap.add_argument(
        "--gate",
        action="store_true",
        help="wait for pre-launch 1-min load <= %s before each child"
        % LOAD_GATE,
    )
    args = ap.parse_args()

    samples: dict[str, list[dict]] = {"A": [], "B": []}
    for r in range(args.rounds):
        # alternate order so slow drift hits both trees symmetrically
        order = [("A", args.baseline), ("B", args.optimized)]
        if r % 2:
            order.reverse()
        for label, tree in order:
            load = _gate_load() if args.gate else None
            p = run_child(tree)
            p["load_start"] = load
            samples[label].append(p)
            print(
                f"round {r} {label}: total="
                f"{round(sum(p['queries'].values()), 2)}s steal={p.get('steal_pct')}%"
                f" load_start={load}",
                file=sys.stderr,
                flush=True,
            )

    names = sorted(samples["A"][0]["queries"])

    def _clean(side: str) -> list[dict]:
        c = [
            s
            for s in samples[side]
            if s.get("steal_pct") is not None and s["steal_pct"] <= CLEAN_STEAL_PCT
        ]
        return c or samples[side]  # never empty: fall back to everything

    clean_a, clean_b = _clean("A"), _clean("B")
    table = {}
    min_table = {}
    for n in names:
        a = statistics.median(s["queries"][n] for s in samples["A"])
        b = statistics.median(s["queries"][n] for s in samples["B"])
        table[n] = {
            "before": round(a, 3),
            "after": round(b, 3),
            "ratio": round(b / a, 3) if a else None,
        }
        ma = min(s["queries"][n] for s in clean_a)
        mb = min(s["queries"][n] for s in clean_b)
        min_table[n] = {
            "before": round(ma, 3),
            "after": round(mb, 3),
            "ratio": round(mb / ma, 3) if ma else None,
        }
    tot_a = statistics.median(sum(s["queries"].values()) for s in samples["A"])
    tot_b = statistics.median(sum(s["queries"].values()) for s in samples["B"])
    mtot_a = min(sum(s["queries"].values()) for s in clean_a)
    mtot_b = min(sum(s["queries"].values()) for s in clean_b)
    out = {
        "rounds": args.rounds,
        # headline statistic: min over steal-clean samples (see header)
        "per_query_min_clean": min_table,
        "n_clean": {"A": len(clean_a), "B": len(clean_b)},
        "min_clean_total_before": round(mtot_a, 3),
        "min_clean_total_after": round(mtot_b, 3),
        "min_clean_total_ratio": round(mtot_b / mtot_a, 3),
        # legacy median table, kept for artifact comparability
        "per_query": table,
        "total_before": round(tot_a, 3),
        "total_after": round(tot_b, 3),
        "total_ratio": round(tot_b / tot_a, 3),
        "steals_before": [s.get("steal_pct") for s in samples["A"]],
        "steals_after": [s.get("steal_pct") for s in samples["B"]],
        "raw": samples,
    }
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "raw"}, indent=1))


if __name__ == "__main__":
    main()
