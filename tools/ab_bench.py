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
  python tools/ab_bench.py --baseline <parent tree> --workload headline_queries
          [--rounds 10] [--seed 101] [--out /tmp/ab_perfbench.json]

The baseline dir is a plain git worktree of the pre-optimization commit.
Each child is `python bench.py` with SPARK_GRAFT_BENCH_CHILD=1 run with
that tree's bench.py, so each tree imports its own engine code. Steal% and
load are recorded per sample; no gating (interleaving replaces it) but the
per-sample steal stays in the artifact for adjudication.

With ``--workload`` the harness runs perfbench instead: ``--rounds`` pairs
of ``perfbench/run.py --trace 0`` runs of that workload, one per tree, in
alternating order, pair i with seed ``--seed`` + i and the run length from
``BENCHMARK.json``. For every end-to-end metric it reports each pair's
values, the change's wins (ties count for neither), both medians, the
parent's quartiles and IQR, the gain rule (wins in at least 9/10 of the
pairs and a median gap larger than the parent's IQR) and whether the
change's median stays within the metric's regression bound, plus each
run's CPU steal, in one JSON artifact.
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


def run_perfbench(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """One untraced perfbench run in ``tree``: correctness, metric values and
    the CPU steal its artifact recorded."""
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, timeout=900, cwd=tree,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode not in (0, 1) or not lines:
        print(proc.stderr[-4000:], file=sys.stderr)
        raise RuntimeError(f"perfbench in {tree} failed rc={proc.returncode}")
    result = json.loads(lines[-1])
    with open(os.path.join(tree, ".perfbench", "out", f"{workload}-s{seed}-t0.json")) as f:
        steal = json.load(f).get("env", {}).get("steal_pct")
    return {
        "seed": seed,
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {n: m["value"] for n, m in result["metrics"].items()},
        "steal_pct": steal,
    }


def compare_pairs(parent: list[float], change: list[float], better: str, bound: float | None) -> dict:
    """The gain and regression rules over paired runs of one metric."""
    sign = 1 if better == "lower" else -1
    wins = sum(sign * (p - c) > 0 for p, c in zip(parent, change))
    q1, _, q3 = statistics.quantiles(parent, n=4)
    pm, cm = statistics.median(parent), statistics.median(change)
    gap = sign * (pm - cm)  # > 0: the change is better
    return {
        "parent": parent,
        "change": change,
        "wins": wins,
        "pairs": len(parent),
        "parent_median": pm,
        "change_median": cm,
        "parent_q1": q1,
        "parent_q3": q3,
        "parent_iqr": q3 - q1,
        "gain": wins >= 0.9 * len(parent) and gap > q3 - q1,
        "within_bound": None if bound is None else -gap <= bound * pm,
    }


def perfbench_ab(args) -> None:
    with open(os.path.join(args.optimized, "BENCHMARK.json")) as f:
        spec = json.load(f)
    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    for i in range(args.rounds):
        seed = args.seed + i
        order = [("parent", args.baseline), ("change", args.optimized)]
        if i % 2:
            order.reverse()
        for side, tree in order:
            r = run_perfbench(tree, args.workload, seed, spec["run_seconds"])
            runs[side].append(r)
            print(f"pair {i} seed {seed} {side}: correct={r['correct']} "
                  f"{r['metrics']} steal={r['steal_pct']}%", file=sys.stderr, flush=True)
    metrics = {}
    for m in spec["end_to_end"]:
        pairs = [(p["metrics"].get(m["name"]), c["metrics"].get(m["name"]))
                 for p, c in zip(runs["parent"], runs["change"])]
        pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
        if len(pairs) >= 2:
            metrics[m["name"]] = compare_pairs(
                [p for p, _ in pairs], [c for _, c in pairs], m["better"], m.get("bound"))
    out = {
        "workload": args.workload,
        "pairs": args.rounds,
        "seeds": [args.seed + i for i in range(args.rounds)],
        "run_seconds": spec["run_seconds"],
        "trees": {"parent": os.path.abspath(args.baseline), "change": os.path.abspath(args.optimized)},
        "metrics": metrics,
        "correct": {side: sum(r["correct"] for r in rs) for side, rs in runs.items()},
        "steal_pct": {side: [r["steal_pct"] for r in rs] for side, rs in runs.items()},
        "runs": runs,
    }
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "runs"}, indent=1))


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
    ap.add_argument("--workload", help="run this perfbench workload instead of bench.py")
    ap.add_argument("--seed", type=int, default=101, help="perfbench seed of the first pair")
    args = ap.parse_args()
    if args.workload:
        perfbench_ab(args)
        return

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
