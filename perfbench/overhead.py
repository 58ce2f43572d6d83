#!/usr/bin/env python3
"""Tracing overhead: traced minus untraced end-to-end numbers.

    python3 perfbench/overhead.py --workload cdc_trickle --seeds 1-3 \\
        --out perfbench/evidence/overhead-cdc_trickle.json

For each seed, runs the workload untraced and traced back to back,
alternating which goes first, so both see the same host conditions. The
traced run's end-to-end numbers are ``traced_end_to_end`` in its artifact.
The first seed is traced a second time to record whether each per-layer
count repeats exactly.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

from spread import ROOT, seeds

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)  # metrics reads the query registry
import metrics  # noqa: E402


def run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                    "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                   cwd=ROOT, capture_output=True, check=True)
    with open(os.path.join(ROOT, ".perfbench", "out", f"{workload}-s{seed}-t{trace}.json")) as f:
        art = json.load(f)
    return art["traced_end_to_end"] if trace else art["end_to_end"], art


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-3")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    rows, repeats = [], []
    for i, seed in enumerate(seeds(a.seeds)):
        order = (0, 1) if i % 2 == 0 else (1, 0)
        got = {trace: run(a.workload, seed, seconds, trace) for trace in order}
        (u, _), (t, art) = got[0], got[1]
        share = {n: t[n] / u[n] - 1 for n in u}
        rows.append({"seed": seed, "first": "untraced" if order[0] == 0 else "traced",
                     "untraced": u, "traced": t, "overhead_share": share})
        print(f"seed {seed}: " + ", ".join(f"{n} {v:+.1%}" for n, v in share.items()), flush=True)
        if i == 0:
            _, again = run(a.workload, seed, seconds, 1)
            counts = [n for n, unit in metrics.layer_units().items() if unit == "count"]
            repeats = [{"metric": n, "first": art["per_layer"][n], "second": again["per_layer"][n]}
                       for n in counts]
            differ = [x["metric"] for x in repeats if x["first"] != x["second"]]
            print(f"counts traced twice on seed {seed}: {len(counts) - len(differ)} repeat, "
                  f"differ: {differ}", flush=True)
    median_share = {n: statistics.median(r["overhead_share"][n] for r in rows)
                    for n in rows[0]["overhead_share"]}
    print("median overhead: " + ", ".join(f"{n} {v:+.1%}" for n, v in median_share.items()))
    with open(a.out, "w") as f:
        json.dump({"workload": a.workload, "median_overhead_share": median_share,
                   "per_seed": rows, "exact_repeats": repeats}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
