#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each end-to-end metric's
median and quartile spread, the steadiness test the bounds in
BENCHMARK.json are held to.

    python3 perfbench/spread.py --workload cdc_trickle --seeds 1-10 --out perfbench/evidence/x.json

Spread is (Q3 - Q1) / median over the runs, with quartiles from
``statistics.quantiles(values, n=4)``. Runs are made one after another.
The output also keeps every run's ticks or passes, warm-up included.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def samples(workload: str, seed: int, trace: int) -> dict | None:
    """Every tick or pass of a run, warm-up included, the CPU steal during
    the run and its ungated numbers, from its artifact: they show whether
    the measured window is steady."""
    path = os.path.join(ROOT, ".perfbench", "out", f"{workload}-s{seed}-t{trace}.json")
    try:
        with open(path) as f:
            art = json.load(f)
    except (OSError, ValueError):
        return None
    keep = ("warmup_ticks", "ticks", "warmup_passes", "passes")
    out = {k: art["samples"][k] for k in keep if k in art.get("samples", {})}
    out["steal_pct"] = art.get("env", {}).get("steal_pct")
    out["end_to_end"] = art.get("end_to_end")  # with the recorded, ungated numbers
    out["extra"] = art.get("extra")
    return out


def summarize(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "values": values}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    runs = []
    for seed in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload, "--seed",
             str(seed), "--seconds", str(spec["run_seconds"]), "--trace", str(a.trace)],
            cwd=ROOT, capture_output=True, text=True,
        )
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else None
        wall = time.time() - t0
        runs.append({"seed": seed, "exit": p.returncode, "wall_s": wall, "result": result,
                     "samples": samples(a.workload, seed, a.trace)})
        brief = {k: round(v["value"], 4) for k, v in (result or {}).get("metrics", {}).items()}
        print(f"seed {seed}: exit {p.returncode} wall {wall:.1f}s "
              f"correct {result and result['correct']} {brief}", flush=True)
    ok = [r["result"] for r in runs if r["result"]]
    names = sorted({n for res in ok for n in res["metrics"]})
    summary = {n: summarize([res["metrics"][n]["value"] for res in ok if n in res["metrics"]])
               for n in names}
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    for n, s in summary.items():
        b = bounds.get(n)
        flag = "" if b is None else (" OK" if s["spread"] <= b / 3 else
                                     (" within bound" if s["spread"] <= b else " OVER BOUND"))
        print(f"{n}: median {s['median']:.4g} spread {s['spread']:.3f} (bound {b}){flag}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seeds": a.seeds, "trace": a.trace,
                       "summary": summary, "runs": runs,
                       "total_wall_s": sum(r["wall_s"] for r in runs)}, f, indent=1)
    return 0 if all(r["exit"] == 0 for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
