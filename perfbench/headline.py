"""``headline_queries``: the repository's headline queries
(``bench.HEADLINE``, one per analytics module: ``metrics.QUERIES``) over
the committed sf0.01 tables in ``data/``, the tables the repository's
oracle gate runs on. The inputs are fixed: this workload ignores
``--seed``.

The first pass, in the fresh process, runs each query through
``pgsf_spark.verify.verify_queries``, which collects its result and checks
it against the query's DuckDB oracle (``oracle_sql()``). Three more
passes are run like measured ones and discarded: all four are warm-up
(pass times keep falling for several passes while the JVM compiles the
``noop`` plans and the planner's hot code). Then passes are
timed until ``--seconds`` have passed, each query to full materialization
with a ``noop`` write, after an untimed ``clearCache()`` and JVM GC; a
pass's time is the sum of its queries'.
"""

from __future__ import annotations

import time

import gen
import metrics
from context import Run, median
from eventlog import EventLog, totals

WARMUP_PASSES = 4  # the checked pass and three more


def _pass(r: Run, queries, step: str) -> tuple[float, dict]:
    """One timed pass: (sum of the query times, name -> seconds)."""
    from pgsf_spark.analytics.registry import QUERIES

    r.spark.catalog.clearCache()
    r.spark.sparkContext._jvm.System.gc()
    r.tracer.set_step(step)
    times = {}
    for layer, name in queries:
        def materialize(name=name):
            QUERIES[name].fn(r.spark, gen.DATA).write.format("noop").mode("overwrite").save()

        with r.tracer.span(layer):
            _, times[name] = r.timed(materialize)
    r.tracer.set_step(None)
    return sum(t for t in times.values() if t is not None), times


def run(r: Run, t_start: float, session_s: float) -> dict:
    """Warm-up and the measured passes. ``setup_s`` runs from process start
    (``t_start``) to the first measured pass."""
    from pgsf_spark.verify import verify_queries

    queries = metrics.headline_queries()
    t_warm = time.perf_counter()
    first: dict[str, float] = {}
    r.tracer.set_step("warmup-0")
    for layer, name in queries:
        log: list[str] = []
        with r.tracer.span(layer):
            ok, first[name] = r.timed(
                lambda: verify_queries(r.spark, gen.DATA, only=[name], log=log.append))
        if ok is not None and not ok.get(name):
            r.check("; ".join(log) or f"{name}: not run")
    r.tracer.set_step(None)
    warm = [sum(t for t in first.values() if t is not None)]
    for i in range(1, WARMUP_PASSES):
        warm.append(_pass(r, queries, f"warmup-{i}")[0])

    passes, per_query = [], {q: [] for _, q in queries}
    t_measure = time.perf_counter()
    while not passes or time.perf_counter() - t_measure < r.seconds:
        pass_s, times = _pass(r, queries, f"pass-{len(passes)}")
        passes.append(pass_s)
        for name, t in times.items():
            if t is not None:
                per_query[name].append(t)

    r.info["samples"] = {"warmup_passes": warm, "passes": passes, "per_query": per_query,
                         "first_pass": first}
    r.info["counts"] = {"warmup_passes": WARMUP_PASSES, "measured_passes": len(passes),
                        "oracle_checked": [q for _, q in queries],
                        "seed_note": "headline_queries ignores --seed: its tables are fixed"}
    r.info["phases_s"] = {"session": session_s, "warmup": t_measure - t_warm,
                          "measure": time.perf_counter() - t_measure}
    r.info["extra"] = {"first_pass_s": warm[0]}
    return {"setup_s": t_measure - t_start, "step_p50_s": median(passes)}


def layers(r: Run, log: EventLog, cores: int) -> dict:
    tr = r.tracer
    out = {**metrics.zeros("sync."), **metrics.zeros("sources."), **metrics.zeros("operators.")}
    for layer, _ in metrics.headline_queries():
        runs = [s for s in tr.named(layer) if (s.step or "").startswith("pass-")]
        t = [totals(log, log.jobs_where(span_ids=tr.subtree(s.id)), cores) for s in runs]
        out[f"{layer}_s"] = median([s.seconds for s in runs])
        out[f"{layer}_jobs"] = median([x["jobs"] for x in t])
        out[f"{layer}_max_stage_tasks"] = median([x["max_stage_tasks"] for x in t])
        out[f"{layer}_serial_exec_s"] = median([x["serial_exec_s"] for x in t])
        out[f"{layer}_shuffle_mb"] = median([x["shuffle_mb"] for x in t])
    steps = sorted({s.step for s in tr.spans if (s.step or "").startswith("pass-")})
    session = [totals(log, log.jobs_where(step=st), cores) for st in steps]
    for key in ("exec_cpu_s", "gc_s", "spill_mb", "tasks"):
        out[f"session.{key}"] = median([x[key] for x in session])
    out.update(metrics.zeros("soql."))
    return out
