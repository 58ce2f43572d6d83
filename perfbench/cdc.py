"""``cdc_trickle``: keep a replica of the ``orders`` entity fresh.

Set-up: land the snapshot (the committed sf0.01 ``orders`` table as an
entity) and ``snapshot_load`` it into a fresh store, 16 pk buckets. Then a
closed loop with one client: land a change batch of 8 rows as one more file
in the source directory, run one ``sync_table`` tick, then read the replica
with SOQL (one ``Id`` lookup and one ``COUNT()`` with a ``WHERE``). The
next batch lands only after those reads return. The first
``WARMUP_TICKS`` ticks are warm-up; the ticks after them are measured until
``--seconds`` have passed. Every read, every tick's watermark and, after the
loop, the whole replica are checked against the expected replica the
generator keeps.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

import gen
import metrics
import reads
from checks import check_rows, check_value
from context import Run, median, tail
from eventlog import EventLog, totals

TABLE = reads.TABLE
WARMUP_TICKS = 8


def _instrument(r: Run, source, store, state) -> None:
    def count_exchanges(span, args, kwargs):
        plan = args[0]._jdf.queryExecution().executedPlan().toString()
        span.attrs["exchanges"] = plan.count("Exchange")

    t = r.tracer
    t.instrument(source, "sources.entity", ["load", "incremental", "count"])
    t.instrument(store, "operators.table_store",
                 ["read", "write", "write_partial", "partition_info", "manifest"],
                 hooks={"write_partial": count_exchanges})
    t.instrument(state, "sync.state", ["claim", "release", "get", "insert"])


def _setup(r: Run):
    from pgsf_spark.operators.table_store import TableStore
    from pgsf_spark.sources.entity import EntitySource
    from pgsf_spark.sync.runner import SyncRunner
    from pgsf_spark.sync.state import SyncState

    d = r.dir("cdc")
    src = os.path.join(d, "src")
    rows = gen.write_entity(src)
    source = EntitySource(r.spark, src)
    store = TableStore(r.spark, os.path.join(d, "store"))
    state = SyncState(os.path.join(d, "sync.json"))
    _instrument(r, source, store, state)
    runner = SyncRunner(source, store, state)
    r.tracer.set_step("setup")
    with r.tracer.span("sync.runner.snapshot_load"):
        n, snap_s = r.timed(lambda: runner.snapshot_load(TABLE), fatal=True)
    r.tracer.set_step(None)
    r.check(check_value("snapshot row count", n, len(rows)))
    return src, store, state, runner, rows, snap_s


def _version_stats(store, batch_rows: int) -> dict:
    """Layout of the version the last tick published, from its manifest and
    files (read after the tick, outside its timing)."""
    from pgsf_spark.operators.table_store import PGSF_BUCKET

    m = store.manifest(TABLE)
    path = store.current_version_path(TABLE)
    rewritten = {f"{PGSF_BUCKET}={v}" for v in m.get("rewritten_partitions", [])}
    files = rows = size = 0
    for d, _, names in os.walk(path):
        for name in names:
            if not name.endswith(".parquet"):
                continue
            files += 1
            if os.path.basename(d) in rewritten:
                p = os.path.join(d, name)
                size += os.path.getsize(p)
                rows += pq.ParquetFile(p).metadata.num_rows
    return {
        "buckets_rewritten": len(rewritten),
        "buckets_carried": m["partition_buckets"] - len(rewritten),
        "files_per_version": files,
        "kb_written": size / 1024.0,
        "rows_rewritten_per_change": rows / batch_rows,
    }


def run(r: Run, t_start: float, session_s: float) -> dict:
    """Set-up, warm-up and the measured ticks. ``setup_s`` runs from process
    start (``t_start``) to the first measured tick."""
    from pgsf_spark.functions import WATERMARK_FMT

    src, store, state, runner, rows, snap_s = _setup(r)
    t_warm = time.perf_counter()
    feed = gen.ChangeFeed(r.seed, {row[0]: row for row in rows})
    rng = np.random.default_rng([r.seed, 4])
    warmup, ticks, lookups, counts, versions, batches = [], [], [], [], [], []
    t_measure = None
    k = 0
    while t_measure is None or time.perf_counter() - t_measure < r.seconds:
        if k == WARMUP_TICKS:
            t_measure = time.perf_counter()
        measured = k >= WARMUP_TICKS
        batch = feed.next_batch()
        feed.write_batch(src, batch)
        r.tracer.set_step(f"tick-{k}" if measured else f"warmup-{k}")
        with r.tracer.span("sync.runner.sync_table"):
            res, tick_s = r.timed(lambda: runner.sync_table(TABLE), fatal=True)
        r.check(check_value(f"tick {k} watermark", res["watermark"], feed.wm.isoformat()))
        (ticks if measured else warmup).append(tick_s)
        if measured:
            batches.append(len(batch))
            if r.trace:
                versions.append(_version_stats(store, len(batch)))

        # reads: the key updated last (live) on even ticks, the key deleted
        # in this batch on odd ones
        key = batch[-1][0] if k % 2 == 0 else next(row[0] for row in batch if row[7])
        reads.lookup(r, store.read, feed.model, key, lookups if measured else None)
        reads.count(r, store.read, feed.model, rng, counts if measured else None)
        r.tracer.set_step(None)
        k += 1

    t_end = time.perf_counter()
    # untimed: the whole replica and the watermark against the model
    with r.tracer.span("checks.final_replica"):
        got, _ = r.timed(
            lambda: [tuple(x) for x in store.read(TABLE).select(*gen.ENTITY_COLS).collect()])
    r.check(check_rows("final replica", gen.ENTITY_COLS, got or [], list(feed.model.values())))
    r.check(check_value("final watermark", state.get(TABLE).syncuntil,
                        feed.wm.strftime(WATERMARK_FMT)))

    r.info["samples"] = {"warmup_ticks": warmup, "ticks": ticks, "lookups": lookups,
                         "counts": counts, "batch_rows": batches, "versions": versions}
    r.info["counts"] = {"warmup_ticks": WARMUP_TICKS, "measured_ticks": len(ticks),
                        "lookups": len(lookups), "counts": len(counts)}
    r.info["phases_s"] = {"session": session_s, "snapshot": t_warm - t_start - session_s,
                          "warmup": t_measure - t_warm, "measure": t_end - t_measure}
    r.info["extra"] = {"cold_snapshot_s": snap_s, "first_tick_s": (warmup or ticks)[0],
                       "tick_tail": tail(ticks)}
    return {
        "setup_s": t_measure - t_start,
        "step_p50_s": median(ticks),
        "lookup_p50_ms": 1e3 * median(lookups),
        "count_p50_ms": 1e3 * median(counts),
    }


def layers(r: Run, log: EventLog, cores: int) -> dict:
    """Per-layer numbers of the measured ticks, from spans and the event log."""
    tr = r.tracer
    src_dir = os.path.join(r.work, "cdc", "src")
    ticks = [s for s in tr.named("sync.runner.sync_table") if s.step.startswith("tick-")]
    jobs, self_s, claim_ms, scanned, eff, exch, wp, session = [], [], [], [], [], [], [], []
    for s, batch_rows in zip(ticks, r.info["samples"]["batch_rows"]):
        sub = tr.subtree(s.id)
        tick_jobs = log.jobs_where(span_ids=sub)
        jobs.append(len(tick_jobs))
        self_s.append(tr.self_seconds(s.id))
        inner = [tr.spans[i] for i in sub]
        claim_ms.append(1e3 * sum(x.seconds for x in inner
                                  if x.name in ("sync.state.claim", "sync.state.release")))
        n = totals(log, [j for j in tick_jobs if log.scans(j, src_dir)], cores)["input_records"]
        scanned.append(n)
        eff.append(batch_rows / n if n else 0.0)
        for x in inner:
            if x.name == "operators.table_store.write_partial":
                wp.append(x.seconds)
                exch.append(x.attrs.get("exchanges", 0))
        session.append(totals(log, log.jobs_where(step=s.step), cores))
    out = {
        "sync.runner.jobs_per_tick": median(jobs),
        "sync.runner.self_s": median(self_s),
        "sync.state.claim_release_ms": median(claim_ms),
        "sources.entity.rows_read_per_tick": median(scanned),
        "sources.entity.read_efficiency": median(eff),
        "operators.merge.exchanges": median(exch),
        "operators.table_store.write_partial_s": median(wp),
        "operators.table_store.write_s": median(
            [s.seconds for s in tr.named("operators.table_store.write")]),
    }
    versions = r.info["samples"]["versions"]
    for key in versions[0]:
        out[f"operators.table_store.{key}"] = median([v[key] for v in versions])
    out.update(reads.layers(r, log, cores, "tick-"))
    for key in ("exec_cpu_s", "gc_s", "spill_mb", "tasks"):
        out[f"session.{key}"] = median([t[key] for t in session])
    out.update(metrics.zeros("analytics."))
    return out
