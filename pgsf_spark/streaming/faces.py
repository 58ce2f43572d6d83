"""Registry faces for the streaming layer.

Each query here runs a REAL bounded Structured Streaming job -- a
deterministic multi-batch file feed derived from the sf_dir tables,
``trigger(availableNow=True)``, ``maxFilesPerTrigger=1`` -- and returns
the final materialized result as a batch DataFrame, so the DuckDB oracle
is the batch-equivalent SQL over the same parquet inputs. That makes the
driver hash gate the STREAMING semantics themselves: watermark
progression, late-row dropping, state timeouts, cross-batch state carry,
micro-batch merge idempotence.

Determinism contract (what makes a streaming run oracle-comparable):
  - the feed is one parquet FILE per micro-batch, written with strictly
    increasing mtimes (the file source orders by modification time), so
    the batch sequence is fixed;
  - batch membership is a closed form over the input (NTILE over the
    global event-time order, or ``event_id % 3``), so the oracle can
    reconstruct every batch's max event time;
  - watermark semantics, measured on this engine (pyspark 4.1.2) and
    relied on below: the eviction watermark in effect DURING batch k is
    max_event_ts(batches < k) - delay, the LATE-ROW FILTER for batch k
    uses the watermark one batch older (max over batches < k-1: Spark
    computes the late predicate before applying batch k-1's update), the
    drop predicate for windowed aggregation is on the WINDOW END (not the
    row timestamp), and after the last data batch a no-data batch runs
    with the final watermark (firing event-time timeouts and final
    appends). tests/test_stream_faces.py re-asserts the lag and the
    window-end predicate so an engine upgrade that changes them fails
    loudly instead of silently skewing oracles.

Feed construction uses a GLOBAL ntile sort -- that is fixture plumbing
(bounded test corpus), not the operator: the operators themselves are the
watermarked streams, whose state is bounded by (rate x horizon) at any
scale (see streaming/stateful.py, interval_join.py for the scale notes).
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pgsf_spark.analytics.oracle_utils import dsum
from pgsf_spark.tables import load_table

N_BATCHES = 3
SESSION_GAP_S = 1800.0  # streaming/stateful.py SESSION_GAP_SECONDS


# --- feed plumbing ----------------------------------------------------------


def _tiles(df: DataFrame, order_cols, n: int = N_BATCHES) -> list[DataFrame]:
    """Split rows into n deterministic micro-batches by NTILE over a total
    order. Single-partition window: fixture-builder only (bounded corpus);
    the checkpoint stops the 3 filters from re-running the sort."""
    t = df.withColumn(
        "__tile", F.ntile(n).over(Window.orderBy(*[F.col(c) for c in order_cols]))
    ).localCheckpoint(eager=True)
    return [t.filter(F.col("__tile") == i + 1).drop("__tile") for i in range(n)]


def _write_feed(batches: Iterable[DataFrame], feed_dir: str) -> None:
    """One parquet file per batch, mtimes strictly increasing so the file
    source replays them in order."""
    os.makedirs(feed_dir, exist_ok=True)
    for i, df in enumerate(batches):
        stage = f"{feed_dir}.__stage{i}"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = os.path.join(feed_dir, f"batch-{i:03d}.parquet")
        shutil.copyfile(part, dst)
        os.utime(dst, (1_700_000_000 + 60 * i,) * 2)
        shutil.rmtree(stage)


def _read_stream(spark: SparkSession, feed_dir: str, schema) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )


def _run(spark: SparkSession, writer, ckpt: str) -> None:
    """Start the bounded stream and wait. Shuffle partitions are pinned to
    8 for the query's lifetime: the state-store partition count is fixed at
    query start from this conf, and a 200-partition state store costs ~15s
    of per-batch setup on a fixture-sized feed (the count is baked into the
    checkpoint, so it only shapes THIS bounded run, never a production
    deployment's own setting)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            writer.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError("streaming gate did not finish in 600s")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _collect_and_clean(spark: SparkSession, out_df: DataFrame, tmp: str) -> DataFrame:
    res = out_df.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return res


def _events_feed(spark: SparkSession, sf_dir: str, tmp: str, cols) -> tuple[str, Any]:
    """Events tiled into N_BATCHES by global (ts, event_id) order -- the
    sorted replay (no late rows), used by the state-centric gates. ``ts``
    becomes session-TZ TIMESTAMP (the UTC session makes the wall times
    identical to the parquet's naive micros): watermarks reject
    TIMESTAMP_NTZ event-time columns."""
    ev = load_table(spark, sf_dir, "events").select(*cols).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    feed = os.path.join(tmp, "feed")
    _write_feed(_tiles(ev, ["ts", "event_id"]), feed)
    return feed, ev.schema


# --- 1. stream_sessionize_gate ------------------------------------------------


def q_stream_sessionize_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful session assembly run as a REAL stream (applyInPandasWithState,
    EventTimeTimeout -- streaming/stateful.py session_gap_stream) over the
    sorted 3-batch replay, then rolled up per user. Emitted sessions are
    those closed by an observed gap OR by the event-time timeout; with
    watermark delay 0 the closed form is: a session emits iff it has a
    successor session (gap observed) or its end + gap <= max(ts) (timeout
    fired by the final no-data batch). The oracle is gap-and-islands batch
    sessionization under exactly that emission rule -- so the driver hash
    covers cross-batch state carry, timeout firing, and the no-data final
    batch.

    Durations cross the engine boundary as exact integer microseconds
    (round((end-start)*1e6): the double error bound is < 0.5 us, so the
    round recovers the exact integer both engines compute)."""
    from pgsf_spark.streaming.stateful import session_gap_stream

    tmp = tempfile.mkdtemp(prefix="pgsf_stream_sess_")
    feed, schema = _events_feed(
        spark, sf_dir, tmp, ["event_id", "user_id", "ts", "value"]
    )
    out = os.path.join(tmp, "out")
    _run(
        spark,
        session_gap_stream(_read_stream(spark, feed, schema), watermark="0 seconds")
        .writeStream.format("parquet")
        .option("path", out)
        .outputMode("append"),
        os.path.join(tmp, "ck"),
    )
    sess = spark.read.parquet(out)
    rollup = (
        sess.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.sum(
                F.round((F.col("session_end") - F.col("session_start")) * 1e6).cast(
                    "long"
                )
            ).alias("sum_dur_us"),
            F.round(dsum(F.col("total_value")), 4).alias("sum_value"),
        )
        .orderBy("user_id")
    )
    return _collect_and_clean(spark, rollup, tmp)


# --- 2. stream_tumbling_revenue -------------------------------------------------

TUMBLE_DELAY = "30 minutes"


def q_stream_tumbling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window revenue with DETERMINISTICALLY dropped
    late rows: the feed batches by ``event_id % 3`` (so every batch spans
    the whole month and batches 2.. are full of late data), the stream
    aggregates 1-hour windows under a 30-minute watermark, and the sink's
    appended rows are re-summed per window. The oracle reproduces the
    measured engine semantics exactly: a batch-k row is dropped iff its
    WINDOW END <= max_ts(batches < k-1) - delay (the one-batch-lag late
    filter), and a window emits iff its end <= max_ts(all) - delay (final
    watermark) -- both closed forms over the batch assignment.

    This is the gate that pins watermark-drop semantics: an engine change
    to the late predicate or the lag surfaces as a hash mismatch here
    before it silently changes production window totals."""
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "value")
        .withColumn("ts", F.col("ts").cast("timestamp"))  # watermark needs TZ
        .localCheckpoint(eager=True)  # one scan feeds the 3 batch filters
    )
    tmp = tempfile.mkdtemp(prefix="pgsf_stream_tumble_")
    feed = os.path.join(tmp, "feed")
    _write_feed(
        [ev.filter(F.col("event_id") % N_BATCHES == k) for k in range(N_BATCHES)],
        feed,
    )
    out = os.path.join(tmp, "out")
    agg = (
        _read_stream(spark, feed, ev.schema)
        .withWatermark("ts", TUMBLE_DELAY)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(27,4)")).alias("sv"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
            "sv",
        )
    )
    _run(
        spark,
        agg.writeStream.format("parquet").option("path", out).outputMode("append"),
        os.path.join(tmp, "ck"),
    )
    res = (
        spark.read.parquet(out)
        .groupBy("window_start")
        .agg(
            F.sum("n").alias("n_events"),
            F.round(F.sum("sv").cast("double"), 4).alias("revenue"),
        )
        .orderBy("window_start")
    )
    return _collect_and_clean(spark, res, tmp)


# --- 3. stream_dedup_watermark ---------------------------------------------------


def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest dedup over a replayed feed: every event row is TRIPLED inside
    its micro-batch, the stream runs dropDuplicatesWithinWatermark on
    event_id (state bounded by the 1-hour horizon -- the property that makes
    ingest dedup viable on an unbounded feed; plain dropDuplicates never
    evicts), and exactly one copy of every event must survive. Duplicate
    placement is within-batch only and keys are unique across the stream, so
    the result is independent of the engine's state-timestamp fine print --
    the gate pins the COUNT contract (no event lost across batches, no
    duplicate admitted) rather than a survivor-picking order."""
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "event_type", "value")
        .withColumn("ts", F.col("ts").cast("timestamp"))  # watermark needs TZ
    )
    tripled = ev.withColumn(
        "__copy", F.explode(F.array(*[F.lit(i) for i in range(3)]))
    ).drop("__copy")
    tmp = tempfile.mkdtemp(prefix="pgsf_stream_dedup_")
    feed = os.path.join(tmp, "feed")
    _write_feed(_tiles(tripled, ["ts", "event_id"]), feed)
    out = os.path.join(tmp, "out")
    deduped = (
        _read_stream(spark, feed, ev.schema)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    _run(
        spark,
        deduped.writeStream.format("parquet").option("path", out).outputMode("append"),
        os.path.join(tmp, "ck"),
    )
    res = (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_id").alias("n_distinct"),
            F.round(dsum(F.col("value")), 4).alias("sum_value"),
        )
        .orderBy("event_type")
    )
    return _collect_and_clean(spark, res, tmp)


# --- 4. stream_cdc_merge_parity ----------------------------------------------------


def q_stream_cdc_merge_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A 3-batch change feed (base load, +1000 update wave, +7000 update
    wave with soft deletes) applied through foreachBatch(merge_upsert) into
    a versioned TableStore -- the streaming CDC landing path end-to-end.
    The oracle is last-writer-wins per key with delete-wins-in-batch
    (merge.py's documented reference semantics), so the hash gates batch
    ordering, upsert precedence, soft-delete routing, AND the atomic
    republish (a lost or doubled micro-batch changes the totals).

    Change waves: every 5th key gets +1000 in wave 2; every 7th gets +7000
    in wave 3; every 11th-plus-3 key is soft-deleted in wave 3 (delete
    beats a same-batch update)."""
    from pgsf_spark.operators.merge import merge_upsert
    from pgsf_spark.operators.table_store import TableStore

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    ).localCheckpoint(eager=True)  # one scan feeds the 3 change waves
    b0 = cust.withColumn("IsDeleted", F.lit(False)).withColumn("seq", F.lit(0))
    b1 = (
        cust.filter(F.col("c_custkey") % 5 == 0)
        .withColumn("cents", F.col("cents") + 100000)
        .withColumn("IsDeleted", F.lit(False))
        .withColumn("seq", F.lit(1))
    )
    b2 = (
        cust.filter(F.col("c_custkey") % 7 == 0)
        .withColumn("cents", F.col("cents") + 700000)
        .withColumn("IsDeleted", F.lit(False))
        .withColumn("seq", F.lit(2))
        .unionByName(
            cust.filter(F.col("c_custkey") % 11 == 3)
            .withColumn("IsDeleted", F.lit(True))
            .withColumn("seq", F.lit(2))
        )
    )
    tmp = tempfile.mkdtemp(prefix="pgsf_stream_cdc_")
    feed = os.path.join(tmp, "feed")
    _write_feed([b0, b1, b2], feed)
    store = TableStore(spark, os.path.join(tmp, "store"))

    def apply_batch(batch_df: DataFrame, _epoch: int) -> None:
        target = (
            store.read("cust_synced")
            if store.exists("cust_synced")
            else batch_df.filter(F.lit(False)).drop("IsDeleted")
        )
        merged = merge_upsert(
            target, batch_df, pk="c_custkey", ts_field="seq", isdeleted_col="IsDeleted"
        )
        store.write(merged, "cust_synced")

    _run(
        spark,
        _read_stream(spark, feed, b0.schema).writeStream.foreachBatch(apply_batch),
        os.path.join(tmp, "ck"),
    )
    final = store.read("cust_synced")
    res = (
        final.groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("cents").alias("sum_cents"))
        .orderBy("c_nationkey")
    )
    return _collect_and_clean(spark, res, tmp)


# --- 5. stream_static_enrich ----------------------------------------------------


def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment (streaming/enrich.py): the event
    stream joins the customer dimension in-flight -- zero streaming state,
    the static side broadcast to every micro-batch -- and the enriched rows
    land in the sink, re-aggregated per nation. Every input row must
    surface exactly once (no watermark, no state): the gate pins that the
    per-batch re-planned static join neither drops nor duplicates rows
    across batch boundaries. Oracle: the plain batch join."""
    from pgsf_spark.streaming.enrich import stream_static_enrich

    tmp = tempfile.mkdtemp(prefix="pgsf_stream_enrich_")
    feed, schema = _events_feed(
        spark, sf_dir, tmp, ["event_id", "user_id", "ts", "value"]
    )
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    out = os.path.join(tmp, "out")
    enriched = stream_static_enrich(
        _read_stream(spark, feed, schema), dim, "user_id", ["c_nationkey"], how="left"
    )
    _run(
        spark,
        enriched.writeStream.format("parquet").option("path", out).outputMode("append"),
        os.path.join(tmp, "ck"),
    )
    res = (
        spark.read.parquet(out)
        .groupBy(F.coalesce(F.col("c_nationkey"), F.lit(-1)).alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(dsum(F.col("value")), 4).alias("sum_value"),
        )
        .orderBy("nationkey")
    )
    return _collect_and_clean(spark, res, tmp)


# --- 6. stream_interval_join_gate --------------------------------------------------


def q_stream_interval_join_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream event-time interval join (streaming/interval_join.py):
    clicks and purchases replay as two sorted 3-batch streams, purchases
    join clicks from the same user in the preceding 30 minutes. Inner
    stream-stream joins guarantee every qualifying pair emits exactly once
    (state retention is derived from the range condition; the sorted replay
    has no late rows to drop), so the streaming output equals the batch
    join -- which is the oracle. Pair timing crosses the engine boundary as
    exact integer microseconds."""
    from pgsf_spark.streaming.interval_join import click_purchase_interval_join

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts", "event_type")
        .withColumn("ts", F.col("ts").cast("timestamp"))  # watermark needs TZ
    )
    clicks = ev.filter(F.col("event_type") == "click").drop("event_type")
    purchases = ev.filter(F.col("event_type") == "purchase").drop("event_type")
    tmp = tempfile.mkdtemp(prefix="pgsf_stream_ivj_")
    cfeed, pfeed = os.path.join(tmp, "clicks"), os.path.join(tmp, "purch")
    _write_feed(_tiles(clicks, ["ts", "event_id"]), cfeed)
    _write_feed(_tiles(purchases, ["ts", "event_id"]), pfeed)
    out = os.path.join(tmp, "out")
    joined = click_purchase_interval_join(
        _read_stream(spark, cfeed, clicks.schema),
        _read_stream(spark, pfeed, purchases.schema),
        window="30 minutes",
        watermark="1 hour",
    )
    _run(
        spark,
        joined.writeStream.format("parquet").option("path", out).outputMode("append"),
        os.path.join(tmp, "ck"),
    )
    pairs = spark.read.parquet(out)
    res = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("purchase_id").alias("n_purchases_matched"),
        F.sum(
            F.unix_micros(F.col("purchase_ts").cast("timestamp"))
            - F.unix_micros(F.col("click_ts").cast("timestamp"))
        ).alias("sum_lead_us"),
    )
    return _collect_and_clean(spark, res, tmp)


# --- 7. stream_running_hll --------------------------------------------------------


def q_stream_running_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-micro-batch HLL register merge: each batch sketches its users
    into the 64 portable registers (the md5/rho construction of
    q_hll_portable -- profiling.py:302) and foreachBatch max-merges them
    into a running register table; the final registers yield the estimate.
    Because register merge is max() -- commutative, associative, idempotent
    -- the streamed sketch must equal the batch sketch EXACTLY, so the
    oracle is the batch HLL SQL verbatim. This is the streaming-sketch
    contract at 100 TB: partial sketches merge losslessly, replayed batches
    are harmless."""
    from pgsf_spark.analytics.profiling import HLL_ALPHA, HLL_M
    from pgsf_spark.operators.table_store import TableStore

    tmp = tempfile.mkdtemp(prefix="pgsf_stream_hll_")
    feed, schema = _events_feed(
        spark, sf_dir, tmp, ["event_id", "user_id", "ts", "value"]
    )
    store = TableStore(spark, os.path.join(tmp, "store"))

    def regs_of(df: DataFrame) -> DataFrame:
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.lit("hll:"), F.col("user_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        rest = F.floor(h / HLL_M).cast("long")
        rho = F.when(rest == 0, F.lit(27)).otherwise(
            F.instr(F.lpad(F.bin(rest), 26, "0"), "1")
        )
        return (
            df.select((h % HLL_M).alias("bucket"), rho.alias("rho"))
            .groupBy("bucket")
            .agg(F.max("rho").alias("m"))
        )

    def apply_batch(batch_df: DataFrame, _epoch: int) -> None:
        regs = regs_of(batch_df)
        if store.exists("hll_regs"):
            regs = store.read("hll_regs").unionByName(regs)
        merged = regs.groupBy("bucket").agg(F.max("m").alias("m"))
        store.write(merged, "hll_regs")

    _run(
        spark,
        _read_stream(spark, feed, schema).writeStream.foreachBatch(apply_batch),
        os.path.join(tmp, "ck"),
    )
    regs = store.read("hll_regs")
    s_present = F.sum(F.lit(1.0) / F.expr("cast(shiftleft(1L, m) as double)"))
    agg = regs.agg(
        s_present.alias("s_present"), F.count(F.lit(1)).alias("n_present")
    ).select(
        (F.col("s_present") + (F.lit(HLL_M) - F.col("n_present")).cast("double")).alias("s"),
        (F.lit(HLL_M) - F.col("n_present")).cast("bigint").alias("empty_buckets"),
    )
    exact = load_table(spark, sf_dir, "events").agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_users")
    )
    res = agg.crossJoin(exact).select(
        "exact_users",
        (F.lit(HLL_ALPHA) * F.lit(float(HLL_M * HLL_M)) / F.col("s")).alias(
            "hll_estimate"
        ),
        "empty_buckets",
    )
    return _collect_and_clean(spark, res, tmp)


# --- 8. stream_state_timeout_audit ---------------------------------------------------

from pyspark.sql.streaming.state import GroupState, GroupStateTimeout  # noqa: E402
from pyspark.sql.types import (  # noqa: E402
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_AUDIT_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", DoubleType()),
        StructField("session_end", DoubleType()),
        StructField("n_events", LongType()),
        StructField("close_reason", StringType()),
    ]
)
_AUDIT_STATE = StructType(
    [
        StructField("start", DoubleType()),
        StructField("last", DoubleType()),
        StructField("n", LongType()),
    ]
)


def _audit_sessions(
    key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """session_gap_stream's update function with the CLOSE REASON tagged:
    'gap' when a later event of the same user closes the session in-stream,
    'timeout' when the event-time timer fires (watermark passed
    last + gap with no newer event for the key)."""
    gap = SESSION_GAP_S

    def row(start, last, n, reason):
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "session_start": [start],
                "session_end": [last],
                "n_events": [n],
                "close_reason": [reason],
            }
        )

    if state.hasTimedOut:
        start, last, n = state.get
        state.remove()
        yield row(start, last, n, "timeout")
        return
    import numpy as np

    rows = pd.concat(list(pdfs)).sort_values("ts_sec")
    ts = rows["ts_sec"].to_numpy(dtype=np.float64)
    if state.exists:
        start, last, n = state.get
    else:
        start, last, n = float(ts[0]), float(ts[0]), 0
    # vectorized fold, same shape as stateful._update_sessions
    brk = set((np.flatnonzero(np.diff(ts) > gap) + 1).tolist())
    if ts[0] - last > gap:
        brk.add(0)
    bounds = [0, *sorted(brk - {0}), len(ts)]
    closed = []
    for s, e in zip(bounds, bounds[1:]):
        if s in brk:
            closed.append((start, last, n))
            start, n = float(ts[s]), 0
        n += e - s
        last = float(ts[e - 1])
    if closed:
        yield pd.DataFrame(
            [(key[0], s, e, cnt, "gap") for s, e, cnt in closed],
            columns=["user_id", "session_start", "session_end", "n_events", "close_reason"],
        )
    state.update((start, last, n))
    state.setTimeoutTimestamp(int((last + gap) * 1000))


def q_stream_state_timeout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EventTimeTimeout AUDIT: sessions again, but each emission is tagged
    with WHY it closed -- 'gap' (a later same-user event arrived first) or
    'timeout' (the watermark timer fired first). The split is a closed form
    over the sorted 3-batch replay: a session with a successor closes by
    timeout iff the watermark had passed end+gap strictly BEFORE the
    successor's batch -- i.e. max_ts(batches <= s-2) > end + gap, where s
    is the successor's batch (timers only fire for keys with no data in
    the batch; the eviction watermark during batch k is
    max_ts(batches < k)) -- and by gap otherwise; the user's last session
    emits as 'timeout' iff end + gap <= max_ts(all) (the final no-data
    batch). The oracle computes that attribution from NTILE batch
    assignment, so the driver hash pins the TIMER semantics themselves --
    which batch a timer fires in, not just that it eventually fires."""
    tmp = tempfile.mkdtemp(prefix="pgsf_stream_audit_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),  # watermark needs TZ
        (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1000000.0)).alias(
            "ts_sec"
        ),
    )
    feed = os.path.join(tmp, "feed")
    _write_feed(_tiles(ev, ["ts", "event_id"]), feed)
    out = os.path.join(tmp, "out")
    stream = (
        _read_stream(spark, feed, ev.schema)
        .withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            _audit_sessions,
            outputStructType=_AUDIT_OUTPUT,
            stateStructType=_AUDIT_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    _run(
        spark,
        stream.writeStream.format("parquet").option("path", out).outputMode("append"),
        os.path.join(tmp, "ck"),
    )
    res = (
        spark.read.parquet(out)
        .groupBy("close_reason")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(
                F.round((F.col("session_end") - F.col("session_start")) * 1e6).cast(
                    "long"
                )
            ).alias("sum_dur_us"),
        )
        .orderBy("close_reason")
    )
    return _collect_and_clean(spark, res, tmp)


# --- statestore_read_gate -----------------------------------------------------


def q_statestore_read_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store READER: audit a live checkpoint's state as a DataFrame.

    Runs a per-user streaming aggregation (count + exact-DECIMAL value
    sum -- decimal BEFORE the agg so partial-combine order can't move
    the double) over the 3-batch events replay into a noop sink, then
    reads the query's own checkpoint back through the Spark 4 state
    data source (format "statestore") and pins the recovered state to
    the batch aggregate. This is the at-scale operations surface: state
    debugging/auditing WITHOUT replaying the stream -- at 100 TB the
    checkpoint is the only place the running aggregate exists."""
    tmp = tempfile.mkdtemp(prefix="pgsf_ss_read_")
    feed, schema = _events_feed(
        spark, sf_dir, tmp, ["event_id", "ts", "user_id", "value"]
    )
    agg = (
        _read_stream(spark, feed, schema)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(27,4)")).alias("t"),
        )
    )
    _run(
        spark,
        agg.writeStream.format("noop").outputMode("complete"),
        os.path.join(tmp, "ck"),
    )
    state = spark.read.format("statestore").load(os.path.join(tmp, "ck"))
    # state value fields carry the agg BUFFER's internal layout: count,
    # sum, isEmpty (the decimal-sum buffer tracks emptiness separately);
    # select by buffer name and let the oracle hash catch any upgrade
    # that reshapes the layout
    vals = state.select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.count").alias("n"),
        F.col("value.sum").alias("t"),
    )
    res = vals.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.sum("n").alias("n_events"),
        F.sum("t").cast("double").alias("total_value"),
    )
    return _collect_and_clean(spark, res, tmp)


# --- python_cdc_stream_gate ---------------------------------------------------


def q_python_cdc_stream_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-polling CDC via the PYTHON STREAMING DataSource.

    The events table is split into two tie-free arrival waves (cutoff =
    median distinct timestamp, so no cross-wave ts collisions hit the
    strict-> boundary) and consumed by TWO availableNow runs of the
    ``entity_cdc`` source (sources/pyds.py) sharing one checkpoint: the
    first run lands wave 1 and commits its max-ts offset; wave 2 then
    arrives and the second run delivers EXACTLY the new rows -- the
    reference's steady-state polling cycle (query_poll_table.py strict
    ``SystemModstamp >`` watermark, persisted between runs) with Spark's
    checkpoint as the watermark store. The final aggregate equals the
    plain batch aggregate over all events iff delivery was exactly-once."""
    from pgsf_spark.sources import pyds

    pyds.register_cdc(spark)
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tmp = tempfile.mkdtemp(prefix="pgsf_cdc_src_")
    data = os.path.join(tmp, "entity")
    os.makedirs(data)
    out = os.path.join(tmp, "out")
    ck = os.path.join(tmp, "ck")

    t = pq.read_table(
        os.path.join(sf_dir, "events.parquet"),
        columns=["event_id", "ts", "user_id", "event_type", "value"],
    )
    ts_us = pc.cast(pc.cast(t["ts"], pa.timestamp("us")), pa.int64())
    uniq = sorted(x for x in pc.unique(ts_us).to_pylist() if x is not None)
    cutoff = uniq[len(uniq) // 2] if uniq else 0

    def deliver(wave_name: str, mask) -> None:
        pq.write_table(t.filter(mask), os.path.join(data, wave_name))
        stream = (
            spark.readStream.format("entity_cdc")
            .option("path", data)
            .option("ts_field", "ts")
            .load()
        )
        _run(
            spark,
            stream.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append"),
            ck,
        )

    deliver("wave1.parquet", pc.less_equal(ts_us, cutoff))
    deliver("wave2.parquet", pc.greater(ts_us, cutoff))

    if os.path.isdir(out):
        landed = spark.read.parquet(out)
    else:  # zero-row entity: no batch ever ran, no sink dir was created
        landed = spark.createDataFrame(
            [], "event_id bigint, user_id bigint, event_type string, "
            "value double, ts_us bigint"
        )
    res = (
        landed
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(27,4)")).cast("double").alias(
                "sum_value"
            ),
            F.max("ts_us").alias("max_ts_us"),
        )
        .orderBy("event_type")
    )
    return _collect_and_clean(spark, res, tmp)
