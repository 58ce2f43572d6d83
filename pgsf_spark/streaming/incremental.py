"""Structured-Streaming face of the incremental sync (SURVEY §2.8).

The reference is a micro-batch replicator: cron tick -> watermark filter ->
staged merge -> watermark advance (C1/C2/C3). In Structured Streaming the
same semantics come from:

  readStream(change feed) -> foreachBatch(merge_upsert into the store)

with the checkpoint directory playing the role of __sync.syncuntil (offsets
are the watermark; C1) and foreachBatch's epoch id enabling idempotent
re-delivery (C3). The scheduler (C2) is the trigger: processingTime for
cadence, availableNow for catch-up runs (used in tests).

windowed_event_counts adds the event-time watermark + tumbling-window
aggregate that the reference never had (it drops nothing -- C5 "nothing
older than the watermark is ever re-read") -- the extended-layer streaming
operator for late data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from pgsf_spark.operators.merge import merge_upsert
from pgsf_spark.operators.table_store import TableStore


def start_incremental_merge(
    spark: SparkSession,
    feed_dir: str,
    schema: StructType,
    store: TableStore,
    table: str,
    pk: str,
    ts_field: str,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str = "10 minutes",
) -> StreamingQuery:
    """Continuously merge a file-based change feed into the replica.

    Each micro-batch is one §3.2 sync cycle: latest-per-key dedup + upsert +
    soft-delete, published atomically by TableStore. Batches re-delivered
    after a crash re-merge idempotently (same keys, same final state).
    """
    changes = spark.readStream.schema(schema).parquet(feed_dir)

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.head(1):
            return
        target = store.read(table)
        merged = merge_upsert(target, batch_df, pk=pk, ts_field=ts_field, order_col="_file_order")
        store.write(merged, table)

    writer = changes.writeStream.foreachBatch(apply_batch).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Tumbling event-time window aggregate with a late-data watermark.

    Works on both a streaming DataFrame (state cleanup at the watermark)
    and a batch DataFrame (identical results -- used by tests/oracles)."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(F.col(ts_col), window).alias("w"), *group_cols)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            *group_cols,
            "n",
            "total_value",
        )
    )
