"""CDC merge-upsert demo queries (K3/J1/J2/P5) in oracle-checkable form.

A deterministic synthetic change batch is derived from the customer snapshot
(disjoint key classes, so the latest-per-key dedup is exercised separately in
tests, and the oracle SQL stays a straightforward anti-join + union):

  updates: c_custkey % 10 == 0 and % 17 != 0  -> acctbal + 100
  inserts: keys shifted by +1_000_000 for c_custkey % 13 == 0
  deletes: c_custkey % 17 == 0                -> IsDeleted = true

The merged result is exactly the reference's post-merge target state
(query_poll_table.py:107-152): updated rows replaced, inserts added,
deleted keys gone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgsf_spark.operators.merge import merge_upsert
from pgsf_spark.tables import load_table


def _change_batch(c: DataFrame) -> DataFrame:
    updates = (
        c.filter((F.col("c_custkey") % 10 == 0) & (F.col("c_custkey") % 17 != 0))
        .withColumn("c_acctbal", F.col("c_acctbal") + 100.0)
        .withColumn("IsDeleted", F.lit(False))
    )
    inserts = (
        c.filter(F.col("c_custkey") % 13 == 0)
        .withColumn("c_custkey", F.col("c_custkey") + 1000000)
        .withColumn("c_name", F.concat(F.lit("NEW "), F.col("c_name")))
        .withColumn("IsDeleted", F.lit(False))
    )
    deletes = c.filter(F.col("c_custkey") % 17 == 0).withColumn("IsDeleted", F.lit(True))
    return updates.unionByName(inserts).unionByName(deletes).withColumn("SystemModstamp", F.lit("2024-01-01 00:00:00").cast("timestamp_ntz"))


def q_merge_upsert_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-merge target state after applying the synthetic change batch."""
    c = load_table(spark, sf_dir, "customer")
    target = c.withColumn("SystemModstamp", F.lit("2023-01-01 00:00:00").cast("timestamp_ntz"))
    changes = _change_batch(c)
    merged = merge_upsert(target, changes, pk="c_custkey", ts_field="SystemModstamp")
    return merged.select("c_custkey", "c_name", F.col("c_nationkey").cast("int").alias("c_nationkey"), F.round("c_acctbal", 2).alias("acctbal"))


def q_soft_delete_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 soft-delete routing: how many keys each merge action touches."""
    c = load_table(spark, sf_dir, "customer")
    ch = _change_batch(c)
    return ch.groupBy("IsDeleted").agg(F.count(F.lit(1)).alias("n"))


def q_continuous_agg_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance, end-to-end, as an oracle gate: build
    the hourly rollup from the FIRST HALF of events (bootstrap), then
    refresh() with the full feed -- only buckets touched by the second half
    recompute; untouched rows carry over through the TableStore commit. The
    oracle is a plain full aggregation of all events, so the hash proves
    incremental-refresh == full-recompute (the invariant that makes
    O(new data) refreshes trustworthy at 100 TB).

    Runs in a throwaway store; the result is localCheckpointed so the
    returned DataFrame outlives the cleanup."""
    import shutil
    import tempfile

    from pgsf_spark.operators.continuous_agg import ContinuousAggregate
    from pgsf_spark.operators.table_store import TableStore
    from pgsf_spark.sync.state import SyncState

    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    cutover = (lo + (hi - lo) / 2).replace(microsecond=0)
    phase = {"full": False}

    def source_fn() -> DataFrame:
        return ev if phase["full"] else ev.filter(F.col("ts") <= F.lit(cutover))

    tmp = tempfile.mkdtemp(prefix="pgsf_ca_gate_")
    try:
        ca = ContinuousAggregate(
            spark,
            TableStore(spark, f"{tmp}/store"),
            SyncState(f"{tmp}/sync.json"),
            "hourly_gate",
            source_fn=source_fn,
            ts_col="ts",
            bucket="hour",
            group_cols=("event_type",),
            aggs={"n": "count(1)", "total": "CAST(sum(CAST(value AS DECIMAL(27,4))) AS DOUBLE)"},
        )
        ca.bootstrap(initial_watermark=cutover)
        phase["full"] = True
        ca.refresh()
        out = (
            ca.read()
            .select(
                F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
                "event_type",
                "n",
                F.round("total", 4).alias("total"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def q_ivm_join_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-join IVM, end-to-end, as an oracle gate: bootstrap the
    revenue-by-nation join view from the FIRST HALF of orders (by
    o_orderdate), then refresh() over the full table -- only the delta
    joins and aggregates; the additive DECIMAL merge folds it into the
    stored view through one atomic flip. The oracle is the plain full
    join-aggregate over all orders, so the hash proves
    incremental-maintenance == full-recompute (the invariant that makes
    O(new data) view refreshes trustworthy at 100 TB).

    Runs in a throwaway store; result localCheckpointed past the cleanup.
    See operators/incremental_join_agg.py for the maintenance algebra."""
    import shutil
    import tempfile

    from pgsf_spark.operators.incremental_join_agg import IncrementalJoinAggregate
    from pgsf_spark.operators.table_store import TableStore

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    lo, hi = o.agg(F.min("o_orderdate"), F.max("o_orderdate")).first()
    # empty source: no cutover to split on -- bootstrap sees the (empty)
    # full table and refresh is the exact no-op the operator guarantees
    cutover = (lo + (hi - lo) / 2).replace(microsecond=0) if lo is not None else None
    phase = {"full": False}

    def fact_fn() -> DataFrame:
        if phase["full"] or cutover is None:
            return o
        return o.filter(F.col("o_orderdate") <= F.lit(cutover))

    tmp = tempfile.mkdtemp(prefix="pgsf_ivm_gate_")
    try:
        ivm = IncrementalJoinAggregate(
            spark,
            TableStore(spark, f"{tmp}/store"),
            "rev_by_nation_gate",
            fact_fn=fact_fn,
            dim_fn=lambda: c.withColumnRenamed("c_custkey", "o_custkey"),
            on="o_custkey",
            ts_col="o_orderdate",
            group_cols=("c_nationkey",),
            aggs={"n_orders": "count(1)", "revenue": "sum(CAST(o_totalprice AS DECIMAL(27,4)))"},
        )
        ivm.bootstrap()
        phase["full"] = True
        ivm.refresh()
        out = (
            ivm.read()
            .select(
                F.col("c_nationkey").cast("int").alias("nationkey"),
                "n_orders",
                F.round(F.col("revenue").cast("double"), 4).alias("revenue"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out
