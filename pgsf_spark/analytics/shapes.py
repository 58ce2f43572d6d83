"""Relational / at-scale PLAN SHAPES.

Eight queries whose point is a physical-plan capability Catalyst handles
specially -- each locks a shape (bucket-expansion range join, salted
exact top-k, zero-exchange bucketed join, snapshot time travel, native
interval RANGE frames, GROUPING SETS ids, pivot/unpivot, lateral
posexplode top-k) behind an oracle gate so a refactor that silently
degrades the plan (or its semantics) goes red.

Registered in registry.py; gated by tests/test_registry.py with the same
verify-vs-DuckDB machinery the driver uses, behaviour pinned by
tests/test_shapes.py.

Reference parity note: the reference engine's query surface is SOQL
equality predicates + PG-side SQL after landing (reference soql.py,
api.py); everything here is beyond-reference analytics surface, designed
Spark-first.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pgsf_spark.analytics.oracle_utils import dsum
from pgsf_spark.tables import load_table

# --- 18. range_join_bucketed ------------------------------------------------

# price-validity windows over the events month (Jan 2024): stride 30 h,
# width 90 h -> every event can land in up to 3 OVERLAPPING windows, so no
# single groupBy bucketing can express the join (the property that forces a
# real range join).
VALIDITY_EPOCH = 1704067200  # 2024-01-01 00:00:00 UTC, matches the feed
VALIDITY_STRIDE_S = 30 * 3600
VALIDITY_WIDTH_S = 90 * 3600


def q_range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events joined into OVERLAPPING price-validity windows via the
    bucket-expansion range join (operators/rangejoin.bucketed_range_join)
    -- the time-axis sibling of range_band_join's price axis: validity
    intervals (SCD-2 style pricing windows) are exploded to the bucket
    indexes they overlap, events land in exactly one bucket, and the join
    is a plain equi-join + residual filter.

    Plan: the exploded window side is tiny (25 windows x 4 buckets) ->
    BroadcastHashJoin; at 100 TB with millions of validity rows the same
    code shuffles on the bucket index -- never BroadcastNestedLoopJoin
    (what the naive BETWEEN join plans as; plan-asserted in
    tests/test_shapes.py). Aggregation is map-side combinable on window_id.
    """
    from pgsf_spark.operators.rangejoin import bucketed_range_join

    ev = load_table(spark, sf_dir, "events").select(
        # exact integer micros -> epoch seconds (NTZ under the UTC session)
        (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1000000.0)).alias("ts_sec"),
        "value",
    )
    win = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("window_id"),
        (F.lit(VALIDITY_EPOCH) + F.col("n_nationkey").cast("double") * VALIDITY_STRIDE_S).alias("w_start"),
        (
            F.lit(VALIDITY_EPOCH)
            + F.col("n_nationkey").cast("double") * VALIDITY_STRIDE_S
            + VALIDITY_WIDTH_S
        ).alias("w_end"),
    )
    joined = bucketed_range_join(
        ev, win, "ts_sec", "w_start", "w_end", float(VALIDITY_STRIDE_S)
    )
    return (
        joined.groupBy("window_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(dsum(F.col("value")), 4).alias("sum_value"),
        )
        .orderBy("window_id")
    )


# --- 19. skew_salted_topk -----------------------------------------------------

TOPK_SALT_N = 8
TOPK_K = 3


def q_skew_salted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-key top-k under a forced hot key, with NO unbounded window
    partition: the classic at-scale replacement for
    ``row_number() OVER (PARTITION BY key)`` when one key dominates.

    The hot key routes ~3/4 of lineitem to 'HOT'. Stage 1 aggregates exact
    integer cents at (key, partkey) grain -- the composite key spreads the
    hot rows, so no reducer melts. Stage 2 ranks INSIDE (key, salt) where
    salt = pmod(xxhash64(partkey), N): the salt is a function of the
    ranked entity, so every (key, partkey) group lands whole in exactly one
    salt bucket and bucket-wise top-k is lossless. Stage 3 ranks the
    bounded N*k survivors per key. Result == the direct window top-k
    (the oracle computes that form), but the widest window partition any
    stage sees is |parts|/N -- at 100 TB the difference between a straggler
    and an even stage.

    Exactness: integer cents; ties broken (cents DESC, partkey ASC) in
    both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    key = F.when(F.col("l_orderkey") % 4 > 0, F.lit("HOT")).otherwise(
        F.col("l_returnflag")
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    g = (
        li.select(key.alias("key"), "l_partkey", cents.alias("c"))
        .groupBy("key", "l_partkey")
        .agg(F.sum("c").alias("cents"))
    )
    salted = g.withColumn(
        "salt", F.pmod(F.xxhash64(F.col("l_partkey")), F.lit(TOPK_SALT_N))
    )
    w_local = Window.partitionBy("key", "salt").orderBy(
        F.col("cents").desc(), F.col("l_partkey").asc()
    )
    survivors = (
        salted.withColumn("r", F.row_number().over(w_local))
        .filter(F.col("r") <= TOPK_K)
        .drop("r", "salt")
    )
    w_final = Window.partitionBy("key").orderBy(
        F.col("cents").desc(), F.col("l_partkey").asc()
    )
    return (
        survivors.withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= TOPK_K)
        .select("key", "rank", F.col("l_partkey").alias("partkey"), "cents")
        .orderBy("key", "rank")
    )


# --- 20. bucketed_colocated_join_gate ----------------------------------------

_BK_FACT = "r11_bk_orders"
_BK_DIM = "r11_bk_customer"
_BK_N = 8


def q_bucketed_colocated_join_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two bucketed tables joined with ZERO exchange, gated: the layout
    device that removes the only full-table shuffle from a repeated
    fact-dim join (operators/bucketed.py; at 100 TB the bucketed layout is
    written once and every later merge/join on the key is exchange-free).

    Both sides are persisted ``bucketBy(custkey)`` catalog tables (external,
    under a temp location), broadcast is disabled for the probe so the plan
    must rely on the bucket layout, and the JOIN's executed plan is
    inspected: the ``no_exchange`` column the oracle pins to TRUE is
    computed from the plan string, so a layout regression (bucket spec
    lost, mismatched bucket counts, a resurfaced shuffle) flips the gate
    red rather than silently re-shuffling 100 TB. Aggregation parity
    against the plain-join oracle proves the bucketed path returns the
    same rows.
    """
    from pgsf_spark.operators.bucketed import write_bucketed

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    tmp = tempfile.mkdtemp(prefix="pgsf_bk_gate_")
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for name, df, sort_cols in (
            (_BK_DIM, cust, ["custkey"]),
            (_BK_FACT, orders, None),
        ):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            writer = df.write.mode("overwrite").bucketBy(_BK_N, "custkey")
            if sort_cols:
                writer = writer.sortBy(*sort_cols)
            writer.option("path", os.path.join(tmp, name)).saveAsTable(name)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table(_BK_FACT).join(spark.table(_BK_DIM), "custkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        no_exchange = "Exchange hashpartitioning" not in plan
        out = (
            joined.groupBy("c_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("cents").alias("sum_cents"),
            )
            .withColumn("no_exchange", F.lit(no_exchange))
            .orderBy("c_nationkey")
            .localCheckpoint(eager=True)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql(f"DROP TABLE IF EXISTS {_BK_FACT}")
        spark.sql(f"DROP TABLE IF EXISTS {_BK_DIM}")
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# --- 21. snapshot_asof_read_gate ----------------------------------------------

ASOF_CUTOFF = "1998-01-01"


def q_snapshot_asof_read_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TableStore version travel: publish v1 (orders before the cutoff),
    publish v2 (all orders), then read v1 BY NAME while v2 is current --
    the audit/reproducibility read every training-data pipeline needs
    ("rebuild the dataset exactly as shipped"). The store's versioned
    manifest makes this free: versions are immutable directories and a
    commit never rewrites them (operators/table_store.py; reference
    parity: the reference keeps only the latest PG state -- versioning is
    beyond-reference surface).

    Emits both versions' row counts and exact cents totals; the oracle
    recomputes them straight from the parquet with/without the cutoff
    predicate, so a time-travel read that leaks post-cutoff rows (or a
    publish that mutates a prior version) goes red.
    """
    from pgsf_spark.operators.table_store import TableStore

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    tmp = tempfile.mkdtemp(prefix="pgsf_asof_gate_")
    try:
        store = TableStore(spark, tmp)
        store.write(
            orders.filter(
                F.col("o_orderdate") < F.lit(ASOF_CUTOFF).cast("timestamp_ntz")
            ),
            "orders_snap",
        )
        v1 = store.current_version("orders_snap")
        store.write(orders, "orders_snap")
        as_of = store.read("orders_snap", version=v1)
        current = store.read("orders_snap")
        a1 = as_of.agg(
            F.count(F.lit(1)).alias("v1_rows"), F.sum("cents").alias("v1_cents")
        ).withColumn("k", F.lit(1))
        a2 = current.agg(
            F.count(F.lit(1)).alias("v2_rows"), F.sum("cents").alias("v2_cents")
        ).withColumn("k", F.lit(1))
        out = (
            a1.join(a2, "k")
            .select(
                "v1_rows",
                "v1_cents",
                "v2_rows",
                "v2_cents",
                (F.col("v1_rows") < F.col("v2_rows")).alias("versions_distinct"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# --- 22. window_rangebetween_native --------------------------------------------


def q_window_rangebetween_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native interval-valued RANGE frame: per event, activity in the
    TRAILING HOUR of the same user (RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
    AND CURRENT ROW) -- the value-based frame rowsBetween cannot express
    (irregular event spacing: the lookback is an amount of TIME, not a
    count of rows). Catalyst evaluates it as a single sorted window pass
    per user partition; same-timestamp peers are IN the frame on both
    engines, so the result is partition- and order-insensitive.

    Output is the distribution of trailing-hour burst sizes (burst size ->
    event count + exact decimal value mass): bounded rows at any scale,
    and every input row contributes, so a frame-boundary bug anywhere
    shifts the histogram.
    """
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_rbn")
    return spark.sql(
        """
        SELECT trailing_n,
               COUNT(*) AS n_rows,
               CAST(SUM(trailing_dec) AS DOUBLE) AS sum_trailing_value
        FROM (
          SELECT COUNT(*) OVER w AS trailing_n,
                 SUM(CAST(value AS DECIMAL(27,4))) OVER w AS trailing_dec
          FROM events_rbn
          WINDOW w AS (PARTITION BY user_id ORDER BY ts
                       RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        )
        GROUP BY trailing_n
        ORDER BY trailing_n
        """
    )


# --- 23. grouping_sets_cube_gate -----------------------------------------------


def q_grouping_sets_cube_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with grouping_id() parity: the full 4-set lattice over
    (status, priority) plus the grouping-id bit vector that downstream
    consumers key on to tell subtotal grains apart (Spark and DuckDB agree
    on the encoding: leftmost column = most significant bit, 1 =
    aggregated). Distinct from the registry's q_grouping_sets (partial set
    list, no id) and q_cube_status_priority (CUBE sugar): this gate pins
    the ID CONTRACT -- a engine that renumbers the bits silently corrupts
    every grain filter built on it.

    One expand + one hash aggregate; the expand multiplies rows by the
    set count BEFORE the combine, so partial aggregation still bounds the
    shuffle at scale.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gsid")
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               CAST(grouping_id() AS BIGINT) AS gid,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS sum_price
        FROM orders_gsid
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), (o_orderpriority), ())
        ORDER BY gid, status, priority
        """
    )


# --- 24. pivot_unpivot_roundtrip -------------------------------------------------

_PIVOT_STATUSES = ("F", "O", "P")


def q_pivot_unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot -> unpivot round trip, gated row-by-row against the straight
    groupBy: orders pivot order COUNTS to one column per status (explicit
    value list -- never the implicit distinct-scan pivot, which is a
    collect at scale), then stack() the wide row back to long form and
    join it to the direct aggregate. The ``match`` column the oracle pins
    TRUE proves the reshape is lossless both ways (absent combinations
    surface as pivot NULLs and are dropped by the unpivot filter, exactly
    the rows the direct aggregate never had).

    Plan: one shuffle for the pivot aggregate (partial-aggregated), the
    unpivot is a zero-shuffle generator, and the parity join is full-outer
    over two ~15-row aggregates (full outer so a row present on only ONE
    side -- the reshape inventing or losing a combination -- surfaces as a
    null-n mismatch instead of vanishing from an inner join).
    """
    o = load_table(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", list(_PIVOT_STATUSES))
        .agg(F.count(F.lit(1)))
    )
    stack_args = ", ".join(f"'{s}', `{s}`" for s in _PIVOT_STATUSES)
    long = wide.select(
        F.col("o_orderpriority").alias("priority"),
        F.expr(f"stack({len(_PIVOT_STATUSES)}, {stack_args}) AS (status, n)"),
    ).filter(F.col("n").isNotNull())
    direct = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
    ).agg(F.count(F.lit(1)).alias("n_direct"))
    return (
        long.join(direct, ["priority", "status"], "full_outer")
        .select(
            "priority",
            "status",
            F.col("n").cast("bigint").alias("n"),
            (F.col("n") == F.col("n_direct")).alias("match"),
        )
        .orderBy("priority", "status")
    )


# --- 25. lateral_explode_topk ------------------------------------------------------

LATERAL_DOCS = 120  # bounded audit slice; grain is per-token below this id
LATERAL_K = 3
LATERAL_MAX_TOKS = 4096  # oracle-side explode bound (max observed ~100)


def q_lateral_explode_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral posexplode + per-row top-k: each document's tokens are
    exploded WITH POSITION (the lateral-view shape) and the k longest
    tokens per document survive a bounded window (ties broken by first
    occurrence -- the position the explode carries is what makes that
    deterministic). The everyday "top features per entity" shape over a
    nested column, locked with an oracle because both the position
    semantics and the tie order are easy to silently break.

    Plan: the explode is a generator (no shuffle); the per-doc window
    partitions on doc_id, whose width is one document's token count --
    bounded by construction, no salt needed.
    """
    from pgsf_spark.analytics.dedup import _norm_text

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < LATERAL_DOCS)
        .select("doc_id", F.split(_norm_text(F.col("text")), " ").alias("toks"))
    )
    ex = d.select("doc_id", F.posexplode("toks").alias("pos", "token"))
    w = Window.partitionBy("doc_id").orderBy(
        F.length("token").desc(), F.col("pos").asc()
    )
    return (
        ex.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= LATERAL_K)
        .select(
            "doc_id",
            "rank",
            "token",
            F.length("token").cast("bigint").alias("tok_len"),
            (F.col("pos") + 1).cast("bigint").alias("pos1"),
        )
        .orderBy("doc_id", "rank")
    )
