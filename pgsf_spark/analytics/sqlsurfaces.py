"""Spark 4 SQL-language surfaces + the sink leg.

Six queries, each locking a LANGUAGE or SINK surface the registry does
not exercise behind the usual DuckDB-oracle gate:

  1. recursive CTE        -- WITH RECURSIVE hierarchy walk (Spark 4
                             recursion meets DuckDB's native recursion:
                             the oracle is the same recursive query)
  2. pipe syntax          -- FROM ... |> WHERE ... |> AGGREGATE ...
                             (the Spark 4 pipe parser vs standard SQL)
  3. SQL scalar UDF       -- CREATE FUNCTION ... RETURN expr, applied
                             inside an exact-decimal aggregate
  4. SQL table UDF        -- RETURNS TABLE(...) spine generator joined
                             against data (empty buckets included)
  5. collation            -- UTF8_LCASE grouping + case-variant counts
                             over a constructed mixed-case column
  6. chunked sink         -- the Python DataSource WRITER leg
                             (sources/pyds.py EntityChunkSink): the
                             reference's capped bulk upload with a
                             driver-side commit manifest

All SQL faces run through ``spark.sql`` on temp views of the sf tables
(the surfaces under test are parser/analyzer features, not DataFrame
builders); function and view names are ``pgsf_``-prefixed to keep the
shared session clean.

Reference parity note: 1-5 are beyond-reference SQL surface; 6 maps to
reference upload_table.py's 10k-record chunked bulk upload + per-chunk
result ledger (SURVEY K4/K5), re-expressed as a Spark sink whose
commit protocol IS the job-artifact contract.

Registered in registry.py; behaviour tested by tests/test_sqlsurfaces.py
and tests/test_chunked_sink.py.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgsf_spark.tables import load_table


def _view(spark: SparkSession, sf_dir: str, table: str) -> str:
    name = f"pgsf_sql_{table}"
    load_table(spark, sf_dir, table).createOrReplaceTempView(name)
    return name


# --- 1. recursive_cte_closure ---------------------------------------------------


def q_recursive_cte_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE hierarchy walk (Spark 4 recursive CTE).

    Customers 1..255 form an implicit binary tree (parent = c DIV 2);
    the recursion walks every customer to the root and the aggregate
    histograms the walk depths. DuckDB runs the IDENTICAL recursion
    (native recursive CTE), so the gate pins Spark's recursion
    semantics -- iteration-to-fixpoint, UNION ALL accumulation --
    against an independent engine, and doubles as the honest comparison
    point for the driver-loop iterative graph operators already in the
    registry."""
    c = _view(spark, sf_dir, "customer")
    return spark.sql(
        f"""
        WITH RECURSIVE walk(c, cur, d) AS (
          SELECT c_custkey, c_custkey, 0
          FROM {c} WHERE c_custkey BETWEEN 1 AND 255
          UNION ALL
          SELECT c, cur DIV 2, d + 1 FROM walk WHERE cur > 1
        ),
        depths AS (SELECT c, MAX(d) AS depth FROM walk GROUP BY c)
        SELECT depth, COUNT(*) AS n_customers, SUM(c) AS sum_keys
        FROM depths GROUP BY depth ORDER BY depth
        """
    )


# --- 2. pipe_syntax_parity ------------------------------------------------------


def q_pipe_syntax_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pricing-summary shape restated in Spark 4 |> pipe syntax.

    Same logical plan as the chained-clauses form -- the gate pins the
    NEW PARSER (FROM |> WHERE |> AGGREGATE ... GROUP BY |> ORDER BY)
    against the standard-SQL oracle, exact-decimal aggregation and
    all."""
    li = _view(spark, sf_dir, "lineitem")
    return spark.sql(
        f"""
        FROM {li}
        |> WHERE l_quantity < 24
        |> AGGREGATE COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,4))) AS DOUBLE) AS sum_price
             GROUP BY l_returnflag, l_linestatus
        |> ORDER BY l_returnflag, l_linestatus
        """
    )


# --- 3. sql_udf_gate ------------------------------------------------------------


def q_sql_udf_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar function (CREATE FUNCTION ... RETURN expr).

    The discounted-price expression lives in a named SQL UDF the
    analyzer inlines; the oracle states the expression directly. Pins
    that the UDF body composes with exact-decimal aggregation exactly
    like the inline form (no hidden double rounding)."""
    li = _view(spark, sf_dir, "lineitem")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION pgsf_disc_price(p DOUBLE, d DOUBLE)
        RETURNS DOUBLE RETURN p * (1 - d)
        """
    )
    return spark.sql(
        f"""
        SELECT l_returnflag,
          COUNT(*) AS n,
          CAST(SUM(CAST(pgsf_disc_price(l_extendedprice, l_discount)
                        AS DECIMAL(27,4))) AS DOUBLE) AS revenue
        FROM {li} GROUP BY l_returnflag ORDER BY l_returnflag
        """
    )


# --- 4. sql_table_udf_gate ------------------------------------------------------


def q_sql_table_udf_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL TABLE-valued function as a bucket spine (empty buckets kept).

    ``pgsf_spine(n)`` generates bucket ids 0..n-1 from a foldable base
    relation (a parameterized LIMIT over range() is rejected --
    measured: NON_FOLDABLE_ARGUMENT -- so the body filters a literal
    range, the supported shape). LEFT JOIN from the spine keeps
    zero-count buckets, the classic histogram-completeness trick now
    expressible as a reusable SQL function."""
    o = _view(spark, sf_dir, "orders")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION pgsf_spine(n INT)
        RETURNS TABLE(b BIGINT)
        RETURN SELECT id FROM range(64) WHERE id < n
        """
    )
    return spark.sql(
        f"""
        WITH h AS (
          SELECT LEAST(CAST(FLOOR(o_totalprice / 50000) AS BIGINT), 7) AS b,
                 COUNT(*) AS n,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS total
          FROM {o} GROUP BY 1)
        SELECT s.b AS bucket, COALESCE(h.n, 0) AS n_orders,
               COALESCE(h.total, 0.0) AS sum_price
        FROM pgsf_spine(8) s LEFT JOIN h ON s.b = h.b
        ORDER BY s.b
        """
    )


# --- 5. collation_gate ----------------------------------------------------------


def q_collation_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTF8_LCASE collation grouping over constructed mixed-case values.

    Each doc's lang is rendered in one of three case shapes (UPPER /
    lower / Capitalized, by doc_id % 3); grouping on the UTF8_LCASE
    collation must fold them back together while binary COUNT(DISTINCT)
    still sees the variants. The oracle is the portable lower() form --
    pinning that Spark 4 collation semantics match it exactly."""
    d = _view(spark, sf_dir, "documents")
    return spark.sql(
        f"""
        WITH m AS (
          SELECT CASE CAST(doc_id % 3 AS INT)
                   WHEN 0 THEN upper(lang)
                   WHEN 1 THEN lang
                   ELSE concat(upper(substring(lang, 1, 1)), substring(lang, 2))
                 END AS mixed
          FROM {d})
        SELECT lower(MIN(mixed)) AS lang, COUNT(*) AS n_docs,
               COUNT(DISTINCT mixed) AS n_case_variants
        FROM m GROUP BY mixed COLLATE UTF8_LCASE ORDER BY lang
        """
    )


# --- 6. chunked_sink_gate -------------------------------------------------------

_SINK_CAP = 64  # small cap so the fixture corpus forces multiple chunks


def q_chunked_sink_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round trip through the Python DataSource WRITER (entity_chunks).

    Documents stream through the chunked sink (sources/pyds.py: per-task
    parquet chunks capped at max_records, manifest written only by the
    driver's commit), then the MANIFEST-listed chunks -- and only those
    -- are read back and aggregated. Equality with the base-table oracle
    pins the whole sink protocol: per-task chunking, the record cap, the
    commit barrier, and lossless round-tripping."""
    from pgsf_spark.sources import pyds

    pyds.register_sink(spark)
    tmp = tempfile.mkdtemp(prefix="pgsf_sink_")
    try:
        out = os.path.join(tmp, "upload")
        (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "source", "n_chars")
            .repartition(4, "doc_id")
            .write.format("entity_chunks")
            .option("path", out)
            .option("max_records", str(_SINK_CAP))
            .mode("append")
            .save()
        )
        with open(os.path.join(out, "_MANIFEST.json")) as fh:
            manifest = json.load(fh)
        # the reference's per-chunk record cap -- an explicit raise, not an
        # assert, so the gate cannot silently weaken under python -O
        over = [e for e in manifest if e["rows"] > _SINK_CAP]
        if over:
            raise ValueError(f"chunked_sink_gate: chunks over the {_SINK_CAP}-record cap: {over}")
        files = [os.path.join(out, e["file"]) for e in manifest]
        landed = spark.read.parquet(*files) if files else spark.createDataFrame(
            [], "doc_id bigint, source string, n_chars bigint"
        )
        res = (
            landed.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("sum_chars"),
                F.min("doc_id").alias("min_doc"),
                F.max("doc_id").alias("max_doc"),
            )
            .orderBy("source")
        )
        return res.localCheckpoint(eager=True)
    finally:
        # always reclaim the temp chunks, even when the write job or the
        # manifest read raises
        shutil.rmtree(tmp, ignore_errors=True)


# --- 7. observe_metrics_gate ----------------------------------------------------


def q_observe_metrics_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``df.observe`` accumulator metrics surfaced as a result row.

    The reference counts rows as a side effect of the sync pass and
    reconciles them against the job result (reference download.py row
    accounting, SURVEY A3); Spark's native form is ``observe``:
    CollectMetrics nodes accumulate aggregates DURING the single noop
    write pass -- one scan, no second aggregation job -- at two points
    (post-scan, post-filter), and the gate emits both observations plus
    their reconciliation ratio. The oracle states the same aggregates
    plainly, so the observed metrics are value-pinned, not just
    smoke-checked. Sums accumulate in DECIMAL and emit as DOUBLE (exact
    -> correctly-rounded on both engines, no ROUND needed)."""
    from pyspark.sql import Observation

    scan = Observation()
    kept = Observation()
    li = load_table(spark, sf_dir, "lineitem").select("l_quantity")
    flow = li.observe(
        scan,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(27,4)")).alias("qty"),
    ).filter(F.col("l_quantity") < 24).observe(
        kept,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(27,4)")).alias("qty"),
    )
    flow.write.format("noop").mode("overwrite").save()
    s, k = scan.get, kept.get
    n_in, n_kept = int(s["n"]), int(k["n"])
    row = (
        n_in,
        n_kept,
        float(s["qty"]) if s["qty"] is not None else None,
        float(k["qty"]) if k["qty"] is not None else None,
        n_kept * 1000 // n_in if n_in else 0,
    )
    return spark.createDataFrame(
        [row],
        "n_in bigint, n_kept bigint, sum_qty_in double, sum_qty_kept double, "
        "kept_permille bigint",
    )


# --- 8. chunked_stream_sink_gate ------------------------------------------------


def q_chunked_stream_sink_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round trip through the STREAMING leg of the chunked sink.

    The reference's scheduler re-runs the chunked upload every sync
    cycle (reference upload loop + scheduler, SURVEY K4/C2); here each
    micro-batch is one cycle: documents replay as a 3-batch availableNow
    stream into ``entity_chunks`` (sources/pyds.py
    EntityChunkStreamWriter), each epoch's tasks writing capped parquet
    chunks and each epoch's COMMIT writing its own atomic
    ``_MANIFEST-<batchId>.json``. Only manifest-listed chunks are read
    back and aggregated; equality with the base-table oracle pins the
    per-epoch commit protocol end to end (chunking, cap, epoch ledger,
    lossless replay)."""
    from pgsf_spark.sources import pyds
    from pgsf_spark.streaming import faces

    pyds.register_sink(spark)
    tmp = tempfile.mkdtemp(prefix="pgsf_ssink_")
    try:
        out = os.path.join(tmp, "upload")
        feed = os.path.join(tmp, "feed")
        src = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "n_chars"
        )
        faces._write_feed(faces._tiles(src, ["doc_id"]), feed)
        stream = faces._read_stream(spark, feed, src.schema)
        writer = (
            stream.writeStream.format("entity_chunks")
            .option("path", out)
            .option("max_records", str(_SINK_CAP))
            .outputMode("append")
        )
        faces._run(spark, writer, os.path.join(tmp, "ck"))
        manifest = pyds.committed_chunks(out)
        over = [e for e in manifest if e["rows"] > _SINK_CAP]
        if over:
            raise ValueError(
                f"chunked_stream_sink_gate: chunks over the {_SINK_CAP}-record "
                f"cap: {over}"
            )
        files = [os.path.join(out, e["file"]) for e in manifest]
        landed = spark.read.parquet(*files) if files else spark.createDataFrame(
            [], "doc_id bigint, source string, n_chars bigint"
        )
        res = (
            landed.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("sum_chars"),
                F.min("doc_id").alias("min_doc"),
                F.max("doc_id").alias("max_doc"),
            )
            .orderBy("source")
        )
        return res.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
