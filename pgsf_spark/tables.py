"""Canonical loader for the test-data star schema.

Single place that knows the physical quirks of the driver-generated parquet
(TESTDATA.md) and hides them from every query:
  - ``events.ts`` is parquet TIMESTAMP(NANOS) -- Spark reads it as a long
    (nanosAsLong) and we convert to TIMESTAMP_NTZ at microsecond precision,
    matching what DuckDB sees (micros, naive).
  - other timestamp columns (ms precision) arrive as TIMESTAMP_NTZ already.

All engine queries load via ``load_table`` so a future format change is
one edit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _ensure_session_conf(spark: SparkSession) -> None:
    """Defensive runtime conf for sessions we didn't build (the round driver
    creates its own): nanos parquet reading + UTC so TIMESTAMP_NTZ casts are
    stable. Both are runtime-settable; ignore engines that refuse."""
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_session_conf(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # nanos since epoch -> naive microsecond timestamp (what DuckDB sees)
        df = df.withColumn(
            "ts", F.expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)")
        )
    return df


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ONLY when the input arrives under-parallel.

    Single-file test tables land as 1 partition, which serializes CPU-heavy
    per-row work (minhash, simhash, hyperplane dots); spreading them across
    cores first is a big local win. But an unconditional ``repartition`` is a
    full shuffle of the corpus at 100 TB where the scan already has far more
    splits than ``defaultParallelism`` -- so this is a no-op (no Exchange in
    the plan at all) whenever the input is already at least ``min_partitions``
    wide. Planning-time check only; no job runs.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
