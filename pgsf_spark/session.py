"""SparkSession factory with scale-oriented defaults.

Design notes (100 TB target, tested on local[32]):
  - UTC session timezone everywhere (reference stores all timestamps UTC,
    /root/reference/install.sql:15, query_poll_table.py:82).
  - AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
    dynamic broadcast-join conversion -- the knobs that make the same plan
    survive a 1000-executor cluster.
  - shuffle.partitions is a default for local runs; on a real cluster AQE
    coalesces from a high initial number, so we set the initial high and let
    AQE shrink instead of hand-tuning per query.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "pgsf_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_CPUS
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow for any pandas_udf / toPandas path (vectorized, not per-row).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Files: 128 MB split target is the right granularity for huge scans.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "snappy")
        # INT64 micros timestamps (not legacy INT96): required for predicate
        # pushdown and footer min/max stats on timestamp columns, and what
        # every other engine (DuckDB, Trino) reads natively.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # pandas-written parquet may carry TIMESTAMP(NANOS) which Spark's
        # reader rejects; read as long and normalize in tables.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/pgsf_spark_warehouse"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
