"""Canonical loader for the test-data star schema.

Single place that knows the physical quirks of the driver-generated parquet
(TESTDATA.md) and hides them from every query:
  - ``events.ts`` is parquet TIMESTAMP(NANOS) -- Spark reads it as a long
    (nanosAsLong) and we convert to TIMESTAMP_NTZ at microsecond precision,
    matching what DuckDB sees (micros, naive).
  - other timestamp columns (ms precision) arrive as TIMESTAMP_NTZ already.

All engine queries load via ``load_table`` so a future format change is
one edit. ``load_table`` reads with the schema ``parquet_schema`` resolved
once per file version, so building a query runs no schema-inference job.
"""

from __future__ import annotations

import os
import threading
import weakref
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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


# Session confs that change what parquet inference returns for the same
# files; a memoized schema is only reused under the values it was inferred with.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)
# Schemas kept per session, least recently used evicted first: a few
# versions of each of the ten tables.
_SCHEMA_MEMO_SIZE = 64
_schema_memos: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_schema_memo_lock = threading.Lock()


def _file_identity(path: str) -> tuple:
    """(size, mtime_ns, inode) of a file; for a directory, the sorted
    (relative name, size, mtime_ns) of every file under it -- a superset of
    the data files Spark lists, so a rewritten, added or removed file
    always changes it."""
    st = os.stat(path)
    if not os.path.isdir(path):
        return (st.st_size, st.st_mtime_ns, st.st_ino)
    files = []
    for root, _dirs, names in os.walk(path):
        for n in names:
            fp = os.path.join(root, n)
            fst = os.stat(fp)
            files.append((os.path.relpath(fp, path), fst.st_size, fst.st_mtime_ns))
    return tuple(sorted(files))


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for the parquet file or directory at
    ``path``, inferred once per file version and session.

    Inference is a Spark job (it reads a footer); the result is memoized
    per SparkSession, keyed by the absolute path, the files' identity
    (``_file_identity``) and the ``_INFERENCE_CONFS`` values, so a
    rewritten file or a changed conf infers again. The stored value is
    Spark's own inference, so reading with it plans and returns exactly
    what a read without it does."""
    path = os.path.abspath(path)
    key = (path, _file_identity(path), tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
    with _schema_memo_lock:
        memo = _schema_memos.setdefault(spark, OrderedDict())
        if key in memo:
            memo.move_to_end(key)
            return memo[key]
    schema = spark.read.parquet(path).schema
    with _schema_memo_lock:
        memo[key] = schema
        while len(memo) > _SCHEMA_MEMO_SIZE:
            memo.popitem(last=False)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_session_conf(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
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
