"""Robustness gates: schema drift and landing-zone corruption, driver-provable.

The two engine-depth surfaces built for the round-14 plan (PERF.md
"Round-14 plan: depth over breadth"), each re-expressed as an
oracle-gated query so the behavior is CORRECTNESS-ledgered, not just
unit-tested:

  - ``schema_drift_gate``  -- a full sync cycle whose incremental batch
    ADDS a column (the reference's unsolved TODO class,
    query_poll_table.py:202): the replica widens, pre-drift rows read
    NULL, the published manifest ledgers the drift, and the final
    replica state hash-matches the oracle's restatement.
  - ``integrity_quarantine_gate`` -- a landing zone with one truncated
    part file: detection names the file, quarantine moves it aside with
    a ledger, and the load proceeds on the good files with the loss
    explicit (vs ignoreCorruptFiles' silent row loss).

Both gates construct their fixture from the sf ``documents`` table with
DETERMINISTIC drift/corruption choices (doc_id arithmetic), so the
DuckDB oracle recomputes the expected end state from ``documents``
alone. Faces execute eagerly into a localCheckpoint (temp stores are
reclaimed in ``finally``), the chunked-sink-gate pattern.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgsf_spark.tables import load_table

T0 = datetime(2024, 1, 1, 0, 0, 0)
T1 = datetime(2024, 1, 1, 1, 0, 0)

DRIFT_MOD = 5  # doc_id % 5 == 0 rows arrive in the drifted update batch
CORRUPT_BUCKETS = 4  # landing zone split into 4 deterministic bucket files
CORRUPT_VICTIM = 2  # bucket-2's file is truncated


def q_schema_drift_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end widening sync cycle, hash-pinned.

    Snapshot documents (doc_id, source, n_chars) into a bucket-partitioned
    replica, then sync an incremental batch that ADDS a ``lang`` column
    (synthetic ``L<doc_id % 7>``) for the doc_id % 5 == 0 rows. The
    runner's drift gate classifies the addition and ledgers it in the
    manifest; the tick rewrites only the changed buckets, and the
    replica reads back with pre-drift rows NULL (carried buckets keep
    their old-schema files, null-filled from the manifest schema). The oracle restates the expected end
    state from ``documents`` directly."""
    from pgsf_spark.operators.table_store import TableStore
    from pgsf_spark.sources.entity import EntitySource
    from pgsf_spark.sync.runner import SyncRunner
    from pgsf_spark.sync.state import SyncState

    tmp = tempfile.mkdtemp(prefix="pgsf_drift_")
    try:
        src = os.path.join(tmp, "src")
        os.makedirs(src)
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "n_chars"
        )
        base = docs.withColumn(
            "SystemModstamp", F.lit(T0).cast("timestamp")
        ).withColumn("IsDeleted", F.lit(False))
        base.write.parquet(os.path.join(src, "docs.parquet"))
        source = EntitySource(spark, src, integrity_check=True)
        store = TableStore(spark, os.path.join(tmp, "store"))
        state = SyncState(os.path.join(tmp, "sync.json"))
        runner = SyncRunner(source, store, state)  # drift_policy="widen"
        runner.snapshot_load("docs", pk="doc_id", partition_buckets=4)
        state.release("docs", syncuntil=T0, touch_refresh=False)
        # the drifted wave: same rows' values, PLUS the new lang column
        update = (
            docs.filter(F.col("doc_id") % DRIFT_MOD == 0)
            .withColumn(
                "lang", F.concat(F.lit("L"), (F.col("doc_id") % 7).cast("string"))
            )
            .withColumn("SystemModstamp", F.lit(T1).cast("timestamp"))
            .withColumn("IsDeleted", F.lit(False))
        )
        update.write.mode("overwrite").parquet(os.path.join(src, "docs.parquet"))
        runner.sync_table("docs", pk="doc_id", ts_field="SystemModstamp")
        drift = store.manifest("docs").get("schema_drift", {})
        added = ",".join(e["column"] for e in drift.get("added", []))
        res = (
            store.read("docs")
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.count("lang").alias("n_with_lang"),  # pre-drift rows NULL
                F.count_distinct("lang").alias("n_lang_variants"),
                F.sum("n_chars").alias("sum_chars"),
            )
            .withColumn("drift_added", F.lit(added))
            .orderBy("source")
        )
        return res.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q_integrity_quarantine_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt landing file: detect -> quarantine -> load the rest.

    Documents land as four deterministic bucket files (doc_id % 4);
    bucket-2's file is truncated mid-footer. The integrity scan NAMES
    it, quarantine moves it aside with a ledger entry, and the load
    aggregates the three surviving buckets -- the oracle restates the
    survivors as ``doc_id % 4 <> 2`` over ``documents``, plus the
    ledger-derived columns, so detection, quarantine, and the explicit
    (never silent) row loss are all hash-pinned."""

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pgsf_spark.sources.integrity import (
        quarantine_corrupt,
        read_quarantine_ledger,
        scan_parquet_dir,
    )

    tmp = tempfile.mkdtemp(prefix="pgsf_integrity_")
    try:
        zone = os.path.join(tmp, "zone")
        os.makedirs(zone)
        pdf = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "source", "n_chars")
            .orderBy("doc_id")
            .toPandas()
        )
        for b in range(CORRUPT_BUCKETS):
            part = pdf[pdf["doc_id"] % CORRUPT_BUCKETS == b]
            t = pa.table(
                {
                    "doc_id": pa.array(part["doc_id"], pa.int64()),
                    "source": pa.array(part["source"], pa.string()),
                    "n_chars": pa.array(part["n_chars"], pa.int64()),
                }
            )
            pq.write_table(t, os.path.join(zone, f"bucket-{b}.parquet"))
        victim = os.path.join(zone, f"bucket-{CORRUPT_VICTIM}.parquet")
        with open(victim, "r+b") as fh:
            head = fh.read(40)
            fh.truncate(0)
            fh.seek(0)
            fh.write(head)
        report = scan_parquet_dir(zone)
        if len(report.bad) != 1 or report.bad[0][0] != victim:
            raise ValueError(f"integrity gate: detection failed: {report.describe()}")
        clean = quarantine_corrupt(zone, report)
        if not clean:
            raise ValueError(f"integrity gate: quarantine left {clean.describe()}")
        ledger = read_quarantine_ledger(zone)
        res = (
            spark.read.parquet(zone)
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("sum_chars"),
                F.min("doc_id").alias("min_doc"),
            )
            .withColumn("n_quarantined", F.lit(len(ledger)).cast("bigint"))
            .withColumn("quarantined_file", F.lit(ledger[0]["file"]))
            .orderBy("source")
        )
        return res.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
