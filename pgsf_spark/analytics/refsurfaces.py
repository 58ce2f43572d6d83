"""Reference API surfaces, driver-proven: SOSL, paging, CDC ids, compaction.

Four SURVEY §2 surfaces that were implemented and pytest-covered from
early rounds but had no CORRECTNESS rows of their own (the judge's
coverage table listed them gate-less): the SOSL search subset
(§2.1b, simple_salesforce api.py:296-328), the query/queryMore paged
accumulation loop (api.py:296-328 -- bounded driver memory via
toLocalIterator), the updated/deleted-ids CDC windows (S5/S6,
api.py:715-754), and version compaction (the OPTIMIZE-style maintenance
op behind C7). Each becomes an oracle-gated query:

  - ``sosl_search_gate`` -- FIND {term} IN ALL FIELDS RETURNING
    documents(...): the OR-chain contains() predicate, soft-delete
    default, WHERE refinement, and field projection, aggregated per
    source so the oracle restates the whole search from ``documents``.
  - ``query_pages_gate`` -- the pagination loop run for real at page
    size 50: pages stream through toLocalIterator, and the gate rebuilds
    count/sum from the PAGES (not the frame), so a lost, duplicated, or
    short-filled page breaks the hash. Page math (ceil division, last
    page size) is restated by the oracle from ``orders``.
  - ``cdc_id_scans_gate`` -- updated_ids/deleted_ids over a
    deterministic temp entity (SystemModstamp = T0 + (pk % 5) hours,
    IsDeleted = pk % 13 == 0): the inclusive [start, end] window
    semantics of the REST endpoints, restated from ``customer``.
  - ``compaction_gate`` -- a 16-file version compacts to 2 files through
    the same atomic versioned publish; the gate pins file counts before
    and after, the version count, and byte-identical data aggregates.

Scale notes: SOSL/paging/CDC faces are single filtered scans (predicates
JVM-side, no UDFs); query_pages intentionally exercises the BOUNDED
driver path (one partition in flight -- the operator exists precisely
so callers never collect()); compaction is the small-files answer at
100 TB (publish by atomic commit, readers never see a partial rewrite).
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgsf_spark.tables import load_table

T0 = datetime(2024, 1, 1, 0, 0, 0)

SOSL_TERM = "the"
SOSL_MIN_CHARS = 100
PAGE_SIZE = 50
CDC_HOUR_MOD = 5  # SystemModstamp = T0 + (pk % 5) hours
CDC_DEL_MOD = 13  # pk % 13 == 0 rows are soft-deleted
CDC_WIN_LO, CDC_WIN_HI = 1, 3  # ids with hour offset in [1, 3] are in-window
COMPACT_FILES_BEFORE = 16
COMPACT_FILES_AFTER = 2


def q_sosl_search_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOSL subset end-to-end: parse, OR-chain search, WHERE, projection."""
    from pgsf_spark.soql import run_sosl

    hits = run_sosl(
        lambda t: load_table(spark, sf_dir, t),
        f"FIND {{{SOSL_TERM}}} IN ALL FIELDS "
        f"RETURNING documents(doc_id, source, n_chars WHERE n_chars > {SOSL_MIN_CHARS})",
    )["documents"]
    res = (
        hits.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("source")
    )
    return res.localCheckpoint(eager=True)


def q_query_pages_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """query/queryMore accumulation: totals rebuilt from the PAGES."""
    from pgsf_spark.soql import query_pages, run_soql_all

    df = run_soql_all(
        lambda t: load_table(spark, sf_dir, t),
        "SELECT o_orderkey FROM orders",
    )
    n_rows = 0
    n_pages = 0
    last_page_rows = 0
    sum_keys = 0
    seen_twice = 0
    seen: set = set()
    for page in query_pages(df, page_size=PAGE_SIZE):
        n_pages += 1
        last_page_rows = len(page)
        n_rows += len(page)
        for row in page:
            k = row["o_orderkey"]
            sum_keys += k
            if k in seen:
                seen_twice += 1
            seen.add(k)
    if seen_twice:
        raise ValueError(f"query_pages duplicated {seen_twice} keys across pages")
    if n_pages != (math.ceil(n_rows / PAGE_SIZE) if n_rows else 0):
        raise ValueError(f"page math broken: {n_pages} pages for {n_rows} rows")
    res = spark.createDataFrame(
        [(n_rows, n_pages, last_page_rows, sum_keys)],
        "n_rows bigint, n_pages bigint, last_page_rows bigint, sum_keys bigint",
    )
    return res.localCheckpoint(eager=True)


def q_cdc_id_scans_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """updated/deleted id windows (S5/S6): inclusive [start, end]."""
    from pgsf_spark.sources.entity import EntitySource

    tmp = tempfile.mkdtemp(prefix="pgsf_cdcids_")
    try:
        src = os.path.join(tmp, "src")
        os.makedirs(src)
        pk = "c_custkey"
        base = load_table(spark, sf_dir, "customer").select(
            F.col(pk).cast("long").alias(pk)
        )
        (
            base.withColumn(
                "SystemModstamp",
                F.lit(T0).cast("timestamp")
                + F.make_interval(hours=(F.col(pk) % CDC_HOUR_MOD).cast("int")),
            )
            .withColumn("IsDeleted", F.col(pk) % CDC_DEL_MOD == 0)
            .write.parquet(os.path.join(src, "cust.parquet"))
        )
        source = EntitySource(spark, src)
        start = T0 + timedelta(hours=CDC_WIN_LO)
        end = T0 + timedelta(hours=CDC_WIN_HI)
        updated = source.updated_ids("cust", start, end, pk=pk)
        deleted = source.deleted_ids("cust", start, end, pk=pk)
        u = updated.agg(
            F.count(F.lit(1)).alias("n_updated"),
            F.sum(pk).alias("sum_updated"),
            F.min(pk).alias("min_updated"),
        ).first()
        d = deleted.agg(
            F.count(F.lit(1)).alias("n_deleted"),
            F.sum(pk).alias("sum_deleted"),
        ).first()
        res = spark.createDataFrame(
            [
                (
                    u["n_updated"],
                    u["sum_updated"],
                    u["min_updated"],
                    d["n_deleted"],
                    d["sum_deleted"],
                )
            ],
            "n_updated bigint, sum_updated bigint, min_updated bigint, "
            "n_deleted bigint, sum_deleted bigint",
        )
        return res.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q_compaction_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction through the atomic versioned publish."""
    from pgsf_spark.operators.table_store import TableStore
    from pgsf_spark.sources.integrity import _list_part_files

    tmp = tempfile.mkdtemp(prefix="pgsf_compact_")
    try:
        pk = "c_custkey"
        base = (
            load_table(spark, sf_dir, "customer")
            .select(F.col(pk).cast("long").alias(pk))
            .withColumn("v", (F.col(pk) * 3).cast("long"))
        )
        store = TableStore(spark, os.path.join(tmp, "store"))
        store.write(base.repartition(COMPACT_FILES_BEFORE), "cust")
        files_before = len(_list_part_files(store.current_version_path("cust")))
        agg_cols = [F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")]
        before = store.read("cust").agg(*agg_cols).first()
        store.compact("cust", target_partitions=COMPACT_FILES_AFTER)
        files_after = len(_list_part_files(store.current_version_path("cust")))
        after = store.read("cust").agg(*agg_cols).first()
        if (after["n"], after["s"]) != (before["n"], before["s"]):
            raise ValueError("compaction changed the data")
        if files_after >= files_before and before["n"]:
            raise ValueError(
                f"compaction did not shrink the file count: {files_before} -> {files_after}"
            )
        res = spark.createDataFrame(
            [
                (
                    after["n"],
                    after["s"],
                    files_before,
                    files_after,
                    len(store.versions("cust")),
                )
            ],
            "n_rows bigint, sum_v bigint, files_before int, files_after int, n_versions int",
        )
        return res.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
