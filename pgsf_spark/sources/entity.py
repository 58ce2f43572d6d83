"""Entity source: the engine's scan operator over a table directory.

Plays the role of the reference's Salesforce extract paths:
  - paged REST query        (S3, /root/reference/query.py:37-51)
  - count-only query        (S4, /root/reference/query.py:53-65)
  - bulk PK-chunked scan    (S7, /root/reference/query_bulk.py:14-46)

Spark-first design: the "source" is a parquet (or csv) directory per table;
projection (P1), predicate (P3/P4), and limit (P6) are expressed on the
DataFrame and pushed into the scan by Catalyst (verify via
``df.explain``: PushedFilters / ReadSchema). PK chunking -- the reference's
only parallelism -- is Spark input partitions, which we get for free from the
file format; ``pk_buckets`` optionally repartitions by key for co-located
downstream merges.

include_deleted=False reproduces the REST ``query`` endpoint (soft-deleted
rows hidden); True is ``queryAll`` (api.py:353) -- rows flagged IsDeleted
flow through, which the CDC merge relies on (P5).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class EntitySource:
    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        fmt: str = "parquet",
        usage=None,
        integrity_check: bool = False,
    ):
        self.spark = spark
        self.base_dir = base_dir
        self.fmt = fmt
        # optional sources.usage.UsageTracker: every scan op records one
        # logical request, the way each reference REST call updates
        # ``sf.api_usage`` from the Sforce-Limit-Info header (api.py:472-500)
        self.usage = usage
        # pre-flight footer validation of every scanned entity
        # (sources/integrity.py): a truncated landing file fails the
        # SCAN BUILDER with its filename and reason instead of an
        # executor stack trace mid-job. Off by default (footer reads per
        # scan are cheap but not free); the sync loop turns it on for
        # landing zones it does not own end to end.
        self.integrity_check = integrity_check

    def _record(self, table: str, op: str) -> None:
        if self.usage is not None:
            self.usage.record(table, op)

    def path(self, table: str) -> str:
        p = os.path.join(self.base_dir, f"{table}.parquet")
        if os.path.exists(p):
            return p
        return os.path.join(self.base_dir, table)

    def load(
        self,
        table: str,
        fields: list[str] | None = None,
        where: str | None = None,
        limit: int | None = None,
        include_deleted: bool = False,
        pk_buckets: int | None = None,
        pk: str | None = None,
    ) -> DataFrame:
        """Scan one entity with projection/filter/limit pushdown.

        Mirrors the generated-SOQL shape ``SELECT <sync_fields> FROM t
        [WHERE cond] [LIMIT n]`` (query_bulk.py:37-41). ``where`` is a Spark
        SQL boolean expression (the reference passes the condition string
        through verbatim too).
        """
        self._record(table, "load")
        return self._load(
            table,
            fields=fields,
            where=where,
            limit=limit,
            include_deleted=include_deleted,
            pk_buckets=pk_buckets,
            pk=pk,
        )

    def _load(
        self,
        table: str,
        fields: list[str] | None = None,
        where: str | None = None,
        limit: int | None = None,
        include_deleted: bool = False,
        pk_buckets: int | None = None,
        pk: str | None = None,
    ) -> DataFrame:
        # un-recorded scan builder: the public ops above/below each record
        # their OWN logical request (count is one API call in the
        # reference, not a query plus a count)
        if self.integrity_check and self.fmt == "parquet":
            from pgsf_spark.sources.integrity import scan_parquet_dir

            report = scan_parquet_dir(self.path(table))
            if report.bad:
                raise ValueError(
                    f"{table}: corrupt landing file(s) -- {report.describe()}; "
                    f"quarantine_corrupt() moves them aside with a ledger"
                )
        reader = self.spark.read.format(self.fmt)
        if self.fmt == "parquet":
            # Spark's default inference reads the footer of the first file
            # only, which would silently drop a column that first lands in a
            # later file; merging every footer is still one inference job.
            reader = reader.option("mergeSchema", "true")
        df = reader.load(self.path(table))
        if not include_deleted and "IsDeleted" in df.columns:
            # REST `query` hides soft-deleted rows; `queryAll` keeps them
            # (simple_salesforce api.py:353).
            df = df.filter(~F.col("IsDeleted"))
        if where:
            df = df.filter(F.expr(where))
        if fields:
            df = df.select(*fields)
        if limit is not None:
            df = df.limit(limit)
        if pk_buckets and pk:
            # PK chunking analogue: key-partitioned layout so a downstream
            # merge/join on pk shuffles once here and never again.
            df = df.repartition(pk_buckets, F.col(pk))
        return df

    def count(self, table: str, where: str | None = None, include_deleted: bool = False) -> int:
        """COUNT()-only query (S4). Catalyst turns this into a
        column-pruned scan + partial counts; for parquet with no filter it
        is answered from footer metadata."""
        self._record(table, "count")
        return self._load(table, where=where, include_deleted=include_deleted).count()

    def updated_ids(self, table: str, start, end, pk: str = "Id", ts_field: str = "SystemModstamp") -> DataFrame:
        """S5: ids modified in a window (REST `updated/?start=&end=`,
        simple_salesforce api.py:735-754). Window is [start, end] inclusive
        like the endpoint; returns the id column only."""
        self._record(table, "updated_ids")
        df = self._load(table, include_deleted=True)
        return df.filter((F.col(ts_field) >= F.lit(start)) & (F.col(ts_field) <= F.lit(end))).select(pk)

    def deleted_ids(self, table: str, start, end, pk: str = "Id", ts_field: str = "SystemModstamp") -> DataFrame:
        """S6: ids soft-deleted in a window (REST `deleted/?start=&end=`,
        api.py:715-733). The reference itself uses IsDeleted+queryAll
        instead; both surfaces are exposed."""
        self._record(table, "deleted_ids")
        df = self._load(table, include_deleted=True)
        return (
            df.filter(F.coalesce(F.col("IsDeleted"), F.lit(False)))
            .filter((F.col(ts_field) >= F.lit(start)) & (F.col(ts_field) <= F.lit(end)))
            .select(pk)
        )

    def incremental(
        self,
        table: str,
        ts_field: str,
        watermark,
        fields: list[str] | None = None,
    ) -> DataFrame:
        """CDC extract: rows with ts strictly greater than the watermark.

        Reproduces P4 exactly (query_poll_table.py:76-83): the stored
        watermark is truncated to whole seconds before comparison and the
        predicate is strictly ``>``. Overlap re-reads are absorbed by the
        idempotent PK merge. Always include_deleted=True -- deletes only
        arrive as IsDeleted rows via queryAll (query_poll_table.py:85).
        """
        from pgsf_spark.functions import truncate_to_second

        wm = truncate_to_second(watermark)
        self._record(table, "incremental")
        df = self._load(table, include_deleted=True)
        df = df.filter(F.col(ts_field) > F.lit(wm))
        if fields:
            df = df.select(*fields)
        return df
