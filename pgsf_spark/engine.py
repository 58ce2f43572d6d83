"""Engine facade: the reference's CLI workflow as one object.

Maps the pgsf operator workflow (README.rst:21-41) onto a single API:

  reference CLI                    Engine method
  ---------------------------------------------------------------
  ./tabledesc.py Contact        -> engine.describe_table("Contact")
  (edit mapping/Contact.csv)    -> engine.set_mapping("Contact", rows)
  ./createtable.py Contact      -> engine.create_table_sql("Contact")
  ./query_bulk.py + download
    + ./csv_to_postgres.py      -> engine.bulk_load("Contact")
  ./query_poll_table.py Contact -> engine.sync("Contact")
  ./sync (cron tick)            -> engine.sync_due()
  ./query.py "SELECT ..."       -> engine.soql("SELECT ...")
  ./upload_table.py T f.csv     -> engine.upload("Contact", df, poster)
  ./abort_refresh.py Contact    -> engine.abort("Contact")
  onreboot                      -> engine.recover()

The source is pluggable (EntitySource over parquet here; a JDBC/REST
connector in production) and the replica target is the versioned TableStore.
Describe metadata comes from fixture JSON documents (S1's REST describe,
cached to disk -- tabledesc.py:24-33).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from pgsf_spark.operators.ddl import get_create_table_sql
from pgsf_spark.operators.table_store import TableStore
from pgsf_spark.operators.upload import upload_dataframe
from pgsf_spark.schema.mapping import TableDesc
from pgsf_spark.soql import run_soql
from pgsf_spark.sources.entity import EntitySource
from pgsf_spark.sync.runner import SyncRunner
from pgsf_spark.sync.state import SyncState


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        workdir: str,
        describe_dir: str | None = None,
    ):
        self.spark = spark
        self.source = EntitySource(spark, source_dir)
        self.store = TableStore(spark, os.path.join(workdir, "tables"))
        self.state = SyncState(os.path.join(workdir, "sync.json"))
        self.runner = SyncRunner(self.source, self.store, self.state)
        self.describe_dir = describe_dir or source_dir
        self._descs: dict[str, TableDesc] = {}

    # -- schema (M1 surface) -------------------------------------------------
    def describe_table(self, table: str, fields: list[dict] | None = None) -> TableDesc:
        """Build (and cache) the curated TableDesc: from an explicit field
        list, a describe JSON fixture (<describe_dir>/<table>.describe.json),
        or inferred from the parquet schema with pgsf system columns."""
        if table in self._descs:
            return self._descs[table]
        if fields is None:
            fixture = os.path.join(self.describe_dir, f"{table}.describe.json")
            if os.path.exists(fixture):
                with open(fixture) as f:
                    fields = json.load(f)["fields"]
            else:
                fields = self._infer_fields(table)
        td = TableDesc(table, fields)
        self._descs[table] = td
        return td

    def _infer_fields(self, table: str) -> list[dict]:
        """Infer a describe-shaped field list from the physical source schema
        (the parquet analogue of the REST describe call)."""
        df = self.source.load(table, include_deleted=True)
        out = []
        for f in df.schema.fields:
            t = f.dataType.simpleString()
            sf_type = {
                "string": "string",
                "boolean": "boolean",
                "int": "int",
                "date": "date",
                "double": "double",
            }.get(t)
            if t in ("timestamp", "timestamp_ntz"):
                sf_type = "datetime"
            if t == "bigint":
                # preserve 64-bit width for inferred schemas (ADVICE r1: the
                # old int mapping narrowed bigint -> IntegerType and DDL from
                # it would overflow real long values)
                sf_type = "long"
            if sf_type is None:
                sf_type = "anyType"
            out.append({"name": f.name, "type": sf_type, "nillable": f.nullable})
        return out

    def set_mapping(self, table: str, mapping_rows: list[dict]) -> None:
        td = self.describe_table(table)
        self._descs[table] = TableDesc(table, td.fields, mapping_rows)

    def create_table_sql(self, table: str, **kw) -> list[str]:
        return get_create_table_sql(self.describe_table(table), **kw)

    # -- load + sync (M2/M3 surface) ----------------------------------------
    def bulk_load(self, table: str, pk: str | None = None, ts_field: str | None = None, **kw) -> int:
        td = self._descs.get(table)
        return self.runner.snapshot_load(
            table,
            pk=pk or (td.pk if td else "Id"),
            ts_field=ts_field or (td.cdc_ts if td else "SystemModstamp"),
            **kw,
        )

    def sync(self, table: str, pk: str | None = None, ts_field: str | None = None) -> dict:
        td = self._descs.get(table)
        return self.runner.sync_table(
            table,
            pk=pk or (td.pk if td else "Id"),
            ts_field=ts_field or (td.cdc_ts if td else "SystemModstamp"),
        )

    def sync_due(self, max_workers: int = 8) -> list[dict]:
        pks = {t: d.pk for t, d in self._descs.items()}
        tss = {t: d.cdc_ts for t, d in self._descs.items()}
        return self.runner.run_due(max_workers=max_workers, pks=pks, ts_fields=tss)

    def abort(self, table: str) -> None:
        """Abort a running sync: mark error AND cancel the table's running
        Spark jobs (abort_refresh.py:49-68 kills the OS process; the Spark
        analogue is cancelling the table's tagged jobs -- tasks are
        interrupted, no partial version is ever published because the
        commit only happens after a successful write)."""
        from pgsf_spark.sync.runner import sync_job_tag

        self.state.abort(table)
        self.spark.sparkContext.cancelJobsWithTag(sync_job_tag(table))

    def recover(self) -> list[str]:
        return self.state.recover_stuck()

    # -- query surface -------------------------------------------------------
    def table(self, table: str) -> DataFrame:
        return self.store.read(table)

    def soql(self, soql: str, include_deleted: bool = False):
        return run_soql(self.store.read, soql, include_deleted=include_deleted)

    def soql_all(self, soql: str):
        """queryAll: soft-deleted rows included (api.py:395-425)."""
        from pgsf_spark.soql import run_soql_all

        return run_soql_all(self.store.read, soql)

    def sosl(self, sosl: str, include_deleted: bool = False):
        """SOSL-subset search over the replicas: {table: matches}."""
        from pgsf_spark.soql import run_sosl

        return run_sosl(self.store.read, sosl, include_deleted=include_deleted)

    def sql(self, query: str) -> DataFrame:
        """Full Spark SQL over the replicated tables (the whole point of
        replication: ad-hoc analytics on the local copy)."""
        for t in os.listdir(self.store.root):
            if self.store.exists(t):
                self.store.read(t).createOrReplaceTempView(t)
        return self.spark.sql(query)

    # -- reverse ETL ---------------------------------------------------------
    def upload(self, table: str, df: DataFrame, poster, **kw) -> None:
        upload_dataframe(df, poster, **kw)
