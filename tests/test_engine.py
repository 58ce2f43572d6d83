"""Engine facade end-to-end: the reference's full CLI workflow in one flow
(describe -> mapping -> create -> bulk load -> sync -> query -> abort/recover)."""

from datetime import datetime, timedelta

import pytest

from pgsf_spark.engine import Engine

T0 = datetime(2024, 1, 1, 0, 0, 0)
SCHEMA = "Id string, name string, bal double, SystemModstamp timestamp, IsDeleted boolean"


@pytest.fixture()
def engine(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [("c1", "alice", 10.0, T0, False), ("c2", "bob", 20.0, T0, False)], SCHEMA
    ).write.parquet(str(src / "customer.parquet"))
    return Engine(spark, str(src), str(tmp_path / "work")), spark, src


class TestWorkflow:
    def test_full_lifecycle(self, engine):
        eng, spark, src = engine
        # 1. describe (inferred from physical schema here)
        td = eng.describe_table("customer")
        assert td.pk == "Id" and td.cdc_ts == "SystemModstamp"
        # 2. DDL
        ddl = eng.create_table_sql("customer")[0]
        assert "CREATE TABLE" in ddl and "`Id` string" in ddl
        # 3. bulk load seeds state
        assert eng.bulk_load("customer") == 2
        # 4. incremental sync picks up changes
        eng.state.release("customer", syncuntil=T0, touch_refresh=False)
        t1 = T0 + timedelta(hours=1)
        spark.createDataFrame(
            [("c2", "bob2", 25.0, t1, False), ("c3", "carol", 30.0, t1, False)], SCHEMA
        ).write.mode("overwrite").parquet(str(src / "customer.parquet"))
        res = eng.sync("customer")
        assert res["rows"] == 3
        # 5. ad-hoc SOQL over the replica
        assert eng.soql("SELECT COUNT() FROM customer") == 3
        names = {r["name"] for r in eng.soql("SELECT name FROM customer WHERE bal > 15").collect()}
        assert names == {"bob2", "carol"}
        # 6. full SQL surface
        row = eng.sql("SELECT count(*) AS n FROM customer WHERE NOT IsDeleted").first()
        assert row["n"] == 3

    def test_abort_blocks_then_recover(self, engine):
        eng, spark, src = engine
        eng.bulk_load("customer")
        eng.abort("customer")
        with pytest.raises(Exception):
            eng.sync("customer")
        # manual un-pause == reset to ready (operator action)
        eng.state.release("customer", "ready", touch_refresh=False)
        assert eng.sync("customer")["rows"] == 2

    def test_sync_due_tick(self, engine):
        eng, spark, src = engine
        eng.bulk_load("customer")
        results = eng.sync_due()
        assert [r["table"] for r in results] == ["customer"]

    def test_abort_cancels_tagged_jobs(self, engine, monkeypatch):
        # abort must cancel the table's tagged Spark jobs, not just flip the
        # status row (abort_refresh.py:49-68 kills the running process)
        from pgsf_spark.sync.runner import sync_job_tag

        eng, spark, src = engine
        eng.bulk_load("customer")
        cancelled = []
        monkeypatch.setattr(
            spark.sparkContext, "cancelJobsWithTag", lambda t: cancelled.append(t)
        )
        eng.abort("customer")
        assert cancelled == [sync_job_tag("customer")]
        assert eng.state.get("customer").status == "error"

    def test_sync_runs_under_table_tag(self, engine):
        # every Spark job of a sync carries the table's tag (thread-local),
        # so a concurrent abort can target exactly this table's work; the
        # tag is removed when the sync returns
        from pgsf_spark.sync.runner import sync_job_tag

        eng, spark, src = engine
        eng.bulk_load("customer")
        seen = []
        orig_write = eng.store.write_partial

        def spy(*a, **k):
            seen.append(set(spark.sparkContext.getJobTags()))
            return orig_write(*a, **k)

        eng.store.write_partial = spy
        eng.state.release("customer", syncuntil=T0 - timedelta(hours=1), touch_refresh=False)
        eng.sync("customer")
        assert seen == [{sync_job_tag("customer")}]
        assert sync_job_tag("customer") not in spark.sparkContext.getJobTags()

    def test_describe_fixture_roundtrip(self, spark, tmp_path):
        import json

        src = tmp_path / "src"
        src.mkdir()
        spark.createDataFrame([("x1", T0)], "Id string, SystemModstamp timestamp").write.parquet(
            str(src / "thing.parquet")
        )
        (src / "thing.describe.json").write_text(
            json.dumps(
                {
                    "fields": [
                        {"name": "Id", "type": "id", "length": 18, "nillable": False},
                        {"name": "SystemModstamp", "type": "datetime", "nillable": True},
                        {"name": "Ignored__c", "type": "string", "calculated": True},
                    ]
                }
            )
        )
        eng = Engine(spark, str(src), str(tmp_path / "work"))
        td = eng.describe_table("thing")
        assert td.sync_fields == ["Id", "SystemModstamp"]  # calculated excluded
