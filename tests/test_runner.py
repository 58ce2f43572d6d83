"""End-to-end replication tests: snapshot load -> incremental sync cycles
(§3.1/§3.2 flows) against a synthetic entity with CDC system columns
(FIXTURES.md §1-2)."""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from pgsf_spark.operators.table_store import ConcurrentWriteError, TableStore
from pgsf_spark.sources.entity import EntitySource
from pgsf_spark.sync.recovery import recover_watermark
from pgsf_spark.sync.runner import SyncRunner
from pgsf_spark.sync.state import SyncState

T0 = datetime(2024, 1, 1, 0, 0, 0)


@pytest.fixture()
def env(spark, tmp_path):
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    snapshot = spark.createDataFrame(
        [
            ("c1", "alice", 10.0, T0, False),
            ("c2", "bob", 20.0, T0, False),
            ("c3", "carol", 30.0, T0, False),
        ],
        "Id string, name string, bal double, SystemModstamp timestamp, IsDeleted boolean",
    )
    snapshot.write.parquet(str(src_dir / "customer.parquet"))
    source = EntitySource(spark, str(src_dir))
    store = TableStore(spark, str(tmp_path / "store"))
    state = SyncState(str(tmp_path / "sync.json"))
    return spark, source, store, state, src_dir


def write_source(spark, src_dir, rows):
    df = spark.createDataFrame(
        rows, "Id string, name string, bal double, SystemModstamp timestamp, IsDeleted boolean"
    )
    df.write.mode("overwrite").parquet(str(src_dir / "customer.parquet"))


class TestSnapshotLoad:
    def test_snapshot_seeds_watermark(self, env):
        spark, source, store, state, _ = env
        runner = SyncRunner(source, store, state)
        n = runner.snapshot_load("customer")
        assert n == 3
        row = state.get("customer")
        assert row is not None and row.status == "ready"
        # watermark seeded from extract-start (C6), i.e. >= test start
        assert row.syncuntil_dt() is not None

    def test_replica_readable(self, env):
        spark, source, store, state, _ = env
        SyncRunner(source, store, state).snapshot_load("customer")
        assert {r["Id"] for r in store.read("customer").collect()} == {"c1", "c2", "c3"}


class TestIncrementalSync:
    def test_full_cycle(self, env):
        spark, source, store, state, src_dir = env
        runner = SyncRunner(source, store, state)
        runner.snapshot_load("customer")
        # rewind watermark to T0 so the next poll picks up our changes
        state.release("customer", syncuntil=T0, touch_refresh=False)

        t1 = T0 + timedelta(hours=1)
        write_source(
            spark,
            src_dir,
            [
                ("c1", "alice", 10.0, T0, False),  # unchanged (ts <= wm: not re-read)
                ("c2", "bob2", 25.0, t1, False),  # update
                ("c3", "carol", 30.0, t1, True),  # soft delete
                ("c4", "dave", 40.0, t1, False),  # insert
            ],
        )
        res = runner.sync_table("customer")
        got = {r["Id"]: (r["name"], r["bal"]) for r in store.read("customer").collect()}
        assert got == {"c1": ("alice", 10.0), "c2": ("bob2", 25.0), "c4": ("dave", 40.0)}
        # watermark advanced to max(ts) of merged target (A1)
        assert state.get("customer").syncuntil_dt() == t1
        assert res["rows"] == 3

    def test_strictly_greater_watermark(self, env):
        # P4: rows with ts == watermark are NOT re-read
        spark, source, store, state, src_dir = env
        runner = SyncRunner(source, store, state)
        runner.snapshot_load("customer")
        state.release("customer", syncuntil=T0, touch_refresh=False)
        write_source(spark, src_dir, [("c1", "CHANGED", 99.0, T0, False)])  # ts == wm
        runner.sync_table("customer")
        got = {r["Id"]: r["name"] for r in store.read("customer").collect()}
        assert got["c1"] == "alice"  # boundary row skipped, faithful to reference

    def test_resync_idempotent(self, env):
        spark, source, store, state, src_dir = env
        runner = SyncRunner(source, store, state)
        runner.snapshot_load("customer")
        state.release("customer", syncuntil=T0, touch_refresh=False)
        t1 = T0 + timedelta(hours=1)
        write_source(spark, src_dir, [("c2", "bob2", 25.0, t1, False)])
        runner.sync_table("customer")
        first = sorted(map(tuple, store.read("customer").collect()))
        # rewind watermark and sync again -- same batch re-delivered (C3)
        state.release("customer", syncuntil=T0, touch_refresh=False)
        runner.sync_table("customer")
        second = sorted(map(tuple, store.read("customer").collect()))
        assert first == second

    def test_failure_releases_claim(self, env, monkeypatch):
        spark, source, store, state, src_dir = env
        runner = SyncRunner(source, store, state)
        runner.snapshot_load("customer")

        def boom(*a, **k):
            raise RuntimeError("extract failed")

        monkeypatch.setattr(source, "poll", boom)
        with pytest.raises(RuntimeError):
            runner.sync_table("customer")
        assert state.get("customer").status == "ready"  # back to ready, wm unchanged

    def test_publish_after_the_read_fails_the_tick(self, env, monkeypatch):
        # another writer (a CLI hard delete, say) publishes after the tick
        # read the replica: the tick's compare-and-swap is against the
        # version it read, so it fails instead of reverting that publish
        # with buckets merged from the older read
        spark, source, store, state, src_dir = env
        runner = SyncRunner(source, store, state)
        runner.snapshot_load("customer")
        state.release("customer", syncuntil=T0, touch_refresh=False)
        write_source(spark, src_dir, [("c2", "bob2", 25.0, T0 + timedelta(hours=1), False)])
        write_partial, injected = store.write_partial, []

        def racing_write_partial(*a, **k):
            store.rollback("customer", store.current_version("customer"))
            injected.append(store.current_version("customer"))
            return write_partial(*a, **k)

        monkeypatch.setattr(store, "write_partial", racing_write_partial)
        with pytest.raises(ConcurrentWriteError):
            runner.sync_table("customer")
        row = state.get("customer")
        assert row.status == "ready" and row.syncuntil_dt() == T0
        assert store.current_version("customer") == injected[0]
        # the refused tick is not in the history: recovery resumes from
        # the injected version's position, not the tick's watermark_after
        m = store.manifest("customer", injected[0])
        assert recover_watermark(store, "customer") == datetime.fromisoformat(
            m.get("watermark_after") or m["extract_started"]
        )

    def test_store_versions_gc(self, env):
        spark, source, store, state, src_dir = env
        runner = SyncRunner(source, store, state)
        runner.snapshot_load("customer")
        for _ in range(3):
            state.release("customer", syncuntil=T0, touch_refresh=False)
            runner.sync_table("customer")
        victims = store.vacuum("customer", keep=2)
        assert len(victims) >= 1
        assert store.read("customer").count() == 3  # current version intact


class TestPartitionedStore:
    def test_partition_pruning(self, spark, tmp_store):
        from datetime import datetime

        from pyspark.sql import functions as F

        rows = [(i, datetime(2024, 1, 1 + i % 3), float(i)) for i in range(300)]
        df = spark.createDataFrame(rows, "id long, d timestamp, v double").withColumn(
            "day", F.date_format("d", "yyyy-MM-dd")
        )
        tmp_store.write(df, "events_p", partition_by=["day"])
        got = tmp_store.read("events_p").filter(F.col("day") == "2024-01-02")
        plan = got._jdf.queryExecution().executedPlan().toString()
        # the day filter must prune directories, not scan-and-filter
        assert "PartitionFilters: [isnotnull(day" in plan
        assert got.count() == 100

    def test_partitioned_roundtrip_schema(self, spark, tmp_store):
        from datetime import datetime

        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(1, datetime(2024, 1, 1), 1.0)], "id long, d timestamp, v double"
        ).withColumn("day", F.date_format("d", "yyyy-MM-dd"))
        tmp_store.write(df, "t_p", partition_by=["day"])
        back = tmp_store.read("t_p")
        assert set(back.columns) == {"id", "d", "v", "day"}


class TestCompaction:
    def test_compact_preserves_data(self, spark, tmp_store):
        df = spark.createDataFrame([(i, float(i)) for i in range(100)], "id long, v double").repartition(16)
        tmp_store.write(df, "frag")
        import glob
        import os

        before = len(glob.glob(os.path.join(tmp_store.current_version_path("frag"), "part-*")))
        tmp_store.compact("frag", target_partitions=2)
        after_path = tmp_store.current_version_path("frag")
        after = len(glob.glob(os.path.join(after_path, "part-*")))
        assert after < before and after <= 2
        assert tmp_store.read("frag").count() == 100


class TestTimeTravelAndChanges:
    def test_time_travel_reads_old_version(self, spark, tmp_store):
        v1 = spark.createDataFrame([(1, "a")], "id long, s string")
        tmp_store.write(v1, "tt")
        ver1 = tmp_store.versions("tt")[-1]
        v2 = spark.createDataFrame([(1, "b"), (2, "c")], "id long, s string")
        tmp_store.write(v2, "tt")
        assert tmp_store.read("tt").count() == 2  # current
        old = tmp_store.read("tt", version=ver1).collect()
        assert [(r["id"], r["s"]) for r in old] == [(1, "a")]

    def test_table_changes_classifies(self, spark, tmp_store):
        tmp_store.write(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, s string"), "cf")
        v1 = tmp_store.versions("cf")[-1]
        tmp_store.write(spark.createDataFrame([(1, "a"), (2, "B"), (4, "d")], "id long, s string"), "cf")
        v2 = tmp_store.versions("cf")[-1]
        ch = {r["id"]: r["_change_type"] for r in tmp_store.table_changes("cf", v1, v2, "id").collect()}
        assert ch == {2: "update", 3: "delete", 4: "insert"}  # id 1 unchanged -> absent


class TestSoakAndErrors:
    def test_twenty_sync_cycles_stay_consistent(self, env):
        spark, source, store, state, src_dir = env
        runner = SyncRunner(source, store, state)
        runner.snapshot_load("customer")
        for i in range(20):
            state.release("customer", syncuntil=T0, touch_refresh=False)
            runner.sync_table("customer")
            if i % 5 == 4:
                store.vacuum("customer", keep=3)
        assert store.read("customer").count() == 3
        assert len(store.versions("customer")) <= 3 + 5  # bounded by vacuum cadence
        assert state.get("customer").status == "ready"

    def test_missing_table_raises(self, tmp_store):
        import pytest as _pytest

        with _pytest.raises(FileNotFoundError):
            tmp_store.read("nope")

    def test_sync_unknown_table_claims_error(self, env):
        from pgsf_spark.sync.state import ClaimError

        spark, source, store, state, src_dir = env
        runner = SyncRunner(source, store, state)
        import pytest as _pytest

        with _pytest.raises(ClaimError):
            runner.sync_table("ghost")


class TestRunDueIsolation:
    def test_one_table_failure_does_not_abort_tick(self, env, monkeypatch):
        # ADVICE r1: a failing table must yield an error row, not kill the
        # tick for tables that succeeded (reference: one process per table)
        spark, source, store, state, src_dir = env
        runner = SyncRunner(source, store, state)
        runner.snapshot_load("customer")
        # second table that will fail (no parquet for it in the source)
        state.insert("ghost", syncuntil=T0)
        state.release("customer", syncuntil=T0, touch_refresh=False)
        results = runner.run_due()
        by_table = {r["table"]: r for r in results}
        assert "rows" in by_table["customer"] and "error" not in by_table["customer"]
        assert "error" in by_table["ghost"]
        # failed table's claim was released (retryable next tick)
        assert state.get("ghost").status == "ready"
