"""Partition-pruned merge publish (VERDICT r1 #2): the replica is
hive-partitioned by a pk-hash bucket; an incremental sync rewrites ONLY the
partitions containing changed keys and hardlinks everything else into the new
version -- unchanged partitions are byte-identical (same inode) across ticks.
"""

import os
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from pgsf_spark.operators.table_store import PGSF_BUCKET, TableStore
from pgsf_spark.sources.entity import EntitySource
from pgsf_spark.sync.runner import SyncRunner, pk_bucket
from pgsf_spark.sync.state import SyncState

T0 = datetime(2024, 1, 1, 0, 0, 0)
SCHEMA = "Id string, name string, bal double, SystemModstamp timestamp, IsDeleted boolean"


@pytest.fixture()
def env(spark, tmp_path):
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    rows = [(f"c{i}", f"name{i}", float(i), T0, False) for i in range(40)]
    spark.createDataFrame(rows, SCHEMA).write.parquet(str(src_dir / "customer.parquet"))
    source = EntitySource(spark, str(src_dir))
    store = TableStore(spark, str(tmp_path / "store"))
    state = SyncState(str(tmp_path / "sync.json"))
    return spark, source, store, state, src_dir


def part_dirs(path):
    return sorted(d for d in os.listdir(path) if d.startswith(f"{PGSF_BUCKET}="))


def file_inodes(version_path, part_dir):
    d = os.path.join(version_path, part_dir)
    return {f: os.stat(os.path.join(d, f)).st_ino for f in sorted(os.listdir(d)) if f.startswith("part-")}


class TestPartitionedMergePublish:
    def test_snapshot_is_partitioned_and_read_hides_bucket(self, env):
        spark, source, store, state, _ = env
        runner = SyncRunner(source, store, state)
        runner.snapshot_load("customer", partition_buckets=8)
        ver = store.current_version_path("customer")
        assert len(part_dirs(ver)) > 1  # really hive-partitioned
        assert PGSF_BUCKET not in store.read("customer").columns
        assert PGSF_BUCKET in store.read("customer", keep_internal=True).columns
        assert store.partition_info("customer") == {
            "partition_by": [PGSF_BUCKET],
            "partition_buckets": 8,
        }

    def test_sync_rewrites_only_changed_partitions(self, env):
        spark, source, store, state, src_dir = env
        runner = SyncRunner(source, store, state)
        runner.snapshot_load("customer", partition_buckets=8)
        state.release("customer", syncuntil=T0, touch_refresh=False)
        v1 = store.current_version_path("customer")

        t1 = T0 + timedelta(hours=1)
        changed = [("c1", "CHANGED", 99.0, t1, False), ("c999", "new", 1.0, t1, False)]
        spark.createDataFrame(changed, SCHEMA).write.mode("overwrite").parquet(
            str(src_dir / "customer.parquet")
        )
        runner.sync_table("customer")
        v2 = store.current_version_path("customer")
        assert v2 != v1

        # which buckets did the changes land in?
        buckets = {
            r[0]
            for r in spark.createDataFrame(changed, SCHEMA)
            .select(pk_bucket("Id", 8))
            .collect()
        }
        rewritten = {f"{PGSF_BUCKET}={b}" for b in buckets}
        assert store.manifest("customer")["rewritten_partitions"] == sorted(str(b) for b in buckets)

        for d in part_dirs(v1):
            if d in rewritten:
                # changed partitions: fresh files (new inodes)
                assert not (set(file_inodes(v1, d).values()) & set(file_inodes(v2, d).values()))
            else:
                # unchanged partitions: SAME inodes -> byte-identical by construction
                assert file_inodes(v1, d) == file_inodes(v2, d)

        # and the data is correct
        got = {r["Id"]: (r["name"], r["bal"]) for r in store.read("customer").collect()}
        assert got["c1"] == ("CHANGED", 99.0)
        assert got["c999"] == ("new", 1.0)
        assert got["c2"] == ("name2", 2.0)
        assert len(got) == 41

    def test_merge_reads_prune_partitions(self, env):
        spark, source, store, state, _ = env
        runner = SyncRunner(source, store, state)
        runner.snapshot_load("customer", partition_buckets=8)
        target = store.read("customer", keep_internal=True).filter(F.col(PGSF_BUCKET).isin([3]))
        plan = target._jdf.queryExecution().executedPlan().toString()
        assert f"PartitionFilters: [isnotnull({PGSF_BUCKET}" in plan or f"{PGSF_BUCKET}#" in plan.split("PartitionFilters")[1][:200]

    def test_delete_empties_bucket(self, env):
        spark, source, store, state, src_dir = env
        runner = SyncRunner(source, store, state)
        runner.snapshot_load("customer", partition_buckets=1000)  # ~1 key per bucket
        state.release("customer", syncuntil=T0, touch_refresh=False)
        t1 = T0 + timedelta(hours=1)
        spark.createDataFrame([("c1", "x", 0.0, t1, True)], SCHEMA).write.mode(
            "overwrite"
        ).parquet(str(src_dir / "customer.parquet"))
        runner.sync_table("customer")
        ids = {r["Id"] for r in store.read("customer").collect()}
        assert "c1" not in ids and len(ids) == 39

    def test_empty_batch_publishes_hardlink_only_version(self, env):
        spark, source, store, state, src_dir = env
        runner = SyncRunner(source, store, state)
        runner.snapshot_load("customer", partition_buckets=8)
        v1 = store.current_version_path("customer")
        state.release("customer", syncuntil=T0, touch_refresh=False)
        runner.sync_table("customer")  # source unchanged, ts == wm -> no rows
        v2 = store.current_version_path("customer")
        assert v2 != v1
        for d in part_dirs(v1):
            assert file_inodes(v1, d) == file_inodes(v2, d)
        assert store.read("customer").count() == 40

    def test_unbucketed_replica_tick_raises_and_advances_nothing(self, env):
        spark, source, store, state, src_dir = env
        store.write(source.load("customer", include_deleted=True), "customer")
        state.insert("customer", syncuntil=T0)
        t1 = T0 + timedelta(hours=1)
        spark.createDataFrame([("c1", "CHANGED", 99.0, t1, False)], SCHEMA).write.mode(
            "overwrite"
        ).parquet(str(src_dir / "customer.parquet"))
        with pytest.raises(ValueError, match="bulk-load it again"):
            SyncRunner(source, store, state).sync_table("customer")
        row = state.get("customer")
        assert row.status == "ready" and row.syncuntil_dt() == T0
        assert len(store.versions("customer")) == 1

    def test_compact_preserves_partitioning(self, env):
        spark, source, store, state, _ = env
        runner = SyncRunner(source, store, state)
        runner.snapshot_load("customer", partition_buckets=8)
        store.compact("customer")
        assert store.partition_info("customer") == {
            "partition_by": [PGSF_BUCKET],
            "partition_buckets": 8,
        }
        assert store.read("customer").count() == 40


class TestSchemaEvolution:
    def test_merge_adds_new_column(self, spark):
        from pgsf_spark.operators.merge import merge_upsert

        target = spark.createDataFrame([("c1", "a", 1.0)], "Id string, name string, bal double")
        changes = spark.createDataFrame(
            [("c2", "b", 2.0, "gold", datetime(2024, 1, 2), False)],
            "Id string, name string, bal double, tier string, SystemModstamp timestamp, IsDeleted boolean",
        )
        # target has no ts col -> give it one for the merge signature
        target = target.withColumn("SystemModstamp", F.lit(T0).cast("timestamp"))
        merged = merge_upsert(target, changes, pk="Id", ts_field="SystemModstamp")
        got = {r["Id"]: r["tier"] for r in merged.collect()}
        assert got == {"c1": None, "c2": "gold"}

    def test_merge_dropped_column_nulls_updates_only(self, spark):
        from pgsf_spark.operators.merge import merge_upsert

        target = spark.createDataFrame(
            [("c1", "a", 1.0, T0), ("c2", "b", 2.0, T0)],
            "Id string, name string, bal double, SystemModstamp timestamp",
        )
        changes = spark.createDataFrame(
            [("c2", "b2", datetime(2024, 1, 2), False)],
            "Id string, name string, SystemModstamp timestamp, IsDeleted boolean",
        )  # 'bal' disappeared upstream
        merged = merge_upsert(target, changes, pk="Id", ts_field="SystemModstamp")
        got = {r["Id"]: (r["name"], r["bal"]) for r in merged.collect()}
        assert got == {"c1": ("a", 1.0), "c2": ("b2", None)}

    def test_missing_pk_always_raises(self, spark):
        from pgsf_spark.operators.merge import SchemaDriftError, merge_upsert

        target = spark.createDataFrame([("c1", T0)], "Id string, SystemModstamp timestamp")
        changes = spark.createDataFrame([(datetime(2024, 1, 2),)], "SystemModstamp timestamp")
        with pytest.raises(SchemaDriftError):
            merge_upsert(target, changes, pk="Id", ts_field="SystemModstamp")

    def test_partitioned_sync_with_evolved_schema(self, env):
        # source gains a column mid-sync: changed partitions carry it, the
        # hardlinked old partitions null-fill via the manifest schema read
        spark, source, store, state, src_dir = env
        runner = SyncRunner(source, store, state)
        runner.snapshot_load("customer", partition_buckets=8)
        state.release("customer", syncuntil=T0, touch_refresh=False)
        t1 = T0 + timedelta(hours=1)
        evolved = spark.createDataFrame(
            [("c1", "CHANGED", 99.0, t1, False, "gold")],
            SCHEMA + ", tier string",
        )
        evolved.write.mode("overwrite").parquet(str(src_dir / "customer.parquet"))
        runner.sync_table("customer")
        back = store.read("customer")
        assert "tier" in back.columns
        got = {r["Id"]: r["tier"] for r in back.collect()}
        assert got["c1"] == "gold"
        assert got["c2"] is None  # hardlinked partition, null-filled
        assert len(got) == 40


@pytest.mark.parametrize("bad", [None, 0, -4, 2.0, True, "16"])
def test_snapshot_load_rejects_non_positive_int_buckets(bad):
    # checked before the source or store is touched
    with pytest.raises(ValueError, match="partition_buckets"):
        SyncRunner(None, None, None).snapshot_load("customer", partition_buckets=bad)
