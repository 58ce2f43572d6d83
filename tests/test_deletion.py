"""Targeted hard delete (operators/deletion.py): only the buckets holding
the keys are rewritten, everything else hardlink-carries byte-identical,
and the deleted rows are physically absent from the new version."""

import os
from datetime import datetime

import pytest

from pgsf_spark.operators.deletion import delete_rows
from pgsf_spark.operators.table_store import PGSF_BUCKET, ConcurrentWriteError, TableStore
from pgsf_spark.sources.entity import EntitySource
from pgsf_spark.sync.runner import SyncRunner, pk_bucket
from pgsf_spark.sync.state import SyncState

T0 = datetime(2024, 1, 1, 0, 0, 0)
SCHEMA = "Id string, name string, bal double, SystemModstamp timestamp, IsDeleted boolean"
N_ROWS, BUCKETS = 60, 8


@pytest.fixture()
def bucketed_store(spark, tmp_path):
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    rows = [(f"c{i}", f"name{i}", float(i), T0, False) for i in range(N_ROWS)]
    spark.createDataFrame(rows, SCHEMA).write.parquet(str(src_dir / "customer.parquet"))
    runner = SyncRunner(
        EntitySource(spark, str(src_dir)),
        TableStore(spark, str(tmp_path / "store")),
        SyncState(str(tmp_path / "sync.json")),
    )
    runner.snapshot_load("customer", partition_buckets=BUCKETS)
    return spark, runner.store


def _inodes(version_path, part_dir):
    d = os.path.join(version_path, part_dir)
    return {f: os.stat(os.path.join(d, f)).st_ino for f in sorted(os.listdir(d)) if f.startswith("part-")}


class TestDeleteRows:
    def test_rows_gone_and_untouched_buckets_carry(self, bucketed_store):
        spark, store = bucketed_store
        before_path = store.current_version_path("customer")
        victims = ["c3", "c17"]
        stats = delete_rows(
            store, "customer", "Id", spark.createDataFrame([(v,) for v in victims], "Id string")
        )
        assert stats["n_deleted"] == 2
        after = store.read("customer")
        ids = {r.Id for r in after.collect()}
        assert not (set(victims) & ids)
        assert len(ids) == N_ROWS - 2
        # buckets not holding a victim must be the SAME inodes (hardlink)
        victim_buckets = {
            r[0]
            for r in spark.createDataFrame([(v,) for v in victims], "Id string")
            .select(pk_bucket("Id", BUCKETS))
            .collect()
        }
        assert sorted(stats["buckets_rewritten"]) == sorted(victim_buckets)
        after_path = store.current_version_path("customer")
        for d in os.listdir(before_path):
            if not d.startswith(f"{PGSF_BUCKET}="):
                continue
            b = int(d.split("=")[1])
            if b not in victim_buckets:
                assert _inodes(before_path, d) == _inodes(after_path, d), d

    def test_old_version_still_holds_bytes_until_vacuum(self, bucketed_store):
        spark, store = bucketed_store
        stats = delete_rows(
            store, "customer", "Id", spark.createDataFrame([("c5",)], "Id string")
        )
        assert stats["versions_still_holding_bytes"]
        old = stats["versions_still_holding_bytes"][-1]
        assert "c5" in {r.Id for r in store.read("customer", version=old).collect()}
        store.vacuum("customer", keep=1)
        assert store.versions("customer") == [store.versions("customer")[-1]]

    def test_publish_after_the_read_raises(self, bucketed_store, monkeypatch):
        # a publish landing between delete_rows' reads and its write_partial
        # (a sync tick, say) must not be reverted by the rewritten buckets
        spark, store = bucketed_store
        write_partial, injected = store.write_partial, []

        def racing_write_partial(*a, **k):
            store.rollback("customer", store.current_version("customer"))
            injected.append(store.current_version("customer"))
            return write_partial(*a, **k)

        monkeypatch.setattr(store, "write_partial", racing_write_partial)
        with pytest.raises(ConcurrentWriteError):
            delete_rows(store, "customer", "Id", spark.createDataFrame([("c3",)], "Id string"))
        assert store.current_version("customer") == injected[0]
        assert "c3" in {r.Id for r in store.read("customer").collect()}

    def test_missing_keys_are_noop_semantics(self, bucketed_store):
        spark, store = bucketed_store
        stats = delete_rows(
            store, "customer", "Id", spark.createDataFrame([("nope",)], "Id string")
        )
        assert stats["n_deleted"] == 0
        assert store.read("customer").count() == N_ROWS

    def test_non_bucketed_falls_back_to_full_rewrite(self, spark, tmp_path):
        store = TableStore(spark, str(tmp_path / "store"))
        df = spark.createDataFrame([(f"k{i}", i) for i in range(10)], "Id string, v long")
        store.write(df, "plain")
        stats = delete_rows(
            store, "plain", "Id", spark.createDataFrame([("k1",), ("k9",)], "Id string")
        )
        assert stats["n_deleted"] == 2 and stats["buckets_rewritten"] is None
        assert store.read("plain").count() == 8

    def test_noop_publishes_no_new_version(self, bucketed_store):
        spark, store = bucketed_store
        before = store.versions("customer")
        stats = delete_rows(
            store, "customer", "Id", spark.createDataFrame([("ghost",)], "Id string")
        )
        assert stats["n_deleted"] == 0 and stats["buckets_rewritten"] == []
        assert store.versions("customer") == before  # no version churn

    def test_partitioned_fallback_preserves_layout(self, spark, tmp_path):
        store = TableStore(spark, str(tmp_path / "store"))
        df = spark.createDataFrame(
            [(f"k{i}", "a" if i % 2 else "b", i) for i in range(10)],
            "Id string, split string, v long",
        )
        store.write(df, "manifest", partition_by=["split"])
        delete_rows(store, "manifest", "Id", spark.createDataFrame([("k1",)], "Id string"))
        # the new version keeps the hive split=... directory layout
        path = store.current_version_path("manifest")
        assert any(d.startswith("split=") for d in os.listdir(path))
        assert store.manifest("manifest").get("partition_by") == ["split"]
