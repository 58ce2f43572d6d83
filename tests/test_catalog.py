"""Cross-table catalog (operators/catalog.py) and its gates: CAS and pin
immutability, catalog-committed sync waves, the change feed, and crash
safety of the publish path."""

import pytest

from pgsf_spark.analytics.registry import QUERIES
from tests.conftest import SF_DIR


class TestCatalogSemantics:
    def test_cas_and_pin_immutability(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from pgsf_spark.operators.catalog import CatalogStore
        from pgsf_spark.operators.table_store import (
            ConcurrentWriteError,
            TableStore,
        )

        store = TableStore(spark, str(tmp_path / "store"))
        df = spark.range(5).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        store.write(df, "a")
        store.write(df, "b")
        catalog = CatalogStore(str(tmp_path / "catalog"))
        assert catalog.current_version() is None
        v1 = catalog.snapshot_current(store, ["a", "b"], expect_version=None)
        assert catalog.current_version() == v1
        pinned = dict(catalog.mapping(v1))

        # a later store publish + catalog flip does not disturb the pin
        store.write(df.withColumn("v", F.col("v") * 3), "a")
        v2 = catalog.snapshot_current(store, ["a", "b"], expect_version=v1)
        assert catalog.mapping(v1) == pinned
        assert catalog.mapping(v2)["a"] != pinned["a"]
        assert catalog.mapping(v2)["b"] == pinned["b"]

        # stale CAS loses loudly, pointer untouched, no body left behind
        before = catalog.versions()
        with pytest.raises(ConcurrentWriteError):
            catalog.publish({"a": "vX"}, expect_version=v1)
        assert catalog.current_version() == v2
        assert catalog.versions() == before

    def test_pin_resolves_once_and_is_required_by_read(self, spark, tmp_path):
        """read() takes an explicit catalog version on purpose: per-call
        re-resolution of the current pointer would reintroduce the torn
        multi-table read (a publisher can flip the catalog between two
        read() calls). pin() is the documented resolve-once entry."""
        import inspect

        from pyspark.sql import functions as F

        from pgsf_spark.operators.catalog import CatalogStore
        from pgsf_spark.operators.table_store import TableStore

        sig = inspect.signature(CatalogStore.read)
        assert sig.parameters["version"].default is inspect.Parameter.empty

        catalog = CatalogStore(str(tmp_path / "catalog"))
        with pytest.raises(FileNotFoundError):
            catalog.pin()
        store = TableStore(spark, str(tmp_path / "store"))
        store.write(spark.range(3).select(F.col("id").alias("k")), "a")
        v1 = catalog.snapshot_current(store, ["a"])
        assert catalog.pin() == v1

    def test_publishes_commit_consecutive_names(self, tmp_path):
        """Each publish commits the next sequence number; the padding keeps
        the listing in commit order past ten versions, and a refused
        publish leaves neither a version nor its staged body."""
        import os

        from pgsf_spark.operators.catalog import CatalogStore
        from pgsf_spark.operators.table_store import ConcurrentWriteError

        catalog = CatalogStore(str(tmp_path / "catalog"))
        names = [catalog.publish({"t": f"v{i}"}) for i in range(11)]
        assert catalog.versions() == names == [f"cat_v{i:020d}" for i in range(11)]
        assert catalog.mapping() == {"t": "v10"}
        with pytest.raises(ConcurrentWriteError):
            catalog.publish({"t": "vX"}, expect_version=names[0])
        assert catalog.versions() == names
        assert not [f for f in os.listdir(catalog.root) if f.startswith("_stage_")]

    def test_read_through_missing_table_is_loud(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from pgsf_spark.operators.catalog import CatalogStore
        from pgsf_spark.operators.table_store import TableStore

        store = TableStore(spark, str(tmp_path / "store"))
        store.write(spark.range(3).select(F.col("id").alias("k")), "a")
        catalog = CatalogStore(str(tmp_path / "catalog"))
        v1 = catalog.snapshot_current(store, ["a"])
        with pytest.raises(KeyError):
            catalog.read(store, "zzz", v1)


class TestWaveSemantics:
    def test_partial_wave_holds_and_full_wave_commits(self, spark):
        """The gate's own in-gate asserts cover the protocol (failed wave
        -> no flip, CAS'd flip on success); here pin the OUTPUT's
        invariant structure: the held pair is strictly below the mixed
        store (cust's wave landed), which is strictly below the
        committed pair (ords' wave landed too), and exactly one wave
        committed after the bootstrap."""
        row = QUERIES["fleet_catalog_wave_gate"].fn(spark, SF_DIR).first()
        assert row["sum_cat_held"] < row["sum_store_mixed"] < row["sum_cat_final"]
        assert row["n_catalog_versions"] == 2

    def test_run_wave_skips_flip_when_nothing_due(self, spark, tmp_path):
        from pgsf_spark.operators.catalog import CatalogStore
        from pgsf_spark.operators.table_store import TableStore
        from pgsf_spark.sources.entity import EntitySource
        from pgsf_spark.sync.runner import SyncRunner
        from pgsf_spark.sync.state import SyncState
        from pgsf_spark.sync.wave import run_wave

        runner = SyncRunner(
            EntitySource(spark, str(tmp_path / "src")),
            TableStore(spark, str(tmp_path / "store")),
            SyncState(str(tmp_path / "sync.json")),
        )
        catalog = CatalogStore(str(tmp_path / "catalog"))
        out = run_wave(runner, catalog, ["cust"])
        # a never-bootstrapped table is HELD (the wave cannot account for
        # it), nothing ticked, and no phantom catalog bootstrap happens
        assert out == {
            "results": [],
            "failed": [],
            "held": ["cust"],
            "cas_lost": False,
            "catalog_version": None,
        }
        assert catalog.current_version() is None

    def test_run_wave_holds_on_unaccounted_table(self, spark, tmp_path):
        """The torn-pair hole: a table claimed by a CONCURRENT runner is
        absent from run_due's results (ClaimError swallowed) -- the wave
        must HOLD, not commit an epoch around it. Simulated by claiming
        one table externally before the wave; also covers ERROR/RUNNING
        states due_tables skips."""
        import os
        from datetime import datetime

        from pyspark.sql import functions as F

        from pgsf_spark.operators.catalog import CatalogStore
        from pgsf_spark.operators.table_store import TableStore
        from pgsf_spark.sources.entity import EntitySource
        from pgsf_spark.sync.runner import SyncRunner
        from pgsf_spark.sync.state import SyncState
        from pgsf_spark.sync.wave import run_wave

        src = str(tmp_path / "src")
        os.makedirs(src)
        t0 = datetime(2024, 1, 1)
        for name in ("a", "b"):
            spark.createDataFrame([(1,), (2,)], "Id long").withColumn(
                "SystemModstamp", F.lit(t0).cast("timestamp")
            ).withColumn("IsDeleted", F.lit(False)).write.parquet(
                os.path.join(src, f"{name}.parquet")
            )
        state = SyncState(str(tmp_path / "sync.json"))
        runner = SyncRunner(
            EntitySource(spark, src), TableStore(spark, str(tmp_path / "store")), state
        )
        catalog = CatalogStore(str(tmp_path / "catalog"))
        for name in ("a", "b"):
            runner.snapshot_load(name, refresh_minutes=0)
            state.release(name, syncuntil=t0, touch_refresh=False)
        cat0 = catalog.snapshot_current(runner.store, ["a", "b"])

        state.claim("b")  # a concurrent runner holds b mid-sync
        import time

        time.sleep(1.2)
        out = run_wave(runner, catalog, ["a", "b"])
        assert out["failed"] == []
        assert "b" in out["held"]
        assert out["catalog_version"] is None  # the line held
        assert catalog.current_version() == cat0

        state.release("b")  # the other runner finishes
        time.sleep(1.2)
        out2 = run_wave(runner, catalog, ["a", "b"])
        assert out2["held"] == [] and out2["failed"] == []
        assert out2["catalog_version"] is not None  # the next wave commits


class TestCdfSemantics:
    def test_gate_classes_and_invariants(self, spark):
        """The feed contains ONLY the three change classes (unchanged rows
        never appear in the grouped output) with the per-class value
        invariants the oracle also restates."""
        from pgsf_spark.analytics import recovery as rec

        rows = QUERIES["cdf_changes_gate"].fn(spark, SF_DIR).collect()
        assert [r["change"] for r in rows] == ["delete", "insert", "update"]
        by = {r["change"]: r for r in rows}
        assert by["update"]["sum_v"] == rec.E2 * by["update"]["sum_pk"]
        assert by["insert"]["sum_v"] == rec.CDF_V_INS * by["insert"]["sum_pk"]
        assert by["delete"]["sum_v"] == 0

    def test_overlap_key_classifies_delete_not_update(self, spark, tmp_path):
        """Delete precedence, pinned at the OPERATOR level: a key present
        in v1, absent from v2 but matching the update mod, must classify
        as delete -- table_changes diffs actual version contents, so a
        regression in either the diff or the v2 writer would surface as
        a spurious update row here."""
        from pyspark.sql import functions as F

        from pgsf_spark.analytics import recovery as rec
        from pgsf_spark.operators.table_store import TableStore

        both = rec.CDF_DEL_MOD * rec.CDF_UPD_MOD  # 77: delete AND update mods
        store = TableStore(spark, str(tmp_path / "store"))
        v1 = spark.createDataFrame(
            [(both, rec.E1 * both), (1, rec.E1)], "k long, v long"
        )
        store.write(v1, "t")
        ver1 = store.versions("t")[-1]
        # v2 as the gate's writer builds it: 77 is deleted (del mod wins),
        # key 1 unchanged
        store.write(v1.filter(F.col("k") != both), "t")
        ver2 = store.versions("t")[-1]
        ch = store.table_changes("t", ver1, ver2, "k").collect()
        assert [(r["k"], r["_change_type"]) for r in ch] == [(both, "delete")]


class TestPublishCrashSafety:
    def test_non_cas_exception_leaves_no_orphan_body(self, spark, tmp_path, monkeypatch):
        """The body stages under a hidden name and becomes a version only
        by the rename inside the flock, after the CAS check -- a publish
        that fails before that rename must leave versions() and the
        current version exactly as they were."""
        from pyspark.sql import functions as F

        from pgsf_spark.operators import table_store
        from pgsf_spark.operators.catalog import CatalogStore
        from pgsf_spark.operators.table_store import TableStore

        store = TableStore(spark, str(tmp_path / "store"))
        store.write(spark.range(3).select(F.col("id").alias("k")), "a")
        catalog = CatalogStore(str(tmp_path / "catalog"))
        v1 = catalog.snapshot_current(store, ["a"])

        # inject a non-CAS failure inside the lock, before the rename
        def crash(*a, **k):
            raise RuntimeError("simulated crash inside publish")

        with monkeypatch.context() as m:
            m.setattr(table_store, "_committed", crash)
            with pytest.raises(RuntimeError, match="simulated crash"):
                catalog.publish({"a": "vX"}, expect_version=v1)

        assert catalog.versions() == [v1]
        assert catalog.current_version() == v1
        # no half-published .json body anywhere in the catalog dir
        import os

        bodies = [
            f
            for f in os.listdir(str(tmp_path / "catalog"))
            if f.startswith("cat_v") and f.endswith(".json")
        ]
        assert bodies == [f"{v1}.json"]
