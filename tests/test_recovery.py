"""Watermark recovery from the manifest trail (sync/recovery.py): the merge
manifest's post-tick watermark wins over the snapshot seed, the legacy
window-start field is a fallback, and a missing position or a live ledger
refuses loudly."""

import pytest


class TestRecoverySemantics:
    def _store_with_trail(self, spark, tmp_path):
        import os
        from datetime import datetime, timedelta

        from pyspark.sql import functions as F

        from pgsf_spark.operators.table_store import TableStore
        from pgsf_spark.sources.entity import EntitySource
        from pgsf_spark.sync.runner import SyncRunner
        from pgsf_spark.sync.state import SyncState

        t0 = datetime(2024, 1, 1)
        src = str(tmp_path / "src")
        os.makedirs(src, exist_ok=True)
        spark.createDataFrame([(i,) for i in range(1, 21)], "Id long").withColumn(
            "SystemModstamp",
            F.lit(t0).cast("timestamp")
            + F.make_interval(hours=(F.col("Id") % 5).cast("int")),
        ).withColumn("IsDeleted", F.lit(False)).write.mode("overwrite").parquet(
            os.path.join(src, "e.parquet")
        )
        store = TableStore(spark, str(tmp_path / "store"))
        state = SyncState(str(tmp_path / "sync.json"))
        runner = SyncRunner(EntitySource(spark, src), store, state)
        runner.snapshot_load("e", refresh_minutes=0)
        state.release("e", syncuntil=t0 + timedelta(hours=2), touch_refresh=False)
        runner.sync_table("e")
        return store, t0

    def test_recovers_merge_watermark_after_not_snapshot_seed(
        self, spark, tmp_path
    ):
        from datetime import timedelta

        from pgsf_spark.sync.recovery import recover_watermark

        store, t0 = self._store_with_trail(spark, tmp_path)
        m = store.manifest("e")
        assert m["op"] == "merge" and "watermark_after" in m
        # the post-tick position: max(ts) of the applied window
        assert recover_watermark(store, "e") == t0 + timedelta(hours=4)

    def test_window_start_is_the_fallback_for_old_manifests(
        self, spark, tmp_path
    ):
        import json
        import os
        from datetime import timedelta

        from pgsf_spark.sync.recovery import recover_watermark

        store, t0 = self._store_with_trail(spark, tmp_path)
        # simulate a pre-watermark_after manifest (older engine version)
        path = os.path.join(store.current_version_path("e"), "_MANIFEST.json")
        with open(path) as f:
            m = json.load(f)
        del m["watermark_after"]
        with open(path, "w") as f:
            json.dump(m, f)
        # falls back to the window START: safe (re-reads one window)
        assert recover_watermark(store, "e") == t0 + timedelta(hours=2)

    def test_no_recoverable_position_is_loud(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from pgsf_spark.operators.table_store import TableStore
        from pgsf_spark.sync.recovery import recover_watermark

        store = TableStore(spark, str(tmp_path / "store"))
        # a bare store.write has no sync manifest fields at all
        store.write(spark.range(3).select(F.col("id").alias("k")), "bare")
        with pytest.raises(FileNotFoundError, match="sync position"):
            recover_watermark(store, "bare")
        with pytest.raises(FileNotFoundError, match="no published version"):
            recover_watermark(store, "never_written")


class TestRecoveryGuardsLiveLedger:
    def test_recover_state_refuses_non_fresh_ledger(self, spark, tmp_path):
        """ADVICE r13 #2: recover_state seeds via insert(), which clobbers
        an existing row -- running recovery against a live ledger could
        silently overwrite a RUNNING claim or move a watermark backward.
        It must refuse unless overwrite=True is passed explicitly."""
        import os
        from datetime import datetime

        from pyspark.sql import functions as F

        from pgsf_spark.operators.table_store import TableStore
        from pgsf_spark.sources.entity import EntitySource
        from pgsf_spark.sync.recovery import recover_state
        from pgsf_spark.sync.runner import SyncRunner
        from pgsf_spark.sync.state import SyncState

        src = str(tmp_path / "src")
        os.makedirs(src)
        t0 = datetime(2024, 1, 1)
        spark.createDataFrame([(1,), (2,)], "Id long").withColumn(
            "SystemModstamp", F.lit(t0).cast("timestamp")
        ).withColumn("IsDeleted", F.lit(False)).write.parquet(
            os.path.join(src, "e.parquet")
        )
        store = TableStore(spark, str(tmp_path / "store"))
        state = SyncState(str(tmp_path / "sync.json"))
        runner = SyncRunner(EntitySource(spark, src), store, state)
        runner.snapshot_load("e", refresh_minutes=0)

        live = state.get("e")
        assert live is not None
        with pytest.raises(RuntimeError, match="overwrite=True"):
            recover_state(store, state, ["e"])
        # the refusal touched nothing
        assert state.get("e") == live

        # the explicit escape hatch still works (deliberate re-seed)
        out = recover_state(store, state, ["e"], overwrite=True)
        assert set(out) == {"e"}

        # a genuinely fresh ledger needs no flag -- the disaster path
        fresh = SyncState(str(tmp_path / "sync2.json"))
        out2 = recover_state(store, fresh, ["e"])
        assert set(out2) == {"e"}
