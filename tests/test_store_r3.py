"""Round-3 TableStore hardening: executor-side stats collection, z-order on
partitioned tables, timezone-correct pruning bounds, write_partial partition
validation, TTL vacuum, and the sync-loop maintenance hook."""

import json
import os
import time
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from pgsf_spark.operators.table_store import _STATS_NAME, PGSF_BUCKET, TableStore
from pgsf_spark.sources.entity import EntitySource
from pgsf_spark.sync.runner import SyncRunner
from pgsf_spark.sync.state import SyncState

T0 = datetime(2024, 1, 1, 0, 0, 0)


@pytest.fixture
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "store"))


class TestDistributedStats:
    def test_stats_computed_off_driver(self, spark, store, monkeypatch):
        """Publishing must not open parquet footers in the DRIVER process:
        the footer reads run inside Spark tasks (separate pyspark worker
        processes), so poisoning pyarrow.parquet.ParquetFile here must not
        break stats collection -- and would have broken the old sequential
        driver walk."""
        import pyarrow.parquet as pq

        def _boom(*a, **k):
            raise AssertionError("driver-side footer read during publish")

        monkeypatch.setattr(pq, "ParquetFile", _boom)
        df = spark.range(400).select(F.col("id"), (F.col("id") % 7).alias("k"))
        store.write(df.repartitionByRange(8, "id"), "t")
        stats = store.file_stats("t")
        assert stats is not None and len(stats) == 8
        lows = sorted(s["id"][0] for s in stats.values())
        assert lows[0] == 0 and all(a < b for a, b in zip(lows, lows[1:]))

    def test_unreadable_footer_keeps_file_unpruned(self, spark, store):
        """A file whose footer can't be parsed must still appear in stats
        (with no columns) so read_pruned NEVER drops it from the scan."""
        df = spark.range(100)
        path = store.write(df.repartitionByRange(4, "id"), "t")
        stats_path = os.path.join(path, _STATS_NAME)
        with open(stats_path) as f:
            stats = json.load(f)
        victim = sorted(stats)[0]
        stats[victim] = {}  # simulate opaque footer: present, no stats
        with open(stats_path, "w") as f:
            json.dump(stats, f)
        got = store.read_pruned("t", "id", lo=0, hi=99)
        assert got.count() == 100  # nothing silently dropped


class TestZorderPartitioned:
    def test_compact_zorder_survives_partitioning(self, spark, tmp_path):
        """ADVICE r2: write()'s partition repartition used to reshuffle after
        zorder(), destroying the clustering -- per-file stats stayed wide and
        read_pruned skipped nothing. With the partition-first z layout, range
        reads on a z column must skip files inside partition dirs."""
        store = TableStore(spark, str(tmp_path / "zp"))
        n = 64
        grid = spark.range(n * n).select(
            (F.col("id") % 4).alias("part"),
            (F.col("id") % n).alias("x"),
            (F.col("id") / n).cast("long").alias("y"),
        )
        # many small input partitions so compact() has real work
        store.write(grid.repartition(16), "zt", partition_by=["part"])
        store.compact("zt", target_partitions=16, zorder_by=["x", "y"])
        assert store.manifest("zt").get("zorder_by") == ["x", "y"]
        total = len(store.read("zt").inputFiles())
        pruned = store.read_pruned("zt", "x", lo=0, hi=3)
        full = store.read("zt").filter((F.col("x") >= 0) & (F.col("x") <= 3))
        assert sorted(r["y"] for r in pruned.collect()) == sorted(
            r["y"] for r in full.collect()
        )
        # partition dirs are preserved AND files within them are z-clustered
        assert store.partition_info("zt")["partition_by"] == ["part"]
        assert 0 < len(pruned.inputFiles()) < total

    def test_flat_zorder_unchanged(self, spark, tmp_path):
        store = TableStore(spark, str(tmp_path / "zf"))
        n = 32
        grid = spark.range(n * n).select(
            (F.col("id") % n).alias("x"), (F.col("id") / n).cast("long").alias("y")
        )
        store.write(grid.repartition(8), "zt")
        store.compact("zt", target_partitions=8, zorder_by=["x", "y"])
        pruned = store.read_pruned("zt", "x", lo=0, hi=3)
        assert 0 < len(pruned.inputFiles()) < len(store.read("zt").inputFiles())


class TestTimezoneBounds:
    def test_naive_bounds_in_non_utc_session(self, spark, store):
        """ADVICE r2: stats store UTC-naive min/max but F.lit(naive) means
        session-local wall time. In a non-UTC session a naive bound must be
        shifted to UTC before pruning, or matching rows silently vanish."""
        df = spark.range(240).select(
            F.col("id"),
            (
                F.to_timestamp(F.lit("2024-01-01 00:00:00"))
                + F.make_interval(hours=F.col("id"))
            ).alias("ts"),
        )
        store.write(df.repartitionByRange(8, "id"), "t")
        old_tz = spark.conf.get("spark.sql.session.timeZone")
        try:
            spark.conf.set("spark.sql.session.timeZone", "America/New_York")
            lo, hi = datetime(2024, 1, 3, 0, 0), datetime(2024, 1, 4, 0, 0)
            pruned = store.read_pruned("t", "ts", lo=lo, hi=hi)
            full = store.read("t").filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi)))
            assert sorted(r["id"] for r in pruned.collect()) == sorted(
                r["id"] for r in full.collect()
            )
            assert pruned.count() == 25
        finally:
            spark.conf.set("spark.sql.session.timeZone", old_tz)


class TestWritePartialGuard:
    def test_undeclared_partition_refused(self, spark, store):
        """Rows landing in a bucket dir NOT listed in changed_values would be
        both rewritten and hardlink-carried (duplicate keys) -- must refuse."""
        base = spark.range(100).select(
            F.col("id"), (F.col("id") % 4).cast("int").alias(PGSF_BUCKET)
        )
        store.write(base, "t", partition_by=[PGSF_BUCKET])
        changed = base.filter(F.col(PGSF_BUCKET).isin([0, 1]))
        with pytest.raises(ValueError, match="not listed in changed_values"):
            store.write_partial(changed, "t", PGSF_BUCKET, [0])  # bucket 1 undeclared
        # failed publish must not have flipped the pointer or left the dir
        assert store.read("t").count() == 100
        assert len(store.versions("t")) == 1

    def test_declared_superset_ok(self, spark, store):
        """A declared-but-empty bucket (all rows deleted) writes no dir and
        must NOT be hardlink-carried: it simply becomes empty."""
        base = spark.range(100).select(
            F.col("id"), (F.col("id") % 4).cast("int").alias(PGSF_BUCKET)
        )
        store.write(base, "t", partition_by=[PGSF_BUCKET])
        changed = base.filter(F.col(PGSF_BUCKET) == 0)
        store.write_partial(changed, "t", PGSF_BUCKET, [0, 1])  # 1: all deleted
        got = store.read("t", keep_internal=True)
        assert got.filter(F.col(PGSF_BUCKET) == 1).count() == 0
        assert got.count() == 75  # buckets 0 (rewritten), 2, 3 (carried)


class TestVacuumTtl:
    def test_ttl_retains_young_versions(self, spark, store):
        for i in range(4):
            store.write(spark.range(10 + i), "t")
        assert len(store.versions("t")) == 4
        t_now = time.time()
        # all versions were written "just now": nothing is older than 1h
        assert store.vacuum("t", keep=1, ttl_seconds=3600, now=t_now) == []
        assert len(store.versions("t")) == 4
        # jump the clock 2h: everything outside keep=1 is past TTL
        victims = store.vacuum("t", keep=1, ttl_seconds=3600, now=t_now + 7200)
        assert len(victims) == 3
        assert len(store.versions("t")) == 1
        assert store.read("t").count() == 13  # newest survives

    def test_count_only_unchanged(self, spark, store):
        for i in range(3):
            store.write(spark.range(5), "t")
        assert len(store.vacuum("t", keep=2)) == 1


class TestMaintenanceHook:
    def _env(self, spark, tmp_path):
        src_dir = tmp_path / "src"
        src_dir.mkdir()
        rows = [(f"c{i}", float(i), T0, False) for i in range(20)]
        spark.createDataFrame(
            rows, "Id string, bal double, SystemModstamp timestamp, IsDeleted boolean"
        ).write.parquet(str(src_dir / "customer.parquet"))
        source = EntitySource(spark, str(src_dir))
        store = TableStore(spark, str(tmp_path / "store"))
        state = SyncState(str(tmp_path / "sync.json"))
        return source, store, state, src_dir

    def test_compaction_and_gc_after_n_merges(self, spark, tmp_path):
        source, store, state, src_dir = self._env(spark, tmp_path)
        runner = SyncRunner(
            source, store, state, maintenance_every=2, vacuum_keep=2
        )
        runner.snapshot_load("customer", refresh_minutes=0)
        r1 = runner.sync_table("customer")
        assert "maintenance" not in r1
        r2 = runner.sync_table("customer")
        assert r2.get("maintenance") is True
        # maintenance published a compacted version and vacuumed old ones
        assert store.manifest("customer").get("compacted") is True
        assert len(store.versions("customer")) <= 2
        assert store.read("customer").count() == 20


class TestParallelCarry:
    """VERDICT r3 ask #7: the partial-publish hardlink carry and the stats
    tree listing are thread-pooled so driver metadata time on a many-file
    version is bounded by syscall latency, not file count x latency."""

    def _synthetic_version(self, tmp_path, n_dirs=300, files_per_dir=20):
        prev = tmp_path / "prev"
        for d in range(n_dirs):
            pdir = prev / f"pgsf_bucket={d}"
            pdir.mkdir(parents=True)
            for i in range(files_per_dir):
                (pdir / f"part-{i:05d}.parquet").write_bytes(b"x" * 16)
        return prev

    def test_many_file_carry_is_fast_and_inode_identical(self, tmp_path):
        import os
        import time

        from pgsf_spark.operators.table_store import _carry_dirs

        prev = self._synthetic_version(tmp_path)  # 6,000 files
        new = tmp_path / "new"
        new.mkdir()
        dirs = sorted(os.listdir(prev))
        t0 = time.monotonic()
        _carry_dirs(str(prev), str(new), dirs)
        elapsed = time.monotonic() - t0
        # generous wall bound: even cold, 6k links across 16 threads is
        # well under this; a per-file sequential stall would blow it
        assert elapsed < 10.0, f"carry took {elapsed:.1f}s"
        for d in dirs[:: len(dirs) // 10]:
            for fn in os.listdir(prev / d):
                assert (
                    os.stat(prev / d / fn).st_ino == os.stat(new / d / fn).st_ino
                )
        n_new = sum(len(fns) for _, _, fns in os.walk(new))
        assert n_new == 6000

    def test_parallel_listing_matches_walk(self, tmp_path):
        import os

        from pgsf_spark.operators.table_store import _list_parquet_files

        prev = self._synthetic_version(tmp_path, n_dirs=40, files_per_dir=7)
        (prev / "pgsf_bucket=0" / "_STATS.json").write_text("{}")  # non-parquet skipped
        got = sorted(_list_parquet_files(str(prev)))
        want = sorted(
            os.path.join(r, fn)
            for r, _, fns in os.walk(prev)
            for fn in fns
            if fn.endswith(".parquet")
        )
        assert got == want and len(want) == 280


class TestRollback:
    def test_rollback_restores_previous_data(self, spark, tmp_store):
        df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
        df2 = spark.createDataFrame([(1, "a"), (3, "c"), (4, "d")], "id long, v string")
        tmp_store.write(df1, "t")
        tmp_store.write(df2, "t")
        assert tmp_store.read("t").count() == 3
        tmp_store.rollback("t")
        got = sorted((r["id"], r["v"]) for r in tmp_store.read("t").collect())
        assert got == [(1, "a"), (2, "b")]

    def test_rollback_is_a_new_auditable_version(self, spark, tmp_store):
        df1 = spark.createDataFrame([(1,)], "id long")
        df2 = spark.createDataFrame([(2,)], "id long")
        tmp_store.write(df1, "t")
        tmp_store.write(df2, "t")
        v_before = tmp_store.versions("t")
        tmp_store.rollback("t")
        vs = tmp_store.versions("t")
        assert len(vs) == len(v_before) + 1  # restore commits, never rewinds
        m = tmp_store.manifest("t")
        assert m["op"] == "rollback"
        assert m["restored_from"] == v_before[0]
        assert m["rolled_back_from"] == v_before[1]
        # source version's own manifest is untouched (no inode aliasing)
        assert tmp_store.manifest("t", v_before[0]).get("op") != "rollback"

    def test_rollback_to_named_version_with_partitions(self, spark, tmp_store):
        df1 = spark.createDataFrame([(1, "x"), (2, "y")], "id long, part string")
        df2 = spark.createDataFrame([(9, "z")], "id long, part string")
        tmp_store.write(df1, "t", partition_by=["part"])
        tmp_store.write(df2, "t", partition_by=["part"])
        v0 = tmp_store.versions("t")[0]
        tmp_store.rollback("t", version=v0)
        assert sorted(r["id"] for r in tmp_store.read("t").collect()) == [1, 2]
        # partition metadata carried through the restore
        assert tmp_store.partition_info("t")["partition_by"] == ["part"]

    def test_rollback_copies_stats_without_a_job(self, spark, tmp_store):
        df1 = spark.range(40).select("id", (F.col("id") % 4).alias("part"))
        tmp_store.write(df1, "t", partition_by=["part"])
        tmp_store.write(spark.range(3).select("id", F.lit(9).alias("part")), "t", partition_by=["part"])
        v0 = tmp_store.versions("t")[0]
        sc = spark.sparkContext
        sc.setJobGroup("rollback-stats", "rollback")
        try:
            tmp_store.rollback("t", version=v0)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup("rollback-stats")) == []
        assert tmp_store.file_stats("t") == tmp_store.file_stats("t", v0)

    def test_default_target_is_the_prior_version_in_publish_order(self, tmp_path):
        # eleven commits: the sequence number's padding keeps v..10 after
        # v..09 in the listing, so the default target is the previous commit
        store = TableStore(None, str(tmp_path / "store"))
        for _ in range(11):
            store._publish("t", store._stage("t"), None, {"op": "snapshot"})
        *_, older, newer = store.versions("t")
        assert (older, newer) == (f"v{9:020d}", f"v{10:020d}")
        store.rollback("t")
        m = store.manifest("t")
        assert (m["restored_from"], m["rolled_back_from"]) == (older, newer)

    def test_rollback_without_history_raises(self, spark, tmp_store):
        import pytest as _pytest

        tmp_store.write(spark.createDataFrame([(1,)], "id long"), "t")
        with _pytest.raises(ValueError):
            tmp_store.rollback("t")


class TestAnalyze:
    def test_analyze_reports_ndv_and_caches(self, spark, tmp_store):
        import json
        import os

        rows = [(i, f"v{i % 7}", None if i % 5 == 0 else float(i)) for i in range(100)]
        tmp_store.write(spark.createDataFrame(rows, "id long, cat string, x double"), "t")
        stats = tmp_store.analyze("t")
        assert stats["row_count"] == 100
        assert stats["columns"]["id"]["ndv"] >= 95  # HLL++ within rsd of 100
        assert stats["columns"]["cat"]["ndv"] == 7
        assert stats["columns"]["x"]["nulls"] == 20
        # cached: poison the cache file and confirm the next call reads it
        cache = os.path.join(tmp_store.current_version_path("t"), "_ANALYZE.json")
        assert os.path.exists(cache)
        poisoned = dict(stats, row_count=-1)
        with open(cache, "w") as f:
            json.dump(poisoned, f)
        assert tmp_store.analyze("t")["row_count"] == -1

    def test_new_version_invalidates_stats(self, spark, tmp_store):
        tmp_store.write(spark.createDataFrame([(1,)], "id long"), "t")
        assert tmp_store.analyze("t")["row_count"] == 1
        tmp_store.write(spark.createDataFrame([(1,), (2,)], "id long"), "t")
        assert tmp_store.analyze("t")["row_count"] == 2  # fresh version, fresh scan


class TestMaintenanceCarriesSyncPosition:
    """VERDICT r13 "What's wrong" #1: sync -> compact -> vacuum(keep small)
    can leave ONLY maintenance manifests in the trail; if compact dropped
    the watermark, recover_watermark would refuse with 'bulk-load to
    re-seed' even though the position was knowable at compact time."""

    def _synced_store(self, spark, tmp_path):
        from datetime import timedelta

        src_dir = tmp_path / "src"
        src_dir.mkdir()
        rows = [
            (f"c{i}", float(i), T0 + timedelta(hours=i % 5), False)
            for i in range(20)
        ]
        spark.createDataFrame(
            rows, "Id string, bal double, SystemModstamp timestamp, IsDeleted boolean"
        ).write.parquet(str(src_dir / "customer.parquet"))
        store = TableStore(spark, str(tmp_path / "store"))
        state = SyncState(str(tmp_path / "sync.json"))
        runner = SyncRunner(EntitySource(spark, str(src_dir)), store, state)
        runner.snapshot_load("customer", refresh_minutes=0)
        state.release("customer", syncuntil=T0, touch_refresh=False)
        runner.sync_table("customer")
        return store

    def test_compact_manifest_carries_watermark(self, spark, tmp_path):
        store = self._synced_store(spark, tmp_path)
        merge_manifest = store.manifest("customer")
        assert merge_manifest.get("watermark_after")
        store.compact("customer", target_partitions=1)
        compacted = store.manifest("customer")
        assert compacted.get("compacted") is True
        assert compacted.get("watermark_after") == merge_manifest["watermark_after"]

    def test_recovery_survives_compact_then_vacuum(self, spark, tmp_path):
        from pgsf_spark.sync.recovery import recover_watermark

        store = self._synced_store(spark, tmp_path)
        expected = recover_watermark(store, "customer")
        store.compact("customer", target_partitions=1)
        # vacuum down to ONLY the compacted (maintenance) version
        store.vacuum("customer", keep=1)
        assert len(store.versions("customer")) == 1
        assert store.manifest("customer").get("compacted") is True
        # the position survives the all-maintenance trail
        assert recover_watermark(store, "customer") == expected

    def test_plain_write_compact_has_no_phantom_position(self, spark, tmp_path):
        # a table that never synced carries no watermark; compact must not
        # invent one (recover_watermark stays loud for bulk-load re-seed)
        from pgsf_spark.sync.recovery import recover_watermark

        store = TableStore(spark, str(tmp_path / "store"))
        store.write(spark.range(10), "t")
        store.compact("t", target_partitions=1)
        m = store.manifest("t")
        assert m.get("compacted") is True
        for k in ("watermark_after", "watermark", "extract_started"):
            assert k not in m
        store.vacuum("t", keep=1)
        with pytest.raises(FileNotFoundError):
            recover_watermark(store, "t")


class TestCatalogAwareVacuum:
    """VERDICT r13 "What's wrong" #2: vacuum retains newest-N plus the
    current pointer but knows nothing of CatalogStore mappings -- a
    published catalog epoch referencing an older store version would see
    its data dir deleted, tearing pinned time-travel reads. The
    keep_versions hook + CatalogStore.referenced_versions close that."""

    def test_pinned_catalog_reads_survive_vacuum(self, spark, store):
        from pgsf_spark.operators.catalog import CatalogStore

        catalog = CatalogStore(os.path.join(store.root, "..", "catalog"))
        cat_versions = []
        expect = None
        for i in range(4):
            store.write(spark.range(10 * (i + 1)), "t")
            expect = catalog.snapshot_current(store, ["t"], expect_version=expect)
            cat_versions.append(expect)
        assert len(store.versions("t")) == 4

        referenced = catalog.referenced_versions("t")
        assert referenced == set(store.versions("t"))
        victims = store.vacuum("t", keep=1, keep_versions=referenced)
        # every store version is pinned by a catalog epoch: nothing dies
        assert victims == []
        for i, cv in enumerate(cat_versions):
            assert catalog.read(store, "t", cv).count() == 10 * (i + 1)

    def test_unreferenced_versions_still_collected(self, spark, store):
        from pgsf_spark.operators.catalog import CatalogStore

        catalog = CatalogStore(os.path.join(store.root, "..", "catalog"))
        for i in range(3):
            store.write(spark.range(5 + i), "t")
        # catalog only ever saw the LAST version
        cv = catalog.snapshot_current(store, ["t"])
        referenced = catalog.referenced_versions("t")
        assert len(referenced) == 1
        victims = store.vacuum("t", keep=1, keep_versions=referenced)
        # the two unreferenced old versions are collectable as before
        assert len(victims) == 2
        assert catalog.read(store, "t", cv).count() == 7

    def test_referenced_versions_scopes_by_table(self, spark, store):
        from pgsf_spark.operators.catalog import CatalogStore

        catalog = CatalogStore(os.path.join(store.root, "..", "catalog"))
        store.write(spark.range(3), "a")
        store.write(spark.range(4), "b")
        catalog.snapshot_current(store, ["a", "b"])
        assert catalog.referenced_versions("a") == set(store.versions("a"))
        assert catalog.referenced_versions("zzz") == set()
