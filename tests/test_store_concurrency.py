"""Optimistic concurrency on TableStore publish (Delta-style CAS in
miniature): a writer that read version X publishes only if X is still
current -- the loser of a race gets ConcurrentWriteError instead of
silently overwriting (write) or resurrecting stale carried bytes
(write_partial, where a lost update would corrupt data, not just lineage).
"""

import json
import multiprocessing
import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from pgsf_spark.operators.catalog import CatalogStore
from pgsf_spark.operators.table_store import (
    _STATS_NAME,
    _UNCHECKED,
    ConcurrentWriteError,
    TableStore,
)
from pgsf_spark.sync.recovery import recover_watermark


T0, T1 = "2024-01-01T00:00:00", "2024-01-01T01:00:00"


def _commit_one(store, expect_version=_UNCHECKED, **manifest) -> str:
    """Stage an empty version of table ``t`` and publish it; returns the
    committed name. An empty staged directory lists no parquet file, so
    the publish starts no Spark job and needs no SparkSession."""
    return os.path.basename(
        store._publish("t", store._stage("t"), {}, manifest, expect_version=expect_version)
    )


def _publisher(root, barrier, q, cas):
    store = TableStore(None, root)
    base = store.current_version("t")
    barrier.wait()  # maximize overlap: everyone read 'base' before anyone commits
    try:
        q.put(_commit_one(store, expect_version=base) if cas else _commit_one(store))
    except ConcurrentWriteError:
        q.put("lost")


def _race(store, n, cas) -> list:
    ctx = multiprocessing.get_context("fork")
    barrier = ctx.Barrier(n)
    q = ctx.Queue()
    procs = [ctx.Process(target=_publisher, args=(store.root, barrier, q, cas)) for _ in range(n)]
    for p in procs:
        p.start()
    results = [q.get(timeout=30) for _ in procs]
    for p in procs:
        p.join(timeout=30)
    return results


def _staged(store) -> list:
    return [d for d in os.listdir(os.path.join(store.root, "t")) if d.startswith("_stage_")]


class TestCasPublish:
    def test_unchecked_publishers_commit_consecutive_names(self, tmp_path):
        store = TableStore(None, str(tmp_path / "store"))
        first = _commit_one(store)
        results = _race(store, 6, cas=False)
        # every publisher committed, each under its own sequence number,
        # and the names sort in commit order
        versions = store.versions("t")
        assert versions == [f"v{i:020d}" for i in range(7)]
        assert versions[0] == first and sorted(results) == versions[1:]

    def test_exactly_one_process_wins(self, tmp_path):
        store = TableStore(None, str(tmp_path / "store"))
        _commit_one(store)
        results = _race(store, 6, cas=True)
        assert results.count("lost") == 5, results
        winner = next(r for r in results if r != "lost")
        assert store.versions("t") == [f"v{0:020d}", winner]
        assert store.current_version("t") == winner
        assert _staged(store) == []  # every loser removed its staging dir

    def test_stale_expectation_raises_and_current_unchanged(self, tmp_path):
        store = TableStore(None, str(tmp_path / "store"))
        v0 = _commit_one(store)
        v1 = _commit_one(store, expect_version=v0)
        # a writer still holding the v0 token must lose, loudly
        with pytest.raises(ConcurrentWriteError, match=f"expected current version '{v0}'"):
            _commit_one(store, expect_version=v0)
        assert store.current_version("t") == v1
        assert store.versions("t") == [v0, v1]

    def test_expect_none_means_create_only(self, tmp_path):
        store = TableStore(None, str(tmp_path / "store"))
        _commit_one(store, expect_version=None)  # creates
        with pytest.raises(ConcurrentWriteError):
            _commit_one(store, expect_version=None)
        assert len(store.versions("t")) == 1


class TestCommittedHistory:
    """The version listing is the commit history: a refused or killed
    publish leaves no version that recovery, vacuum or rollback can see."""

    def _refused(self, tmp_path):
        # a snapshot, a committed tick, then a tick still holding the
        # snapshot's token
        store = TableStore(None, str(tmp_path / "store"))
        snap = _commit_one(store, op="snapshot", extract_started=T0)
        tick = _commit_one(store, expect_version=snap, op="merge", watermark_after=T0)
        with pytest.raises(ConcurrentWriteError):
            _commit_one(store, expect_version=snap, op="merge", watermark_after=T1)
        return store, snap, tick

    def test_refused_publish_is_not_in_the_history(self, tmp_path):
        store, snap, tick = self._refused(tmp_path)
        assert store.versions("t") == [snap, tick]
        assert recover_watermark(store, "t") == datetime.fromisoformat(T0)

    def test_vacuum_keeps_two_committed_versions(self, tmp_path):
        store, snap, tick = self._refused(tmp_path)
        assert store.vacuum("t", keep=2) == []
        assert store.versions("t") == [snap, tick]
        store.rollback("t")  # the rollback target survived
        assert store.manifest("t")["restored_from"] == snap

    @staticmethod
    def _killed_before_rename(publish) -> None:
        """Run ``publish`` in a forked child (no JVM) that dies with exit
        code 137 at the rename that would commit it."""

        def child():
            os.rename = lambda *a, **k: os._exit(137)
            publish()

        p = multiprocessing.get_context("fork").Process(target=child)
        p.start()
        p.join(timeout=30)
        assert p.exitcode == 137

    def test_table_publish_killed_before_commit(self, tmp_path):
        store = TableStore(None, str(tmp_path / "store"))
        snap = _commit_one(store, op="snapshot", extract_started=T0)
        self._killed_before_rename(
            lambda: _commit_one(store, expect_version=snap, op="merge", watermark_after=T1)
        )
        # the child staged a whole version, then died before committing it
        (stage,) = _staged(store)
        staged = os.listdir(os.path.join(store.root, "t", stage))
        assert {"_MANIFEST.json", _STATS_NAME} <= set(staged)
        assert store.versions("t") == [snap]
        assert store.current_version("t") == snap
        assert recover_watermark(store, "t") == datetime.fromisoformat(T0)
        # the next publish on the old token commits
        tick = _commit_one(store, expect_version=snap, op="merge", watermark_after=T0)
        assert store.versions("t") == [snap, tick]

    def test_catalog_publish_killed_before_commit(self, tmp_path):
        catalog = CatalogStore(str(tmp_path / "catalog"))
        v0 = catalog.publish({"t": "v0"})
        self._killed_before_rename(lambda: catalog.publish({"t": "v1"}, expect_version=v0))
        assert [f for f in os.listdir(catalog.root) if f.startswith("_stage_")]
        assert catalog.versions() == [v0]
        assert catalog.current_version() == v0
        v1 = catalog.publish({"t": "v1"}, expect_version=v0)
        assert catalog.versions() == [v0, v1]
        assert catalog.mapping() == {"t": "v1"}
        # the killed publisher's body is older than v1: vacuum removes it
        catalog.vacuum()
        assert not [f for f in os.listdir(catalog.root) if f.startswith("_stage_")]
        assert catalog.versions() == [v0, v1]

    def test_catalog_vacuum_keeps_fresh_staging(self, tmp_path):
        catalog = CatalogStore(str(tmp_path / "catalog"))
        catalog.publish({"t": "v0"})
        with open(os.path.join(catalog.root, catalog.versions()[-1] + ".json")) as f:
            written_at = json.load(f)["written_at"]
        stale = os.path.join(catalog.root, "_stage_stale")
        fresh = os.path.join(catalog.root, "_stage_fresh")
        for path, age in ((stale, -60), (fresh, 60)):
            open(path, "w").close()
            os.utime(path, (written_at + age, written_at + age))
        catalog.vacuum()
        assert sorted(f for f in os.listdir(catalog.root) if f.startswith("_stage_")) == ["_stage_fresh"]

    def test_vacuum_removes_stale_staging_only(self, tmp_path):
        store = TableStore(None, str(tmp_path / "store"))
        _commit_one(store)
        written_at = store.manifest("t")["written_at"]
        stale, fresh = store._stage("t"), store._stage("t")
        os.utime(stale, (written_at - 60, written_at - 60))
        os.utime(fresh, (written_at + 60, written_at + 60))
        store.vacuum("t")
        assert _staged(store) == [os.path.basename(fresh)]
        # a writer whose staging dir was removed publishes nothing
        with pytest.raises(FileNotFoundError):
            store._publish("t", stale, {}, {})
        assert len(store.versions("t")) == 1
        # with a TTL, age is measured against it instead
        store.vacuum("t", ttl_seconds=100, now=written_at + 150)
        assert _staged(store) == [os.path.basename(fresh)]
        store.vacuum("t", ttl_seconds=30, now=written_at + 150)
        assert _staged(store) == []


class TestWritePathsCas:
    def test_write_with_token_and_stale_token(self, spark, tmp_path):
        store = TableStore(spark, str(tmp_path / "store"))
        df = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("x"))
        store.write(df, "t", expect_version=None)
        tok = store.current_version("t")
        store.write(df, "t", expect_version=tok)  # fresh token: fine
        with pytest.raises(ConcurrentWriteError):
            store.write(df, "t", expect_version=tok)  # now stale
        # default stays last-writer-wins for single-writer pipelines
        store.write(df, "t")

    def test_write_partial_cas_is_automatic(self, spark, tmp_path):
        # write_partial hardlink-carries from the version it read: publishing
        # over a newer version would resurrect stale bytes. The CAS is
        # therefore ON by default -- an explicitly stale token must raise.
        store = TableStore(spark, str(tmp_path / "store"))
        df = spark.range(20).select(
            F.col("id"), (F.col("id") % 4).alias("b"), (F.col("id") * 3).alias("x")
        )
        store.write(df, "t", partition_by=["b"])
        old = store.current_version("t")
        store.write(df, "t", partition_by=["b"])  # concurrent full refresh
        changed = df.filter(F.col("b") == 0)
        with pytest.raises(ConcurrentWriteError):
            store.write_partial(changed, "t", "b", [0], expect_version=old)
        # based on the CURRENT version it just read: publishes fine
        store.write_partial(changed, "t", "b", [0])
        got = store.read("t").count()
        assert got == 20


class TestUncheckedPublishSerializes:
    def test_unchecked_flip_waits_for_publish_lock(self, tmp_path):
        # an UNCHECKED publish that commits outside _PUBLISH_LOCK can land
        # between a CAS writer's check and its rename -- a silent lost
        # update with no ConcurrentWriteError raised anywhere. Every commit
        # goes through the flock; this test holds the lock and asserts the
        # unchecked publish blocks until release instead of sneaking past.
        import fcntl
        import threading

        store = TableStore(None, str(tmp_path / "store"))
        v0 = _commit_one(store)
        done = threading.Event()
        committed = []

        def unchecked():
            committed.append(_commit_one(store))  # default: unchecked
            done.set()

        lock_path = os.path.join(store.root, "t", "_PUBLISH_LOCK")
        with open(lock_path, "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            t = threading.Thread(target=unchecked, daemon=True)
            t.start()
            # flock is per open-file-description, so the thread's fresh fd
            # must block against ours even within one process
            assert not done.wait(0.6), "unchecked publish bypassed _PUBLISH_LOCK"
            assert store.versions("t") == [v0]
            fcntl.flock(lk, fcntl.LOCK_UN)
        assert done.wait(10), "unchecked publish never completed after release"
        t.join(timeout=10)
        assert store.versions("t") == [v0] + committed
