"""Sync tick accounting from per-file footer stats: the stats summary helper
(fast lane), and on Spark the tick's job budget and reported job count,
watermark/row parity with the scan it replaces, the scan fallback, and the
stats write_partial publishes without a Spark job."""

import json
import os
import shutil
import time
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from pgsf_spark.operators import table_store
from pgsf_spark.operators.table_store import (
    _STATS_NAME,
    PGSF_BUCKET,
    STATS_ROWS,
    TableStore,
    summarize_file_stats,
)
from pgsf_spark.sources.entity import EntitySource
from pgsf_spark.sync.runner import SyncRunner, pk_bucket, sync_job_tag
from pgsf_spark.sync.state import SyncState

T0 = datetime(2024, 1, 1, 0, 0, 0)
SCHEMA = "Id string, name string, bal double, SystemModstamp timestamp, IsDeleted boolean"


class TestSummarizeFileStats:
    STATS = {
        "pgsf_bucket=0/part-0.parquet": {
            STATS_ROWS: 3,
            "ts": ["2024-01-01 00:00:00", "2024-01-01 05:00:00.000001"],
        },
        "pgsf_bucket=1/part-1.parquet": {
            STATS_ROWS: 2,
            "ts": ["2024-01-01 01:00:00", "2024-01-01 04:00:00"],
        },
        "pgsf_bucket=2/part-2.parquet": {STATS_ROWS: 0},  # zero rows: no range
    }

    def test_row_sum_and_max(self):
        assert summarize_file_stats(self.STATS, "ts") == (5, "2024-01-01 05:00:00.000001")

    def test_row_count_alone(self):
        assert summarize_file_stats(self.STATS) == (5, None)

    def test_zero_row_files_only(self):
        stats = {"a.parquet": {STATS_ROWS: 0}, "b.parquet": {STATS_ROWS: 0}}
        assert summarize_file_stats(stats, "ts") == (0, None)
        assert summarize_file_stats({}, "ts") == (0, None)

    def test_missing_stat_returns_none(self):
        stats = dict(self.STATS)
        stats["pgsf_bucket=3/part-3.parquet"] = {STATS_ROWS: 4}  # rows, no ts range
        assert summarize_file_stats(stats, "ts") is None
        assert summarize_file_stats(stats) == (9, None)  # the count still answers

    def test_missing_row_count_returns_none(self):
        stats = dict(self.STATS)
        stats["pgsf_bucket=3/part-3.parquet"] = {"ts": ["2024-01-01", "2024-01-02"]}
        assert summarize_file_stats(stats, "ts") is None
        assert summarize_file_stats(stats) is None


def _write_source(spark, src_dir, rows):
    spark.createDataFrame(rows, SCHEMA).write.mode("overwrite").parquet(
        str(src_dir / "customer.parquet")
    )


def _scan(store, table, ts="SystemModstamp"):
    r = store.read(table).agg(F.count(F.lit(1)).alias("n"), F.max(ts).alias("m")).first()
    return r["n"], r["m"]


@pytest.fixture()
def synced(spark, tmp_path):
    """Snapshot of 40 customers over 16 pk buckets, watermark rewound to T0."""

    def make():
        src_dir = tmp_path / "src"
        src_dir.mkdir(exist_ok=True)
        rows = [(f"c{i}", f"n{i}", float(i), T0, False) for i in range(40)]
        _write_source(spark, src_dir, rows)
        store = TableStore(spark, str(tmp_path / "store"))
        state = SyncState(str(tmp_path / "sync.json"))
        runner = SyncRunner(EntitySource(spark, str(src_dir)), store, state)
        n = runner.snapshot_load("customer")
        assert n == 40
        state.release("customer", syncuntil=T0, touch_refresh=False)
        return runner, store, state, src_dir, rows

    return make


@pytest.fixture()
def off_utc(spark, monkeypatch):
    """``off_utc(session_tz, tz)`` sets the Spark session zone and the
    Python process TZ; both are restored after the test."""
    prev = spark.conf.get("spark.sql.session.timeZone")

    def set_zones(session_tz, tz):
        spark.conf.set("spark.sql.session.timeZone", session_tz)
        monkeypatch.setenv("TZ", tz)
        time.tzset()

    yield set_zones
    spark.conf.set("spark.sql.session.timeZone", prev)
    monkeypatch.undo()
    time.tzset()


def _tick_group(runner, spark, monkeypatch):
    """Record the job group the runner's tick runs in (a list, filled when
    the tick starts)."""
    groups = []
    tick = runner._sync_tick

    def spy(*a, **k):
        groups.append(spark.sparkContext.getLocalProperty("spark.jobGroup.id"))
        return tick(*a, **k)

    monkeypatch.setattr(runner, "_sync_tick", spy)
    return groups


class TestTickJobs:
    def test_partitioned_tick_runs_at_most_5_jobs(self, spark, synced, monkeypatch):
        runner, store, state, src_dir, rows = synced()
        t1 = T0 + timedelta(hours=1)
        _write_source(
            spark,
            src_dir,
            rows + [("c3", "x", 1.0, t1, False), ("c5", "y", 2.0, t1, True), ("c99", "z", 3.0, t1, False)],
        )
        groups = _tick_group(runner, spark, monkeypatch)
        res = runner.sync_table("customer")
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(groups[0])
        assert len(jobs) <= 5, jobs
        assert res["jobs"] == len(jobs)
        assert res["rows"] == 40  # +c99, -c5
        m = store.manifest("customer")
        assert (m["batch_rows"], m["batch_deletes"]) == (3, 1)
        assert m["watermark_after"] == t1.isoformat()
        assert m["rewritten_partitions"]

    def test_job_count_ignores_earlier_jobs(self, spark, synced, monkeypatch):
        """The tick's job count reads only this tick's job ids: after 200
        earlier jobs under the table's name it still reports the tick's 5,
        with the same number of py4j calls as a tick before them."""
        from py4j.java_gateway import GatewayClient
        from pyspark.status import StatusTracker

        runner, store, state, src_dir, rows = synced()
        sc = spark.sparkContext
        calls = []  # py4j calls per job-id lookup
        counting = [False]
        send = GatewayClient.send_command
        lookup = StatusTracker.getJobIdsForGroup

        def counted_send(self, *a, **k):
            if counting[0]:
                calls[-1] += 1
            return send(self, *a, **k)

        def counted_lookup(self, group=None):
            calls.append(0)
            counting[0] = True
            try:
                return lookup(self, group)
            finally:
                counting[0] = False

        def tick(hours):
            t = T0 + timedelta(hours=hours)
            _write_source(spark, src_dir, rows + [("c3", "x", 1.0, t, False), ("c99", "z", 3.0, t, False)])
            calls.clear()
            res = runner.sync_table("customer")
            return res["jobs"], list(calls)

        monkeypatch.setattr(GatewayClient, "send_command", counted_send)
        monkeypatch.setattr(StatusTracker, "getJobIdsForGroup", counted_lookup)
        jobs_first, calls_first = tick(1)
        # 200 earlier jobs under the table's job group and tag
        sc.setJobGroup(sync_job_tag("customer"), "earlier work")
        sc.addJobTag(sync_job_tag("customer"))
        try:
            for _ in range(200):
                sc.parallelize([1], 1).count()
        finally:
            sc.removeJobTag(sync_job_tag("customer"))
        jobs_later, calls_later = tick(2)
        assert jobs_first == jobs_later == 5
        assert calls_later == calls_first and sum(calls_later) < 20, calls_later


    def test_tick_lists_the_table_directory_twice(self, spark, synced, monkeypatch):
        """A tick resolves the version it reads once, before the pin, and the
        commit reads the newest name once more under the publish lock; every
        other step names the version it was handed."""
        from pgsf_spark.sync import runner as runner_mod

        runner, store, state, src_dir, rows = synced()
        _write_source(spark, src_dir, rows + [("c3", "x", 1.0, T0 + timedelta(hours=1), False)])
        events = []
        committed, pin = table_store._committed, runner_mod._pin
        lock = os.path.join(store.root, "customer", "_PUBLISH_LOCK")

        def counted_committed(*a, **k):
            events.append("locked" if os.path.exists(lock) else "unlocked")
            return committed(*a, **k)

        def counted_pin(*a, **k):
            events.append("pin")
            return pin(*a, **k)

        monkeypatch.setattr(table_store, "_committed", counted_committed)
        monkeypatch.setattr(runner_mod, "_pin", counted_pin)
        res = runner.sync_table("customer")
        assert events == ["unlocked", "pin", "locked"]
        assert res["rows"] == 40

    def test_landing_counts_in_manifest_and_result(self, spark, tmp_path):
        """The tick record names how many landing files the poll read and
        how many the watermark pruned, from the ledger (no job)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        land = tmp_path / "src" / "customer"
        land.mkdir(parents=True)

        def put(name, ids, ts):
            pq.write_table(
                pa.table(
                    {
                        "Id": pa.array(ids, pa.string()),
                        "name": pa.array(["n"] * len(ids), pa.string()),
                        "bal": pa.array([1.0] * len(ids), pa.float64()),
                        "SystemModstamp": pa.array([ts] * len(ids), pa.timestamp("us", tz="UTC")),
                        "IsDeleted": pa.array([False] * len(ids), pa.bool_()),
                    }
                ),
                str(land / name),
            )

        put("snapshot.parquet", [f"c{i}" for i in range(20)], T0)
        store = TableStore(spark, str(tmp_path / "store"))
        state = SyncState(str(tmp_path / "sync.json"))
        runner = SyncRunner(EntitySource(spark, str(tmp_path / "src")), store, state)
        runner.snapshot_load("customer")
        state.release("customer", syncuntil=T0, touch_refresh=False)
        for k in (1, 2):
            put(f"tick-{k:05d}.parquet", [f"c{k}", f"new{k}"], T0 + timedelta(hours=k))
            res = runner.sync_table("customer")
            m = store.manifest("customer")
            assert (res["landing_files_read"], res["landing_files_skipped"]) == (1, k)
            assert (m["landing_files_read"], m["landing_files_skipped"]) == (1, k)
            assert res["rows"] == 20 + k


class TestNoPythonWorkers:
    def test_snapshot_tick_and_compact_start_no_footer_job(self, spark, tmp_path, monkeypatch):
        """Below the footer bound no publish of a 16-bucket table runs the
        Python footer job: the snapshot, a tick and a compact read every
        footer on the driver."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        def put(path, rows):
            pq.write_table(
                pa.table(
                    {
                        "Id": pa.array([r[0] for r in rows], pa.string()),
                        "bal": pa.array([r[1] for r in rows], pa.float64()),
                        "SystemModstamp": pa.array([r[2] for r in rows], pa.timestamp("us", tz="UTC")),
                        "IsDeleted": pa.array([r[3] for r in rows], pa.bool_()),
                    }
                ),
                path,
            )

        land = tmp_path / "src" / "customer"
        land.mkdir(parents=True)
        put(str(land / "snapshot.parquet"), [(f"c{i}", float(i), T0, False) for i in range(200)])

        def no_job(*a, **k):
            raise AssertionError("a publish started the Python footer job")

        monkeypatch.setattr(spark.sparkContext, "parallelize", no_job)
        store = TableStore(spark, str(tmp_path / "store"))
        state = SyncState(str(tmp_path / "sync.json"))
        runner = SyncRunner(EntitySource(spark, str(tmp_path / "src")), store, state)
        assert runner.snapshot_load("customer") == 200
        assert store.manifest("customer")["partition_buckets"] == 16
        state.release("customer", syncuntil=T0, touch_refresh=False)
        t1 = T0 + timedelta(hours=1)
        put(str(land / "tick-00001.parquet"), [("c1", -1.0, t1, False), ("c2", 0.0, t1, True), ("c999", 9.0, t1, False)])
        assert runner.sync_table("customer")["rows"] == 200
        store.compact("customer")
        monkeypatch.undo()
        assert len(store.file_stats("customer")) >= 16
        got = {r["Id"]: r["bal"] for r in store.read("customer").collect()}
        assert len(got) == 200 and got["c1"] == -1.0 and "c2" not in got and got["c999"] == 9.0


class TestStatsParity:
    @pytest.mark.parametrize("ts_type", ["timestamp", "timestamp_ntz"])
    def test_watermark_and_rows_match_scan_off_utc(self, spark, tmp_path, off_utc, ts_type):
        """The stats answer must equal what the scan's .first() returns under
        a non-UTC session zone and a non-UTC Python TZ, for both timestamp
        types (stats hold UTC-naive ISO; the conversion goes through the
        column's Spark type)."""
        off_utc("America/Los_Angeles", "Asia/Kolkata")
        store = TableStore(spark, str(tmp_path / "store"))
        df = spark.range(50).select(
            F.col("id"),
            (F.col("id") % 4).alias("part"),
            (
                F.to_timestamp(F.lit("2024-03-10 01:30:00"))
                + F.make_interval(mins=F.col("id") * 7)
                + F.make_interval(secs=F.lit(0.000123))
            )
            .cast(ts_type)
            .alias("ts"),
        )
        store.write(df, "t", partition_by=["part"])
        got = store.stats_summary("t", "ts")
        assert got is not None
        assert got == _scan(store, "t", "ts")

    def test_tick_watermark_matches_scan_off_utc(self, spark, synced, off_utc):
        off_utc("Asia/Tokyo", "America/New_York")
        runner, store, state, src_dir, rows = synced()
        t1 = T0 + timedelta(hours=3, microseconds=5)
        _write_source(spark, src_dir, rows + [("c1", "u", 9.0, t1, False)])
        res = runner.sync_table("customer")
        n, mx = _scan(store, "customer")
        assert (res["rows"], res["watermark"]) == (n, mx.isoformat())
        # the observed batch max (the manifest's watermark_after) too
        assert store.manifest("customer")["watermark_after"] == mx.isoformat()
        # the state row keeps whole seconds (WATERMARK_FMT)
        assert state.get("customer").syncuntil_dt() == mx.replace(microsecond=0)

    def test_non_timestamp_column_is_not_answered(self, spark, tmp_path):
        store = TableStore(spark, str(tmp_path / "store"))
        store.write(spark.range(10), "t")
        assert store.stats_summary("t", "id") is None
        assert store.stats_summary("t") == (10, None)


class TestTickEdges:
    def test_deleting_the_newest_row_keeps_the_watermark(self, spark, synced):
        runner, store, state, src_dir, rows = synced()
        t1, t2 = T0 + timedelta(hours=1), T0 + timedelta(hours=2)
        _write_source(spark, src_dir, rows + [("c99", "new", 1.0, t1, False)])
        runner.sync_table("customer")
        assert state.get("customer").syncuntil_dt() == t1
        # the only change deletes the newest row: the replica's max drops
        # below the watermark, which must not move backward
        _write_source(spark, src_dir, rows + [("c99", "new", 1.0, t2, True)])
        res = runner.sync_table("customer")
        n, mx = _scan(store, "customer")
        assert mx < t1 and n == 40
        assert res["rows"] == 40 and res["watermark"] == t1.isoformat()
        assert state.get("customer").syncuntil_dt() == t1
        m = store.manifest("customer")
        assert (m["batch_rows"], m["batch_deletes"]) == (1, 1)

    def test_no_stats_summary_falls_back_to_scan(self, spark, synced, monkeypatch):
        runner, store, state, src_dir, rows = synced()
        monkeypatch.setattr(store, "stats_summary", lambda *a, **k: None)
        t1 = T0 + timedelta(hours=1)
        _write_source(spark, src_dir, rows + [("c99", "new", 1.0, t1, False)])
        res = runner.sync_table("customer")
        assert (res["rows"], res["watermark"]) == (41, t1.isoformat())

    def test_hidden_dir_parquet_is_not_counted(self, spark, synced):
        runner, store, state, src_dir, rows = synced()
        cur = store.current_version_path("customer")
        bucket_dirs = sorted(d for d in os.listdir(cur) if d.startswith(f"{PGSF_BUCKET}="))
        stray = os.path.join(cur, bucket_dirs[0], "_leftover")
        os.makedirs(stray)
        part = next(f for f in os.listdir(os.path.join(cur, bucket_dirs[0])) if f.endswith(".parquet"))
        shutil.copy(os.path.join(cur, bucket_dirs[0], part), os.path.join(stray, part))
        # the tick's change lands in some other bucket, so the stray dir is
        # hardlink-carried into the new version
        cands = spark.createDataFrame([(f"c{i}",) for i in range(100, 200)], "Id string")
        new_id = next(
            r["Id"]
            for r in cands.select("Id", pk_bucket("Id", 16).alias("b")).collect()
            if f"{PGSF_BUCKET}={r['b']}" != bucket_dirs[0]
        )
        _write_source(spark, src_dir, rows + [(new_id, "new", 1.0, T0 + timedelta(hours=1), False)])
        res = runner.sync_table("customer")
        new = store.current_version_path("customer")
        assert os.path.exists(os.path.join(new, bucket_dirs[0], "_leftover", part))
        assert res["rows"] == store.read("customer").count() == 41

    def test_carried_stats_equal_full_recompute(self, spark, synced):
        runner, store, state, src_dir, rows = synced()
        t1 = T0 + timedelta(hours=1)
        _write_source(spark, src_dir, rows + [("c7", "u", 1.0, t1, False), ("c8", "d", 1.0, t1, True)])
        runner.sync_table("customer")
        m = store.manifest("customer")
        assert 0 < len(m["rewritten_partitions"]) < 16  # some buckets were carried
        path = store.current_version_path("customer")
        carried = store.file_stats("customer")
        store._write_file_stats(path)  # no carry: every footer re-read
        with open(os.path.join(path, _STATS_NAME)) as f:
            assert json.load(f) == carried


class TestWritePartialStats:
    def test_new_files_read_on_driver_without_a_job(self, spark, tmp_path, monkeypatch):
        store = TableStore(spark, str(tmp_path / "store"))
        df = spark.range(64).select("id", (F.col("id") % 16).cast("int").alias(PGSF_BUCKET))
        store.write(df, "t", partition_by=[PGSF_BUCKET], manifest={"partition_buckets": 16})
        changed = [2, 5, 11]
        df_changed = (
            spark.range(1000, 1048)
            .select("id", (F.col("id") % 16).cast("int").alias(PGSF_BUCKET))
            .filter(F.col(PGSF_BUCKET).isin(changed))
        )
        read = []
        footer_stats = table_store._footer_stats

        def counted(fp):
            read.append(fp)
            return footer_stats(fp)

        def no_job(*a, **k):
            raise AssertionError("write_partial started a footer job")

        monkeypatch.setattr(table_store, "_footer_stats", counted)
        monkeypatch.setattr(store.spark.sparkContext, "parallelize", no_job)
        path = store.write_partial(df_changed, "t", PGSF_BUCKET, changed)
        monkeypatch.undo()
        assert 0 < len(read) <= len(changed)
        # read in the staging dir before the commit: check each file's bucket dir
        assert {os.path.basename(os.path.dirname(fp)) for fp in read} <= {
            f"{PGSF_BUCKET}={b}" for b in changed
        }
        published = store.file_stats("t")
        assert len(published) == 16 and all(STATS_ROWS in s for s in published.values())
        store._write_file_stats(path)  # every footer re-read
        with open(os.path.join(path, _STATS_NAME)) as f:
            assert json.load(f) == published
        assert store.read("t").count() == 64 - 3 * 4 + 3 * 3  # 3 buckets: 4 rows -> 3
