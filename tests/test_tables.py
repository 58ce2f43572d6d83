"""load_table's schema memo (tables.parquet_schema): a table's parquet schema
is inferred once per file version, session and inference conf, so a repeat
read runs no Spark job, while a rewritten file, a flipped conf or a new
session infers again."""

import datetime
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pgsf_spark import tables
from pgsf_spark.tables import load_table, parquet_schema

NANOS = "spark.sql.legacy.parquet.nanosAsLong"
NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"
TS = datetime.datetime(2024, 1, 1, 1, 2, 3, 456789)


def _jobs(spark, fn):
    """(fn's result, number of Spark jobs it ran), from a job group of its own."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "schema memo probe")
    out = fn()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write_events(path, unit="us", extra=False):
    cols = {"event_id": [1, 2], "ts": pa.array([TS, TS], pa.timestamp(unit))}
    if extra:
        cols["kind"] = ["a", "b"]
    pq.write_table(pa.table(cols), str(path))


@pytest.fixture()
def conf(spark):
    """``conf(key, value)`` sets a session conf, restored after the test."""
    saved = {}

    def set_conf(key, value):
        saved.setdefault(key, spark.conf.get(key))
        spark.conf.set(key, value)

    yield set_conf
    for k, v in saved.items():
        spark.conf.set(k, v)


class TestSchemaMemo:
    def test_second_load_runs_no_job(self, spark, tmp_path):
        _write_events(tmp_path / "events.parquet")
        first, n_first = _jobs(spark, lambda: load_table(spark, str(tmp_path), "events"))
        second, n_second = _jobs(spark, lambda: load_table(spark, str(tmp_path), "events"))
        assert n_first == 1 and n_second == 0
        assert second.schema == first.schema
        assert second.count() == 2

    def test_directory_table_runs_no_job_on_reread(self, spark, tmp_path):
        spark.range(5).write.parquet(str(tmp_path / "region.parquet"))
        _, n_first = _jobs(spark, lambda: load_table(spark, str(tmp_path), "region"))
        df, n_second = _jobs(spark, lambda: load_table(spark, str(tmp_path), "region"))
        assert (n_first, n_second) == (1, 0)
        # a file added to the directory is a new version: inferred again
        spark.range(5, 8).write.mode("append").parquet(str(tmp_path / "region.parquet"))
        df, n_third = _jobs(spark, lambda: load_table(spark, str(tmp_path), "region"))
        assert n_third == 1 and df.count() == 8

    def test_rewritten_file_returns_new_schema(self, spark, tmp_path):
        _write_events(tmp_path / "events.parquet")
        before = load_table(spark, str(tmp_path), "events")
        assert "kind" not in before.columns
        _write_events(tmp_path / "events.parquet", extra=True)
        after, n = _jobs(spark, lambda: load_table(spark, str(tmp_path), "events"))
        assert n == 1
        assert after.columns == ["event_id", "ts", "kind"]
        assert sorted(r["kind"] for r in after.collect()) == ["a", "b"]

    def test_nanos_as_long_flip_infers_again(self, spark, tmp_path, conf):
        path = str(tmp_path / "events.parquet")
        _write_events(path, unit="ns")
        conf(NANOS, "true")
        assert parquet_schema(spark, path)["ts"].dataType.simpleString() == "bigint"
        # load_table converts the nanos long to a naive microsecond timestamp
        df = load_table(spark, str(tmp_path), "events")
        assert df.schema["ts"].dataType.simpleString() == "timestamp_ntz"
        assert df.first()["ts"] == TS
        # the other value is Spark's own answer for nanos: it refuses the
        # type, instead of the memo handing back the bigint schema
        conf(NANOS, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            parquet_schema(spark, path)

    def test_timestamp_ntz_flip_returns_the_other_type(self, spark, tmp_path, conf):
        path = str(tmp_path / "events.parquet")
        _write_events(path)
        conf(NTZ, "true")
        assert parquet_schema(spark, path)["ts"].dataType.simpleString() == "timestamp_ntz"
        conf(NTZ, "false")
        assert parquet_schema(spark, path)["ts"].dataType.simpleString() == "timestamp"
        conf(NTZ, "true")
        schema, n = _jobs(spark, lambda: parquet_schema(spark, path))
        assert n == 0 and schema["ts"].dataType.simpleString() == "timestamp_ntz"

    def test_new_session_infers_again(self, spark, tmp_path):
        _write_events(tmp_path / "events.parquet")
        load_table(spark, str(tmp_path), "events")
        _, n_same = _jobs(spark, lambda: load_table(spark, str(tmp_path), "events"))
        other = spark.newSession()
        _, n_new = _jobs(other, lambda: load_table(other, str(tmp_path), "events"))
        assert (n_same, n_new) == (0, 1)

    def test_memo_is_bounded(self, spark, tmp_path, monkeypatch):
        monkeypatch.setattr(tables, "_SCHEMA_MEMO_SIZE", 1)
        for name in ("events", "orders"):
            _write_events(tmp_path / f"{name}.parquet")
        load_table(spark, str(tmp_path), "events")
        load_table(spark, str(tmp_path), "orders")  # evicts events
        assert len(tables._schema_memos[spark]) == 1
        _, n = _jobs(spark, lambda: load_table(spark, str(tmp_path), "events"))
        assert n == 1
