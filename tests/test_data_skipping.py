"""File-level min/max data skipping (TableStore._write_file_stats /
read_pruned): the Delta-style stats path that makes range lookups on a huge
replica O(overlapping files) instead of O(table)."""

import os
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from pgsf_spark.operators.table_store import _STATS_NAME, TableStore


@pytest.fixture
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "store"))


def _ordered_table(spark, store, n=1000, files=10):
    df = spark.range(n).select(
        F.col("id"),
        (F.col("id") * 2).alias("val"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(mins=F.col("id"))).alias("ts"),
    )
    store.write(df.repartitionByRange(files, "id"), "t")
    return df


class TestStatsCollection:
    def test_stats_written_and_cover_columns(self, spark, store, tmp_path):
        _ordered_table(spark, store)
        stats = store.file_stats("t")
        assert stats is not None and len(stats) == 10
        some = next(iter(stats.values()))
        assert set(some) >= {"id", "val"}
        assert some["id"][0] <= some["id"][1]


class TestReadPruned:
    def test_prunes_files_and_matches_full_filter(self, spark, store):
        _ordered_table(spark, store)
        pruned = store.read_pruned("t", "id", lo=150, hi=250)
        full = store.read("t").filter((F.col("id") >= 150) & (F.col("id") <= 250))
        assert sorted(r["id"] for r in pruned.collect()) == sorted(r["id"] for r in full.collect())
        # range-partitioned layout: 101 ids live in at most 3 of the 10 files
        assert 0 < len(pruned.inputFiles()) < len(full.inputFiles())

    def test_empty_range(self, spark, store):
        _ordered_table(spark, store)
        out = store.read_pruned("t", "id", lo=10_000)
        assert out.count() == 0
        assert set(out.columns) == {"id", "val", "ts"}

    def test_timestamp_pruning(self, spark, store):
        _ordered_table(spark, store)
        lo = datetime(2024, 1, 1, 2, 0)
        hi = lo + timedelta(minutes=60)
        pruned = store.read_pruned("t", "ts", lo=lo, hi=hi)
        assert pruned.count() == 61
        assert len(pruned.inputFiles()) < 10

    def test_open_ended_bounds(self, spark, store):
        _ordered_table(spark, store)
        assert store.read_pruned("t", "id", lo=900).count() == 100
        assert store.read_pruned("t", "id", hi=99).count() == 100

    def test_stats_file_absent_falls_back(self, spark, store):
        store.write(spark.range(100), "t")
        os.remove(os.path.join(store.current_version_path("t"), _STATS_NAME))
        got = store.read_pruned("t", "id", lo=10, hi=20)  # no _STATS.json on disk
        assert got.count() == 11

    def test_pruned_read_after_partitioned_write(self, spark, store):
        df = spark.range(100).select(
            F.col("id"), (F.col("id") % 4).alias("part"), (F.col("id") * 10).alias("v")
        )
        store.write(df, "p", partition_by=["part"])
        pruned = store.read_pruned("p", "id", lo=0, hi=10)
        assert pruned.count() == 11
        assert "part" in pruned.columns  # hive partition col survives basePath read

    def test_unsorted_layout_never_wrong(self, spark, store):
        # random layout -> every file overlaps -> nothing pruned, result exact
        df = spark.range(500).select(F.col("id"), F.hash("id").alias("h")).repartition(8)
        store.write(df, "u")
        got = store.read_pruned("u", "id", lo=100, hi=120)
        assert got.count() == 21
