"""Reference API surfaces (analytics/refsurfaces.py): the SOSL predicate is
the OR-chain over every string column, paging totals come from the pages,
CDC id windows are inclusive on both ends, and compaction keeps data while
shrinking files."""

from pgsf_spark.analytics.registry import QUERIES
from tests.conftest import SF_DIR


class TestSoslSemantics:
    def test_predicate_is_or_chain_over_all_string_columns(self, spark):
        """A doc whose TERM match lives in a non-text string column must
        still hit: rename-source probe via a synthetic frame run through
        the same run_sosl machinery."""
        from pgsf_spark.soql import run_sosl

        df = spark.createDataFrame(
            [
                (1, "nothing here", "the-source", 500),
                (2, "xx the yy", "s", 500),
                (3, "nothing", "s", 500),
                (4, "has the term", "s", 50),  # fails WHERE
            ],
            "doc_id long, text string, source string, n_chars long",
        )
        hits = run_sosl(
            lambda t: df,
            "FIND {the} IN ALL FIELDS RETURNING d(doc_id WHERE n_chars > 100)",
        )["d"]
        assert {r["doc_id"] for r in hits.collect()} == {1, 2}


class TestPagingSemantics:
    def test_pages_are_bounded_and_complete(self, spark):
        from pgsf_spark.soql import query_pages

        df = spark.range(0, 137).selectExpr("id AS o_orderkey")
        pages = list(query_pages(df, page_size=50))
        assert [len(p) for p in pages] == [50, 50, 37]
        assert {r["o_orderkey"] for p in pages for r in p} == set(range(137))


class TestCdcWindowSemantics:
    def test_window_is_inclusive_both_ends(self, spark, tmp_path):
        import os

        from pyspark.sql import functions as F

        from pgsf_spark.analytics import refsurfaces as rs
        from pgsf_spark.sources.entity import EntitySource

        src = str(tmp_path / "src")
        os.makedirs(src)
        spark.createDataFrame(
            [(i,) for i in range(10)], "Id long"
        ).withColumn(
            "SystemModstamp",
            F.lit(rs.T0).cast("timestamp")
            + F.make_interval(hours=F.col("Id").cast("int")),
        ).withColumn("IsDeleted", F.lit(False)).write.parquet(
            os.path.join(src, "e.parquet")
        )
        from datetime import timedelta

        source = EntitySource(spark, src)
        got = {
            r["Id"]
            for r in source.updated_ids(
                "e", rs.T0 + timedelta(hours=2), rs.T0 + timedelta(hours=5)
            ).collect()
        }
        assert got == {2, 3, 4, 5}  # both boundary hours included


class TestCompactionSemantics:
    def test_gate_pins_file_shrink_and_data_identity(self, spark):
        row = QUERIES["compaction_gate"].fn(spark, SF_DIR).first()
        assert row["files_before"] == 16
        assert row["files_after"] == 2
        assert row["n_versions"] == 2
        assert row["n_rows"] > 0 and row["sum_v"] == 3 * row["sum_v"] // 3
