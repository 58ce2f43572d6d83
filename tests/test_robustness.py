"""Robustness gates (analytics/robustness.py): the schema-drift gate checks
replica state, not just row counts."""

from tests.conftest import SF_DIR


class TestDriftGateSemantics:
    def test_replica_state_not_just_counts(self, spark):
        """The gate's claim is the WIDENED REPLICA: spot-check the value
        semantics directly -- updated rows carry the synthetic lang,
        pre-drift rows NULL -- via the gate's own per-source output."""
        from pgsf_spark.analytics.robustness import DRIFT_MOD
        from pgsf_spark.analytics.registry import QUERIES
        from pgsf_spark.tables import load_table

        rows = {
            r["source"]: r
            for r in QUERIES["schema_drift_gate"].fn(spark, SF_DIR).collect()
        }
        docs = load_table(spark, SF_DIR, "documents").select("doc_id", "source")
        from pyspark.sql import functions as F

        expect = {
            r["source"]: (r["n"], r["nl"])
            for r in docs.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    (F.col("doc_id") % DRIFT_MOD == 0).cast("long")
                ).alias("nl"),
            )
            .collect()
        }
        for src, (n, nl) in expect.items():
            assert rows[src]["n_docs"] == n, src
            assert rows[src]["n_with_lang"] == nl, src
            assert rows[src]["drift_added"] == "lang", src
