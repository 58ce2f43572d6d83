"""Spark SQL language surfaces (analytics/sqlsurfaces.py): the observe()
metrics gate matches direct aggregates in a single pass."""

from tests.conftest import SF_DIR


class TestObserveGate:
    """sqlsurfaces.q_observe_metrics_gate: CollectMetrics accumulators
    value-pinned against the plainly-stated aggregates (SURVEY A3)."""

    def test_observed_metrics_match_direct_aggregates(self, spark):
        from pgsf_spark.analytics.sqlsurfaces import q_observe_metrics_gate
        from pgsf_spark.tables import load_table

        row = q_observe_metrics_gate(spark, SF_DIR).collect()[0]
        li = load_table(spark, SF_DIR, "lineitem")
        n_in = li.count()
        n_kept = li.filter("l_quantity < 24").count()
        assert row["n_in"] == n_in
        assert row["n_kept"] == n_kept
        assert row["kept_permille"] == n_kept * 1000 // n_in

    def test_single_pass_no_second_aggregation_scan(self, spark):
        """The metrics come from the ONE noop-write pass -- the returned
        relation is a driver-local row, not a re-aggregation plan."""
        from pgsf_spark.analytics.sqlsurfaces import q_observe_metrics_gate

        df = q_observe_metrics_gate(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert ".parquet" not in plan
