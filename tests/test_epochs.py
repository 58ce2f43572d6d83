"""Epoch-pinned join and recovery-then-wave gates (analytics/epochs.py): a
pinned join is immutable across later publishes, the torn join matches no
committed epoch, and recovery syncs only the post-recovery window before one
new epoch commits."""

from pgsf_spark.analytics.registry import QUERIES
from tests.conftest import SF_DIR


class TestJoinPinSemantics:
    def test_torn_join_differs_and_epochs_bracket_it(self, spark):
        """The gate's in-gate asserts already enforce pin immutability and
        CAS; here pin the OUTPUT's invariant structure: the torn join sum
        sits strictly between the two committed epochs (the cust side
        advanced, the ords side did not), and both epochs scale the same
        match count."""
        row = QUERIES["catalog_join_pin_gate"].fn(spark, SF_DIR).first()
        if row["n_matches"]:
            assert (
                row["sum_join_pinned"]
                < row["sum_join_torn"]
                < row["sum_join_committed"]
            )
        assert row["n_catalog_versions"] == 2

    def test_pinned_join_matches_epoch_ratio(self, spark):
        """Epoch factors are uniform (J_E1, J_E2), so the committed join
        sum must be exactly (J_E2/J_E1) x the pinned sum -- a structural
        identity that fails if either join resolved a mixed pair."""
        from pgsf_spark.analytics.epochs import J_E1, J_E2

        row = QUERIES["catalog_join_pin_gate"].fn(spark, SF_DIR).first()
        assert row["sum_join_committed"] * J_E1 == row["sum_join_pinned"] * J_E2


class TestRecoveryWaveSemantics:
    def test_recovered_watermark_and_single_epoch_commit(self, spark):
        row = QUERIES["recovery_wave_gate"].fn(spark, SF_DIR).first()
        from pgsf_spark.analytics.epochs import RW_HOUR_MOD

        assert row["recovered_wm_hours"] == RW_HOUR_MOD - 1
        assert row["n_catalog_versions"] == 2
        assert row["n_rows_cust"] > 0

    def test_post_recovery_window_is_incremental_only(self, spark, tmp_path):
        """The composition must NOT re-extract: after recovery, the wave's
        merge manifests carry the wave-2 watermark (T0+6h) and each table
        gained exactly one version -- asserted in-gate; here verify the
        value layout directly against an independent Spark computation."""
        from pyspark.sql import functions as F

        from pgsf_spark.analytics.epochs import (
            RW_HOUR_MOD,
            RW_SNAP,
            RW_TICK1_FROM_HOURS,
            RW_W1,
            RW_W2,
            RW_W2_MOD,
        )
        from pgsf_spark.tables import load_table

        row = QUERIES["recovery_wave_gate"].fn(spark, SF_DIR).first()
        base = load_table(spark, SF_DIR, "customer").select(
            F.col("c_custkey").cast("long").alias("k")
        )
        expected = base.select(
            F.sum(
                F.when(F.col("k") % RW_W2_MOD == 0, F.col("k") * RW_W2)
                .when(
                    F.col("k") % RW_HOUR_MOD > RW_TICK1_FROM_HOURS,
                    F.col("k") * RW_W1,
                )
                .otherwise(F.col("k") * RW_SNAP)
            )
            .cast("long")
            .alias("s")
        ).first()["s"]
        assert row["sum_v_cust"] == expected
