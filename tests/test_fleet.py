"""Fleet scheduler and version-store gates (analytics/fleet.py): per-table
failure isolation, claim-released recovery, publish cadence, pinned reads
under a concurrent writer, vacuum retention and the CAS publish protocol."""

from pgsf_spark.analytics.registry import QUERIES
from tests.conftest import SF_DIR


class TestFleetSchedulerSemantics:
    def test_isolation_recovery_and_publish_cadence(self, spark):
        """One run, all four claims: the poisoned table errored at tick
        1 (tick1_failed), published NOTHING that tick (n_versions 2 vs
        3), still reached the same final value state (sum_v matches the
        updated arithmetic), and no other table was disturbed."""
        from pyspark.sql import functions as F

        from pgsf_spark.analytics import fleet
        from pgsf_spark.tables import load_table

        rows = {
            r["tbl"]: r
            for r in QUERIES["fleet_scheduler_gate"].fn(spark, SF_DIR).collect()
        }
        assert set(rows) == {name for name, _, _, _ in fleet.FLEET}
        for name, base, pk, _ in fleet.FLEET:
            expect = (
                load_table(spark, SF_DIR, base)
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        F.when(
                            F.col(pk) % fleet.UPDATE_MOD == 0,
                            F.col(pk) * fleet.V_WAVE1,
                        ).otherwise(F.col(pk) * fleet.V_SNAP)
                    ).alias("s"),
                )
                .first()
            )
            r = rows[name]
            assert r["n_rows"] == expect["n"], name
            assert r["sum_v"] == expect["s"], name
            assert r["tick1_failed"] == (name == fleet.FAIL_TABLE), name
            assert r["n_versions"] == (
                2 if name == fleet.FAIL_TABLE else 3
            ), name


class TestSnapshotConsistencySemantics:
    def test_three_version_states_are_distinct_and_exact(self, spark):
        """The pinned read saw v1, time travel saw v2, current saw v3 --
        three DIFFERENT sums with exact expected values (not just
        'something stable')."""
        from pyspark.sql import functions as F

        from pgsf_spark.analytics import fleet
        from pgsf_spark.tables import load_table

        row = (
            QUERIES["snapshot_consistency_gate"].fn(spark, SF_DIR).first()
        )
        pk = F.col("c_custkey")
        expect = (
            load_table(spark, SF_DIR, "customer")
            .agg(
                F.sum(pk * fleet.V_SNAP).alias("v1"),
                F.sum(
                    F.when(pk % fleet.UPDATE_MOD == 0, pk * fleet.V_WAVE1).otherwise(
                        pk * fleet.V_SNAP
                    )
                ).alias("v2"),
                F.sum(
                    F.when(pk % fleet.SECOND_MOD == 0, pk * fleet.V_WAVE2)
                    .when(pk % fleet.UPDATE_MOD == 0, pk * fleet.V_WAVE1)
                    .otherwise(pk * fleet.V_SNAP)
                ).alias("v3"),
            )
            .first()
        )
        assert row["sum_v1"] == expect["v1"]
        assert row["sum_v2"] == expect["v2"]
        assert row["sum_v3"] == expect["v3"]
        assert row["sum_v1"] < row["sum_v2"] < row["sum_v3"]
        assert row["n_versions"] == 3


class TestVacuumRetentionSemantics:
    def test_gc_trajectory_and_loud_time_travel(self, spark):
        """keep-floor drops exactly the oldest, the aged TTL pass drops
        the middle, the surviving current version's data is untouched --
        and (asserted inside the gate) a time-travel read of a vacuumed
        version raises with the version named, never an empty frame."""
        from pyspark.sql import functions as F

        from pgsf_spark.analytics import fleet
        from pgsf_spark.tables import load_table

        row = QUERIES["vacuum_retention_gate"].fn(spark, SF_DIR).first()
        pk = F.col("c_custkey")
        expect = (
            load_table(spark, SF_DIR, "customer")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.when(pk % fleet.THIRD_MOD == 0, pk * fleet.V_WAVE3)
                    .when(pk % fleet.UPDATE_MOD == 0, pk * fleet.V_WAVE1)
                    .otherwise(pk * fleet.V_SNAP)
                ).alias("s"),
            )
            .first()
        )
        assert row["n_rows"] == expect["n"]
        assert row["sum_v"] == expect["s"]
        assert (
            row["n_versions_start"],
            row["n_victims_keep"],
            row["n_victims_ttl"],
            row["n_versions_end"],
        ) == (3, 1, 1, 1)


class TestCasPublishSemantics:
    def test_no_lost_update_and_retry_protocol(self, spark):
        """The stale writer's publish was refused (asserted in-gate via
        ConcurrentWriteError) and left the state untouched; the retry
        merged on top of A, so the final state carries BOTH updates with
        B winning the pk % 70 overlap; the refused publish committed
        nothing (3 versions: snapshot, A, B's retry)."""
        from pyspark.sql import functions as F

        from pgsf_spark.analytics import fleet
        from pgsf_spark.tables import load_table

        row = QUERIES["cas_publish_gate"].fn(spark, SF_DIR).first()
        pk = F.col("c_custkey")
        expect = (
            load_table(spark, SF_DIR, "customer")
            .agg(
                F.sum(
                    F.when(pk % fleet.UPDATE_MOD == 0, pk * fleet.V_WAVE1).otherwise(
                        pk * fleet.V_SNAP
                    )
                ).alias("a"),
                F.sum(
                    F.when(pk % fleet.CAS_MOD == 0, pk * fleet.V_CAS)
                    .when(pk % fleet.UPDATE_MOD == 0, pk * fleet.V_WAVE1)
                    .otherwise(pk * fleet.V_SNAP)
                ).alias("f"),
            )
            .first()
        )
        assert row["sum_after_a"] == expect["a"]
        assert row["sum_final"] == expect["f"]
        assert row["sum_after_a"] != row["sum_final"]  # B's update landed
        assert row["n_version_dirs"] == 3
