"""Retention pipeline gates (analytics/retention.py): catalog GC never drops
the current version, and watermark recovery survives compact,
vacuum and ledger loss."""

from pgsf_spark.analytics.registry import QUERIES
from tests.conftest import SF_DIR


class TestCatalogGcSemantics:
    def test_vacuum_keeps_newest_and_current_pointer(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from pgsf_spark.operators.catalog import CatalogStore
        from pgsf_spark.operators.table_store import TableStore

        store = TableStore(spark, str(tmp_path / "store"))
        catalog = CatalogStore(str(tmp_path / "catalog"))
        vs = []
        expect = None
        for i in range(4):
            store.write(spark.range(3 + i).select(F.col("id").alias("k")), "t")
            expect = catalog.snapshot_current(store, ["t"], expect_version=expect)
            vs.append(expect)
        victims = catalog.vacuum(keep=2)
        assert victims == vs[:2]
        assert catalog.versions() == vs[2:]
        assert catalog.current_version() == vs[3]

    def test_vacuum_never_drops_the_pointer_version(self, spark, tmp_path):
        """keep=0 is the degenerate ask; the current version must survive
        anyway -- deleting it would break every pin() until the next
        publish."""
        from pyspark.sql import functions as F

        from pgsf_spark.operators.catalog import CatalogStore
        from pgsf_spark.operators.table_store import TableStore

        store = TableStore(spark, str(tmp_path / "store"))
        catalog = CatalogStore(str(tmp_path / "catalog"))
        store.write(spark.range(3).select(F.col("id").alias("k")), "t")
        v1 = catalog.snapshot_current(store, ["t"])
        assert catalog.vacuum(keep=0) == []
        assert catalog.versions() == [v1]
        assert catalog.mapping(catalog.pin())

    def test_empty_catalog_vacuum_is_a_noop(self, tmp_path):
        from pgsf_spark.operators.catalog import CatalogStore

        catalog = CatalogStore(str(tmp_path / "catalog"))
        assert catalog.vacuum(keep=2) == []


class TestMaintenanceRecoveryComposition:
    def test_gate_invariants(self, spark):
        from pgsf_spark.analytics.retention import MR_HOUR_MOD, MR_W2_MOD

        row = QUERIES["maintenance_recovery_gate"].fn(spark, SF_DIR).first()
        assert row["recovered_wm_hours"] == MR_HOUR_MOD - 1
        assert row["n_versions"] == 2
        assert row["n_rows"] > 0
        # the post-recovery window is exactly the wave-2 arrivals
        # (custkeys are 1..N, so pk % 10 == 0 hits floor(N/10) rows)
        assert 0 < row["n_window"] < row["n_rows"]
        assert row["n_window"] == row["n_rows"] // MR_W2_MOD
