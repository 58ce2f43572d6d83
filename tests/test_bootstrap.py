"""Bootstrap-seed and upload-results gates (analytics/bootstrap.py): the
first-load seed is the extract-start clock, the boundary window is re-read
once, chunk caps fail loudly, and result rows route like the reference's
UploadResult parsing."""

import pytest

from pgsf_spark.analytics.registry import QUERIES
from tests.conftest import SF_DIR


class TestBootstrapSeedSemantics:
    def test_seed_is_extract_start_not_max_ts(self, spark, tmp_path):
        """snapshot_load's watermark must be the extract's own wall-clock,
        never max(ts) of the landed rows (csv_to_postgres.py:94 seeds
        from the job's systemModstamp) -- a max(ts) seed would silently
        skip anything modified during the extract."""
        import os
        from datetime import datetime

        from pyspark.sql import functions as F

        from pgsf_spark.operators.table_store import TableStore
        from pgsf_spark.sources.entity import EntitySource
        from pgsf_spark.sync.runner import SyncRunner
        from pgsf_spark.sync.state import SyncState, _utcnow

        src = str(tmp_path / "src")
        os.makedirs(src)
        t0 = datetime(2024, 1, 1)
        spark.createDataFrame([(i,) for i in range(1, 8)], "Id long").withColumn(
            "SystemModstamp", F.lit(t0).cast("timestamp")
        ).withColumn("IsDeleted", F.lit(False)).write.parquet(
            os.path.join(src, "e.parquet")
        )
        state = SyncState(str(tmp_path / "sync.json"))
        runner = SyncRunner(
            EntitySource(spark, src), TableStore(spark, str(tmp_path / "store")), state
        )
        before = _utcnow().replace(microsecond=0)
        runner.snapshot_load("e", refresh_minutes=0)
        after = _utcnow()
        seeded = state.get("e").syncuntil_dt()
        assert before <= seeded <= after
        assert seeded != t0  # not max(ts) -- every fixture stamp is t0

    def test_advanced_watermark_refetches_nothing(self, spark, tmp_path):
        """After the boundary tick advanced the watermark to max(ts), the
        next incremental window is empty -- no permanent re-read loop
        (strict ``>`` plus the monotonic advance)."""
        import os
        from datetime import datetime

        from pyspark.sql import functions as F

        from pgsf_spark.sources.entity import EntitySource

        src = str(tmp_path / "src")
        os.makedirs(src)
        t0 = datetime(2024, 1, 1)
        spark.createDataFrame([(i,) for i in range(10)], "Id long").withColumn(
            "SystemModstamp",
            F.lit(t0).cast("timestamp")
            + F.make_interval(hours=(F.col("Id") % 5).cast("int")),
        ).withColumn("IsDeleted", F.lit(False)).write.parquet(
            os.path.join(src, "e.parquet")
        )
        source = EntitySource(spark, src)
        from datetime import timedelta

        max_ts = t0 + timedelta(hours=4)
        assert source.incremental("e", "SystemModstamp", max_ts).count() == 0
        # while the boundary window just below it is non-empty
        assert (
            source.incremental(
                "e", "SystemModstamp", t0 + timedelta(hours=2)
            ).count()
            > 0
        )


class TestUploadResultSemantics:
    def test_fake_service_routes_like_upload_result_rows(self):
        """The fixture service's CSV parses through parse_batch_result
        into the reference's per-record outcome shape: echoed id +
        created for inserts, empty id + DUPLICATE_VALUE for rejects."""
        from pgsf_spark.analytics.bootstrap import (
            UPLOAD_SUMMARY_ID,
            _fake_bulk_service,
        )
        from pgsf_spark.operators.upload import parse_batch_result

        chunk = "Id,Name\n7,alice\n8,bob\n"
        recs = parse_batch_result(_fake_bulk_service(chunk))
        assert len(recs) == 3  # 2 records + 1 batch summary
        rej, ok, summary = recs
        assert rej["id"] is None and not rej["success"]
        assert rej["error"].startswith("DUPLICATE_VALUE")
        assert ok == {"id": "8", "success": True, "created": True, "error": None}
        assert summary["id"] == UPLOAD_SUMMARY_ID and summary["error"] == "RECORDS:2"

    def test_record_cap_violation_fails_loudly(self):
        from pgsf_spark.analytics.bootstrap import (
            UPLOAD_MAX_RECORDS,
            _fake_bulk_service,
        )

        chunk = "Id,Name\n" + "".join(
            f"{i},n{i}\n" for i in range(UPLOAD_MAX_RECORDS + 1)
        )
        with pytest.raises(ValueError, match="record cap"):
            _fake_bulk_service(chunk)

    def test_gate_is_multi_chunk_at_fixture_scale(self, spark):
        from pgsf_spark.analytics.bootstrap import UPLOAD_MAX_RECORDS

        row = QUERIES["upload_results_gate"].fn(spark, SF_DIR).first()
        assert row["n_chunks"] >= 2  # the cap actually split the upload
        assert row["n_records"] > UPLOAD_MAX_RECORDS
        assert row["n_success"] + row["n_failed_dup"] == row["n_records"]
