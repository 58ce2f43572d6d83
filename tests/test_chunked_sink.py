"""Chunked entity sinks (sources/pyds.py): the batch writer's record cap,
manifest and failure semantics, and the streaming writer's per-epoch commit
ledger, replay, abort and output-mode rules (the reverse-ETL chunk caps)."""

import json
import os

import pytest


class TestChunkedSink:
    """sources/pyds.py entity_chunks: the reference's capped bulk upload
    as a Python DataSource writer with a driver-side commit manifest."""

    def _write(self, spark, out, rows=100, parts=4, cap=16, fail_if_over=None):
        from pgsf_spark.sources import pyds

        pyds.register_sink(spark)
        w = (
            spark.range(rows)
            .selectExpr("id AS doc_id", "CAST(id % 7 AS STRING) AS source")
            .repartition(parts, "doc_id")
            .write.format("entity_chunks")
            .option("path", out)
            .option("max_records", str(cap))
        )
        if fail_if_over is not None:
            w = w.option("fail_if_over", str(fail_if_over))
        w.mode("append").save()

    def test_chunks_respect_record_cap_and_round_trip(self, spark, tmp_path):
        out = str(tmp_path / "up")
        self._write(spark, out, rows=100, parts=4, cap=16)
        man = json.load(open(os.path.join(out, "_MANIFEST.json")))
        assert man and all(e["rows"] <= 16 for e in man)
        assert sum(e["rows"] for e in man) == 100
        files = [os.path.join(out, e["file"]) for e in man]
        got = spark.read.parquet(*files)
        assert got.count() == 100
        assert got.select("doc_id").distinct().count() == 100

    def test_failed_job_leaves_no_manifest(self, spark, tmp_path):
        """The commit barrier: a task failure means commit() never runs,
        so readers keyed on the manifest see NOTHING -- the reference's
        job-artifact exactly-once contract (SURVEY K5/C3)."""
        out = str(tmp_path / "up")
        with pytest.raises(Exception):
            self._write(spark, out, rows=100, parts=4, cap=16, fail_if_over=50)
        assert not os.path.exists(os.path.join(out, "_MANIFEST.json"))

    def test_append_accumulates_across_jobs(self, spark, tmp_path):
        """Two append jobs into one path: the manifest must list BOTH
        jobs' chunks -- a manifest holding only the latest job would
        silently drop the earlier committed rows from readers."""
        out = str(tmp_path / "up")
        self._write(spark, out, rows=30, parts=2, cap=16)
        self._write(spark, out, rows=20, parts=2, cap=16)
        man = json.load(open(os.path.join(out, "_MANIFEST.json")))
        assert sum(e["rows"] for e in man) == 50
        files = [os.path.join(out, e["file"]) for e in man]
        assert spark.read.parquet(*files).count() == 50

    def test_overwrite_mode_rejected_loudly(self, spark, tmp_path):
        from pgsf_spark.sources import pyds

        pyds.register_sink(spark)
        out = str(tmp_path / "up")
        with pytest.raises(Exception, match="append"):
            (
                spark.range(5)
                .selectExpr("id AS doc_id", "'x' AS source")
                .write.format("entity_chunks")
                .option("path", out)
                .mode("overwrite")
                .save()
            )

    def test_all_null_column_chunk_keeps_its_type(self, spark, tmp_path):
        """A chunk whose string column is entirely NULL must still be
        written as a STRING column (explicit arrow schema from the Spark
        schema), or the chunk files disagree on the parquet type."""
        from pgsf_spark.sources import pyds

        pyds.register_sink(spark)
        out = str(tmp_path / "up")
        (
            spark.range(10)
            .selectExpr("id AS doc_id", "CAST(NULL AS STRING) AS source")
            .coalesce(1)
            .write.format("entity_chunks")
            .option("path", out)
            .option("max_records", "4")
            .mode("append")
            .save()
        )
        man = json.load(open(os.path.join(out, "_MANIFEST.json")))
        files = [os.path.join(out, e["file"]) for e in man]
        got = spark.read.parquet(*files)
        assert dict(got.dtypes)["source"] == "string"
        assert got.count() == 10

    def test_unsupported_write_type_fails_loudly(self, spark, tmp_path):
        from pgsf_spark.sources import pyds

        pyds.register_sink(spark)
        out = str(tmp_path / "up")
        with pytest.raises(Exception, match="unsupported type"):
            (
                spark.sql("SELECT 1 AS a, to_date('2024-01-01') AS d")
                .write.format("entity_chunks")
                .option("path", out)
                .mode("append")
                .save()
            )

    def test_manifest_is_sorted_and_relative(self, spark, tmp_path):
        out = str(tmp_path / "up")
        self._write(spark, out, rows=40, parts=2, cap=16)
        man = json.load(open(os.path.join(out, "_MANIFEST.json")))
        names = [e["file"] for e in man]
        assert names == sorted(names)
        assert all(os.sep not in n for n in names)  # basenames only


class TestChunkedStreamSink:
    """sources/pyds.py entity_chunks STREAMING leg: per-epoch commit
    manifests, the reference's per-cycle upload ledger (SURVEY K4/C2/C3)."""

    def _stream(self, spark, tmp_path, rows=60, cap=16, files_per_batch=1):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pgsf_spark.sources import pyds

        pyds.register_sink(spark)
        feed = str(tmp_path / "feed")
        os.makedirs(feed, exist_ok=True)
        # three feed files, mtime-ordered -> three availableNow epochs
        per = rows // 3
        for i in range(3):
            t = pa.table(
                {
                    "doc_id": pa.array(range(i * per, (i + 1) * per), pa.int64()),
                    "source": pa.array([f"src{j % 7}" for j in range(i * per, (i + 1) * per)]),
                }
            )
            f = os.path.join(feed, f"b{i:03d}.parquet")
            pq.write_table(t, f)
            os.utime(f, (1_700_000_000 + 60 * i,) * 2)
        out = str(tmp_path / "up")
        q = (
            spark.readStream.schema("doc_id long, source string")
            .option("maxFilesPerTrigger", files_per_batch)
            .parquet(feed)
            .writeStream.format("entity_chunks")
            .option("path", out)
            .option("max_records", str(cap))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
        return out

    def test_each_epoch_commits_its_own_manifest(self, spark, tmp_path):
        out = self._stream(spark, tmp_path, rows=60, cap=16)
        import glob as _glob

        epoch_manifests = sorted(_glob.glob(os.path.join(out, "_MANIFEST-*.json")))
        assert len(epoch_manifests) == 3  # one ledger per micro-batch
        assert not os.path.exists(os.path.join(out, "_MANIFEST.json"))

    def test_committed_chunks_round_trip_with_cap(self, spark, tmp_path):
        from pgsf_spark.sources import pyds

        out = self._stream(spark, tmp_path, rows=60, cap=16)
        man = pyds.committed_chunks(out)
        assert man and all(e["rows"] <= 16 for e in man)
        assert sum(e["rows"] for e in man) == 60
        files = [os.path.join(out, e["file"]) for e in man]
        got = spark.read.parquet(*files)
        assert got.count() == 60
        assert got.select("doc_id").distinct().count() == 60

    def test_epoch_replay_replaces_manifest_not_double_counts(self, spark, tmp_path):
        """Exactly-once across epoch replays: committing the SAME batchId
        twice (Spark's failure-replay path) must atomically REPLACE that
        epoch's ledger, so manifest-keyed readers never see the failed
        attempt's chunks."""
        from pgsf_spark.sources.pyds import (
            ChunkCommit,
            EntityChunkStreamWriter,
            committed_chunks,
        )

        class _Schema:
            fields = []

        w = EntityChunkStreamWriter({"path": str(tmp_path / "up")}, _Schema())
        os.makedirs(w.dir, exist_ok=True)
        w.commit([ChunkCommit([("a.parquet", 5), ("b.parquet", 5)], 10)], 7)
        w.commit([ChunkCommit([("c.parquet", 10)], 10)], 7)  # the replay
        man = committed_chunks(w.dir)
        assert [e["file"] for e in man] == ["c.parquet"]

    def test_aborted_epoch_leaves_no_ledger(self, tmp_path):
        from pgsf_spark.sources.pyds import ChunkCommit, EntityChunkStreamWriter

        class _Schema:
            fields = []

        w = EntityChunkStreamWriter({"path": str(tmp_path / "up")}, _Schema())
        w.abort([ChunkCommit([("a.parquet", 5)], 5)], 3)
        assert not os.path.exists(os.path.join(str(tmp_path / "up"), "_MANIFEST-000000003.json"))

    def test_failed_task_commit_message_none_is_skipped(self, tmp_path):
        # the API delivers None for a failed task's message; commit must
        # ledger the successful tasks, not crash
        from pgsf_spark.sources.pyds import (
            ChunkCommit,
            EntityChunkStreamWriter,
            committed_chunks,
        )

        class _Schema:
            fields = []

        w = EntityChunkStreamWriter({"path": str(tmp_path / "up")}, _Schema())
        os.makedirs(w.dir, exist_ok=True)
        w.commit([ChunkCommit([("a.parquet", 5)], 5), None], 0)
        assert [e["file"] for e in committed_chunks(w.dir)] == ["a.parquet"]


class TestChunkedStreamSinkFailure:
    def test_failed_epoch_leaves_no_ledger_end_to_end(self, spark, tmp_path):
        """A real task failure inside an epoch: Spark calls abort, not
        commit -- the epoch ledger must not exist, so manifest-keyed
        readers see nothing from the failed attempt (K5/C3 per epoch)."""
        import glob as _glob

        import pyarrow as pa
        import pyarrow.parquet as pq

        from pgsf_spark.sources import pyds

        pyds.register_sink(spark)
        feed = str(tmp_path / "feed")
        os.makedirs(feed)
        t = pa.table(
            {
                "doc_id": pa.array(range(40), pa.int64()),
                "source": pa.array([f"s{i % 3}" for i in range(40)]),
            }
        )
        pq.write_table(t, os.path.join(feed, "b0.parquet"))
        out = str(tmp_path / "up")
        q = (
            spark.readStream.schema("doc_id long, source string")
            .parquet(feed)
            .writeStream.format("entity_chunks")
            .option("path", out)
            .option("max_records", "16")
            .option("fail_if_over", "20")  # poison pill: rows >= 20 fail the task
            .option("checkpointLocation", str(tmp_path / "ck"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(Exception):
            q.awaitTermination(180)
            if q.exception() is not None:
                raise q.exception()
        assert not _glob.glob(os.path.join(out, "_MANIFEST*"))


class TestChunkedStreamSinkOverwrite:
    def test_overwrite_output_modes_rejected_loudly(self, tmp_path):
        """complete/truncate would need each epoch to REPLACE the whole
        committed dataset; accepting the flag while only appending would
        make committed_chunks() multiply-count rows -- the sink refuses."""
        from pgsf_spark.sources.pyds import EntityChunkSink

        sink = EntityChunkSink({"path": str(tmp_path / "up")})
        with pytest.raises(ValueError, match="append"):
            sink.streamWriter(None, overwrite=True)
