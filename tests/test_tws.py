"""transformWithStateInPandas surface (streaming/tws.py). The tws engine is
environment-gated (its worker protocol needs google.protobuf); the classic
fallback engine runs everywhere and both engines share one output contract,
so the parity leg activates automatically where the runtime exists."""

import os

import pytest
from pyspark.sql import functions as F

# the ONE capability probe -- the skip gate must match the runtime gate
from pgsf_spark.streaming.tws import HAS_TWS_RUNTIME as _HAS_PROTOBUF


class TestTwsGate:
    """transformWithStateInPandas surface: capability gate + fallback parity."""

    def _feed(self, spark, tmp_path, n_batches=3):
        feed = os.path.join(str(tmp_path), "feed")
        os.makedirs(feed)
        base = spark.range(120).select(
            (F.col("id") % 7).alias("user_id"),
            (F.col("id") * 1.5).alias("value"),
            (F.col("id") % n_batches).alias("b"),
        )
        for k in range(n_batches):
            base.filter(F.col("b") == k).drop("b").coalesce(1).write.parquet(
                os.path.join(feed, f"b{k}")
            )
        return feed, base.drop("b")

    def _run_stream(self, spark, out_df, tmp_path, name):
        q = (
            out_df.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", os.path.join(str(tmp_path), "ck"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(180):  # stop-and-raise, like faces._run
            q.stop()
            raise TimeoutError(f"stream {name} did not finish in 180s")

    def test_classic_engine_matches_batch(self, spark, tmp_path):
        from pgsf_spark.streaming.tws import running_user_totals

        feed, batch = self._feed(spark, tmp_path)
        stream = spark.readStream.schema("user_id long, value double").option(
            "maxFilesPerTrigger", 1
        ).parquet(feed + "/*")
        self._run_stream(
            spark, running_user_totals(stream, engine="classic"), tmp_path, "tws_classic"
        )
        # update-mode emits a row per user per batch the user appears in;
        # the memory sink keeps every update, so reduce to the max-n row
        # per user -- the final running total must equal the batch aggregate
        final = {}
        for r in spark.sql("SELECT * FROM tws_classic").collect():
            cur = final.get(r["user_id"])
            if cur is None or r["n_events"] > cur[0]:
                final[r["user_id"]] = (r["n_events"], r["total_value"])
        want = {
            r["user_id"]: (r["n"], r["t"])
            for r in batch.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
            .collect()
        }
        assert final == want

    def test_auto_selects_classic_without_runtime(self, spark, tmp_path):
        from pgsf_spark.streaming import tws

        if tws.HAS_TWS_RUNTIME:
            pytest.skip("environment has the tws runtime; auto picks tws")
        feed, _ = self._feed(spark, tmp_path)
        stream = spark.readStream.schema("user_id long, value double").parquet(
            feed + "/*"
        )
        df = tws.running_user_totals(stream, engine="auto")
        plan = df._jdf.queryExecution().logical().toString()
        assert "WithState" in plan and "TransformWithState" not in plan, plan

    def test_tws_engine_raises_clear_error_when_unavailable(self, spark, tmp_path):
        from pgsf_spark.streaming import tws

        if tws.HAS_TWS_RUNTIME:
            pytest.skip("environment has the tws runtime")
        feed, _ = self._feed(spark, tmp_path)
        stream = spark.readStream.schema("user_id long, value double").parquet(
            feed + "/*"
        )
        with pytest.raises(RuntimeError, match="protobuf"):
            tws.running_user_totals(stream, engine="tws")

    def test_unknown_engine_rejected(self, spark, tmp_path):
        from pgsf_spark.streaming import tws

        feed, _ = self._feed(spark, tmp_path)
        stream = spark.readStream.schema("user_id long, value double").parquet(
            feed + "/*"
        )
        with pytest.raises(ValueError, match="unknown engine"):
            tws.running_user_totals(stream, engine="rocksdb")

    @pytest.mark.skipif(
        not _HAS_PROTOBUF,
        reason="ENV-GATED: transformWithState needs google.protobuf in the "
        "worker Python (not installed here); this leg activates automatically "
        "in an environment that has it",
    )
    def test_tws_engine_matches_classic(self, spark, tmp_path):
        from pgsf_spark.streaming import tws

        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", tws.ROCKSDB_PROVIDER
        )
        feed, batch = self._feed(spark, tmp_path)
        stream = spark.readStream.schema("user_id long, value double").option(
            "maxFilesPerTrigger", 1
        ).parquet(feed + "/*")
        self._run_stream(
            spark, tws.running_user_totals(stream, engine="tws"), tmp_path, "tws_real"
        )
        final = {}
        for r in spark.sql("SELECT * FROM tws_real").collect():
            cur = final.get(r["user_id"])
            if cur is None or r["n_events"] > cur[0]:
                final[r["user_id"]] = (r["n_events"], r["total_value"])
        want = {
            r["user_id"]: (r["n"], r["t"])
            for r in batch.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
            .collect()
        }
        assert final == want
