"""Streaming faces (streaming/faces.py): the engine's measured watermark
semantics, which the streaming oracles encode, and the replay order of the
bounded file feed."""

from pyspark.sql import functions as F


class TestStreamFaceSemantics:
    def test_watermark_semantics_canary(self, spark, tmp_path):
        # The streaming oracles in registry.py encode MEASURED engine
        # semantics: (a) the late-row filter for batch k uses the watermark
        # one batch older (max ts over batches < k-1, minus delay), (b) the
        # drop predicate is on the WINDOW END, not the row timestamp, and
        # (c) append-mode windows emit iff end <= final watermark. A
        # PySpark upgrade changing any of these must fail HERE, loudly,
        # not as a silent oracle skew.
        import time
        from datetime import datetime

        from pyspark.sql import functions as F

        feed = tmp_path / "wmfeed"
        feed.mkdir()
        schema = "k long, ts timestamp, v double"

        def t(h, m=0):
            return datetime(2024, 1, 1, h, m)

        batches = [
            [(1, t(5, 0), 1.0)],  # wm after b0 = 4:30
            [(2, t(5, 5), 1.0)],  # b1's late filter still uses b-(-1)=0
            # b2's late filter uses wm during b1 = 4:30:
            #   A ts=4:10, window end 5:00 > 4:30 -> KEPT (window-end rule;
            #     a ts-based rule would drop it: 4:10 < 4:30)
            #   B ts=3:50, window end 4:00 <= 4:30 -> DROPPED
            [(3, t(4, 10), 10.0), (4, t(3, 50), 100.0)],
            [(5, t(23, 0), 0.0)],  # sentinel: final wm 22:30
        ]
        for pdf in batches:
            spark.createDataFrame(pdf, schema).coalesce(1).write.mode(
                "append"
            ).parquet(str(feed))
            time.sleep(1.05)
        stream = (
            spark.readStream.schema(spark.createDataFrame([], schema).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed))
        )
        agg = (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
            .select(F.date_format("w.start", "HH:mm").alias("ws"), "n", "sv")
        )
        out = str(tmp_path / "wmout")
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "wmck"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        got = {r["ws"]: (r["n"], r["sv"]) for r in spark.read.parquet(out).collect()}
        assert got == {
            "04:00": (1, 10.0),  # late-but-window-open row A kept
            "05:00": (2, 2.0),
            # B dropped (no 03:00 window); sentinel window past final wm
        }

    def test_stream_feed_replays_in_mtime_order(self, spark, tmp_path):
        from pgsf_spark.streaming.faces import _tiles, _write_feed

        df = spark.range(30).select(
            F.col("id").alias("event_id"),
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
        )
        tiles = _tiles(
            df.withColumn("ts", F.expr("ts + make_interval(0,0,0,0,0,0,event_id)")),
            ["ts", "event_id"],
        )
        feed = str(tmp_path / "feed")
        _write_feed(tiles, feed)
        import glob
        import os

        files = sorted(glob.glob(os.path.join(feed, "*.parquet")))
        assert len(files) == 3
        mtimes = [os.path.getmtime(f) for f in files]
        assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
        # tiles partition the input in ts order: batch-000 holds the oldest
        ids0 = {r["event_id"] for r in spark.read.parquet(files[0]).collect()}
        assert ids0 == set(range(10))
