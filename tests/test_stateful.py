"""applyInPandasWithState: state must carry across micro-batches."""


class TestSessionGapStream:
    def test_sessions_close_on_gap_and_timeout(self, spark, tmp_path):
        from datetime import datetime

        from pgsf_spark.streaming.stateful import session_gap_stream

        feed = tmp_path / "sfeed"
        feed.mkdir()
        schema = "user_id long, ts timestamp, value double"

        def t(h, m=0):
            return datetime(2024, 1, 1, h, m)

        # batch 1: user 1 has two sessions separated by a >30min gap; the
        # second session stays OPEN at end of batch.
        spark.createDataFrame(
            [(1, t(1, 0), 1.0), (1, t(1, 10), 2.0), (1, t(2, 30), 4.0)], schema
        ).coalesce(1).write.mode("append").parquet(str(feed))
        # batch 2: a much later event for user 2 pushes the watermark past
        # user 1's open-session timeout -> session 2 closes via hasTimedOut.
        spark.createDataFrame([(2, t(9, 0), 9.0)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(feed))

        stream = (
            spark.readStream.schema(spark.createDataFrame([], schema).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed))
        )
        q = (
            session_gap_stream(stream, watermark="10 minutes")
            .writeStream.format("memory")
            .queryName("sessions")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        rows = spark.sql("SELECT * FROM sessions ORDER BY user_id, session_start").collect()
        got = [
            (r["user_id"], r["session_start"], r["session_end"], r["n_events"], r["total_value"])
            for r in rows
        ]
        s1 = t(1, 0).timestamp()
        e1 = t(1, 10).timestamp()
        s2 = t(2, 30).timestamp()
        # session 1 closed by the in-stream gap; session 2 closed by the
        # event-time timeout when batch 2's watermark passed 02:30 + 30min.
        assert got == [(1, s1, e1, 2, 3.0), (1, s2, s2, 1, 4.0)]

    def test_batch2_events_extend_open_session(self, spark, tmp_path):
        from datetime import datetime

        from pgsf_spark.streaming.stateful import session_gap_stream

        feed = tmp_path / "sfeed2"
        feed.mkdir()
        schema = "user_id long, ts timestamp, value double"

        def t(h, m=0):
            return datetime(2024, 1, 1, h, m)

        spark.createDataFrame([(7, t(1, 0), 1.0)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(feed))
        # within the gap: extends the open session across the batch boundary;
        # the trailing far-future event closes it by timeout.
        spark.createDataFrame([(7, t(1, 20), 2.0), (8, t(9, 0), 0.0)], schema).coalesce(
            1
        ).write.mode("append").parquet(str(feed))
        spark.createDataFrame([(8, t(18, 0), 0.0)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(feed))

        stream = (
            spark.readStream.schema(spark.createDataFrame([], schema).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed))
        )
        q = (
            session_gap_stream(stream, watermark="10 minutes")
            .writeStream.format("memory")
            .queryName("sessions2")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        rows = spark.sql("SELECT * FROM sessions2 WHERE user_id = 7").collect()
        assert len(rows) == 1
        r = rows[0]
        # one session spanning both batches: state carried 01:00 -> 01:20
        assert (r["n_events"], r["total_value"]) == (2, 3.0)
        assert r["session_start"] == t(1, 0).timestamp()
        assert r["session_end"] == t(1, 20).timestamp()
