"""Structured Streaming incremental merge + windowed aggregation tests
(C1/C2/C3/C5 semantics via availableNow catch-up triggers)."""

from datetime import datetime

from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from pgsf_spark.operators.table_store import TableStore
from pgsf_spark.streaming.incremental import start_incremental_merge, windowed_event_counts

T0 = datetime(2024, 1, 1, 0, 0, 0)
T1 = datetime(2024, 1, 1, 1, 0, 0)

SCHEMA = StructType(
    [
        StructField("Id", StringType()),
        StructField("name", StringType()),
        StructField("bal", DoubleType()),
        StructField("SystemModstamp", TimestampType()),
        StructField("IsDeleted", BooleanType()),
    ]
)


class TestStreamingMerge:
    def test_feed_merges_into_store(self, spark, tmp_path):
        store = TableStore(spark, str(tmp_path / "store"))
        snapshot = spark.createDataFrame(
            [("c1", "alice", 10.0, T0, False), ("c2", "bob", 20.0, T0, False)], SCHEMA
        )
        store.write(snapshot, "customer")

        feed = tmp_path / "feed"
        feed.mkdir()
        batch = spark.createDataFrame(
            [("c2", "bob2", 25.0, T1, False), ("c1", "alice", 10.0, T1, True), ("c3", "carol", 30.0, T1, False)],
            SCHEMA,
        )
        batch.coalesce(1).write.mode("append").parquet(str(feed))

        q = start_incremental_merge(
            spark, str(feed), SCHEMA, store, "customer", "Id", "SystemModstamp",
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)
        got = {r["Id"]: (r["name"], r["bal"]) for r in store.read("customer").collect()}
        assert got == {"c2": ("bob2", 25.0), "c3": ("carol", 30.0)}

    def test_restart_processes_only_new_files(self, spark, tmp_path):
        # checkpoint == watermark (C1): a restarted query must not re-apply
        # already-consumed files, and must pick up new ones.
        store = TableStore(spark, str(tmp_path / "store"))
        store.write(spark.createDataFrame([("c1", "alice", 10.0, T0, False)], SCHEMA), "customer")
        feed = tmp_path / "feed"
        feed.mkdir()
        ckpt = str(tmp_path / "ckpt")

        spark.createDataFrame([("c2", "bob", 20.0, T1, False)], SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(feed))
        q = start_incremental_merge(
            spark, str(feed), SCHEMA, store, "customer", "Id", "SystemModstamp", ckpt
        )
        q.awaitTermination(120)
        assert store.read("customer").count() == 2

        spark.createDataFrame([("c3", "carol", 30.0, T1, False)], SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(feed))
        q2 = start_incremental_merge(
            spark, str(feed), SCHEMA, store, "customer", "Id", "SystemModstamp", ckpt
        )
        q2.awaitTermination(120)
        got = {r["Id"] for r in store.read("customer").collect()}
        assert got == {"c1", "c2", "c3"}


class TestWindowedCounts:
    def test_batch_equivalence(self, spark):
        rows = [
            (1, datetime(2024, 1, 1, 0, 10), "click", 1.0),
            (2, datetime(2024, 1, 1, 0, 50), "click", 2.0),
            (3, datetime(2024, 1, 1, 1, 10), "view", 3.0),
        ]
        df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string, value double")
        out = {(r["window_start"], r["event_type"]): r["n"] for r in windowed_event_counts(df).collect()}
        assert out == {("2024-01-01 00:00:00", "click"): 2, ("2024-01-01 01:00:00", "view"): 1}

    def test_streaming_with_watermark(self, spark, tmp_path):
        feed = tmp_path / "ev"
        feed.mkdir()
        rows = [
            (1, datetime(2024, 1, 1, 0, 10), "click", 1.0),
            (2, datetime(2024, 1, 1, 0, 20), "click", 2.0),
        ]
        schema = "event_id long, ts timestamp, event_type string, value double"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(str(feed))
        stream = spark.readStream.schema(
            spark.createDataFrame([], schema).schema
        ).parquet(str(feed))
        agg = windowed_event_counts(stream)
        q = (
            agg.writeStream.format("memory")
            .queryName("wincounts")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {r["window_start"]: r["n"] for r in spark.sql("SELECT * FROM wincounts").collect()}
        assert got == {"2024-01-01 00:00:00": 2}


class TestStreamingDedup:
    def test_drop_duplicates_with_watermark(self, spark, tmp_path):
        # re-delivered event ids within the watermark window are dropped
        from datetime import datetime

        feed = tmp_path / "dupfeed"
        feed.mkdir()
        schema = "event_id long, ts timestamp, value double"
        rows = [
            (1, datetime(2024, 1, 1, 0, 0), 1.0),
            (1, datetime(2024, 1, 1, 0, 0), 1.0),  # duplicate delivery
            (2, datetime(2024, 1, 1, 0, 5), 2.0),
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(str(feed))
        stream = spark.readStream.schema(spark.createDataFrame([], schema).schema).parquet(str(feed))
        deduped = stream.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
        q = (
            deduped.writeStream.format("memory")
            .queryName("dedup_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(r["event_id"] for r in spark.sql("SELECT * FROM dedup_stream").collect())
        assert got == [1, 2]


class TestStreamStaticEnrich:
    def test_batch_parity(self, spark):
        from pgsf_spark.streaming.enrich import stream_static_enrich

        ev = spark.createDataFrame([(1, 5.0), (3, 1.0)], "user_id long, value double")
        dim = spark.createDataFrame([(1, "GOLD")], "user_id long, segment string")
        rows = {
            (r["user_id"], r["segment"])
            for r in stream_static_enrich(ev, dim, "user_id", ["segment"]).collect()
        }
        assert rows == {(1, "GOLD"), (3, None)}


class TestStreamStreamIntervalJoin:
    def test_joins_within_window_across_batches(self, spark, tmp_path):
        from datetime import datetime

        from pgsf_spark.streaming.interval_join import click_purchase_interval_join

        t = lambda m: datetime(2024, 1, 1, 0, m, 0)
        eschema = "user_id long, event_id long, ts timestamp"
        cdir, pdir = tmp_path / "clicks", tmp_path / "purchases"
        cdir.mkdir()
        pdir.mkdir()
        # clicks: u1 at :00 and :40, u2 at :05; purchases: u1 at :20 (joins
        # the :00 click), u1 at :45 (joins the :40 click), u2 at :50 (its
        # :05 click is outside the 30-minute window -> no row)
        spark.createDataFrame(
            [(1, 101, t(0)), (2, 102, t(5))], eschema
        ).coalesce(1).write.mode("append").parquet(str(cdir))
        spark.createDataFrame([(1, 103, t(40))], eschema).coalesce(1).write.mode(
            "append"
        ).parquet(str(cdir))
        spark.createDataFrame(
            [(1, 201, t(20)), (1, 202, t(45)), (2, 203, t(50))], eschema
        ).coalesce(1).write.mode("append").parquet(str(pdir))

        schema = spark.createDataFrame([], eschema).schema
        cs = spark.readStream.schema(schema).parquet(str(cdir))
        ps = spark.readStream.schema(schema).parquet(str(pdir))
        q = (
            click_purchase_interval_join(cs, ps)
            .writeStream.format("memory")
            .queryName("ssij")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r["purchase_id"], r["click_id"])
            for r in spark.sql("SELECT * FROM ssij").collect()
        }
        assert got == {(201, 101), (202, 103)}

    def test_batch_face_matches_oracle_twin(self, spark):
        # the same predicate on static frames must reproduce the oracle-
        # gated batch twin's pairing on a small known input
        from datetime import datetime

        from pgsf_spark.streaming.interval_join import click_purchase_interval_join

        t = lambda m: datetime(2024, 1, 1, 0, m, 0)
        eschema = "user_id long, event_id long, ts timestamp"
        clicks = spark.createDataFrame([(7, 1, t(0)), (7, 2, t(29))], eschema)
        purchases = spark.createDataFrame([(7, 9, t(30))], eschema)
        got = {
            (r["purchase_id"], r["click_id"])
            for r in click_purchase_interval_join(clicks, purchases).collect()
        }
        assert got == {(9, 1), (9, 2)}  # :00 click exactly at the window edge
