"""Python DataSource reads (sources/pyds.py): the paged entity source with
typed filter pushdown (batch leg) and the streaming CDC source (exactly-once
offsets, strict-``>`` watermark boundary, microsecond-exact timestamps)."""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


class TestPythonDataSource:
    """sources/pyds.py: the paged entity source's three pushdowns, pinned
    on a purpose-built multi-row-group file."""

    @pytest.fixture(scope="class")
    def paged_file(self, spark, tmp_path_factory):
        """Documents sorted by doc_id in 100-row row groups -> 5 pages
        with disjoint doc_id stats, so range pushdown can skip pages."""
        import pyarrow.parquet as pq
        from pgsf_spark.tables import load_table

        src = (
            load_table(spark, SF_DIR, "documents")
            .select("doc_id", "source", "n_chars")
            .orderBy("doc_id")
            .toPandas()
        )
        path = str(tmp_path_factory.mktemp("pyds") / "docs.parquet")
        import pyarrow as pa

        pq.write_table(pa.Table.from_pandas(src, preserve_index=False), path,
                       row_group_size=100)
        assert pq.ParquetFile(path).metadata.num_row_groups == 5
        return path

    def _read(self, spark, path, fields="doc_id,source,n_chars"):
        from pgsf_spark.sources import pyds

        pyds.register(spark)
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        return (
            spark.read.format("entity_pages")
            .option("path", path)
            .option("fields", fields)
            .load()
        )

    def test_row_group_stats_skip_pages(self, spark, paged_file):
        df = self._read(spark, paged_file).filter(F.col("doc_id") < 50)
        # pushdown reaches partition planning: 1 of 5 pages survives
        assert df.rdd.getNumPartitions() == 1
        assert df.count() == 50

    def test_pushed_filter_is_consumed_not_post_filtered(self, spark, paged_file):
        df = self._read(spark, paged_file).filter(F.col("n_chars") > 300)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the typed predicate was fully handled by pushFilters: Spark's
        # only remaining filter is the null guard
        assert "(n_chars" not in plan.replace("isnotnull(n_chars", ""), plan

    def test_unsupported_filter_falls_back_to_spark(self, spark, paged_file):
        # != has no typed pushdown form in _OPS -> yielded back to Spark;
        # correctness must be unaffected
        df = self._read(spark, paged_file).filter(F.col("source") != "src0")
        base = self._read(spark, paged_file)
        assert df.count() == base.count() - base.filter(
            F.col("source") == "src0"
        ).count()

    def test_in_filter_pushdown_parity(self, spark, paged_file):
        df = self._read(spark, paged_file).filter(
            F.col("source").isin("src1", "src2")
        )
        got = {r["source"] for r in df.select("source").distinct().collect()}
        assert got == {"src1", "src2"}

    def test_in_filter_with_null_falls_back(self, spark, paged_file):
        # IN (.., NULL) must neither crash planning (None vs int in the
        # stats compare) nor match NULL rows -- it is yielded back to
        # Spark, whose post-filter keeps SQL three-valued semantics
        df = self._read(spark, paged_file).filter(F.col("doc_id").isin(5, None))
        rows = df.collect()
        assert {r["doc_id"] for r in rows} == {5}

    def test_column_pruning_schema(self, spark, paged_file):
        df = self._read(spark, paged_file, fields="doc_id,n_chars")
        assert df.columns == ["doc_id", "n_chars"]

    def test_float_filter_keeps_nan_rows_spark_semantics(self, spark, tmp_path):
        """Comparison filters on float/double columns are YIELDED back to
        Spark (ADVICE r10): Spark SQL orders NaN greater than every value
        (NaN > 5.0 is TRUE), while the Arrow re-filter and the parquet
        stats skip use IEEE semantics (NaN compares false, writers exclude
        NaN from min/max) -- a consumed float pushdown would silently drop
        NaN rows relative to a native read."""
        import math

        import pyarrow as pa
        import pyarrow.parquet as pq

        path = str(tmp_path / "floats.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(range(6), pa.int64()),
                    "score": pa.array(
                        [1.0, float("nan"), 3.0, float("nan"), 5.0, 7.0],
                        pa.float64(),
                    ),
                }
            ),
            path,
            row_group_size=2,  # the all-NaN middle group has no usable stats
        )
        custom = self._read(spark, path, fields="doc_id,score").filter(
            F.col("score") > 4.0
        )
        # ground truth is Spark's own comparison semantics, NOT a native
        # parquet read of this file: pyarrow writes float min/max stats
        # that EXCLUDE NaN, so native Spark's row-group pruning drops the
        # NaN-carrying groups here too -- the in-memory filter is the
        # unambiguous oracle
        mem = spark.createDataFrame(
            [(i, s) for i, s in enumerate([1.0, float("nan"), 3.0, float("nan"), 5.0, 7.0])],
            "doc_id long, score double",
        ).filter(F.col("score") > 4.0)
        got = {r["doc_id"] for r in custom.collect()}
        want = {r["doc_id"] for r in mem.collect()}
        assert got == want == {1, 3, 4, 5}  # NaN > 4.0 is TRUE in Spark SQL
        nan_scores = [r["score"] for r in custom.collect() if r["doc_id"] in (1, 3)]
        assert all(math.isnan(s) for s in nan_scores)

    def test_unsupported_type_fails_loudly(self, spark):
        from pgsf_spark.sources import pyds

        pyds.register(spark)
        with pytest.raises(Exception, match="unsupported type"):
            spark.read.format("entity_pages").option(
                "path", f"{SF_DIR}/events.parquet"  # ts: timestamp[ns]
            ).load()


class TestPythonCdcSource:
    """sources/pyds.py entity_cdc: the reference's watermark-polling sync
    (strict >, checkpoint-persisted offset) as a Python streaming source."""

    def _wave(self, data_dir, name, lo, hi, base_us=1_700_000_000_000_000):
        import pyarrow as pa
        import pyarrow.parquet as pq

        ts = [base_us + i * 1_000_000 for i in range(lo, hi)]
        t = pa.table(
            {
                "id": pa.array(range(lo, hi), pa.int64()),
                "v": pa.array([float(i) for i in range(lo, hi)], pa.float64()),
                "ts": pa.array(ts, pa.timestamp("us")),
            }
        )
        pq.write_table(t, os.path.join(data_dir, name), row_group_size=20)

    def _run(self, spark, data_dir, out, ck):
        from pgsf_spark.sources import pyds

        pyds.register_cdc(spark)
        stream = (
            spark.readStream.format("entity_cdc")
            .option("path", data_dir)
            .option("ts_field", "ts")
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(180):
            q.stop()
            raise TimeoutError("entity_cdc run did not finish in 180s")

    def test_exactly_once_across_restarts(self, spark, tmp_path):
        data = str(tmp_path / "entity")
        os.makedirs(data)
        out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
        self._wave(data, "w1.parquet", 0, 100)
        self._run(spark, data, out, ck)
        assert spark.read.parquet(out).count() == 100
        self._wave(data, "w2.parquet", 100, 150)
        self._run(spark, data, out, ck)
        df = spark.read.parquet(out)
        # second run delivered EXACTLY the 50 new rows, none re-delivered
        assert df.count() == 150
        assert df.select("id").distinct().count() == 150

    def test_strict_gt_boundary_skips_watermark_ties(self, spark, tmp_path):
        """A later wave carrying a row with ts == the committed watermark
        is NOT re-delivered -- the strict-> contract the reference's
        second-truncated watermark shares (SURVEY P4). This pins the
        documented at-least-once hazard explicitly: ties at the boundary
        are the producer's responsibility, exactly as in the reference."""
        data = str(tmp_path / "entity")
        os.makedirs(data)
        out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
        self._wave(data, "w1.parquet", 0, 10)  # max ts = base + 9s
        self._run(spark, data, out, ck)
        # wave 2: one row AT the committed watermark (id=9 duplicate ts),
        # plus genuinely newer rows
        import pyarrow as pa
        import pyarrow.parquet as pq

        base = 1_700_000_000_000_000
        t = pa.table(
            {
                "id": pa.array([999, 10, 11], pa.int64()),
                "v": pa.array([9.5, 10.0, 11.0], pa.float64()),
                "ts": pa.array(
                    [base + 9_000_000, base + 10_000_000, base + 11_000_000],
                    pa.timestamp("us"),
                ),
            }
        )
        pq.write_table(t, os.path.join(data, "w2.parquet"))
        self._run(spark, data, out, ck)
        ids = {r["id"] for r in spark.read.parquet(out).select("id").collect()}
        assert 10 in ids and 11 in ids
        assert 999 not in ids  # tie at the watermark: skipped by strict >

    def test_ts_us_is_exact_to_the_microsecond(self):
        """Float .timestamp()*1e6 rounds 1125455508104307 us down by one;
        the integer form must not -- a 1-us-low watermark permanently
        drops the row carrying a row group's max timestamp."""
        import datetime

        from pgsf_spark.sources.pyds import _ts_us

        dt = datetime.datetime(
            2005, 8, 31, 2, 31, 48, 104307, tzinfo=datetime.timezone.utc
        )
        assert _ts_us(dt) == 1_125_455_508_104_307
        assert int(dt.timestamp() * 1_000_000) == 1_125_455_508_104_306  # the bug

    def test_max_ts_row_survives_fractional_microseconds(self, spark, tmp_path):
        """End-to-end pin of the same defect: a wave whose max timestamp
        float-rounds down must still deliver ALL its rows."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        data = str(tmp_path / "entity")
        os.makedirs(data)
        out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
        ts = [1_125_455_508_104_305, 1_125_455_508_104_306, 1_125_455_508_104_307]
        t = pa.table(
            {
                "id": pa.array([1, 2, 3], pa.int64()),
                "v": pa.array([1.0, 2.0, 3.0], pa.float64()),
                "ts": pa.array(ts, pa.timestamp("us")),
            }
        )
        pq.write_table(t, os.path.join(data, "w1.parquet"))
        self._run(spark, data, out, ck)
        assert spark.read.parquet(out).count() == 3

    def test_offset_advances_without_row_group_stats(self, spark, tmp_path):
        """A writer that omits column statistics must not freeze the
        offset at initialOffset (the silent-empty failure mode ADVICE r10
        flagged): latestOffset falls back to reading the stats-less
        group's ts column, and every row is delivered."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        data = str(tmp_path / "entity")
        os.makedirs(data)
        out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
        base = 1_700_000_000_000_000
        t = pa.table(
            {
                "id": pa.array(range(10), pa.int64()),
                "v": pa.array([float(i) for i in range(10)], pa.float64()),
                "ts": pa.array(
                    [base + i * 1_000_000 for i in range(10)], pa.timestamp("us")
                ),
            }
        )
        pq.write_table(
            t, os.path.join(data, "w1.parquet"), write_statistics=False
        )
        self._run(spark, data, out, ck)
        assert spark.read.parquet(out).count() == 10

    def test_statless_fallback_reads_each_immutable_file_once(
        self, tmp_path, monkeypatch
    ):
        """ADVICE r11 (low): latestOffset runs on EVERY trigger, and the
        stats-less fallback read must not re-pay O(data) driver I/O each
        time -- part files are immutable once landed, so the per-(file,
        size, mtime, row-group) memo caps the cost at one read per file,
        ever, with new files still picked up."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pgsf_spark.sources.pyds import EntityCdcStreamReader

        data = str(tmp_path / "entity")
        os.makedirs(data)
        base = 1_700_000_000_000_000

        def statless_wave(name, lo, hi):
            t = pa.table(
                {
                    "id": pa.array(range(lo, hi), pa.int64()),
                    "ts": pa.array(
                        [base + i * 1_000_000 for i in range(lo, hi)],
                        pa.timestamp("us"),
                    ),
                }
            )
            pq.write_table(
                t, os.path.join(data, name), write_statistics=False
            )

        statless_wave("w1.parquet", 0, 10)
        reader = EntityCdcStreamReader({"path": data, "ts_field": "ts"})

        calls = []
        orig = pq.ParquetFile.read_row_group

        def spy(pf_self, *a, **k):
            calls.append(1)
            return orig(pf_self, *a, **k)

        monkeypatch.setattr(pq.ParquetFile, "read_row_group", spy)
        o1 = reader.latestOffset()
        assert o1["watermark_us"] == base + 9 * 1_000_000
        first_reads = len(calls)
        assert first_reads >= 1  # the fallback DID read the ts column
        # steady-state triggers: no new files -> ZERO further reads
        for _ in range(5):
            assert reader.latestOffset() == o1
        assert len(calls) == first_reads
        # a new landed file is read (once), the old one still is not
        statless_wave("w2.parquet", 10, 15)
        o2 = reader.latestOffset()
        assert o2["watermark_us"] == base + 14 * 1_000_000
        second_reads = len(calls) - first_reads
        assert 1 <= second_reads <= first_reads  # only w2's groups
        assert reader.latestOffset() == o2
        assert len(calls) == first_reads + second_reads
        # eviction: a file leaving the zone (retention/compaction) drops
        # its memo entries, so a weeks-long stream never grows the memo
        # beyond the zone's live files
        os.remove(os.path.join(data, "w1.parquet"))
        o3 = reader.latestOffset()
        assert o3["watermark_us"] == base + 14 * 1_000_000  # w2 still wins
        assert all(
            k[0].endswith("w2.parquet") for k in reader._statless_max_memo
        )

    def test_ts_us_round_trips_exact_microseconds_property(self):
        """Hypothesis pin of the fd276fa precision-bug class (VERDICT r10
        ask #6): for ANY epoch-microsecond value in the parquet timestamp
        range, tz-aware or naive-UTC datetime stat values round-trip
        through _ts_us to the exact integer, and integer stat values pass
        through unchanged."""
        import datetime

        from hypothesis import given, settings
        from hypothesis import strategies as st

        from pgsf_spark.sources.pyds import _ts_us

        us_range = st.integers(
            min_value=-62_135_510_400_000_000,  # year 1 + 1 day (tz headroom)
            max_value=253_402_214_399_999_999,  # year 9999 - 1 day
        )
        tz_offsets = st.integers(min_value=-14 * 60, max_value=14 * 60)

        @settings(max_examples=300, deadline=None)
        @given(us=us_range, tz_min=tz_offsets, naive=st.booleans())
        def check(us, tz_min, naive):
            epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
            dt = epoch + datetime.timedelta(microseconds=us)
            if naive:
                dt = dt.replace(tzinfo=None)  # naive stat values mean UTC
            else:
                tz = datetime.timezone(datetime.timedelta(minutes=tz_min))
                dt = dt.astimezone(tz)  # same instant, shifted wall clock
            assert _ts_us(dt) == us
            assert _ts_us(us) == us  # integer stats pass through

        check()

    def test_bad_ts_field_fails_loudly(self, spark, tmp_path):
        data = str(tmp_path / "entity")
        os.makedirs(data)
        out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
        self._wave(data, "w1.parquet", 0, 10)
        from pgsf_spark.sources import pyds

        pyds.register_cdc(spark)
        # with fields set, a mistyped ts_field passes schema() cleanly and
        # would previously sync NOTHING forever; _check_ts_field turns
        # that silent-empty loop into a first-trigger error
        stream = (
            spark.readStream.format("entity_cdc")
            .option("path", data)
            .option("fields", "id,v")
            .option("ts_field", "modstamp")  # no such column
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(Exception, match="ts_field|modstamp"):
            q.awaitTermination(120)

    def test_no_new_data_run_is_clean(self, spark, tmp_path):
        data = str(tmp_path / "entity")
        os.makedirs(data)
        out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
        self._wave(data, "w1.parquet", 0, 30)
        self._run(spark, data, out, ck)
        self._run(spark, data, out, ck)  # nothing new arrived
        assert spark.read.parquet(out).count() == 30
