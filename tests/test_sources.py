"""Entity source + pgsf CSV dialect tests (S3/S4/S9, P1/P3/P6, F1/F2/F5)."""

import os
from datetime import datetime
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from pgsf_spark.sources.csv_io import read_pgsf_csv, write_pgsf_csv
from pgsf_spark.sources.entity import EntitySource

from tests.conftest import SF_DIR

T0 = datetime(2024, 1, 1, 0, 0, 0)


@pytest.fixture(scope="module")
def source(spark):
    return EntitySource(spark, SF_DIR)


class TestEntitySource:
    def test_projection_pushdown(self, spark, source):
        df = source.load("customer", fields=["c_custkey", "c_name"])
        assert df.columns == ["c_custkey", "c_name"]
        # column pruning must reach the parquet scan (SURVEY §4)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ReadSchema: struct<c_custkey:bigint,c_name:string>" in plan

    def test_filter_pushdown(self, spark, source):
        df = source.load("customer", where="c_custkey < 10")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [IsNotNull(c_custkey), LessThan(c_custkey,10)]" in plan
        assert df.count() == df.filter("c_custkey < 10").count()

    def test_limit(self, source):
        assert source.load("orders", limit=7).count() == 7

    def test_count_only(self, source):
        assert source.count("orders") == 1500

    def test_include_deleted_soft_delete_filter(self, spark, tmp_path):
        df = spark.createDataFrame(
            [("a", False), ("b", True)], "Id string, IsDeleted boolean"
        )
        df.write.parquet(str(tmp_path / "t.parquet"))
        src = EntitySource(spark, str(tmp_path))
        assert src.load("t").count() == 1  # REST `query` hides deleted
        assert src.load("t", include_deleted=True).count() == 2  # queryAll

    def test_incremental_strictly_greater_second_truncation(self, spark, tmp_path):
        # P4: watermark truncated to seconds; strictly >
        rows = [
            ("a", datetime(2024, 1, 1, 0, 0, 10)),
            ("b", datetime(2024, 1, 1, 0, 0, 11)),
        ]
        spark.createDataFrame(rows, "Id string, SystemModstamp timestamp").write.parquet(
            str(tmp_path / "t.parquet")
        )
        src = EntitySource(spark, str(tmp_path))
        # watermark 00:00:10.900 -> truncates to 00:00:10 -> both the .10 row
        # (==) excluded, the .11 row included
        got = {r["Id"] for r in src.incremental("t", "SystemModstamp", datetime(2024, 1, 1, 0, 0, 10, 900000)).collect()}
        assert got == {"b"}


class TestCsvDialect:
    def test_round_trip_fidelity(self, spark, tmp_path):
        # FIXTURES.md §5: quotes, commas, newlines, t/f, NULL vs empty, NUL strip
        df = spark.createDataFrame(
            [
                ("a", 'say "hi", ok', True, datetime(2019, 11, 18, 15, 28, 14), 1.5),
                ("b", "line1\nline2", False, None, None),
                ("c", "nul\x00byte", None, datetime(2024, 1, 1), 0.0),
                ("d", None, True, datetime(2024, 6, 30, 23, 59, 59), -2.25),
            ],
            "Id string, txt string, flag boolean, ts timestamp, num double",
        )
        path = str(tmp_path / "out_csv")
        write_pgsf_csv(df, path)
        back = read_pgsf_csv(spark, path, df.schema)
        got = {r["Id"]: r for r in back.collect()}
        assert got["a"]["txt"] == 'say "hi", ok'
        assert got["b"]["txt"] == "line1\nline2"
        assert got["c"]["txt"] == "nulbyte"  # NUL stripped (F1)
        assert got["d"]["txt"] is None  # empty == NULL (FORCE_NULL)
        assert got["a"]["flag"] is True and got["b"]["flag"] is False and got["c"]["flag"] is None
        assert got["a"]["ts"] == datetime(2019, 11, 18, 15, 28, 14)
        assert got["b"]["ts"] is None
        assert got["d"]["num"] == -2.25

    def test_boolean_rendered_t_f(self, spark, tmp_path):
        # the landed file must literally contain t/f (query_poll_table.py:46-47)
        df = spark.createDataFrame([("a", True), ("b", False)], "Id string, flag boolean")
        path = str(tmp_path / "bool_csv")
        write_pgsf_csv(df, path)
        import glob

        # NB: Spark quotes minimally (RFC4180); under COPY+FORCE_NULL this is
        # semantically identical to the reference's always-quoted strings.
        text = "".join(open(f).read() for f in glob.glob(path + "/part-*")).replace("\r", "")
        assert "a,t\n" in text and "b,f\n" in text

    def test_datetime_rendered_ms_z(self, spark, tmp_path):
        # 2019-11-18T15:28:14.000Z rendering (query_poll_table.py:44-45)
        df = spark.createDataFrame([("a", datetime(2019, 11, 18, 15, 28, 14))], "Id string, ts timestamp")
        path = str(tmp_path / "dt_csv")
        write_pgsf_csv(df, path)
        import glob

        text = "".join(open(f).read() for f in glob.glob(path + "/part-*"))
        assert "2019-11-18T15:28:14.000Z" in text


class TestCdcIdScans:
    def test_updated_and_deleted_ids(self, spark, tmp_path):
        from datetime import datetime

        rows = [
            ("a", datetime(2024, 1, 1), False),
            ("b", datetime(2024, 1, 2), False),
            ("c", datetime(2024, 1, 3), True),
            ("d", datetime(2024, 1, 9), True),
        ]
        spark.createDataFrame(rows, "Id string, SystemModstamp timestamp, IsDeleted boolean").write.parquet(
            str(tmp_path / "t.parquet")
        )
        src = EntitySource(spark, str(tmp_path))
        upd = {r["Id"] for r in src.updated_ids("t", datetime(2024, 1, 2), datetime(2024, 1, 5)).collect()}
        assert upd == {"b", "c"}  # window inclusive, deleted rows included
        dele = {r["Id"] for r in src.deleted_ids("t", datetime(2024, 1, 1), datetime(2024, 1, 5)).collect()}
        assert dele == {"c"}


class TestFixedWidth:
    def test_roundtrip_and_alignment(self, spark, tmp_path):
        from pgsf_spark.sources.fixedwidth_io import FwField, read_fixed_width, write_fixed_width

        df = spark.createDataFrame(
            [(1, "alice", -250), (42, "bob", 9)], "k long, name string, cents long"
        )
        fields = [
            FwField("k", 6, "bigint", "right"),
            FwField("name", 10, "string", "left"),
            FwField("cents", 8, "bigint", "right"),
        ]
        p = str(tmp_path / "fw")
        write_fixed_width(df, fields, p)
        # raw layout: right-aligned numerics, left-aligned text, fixed offsets
        lines = {r["value"] for r in spark.read.text(p).collect()}
        assert "     1" + "alice     " + "    -250" in lines
        assert "    42" + "bob       " + "       9" in lines
        back = {(r["k"], r["name"], r["cents"]) for r in read_fixed_width(spark, p, fields).collect()}
        assert back == {(1, "alice", -250), (42, "bob", 9)}

    def test_overflow_raises(self, spark, tmp_path):
        import pytest as _pytest

        from pgsf_spark.sources.fixedwidth_io import FwField, write_fixed_width

        df = spark.createDataFrame([("toolongvalue",)], "name string")
        with _pytest.raises(Exception, match="fixed-width overflow"):
            write_fixed_width(df, [FwField("name", 4)], str(tmp_path / "fw2"))

    def test_null_roundtrip(self, spark, tmp_path):
        # NULL encodes as all-spaces and reads back as NULL; the rest of the
        # record survives (ADVICE r3: concat() previously nulled the line)
        from pgsf_spark.sources.fixedwidth_io import FwField, read_fixed_width, write_fixed_width

        df = spark.createDataFrame(
            [(1, None, None), (2, "bob", 7)], "k long, name string, cents long"
        )
        fields = [
            FwField("k", 4, "bigint", "right"),
            FwField("name", 6, "string", "left"),
            FwField("cents", 6, "bigint", "right"),
        ]
        p = str(tmp_path / "fwn")
        write_fixed_width(df, fields, p)
        lines = {r["value"] for r in spark.read.text(p).collect()}
        assert "   1" + "      " + "      " in lines
        back = {tuple(r) for r in read_fixed_width(spark, p, fields).collect()}
        assert back == {(1, None, None), (2, "bob", 7)}

    def test_alignment_side_spaces_survive(self, spark, tmp_path):
        # only the padding side is trimmed on read: leading spaces of a
        # left-aligned value are significant and roundtrip intact
        from pgsf_spark.sources.fixedwidth_io import FwField, read_fixed_width, write_fixed_width

        df = spark.createDataFrame([("  ind",)], "name string")
        fields = [FwField("name", 8, "string", "left")]
        p = str(tmp_path / "fws")
        write_fixed_width(df, fields, p)
        assert [r["name"] for r in read_fixed_width(spark, p, fields).collect()] == ["  ind"]


def _jobs_in(spark, fn):
    """(fn(), number of Spark jobs fn started), from a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


class TestLandingLedger:
    """The ledger's schema is Spark's own inference, read from footers on the
    driver with no job; the poll reads only the files past the watermark."""

    CASES = {
        "timestamp_utc": lambda pa: pa.array([datetime(2024, 1, 1, 5)], pa.timestamp("us", tz="UTC")),
        "timestamp_ntz": lambda pa: pa.array([datetime(2024, 1, 1, 5)], pa.timestamp("us")),
        "nanos_as_long": lambda pa: pa.array([datetime(2024, 1, 1, 5)], pa.timestamp("ns")),
        "decimal": lambda pa: pa.array([Decimal("12.345")], pa.decimal128(12, 3)),
        "int32": lambda pa: pa.array([7], pa.int32()),
        "binary": lambda pa: pa.array([b"\x00\x01"], pa.binary()),
    }

    @pytest.mark.parametrize("case", sorted(CASES))
    def test_schema_equals_spark_inference(self, spark, tmp_path, case):
        import pyarrow as pa
        import pyarrow.parquet as pq

        land = tmp_path / "t"
        land.mkdir()
        pq.write_table(pa.table({"Id": ["a"], "v": self.CASES[case](pa)}), str(land / "part-0.parquet"))
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
        df, jobs = _jobs_in(spark, lambda: EntitySource(spark, str(tmp_path)).load("t"))
        assert df.schema == spark.read.parquet(str(land)).schema
        assert jobs == 0
        assert df.collect() == spark.read.parquet(str(land)).collect()

    def test_spark_written_file_uses_its_row_metadata(self, spark, tmp_path):
        spark.createDataFrame(
            [("a", T0, Decimal("1.50"))], "Id string, SystemModstamp timestamp_ntz, bal decimal(10,2)"
        ).write.parquet(str(tmp_path / "t"))
        df, jobs = _jobs_in(spark, lambda: EntitySource(spark, str(tmp_path)).load("t"))
        assert df.schema == spark.read.parquet(str(tmp_path / "t")).schema
        assert jobs == 0

    def test_added_column_merges_like_merge_schema(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        land = tmp_path / "t"
        land.mkdir()
        ts = pa.timestamp("us", tz="UTC")
        pq.write_table(
            pa.table({"Id": ["a"], "SystemModstamp": pa.array([T0], ts)}), str(land / "a.parquet")
        )
        pq.write_table(
            pa.table({"Id": ["b"], "extra": pa.array([1], pa.int32()), "SystemModstamp": pa.array([T0], ts)}),
            str(land / "b.parquet"),
        )
        pq.write_table(
            pa.table({"late": ["x"], "Id": ["c"], "SystemModstamp": pa.array([T0], ts)}), str(land / "c.parquet")
        )
        src = EntitySource(spark, str(tmp_path))
        want = spark.read.option("mergeSchema", "true").parquet(str(land)).schema
        assert src.load("t").schema == want
        assert [f.name for f in want] == ["Id", "SystemModstamp", "extra", "late"]
        assert sorted(map(tuple, src.load("t").collect())) == sorted(
            map(tuple, spark.read.option("mergeSchema", "true").parquet(str(land)).collect())
        )

    @pytest.mark.parametrize("ts_type", ["timestamp", "timestamp_ntz"])
    @pytest.mark.parametrize(
        "zones", [("UTC", "UTC"), ("America/Los_Angeles", "Asia/Kolkata"), ("Asia/Tokyo", "America/New_York")]
    )
    def test_poll_prunes_only_files_the_predicate_rejects(self, spark, tmp_path, monkeypatch, ts_type, zones):
        """Off-UTC session zones and process zones, both timestamp types:
        the poll returns what the predicate returns over every file, and
        prunes files when column and watermark literal share a type."""
        import time
        from datetime import timedelta

        import pyarrow as pa
        import pyarrow.parquet as pq

        land = tmp_path / "t"
        land.mkdir()
        arrow_ts = pa.timestamp("us", tz="UTC") if ts_type == "timestamp" else pa.timestamp("us")
        for k in range(24):  # one file per 40 minutes, two rows each
            stamps = [T0 + timedelta(minutes=40 * k), T0 + timedelta(minutes=40 * k + 17, microseconds=3)]
            pq.write_table(
                pa.table({"Id": [f"{k}a", f"{k}b"], "SystemModstamp": pa.array(stamps, arrow_ts)}),
                str(land / f"f{k:03d}.parquet"),
            )
        prev = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", zones[0])
        monkeypatch.setenv("TZ", zones[1])
        time.tzset()
        try:
            src = EntitySource(spark, str(tmp_path))
            for wm in (T0 - timedelta(days=1), T0 + timedelta(hours=6, seconds=59), T0 + timedelta(days=2)):
                poll = src.poll("t", "SystemModstamp", wm)
                want = spark.read.parquet(str(land)).filter(F.col("SystemModstamp") > F.lit(wm.replace(microsecond=0)))
                assert sorted(r["Id"] for r in poll.df.collect()) == sorted(r["Id"] for r in want.collect())
                assert len(poll.files) + poll.skipped == 24
                if ts_type == "timestamp" and wm > T0:
                    assert poll.skipped > 0
        finally:
            spark.conf.set("spark.sql.session.timeZone", prev)
            monkeypatch.undo()
            time.tzset()

    def test_poll_of_a_partitioned_landing_zone_keeps_partition_columns(self, spark, tmp_path):
        from datetime import timedelta

        rows = [(f"r{i}", T0 + timedelta(hours=i), i % 2) for i in range(6)]
        spark.createDataFrame(rows, "Id string, SystemModstamp timestamp, p int").write.partitionBy(
            "p"
        ).parquet(str(tmp_path / "t"))
        poll = EntitySource(spark, str(tmp_path)).poll("t", "SystemModstamp", T0 + timedelta(hours=2))
        assert sorted((r["Id"], r["p"]) for r in poll.df.collect()) == [("r3", 1), ("r4", 0), ("r5", 1)]
        assert poll.files and all(schema.names == ["Id", "SystemModstamp", "p"] for schema, _ in poll.files)

    def test_retyped_file_named_by_table(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pgsf_spark.operators.merge import SchemaDriftError

        land = tmp_path / "t"
        land.mkdir()
        pq.write_table(pa.table({"Id": ["a"], "bal": [1.0]}), str(land / "a.parquet"))
        pq.write_table(pa.table({"Id": ["b"], "bal": ["1.0"]}), str(land / "b.parquet"))
        with pytest.raises(SchemaDriftError, match="t: landing files disagree, column 'bal': double vs string"):
            EntitySource(spark, str(tmp_path)).load("t")

    def test_integrity_verdict_read_once_per_file_version(self, spark, tmp_path, monkeypatch):
        from pgsf_spark.sources import entity

        land = tmp_path / "t"
        spark.range(30).repartition(3).write.parquet(str(land))
        reads = []
        landed_file = entity._landed_file
        monkeypatch.setattr(entity, "_landed_file", lambda fp: reads.append(fp) or landed_file(fp))
        src = EntitySource(spark, str(tmp_path), integrity_check=True)
        assert src.count("t") == 30
        n = len(reads)
        assert n >= 3
        assert src.count("t") == 30
        assert len(reads) == n  # nothing re-read
        victim = sorted(reads)[0]
        with open(victim, "r+b") as fh:
            fh.truncate(30)
        with pytest.raises(ValueError, match=os.path.basename(victim)):
            src.load("t")
        assert reads[n:] == [victim]  # only the rewritten file

    def test_unreachable_file_is_read_again(self, spark, tmp_path, monkeypatch):
        """A footer read that fails to reach the file (an I/O or access
        error, not bad bytes) is not kept: the next poll reads it again."""
        from pgsf_spark.sources import entity
        from pgsf_spark.sources.integrity import ENV_REASON_PREFIX

        spark.range(4).write.parquet(str(tmp_path / "t"))
        real = entity.read_footer
        calls = []

        def flaky(fp):
            calls.append(fp)
            return (None, f"{ENV_REASON_PREFIX}PermissionError: denied") if len(calls) == 1 else real(fp)

        monkeypatch.setattr(entity, "read_footer", flaky)
        src = EntitySource(spark, str(tmp_path), integrity_check=True)
        with pytest.raises(ValueError, match="PermissionError"):
            src.count("t")
        n = len(calls)
        assert src.count("t") == 4
        assert len(calls) == n + 1  # only the unreached file is read again
        assert EntitySource(spark, str(tmp_path), integrity_check=True).count("t") == 4
        assert len(calls) == n + 1  # the kept ledger holds its good verdict

    def test_empty_poll_cost_does_not_grow_with_landing_history(self, spark, tmp_path, monkeypatch):
        """A warm empty poll over 4,001 landing files does the same work as
        one over 11 -- no footer read, no Spark job, no file handed to
        Spark -- and so does the first poll of a new source (a new process)
        over the 4,001, which finds the ledger kept in the directory."""
        from datetime import timedelta

        import pyarrow as pa
        import pyarrow.parquet as pq

        from pgsf_spark.sources import entity

        def land(root, n):
            d = root / "t"
            d.mkdir(parents=True)
            for k in range(n):
                pq.write_table(
                    pa.table(
                        {
                            "Id": [f"r{k}"],
                            "SystemModstamp": pa.array([T0 + timedelta(seconds=k)], pa.timestamp("us", tz="UTC")),
                            "IsDeleted": [False],
                        }
                    ),
                    str(d / f"f{k:05d}.parquet"),
                )
            return EntitySource(spark, str(root))

        small, big = land(tmp_path / "small", 11), land(tmp_path / "big", 4001)
        wm = T0 + timedelta(days=1)
        for src in (small, big):  # fills the ledger
            src.poll("t", "SystemModstamp", wm)
        reads = []
        landed_file = entity._landed_file
        monkeypatch.setattr(entity, "_landed_file", lambda fp: reads.append(fp) or landed_file(fp))
        work = {}
        for name, src in (("11", small), ("4001", big), ("4001, new source", EntitySource(spark, str(tmp_path / "big")))):
            del reads[:]
            poll, jobs = _jobs_in(spark, lambda src=src: src.poll("t", "SystemModstamp", wm))
            assert poll.skipped == int(name.split(",")[0])
            work[name] = (len(reads), jobs, poll.df.inputFiles(), poll.files)
        assert all(w == (0, 0, [], []) for w in work.values()), work

    def test_new_source_reads_only_footers_it_has_not_seen(self, spark, tmp_path, monkeypatch):
        """The ledger kept in the landing directory carries across sources
        (processes): a new source reads the footers of added and rewritten
        files only; an unreadable ledger costs one read of every footer."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pgsf_spark.sources import entity

        land = tmp_path / "t"
        land.mkdir()

        def write(name, ids):
            ts = pa.array([T0] * len(ids), pa.timestamp("us", tz="UTC"))
            pq.write_table(pa.table({"Id": ids, "SystemModstamp": ts}), str(land / name))

        for k in range(3):
            write(f"f{k}.parquet", [f"r{k}"])
        assert EntitySource(spark, str(tmp_path)).count("t") == 3
        assert (land / entity._LEDGER_NAME).exists()
        reads = []
        landed_file = entity._landed_file
        monkeypatch.setattr(entity, "_landed_file", lambda fp: reads.append(os.path.basename(fp)) or landed_file(fp))
        assert EntitySource(spark, str(tmp_path)).count("t") == 3
        assert reads == []
        write("f3.parquet", ["r3"])
        write("f0.parquet", ["r0", "r0b"])  # rewritten in place
        assert EntitySource(spark, str(tmp_path)).count("t") == 5
        assert sorted(reads) == ["f0.parquet", "f3.parquet"]
        (land / entity._LEDGER_NAME).write_text("{not json")
        del reads[:]
        assert EntitySource(spark, str(tmp_path)).count("t") == 5
        assert sorted(reads) == [f"f{k}.parquet" for k in range(4)]
        assert spark.read.parquet(str(land)).count() == 5  # Spark skips the ledger file
