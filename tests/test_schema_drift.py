"""Schema-drift ingest gate (PERF.md round-14 plan item 1, built early).

The reference's sync loop has an OPEN TODO for this exact failure
(reference query_poll_table.py:202 'detect some errors like a column
that disapeared'): source schema drift surfaces as an opaque driver
error from cron and retries forever. pgsf_spark classifies the drift
BEFORE the merge touches data (schema/drift.py), routes it by policy
(SyncRunner.sync_table), and ledgers every absorbed drift in the
published version's manifest.
"""

import json
import os
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pgsf_spark.operators.merge import SchemaDriftError, merge_upsert
from pgsf_spark.operators.table_store import PGSF_BUCKET, TableStore
from pgsf_spark.schema.drift import classify_drift
from pgsf_spark.sources.entity import EntitySource
from pgsf_spark.sync.runner import SyncRunner
from pgsf_spark.sync.state import SyncState

T0 = datetime(2024, 1, 1, 0, 0, 0)
T1 = T0 + timedelta(hours=1)

BASE_SCHEMA = "Id string, name string, bal double, SystemModstamp timestamp, IsDeleted boolean"


class TestClassifier:
    def _schemas(self, spark, a: str, b: str):
        return (
            spark.createDataFrame([], a).schema,
            spark.createDataFrame([], b).schema,
        )

    def test_no_drift(self, spark):
        t, b = self._schemas(spark, "a long, b string", "a long, b string")
        report = classify_drift(t, b)
        assert not report
        assert report.describe() == "no drift"
        assert report.manifest_entry() == {}

    def test_added_removed_retyped_classified(self, spark):
        t, b = self._schemas(
            spark, "a long, b string, c double", "a long, b int, d boolean"
        )
        report = classify_drift(t, b)
        assert report.added == (("d", "boolean"),)
        assert report.removed == (("c", "double"),)
        assert report.retyped == (("b", "string", "int"),)
        entry = report.manifest_entry()
        assert entry["added"] == [{"column": "d", "type": "boolean"}]
        assert entry["removed"] == [{"column": "c", "type": "double"}]
        assert entry["retyped"] == [{"column": "b", "from": "string", "to": "int"}]

    def test_ignore_set_excludes_internal_columns(self, spark):
        t, b = self._schemas(spark, "a long, __pgsf_bucket int", "a long, _file_order long")
        report = classify_drift(t, b, ignore={"__pgsf_bucket", "_file_order"})
        assert not report

    def test_decimal_precision_change_is_drift(self, spark):
        t, b = self._schemas(spark, "a decimal(10,2)", "a decimal(12,2)")
        report = classify_drift(t, b)
        assert report.retyped == (("a", "decimal(10,2)", "decimal(12,2)"),)


class TestMergeRetypeGuard:
    def test_retyped_column_always_raises(self, spark):
        target = spark.createDataFrame([("c1", 10.0, T0)], "Id string, bal double, ts timestamp")
        changes = spark.createDataFrame([("c1", "11", T1)], "Id string, bal string, ts timestamp")
        with pytest.raises(SchemaDriftError, match="retyped"):
            merge_upsert(target, changes, pk="Id", ts_field="ts")

    def test_silent_widening_coercion_is_blocked_too(self, spark):
        # int -> bigint would union without error (Spark coerces) -- the
        # guard must still fire: a type change under the replica's
        # readers is an operator decision, never an implicit cast
        target = spark.createDataFrame([("c1", 1, T0)], "Id string, n int, ts timestamp")
        changes = spark.createDataFrame([("c1", 2, T1)], "Id string, n long, ts timestamp")
        with pytest.raises(SchemaDriftError, match="retyped"):
            merge_upsert(target, changes, pk="Id", ts_field="ts")


@pytest.fixture()
def env(spark, tmp_path):
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    snapshot = spark.createDataFrame(
        [
            ("c1", "alice", 10.0, T0, False),
            ("c2", "bob", 20.0, T0, False),
        ],
        BASE_SCHEMA,
    )
    snapshot.write.parquet(str(src_dir / "customer.parquet"))
    source = EntitySource(spark, str(src_dir))
    store = TableStore(spark, str(tmp_path / "store"))
    state = SyncState(str(tmp_path / "sync.json"))
    return spark, source, store, state, src_dir


def _drift_source(spark, src_dir, schema: str, rows):
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        str(src_dir / "customer.parquet")
    )


class TestSyncDriftRouting:
    """End-to-end: snapshot, then a drifted incremental batch."""

    def _boot(self, env, **runner_kw):
        spark, source, store, state, src_dir = env
        runner = SyncRunner(source, store, state, **runner_kw)
        runner.snapshot_load("customer")
        # rewind the watermark to T0 so the next poll sees the T1 batch
        state.release("customer", syncuntil=T0, touch_refresh=False)
        return spark, source, store, state, src_dir, runner

    def test_added_column_widens_and_ledgers(self, env):
        spark, source, store, state, src_dir, runner = self._boot(env)
        _drift_source(
            spark,
            src_dir,
            "Id string, name string, bal double, tier string, SystemModstamp timestamp, IsDeleted boolean",
            [("c1", "alice", 11.0, "gold", T1, False)],
        )
        out = runner.sync_table("customer")
        assert out["rows"] == 2
        got = {r["Id"]: r for r in store.read("customer").collect()}
        assert got["c1"]["tier"] == "gold"
        assert got["c2"]["tier"] is None  # pre-drift rows widen with NULL
        drift = store.manifest("customer").get("schema_drift")
        assert drift == {"added": [{"column": "tier", "type": "string"}]}

    def test_removed_column_fails_loudly_by_default(self, env):
        spark, source, store, state, src_dir, runner = self._boot(env)
        _drift_source(
            spark,
            src_dir,
            "Id string, name string, SystemModstamp timestamp, IsDeleted boolean",
            [("c1", "alice2", T1, False)],
        )
        before = state.get("customer").syncuntil_dt()
        with pytest.raises(SchemaDriftError, match="removed.*bal"):
            runner.sync_table("customer")
        row = state.get("customer")
        assert row.status == "ready"  # claim released for retry
        assert row.syncuntil_dt() == before  # watermark never advanced
        # the replica is untouched: still 2 rows with bal intact
        got = {r["Id"]: r["bal"] for r in store.read("customer").collect()}
        assert got == {"c1": 10.0, "c2": 20.0}

    def test_removed_column_ledgered_under_allow_removed(self, env):
        spark, source, store, state, src_dir, runner0 = self._boot(env)
        runner = SyncRunner(source, store, state, drift_policy="allow-removed")
        _drift_source(
            spark,
            src_dir,
            "Id string, name string, SystemModstamp timestamp, IsDeleted boolean",
            [("c1", "alice2", T1, False)],
        )
        out = runner.sync_table("customer")
        assert out["rows"] == 2
        got = {r["Id"]: r for r in store.read("customer").collect()}
        assert got["c1"]["bal"] is None  # updated row nulls the dropped col
        assert got["c2"]["bal"] == 20.0  # untouched row keeps its value
        drift = store.manifest("customer").get("schema_drift")
        assert drift == {"removed": [{"column": "bal", "type": "double"}]}

    def test_retyped_column_fails_under_every_policy(self, env):
        spark, source, store, state, src_dir, _ = self._boot(env)
        _drift_source(
            spark,
            src_dir,
            "Id string, name string, bal string, SystemModstamp timestamp, IsDeleted boolean",
            [("c1", "alice2", "11.0", T1, False)],
        )
        for policy in ("strict", "widen", "allow-removed"):
            runner = SyncRunner(
                EntitySource(spark, str(src_dir)), store, state, drift_policy=policy
            )
            with pytest.raises(SchemaDriftError, match="retyped.*bal"):
                runner.sync_table("customer")
            assert state.get("customer").status == "ready"

    def test_strict_policy_rejects_additions_too(self, env):
        spark, source, store, state, src_dir, _ = self._boot(env)
        runner = SyncRunner(source, store, state, drift_policy="strict")
        _drift_source(
            spark,
            src_dir,
            "Id string, name string, bal double, tier string, SystemModstamp timestamp, IsDeleted boolean",
            [("c1", "alice2", 11.0, "gold", T1, False)],
        )
        with pytest.raises(SchemaDriftError, match="added.*tier"):
            runner.sync_table("customer")

    def test_invalid_policy_rejected_at_construction(self, env):
        spark, source, store, state, _ = env
        with pytest.raises(ValueError, match="drift_policy"):
            SyncRunner(source, store, state, drift_policy="yolo")

    def test_drift_check_reads_the_manifest_schema(self, env, monkeypatch):
        # the replica's schema comes from the version manifest (no listing
        # of the bucket directories); a manifest without one is read
        spark, source, store, state, src_dir, runner = self._boot(env)
        version = store.current_version("customer")
        batch = [
            (
                spark.createDataFrame(
                    [], "Id string, name string, bal double, tier string, SystemModstamp timestamp, IsDeleted boolean"
                ).schema,
                0,
            )
        ]
        want = {"schema_drift": {"added": [{"column": "tier", "type": "string"}]}}
        reads = []
        read = store.read
        monkeypatch.setattr(store, "read", lambda *a, **k: reads.append(a) or read(*a, **k))
        assert runner._classify_drift("customer", version, batch) == want
        assert reads == []
        mpath = os.path.join(store.current_version_path("customer"), "_MANIFEST.json")
        with open(mpath) as f:
            manifest = json.load(f)
        del manifest["schema"]
        with open(mpath, "w") as f:
            json.dump(manifest, f)
        assert runner._classify_drift("customer", version, batch) == want
        assert reads == [("customer", version)]

    def test_no_drift_cycle_has_no_ledger_entry(self, env):
        spark, source, store, state, src_dir, runner = self._boot(env)
        _drift_source(spark, src_dir, BASE_SCHEMA, [("c1", "alice2", 11.0, T1, False)])
        runner.sync_table("customer")
        assert "schema_drift" not in store.manifest("customer")


class TestLaterFileDrift:
    """A landing directory of one file per extract (``snapshot.parquet``,
    then ``tick-00001.parquet``, ...): a column that first appears in a
    later file must reach the drift gate, although Spark's default
    inference reads only the first file's footer."""

    @staticmethod
    def _land(land, name, rows, **extra):
        """One landing file of (Id, name, bal, SystemModstamp, IsDeleted)
        rows; ``extra`` adds or replaces columns, as (pyarrow type, values)."""
        cols = {
            "Id": pa.array([r[0] for r in rows], pa.string()),
            "name": pa.array([r[1] for r in rows], pa.string()),
            "bal": pa.array([r[2] for r in rows], pa.float64()),
            "SystemModstamp": pa.array([r[3] for r in rows], pa.timestamp("us", tz="UTC")),
            "IsDeleted": pa.array([r[4] for r in rows], pa.bool_()),
        }
        for col, (typ, values) in extra.items():
            cols[col] = pa.array(values, typ)
        pq.write_table(pa.table(cols), str(land / name))

    def _boot(self, spark, tmp_path, **runner_kw):
        land = tmp_path / "src" / "customer"
        land.mkdir(parents=True)
        self._land(land, "snapshot.parquet", [("c1", "alice", 10.0, T0, False), ("c2", "bob", 20.0, T0, False)])
        store = TableStore(spark, str(tmp_path / "store"))
        state = SyncState(str(tmp_path / "sync.json"))
        runner = SyncRunner(EntitySource(spark, str(tmp_path / "src")), store, state, **runner_kw)
        runner.snapshot_load("customer")
        state.release("customer", syncuntil=T0, touch_refresh=False)
        return land, store, state, runner

    def test_added_column_widens_and_ledgers(self, spark, tmp_path):
        land, store, state, runner = self._boot(spark, tmp_path)
        self._land(
            land,
            "tick-00001.parquet",
            [("c1", "alice", 11.0, T1, False)],
            newcol=(pa.string(), ["gold"]),
        )
        assert runner.sync_table("customer")["rows"] == 2
        got = {r["Id"]: r for r in store.read("customer").collect()}
        assert (got["c1"]["newcol"], got["c1"]["bal"]) == ("gold", 11.0)
        assert got["c2"]["newcol"] is None
        drift = store.manifest("customer").get("schema_drift")
        assert drift == {"added": [{"column": "newcol", "type": "string"}]}

    def test_added_column_raises_under_strict(self, spark, tmp_path):
        land, store, state, runner = self._boot(spark, tmp_path, drift_policy="strict")
        self._land(
            land,
            "tick-00001.parquet",
            [("c1", "alice", 11.0, T1, False)],
            newcol=(pa.string(), ["gold"]),
        )
        with pytest.raises(SchemaDriftError, match="added.*newcol"):
            runner.sync_table("customer")
        assert state.get("customer").syncuntil_dt() == T0

    def test_retyped_column_fails_loudly(self, spark, tmp_path):
        land, store, state, runner = self._boot(spark, tmp_path)
        version = store.current_version("customer")
        self._land(
            land,
            "tick-00001.parquet",
            [("c1", "alice", 11.0, T1, False)],
            bal=(pa.string(), ["11.0"]),
        )
        with pytest.raises(SchemaDriftError, match="customer: schema drift.*retyped: bal"):
            runner.sync_table("customer")
        row = state.get("customer")
        assert (row.status, row.syncuntil_dt()) == ("ready", T0)
        assert store.current_version("customer") == version

    def _land_without_bal(self, land):
        # the schema builder without ``bal``: a file that dropped the column
        pq.write_table(
            pa.table(
                {
                    "Id": pa.array(["c1"], pa.string()),
                    "name": pa.array(["alice"], pa.string()),
                    "SystemModstamp": pa.array([T1], pa.timestamp("us", tz="UTC")),
                    "IsDeleted": pa.array([False], pa.bool_()),
                }
            ),
            str(land / "tick-00001.parquet"),
        )

    def test_removed_column_in_later_file_fails_under_widen(self, spark, tmp_path):
        # the snapshot file still has ``bal``, so a schema merged over the
        # whole landing directory hides the removal; the file is judged alone
        land, store, state, runner = self._boot(spark, tmp_path)
        version = store.current_version("customer")
        self._land_without_bal(land)
        with pytest.raises(SchemaDriftError, match="customer: schema drift.*removed: bal"):
            runner.sync_table("customer")
        row = state.get("customer")
        assert (row.status, row.syncuntil_dt()) == ("ready", T0)
        assert store.current_version("customer") == version
        assert {r["Id"]: r["bal"] for r in store.read("customer").collect()} == {"c1": 10.0, "c2": 20.0}

    def test_removed_column_in_later_file_ledgered_under_allow_removed(self, spark, tmp_path):
        land, store, state, runner = self._boot(spark, tmp_path, drift_policy="allow-removed")
        self._land_without_bal(land)
        assert runner.sync_table("customer")["rows"] == 2
        got = {r["Id"]: r["bal"] for r in store.read("customer").collect()}
        assert got == {"c1": None, "c2": 20.0}
        drift = store.manifest("customer").get("schema_drift")
        assert drift == {"removed": [{"column": "bal", "type": "double"}]}


class TestPartitionedDriftRewrite:
    """Widening under the bucket-partitioned layout rides the pruned
    publish: only the changed buckets are rewritten, under the widened
    schema; the others are hardlink-carried with their old-schema files,
    and reads null-fill the added column from the manifest schema."""

    WIDE = "Id string, name string, bal double, tier string, SystemModstamp timestamp, IsDeleted boolean"

    @staticmethod
    def _inodes(version_path):
        out = {}
        for d in os.listdir(version_path):
            if d.startswith(f"{PGSF_BUCKET}="):
                bucket = os.path.join(version_path, d)
                out[d] = {f: os.stat(os.path.join(bucket, f)).st_ino for f in os.listdir(bucket)}
        return out

    def test_widening_tick_rewrites_only_changed_buckets(self, spark, tmp_path):
        src_dir = tmp_path / "src"
        src_dir.mkdir()
        rows = [(f"c{i}", f"n{i}", float(i), T0, False) for i in range(20)]
        spark.createDataFrame(rows, BASE_SCHEMA).write.parquet(
            str(src_dir / "customer.parquet")
        )
        source = EntitySource(spark, str(src_dir))
        store = TableStore(spark, str(tmp_path / "store"))
        state = SyncState(str(tmp_path / "sync.json"))
        runner = SyncRunner(source, store, state)
        runner.snapshot_load("customer", partition_buckets=4)
        state.release("customer", syncuntil=T0, touch_refresh=False)
        assert store.partition_info("customer")["partition_buckets"] == 4
        before = store.current_version_path("customer")
        _drift_source(spark, src_dir, self.WIDE, [("c1", "n1b", 1.5, "gold", T1, False)])
        out = runner.sync_table("customer")
        assert out["rows"] == 20
        assert out["jobs"] <= 6
        m = store.manifest("customer")
        assert m["partition_buckets"] == 4
        assert m["schema_drift"] == {"added": [{"column": "tier", "type": "string"}]}
        # one bucket rewritten; the rest carried as the same inodes
        assert len(m["rewritten_partitions"]) == 1
        changed = f"{PGSF_BUCKET}={m['rewritten_partitions'][0]}"
        old, new = self._inodes(before), self._inodes(store.current_version_path("customer"))
        assert len(old) == 4 and set(new) == set(old)
        assert all(new[d] == old[d] for d in old if d != changed)
        # EVERY row readable with the new column: rows of carried
        # old-schema buckets read as NULL, not as a read error
        vals = {r["Id"]: r["tier"] for r in store.read("customer").collect()}
        assert vals["c1"] == "gold"
        assert sum(1 for v in vals.values() if v is None) == 19
        # the next non-drift cycle, on a key in another bucket
        buckets = {
            r["Id"]: r["b"]
            for r in store.read("customer", keep_internal=True)
            .select("Id", F.col(PGSF_BUCKET).alias("b"))
            .collect()
        }
        other = next(k for k, b in sorted(buckets.items()) if b != buckets["c1"])
        _drift_source(
            spark, src_dir, self.WIDE, [(other, "x", 2.5, "silver", T1 + timedelta(hours=1), False)]
        )
        runner.sync_table("customer")
        assert "schema_drift" not in store.manifest("customer")
        # a bloom index over the added column spans old-schema files too
        store.build_bloom_index("customer", "tier")
        assert [r["Id"] for r in store.read_bloom_pruned("customer", "tier", "gold").collect()] == ["c1"]
        assert [r["Id"] for r in store.read_bloom_pruned("customer", "tier", "silver").collect()] == [other]


class TestIsDeletedDrift:
    def test_dropping_isdeleted_is_loud_removal(self, spark, tmp_path):
        """A source that stops sending IsDeleted flips the merge to
        upsert-only -- deletes silently stop propagating. That is drift
        of the worst kind and must surface as a removal, not be absorbed
        as 'merge mode changed'."""
        src_dir = tmp_path / "src"
        src_dir.mkdir()
        spark.createDataFrame(
            [("c1", "alice", 10.0, T0, False)], BASE_SCHEMA
        ).write.parquet(str(src_dir / "customer.parquet"))
        source = EntitySource(spark, str(src_dir))
        store = TableStore(spark, str(tmp_path / "store"))
        state = SyncState(str(tmp_path / "sync.json"))
        runner = SyncRunner(source, store, state)
        runner.snapshot_load("customer")
        state.release("customer", syncuntil=T0, touch_refresh=False)
        _drift_source(
            spark,
            src_dir,
            "Id string, name string, bal double, SystemModstamp timestamp",
            [("c1", "alice2", 11.0, T1)],
        )
        with pytest.raises(SchemaDriftError, match="removed.*IsDeleted"):
            runner.sync_table("customer")


class TestWatermarkMonotonic:
    def test_delete_only_cycle_never_regresses_watermark(self, spark, tmp_path):
        """A cycle whose only changes are soft-deletes of the NEWEST rows:
        the deleted keys leave the target, so max(ts) of the merged table
        is LOWER than the current watermark. The release must keep the
        watermark monotonic (the JDBC leg's guard) -- a regressed value
        would re-open an ever-growing re-read window."""
        src_dir = tmp_path / "src"
        src_dir.mkdir()
        t2 = T1 + timedelta(hours=1)
        spark.createDataFrame(
            [("c1", "alice", 10.0, T0, False), ("c2", "bob", 20.0, T0, False)],
            BASE_SCHEMA,
        ).write.parquet(str(src_dir / "customer.parquet"))
        source = EntitySource(spark, str(src_dir))
        store = TableStore(spark, str(tmp_path / "store"))
        state = SyncState(str(tmp_path / "sync.json"))
        runner = SyncRunner(source, store, state)
        runner.snapshot_load("customer")
        state.release("customer", syncuntil=T0, touch_refresh=False)
        # cycle 1: c2 updated at t2 -- watermark advances to t2
        _drift_source(
            spark, src_dir, BASE_SCHEMA, [("c2", "bob2", 21.0, t2, False)]
        )
        runner.sync_table("customer")
        assert state.get("customer").syncuntil_dt() == t2
        # cycle 2: re-read window replays the t2 row as a SOFT DELETE
        # (strict > means nothing else qualifies after we rewind 1s)
        state.release("customer", syncuntil=T1, touch_refresh=False)
        _drift_source(
            spark, src_dir, BASE_SCHEMA, [("c2", "bob2", 21.0, t2, True)]
        )
        out = runner.sync_table("customer")
        # target now holds only c1 (ts=T0 < T1): an unguarded release
        # would REGRESS the watermark to T0
        assert state.get("customer").syncuntil_dt() == T1
        assert out["watermark"] == T1.isoformat()
        assert {r["Id"] for r in store.read("customer").collect()} == {"c1"}


class TestIsDeletedRetype:
    def test_isdeleted_retype_caught_by_merge_guard(self, spark):
        """IsDeleted is a helper for add/drop routing but NOT exempt from
        the type contract: a bool->string IsDeleted would pass a
        helper-exempting guard and die later inside the coalesce/~dead
        delete routing with an opaque AnalysisException."""
        target = spark.createDataFrame(
            [("c1", 10.0, T0, False)], "Id string, bal double, ts timestamp, IsDeleted boolean"
        )
        changes = spark.createDataFrame(
            [("c1", 11.0, T1, "false")], "Id string, bal double, ts timestamp, IsDeleted string"
        )
        with pytest.raises(SchemaDriftError, match="retyped.*IsDeleted"):
            merge_upsert(target, changes, pk="Id", ts_field="ts")


class TestClassifierAlgebraProperty:
    """VERDICT r11 ask #4: the classifier is load-bearing for merge
    safety (merge.py's retype guard delegates here), so its algebra is
    pinned structurally over RANDOM schema pairs, not just examples:
    classify(a,b) and classify(b,a) mirror added/removed, retype
    detection is symmetric, ignore columns are never classified, and the
    four buckets (added/removed/retyped/unchanged) exactly partition the
    visible name universe."""

    @staticmethod
    def _strategies():
        from hypothesis import strategies as st
        from pyspark.sql.types import (
            ArrayType,
            BooleanType,
            DecimalType,
            DoubleType,
            IntegerType,
            LongType,
            MapType,
            StringType,
            StructField,
            StructType,
            TimestampType,
        )

        # small name pool FORCES overlap (the interesting regime); the
        # type pool includes the parameterized shapes whose simpleString
        # must distinguish (decimal precisions, nested element types)
        names = st.sampled_from([f"c{i}" for i in range(8)])
        types = st.sampled_from(
            [
                IntegerType(),
                LongType(),
                DoubleType(),
                StringType(),
                BooleanType(),
                TimestampType(),
                DecimalType(10, 2),
                DecimalType(12, 2),
                ArrayType(LongType()),
                ArrayType(StringType()),
                MapType(StringType(), LongType()),
            ]
        )
        schemas = st.dictionaries(names, types, max_size=8).map(
            lambda d: StructType(
                [StructField(n, t) for n, t in sorted(d.items())]
            )
        )
        ignores = st.sets(names, max_size=3).map(frozenset)
        return schemas, ignores

    def test_classifier_algebra(self):
        from hypothesis import given, settings

        schemas, ignores = self._strategies()

        @settings(max_examples=300, deadline=None)
        @given(a=schemas, b=schemas, ignore=ignores)
        def check(a, b, ignore):
            fwd = classify_drift(a, b, ignore=ignore)
            rev = classify_drift(b, a, ignore=ignore)

            # mirror: what (a->b) calls added, (b->a) calls removed --
            # same (name, type) pairs, and vice versa
            assert set(fwd.added) == set(rev.removed)
            assert set(fwd.removed) == set(rev.added)
            # retype symmetry: same names, from/to swapped
            assert {(n, x, y) for n, x, y in fwd.retyped} == {
                (n, y, x) for n, x, y in rev.retyped
            }

            # ignore columns never surface in any bucket
            classified = (
                {n for n, _ in fwd.added}
                | {n for n, _ in fwd.removed}
                | {n for n, _, _ in fwd.retyped}
            )
            assert not classified & ignore

            # the buckets partition the visible universe: disjoint, and
            # together with unchanged cover every visible name
            ta = {f.name for f in a.fields} - ignore
            tb = {f.name for f in b.fields} - ignore
            add_n = {n for n, _ in fwd.added}
            rem_n = {n for n, _ in fwd.removed}
            ret_n = {n for n, _, _ in fwd.retyped}
            assert add_n == tb - ta
            assert rem_n == ta - tb
            assert ret_n <= ta & tb
            assert not (add_n & rem_n or add_n & ret_n or rem_n & ret_n)
            unchanged = (ta & tb) - ret_n
            assert add_n | rem_n | ret_n | unchanged == ta | tb

            # reflexivity: a schema never drifts against itself
            assert not classify_drift(a, a, ignore=ignore)
            # truthiness tracks content exactly
            assert bool(fwd) == bool(fwd.added or fwd.removed or fwd.retyped)
            # manifest entry carries a key iff the bucket is non-empty
            m = fwd.manifest_entry()
            assert set(m) == {
                k
                for k, v in (
                    ("added", fwd.added),
                    ("removed", fwd.removed),
                    ("retyped", fwd.retyped),
                )
                if v
            }

        check()

    def test_retyped_records_exact_simplestrings(self):
        from hypothesis import given, settings

        schemas, _ = self._strategies()

        @settings(max_examples=100, deadline=None)
        @given(a=schemas, b=schemas)
        def check(a, b):
            a_t = {f.name: f.dataType.simpleString() for f in a.fields}
            b_t = {f.name: f.dataType.simpleString() for f in b.fields}
            rep = classify_drift(a, b)
            for n, frm, to in rep.retyped:
                assert frm == a_t[n] and to == b_t[n] and frm != to
            # every shared name whose simpleString differs IS retyped
            assert {n for n, _, _ in rep.retyped} == {
                n for n in a_t.keys() & b_t.keys() if a_t[n] != b_t[n]
            }

        check()
