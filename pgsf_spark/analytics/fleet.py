"""Fleet-grain scheduler run + snapshot-read consistency, driver-provable.

The two engine-depth surfaces chosen by the round-11 verdict's post-r13
plan (ask #6), each re-expressed as an oracle-gated query so the
behavior is CORRECTNESS-ledgered, not just unit-tested:

  - ``fleet_scheduler_gate`` -- the reference's cron story at FLEET
    grain (reference sync:13-20 runs one process per table on staggered
    cadences): N tables with different refresh intervals, scheduler
    ticks via ``SyncRunner.run_due``, ONE table's update wave carrying a
    retyped column (the loud-failure drift class). The gate proves
    per-table failure ISOLATION (the poisoned table errors, every other
    table's tick merges normally), RECOVERY (the next tick syncs the
    fixed source without manual state surgery -- the claim was released
    back to ready), and the publish cadence (every successful tick
    publishes a version, a failed tick publishes nothing).
  - ``snapshot_consistency_gate`` -- snapshot-read consistency under a
    CONCURRENT writer (the write side of shapes.q_snapshot_asof_read_gate):
    a reader pins version v1 at DataFrame-definition time, a writer
    thread publishes two merge versions WHILE the reader re-materializes,
    and every materialization of the pinned frame returns v1's exact
    state -- versioned publish means readers never see a half-merged
    table, the property that makes concurrent sync ticks safe on a
    shared replica at any scale.

Both fixtures derive from sf base tables with DETERMINISTIC key
arithmetic (value columns are ``3*pk`` at snapshot, ``7*pk`` for the
``pk % 10 == 0`` update wave, ``11*pk`` for the ``pk % 100 == 0``
second wave), so the DuckDB oracle restates the expected END STATE from
the base tables alone. Faces execute eagerly into a localCheckpoint
(temp stores reclaimed in ``finally``), the robustness-gate pattern.

Reference parity: sync:13-20 (per-table cron isolation),
query_poll_table.py:199-204 (failure releases the claim, next cycle
retries), synctable.py:83-106 (seeded watermark). The reference has no
snapshot-isolation story at all -- psycopg2 readers see whatever the
half-applied transaction exposes; the versioned store makes the
stronger property hold by construction, and this gate pins it.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import time
from datetime import datetime, timedelta

from pgsf_spark.sync.state import _utcnow

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgsf_spark.tables import load_table

T0 = datetime(2024, 1, 1, 0, 0, 0)
T1 = datetime(2024, 1, 1, 1, 0, 0)
T2 = datetime(2024, 1, 1, 2, 0, 0)

UPDATE_MOD = 10  # pk % 10 == 0 rows arrive in the first update wave
SECOND_MOD = 100  # pk % 100 == 0 rows arrive in the second wave
V_SNAP = 3  # snapshot value = 3 * pk
V_WAVE1 = 7  # wave-1 value   = 7 * pk
V_WAVE2 = 11  # wave-2 value  = 11 * pk

# (entity name, sf base table, pk column, cadence minutes for the
# staggered due_tables check)
FLEET = (
    ("cust", "customer", "c_custkey", 5),
    ("ords", "orders", "o_orderkey", 10),
    ("supp", "supplier", "s_suppkey", 15),
    ("prt", "part", "p_partkey", 20),
)
FAIL_TABLE = "supp"  # its wave-1 batch retypes v -> loud SchemaDriftError
PARTITION_BUCKETS = 4


def _base_df(spark: SparkSession, sf_dir: str, base: str, pk: str) -> DataFrame:
    return load_table(spark, sf_dir, base).select(F.col(pk).cast("long").alias(pk))


def _with_sync_cols(df: DataFrame, pk: str, factor: int, ts: datetime) -> DataFrame:
    return (
        df.withColumn("v", (F.col(pk) * factor).cast("long"))
        .withColumn("SystemModstamp", F.lit(ts).cast("timestamp"))
        .withColumn("IsDeleted", F.lit(False))
    )


def q_fleet_scheduler_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-table scheduler run with one poisoned table: isolation + recovery.

    Tick 1 (all four tables due): cust/ords/prt merge their ``pk % 10``
    update wave; supp's wave RETYPES ``v`` (bigint -> string) and fails
    loudly BEFORE any write -- run_due records the error row, the other
    tables' results are unaffected (per-table isolation, ADVICE r1 /
    reference sync:14-20 one-process-per-table). Tick 2: supp's source
    is fixed; the claim was released back to ready by the failure path
    (query_poll_table.py:199-204), so the NEXT TICK syncs it with no
    manual state surgery, while the already-current tables publish empty
    hardlink versions (every tick publishes, like the reference's
    per-tick transaction). The staggered-cadence selection (C2) is
    asserted in-gate against an explicit clock on a parallel state file.

    Output, per table: final row count, the exact post-merge SUM(v)
    (``7*pk`` for updated keys, ``3*pk`` otherwise -- restated by the
    oracle from the base tables), the published-version count (3 for
    healthy tables: snapshot + wave merge + empty tick; 2 for the
    poisoned one: its failed tick published NOTHING), and whether tick 1
    errored."""
    from pgsf_spark.operators.table_store import TableStore
    from pgsf_spark.sources.entity import EntitySource
    from pgsf_spark.sync.runner import SyncRunner
    from pgsf_spark.sync.state import SyncState

    tmp = tempfile.mkdtemp(prefix="pgsf_fleet_")
    try:
        src = os.path.join(tmp, "src")
        os.makedirs(src)
        bases = {
            name: _base_df(spark, sf_dir, base, pk) for name, base, pk, _ in FLEET
        }
        pks = {name: pk for name, _, pk, _ in FLEET}

        # --- snapshot landing + bulk load (C6), watermark rewound to T0
        for name, _, pk, _ in FLEET:
            _with_sync_cols(bases[name], pk, V_SNAP, T0).write.parquet(
                os.path.join(src, f"{name}.parquet")
            )
        source = EntitySource(spark, src)
        store = TableStore(spark, os.path.join(tmp, "store"))
        state = SyncState(os.path.join(tmp, "sync.json"))
        runner = SyncRunner(source, store, state)
        for name, _, pk, _ in FLEET:
            runner.snapshot_load(
                name, pk=pk, refresh_minutes=0, partition_buckets=PARTITION_BUCKETS
            )
            state.release(name, syncuntil=T0, touch_refresh=False)

        # --- staggered-cadence selection (C2) against an explicit clock:
        # a parallel state file carries the four cadences; after a
        # claim/release cycle stamps last_refresh, due_tables(now=...)
        # must pick up each table exactly as its interval elapses
        cadence = SyncState(os.path.join(tmp, "cadence.json"))
        for name, _, _, minutes in FLEET:
            cadence.insert(name, syncuntil=T0, refresh_minutes=minutes)
            cadence.claim(name)
            cadence.release(name)  # stamps last_refresh = now
        clock0 = _utcnow()  # the SAME naive-UTC clock SyncState stamps with
        expected_at = [(6, {"cust"}), (12, {"cust", "ords"}), (17, {"cust", "ords", "supp"}), (25, {"cust", "ords", "supp", "prt"})]
        for minutes, want in expected_at:
            got = set(cadence.due_tables(now=clock0 + timedelta(minutes=minutes)))
            if got != want:
                raise ValueError(
                    f"fleet gate: staggered due_tables at +{minutes}m = {got}, want {want}"
                )

        # --- wave 1: updates for every table; supp's batch RETYPED
        for name, _, pk, _ in FLEET:
            wave = _with_sync_cols(
                bases[name].filter(F.col(pk) % UPDATE_MOD == 0), pk, V_WAVE1, T1
            )
            if name == FAIL_TABLE:
                wave = wave.withColumn("v", F.col("v").cast("string"))
            wave.write.mode("overwrite").parquet(os.path.join(src, f"{name}.parquet"))

        results1 = {r["table"]: r for r in runner.run_due(pks=pks)}
        err = results1.get(FAIL_TABLE, {}).get("error", "")
        if "SchemaDriftError" not in err:
            raise ValueError(f"fleet gate: poisoned table did not fail loudly: {results1}")
        for name, _, _, _ in FLEET:
            if name != FAIL_TABLE and "error" in results1.get(name, {"error": "missing"}):
                raise ValueError(f"fleet gate: tick-1 isolation broken: {results1}")
        if len(store.versions(FAIL_TABLE)) != 1:
            raise ValueError("fleet gate: failed tick must publish NOTHING")

        # --- tick 2: supp's source fixed; its claim is already back to
        # ready (failure path releases it), so the tick syncs it while
        # the current tables publish empty hardlink versions
        _with_sync_cols(
            bases[FAIL_TABLE].filter(F.col(pks[FAIL_TABLE]) % UPDATE_MOD == 0),
            pks[FAIL_TABLE],
            V_WAVE1,
            T1,
        ).write.mode("overwrite").parquet(os.path.join(src, f"{FAIL_TABLE}.parquet"))
        time.sleep(1.2)  # refresh_minutes=0 cadence has second granularity
        results2 = {r["table"]: r for r in runner.run_due(pks=pks)}
        for name, _, _, _ in FLEET:
            if "error" in results2.get(name, {"error": "missing"}):
                raise ValueError(f"fleet gate: tick-2 not clean: {results2}")

        # --- final state, restated by the oracle from the base tables
        out = []
        for name, _, pk, _ in FLEET:
            agg = (
                store.read(name)
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum("v").alias("sum_v"),
                )
                .first()
            )
            out.append(
                (
                    name,
                    agg["n_rows"],
                    agg["sum_v"],
                    len(store.versions(name)),
                    name == FAIL_TABLE,
                )
            )
        res = spark.createDataFrame(
            out,
            "tbl string, n_rows bigint, sum_v bigint, n_versions int, tick1_failed boolean",
        ).orderBy("tbl")
        return res.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


THIRD_MOD = 50  # pk % 50 == 0 rows arrive in the retention gate's wave 2
V_WAVE3 = 13  # their value = 13 * pk
CAS_MOD = 7  # the CAS gate's second writer updates pk % 7 == 0
V_CAS = 5  # to 5 * pk


def q_vacuum_retention_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version GC (C7) end-to-end: retention floors, TTL, loud time travel.

    Publish three versions of a customer replica through real sync
    cycles (snapshot; the ``pk % 10 -> 7*pk`` wave; the ``pk % 50 ->
    13*pk`` wave -- later wave wins for keys in both). Then GC:
    ``vacuum(keep=2)`` must drop EXACTLY the oldest version, a
    time-travel read of the vacuumed version must fail LOUDLY (the
    FileNotFoundError names the version -- never a silent empty frame),
    the current read must be byte-identical before/after, and an aged
    TTL pass (``keep=1, ttl_seconds=5, now=+1h``) must then drop the
    middle version. Mirrors the reference's retention model
    (delete_old_jobs_data.sh:6-11, 7 days by mtime) with the stronger
    always-keep-newest floor.

    Output: final row count and SUM(v), the version-count trajectory
    (3 -> 2 -> 1) and per-pass victim counts -- all restated by the
    oracle from ``customer`` arithmetic."""
    import time as _time

    from pgsf_spark.operators.table_store import TableStore
    from pgsf_spark.sources.entity import EntitySource
    from pgsf_spark.sync.runner import SyncRunner
    from pgsf_spark.sync.state import SyncState

    tmp = tempfile.mkdtemp(prefix="pgsf_vacuum_")
    try:
        src = os.path.join(tmp, "src")
        os.makedirs(src)
        pk = "c_custkey"
        base = _base_df(spark, sf_dir, "customer", pk)
        _with_sync_cols(base, pk, V_SNAP, T0).write.parquet(
            os.path.join(src, "cust.parquet")
        )
        source = EntitySource(spark, src)
        store = TableStore(spark, os.path.join(tmp, "store"))
        state = SyncState(os.path.join(tmp, "sync.json"))
        runner = SyncRunner(source, store, state)
        runner.snapshot_load(
            "cust", pk=pk, refresh_minutes=0, partition_buckets=PARTITION_BUCKETS
        )
        state.release("cust", syncuntil=T0, touch_refresh=False)
        for mod, factor, ts in ((UPDATE_MOD, V_WAVE1, T1), (THIRD_MOD, V_WAVE3, T2)):
            _with_sync_cols(
                base.filter(F.col(pk) % mod == 0), pk, factor, ts
            ).write.mode("overwrite").parquet(os.path.join(src, "cust.parquet"))
            runner.sync_table("cust", pk=pk)

        versions = store.versions("cust")
        n_start = len(versions)
        if n_start != 3:
            raise ValueError(f"vacuum gate: want 3 published versions, have {versions}")
        agg_cols = [F.count(F.lit(1)).alias("n_rows"), F.sum("v").alias("sum_v")]
        before = store.read("cust").agg(*agg_cols).first()

        victims_floor = store.vacuum("cust", keep=2)
        if victims_floor != [versions[0]]:
            raise ValueError(
                f"vacuum gate: keep=2 must drop exactly the oldest, got {victims_floor}"
            )
        # time travel to the vacuumed version fails LOUDLY, never empty
        try:
            store.read("cust", version=versions[0])
            raise ValueError("vacuum gate: vacuumed version read did not raise")
        except FileNotFoundError as e:
            if versions[0] not in str(e):
                raise ValueError(f"vacuum gate: error does not name the version: {e}")
        # TTL pass, clock injected: everything outside keep=1 is now aged out
        victims_ttl = store.vacuum(
            "cust", keep=1, ttl_seconds=5, now=_time.time() + 3600
        )
        if victims_ttl != [versions[1]]:
            raise ValueError(
                f"vacuum gate: TTL pass must drop the middle version, got {victims_ttl}"
            )
        after = store.read("cust").agg(*agg_cols).first()
        if (after["n_rows"], after["sum_v"]) != (before["n_rows"], before["sum_v"]):
            raise ValueError("vacuum gate: GC changed the CURRENT version's data")

        res = spark.createDataFrame(
            [
                (
                    after["n_rows"],
                    after["sum_v"],
                    n_start,
                    len(victims_floor),
                    len(victims_ttl),
                    len(store.versions("cust")),
                )
            ],
            "n_rows bigint, sum_v bigint, n_versions_start int, "
            "n_victims_keep int, n_victims_ttl int, n_versions_end int",
        )
        return res.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q_cas_publish_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compare-and-swap publish under two racing writers: no lost update.

    Both writers read version v1 of a bucket-partitioned customer
    replica and compute a partial merge against it (writer A: ``pk % 10
    -> 7*pk``; writer B: ``pk % 7 -> 5*pk``). A publishes first. B's
    stale publish -- CASed on the v1 token it based its carry on --
    must raise ConcurrentWriteError and commit NOTHING: without the CAS,
    B's version would hardlink-carry v1's copy of A's buckets, silently
    erasing A's update (a lost update, the write_partial docstring's
    exact hazard). B then re-reads the current version and retries; the
    final state carries BOTH updates (B's wave wins the ``pk % 70``
    overlap -- it merged after A). The loser removes its staging
    directory, so the table lists only committed versions.

    Output: row count, the state after A alone and after B's retry, and
    the committed-version count (snapshot + A + B-retry = 3) -- restated
    by the oracle from ``customer`` arithmetic."""
    from pgsf_spark.operators.merge import merge_upsert
    from pgsf_spark.operators.table_store import ConcurrentWriteError, TableStore
    from pgsf_spark.sync.runner import PGSF_BUCKET, pk_bucket

    tmp = tempfile.mkdtemp(prefix="pgsf_cas_")
    try:
        pk = "c_custkey"
        base = _base_df(spark, sf_dir, "customer", pk)
        store = TableStore(spark, os.path.join(tmp, "store"))
        snap = _with_sync_cols(base, pk, V_SNAP, T0).withColumn(
            PGSF_BUCKET, pk_bucket(pk, PARTITION_BUCKETS)
        )
        store.write(
            snap,
            "cust",
            partition_by=[PGSF_BUCKET],
            manifest={"op": "snapshot", "partition_buckets": PARTITION_BUCKETS},
        )
        v1 = store.current_version("cust")

        def changes_for(mod: int, factor: int, ts: datetime) -> DataFrame:
            return _with_sync_cols(
                base.filter(F.col(pk) % mod == 0), pk, factor, ts
            ).withColumn(PGSF_BUCKET, pk_bucket(pk, PARTITION_BUCKETS))

        def partial_merge(changes: DataFrame, expect_version) -> None:
            changes = changes.localCheckpoint()
            buckets = [r[0] for r in changes.select(PGSF_BUCKET).distinct().collect()]
            target = store.read("cust", keep_internal=True).filter(
                F.col(PGSF_BUCKET).isin(buckets)
            )
            merged = merge_upsert(
                target, changes, pk=pk, ts_field="SystemModstamp", order_col="_file_order"
            )
            store.write_partial(
                merged, "cust", PGSF_BUCKET, buckets, expect_version=expect_version
            )

        # both writers are BASED ON v1; A publishes first
        changes_a = changes_for(UPDATE_MOD, V_WAVE1, T1)
        changes_b = changes_for(CAS_MOD, V_CAS, T1)
        partial_merge(changes_a, expect_version=v1)
        after_a = (
            store.read("cust")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
            .first()
        )
        try:
            partial_merge(changes_b, expect_version=v1)  # stale CAS token
            raise ValueError("cas gate: stale publish did not raise")
        except ConcurrentWriteError:
            pass  # the lost update was refused -- the contract under test
        staged = [d for d in os.listdir(os.path.join(store.root, "cust")) if d.startswith("_stage_")]
        if staged:
            raise ValueError(f"cas gate: refused publish left staging dirs {staged}")
        mid = (
            store.read("cust")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
            .first()
        )
        if (mid["n"], mid["s"]) != (after_a["n"], after_a["s"]):
            raise ValueError("cas gate: refused publish still changed state")
        # B retries against the CURRENT version (the documented protocol)
        partial_merge(changes_b, expect_version=store.current_version("cust"))
        final = (
            store.read("cust")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
            .first()
        )
        res = spark.createDataFrame(
            [
                (
                    final["n"],
                    after_a["s"],
                    final["s"],
                    len(store.versions("cust")),
                )
            ],
            "n_rows bigint, sum_after_a bigint, sum_final bigint, n_version_dirs int",
        )
        return res.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q_snapshot_consistency_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinned snapshot reads under a concurrent merge writer.

    A reader defines a DataFrame over version v1 of a customer replica
    (store.read resolves the version PATH at definition time). A writer
    thread then runs two real sync cycles -- the ``pk % 10`` wave at T1
    and the ``pk % 100`` wave at T2 -- publishing v2 and v3 WHILE the
    reader keeps re-materializing its pinned frame. Every
    materialization must return v1's exact aggregate (versioned publish
    + immutable part files: a published version's bytes never change,
    write_partial only hardlinks them into NEW version dirs), the
    explicit v2 time-travel read must return the intermediate state, and
    the current read must return v3. One output row carries all three
    states; the oracle restates each from ``customer`` arithmetic."""
    from pgsf_spark.operators.table_store import TableStore
    from pgsf_spark.sources.entity import EntitySource
    from pgsf_spark.sync.runner import SyncRunner
    from pgsf_spark.sync.state import SyncState

    tmp = tempfile.mkdtemp(prefix="pgsf_snapiso_")
    try:
        src = os.path.join(tmp, "src")
        os.makedirs(src)
        pk = "c_custkey"
        base = _base_df(spark, sf_dir, "customer", pk)
        _with_sync_cols(base, pk, V_SNAP, T0).write.parquet(
            os.path.join(src, "cust.parquet")
        )
        source = EntitySource(spark, src)
        store = TableStore(spark, os.path.join(tmp, "store"))
        state = SyncState(os.path.join(tmp, "sync.json"))
        runner = SyncRunner(source, store, state)
        runner.snapshot_load(
            "cust", pk=pk, refresh_minutes=0, partition_buckets=PARTITION_BUCKETS
        )
        state.release("cust", syncuntil=T0, touch_refresh=False)

        pinned = store.read("cust")  # resolves v1's path NOW
        agg_cols = [
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("v").alias("sum_v"),
        ]
        baseline = pinned.agg(*agg_cols).first()

        waves = [
            (UPDATE_MOD, V_WAVE1, T1),
            (SECOND_MOD, V_WAVE2, T2),
        ]
        writer_err: list = []

        def publish_waves() -> None:
            try:
                for mod, factor, ts in waves:
                    _with_sync_cols(
                        base.filter(F.col(pk) % mod == 0), pk, factor, ts
                    ).write.mode("overwrite").parquet(os.path.join(src, "cust.parquet"))
                    runner.sync_table("cust", pk=pk)
            except Exception as e:  # noqa: BLE001 -- surfaced below
                writer_err.append(e)

        writer = threading.Thread(target=publish_waves, daemon=True)
        writer.start()
        # re-materialize the pinned frame WHILE the writer publishes
        while writer.is_alive():
            now = pinned.agg(*agg_cols).first()
            if (now["n_rows"], now["sum_v"]) != (
                baseline["n_rows"],
                baseline["sum_v"],
            ):
                writer.join()
                raise ValueError(
                    f"snapshot gate: pinned read drifted mid-publish: {now} != {baseline}"
                )
        writer.join()
        if writer_err:
            raise writer_err[0]
        final = pinned.agg(*agg_cols).first()  # one more, after both publishes
        if (final["n_rows"], final["sum_v"]) != (baseline["n_rows"], baseline["sum_v"]):
            raise ValueError("snapshot gate: pinned read drifted post-publish")

        versions = store.versions("cust")
        if len(versions) != 3:
            raise ValueError(f"snapshot gate: want 3 versions, have {versions}")
        v2 = store.read("cust", version=versions[1]).agg(*agg_cols).first()
        v3 = store.read("cust").agg(*agg_cols).first()
        res = spark.createDataFrame(
            [
                (
                    baseline["n_rows"],
                    baseline["sum_v"],
                    v2["sum_v"],
                    v3["sum_v"],
                    len(versions),
                )
            ],
            "n_rows bigint, sum_v1 bigint, sum_v2 bigint, sum_v3 bigint, n_versions int",
        )
        return res.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
