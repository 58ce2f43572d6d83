"""Catalog-snapshot + state-recovery gates, driver-provable.

Round-19 depth batch: the two fleet-scale properties per-table
versioning alone cannot give you, each run end-to-end through the real
machinery and reduced to one deterministic hash:

  - ``catalog_snapshot_gate`` -- CROSS-TABLE consistency. Two tables
    sync an epoch-2 wave; mid-wave (table A published, table B not),
    per-table current reads see a MIXED state (A new + B old -- the
    torn multi-table read; the reference's one-process-per-table model,
    sync:13-20, has the same hazard across its PG transactions). A
    reader resolving both tables through catalog version 1 still sees
    the consistent epoch-1 pair; after the wave commits (both tables +
    one atomic catalog flip), catalog version 2 is the consistent
    epoch-2 pair. The gate emits all three sums -- pinned, mixed,
    committed -- so the oracle restates the hazard AND its fix from the
    base tables; the CAS publish guard is asserted in-gate
    (ConcurrentWriteError on a stale expect_version).
  - ``state_recovery_gate`` -- watermark DISASTER RECOVERY. Snapshot +
    one merge tick, then the sync-state ledger is DELETED. recover_state
    re-seeds a fresh ledger from the store's manifest trail (the merge
    manifest's recorded watermark -- never the older snapshot seed), and
    the next tick syncs ONLY the post-recovery window: one new version,
    no re-extract, no duplicated rows, final replica restated by the
    oracle from ``customer`` alone.

Scale notes: a catalog version is one tiny JSON (data files are the
store's hardlinked version dirs -- zero data bytes, zero shuffle);
recovery is O(tables x retained versions) driver-side metadata reads,
nothing proportional to table bytes.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgsf_spark.tables import load_table

T0 = datetime(2024, 1, 1, 0, 0, 0)

E1 = 3  # epoch-1 value = 3 * pk (both tables)
E2 = 7  # epoch-2 value = 7 * pk (both tables)

CDF_DEL_MOD = 11  # pk % 11 == 0 rows are deleted in version 2
CDF_UPD_MOD = 7  # else pk % 7 == 0 rows are updated (v: 3pk -> 7pk)
CDF_INS_MOD = 13  # pk % 13 == 0 spawns an INSERTED key pk + CDF_INS_OFFSET
CDF_INS_OFFSET = 10_000_000
CDF_V_INS = 5  # inserted rows carry v = 5 * new_key; v1/updates use E1/E2

REC_HOUR_MOD = 5  # stamps = T0 + (pk % 5) hours, like the bootstrap gate
REC_TICK1_FROM_HOURS = 2  # first tick runs from T0 + 2h
REC_WAVE2_MOD = 10  # pk % 10 == 0 rows arrive after the disaster
REC_WAVE2_HOURS = 6  # ... stamped T0 + 6h (after the recovered watermark)
V_SNAP = 3
V_WAVE1 = 7
V_WAVE2 = 11


def q_catalog_snapshot_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed current-read vs consistent catalog reads, one hash."""
    from pgsf_spark.operators.catalog import CatalogStore
    from pgsf_spark.operators.table_store import ConcurrentWriteError, TableStore

    tmp = tempfile.mkdtemp(prefix="pgsf_catalog_")
    try:
        store = TableStore(spark, os.path.join(tmp, "store"))
        catalog = CatalogStore(os.path.join(tmp, "catalog"))
        tables = (("cust", "customer", "c_custkey"), ("ords", "orders", "o_orderkey"))

        def _epoch_df(base: str, pk: str, factor: int) -> DataFrame:
            return (
                load_table(spark, sf_dir, base)
                .select(F.col(pk).cast("long").alias("k"))
                .withColumn("v", (F.col("k") * factor).cast("long"))
            )

        def _sum(df: DataFrame) -> int:
            return df.agg(F.sum("v").cast("long").alias("s")).first()["s"] or 0

        # epoch 1: both tables published, catalog v1 commits the pair
        for name, base, pk in tables:
            store.write(_epoch_df(base, pk, E1), name)
        cat1 = catalog.snapshot_current(store, [n for n, _, _ in tables])

        # mid-wave: cust publishes epoch 2, ords has not yet
        store.write(_epoch_df("customer", "c_custkey", E2), "cust")
        sum_mixed = _sum(store.read("cust")) + _sum(store.read("ords"))
        sum_cat1 = _sum(catalog.read(store, "cust", cat1)) + _sum(
            catalog.read(store, "ords", cat1)
        )

        # CAS guard: a publisher that derived from a stale catalog loses
        # loudly, never silently overwrites (same contract as the store)
        try:
            catalog.snapshot_current(store, ["cust", "ords"], expect_version="cat_v0_stale")
            raise ValueError("catalog CAS accepted a stale expect_version")
        except ConcurrentWriteError:
            pass
        if catalog.current_version() != cat1:
            raise ValueError("failed CAS publish must leave the current version untouched")

        # the wave commits: ords publishes, then ONE atomic catalog flip
        store.write(_epoch_df("orders", "o_orderkey", E2), "ords")
        cat2 = catalog.snapshot_current(store, ["cust", "ords"], expect_version=cat1)
        sum_cat2 = _sum(catalog.read(store, "cust", cat2)) + _sum(
            catalog.read(store, "ords", cat2)
        )

        # the pinned mapping is immutable: re-reading catalog v1 AFTER the
        # commit still returns the epoch-1 pair
        if _sum(catalog.read(store, "cust", cat1)) + _sum(
            catalog.read(store, "ords", cat1)
        ) != sum_cat1:
            raise ValueError("catalog v1 read drifted after later publishes")

        res = spark.createDataFrame(
            [(sum_cat1, sum_mixed, sum_cat2, len(catalog.versions()))],
            "sum_cat1 bigint, sum_mixed bigint, sum_cat2 bigint, n_catalog_versions int",
        )
        return res.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


WAVE_UPDATE_MOD = 10  # pk % 10 == 0 rows carry the epoch-2 wave (E1 -> E2)
WAVE_FAIL_TABLE = "ords"  # its first wave batch retypes v -> loud drift


def q_fleet_catalog_wave_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog commits ride the scheduler; a failed wave holds the line.

    Two tables sync under ``run_wave`` (sync/wave.py): tick 1's wave
    updates both, but ords' batch RETYPES its value column -- the drift
    classifier fails that table loudly BEFORE any write, so the wave is
    partial: cust's table pointer advances (per-table isolation, as in
    the fleet gate) but the CATALOG does not flip -- readers keep the
    fully-consistent epoch-1 pair even though the store is mixed. Tick 2
    syncs the fixed source (the failed claim was auto-released), the
    wave completes, and ONE catalog flip commits the epoch-2 pair. The
    gate emits the pinned-after-failed-wave, mixed-store, and committed
    sums plus the catalog version count (2: bootstrap + the one
    successful wave), all restated by the oracle from the base tables.
    """
    from pgsf_spark.operators.catalog import CatalogStore
    from pgsf_spark.operators.table_store import TableStore
    from pgsf_spark.sources.entity import EntitySource
    from pgsf_spark.sync.runner import SyncRunner
    from pgsf_spark.sync.state import SyncState
    from pgsf_spark.sync.wave import run_wave

    tmp = tempfile.mkdtemp(prefix="pgsf_wave_")
    try:
        src = os.path.join(tmp, "src")
        os.makedirs(src)
        tables = (("cust", "customer", "c_custkey"), ("ords", "orders", "o_orderkey"))
        pks = {n: pk for n, _, pk in tables}
        bases = {
            n: load_table(spark, sf_dir, b).select(F.col(pk).cast("long").alias(pk))
            for n, b, pk in tables
        }

        def _src_df(name: str, factor_wave: int | None, retyped: bool = False):
            pk = pks[name]
            df = bases[name]
            if factor_wave is None:
                df = df.withColumn("v", (F.col(pk) * E1).cast("long")).withColumn(
                    "SystemModstamp", F.lit(T0).cast("timestamp")
                )
            else:
                df = df.withColumn(
                    "v",
                    F.when(
                        F.col(pk) % WAVE_UPDATE_MOD == 0, F.col(pk) * factor_wave
                    )
                    .otherwise(F.col(pk) * E1)
                    .cast("long"),
                ).withColumn(
                    "SystemModstamp",
                    F.when(
                        F.col(pk) % WAVE_UPDATE_MOD == 0,
                        F.lit(T0 + timedelta(hours=1)),
                    )
                    .otherwise(F.lit(T0))
                    .cast("timestamp"),
                )
            if retyped:
                df = df.withColumn("v", F.col("v").cast("string"))
            df.withColumn("IsDeleted", F.lit(False)).write.mode("overwrite").parquet(
                os.path.join(src, f"{name}.parquet")
            )

        for name, _, _ in tables:
            _src_df(name, None)
        source = EntitySource(spark, src)
        store = TableStore(spark, os.path.join(tmp, "store"))
        state = SyncState(os.path.join(tmp, "sync.json"))
        runner = SyncRunner(source, store, state)
        catalog = CatalogStore(os.path.join(tmp, "catalog"))
        for name, _, pk, in tables:
            runner.snapshot_load(name, pk=pk, refresh_minutes=0)
            state.release(name, syncuntil=T0, touch_refresh=False)
        cat1 = catalog.snapshot_current(store, [n for n, _, _ in tables])

        def _sum(df) -> int:
            return df.agg(F.sum("v").cast("long").alias("s")).first()["s"] or 0

        def _pair_sum(version: str) -> int:
            return sum(
                _sum(catalog.read(store, n, version)) for n, _, _ in tables
            )

        # wave 1: cust's batch is clean, ords' is RETYPED -> partial wave
        _src_df("cust", E2)
        _src_df(WAVE_FAIL_TABLE, E2, retyped=True)
        import time as _time

        _time.sleep(1.2)  # refresh_minutes=0 cadence has second granularity
        w1 = run_wave(runner, catalog, [n for n, _, _ in tables], pks=pks)
        n_base = bases["cust"].count()
        if n_base:
            if w1["failed"] != [WAVE_FAIL_TABLE] or w1["catalog_version"] is not None:
                raise ValueError(f"partial wave must not flip the catalog: {w1}")
            if catalog.current_version() != cat1:
                raise ValueError("catalog moved on a failed wave")
        sum_cat_held = _pair_sum(cat1)
        sum_store_mixed = sum(_sum(store.read(n)) for n, _, _ in tables)

        # wave 2: ords fixed; the wave completes and commits ONE flip
        _src_df(WAVE_FAIL_TABLE, E2)
        _time.sleep(1.2)
        w2 = run_wave(runner, catalog, [n for n, _, _ in tables], pks=pks)
        if n_base:
            if w2["failed"] or w2["catalog_version"] is None:
                raise ValueError(f"full wave must flip the catalog: {w2}")
        sum_cat_final = _pair_sum(w2["catalog_version"] or cat1)

        res = spark.createDataFrame(
            [
                (
                    sum_cat_held,
                    sum_store_mixed,
                    sum_cat_final,
                    len(catalog.versions()),
                )
            ],
            "sum_cat_held bigint, sum_store_mixed bigint, "
            "sum_cat_final bigint, n_catalog_versions int",
        )
        return res.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q_cdf_changes_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change feed between two versions (Delta-CDF analogue), one hash.

    ``TableStore.table_changes`` diffs two retained versions into
    insert/update/delete rows (the outbound face of the S5/S6 id feeds:
    what the reference exposes as updated/deleted REST windows, a
    versioned store can DERIVE between any two snapshots). The gate
    publishes v1 (every customer key at ``3*pk``), then v2 with a
    deterministic wave -- ``pk % 11`` keys deleted, else ``pk % 7``
    updated to ``7*pk``, plus inserted keys ``pk + 10^7`` for
    ``pk % 13`` -- and reduces the feed to per-change-type counts and
    sums the oracle restates from ``customer`` alone. Unchanged rows
    must never appear (asserted by construction: the three classes
    partition the output, and total == sum of class counts).

    Scale: one full-outer join on pk between two versions -- a single
    shuffle, or none when both versions were written bucketed; no
    driver-side state.
    """
    from pgsf_spark.operators.table_store import TableStore

    tmp = tempfile.mkdtemp(prefix="pgsf_cdf_")
    try:
        pk = "c_custkey"
        store = TableStore(spark, os.path.join(tmp, "store"))
        base = load_table(spark, sf_dir, "customer").select(
            F.col(pk).cast("long").alias("k")
        )
        v1 = base.withColumn("v", (F.col("k") * E1).cast("long"))
        store.write(v1, "cust")
        ver1 = store.versions("cust")[-1]

        survivors = base.filter(F.col("k") % CDF_DEL_MOD != 0)
        updated = survivors.withColumn(
            "v",
            F.when(F.col("k") % CDF_UPD_MOD == 0, F.col("k") * E2)
            .otherwise(F.col("k") * E1)
            .cast("long"),
        )
        inserts = (
            base.filter(F.col("k") % CDF_INS_MOD == 0)
            .select((F.col("k") + CDF_INS_OFFSET).alias("k"))
            .withColumn("v", (F.col("k") * CDF_V_INS).cast("long"))
        )
        store.write(updated.unionByName(inserts), "cust")
        ver2 = store.versions("cust")[-1]

        ch = store.table_changes("cust", ver1, ver2, "k")
        res = (
            ch.groupBy(F.col("_change_type").alias("change"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("k").cast("long").alias("sum_pk"),
                F.sum(F.coalesce(F.col("v"), F.lit(0))).cast("long").alias("sum_v"),
            )
            .orderBy("change")
        )
        return res.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q_state_recovery_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ledger loss -> manifest recovery -> incremental-only continuation."""
    from pgsf_spark.operators.table_store import TableStore
    from pgsf_spark.sources.entity import EntitySource
    from pgsf_spark.sync.recovery import recover_state
    from pgsf_spark.sync.runner import SyncRunner
    from pgsf_spark.sync.state import SyncState

    tmp = tempfile.mkdtemp(prefix="pgsf_recovery_")
    try:
        src = os.path.join(tmp, "src")
        os.makedirs(src)
        pk = "c_custkey"
        base = load_table(spark, sf_dir, "customer").select(
            F.col(pk).cast("long").alias(pk)
        )
        hour = F.col(pk) % REC_HOUR_MOD

        def _write_src(value_col, stamp_col):
            (
                base.withColumn("v", value_col.cast("long"))
                .withColumn("SystemModstamp", stamp_col)
                .withColumn("IsDeleted", F.lit(False))
                .write.mode("overwrite")
                .parquet(os.path.join(src, "cust.parquet"))
            )

        stamp1 = F.lit(T0).cast("timestamp") + F.make_interval(hours=hour.cast("int"))
        _write_src(F.col(pk) * V_SNAP, stamp1)

        source = EntitySource(spark, src)
        store = TableStore(spark, os.path.join(tmp, "store"))
        state = SyncState(os.path.join(tmp, "sync.json"))
        runner = SyncRunner(source, store, state)
        n_base = runner.snapshot_load("cust", pk=pk, refresh_minutes=0)

        # tick 1 from T0+2h: the hour-3..4 rows carry their V_WAVE1 update;
        # the merge manifest records watermark = max(ts) = T0+4h
        t_from = T0 + timedelta(hours=REC_TICK1_FROM_HOURS)
        state.release("cust", syncuntil=t_from, touch_refresh=False)
        wave1_v = F.when(hour > REC_TICK1_FROM_HOURS, F.col(pk) * V_WAVE1).otherwise(
            F.col(pk) * V_SNAP
        )
        _write_src(wave1_v, stamp1)
        runner.sync_table("cust", pk=pk)
        versions_before = len(store.versions("cust"))

        # DISASTER: the ledger is gone
        os.unlink(os.path.join(tmp, "sync.json"))
        state2 = SyncState(os.path.join(tmp, "sync2.json"))
        recovered = recover_state(store, state2, ["cust"], refresh_minutes=0)
        max_stamp = T0 + timedelta(hours=REC_HOUR_MOD - 1)
        if n_base:
            if recovered["cust"] != max_stamp.isoformat():
                raise ValueError(
                    f"recovery must land on the MERGE manifest's watermark "
                    f"(= {max_stamp.isoformat()}), got {recovered}"
                )

        # post-recovery wave: pk % 10 rows stamped T0+6h; the recovered
        # runner must sync ONLY this window -- one new version, no
        # re-extract, no duplicated rows
        runner2 = SyncRunner(source, store, state2)
        wave2 = F.col(pk) % REC_WAVE2_MOD == 0
        wave2_v = F.when(wave2, F.col(pk) * V_WAVE2).otherwise(wave1_v)
        stamp2 = F.when(
            wave2,
            F.lit(T0 + timedelta(hours=REC_WAVE2_HOURS)).cast("timestamp"),
        ).otherwise(stamp1)
        _write_src(wave2_v, stamp2)
        n_window = source.incremental("cust", "SystemModstamp", max_stamp).count()
        runner2.sync_table("cust", pk=pk)

        agg = (
            store.read("cust")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("v").cast("long").alias("s"),
            )
            .first()
        )
        n_versions = len(store.versions("cust"))
        if n_base:
            if n_versions != versions_before + 1:
                raise ValueError(
                    f"post-recovery tick must publish exactly one version: "
                    f"{versions_before} -> {n_versions}"
                )
            if agg["n"] != n_base:
                raise ValueError(
                    f"recovery duplicated or lost rows: {n_base} -> {agg['n']}"
                )
        rec_hours = (
            int(
                (datetime.fromisoformat(recovered["cust"]) - T0).total_seconds() // 3600
            )
            if n_base
            else 0
        )
        res = spark.createDataFrame(
            [(agg["n"], agg["s"], int(n_window), rec_hours, n_versions)],
            "n_rows bigint, sum_v bigint, n_window bigint, "
            "recovered_wm_hours bigint, n_versions int",
        )
        return res.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
