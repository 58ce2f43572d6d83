"""Sync runner: snapshot load + incremental sync + scheduler loop.

Reference flow parity:
  - snapshot load (§3.1): query_bulk -> download -> createtable ->
    csv_to_postgres -> seed __sync  ==> one Spark job: scan -> overwrite
    write -> seed watermark from extract-start time (C6).
  - incremental sync (§3.2): query_poll_table.sync_table ==> claim ->
    incremental scan (P4) -> pin the batch (one localCheckpoint job that
    also observes its max(ts), row/delete counts and changed pk buckets) ->
    latest-per-key dedup -> merge upsert (K3) of the changed buckets ->
    atomic publish of those buckets (every replica is pk-bucketed; the rest
    are hardlink-carried, and an added source column rides the same
    publish) -> advance watermark to max(ts) of the merged table (A1), read
    with the row count from the version's per-file footer stats instead of
    a scan (PostgreSQL answers it from an index) -> release. A JDBC target
    runs the reference's staged merge instead and shares the same tail.
    Exactly-once effect (C3) comes from atomic publish + the
    idempotent-by-key merge.
  - scheduler (C2): the `sync` cron script's due-table fan-out; here a
    thread pool over due tables (per-table concurrency like the reference's
    one-process-per-table `&` loop, sync:14-20).
"""

from __future__ import annotations

import uuid
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from datetime import datetime, timezone

from pyspark.sql import Observation
from pyspark.sql import functions as F

from pgsf_spark.operators.jdbc_sink import JdbcPostgresSink
from pgsf_spark.operators.merge import merge_upsert
from pgsf_spark.operators.table_store import PGSF_BUCKET, TableStore
from pgsf_spark.sources.entity import EntitySource
from pgsf_spark.sync.state import READY, ClaimError, SyncState

DEFAULT_PARTITION_BUCKETS = 16


def _utcnow() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


def sync_job_tag(table: str) -> str:
    """Job tag on all Spark jobs of one table's sync; abort cancels the
    tagged jobs (parity with abort_refresh.py:49-68, which kills the refresh
    process -- here the running Spark jobs are the process)."""
    return f"pgsf-sync-{table}"


@contextmanager
def _sync_jobs(sc, table: str, what: str):
    """Tag every Spark job this thread submits in the block with the
    table's ``sync_job_tag`` and put them in a job group of their own, whose
    id it yields. Tag and group are thread-local, so run_due's pool threads
    tag their own table's jobs. The fresh group holds only this block's
    jobs: counting them costs the same however many jobs the table ran
    before (Spark retains up to 1,000 ids per group, and the tracker copies
    them over py4j one id per round trip)."""
    group = f"{sync_job_tag(table)}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, f"pgsf {what}: {table}", interruptOnCancel=True)
    sc.addJobTag(sync_job_tag(table))
    try:
        yield group
    finally:
        sc.removeJobTag(sync_job_tag(table))


def _advance(mx, wm):
    """The watermark never moves backward: a batch of only soft-deletes of
    the NEWEST rows leaves a lower max(ts) behind, and releasing that
    regressed value would re-read the same tombstone window forever."""
    return mx if (mx is not None and mx > wm) else wm


def _pin(changes, ts_field: str, buckets: bool = False):
    """Materialize the change batch ONCE (localCheckpoint, executor-side;
    small: one tick's changes) and observe, in that same job, what the tick
    needs to know about it: ``max_ts``, ``rows``, ``deletes`` (IsDeleted
    rows) and, with ``buckets``, the sorted changed pk buckets. Everything
    downstream -- bucket list, written rows, manifest watermark -- then
    comes from the same evaluation of a live source. The Observation is
    unnamed, so each call gets a unique name and run_due's concurrent
    tables never share one. Returns (pinned batch, metrics dict)."""
    obs = Observation()
    metrics = [F.max(ts_field).alias("max_ts"), F.count(F.lit(1)).alias("rows")]
    if "IsDeleted" in changes.columns:
        metrics.append(F.count_if(F.coalesce(F.col("IsDeleted"), F.lit(False))).alias("deletes"))
    if buckets:
        metrics.append(F.collect_set(PGSF_BUCKET).alias("buckets"))
    pinned = changes.observe(obs, *metrics).localCheckpoint()
    m = obs.get
    m.setdefault("deletes", 0)
    if buckets:
        m["buckets"] = sorted(m["buckets"])
    return pinned, m


def pk_bucket(pk: str, n_buckets: int):
    """Deterministic pk-hash partition value. Hash of the STRING form so the
    bucket survives pk type changes; xxhash64 is stable across Spark versions
    and task retries."""
    return F.pmod(F.xxhash64(F.col(pk).cast("string")), F.lit(n_buckets)).cast("int")


class SyncRunner:
    """``maintenance_every``: run compaction + GC on a table after every N
    successful merges (the reference runs its 7-day job GC from cron,
    delete_old_jobs_data.sh; here maintenance piggybacks on the sync loop
    so small merge files and dead versions never accumulate unboundedly).
    ``vacuum_keep``/``vacuum_ttl_seconds`` are passed to TableStore.vacuum."""

    def __init__(
        self,
        source: EntitySource,
        store: TableStore,
        state: SyncState,
        maintenance_every: int | None = None,
        vacuum_keep: int = 2,
        vacuum_ttl_seconds: float | None = None,
        drift_policy: str = "widen",
    ):
        if drift_policy not in ("strict", "widen", "allow-removed"):
            raise ValueError(
                f"drift_policy must be strict|widen|allow-removed, got {drift_policy!r}"
            )
        self.source = source
        self.store = store
        self.state = state
        self.maintenance_every = maintenance_every
        self.vacuum_keep = vacuum_keep
        self.vacuum_ttl_seconds = vacuum_ttl_seconds
        self.drift_policy = drift_policy
        self._merges_since_maintenance: dict[str, int] = {}

    def _classify_drift(self, table: str, version: str, changes):
        """Schema-drift routing (the reference's open TODO,
        query_poll_table.py:202): classify the batch schema against the
        replica's BEFORE the merge touches data, and route per
        ``drift_policy``:

          - retyped columns: ALWAYS a loud failure (never auto-merged);
          - removed columns: loud failure under strict/widen (silent
            nulling on every later update is quiet rot), permitted and
            LEDGERED under allow-removed;
          - added columns: loud failure under strict, widened and
            LEDGERED otherwise.

        ``version`` is the replica version the tick merges into. Returns
        the manifest audit entry ({} when no drift), so every absorbed
        drift is visible in the published version's ledger."""
        from pgsf_spark.operators.merge import SchemaDriftError
        from pgsf_spark.schema.drift import classify_drift

        # IsDeleted is NOT ignored: a source that stops sending it flips
        # the merge to upsert-only (deletes silently stop propagating) --
        # that is drift of the worst kind, and surfaces here as a removal
        drift = classify_drift(
            self.store.schema(table, version),
            changes.schema,
            ignore={PGSF_BUCKET, "_file_order"},
        )
        if not drift:
            return {}
        hard = bool(drift.retyped)
        hard = hard or (self.drift_policy == "strict")
        hard = hard or (drift.removed and self.drift_policy != "allow-removed")
        if hard:
            raise SchemaDriftError(
                f"{table}: schema drift ({drift.describe()}) under "
                f"drift_policy={self.drift_policy!r} -- resolve the source "
                f"contract (schema/mapping.py) or re-snapshot; the failed "
                f"cycle advanced nothing"
            )
        return {"schema_drift": drift.manifest_entry()}

    def maintenance(self, table: str) -> dict:
        """Compact the current version and GC old ones; returns a summary.
        A JDBC target handles its own storage maintenance (PG autovacuum)."""
        if isinstance(self.store, JdbcPostgresSink):
            return {"table": table, "compacted": False, "vacuumed": []}
        self.store.compact(table)
        victims = self.store.vacuum(
            table, keep=self.vacuum_keep, ttl_seconds=self.vacuum_ttl_seconds
        )
        return {"table": table, "compacted": True, "vacuumed": victims}

    def _maybe_maintain(self, table: str) -> bool:
        if not self.maintenance_every:
            return False
        n = self._merges_since_maintenance.get(table, 0) + 1
        if n < self.maintenance_every:
            self._merges_since_maintenance[table] = n
            return False
        self._merges_since_maintenance[table] = 0
        self.maintenance(table)
        return True

    def snapshot_load(
        self,
        table: str,
        fields: list[str] | None = None,
        pk: str = "Id",
        ts_field: str = "SystemModstamp",
        refresh_minutes: int = 10,
        partition_buckets: int = DEFAULT_PARTITION_BUCKETS,
    ) -> int:
        """Full refresh: extract snapshot -> overwrite target -> seed watermark.

        Watermark seeds from extract-START time, not max(ts): anything
        modified during the extract is re-read by the first poll -- safe and
        faithful to the reference (csv_to_postgres.py:94 uses the job's
        systemModstamp, i.e. job creation time).

        The replica is hive-partitioned into ``partition_buckets`` pk-hash
        buckets (a positive int): each incremental merge then rewrites only
        the partitions containing changed keys (sync_table +
        TableStore.write_partial) instead of the whole table -- the
        reference's touch-only-changed-rows economics
        (query_poll_table.py:107-152).
        """
        if type(partition_buckets) is not int or partition_buckets < 1:
            raise ValueError(f"partition_buckets must be a positive int, got {partition_buckets!r}")
        with _sync_jobs(self.source.spark.sparkContext, table, "snapshot load"):
            started = _utcnow()
            df = self.source.load(table, fields=fields, include_deleted=True)
            if isinstance(self.store, JdbcPostgresSink):
                # Live-PG target: CREATE (createtable.py flow) happens via
                # full_load(create=True) explicitly, not implicitly here --
                # snapshot semantics are TRUNCATE + parallel append.
                self.store.full_load(df, table, pk=pk)
                n = df.count()
                self.state.insert(table, syncuntil=started, refresh_minutes=refresh_minutes)
                return n
            self.store.write(
                df.withColumn(PGSF_BUCKET, pk_bucket(pk, partition_buckets)),
                table,
                partition_by=[PGSF_BUCKET],
                manifest={
                    "op": "snapshot",
                    "extract_started": started.isoformat(),
                    "partition_buckets": partition_buckets,
                },
            )
            summary = self.store.stats_summary(table)
            n = summary[0] if summary else self.store.read(table).count()
            self.state.insert(table, syncuntil=started, refresh_minutes=refresh_minutes)
            return n

    def _finish_sync(self, table: str, wm, rows: int, max_ts) -> dict:
        """Post-publish tail of a sync cycle, shared by both legs: advance
        the watermark to ``max_ts`` (monotonic, ``_advance``), run
        piggybacked maintenance, release the claim."""
        maintained = self._maybe_maintain(table)
        new_wm = _advance(max_ts, wm)
        self.state.release(table, READY, syncuntil=new_wm)
        out = {"table": table, "rows": rows, "watermark": new_wm.isoformat()}
        if maintained:
            out["maintenance"] = True
        return out

    def sync_table(self, table: str, pk: str = "Id", ts_field: str = "SystemModstamp") -> dict:
        """One incremental sync cycle for one table (query_poll_table.py:155-204).

        The result's ``jobs`` is the number of Spark jobs the tick ran: the
        ids of its own job group in ``statusTracker``, which starts none."""
        sc = self.source.spark.sparkContext
        with _sync_jobs(sc, table, "incremental sync") as group:
            out = self._sync_tick(table, pk, ts_field)
            out["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
        return out

    def _sync_tick(self, table: str, pk: str, ts_field: str) -> dict:
        """Two legs: a JDBC target runs the reference's staged merge; every
        other replica is pk-bucketed and publishes only the changed buckets
        through write_partial. An added source column rides that publish:
        carried buckets keep their old-schema files, and reads null-fill
        the column from the manifest schema (Delta's metadata-only column
        add). A replica without pk buckets fails the tick and must be
        bulk-loaded again."""
        row = self.state.claim(table)  # guarded ready->running
        try:
            wm = row.syncuntil_dt()
            if wm is None:
                raise ClaimError(f"{table}: no watermark -- bulk-load first (query_poll_table.py:69-73)")
            changes = self.source.incremental(table, ts_field, wm)
            if isinstance(self.store, JdbcPostgresSink):
                # Route through the reference's staged-merge transaction
                # (query_poll_table.py:107-152): dedup Spark-side, COPY into
                # tmp_T over JDBC, upsert+delete server-side. Watermark
                # advances to max(ts) of the applied batch (the target's
                # post-merge max, synctable.py:45-54, equals it when rows
                # were applied; unchanged wm otherwise).
                changes, batch = _pin(changes, ts_field)
                self.store.staged_merge(changes, table, pk=pk, ts_field=ts_field)
                return self._finish_sync(table, wm, batch["rows"], batch["max_ts"])
            # The version this tick reads is the one its publish must
            # replace: the drift check, the read and write_partial's
            # compare-and-swap all use ``base``, so a publish landing
            # between them (a CLI delete, another writer) fails this tick
            # with ConcurrentWriteError instead of being overwritten by
            # buckets merged from the older read.
            base = self.store.current_version(table)
            info = self.store.partition_info(table, base) or {}
            nb = info.get("partition_buckets")
            if not nb or info["partition_by"] != [PGSF_BUCKET]:
                raise ValueError(
                    f"{table}: replica is not pk-bucketed -- bulk-load it again (snapshot_load)"
                )
            # Classify schema drift against the replica BEFORE the merge:
            # a hard-drift cycle fails here, releases the claim in the
            # except path below, and advances nothing -- vs the
            # reference's opaque crash-and-retry-forever (its TODO).
            # The JDBC leg is excluded above (PG owns its schema there).
            drift_audit = self._classify_drift(table, base, changes)
            # Pin the batch before deriving buckets: the bucket list, the
            # written rows and the manifest's watermark_after must come from
            # the same evaluation -- a source whose re-evaluation can yield
            # new rows (any live CDC source) would otherwise write rows into
            # bucket dirs absent from the changed buckets (write_partial
            # would hardlink the old files into those same dirs: duplicate
            # keys), or let the recovered ledger claim rows the published
            # version never received (permanent skip under strict >).
            changes, batch = _pin(
                changes.withColumn(PGSF_BUCKET, pk_bucket(pk, nb)), ts_field, buckets=True
            )
            # Partition-pruned merge: only buckets containing changed keys
            # are read (directory pruning on the partition filter) and
            # rewritten; everything else is hardlink-carried by
            # write_partial. Cost per tick: O(changes + changed buckets).
            # An empty batch publishes a hardlink-only version (every tick
            # publishes, like the reference's per-tick transaction).
            target = self.store.read(table, base, keep_internal=True).filter(
                F.col(PGSF_BUCKET).isin(batch["buckets"])
            )
            merged = merge_upsert(target, changes, pk=pk, ts_field=ts_field, order_col="_file_order")
            # Tick record for the version manifest, from the pinned batch's
            # observed metrics (no extra Spark job). watermark_after is the
            # post-tick sync position: max(ts of the change batch), clamped
            # monotonic. Every row with ts <= this value is processed by
            # this tick (the window was strictly > wm), so a ledger
            # recovered from the manifest (sync/recovery.py) continues
            # incrementally without re-reading the applied window. The
            # plain "watermark" field stays the window START for lineage.
            self.store.write_partial(
                merged,
                table,
                PGSF_BUCKET,
                batch["buckets"],
                manifest={
                    "op": "merge",
                    "watermark": wm.isoformat(),
                    "watermark_after": _advance(batch["max_ts"], wm).isoformat(),
                    "batch_rows": batch["rows"],
                    "batch_deletes": batch["deletes"],
                    **drift_audit,
                },
                expect_version=base,
            )
            # The merged table's row count and max(ts) come from the new
            # version's per-file footer stats -- no Spark job, O(files)
            # JSON. One scan computes both only where stats cannot answer
            # (no stats file, a file with no stat for ``ts_field``, a
            # non-timestamp ``ts_field``).
            summary = self.store.stats_summary(table, ts_field)
            if summary is None:
                r = self.store.read(table).agg(
                    F.count(F.lit(1)).alias("n"), F.max(ts_field).alias("m")
                ).first()
                summary = (r["n"], r["m"])
            return self._finish_sync(table, wm, *summary)
        except ClaimError:
            raise
        except Exception:
            # On failure: back to ready without advancing the watermark
            # (query_poll_table.py:199-204); the next cycle retries.
            self.state.release(table, READY, touch_refresh=False)
            raise

    def run_due(self, max_workers: int = 8, pks: dict[str, str] | None = None, ts_fields: dict[str, str] | None = None) -> list[dict]:
        """One scheduler tick: claim+sync every due table concurrently.

        Per-table failure isolation (ADVICE r1): one table's exception is
        recorded in its result row and never aborts the tick -- the reference
        runs one process per table (sync:14-20), so failures are independent
        there too. sync_table itself already released the claim on error."""
        due = self.state.due_tables()
        results: list[dict] = []
        with ThreadPoolExecutor(max_workers=max_workers) as ex:
            futs = {
                ex.submit(
                    self.sync_table,
                    t,
                    (pks or {}).get(t, "Id"),
                    (ts_fields or {}).get(t, "SystemModstamp"),
                ): t
                for t in due
            }
            for fut, t in futs.items():
                try:
                    results.append(fut.result())
                except ClaimError:
                    pass  # raced by another runner -- fine, it's the lock working
                except Exception as e:  # noqa: BLE001 -- isolate per-table failures
                    results.append({"table": t, "error": f"{type(e).__name__}: {e}"})
        return results
