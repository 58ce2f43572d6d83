"""Merge upsert -- the heart of incremental sync (K3/J1/J2 in SURVEY §2).

Reference semantics (/root/reference/query_poll_table.py:107-152):
  1. stage changes into tmp_T
  2. INSERT INTO T SELECT ... FROM tmp_T [WHERE NOT IsDeleted]
     ON CONFLICT (pk) DO UPDATE SET (cols) = (EXCLUDED.cols)
  3. DELETE FROM T WHERE pk IN (SELECT pk FROM tmp_T WHERE IsDeleted)
  -- all inside one transaction.

PG applies conflicts row-at-a-time in file order, so duplicate PKs within a
batch resolve to the LAST occurrence; Spark merges set-at-once, so we dedup
to the latest change per key first (SURVEY §2.6): order by the CDC timestamp
desc, ties broken by file order desc when available.

This is the no-Delta join-rewrite (SURVEY §7.4):
  merged = target ANTI-JOIN change_keys  UNION  latest_changes(not deleted)

``change_keys`` is the batch's pk column as is, duplicates included: a
left-anti join drops a target row when ANY right-side row has its key, so
deduplicating the keys first would only add an aggregate stage.

Scale notes:
  - One shuffle on pk for the dedup window; the union adds none.
  - At 100 TB the target should be bucketed/partitioned by pk so the
    anti-join co-locates; with AQE a small change batch broadcasts.
  - Deletes ride the same anti-join: keys with IsDeleted simply aren't
    re-inserted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


class SchemaDriftError(ValueError):
    """Raised when the change batch's columns cannot be merged into the
    target's: a missing pk/ts column, a retyped column, or drift the sync
    runner's ``drift_policy`` refuses (the reference's unhandled 'a column
    disappeared' TODO, query_poll_table.py sync_table error path)."""


def latest_per_key(changes: DataFrame, pk: str, ts_field: str, order_col: str | None = None) -> DataFrame:
    """Keep the last change per key (PG ON CONFLICT sequential semantics).

    Order: CDC timestamp desc, then file order desc if present (PG keeps the
    last occurrence in file order on timestamp ties -- SURVEY §2.6).
    """
    order = [F.col(ts_field).desc()]
    if order_col and order_col in changes.columns:
        order.append(F.col(order_col).desc())
    w = Window.partitionBy(pk).orderBy(*order)
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_upsert(
    target: DataFrame,
    changes: DataFrame,
    pk: str,
    ts_field: str,
    order_col: str | None = None,
    isdeleted_col: str | None = "IsDeleted",
) -> DataFrame:
    """Apply a change batch to a target: upsert + soft-delete propagation.

    Returns the merged DataFrame (caller persists it atomically via
    TableStore). Soft-delete is conditional on the IsDeleted column being
    part of the sync set (query_poll_table.py:139-145): without it, rows are
    only ever upserted.

    Within-batch semantics match the reference exactly: the upsert pass
    applies non-deleted rows in order (last occurrence wins), then the
    delete pass removes EVERY key that has any IsDeleted row in the batch
    (`DELETE ... WHERE pk IN (SELECT pk FROM tmp WHERE IsDeleted)`,
    query_poll_table.py:139-152) -- so a delete wins over a same-batch
    update regardless of row order.

    Source schema drift (the reference's open TODO -- it just crashes):
    new source columns are appended to the target (existing rows null);
    columns the source dropped stay in the target and updated rows carry
    null there; a retyped column raises SchemaDriftError. Whether a drift
    is accepted at all is the caller's policy (SyncRunner's
    ``drift_policy``).
    """
    for req in (pk, ts_field):
        if req not in changes.columns:
            raise SchemaDriftError(f"change batch missing required column {req!r}")
    helper_cols = {order_col, isdeleted_col} - {None}
    # a RETYPED column is never auto-mergeable in any mode: unionByName
    # would either fail opaquely or silently coerce (int->bigint), and a
    # type change under the replica's readers is the reference's crash
    # case with extra steps -- fail loudly before touching data. ONE
    # implementation and ONE exemption policy (schema/drift.py): only the
    # caller-injected file-order helper is outside the type contract --
    # IsDeleted is NOT exempt (a bool->string IsDeleted would otherwise
    # pass the guard and die later inside the coalesce/~dead routing).
    from pgsf_spark.schema.drift import classify_drift

    _retyped = classify_drift(
        target.schema, changes.schema, ignore={order_col} - {None}
    ).retyped
    if _retyped:
        raise SchemaDriftError(
            "retyped column(s): "
            + ", ".join(f"{c} ({a} -> {b})" for c, a, b in _retyped)
        )
    new_cols = [c for c in changes.columns if c not in target.columns and c not in helper_cols]
    dropped_cols = [c for c in target.columns if c not in changes.columns]
    if new_cols:
        ctypes = dict(changes.dtypes)
        for c in new_cols:
            target = target.withColumn(c, F.lit(None).cast(ctypes[c]))
    if dropped_cols:
        ttypes = dict(target.dtypes)
        for c in dropped_cols:
            changes = changes.withColumn(c, F.lit(None).cast(ttypes[c]))
    target_cols = target.columns
    if isdeleted_col and isdeleted_col in changes.columns:
        dead = F.coalesce(F.col(isdeleted_col), F.lit(False))
        # Fold the delete-pass into the SAME window shuffle as the
        # latest-per-key dedup: an unbounded max-over-key flag marks keys
        # with any IsDeleted row, sharing the pk partitioning (and its one
        # Exchange) with the row_number window, instead of a separate
        # filter -> distinct -> anti-join branch that re-scanned the whole
        # change batch a third time (OPTIMIZATION_r14, guide §2.4: window
        # keyed like the preceding shuffle needs no second exchange).
        # Semantics are unchanged: a key with any dead row never reaches
        # `incoming` either way, and for surviving keys (no dead rows)
        # latest-over-all-rows == latest-over-alive-rows.
        flagged = changes.withColumn(
            "__any_dead", F.max(dead.cast("int")).over(Window.partitionBy(pk))
        )
        latest = latest_per_key(flagged, pk, ts_field, order_col=order_col)
        incoming = latest.filter(F.col("__any_dead") == 0).select(*target_cols)
        # NOT latest.select(pk), though it is the same key set: DataFrame
        # plans get no subtree reuse, so deriving the keys from `latest`
        # plans the whole window pipeline TWICE (measured r15: Window nodes
        # 6 -> 12, Sort 4 -> 8, plan 205 -> 234 lines), while this is a
        # column-pruned scan of pk only. No distinct(): the left-anti join
        # is indifferent to duplicate keys on its right side, and the
        # dedup would cost a partial-aggregate exchange (one more stage).
        change_keys = changes.select(pk)
    else:
        latest = latest_per_key(changes, pk, ts_field, order_col=order_col)
        incoming = latest.select(*target_cols)
        change_keys = latest.select(pk)

    # Every changed key leaves the old target version (update or delete).
    kept = target.join(change_keys, on=pk, how="left_anti")
    return kept.unionByName(incoming)
