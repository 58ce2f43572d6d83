"""Targeted hard delete: remove rows by key touching only the files that
hold them (GDPR / right-to-be-forgotten at table scale).

The reference's delete path is the soft-delete feed folded into the staged
merge (salesforcesync.py's IsDeleted handling, re-expressed in
operators/merge.py). A *compliance* delete is different: the rows must
physically leave storage, unconditionally, without a source feed -- and at
100 TB "rewrite the table" is not an answer.

On a pk-hash-bucketed table (the layout SyncRunner maintains), the keys
name their buckets directly: rewrite ONLY those partition directories via
TableStore.write_partial, hardlink-carry the rest byte-identical. Cost is
O(buckets touched), driver metadata is O(files), and the deleted bytes are
gone from the new version (old versions hold them until vacuum() -- the
same retention contract Delta's VACUUM has, surfaced in the returned
stats so the caller can schedule it).

Non-bucketed tables fall back to a full anti-join rewrite -- correct, but
the stats make the cost difference visible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pgsf_spark.operators.table_store import PGSF_BUCKET, TableStore


def delete_rows(store: TableStore, table: str, pk: str, keys: DataFrame) -> dict:
    """Hard-delete rows whose ``pk`` appears in ``keys`` (a 1-column
    DataFrame). Returns stats: rows deleted, buckets rewritten (None for a
    full rewrite), and the prior versions still holding the bytes."""
    keys = keys.select(pk).distinct()
    # every read below and the publish's compare-and-swap use this one
    # version: a publish landing in between raises ConcurrentWriteError
    # instead of being reverted by buckets rewritten from the older read
    base = store.current_version(table)
    info = store.manifest(table, base)
    bucketed = (
        info.get("partition_by") == [PGSF_BUCKET] and info.get("partition_buckets")
    )
    if bucketed:
        cur = store.read(table, base, keep_internal=True)
        # buckets of keys actually PRESENT (bucket-column-only scan): a
        # sweep of mostly-absent keys must not rewrite their buckets --
        # and a fully-absent key set publishes nothing at all
        changed = sorted(
            r[0]
            for r in cur.join(keys, pk, "left_semi")
            .select(PGSF_BUCKET)
            .distinct()
            .collect()
        )
        if not changed:
            return {
                "n_deleted": 0,
                "buckets_rewritten": [],
                "versions_still_holding_bytes": [],
            }
        touched = cur.filter(F.col(PGSF_BUCKET).isin(changed))
        n_touched = touched.count()
        remaining = touched.join(keys, pk, "left_anti").localCheckpoint()
        n_deleted = n_touched - remaining.count()  # counts off the checkpoint
        store.write_partial(
            remaining,
            table,
            PGSF_BUCKET,
            changed,
            manifest={"hard_deleted_rows": n_deleted},
            expect_version=base,
        )
        buckets_rewritten = changed
    else:
        cur = store.read(table, base)
        n_deleted = cur.join(keys, pk, "left_semi").count()
        # preserve the hive partition layout (a GDPR delete must not
        # silently flatten a split- or date-partitioned table)
        store.write(
            cur.join(keys, pk, "left_anti"),
            table,
            partition_by=info.get("partition_by"),
            manifest={"hard_deleted_rows": n_deleted},
            expect_version=base,
        )
        buckets_rewritten = None
    # compliance is complete only when prior versions are vacuumed
    retained = store.versions(table)[:-1]
    return {
        "n_deleted": n_deleted,
        "buckets_rewritten": buckets_rewritten,
        "versions_still_holding_bytes": retained,
    }
