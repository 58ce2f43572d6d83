"""Catalog-committed sync waves: all-or-nothing multi-table ticks.

``SyncRunner.run_due`` gives per-table isolation (one table's failure
never blocks another's tick -- the reference's one-process-per-table
model, sync:13-20). ``CatalogStore`` gives cross-table consistent READS.
This module ties them together into the operational story a fleet
actually needs: each scheduler tick is a WAVE, and the catalog commits
a version only when every due table in the wave succeeded. A partially
failed wave leaves individual tables wherever their own ticks
landed (their versions are retained and consistent per-table), but
catalog readers keep the last fully-consistent multi-table snapshot --
nobody downstream ever joins a half-advanced pair. The flip itself is
CAS'd against the catalog version the wave started from, so two
concurrent wave drivers cannot silently overwrite each other's commit.

Cost: one tiny JSON publish per successful wave; no data movement
beyond what the ticks already did.
"""

from __future__ import annotations

from pgsf_spark.operators.catalog import CatalogStore
from pgsf_spark.sync.runner import SyncRunner


def run_wave(
    runner: SyncRunner,
    catalog: CatalogStore,
    tables: list[str],
    pks: dict[str, str] | None = None,
    ts_fields: dict[str, str] | None = None,
    max_workers: int = 8,
) -> dict:
    """One scheduler tick + a catalog commit iff the whole wave succeeded.

    Returns {"results": run_due results, "failed": [...], "held": [...],
    "cas_lost": bool, "catalog_version": new version or None}. ``None``
    means the catalog held the line; the reasons are explicit:

      - ``failed``: tables whose tick errored (claim auto-released --
        the NEXT wave retries them and commits then);
      - ``held``: tables the wave could NOT account for -- due before
        the tick but absent from its results (their claim was held by a
        concurrent runner: run_due swallows ClaimError, so the table is
        mid-sync elsewhere and committing now could label a
        half-advanced epoch consistent), or left in a non-ready state
        (ERROR/RUNNING -- an aborted or dead sync that due_tables skips
        forever; committing around it would hide it indefinitely);
      - ``cas_lost``: every tick succeeded but another publisher flipped
        the catalog during this wave -- the CAS refused rather than
        silently overwriting; the ticks' table versions are retained and
        the next wave's commit covers them.

    Nothing due at all also returns None (no phantom bootstrap).
    """
    from pgsf_spark.operators.table_store import ConcurrentWriteError
    from pgsf_spark.sync.state import READY

    expect = catalog.current_version()
    due_before = set(runner.state.due_tables()) & set(tables)
    results = runner.run_due(max_workers=max_workers, pks=pks, ts_fields=ts_fields)
    by = {r.get("table"): r for r in results}
    ticked = [t for t in tables if t in by]
    failed = [t for t in ticked if "error" in by[t]]
    held = sorted(
        {t for t in due_before if t not in by}
        | {
            t
            for t in tables
            if (row := runner.state.get(t)) is None or row.status != READY
        }
    )
    out = {
        "results": results,
        "failed": failed,
        "held": held,
        "cas_lost": False,
        "catalog_version": None,
    }
    if ticked and not failed and not held:
        try:
            out["catalog_version"] = catalog.snapshot_current(
                runner.store, tables, expect_version=expect
            )
        except ConcurrentWriteError:
            out["cas_lost"] = True
    return out
