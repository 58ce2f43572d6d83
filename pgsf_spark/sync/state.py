"""Sync-state table: the __sync control table (C1/C4 in SURVEY §2.8).

Reference schema (/root/reference/install.sql:4-16):
  __sync(tablename PK, syncuntil timestamp, refresh_minutes int default 10,
         last_refresh timestamp, status 'ready'|'running'|'error')

State transitions (synctable.py:32-80, onreboot:13-24, abort_refresh.py:49-68):
  ready -> running   guarded claim (UPDATE ... WHERE status='ready') --
                     the system's only lock, prevents double-runs
  running -> ready   on success (watermark advanced) or on exception
  * -> error         manual pause / abort
  running -> ready   reboot recovery for stuck rows

Implementation: a tiny driver-side JSON document with atomic replace,
read-modify-written under ``table_store.file_lock`` on ``sync.json.lock``
-- a kernel flock, so like the reference's row lock it dies with its
holder: a killed process blocks no later claim and leaves nothing to
break, and only the 'running' status needs reboot recovery. The state is
per-table scheduler metadata (a few hundred rows at most), not data;
keeping it off the cluster matches the reference (a 5-row PG table) and
avoids a Spark job per transition. The watermark scalar is the only agg
result that ever lands on the driver (SURVEY §7.6 rule).
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass
from datetime import datetime, timezone

from pgsf_spark.functions import WATERMARK_FMT
from pgsf_spark.operators.table_store import file_lock

READY, RUNNING, ERROR = "ready", "running", "error"


class ClaimError(RuntimeError):
    """Raised when the guarded ready->running claim fails (row not ready)."""


@dataclass
class SyncRow:
    tablename: str
    syncuntil: str | None  # watermark, WATERMARK_FMT string (UTC, seconds)
    refresh_minutes: int = 10
    last_refresh: str | None = None
    status: str = READY

    def syncuntil_dt(self) -> datetime | None:
        return datetime.strptime(self.syncuntil, WATERMARK_FMT) if self.syncuntil else None


def _utcnow() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


class SyncState:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        if not os.path.exists(path):
            self._save({})

    # -- storage ------------------------------------------------------------
    def _load(self) -> dict[str, dict]:
        with open(self.path) as f:
            return json.load(f)

    def _save(self, rows: dict[str, dict]) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(rows, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)

    def _lock_path(self) -> str:
        return self.path + ".lock"

    def _mutate(self, fn) -> None:
        # Cross-process mutual exclusion for read-modify-write: two Engine
        # PROCESSES (not just threads) cannot hold the lock at once; claims
        # are additionally guarded by required_status (the reference's
        # UPDATE ... WHERE status='ready', synctable.py:63-73).
        with file_lock(self._lock_path()):
            rows = self._load()
            fn(rows)
            self._save(rows)

    # -- API ----------------------------------------------------------------
    def get(self, table: str) -> SyncRow | None:
        r = self._load().get(table)
        return SyncRow(**r) if r else None

    def all(self) -> list[SyncRow]:
        return [SyncRow(**r) for r in self._load().values()]

    def insert(self, table: str, syncuntil: datetime, refresh_minutes: int = 10) -> None:
        """Seed a row after the first snapshot load (C6; synctable.py:83-106).
        The watermark is seeded from the extract-START time, which is safe
        (earlier than any row it could have missed) -- csv_to_postgres.py:94."""

        def fn(rows):
            rows[table] = asdict(
                SyncRow(
                    tablename=table,
                    syncuntil=syncuntil.strftime(WATERMARK_FMT),
                    refresh_minutes=refresh_minutes,
                    last_refresh=None,
                    status=READY,
                )
            )

        self._mutate(fn)

    def claim(self, table: str, required_status: str = READY) -> SyncRow:
        """Guarded ready->running transition; raises ClaimError otherwise."""
        out: list[SyncRow] = []

        def fn(rows):
            r = rows.get(table)
            if r is None:
                raise ClaimError(f"no __sync row for {table} (run a snapshot load first)")
            if r["status"] != required_status:
                raise ClaimError(f"{table} status={r['status']!r}, required {required_status!r}")
            r["status"] = RUNNING
            out.append(SyncRow(**r))

        self._mutate(fn)
        return out[0]

    def release(
        self,
        table: str,
        status: str = READY,
        syncuntil: datetime | None = None,
        touch_refresh: bool = True,
    ) -> None:
        """running->ready (advance watermark on success) / ->error."""

        def fn(rows):
            r = rows[table]
            r["status"] = status
            if syncuntil is not None:
                r["syncuntil"] = syncuntil.strftime(WATERMARK_FMT)
            if touch_refresh:
                r["last_refresh"] = _utcnow().strftime(WATERMARK_FMT)

        self._mutate(fn)

    def due_tables(self, now: datetime | None = None) -> list[str]:
        """Tables with status=ready whose refresh interval has elapsed
        (the cron selection, sync:13: last_refresh + refresh_minutes*1min
        < now_utc)."""
        now = now or _utcnow()
        due = []
        for r in self.all():
            if r.status != READY:
                continue
            if r.last_refresh is None:
                due.append(r.tablename)
                continue
            last = datetime.strptime(r.last_refresh, WATERMARK_FMT)
            from datetime import timedelta

            if last + timedelta(minutes=r.refresh_minutes) < now:
                due.append(r.tablename)
        return due

    def recover_stuck(self) -> list[str]:
        """onreboot: any row left 'running' by a dead process -> ready."""
        fixed: list[str] = []

        def fn(rows):
            for r in rows.values():
                if r["status"] == RUNNING:
                    r["status"] = READY
                    fixed.append(r["tablename"])

        self._mutate(fn)
        return fixed

    def abort(self, table: str) -> None:
        """Manual abort: mark error (abort_refresh.py:49-68)."""

        def fn(rows):
            if table in rows:
                rows[table]["status"] = ERROR

        self._mutate(fn)
