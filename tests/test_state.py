"""Sync-state machine tests (C1/C4: __sync semantics, install.sql:4-16,
synctable.py:32-106, onreboot, abort_refresh)."""

import json
import multiprocessing
import os
import signal
import time
from datetime import datetime, timedelta, timezone

import pytest

from pgsf_spark.sync.state import ERROR, READY, RUNNING, ClaimError, SyncState

WM = datetime(2024, 1, 1, 0, 0, 0)


@pytest.fixture()
def state(tmp_path):
    return SyncState(str(tmp_path / "sync.json"))


def _claim_worker(path: str, start_evt, q) -> None:
    st = SyncState(path)
    start_evt.wait()
    try:
        st.claim("customer")
        q.put("won")
    except ClaimError:
        q.put("lost")


def _die_inside_mutate(path: str, inside) -> None:
    def fn(rows):
        inside.set()
        time.sleep(60)  # SIGKILLed here, lock held, nothing saved

    SyncState(path)._mutate(fn)


class TestClaim:
    def test_insert_and_claim(self, state):
        state.insert("customer", WM)
        row = state.claim("customer")
        assert row.syncuntil_dt() == WM
        assert state.get("customer").status == RUNNING

    def test_double_claim_blocked(self, state):
        # the guarded UPDATE ... WHERE status='ready' (synctable.py:63-73)
        state.insert("customer", WM)
        state.claim("customer")
        with pytest.raises(ClaimError):
            state.claim("customer")

    def test_claim_without_row_demands_bulk_load(self, state):
        # query_poll_table.py:69-73: "use bulk the first time"
        with pytest.raises(ClaimError):
            state.claim("nonexistent")

    def test_release_advances_watermark(self, state):
        state.insert("customer", WM)
        state.claim("customer")
        new_wm = WM + timedelta(hours=1)
        state.release("customer", READY, syncuntil=new_wm)
        r = state.get("customer")
        assert r.status == READY and r.syncuntil_dt() == new_wm

    def test_error_pauses_table(self, state):
        state.insert("customer", WM)
        state.abort("customer")
        assert state.get("customer").status == ERROR
        with pytest.raises(ClaimError):
            state.claim("customer")


class TestCrossProcessClaim:
    def test_exactly_one_process_wins(self, tmp_path):
        # VERDICT r3 ask #6 done-criterion: PROCESSES, not threads -- the
        # O_EXCL lock + guarded status transition must serialize claims
        # across OS processes so two Engines can't both refresh a table
        path = str(tmp_path / "sync.json")
        SyncState(path).insert("customer", WM)
        ctx = multiprocessing.get_context("fork")
        start = ctx.Event()
        q = ctx.Queue()
        procs = [
            ctx.Process(target=_claim_worker, args=(path, start, q)) for _ in range(8)
        ]
        for p in procs:
            p.start()
        start.set()
        results = [q.get(timeout=30) for _ in procs]
        for p in procs:
            p.join(timeout=30)
        assert results.count("won") == 1, results
        assert results.count("lost") == 7, results
        assert SyncState(path).get("customer").status == RUNNING

    def test_dead_holder_lock_is_broken(self, tmp_path):
        # a crashed Engine must not deadlock the host: a lock whose PID is
        # dead gets broken and the claim proceeds
        path = str(tmp_path / "sync.json")
        st = SyncState(path)
        st.insert("customer", WM)
        ctx = multiprocessing.get_context("fork")
        ghost = ctx.Process(target=lambda: None)
        ghost.start()
        ghost.join()  # pid now provably dead
        with open(path + ".lock", "w") as f:
            json.dump({"pid": ghost.pid}, f)
        assert st.claim("customer").tablename == "customer"
        assert not os.path.exists(path + ".lock")

    def test_lock_file_naming_a_live_pid_does_not_block(self, tmp_path):
        # a leftover lock file whose recorded PID is alive (a reused PID,
        # here the caller's own) is not a held lock: only a live flock is
        path = str(tmp_path / "sync.json")
        st = SyncState(path)
        st.insert("customer", WM)
        with open(path + ".lock", "w") as f:
            json.dump({"pid": os.getpid()}, f)
        t0 = time.monotonic()
        assert st.claim("customer").tablename == "customer"
        assert time.monotonic() - t0 < 1.0
        assert not os.path.exists(path + ".lock")

    def test_holder_killed_inside_mutate_does_not_block(self, tmp_path):
        path = str(tmp_path / "sync.json")
        SyncState(path).insert("customer", WM)
        ctx = multiprocessing.get_context("fork")
        inside = ctx.Event()
        child = ctx.Process(target=_die_inside_mutate, args=(path, inside))
        child.start()
        assert inside.wait(30), "child never entered _mutate"
        assert os.path.exists(path + ".lock")
        os.kill(child.pid, signal.SIGKILL)
        child.join(timeout=30)
        assert child.exitcode == -signal.SIGKILL
        t0 = time.monotonic()
        row = SyncState(path).claim("customer")
        assert time.monotonic() - t0 < 1.0
        assert row.status == RUNNING and row.syncuntil_dt() == WM
        assert not os.path.exists(path + ".lock")


class TestScheduler:
    def test_due_tables_by_cadence(self, state):
        # sync:13 selection: ready AND last_refresh + refresh_minutes < now
        now = datetime.now(timezone.utc).replace(tzinfo=None)
        state.insert("fresh", WM, refresh_minutes=10)
        state.claim("fresh")
        state.release("fresh", READY)  # last_refresh = now -> not due
        state.insert("stale", WM, refresh_minutes=10)
        state.claim("stale")
        state.release("stale", READY)
        # manufacture staleness
        rows = state._load()
        rows["stale"]["last_refresh"] = (now - timedelta(minutes=30)).strftime("%Y-%m-%dT%H:%M:%SZ")
        state._save(rows)
        due = state.due_tables()
        assert "stale" in due and "fresh" not in due

    def test_never_refreshed_is_due(self, state):
        state.insert("customer", WM)
        assert "customer" in state.due_tables()

    def test_running_and_error_not_due(self, state):
        state.insert("a", WM)
        state.claim("a")
        state.insert("b", WM)
        state.abort("b")
        due = state.due_tables()
        assert "a" not in due and "b" not in due


class TestRecovery:
    def test_recover_stuck_running(self, state):
        # onreboot:13-24
        state.insert("customer", WM)
        state.claim("customer")
        fixed = state.recover_stuck()
        assert fixed == ["customer"]
        assert state.get("customer").status == READY

    def test_concurrent_claims_single_winner(self, state):
        import threading

        state.insert("customer", WM)
        wins, losses = [], []

        def worker():
            try:
                state.claim("customer")
                wins.append(1)
            except ClaimError:
                losses.append(1)

        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert len(wins) == 1 and len(losses) == 7
