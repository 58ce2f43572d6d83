"""Seeded inputs of the ``cdc_trickle`` workload.

The snapshot is the committed sf0.01 ``orders`` table (``data/``) turned
into an entity with ``Id``, ``SystemModstamp`` and ``IsDeleted`` (the
``fixtures.as_entity`` shape). The change batches are drawn from the run's
``--seed``: the same seed gives the same batches, and every seed asks the
program for the same amount of work (only keys and values differ).

Timestamps are written as ``timestamp[us]``: the session reads parquet
nanosecond timestamps as bigint (``nanosAsLong``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SNAPSHOT_TS = datetime(2023, 6, 1)  # SystemModstamp of every snapshot row
# Change batches are stamped from here on. snapshot_load seeds the watermark
# from the wall clock at extract start, so the batches must sort after any
# date the benchmark can run on, or a tick would replicate nothing.
CHANGES_START = datetime(9000, 1, 1)
CUSTOMERS = 1500  # o_custkey of a changed row is drawn from [0, CUSTOMERS)

ENTITY_COLS = ["Id", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
               "o_orderpriority", "SystemModstamp", "IsDeleted"]


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# ---------------------------------------------------------------------------
# CDC entity + change batches, with the expected replica kept alongside
# ---------------------------------------------------------------------------


def entity_rows() -> list[tuple]:
    """The snapshot of the ``orders`` entity, as tuples in ENTITY_COLS order
    (``fixtures.as_entity`` shape: Id from the natural key)."""
    o = pq.read_table(os.path.join(DATA, "orders.parquet")).to_pydict()
    return [
        (str(k), c, s, p, d, pr, SNAPSHOT_TS, False)
        for k, c, s, p, d, pr in zip(o["o_orderkey"], o["o_custkey"], o["o_orderstatus"],
                                     o["o_totalprice"], o["o_orderdate"], o["o_orderpriority"])
    ]


def entity_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[] for _ in ENTITY_COLS]
    # SystemModstamp is an instant (UTC), like the entity fixtures' cast to
    # TIMESTAMP; o_orderdate is a plain date-time, like the TPC-H tables
    types = [pa.string(), pa.int64(), pa.string(), pa.float64(), pa.timestamp("us"),
             pa.string(), pa.timestamp("us", tz="UTC"), pa.bool_()]
    return pa.table({name: pa.array(list(v), type=ty)
                     for name, v, ty in zip(ENTITY_COLS, cols, types)})


def write_entity(src_dir: str) -> list[tuple]:
    """Land the snapshot as ``<src_dir>/orders/snapshot.parquet``."""
    rows = entity_rows()
    _write(entity_table(rows), os.path.join(src_dir, "orders", "snapshot.parquet"))
    return rows


def apply_batch(model: dict[str, tuple], batch: list[tuple]) -> None:
    """Reference CDC semantics (query_poll_table.py:107-152): the latest row
    per key is upserted, and a key with any deleted row in the batch is
    removed, whatever the row order."""
    latest: dict[str, tuple] = {}
    dead: set[str] = set()
    for row in batch:
        key = row[0]
        if row[7]:
            dead.add(key)
        if key not in latest or row[6] > latest[key][6]:
            latest[key] = row
    for key, row in latest.items():
        if key in dead:
            model.pop(key, None)
        else:
            model[key] = row


@dataclass
class ChangeFeed:
    """Closed-loop change generator for the ``orders`` entity.

    Each batch has ``size`` rows: updates of live keys drawn Zipf-skewed
    (hot keys repeat with strictly increasing SystemModstamp), ~10% inserts
    of new keys and ~10% soft-deletes, one of which hits a key also updated
    in the same batch (the delete-wins rule). The last row of a batch is
    always a live update, so the replica's max(SystemModstamp) -- the next
    watermark -- equals the batch's max and no row is re-read next tick.
    ``model`` is the expected replica (Id -> row) and ``wm`` the expected
    watermark."""

    seed: int
    model: dict[str, tuple]
    size: int = 8
    tick: int = 0
    next_key: int = 0
    wm: datetime = SNAPSHOT_TS
    rng: np.random.Generator = field(init=False)

    def __post_init__(self):
        self.rng = np.random.default_rng([self.seed, 3])
        self._keys = sorted(self.model, key=int)
        self.next_key = int(self._keys[-1]) + 1

    def _pick_live(self, exclude: set[str]) -> str:
        while True:
            # half uniform, half Zipf-skewed: hot keys recur within a batch
            if self.rng.random() < 0.5:
                i = int(self.rng.integers(0, len(self._keys)))
            else:
                i = int(self.rng.zipf(1.3)) - 1
            if i < len(self._keys) and self._keys[i] in self.model and self._keys[i] not in exclude:
                return self._keys[i]

    def _row(self, key: str, ts: datetime, deleted: bool) -> tuple:
        r = self.rng
        return (key, int(r.integers(0, CUSTOMERS)), str(r.choice(["O", "F", "P"])),
                float(round(r.uniform(1000, 500000), 2)),
                datetime(1995, 1, 1) + timedelta(days=int(r.integers(0, 2404))),
                str(r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])),
                ts, deleted)

    def next_batch(self) -> list[tuple]:
        n = self.size
        n_ins = max(1, round(0.1 * n))
        n_del = max(1, round(0.1 * n))
        kinds = ["upd"] * (n - n_ins - n_del - 1) + ["ins"] * n_ins + ["del"] * n_del
        self.rng.shuffle(kinds)
        kinds.append("upd")  # the last slot stays a live update
        base = CHANGES_START + timedelta(hours=self.tick)
        batch: list[tuple] = []
        updated: list[str] = []
        for j, kind in enumerate(kinds):
            ts = base + timedelta(seconds=j)
            if kind == "ins":
                key = str(self.next_key)
                self.next_key += 1
                self._keys.append(key)
            elif kind == "del" and updated and not any(r[7] for r in batch):
                key = updated[int(self.rng.integers(0, len(updated)))]
            else:
                # the last row must stay live: never a key deleted above
                dead = {r[0] for r in batch if r[7]} if j == n - 1 else set()
                key = self._pick_live(dead)
            batch.append(self._row(key, ts, kind == "del"))
            if kind == "upd":
                updated.append(key)
        self.tick += 1
        apply_batch(self.model, batch)
        # the runner's watermark: max(SystemModstamp) of the replica, never
        # moving backward
        self.wm = max(self.wm, max(r[6] for r in self.model.values()))
        return batch

    def write_batch(self, src_dir: str, batch: list[tuple]) -> None:
        _write(entity_table(batch),
               os.path.join(src_dir, "orders", f"tick-{self.tick:05d}.parquet"))

