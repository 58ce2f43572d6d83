"""Custom stateful streaming operator: per-user session-gap aggregation.

The reference's only state is the per-table watermark; a general engine
needs arbitrary keyed state across micro-batches. This is the
applyInPandasWithState pattern (Arrow-batched, executor-side state store,
checkpoint-durable, event-time timeout): here one open session per user
-- the shape the built-in ``session_window`` cannot express once
per-session logic grows.

Scale notes: state lives in the state store partitioned by the group key
(one shuffle per batch on user_id); each group's pandas frames stream
through the function without materializing the group history.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

SESSION_GAP_SECONDS = 1800.0

SESSION_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", DoubleType()),  # epoch seconds
        StructField("session_end", DoubleType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

# (start, last, n, total) of the OPEN session
SESSION_STATE = StructType(
    [
        StructField("start", DoubleType()),
        StructField("last", DoubleType()),
        StructField("n", LongType()),
        StructField("total", DoubleType()),
    ]
)


def _close(key: Tuple[Any, ...], start: float, last: float, n: int, total: float) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [key[0]],
            "session_start": [start],
            "session_end": [last],
            "n_events": [n],
            "total_value": [total],
        }
    )


def _update_sessions(
    key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Vectorized session fold: break positions come from one numpy diff
    (ts[i] - ts[i-1] > gap, plus a break at 0 when the carried state's
    last event is a gap away), segments reduce with numpy sums -- the
    per-row iterrows() loop this replaces was ~6x the wall-clock of the
    whole stream at 1M events. Semantics are loop-identical: every
    segment but the last is a CLOSED session (the first accumulates onto
    carried state when no break at 0); the last becomes the new state."""
    import numpy as np

    gap = SESSION_GAP_SECONDS
    if state.hasTimedOut:
        # watermark passed last_ts + gap with no new events: the open
        # session is complete; emit it and drop the state (bounded memory).
        start, last, n, total = state.get
        state.remove()
        yield _close(key, start, last, n, total)
        return
    rows = pd.concat(list(pdfs)).sort_values("ts_sec")
    ts = rows["ts_sec"].to_numpy(dtype=np.float64)
    vals = rows["value"].to_numpy(dtype=np.float64)
    if state.exists:
        start, last, n, total = state.get
    else:
        start, last = float(ts[0]), float(ts[0])
        n, total = 0, 0.0
    brk = set((np.flatnonzero(np.diff(ts) > gap) + 1).tolist())
    if ts[0] - last > gap:
        brk.add(0)
    bounds = [0, *sorted(brk - {0}), len(ts)]
    closed = []
    for s, e in zip(bounds, bounds[1:]):
        if s in brk:  # a new session starts here: flush the carried one
            closed.append((start, last, n, total))
            start, n, total = float(ts[s]), 0, 0.0
        n += e - s
        total += float(vals[s:e].sum())
        last = float(ts[e - 1])
    if closed:
        # ONE frame for all closed sessions: a 1-row DataFrame per session
        # costs more than the whole fold once sessions are short
        yield pd.DataFrame(
            [(key[0], s, e, cnt, tot) for s, e, cnt, tot in closed],
            columns=["user_id", "session_start", "session_end", "n_events", "total_value"],
        )
    state.update((start, last, n, total))
    # event-time timeout: fires when the watermark passes this instant
    state.setTimeoutTimestamp(int((last + gap) * 1000))


def session_gap_stream(events: DataFrame, ts_col: str = "ts", watermark: str = "1 hour") -> DataFrame:
    """Custom session-window aggregation: per-user sessions split on
    SESSION_GAP_SECONDS of inactivity, closed either by a later event (gap
    observed in-stream) or by the event-time timeout when the watermark
    passes last_event + gap (applyInPandasWithState, EventTimeTimeout).

    This is the custom-stateful-operator shape the built-in
    ``session_window`` can't express once per-session logic grows (e.g.
    value caps, session splits on attribute change): state is one tiny
    tuple per OPEN session, partitioned by user_id (one shuffle per batch),
    and closed sessions leave the store -- memory is bounded by concurrently
    open sessions, not history. Batch equivalent: q_sessionize
    (analytics/events.py), verified against the DuckDB oracle."""
    prepared = events.select(
        "user_id",
        F.col(ts_col).cast("double").alias("ts_sec"),
        "value",
        ts_col,
    ).withWatermark(ts_col, watermark)
    return prepared.groupBy("user_id").applyInPandasWithState(
        _update_sessions,
        outputStructType=SESSION_OUTPUT,
        stateStructType=SESSION_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
