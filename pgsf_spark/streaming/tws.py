"""transformWithStateInPandas surface (Spark 4 StatefulProcessor API).

Spark 4 replaces ad-hoc applyInPandasWithState functions with the
``StatefulProcessor`` class API (``transformWithStateInPandas``): typed
state handles (value/list/map state), init/close lifecycle, timers, and
the RocksDB state store. It is the forward-looking home for custom
stateful operators at 100 TB (state spills to RocksDB instead of the JVM
heap, and handles compose).

ENVIRONMENT GATE: the PySpark 4.x implementation talks to the JVM state
server over protobuf, so the Python workers need ``google.protobuf`` --
which this container does not ship (and installs are forbidden). The
operator therefore exposes an ``engine`` switch:

  - ``"tws"``      -- transformWithStateInPandas + RocksDB provider.
                      Raises a clear RuntimeError when protobuf is
                      missing instead of the opaque mid-query
                      STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE.
  - ``"classic"``  -- applyInPandasWithState with the IDENTICAL output
                      contract (the engine that runs everywhere today).
  - ``"auto"``     -- tws when the environment supports it, else classic.

Both engines produce the same rows for the same feed, so callers (and
the eventual registry face) are engine-agnostic; when the environment
grows protobuf, ``auto`` silently upgrades and the parity test
(tests/test_tws.py::TestTwsGate) stops skipping the tws leg.

Capability probe: ``HAS_TWS_RUNTIME``.
"""

from __future__ import annotations

import importlib.util

import pandas as pd
from pyspark.sql import DataFrame

from pgsf_spark.streaming import stateful

def _has_protobuf() -> bool:
    # find_spec on a dotted name imports the PARENT package first and
    # raises ModuleNotFoundError when even "google" is absent -- which is
    # exactly the environment this gate exists for
    try:
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        return False


#: True when the Python-side transformWithState runtime can start (the
#: state-server protocol needs google.protobuf in the worker Python).
HAS_TWS_RUNTIME = _has_protobuf()

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

# one output contract for both engines: the classic engine IS
# stateful.running_user_stats, so its schema is the contract
OUTPUT_SCHEMA = stateful.OUTPUT_SCHEMA
_STATE_SCHEMA = stateful.STATE_SCHEMA


def _tws_processor():
    """Build the StatefulProcessor lazily (import only on the tws path)."""
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._acc = handle.getValueState("acc", _STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):  # noqa: N803
            if self._acc.exists():
                n, total = self._acc.get()
            else:
                n, total = 0, 0.0
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._acc.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return RunningTotals()


def running_user_totals(events: DataFrame, engine: str = "auto") -> DataFrame:
    """Per-user running (count, value-sum), updated every micro-batch.

    ``events`` must be a STREAMING DataFrame with ``user_id`` and
    ``value`` columns. Output contract (both engines): one Update-mode
    row per user per batch the user appears in, with the running totals
    AFTER that batch -- identical to stateful.running_user_stats.

    engine="tws" requires the transformWithState runtime (see module
    docstring) AND the session configured with the RocksDB provider:
    ``spark.conf.set("spark.sql.streaming.stateStore.providerClass",
    tws.ROCKSDB_PROVIDER)`` before the query starts.
    """
    if engine == "auto":
        engine = "tws" if HAS_TWS_RUNTIME else "classic"
    if engine == "classic":
        # the classic engine IS the existing operator -- one
        # implementation, so the two engines cannot drift apart
        return stateful.running_user_stats(events)
    if engine != "tws":
        raise ValueError(f"unknown engine {engine!r}: want 'auto'|'tws'|'classic'")
    if not HAS_TWS_RUNTIME:
        raise RuntimeError(
            "transformWithStateInPandas needs google.protobuf in the worker "
            "Python (the state-server protocol); it is not installed in this "
            "environment. Use engine='classic' (identical output contract) "
            "or engine='auto'."
        )
    return events.groupBy("user_id").transformWithStateInPandas(
        _tws_processor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
