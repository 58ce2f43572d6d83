"""Stream-static enrichment join (SURVEY §2.6 join family, streaming face).

The reference enriches replicated rows only at query time (PG joins after
landing); a streaming engine wants the dimension attached in-flight. Spark's
stream-static join does this with zero state: the static side is joined to
every micro-batch (broadcast when small -- always, for real dimension
tables), so the stream never shuffles and no watermark is needed.

Scale notes: static dims are re-planned per micro-batch; a 100 TB fact
stream joins a broadcast dim at wire speed. For slowly-changing dims the
pattern stays the same -- republish the dim table between batches (the
file-source static side re-lists on each trigger only for formats that
support it; for plain parquet, restart the query on dim refresh, which the
checkpoint makes lossless -- C1/C3 semantics from streaming/incremental.py).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: str,
    dim_cols: Sequence[str],
    how: str = "left",
) -> DataFrame:
    """Attach dimension attributes to a streaming fact: broadcast inner/left
    join on the dimension key. Works identically on a batch DataFrame (used
    by tests/oracles for result parity)."""
    return stream.join(F.broadcast(dim.select(on, *dim_cols)), on=on, how=how)
