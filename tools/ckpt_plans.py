"""Capture the plans of eager localCheckpoint BUILDS inside a query.

The formatted plan of a query's FINAL frame hides everything behind each
eager localCheckpoint as `Scan ExistingRDD`, so an optimization that
changes a checkpoint's build pipeline (e.g. the r14 mask fold in
q_prefix_filter_pairs) is invisible in plans/r14/<q>_after.txt. This tool
wraps DataFrame.localCheckpoint to explain every frame at the moment it
is materialized, writing plans/r14/<q>_ckpt<N>_<suffix>.txt.

Usage: python tools/ckpt_plans.py <suffix> <query> [query ...]
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

# patch the CLASSIC DataFrame: in Spark 4 `pyspark.sql.DataFrame` is the
# abstract API facade and classic sessions dispatch to the subclass's own
# localCheckpoint, so patching the facade intercepts nothing
from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402

from pgsf_spark.session import get_spark  # noqa: E402


def main():
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(_REPO, "plans", "r14")
    spark = get_spark("pgsf_spark_ckpt_capture")
    from pgsf_spark.analytics.registry import QUERIES

    orig = DataFrame.localCheckpoint
    state = {"query": None, "n": 0}

    def wrapped(self, eager=True):
        state["n"] += 1
        plan = self._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        path = os.path.join(out_dir, f"{state['query']}_ckpt{state['n']}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
        return orig(self, eager=eager)

    DataFrame.localCheckpoint = wrapped
    try:
        for name in names:
            state["query"], state["n"] = name, 0
            df = QUERIES[name].fn(spark, sf_dir)
            df.count()
    finally:
        DataFrame.localCheckpoint = orig
    spark.stop()


if __name__ == "__main__":
    main()
