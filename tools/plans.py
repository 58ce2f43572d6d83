"""Capture .explain('formatted') for headline queries into a plans dir.

Usage: python tools/plans.py --suffix before|after
           [--tree /path/to/checkout] [--out /path/to/plans/dir] [query ...]

  --tree  engine checkout whose code builds the plans (default: the repo
          this script lives in)
  --out   output directory (default: <repo>/plans/r15)
  query   names to capture (default: bench.HEADLINE of the --tree checkout)

Uses the SAME session config as bench.py (pgsf_spark.session.get_spark) so
the captured plans are the plans the bench actually runs.
"""

from __future__ import annotations

import argparse
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--tree", default=_REPO)
    ap.add_argument("--out", default=os.path.join(_REPO, "plans", "r15"))
    ap.add_argument("queries", nargs="*", default=[])
    args = ap.parse_args()

    sys.path.insert(0, args.tree)
    from bench import HEADLINE
    from pgsf_spark.session import get_spark

    names = args.queries or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(args.out, exist_ok=True)
    spark = get_spark("pgsf_spark_plan_capture")
    from pgsf_spark.analytics.registry import QUERIES

    for name in names:
        df = QUERIES[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(
            f"{name}: {len(plan.splitlines())} lines, "
            f"{plan.count('Exchange')} Exchange, "
            f"{plan.count('BroadcastHashJoin')} BHJ, "
            f"{plan.count('Scan parquet')} parquet scans -> {path}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
