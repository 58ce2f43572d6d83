"""Local mini-driver: run every queries() entry on Spark and its oracle on
DuckDB, compare row count + column names + order-insensitive value hash.

Usage: python tools/verify_local.py [--vanilla] [sf_dir] [query ...]

--vanilla runs the comparison under a DRIVER-LIKE session (plain builder:
ANSI on, 200 shuffle partitions, local[8]) instead of the repo's tuned
session — the round driver uses its own session, and a query that only
passes under the repo's config is a latent red (this caught nothing in
round 6, which is the point of keeping it cheap to re-check).

Thin wrapper over pgsf_spark.verify (the same comparison the CLI's
``verify`` subcommand runs); approximates the round driver's CORRECTNESS
check so mismatches are caught before the round ends.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _vanilla_spark():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[8]")
        .appName("verify_vanilla")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.shuffle.partitions", "200")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


def main():
    from pgsf_spark.verify import check_query_names, verify_queries

    args = sys.argv[1:]
    vanilla = "--vanilla" in args
    args = [a for a in args if a != "--vanilla"]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])
    try:
        check_query_names(only)  # before the JVM starts
    except ValueError as e:
        print(e, file=sys.stderr)
        return 2
    if vanilla:
        spark = _vanilla_spark()
    else:
        from pgsf_spark.session import get_spark

        spark = get_spark("verify_local")
    try:
        results = verify_queries(spark, sf_dir, only=only)
    finally:
        spark.stop()
    n_pass = sum(1 for v in results.values() if v)
    n_fail = len(results) - n_pass
    print(f"\n{n_pass} pass, {n_fail} fail" + (" (vanilla session)" if vanilla else ""))
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
