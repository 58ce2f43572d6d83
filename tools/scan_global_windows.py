"""Scan every registry query's physical plan for partition-less WindowExec
nodes (the single-partition global sort class VERDICT r7 flagged).  Emits
one line per (query, window line) so the bounded-spine whitelist in
tests/test_plans.py can be audited by eye.

Usage: python3 tools/scan_global_windows.py [sf_dir]
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pgsf_spark.planlint import partitionless_windows  # noqa: E402


def main() -> None:
    from pgsf_spark.analytics.registry import QUERIES
    from pgsf_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("scan_windows", master="local[8]", shuffle_partitions=8)
    flagged = {}
    for name, spec in QUERIES.items():
        try:
            df = spec.fn(spark, sf)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            print(f"ERROR {name}: {e}")
            continue
        hits = partitionless_windows(plan)
        if hits:
            flagged[name] = hits
            for h in hits:
                print(f"GLOBALWIN {name}: {h}")
    print(f"\n{len(flagged)} queries with partition-less windows:")
    for name in sorted(flagged):
        print(f"  {name}")


if __name__ == "__main__":
    main()
