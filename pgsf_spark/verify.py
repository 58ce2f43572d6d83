"""Oracle verification as a library: run registry queries on Spark and
their ANSI-SQL oracles on DuckDB, compare column names + row count +
order-insensitive normalized values.

This is the engine's user-facing correctness tool (``python -m pgsf_spark
verify``): anyone extending the registry can gate their query the same way
the round driver does. ``tools/verify_local.py`` is a thin wrapper.
"""

from __future__ import annotations

import math
import time
from typing import Iterable

from pyspark.sql import SparkSession

from pgsf_spark.tables import TABLES


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def table_sig(cols, rows):
    """Column-name-sorted, row-sorted, normalized signature -- at least as
    strict as any reasonable order-insensitive hash comparison."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    scols = [cols[i] for i in order]
    srows = sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)
    return scols, srows


def check_query_names(names: Iterable[str], queries=None) -> None:
    """Raise ValueError naming every entry of ``names`` that is not a key
    of ``queries`` (default: the registry). Needs no SparkSession, so a
    caller can check before paying for one."""
    if queries is None:
        from pgsf_spark.analytics.registry import QUERIES as queries
    unknown = sorted(set(names) - set(queries))
    if unknown:
        raise ValueError(f"unknown queries: {', '.join(unknown)}")


def verify_queries(
    spark: SparkSession,
    sf_dir: str,
    only: Iterable[str] = (),
    log=print,
    queries=None,
) -> dict[str, bool]:
    """Run every (or ``only`` the named) registry queries against their
    DuckDB oracles over the parquet tables in ``sf_dir``. Returns
    name -> passed; rows-only entries (no oracle) map to True if the Spark
    side ran. ``queries`` overrides the live registry dict -- used to gate
    a query set outside the registry (e.g. the benchmark's headline subset)
    with the same comparison. An ``only`` name that is not a registered
    query raises ValueError before any query runs."""
    import duckdb

    if queries is None:
        from pgsf_spark.analytics.registry import QUERIES
    else:
        QUERIES = queries

    only = set(only)
    check_query_names(only, QUERIES)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    results: dict[str, bool] = {}
    for name, spec in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001 -- report, don't abort the sweep
            log(f"FAIL {name}: spark error: {e}")
            results[name] = False
            continue
        if spec.oracle is None:
            log(f"OK?  {name}: rows-only ({len(srows)} rows, {time.time() - t0:.1f}s)")
            results[name] = True
            continue
        try:
            res = con.execute(spec.oracle)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            log(f"FAIL {name}: duckdb error: {e}")
            results[name] = False
            continue
        sc, sr = table_sig(scols, srows)
        dc, dr = table_sig(dcols, drows)
        if sc != dc:
            log(f"FAIL {name}: columns {sc} != {dc}")
            results[name] = False
        elif len(sr) != len(dr):
            log(f"FAIL {name}: rowcount {len(sr)} != {len(dr)}")
            results[name] = False
        elif sr != dr:
            diffs = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
            log(f"FAIL {name}: values differ, first diffs: {diffs}")
            results[name] = False
        else:
            log(f"PASS {name} ({len(sr)} rows, {time.time() - t0:.1f}s)")
            results[name] = True
    return results
