"""Bind-time lint over every registry oracle's DuckDB output types.

Round-5 driver lesson: DuckDB types ``SUM(INTEGER)``/``SUM(BIGINT)`` and
``//`` of BIGINT as HUGEINT (int128).  The round driver's value hasher
serializes HUGEINT differently from BIGINT, so two numerically-equal
results hash unequal and the query goes red even though both faces agree
(CORRECTNESS_r05: source_token_budget, record_linkage,
rolling_median_revenue, incremental_lsh_dedup).  Every such aggregate must
be wrapped in ``CAST(... AS BIGINT)`` in the oracle SQL.

This test makes that failure class structurally impossible: it *binds*
(never executes) all oracles against the sf0.001 views and fails if any
output column is typed HUGEINT/UHUGEINT.  Reverting one of the casts in
``registry.py`` turns this red.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from pgsf_spark.analytics.registry import QUERIES
from tests.registration_batches import BATCHES

SF_DIR = os.environ.get("PGSF_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Types whose cross-engine serialization is not bit-stable in the driver's
# hasher.  HUGEINT is the proven offender (round 5); DECIMAL is the round-6
# one -- DuckDB's pandas conversion renders DECIMAL as float64 ("1.0") while
# Spark DecimalType arrives as Decimal('1.000000000'), so a trailing-zero
# value hashes unequal despite being the same number
# (hits_hubs_authorities, CORRECTNESS_r06).  The rest are banned on the same
# principle (no oracle should ever emit them).
BANNED = (
    "HUGEINT",
    "UHUGEINT",
    "UINTEGER",
    "UBIGINT",
    "USMALLINT",
    "UTINYINT",
    "DECIMAL",
)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield c
    c.close()


_WITH_ORACLE = [name for name, spec in QUERIES.items() if spec.oracle is not None]


def test_registry_has_no_duplicate_keys():
    # a duplicate dict key is silently shadowed by Python -- round 7 found
    # event_trigrams defined twice (the older spec dead).  Lint the source.
    import re
    from collections import Counter

    import pgsf_spark.analytics.registry as reg

    src = open(reg.__file__).read()
    names = re.findall(r'"([a-z0-9_]+)": QuerySpec', src)
    dupes = sorted(n for n, c in Counter(names).items() if c > 1)
    assert dupes == [], f"duplicate registry keys (first spec silently dead): {dupes}"


def test_every_query_has_an_oracle_or_is_whitelisted():
    # keep the no-oracle set deliberate: every new query should ship with one
    missing = sorted(name for name, spec in QUERIES.items() if spec.oracle is None)
    assert missing == [], f"queries without oracle SQL: {missing}"


def _assert_binds_hashable(con, name):
    rel = con.sql(QUERIES[name].oracle)  # bind only -- no execution
    offenders = [
        (col, str(typ))
        for col, typ in zip(rel.columns, rel.types)
        if any(b in str(typ).upper() for b in BANNED)
    ]
    assert offenders == [], (
        f"{name}: oracle emits driver-unhashable column types {offenders}; "
        f"wrap the aggregate in CAST(... AS BIGINT) (ints) or "
        f"CAST(... AS DOUBLE) (decimals)"
    )


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_oracle_binds_and_types_are_hashable(con, name):
    _assert_binds_hashable(con, name)


# the round 13-21 batches, linted here before they were registered; the
# names stay pinned so dropping one from the registry fails by name
_LATE_BATCHES = sorted(n for r in range(13, 22) for n in BATCHES[r])


@pytest.mark.parametrize("name", _LATE_BATCHES)
def test_staged_oracle_binds_and_types_are_hashable(con, name):
    assert name in QUERIES
    _assert_binds_hashable(con, name)


def test_banned_decimal_output_is_actually_caught(con):
    # canary: prove the lint would flag a DECIMAL-output oracle, so a
    # future edit that narrows BANNED can't silently reopen the class
    rel = con.sql("SELECT CAST(1 AS DECIMAL(18,9)) AS authority")
    assert any("DECIMAL" in str(t).upper() for t in rel.types)
    assert any(b in str(rel.types[0]).upper() for b in BANNED)


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_oracle_pandas_dtypes_are_hash_stable(con, name):
    """Value-level canary beyond type names: execute each oracle at sf0.001
    and assert no output column materializes as Python ``Decimal``/``int128``
    objects in pandas.  Catches any future DuckDB type the name-based BANNED
    tuple doesn't enumerate (the round-6 verdict's item 3)."""
    df = con.sql(QUERIES[name].oracle).df()
    from decimal import Decimal

    for col in df.columns:
        s = df[col]
        if s.dtype == object and len(s) > 0:
            sample = next((v for v in s if v is not None), None)
            assert not isinstance(sample, Decimal), (
                f"{name}.{col}: oracle materializes Decimal objects in "
                f"pandas -- cast the output column to DOUBLE"
            )

