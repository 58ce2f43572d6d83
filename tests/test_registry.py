"""Registry-wide checks over ``QUERIES``.

Fast lane: the dict order is pinned (the correctness driver samples the
first 50 names, and later names keep literal order) and every spec is
well formed. Spark lane: every query matches its DuckDB oracle at
sf0.001 through the driver's comparison (``verify_queries``).
"""

import hashlib

import pytest

from pgsf_spark.analytics.registry import _DRIVER_FRONT, QUERIES, QuerySpec
from tests.conftest import SF_DIR

# sha256 over the first PINNED_N names of list(QUERIES), newline-joined.
# New queries append at the end of the literal and leave it unchanged; a
# reorder, rename or removal changes it and must update it on purpose.
PINNED_N = 448
PINNED_ORDER_SHA256 = "6d3b67ba819f174e519f914c1c332cd15f19236a7f016c4c1f93fbac482ff7ac"


def test_driver_front_heads_the_registry():
    assert len(_DRIVER_FRONT) == len(set(_DRIVER_FRONT)) == 50
    assert list(QUERIES)[:50] == _DRIVER_FRONT


def test_order_is_pinned():
    names = list(QUERIES)
    assert len(names) >= PINNED_N, len(names)
    digest = hashlib.sha256("\n".join(names[:PINNED_N]).encode()).hexdigest()
    assert digest == PINNED_ORDER_SHA256, (
        "the registry order moved: append new queries at the end of the "
        "QUERIES literal and never reorder existing ones"
    )


def test_every_spec_has_callable_fn_and_oracle():
    bad = [
        name
        for name, spec in QUERIES.items()
        if not (
            isinstance(spec, QuerySpec)
            and callable(spec.fn)
            and isinstance(spec.oracle, str)
            and spec.oracle.strip()
        )
    ]
    assert bad == []


def test_unknown_only_name_raises_before_any_query():
    from pgsf_spark.verify import verify_queries

    with pytest.raises(ValueError, match="unknown queries: no_such_query$"):
        verify_queries(None, SF_DIR, only={"no_such_query", _DRIVER_FRONT[0]})


@pytest.mark.parametrize("name", list(QUERIES))
def test_oracle_parity_sf0001(spark, name):
    from pgsf_spark.verify import verify_queries

    results = verify_queries(spark, SF_DIR, only={name}, log=lambda s: None)
    assert results == {name: True}
