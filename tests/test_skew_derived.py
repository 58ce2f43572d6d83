"""Derived-column tests, plus hypothesis property tests for the upload
chunker."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pgsf_spark.operators.derived import FormulaError, apply_derived
from pgsf_spark.operators.upload import chunk_rows


class TestDerived:
    def test_formula_columns(self, spark):
        df = spark.createDataFrame([(10.0, 0.1)], "price double, disc double")
        out = apply_derived(df, {"net": "price * (1 - disc)", "net2": "net * 2"}).first()
        assert out["net"] == 9.0 and out["net2"] == 18.0  # chained formulas

    def test_fails_loudly(self, spark):
        df = spark.createDataFrame([(1,)], "a int")
        with pytest.raises(FormulaError):
            apply_derived(df, {"bad": "nonexistent_col + 1"})


class TestChunkerProperties:
    @settings(max_examples=25, deadline=None)
    @given(
        n_rows=st.integers(0, 200),
        max_records=st.integers(1, 50),
        max_bytes=st.integers(50, 500),
    )
    def test_caps_and_completeness(self, n_rows, max_records, max_bytes):
        rows = [{"Id": f"id{i}", "v": i} for i in range(n_rows)]
        chunks = list(chunk_rows(rows, ["Id", "v"], max_bytes=max_bytes, max_records=max_records))
        # completeness: every record lands exactly once, in order
        data_lines = [ln for c in chunks for ln in c.splitlines()[1:]]
        assert data_lines == [f"id{i},{i}" for i in range(n_rows)]
        for c in chunks:
            body = c.splitlines()[1:]
            assert len(body) <= max_records
            # byte cap holds unless a single record alone exceeds it
            if len(body) > 1:
                assert len(c.encode()) <= max_bytes + max(len(line) + 1 for line in body)
