"""Output checks. Each returns an error message, or None when the result is
right; the caller counts a message as one failed operation.

Rows are compared with the engine's own oracle signature
(``pgsf_spark.verify.table_sig``: sorted columns, sorted rows of normalized
cells), so a check depends on neither row order nor column order. The
headline queries are checked by ``pgsf_spark.verify.verify_queries``
itself.
"""

from __future__ import annotations

from pgsf_spark.verify import table_sig


def check_rows(what: str, cols: list[str], got, expected) -> str | None:
    if table_sig(cols, got) != table_sig(cols, expected):
        return f"{what}: {len(got)} rows != expected {len(expected)} rows, or values differ"
    return None


def check_value(what: str, got, expected) -> str | None:
    if got != expected:
        return f"{what}: got {got!r}, expected {expected!r}"
    return None
