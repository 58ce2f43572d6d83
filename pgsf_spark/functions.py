"""Scalar helpers mirroring the reference's fixed-function surface (SURVEY §2.7).

Driver-side pure functions for watermark handling + column expressions for
CSV fidelity. All heavy row work stays JVM-side via pyspark.sql.functions.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import Column
from pyspark.sql import functions as F

# F5: watermark wire format -- seconds precision, UTC, trailing Z
# (query_poll_table.py:82).
WATERMARK_FMT = "%Y-%m-%dT%H:%M:%SZ"
# Spark-side render of datetimes like 2019-11-18T15:28:14.000Z
# (query_poll_table.py:44-45).
DATETIME_MS_Z = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"


def truncate_to_second(ts: datetime) -> datetime:
    """Second truncation applied to the stored watermark before the
    strictly-> comparison (query_poll_table.py:78-83)."""
    return ts.replace(microsecond=0)


def strip_nul(col: Column) -> Column:
    """NUL bytes are stripped from all extracted text (F1,
    query_poll_table.py:21-23; salesforce_bulk.py:495,510)."""
    return F.regexp_replace(col, "\x00", "")


def bool_to_pg(col: Column) -> Column:
    """Booleans render as t/f in the landed CSV (query_poll_table.py:46-47)."""
    return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(F.when(col, F.lit("t")).otherwise(F.lit("f")))


def datetime_to_pg(col: Column) -> Column:
    """Datetimes render as ISO-8601 with milliseconds + Z (F5 variant,
    query_poll_table.py:44-45)."""
    return F.date_format(col, DATETIME_MS_Z)
