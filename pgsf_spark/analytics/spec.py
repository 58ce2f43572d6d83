"""Leaf module for the registry's shared contract pieces.

``QuerySpec`` and the SQL fragments shared between the registry and the
analytics modules live here, so a module can use them without importing
the whole registry (registry.py re-exports them).

Everything here must stay leaf-importable: no imports of registry or of
any module that imports registry.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from pgsf_spark.analytics import profiling


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None -> non-SQL-expressible, rows-only check


# normalized document text, the tokenization contract shared by every
# text-analytics oracle (must match text._norm exactly)
_NORM = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"

# the engine-portable HLL oracle: the sketch registers themselves are
# md5-derived and hash-exact, so the SAME oracle text serves both the
# batch face (registry: hll_portable) and the streaming face
# (streaming/faces.py: stream_running_hll, whose register merge is max() --
# streamed sketch == batch sketch by construction)
HLL_PORTABLE_ORACLE = f"""WITH h AS (
  SELECT ('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
  FROM events),
br AS (SELECT h % {profiling.HLL_M} AS bucket,
  CAST(h // {profiling.HLL_M} AS BIGINT) AS rest FROM h),
rr AS (SELECT bucket,
  CASE WHEN rest = 0 THEN 27
       ELSE strpos(lpad(bin(rest), 26, '0'), '1') END AS rho FROM br),
regs AS (SELECT bucket, MAX(rho) AS m FROM rr GROUP BY 1),
agg AS (SELECT SUM(1.0 / CAST((1::BIGINT << m) AS DOUBLE)) AS s_present,
  COUNT(*) AS n_present FROM regs),
ex AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users FROM events)
SELECT exact_users,
  {profiling.HLL_ALPHA} * {float(profiling.HLL_M * profiling.HLL_M)} / (s_present + CAST({profiling.HLL_M} - n_present AS DOUBLE)) AS hll_estimate,
  CAST({profiling.HLL_M} - n_present AS BIGINT) AS empty_buckets
FROM agg, ex"""
