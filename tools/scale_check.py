"""Scale-trend harness: time registry queries at 1x and Nx the sf0.1 data.

Builds a synthetic Nx copy of the base tables (cross-join with a replica
index; keys remapped to stay unique, event user_ids diversified so
per-user grain scales too), runs the named queries at both scales on the
same session, and prints one JSON line per query with the wall-clock
ratio. A ratio near 1 means overhead-bound; near N means linear; near N^2
(e.g. the degenerate small-vocab similarity corpus) is called out by the
caller's judgment, not hidden.

Usage:
  python tools/scale_check.py [N] [--skew] [query ...]   # default N=10
Env:  SPARK_GRAFT_SF_DIR (base data, default /root/testdata/sf0.1)
      PGSF_SCALE_DIR (work dir, default /tmp/pgsf_scale_check)

--skew additionally makes l_partkey zipfian-hot in the scaled copy: 20%
of lineitem rows are redirected to a 10-key geometric head shared across
ALL replicas (key k holds ~2^-(k+1) of the redirected mass, so the
hottest part's degree grows with N, not per-replica).  This is the stress
for the AA_MAX_DEG rare-part bound in hits_hubs_authorities /
adamic_adar_links: if the degree cap works, the skewed-Nx ratio matches
the plain-Nx ratio (hot parts fall out of the edge set before the
per-round join); if it doesn't, the hot block's quadratic tail shows up
as a ratio far above N.

PERF.md's "10x scale check" sections are produced with this tool.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_QUERIES = [
    "incremental_lsh_dedup",
    "record_linkage",
    "range_band_join",
    "pit_state_join",
    "rolling_median_revenue",
    "prefix_filter_pairs",
]

# every pk AND fk column each table needs offset so replica r is a
# self-consistent copy: joins stay within a replica (per-key fan-out is
# constant, breadth grows N-fold -- the growth mode 100 TB actually has).
# nation/region keys are NOT remapped: the dims stay shared, like reality.
_REMAP = {
    "documents": ["doc_id"],
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "events": ["event_id", "user_id"],
    "lineitem": ["l_orderkey", "l_suppkey", "l_partkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "embeddings": ["vec_id"],
}
_OFFSET = 10**9


def build_scaled(spark, src: str, dst: str, n: int, skew: bool = False) -> None:
    from pyspark.sql import functions as F

    from pgsf_spark.tables import TABLES, load_table

    for t in TABLES:
        d = load_table(spark, src, t)
        cols = [c for c in _REMAP.get(t, []) if c in d.columns]
        out = f"{dst}/{t}.parquet"
        if not cols:  # small dims (nation, region): keep as-is
            d.write.mode("overwrite").parquet(out)
            continue
        reps = spark.range(n).select(F.col("id").alias("__rep"))
        big = d.crossJoin(reps)
        for c in cols:
            big = big.withColumn(c, F.col(c).cast("long") + F.col("__rep") * _OFFSET)
        if skew and t == "documents":
            # zipfian-hot near-dup families: 20% of replicated docs have
            # their text REDIRECTED to one of 10 shared hot texts (key k
            # with mass ~2^-(k+1), shared across replicas), so the hottest
            # family is ~10% of the whole corpus with IDENTICAL text. Every
            # hot doc lands in one LSH bucket per band -- the stress for
            # q_lsh_jaccard_verified's MAX_BUCKET chunk cap and AQE's skew
            # join handling: if they work, skewed-Nx wall-clock stays near
            # plain-Nx.
            h = F.abs(F.xxhash64("doc_id", F.lit("docskew7")))
            j = F.pmod(h, F.lit(1023)) + 1
            hot_key = (F.lit(9) - F.floor(F.log2(j.cast("double")))).cast("long")
            hot_text = F.concat(
                F.lit("shared hot family text number "),
                hot_key.cast("string"),
                F.lit(" the quick brown fox jumps over the lazy dog again and again"),
            )
            big = big.withColumn(
                "text",
                F.when(F.pmod(h, F.lit(5)) == 0, hot_text).otherwise(F.col("text")),
            )
        if skew and t == "lineitem":
            # zipfian-hot head: 20% of rows land on 10 global part keys,
            # key k with mass ~2^-(k+1) (k = 9 - floor(log2(j)), j uniform
            # in [1, 1023]); keys are shared across replicas so the
            # hottest part's degree is O(total rows), the worst case the
            # AA_MAX_DEG bound exists for.
            h = F.abs(F.xxhash64("l_orderkey", "l_linenumber", F.lit("skew7")))
            j = F.pmod(h, F.lit(1023)) + 1
            hot_key = (F.lit(9) - F.floor(F.log2(j.cast("double")))).cast("long")
            big = big.withColumn(
                "l_partkey",
                F.when(F.pmod(h, F.lit(5)) == 0, hot_key).otherwise(F.col("l_partkey")),
            )
        big.drop("__rep").write.mode("overwrite").parquet(out)


def main() -> int:
    skew = "--skew" in sys.argv
    argv = [a for a in sys.argv[1:] if a != "--skew"]
    n = int(argv[0]) if argv and argv[0].isdigit() else 10
    names = [a for a in argv if not a.isdigit()] or DEFAULT_QUERIES
    base = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    work = os.environ.get("PGSF_SCALE_DIR", "/tmp/pgsf_scale_check")

    from pgsf_spark.analytics.registry import QUERIES
    from pgsf_spark.session import get_spark
    from pgsf_spark.tables import load_table

    unknown = [q for q in names if q not in QUERIES]
    if unknown:
        print(json.dumps({"error": f"unknown queries {unknown}"}))
        return 2
    spark = get_spark("pgsf_scale_check")
    try:
        build_scaled(spark, base, work, n, skew=skew)
        tag_nx = f"{n}x-skew" if skew else f"{n}x"
        results = {}
        for sf, tag in ((base, "base"), (work, tag_nx)):
            load_table(spark, sf, "documents").count()  # warm
            for name in names:
                t0 = time.time()
                QUERIES[name].fn(spark, sf).count()
                results.setdefault(name, {})[tag] = round(time.time() - t0, 2)
        for name, r in results.items():
            r["ratio"] = round(r[tag_nx] / max(r["base"], 0.01), 2)
            print(json.dumps({"query": name, "scale": n, "skew": skew, **r}))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
