"""Semi-structured data + Python-engine surfaces.

Eight of the family's nine queries live here (the ninth,
``statestore_read_gate``, is a streaming-checkpoint face in
``streaming/faces.py``), each locking an API surface the registry does
not yet exercise behind the usual DuckDB-oracle gate:

  1. VARIANT shredding        -- parse_json -> try_variant_get typed paths
                                 (Spark 4 VARIANT: the open-ended-schema
                                 column type a 100 TB ingest layer uses
                                 before schemas stabilize)
  2. VARIANT type inference   -- schema_of_variant over heterogeneous JSON
  3. from_json PERMISSIVE     -- nested-schema parse with deterministic
                                 corrupt rows nulled, never crashed
  4. map-typed reshaping      -- map_from_entries / transform_values /
                                 map_filter / explode(map_entries)
  5. higher-order array chain -- transform / zip_with / filter / aggregate
                                 in ONE whole-stage-codegen projection
  6. Python UDTF              -- @udtf(useArrow=True) lateral expansion
                                 (Spark 4 table function: the escape hatch
                                 for per-row fan-out logic SQL can't say)
  7. mapInArrow               -- zero-copy Arrow batch transform via
                                 pyarrow.compute (no pandas materialize)

Scale notes: 1-5 are single-projection plans (no new shuffles beyond
their final bounded aggregation); 6 fans out via LATERAL exactly like
posexplode and aggregates map-side; 7 streams Arrow record batches
through the Python worker without row conversion -- at 100 TB each is
partition-parallel with no driver-side state.

The JSON columns in 1-3 are CONSTRUCTED deterministically from base
table columns inside the query, so each gate pins the full round trip
(construct -> parse -> extract == identity) while the oracle computes
straight from the base columns; parse bugs, escaping bugs, and cast
bugs all surface as hash mismatches.

Measured fidelity boundaries (pinned by
tests/test_semistructured.py::TestSemiStructuredEscaping on pyspark 4.1.2):
JSON/VARIANT round-trips every string exactly, control characters
included; XML 1.0 cannot represent control chars (< 0x20 except
tab/newline/CR) and to_xml FAILS LOUDLY on them, and from_xml trims
surrounding whitespace unless ignoreSurroundingSpaces=false -- a
mixed-format pipeline routes control-char payloads over JSON/VARIANT.

Reference parity note: the reference engine has no semi-structured or
Python-engine surface (reference soql.py / api.py are flat SOQL
projections); everything here is beyond-reference training-pipeline
surface, designed Spark-first.

Registered in registry.py; gated by tests/test_registry.py with the same
verify-vs-DuckDB machinery the driver uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgsf_spark.analytics.oracle_utils import dsum
from pgsf_spark.tables import load_table


# --- 1. variant_shred ---------------------------------------------------------


def q_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT shredding round trip over orders.

    Each order is rendered to a nested JSON document, parsed into a
    Spark 4 VARIANT, and shredded back out through ``try_variant_get``
    with typed paths: a string, a double, a nested int path, a MISSING
    path (must yield NULL, not an error), and a wrong-type cast (the
    priority string as int -- try_ semantics: NULL). The aggregate
    compares every extraction against the base columns the JSON was
    built from, so JSON escaping, variant binary encoding, and path
    navigation are all pinned by the hash."""
    o = load_table(spark, sf_dir, "orders")
    js = o.select(
        F.to_json(
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.col("o_totalprice").alias("total"),
                F.struct(
                    F.year("o_orderdate").alias("y"),
                    F.month("o_orderdate").alias("m"),
                ).alias("d"),
                F.col("o_orderpriority").alias("prio"),
            )
        ).alias("js")
    )
    v = js.select(F.parse_json(F.col("js")).alias("v"))
    shred = v.select(
        F.try_variant_get("v", "$.status", "string").alias("status"),
        F.try_variant_get("v", "$.total", "double").alias("total"),
        F.try_variant_get("v", "$.d.y", "int").alias("yr"),
        F.try_variant_get("v", "$.missing", "string").alias("missing"),
        F.try_variant_get("v", "$.prio", "int").alias("prio_int"),
    )
    return (
        shred.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("total")).alias("sum_total"),
            F.countDistinct("yr").alias("n_years"),
            F.count("missing").alias("n_missing"),
            F.count("prio_int").alias("n_prio_int"),
        )
        .orderBy("status")
    )


# --- 2. variant_typeof_profile -------------------------------------------------


def q_variant_typeof_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """schema_of_variant over a heterogeneous JSON column.

    One column holds four JSON shapes (number / string / array / object,
    chosen by doc_id % 4); parse_json + schema_of_variant must report
    the exact Spark type string for each shape, and the per-shape
    counts/extremes must match the base-column arithmetic. Pins the
    VARIANT type-inference strings (BIGINT / STRING / ARRAY<BIGINT> /
    OBJECT<k: BIGINT>) so an engine upgrade that renames them fails this
    gate loudly instead of silently downstream."""
    d = load_table(spark, sf_dir, "documents")
    # a bare JSON string literal with REAL escaping: to_json(array(lang))
    # renders '["<escaped>"]'; stripping the brackets leaves the quoted
    # scalar (string concat alone would break on a quote/backslash in the
    # value -- the failure mode TestSemiStructuredEscaping pins)
    bare_str = F.expr(
        "substring(to_json(array(lang)), 2, length(to_json(array(lang))) - 2)"
    )
    js = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0, F.col("n_chars").cast("string"))
        .when(F.col("doc_id") % 4 == 1, bare_str)
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit("["),
                F.col("n_chars").cast("string"),
                F.lit(","),
                (F.col("doc_id") % 10).cast("string"),
                F.lit("]"),
            ),
        )
        .otherwise(
            F.concat(F.lit('{"k":'), F.col("n_chars").cast("string"), F.lit("}"))
        )
        .alias("js"),
    )
    v = js.select("doc_id", F.parse_json("js").alias("v"))
    return (
        v.select("doc_id", F.schema_of_variant("v").alias("vtype"))
        .groupBy("vtype")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("vtype")
    )


# --- 3. from_json_corrupt_gate --------------------------------------------------


def q_from_json_corrupt_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json with a nested schema under deterministic corruption.

    Every 7th document's JSON (doc_id % 7 == 3) is truncated two bytes
    short of valid; PERMISSIVE from_json must null the parsed fields for
    exactly those rows and parse everything else intact -- the ingest
    contract at 100 TB, where some fraction of every feed is malformed
    and a crash-per-bad-row engine never finishes. The aggregate splits
    corpus stats by validity, both sides pinned to base-column math."""
    d = load_table(spark, sf_dir, "documents")
    js = d.select(
        "doc_id",
        "source",
        F.to_json(
            F.struct(
                F.col("lang"),
                F.col("n_chars"),
                F.struct(F.col("source").alias("s")).alias("meta"),
            )
        ).alias("js"),
    )
    corrupted = js.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 7 == 3,
            F.expr("substring(js, 1, length(js) - 2)"),
        )
        .otherwise(F.col("js"))
        .alias("js"),
    )
    parsed = corrupted.select(
        "doc_id",
        "source",
        F.from_json(
            "js",
            "lang string, n_chars long, meta struct<s: string>",
            {"mode": "PERMISSIVE"},
        ).alias("p"),
    )
    return (
        parsed.select(
            "doc_id",
            "source",
            F.col("p.n_chars").isNotNull().alias("valid"),
            F.col("p.n_chars").alias("nc"),
            (F.col("p.meta.s") == F.col("source")).alias("meta_ok"),
        )
        .groupBy("valid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("nc").alias("sum_chars"),
            F.sum(F.col("meta_ok").cast("long")).alias("n_meta_ok"),
            F.countDistinct("source").alias("n_sources"),
        )
        .orderBy("valid")
    )


# --- 4. map_reshape_gate --------------------------------------------------------


def q_map_reshape_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed reshaping: counts -> map<lang,n> per source -> back to rows.

    Per-source language counts are folded into a MapType column
    (map_from_entries over a sorted entry list -- keys are unique by
    construction), the total is reduced from map_values with
    F.aggregate, per-language shares come from transform_values, the
    multi-hit languages from map_filter, and the map explodes back to
    rows via map_entries. The whole reshape is one narrow projection
    after a single groupBy -- maps never shuffle as maps."""
    d = load_table(spark, sf_dir, "documents")
    cnt = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    m = cnt.groupBy("source").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("lang", "n")))
        ).alias("m")
    )
    tot = F.aggregate(F.map_values("m"), F.lit(0).cast("bigint"), lambda a, x: a + x)
    return (
        m.select(
            "source",
            tot.alias("total_docs"),
            F.size(F.map_filter("m", lambda k, v: v >= 5)).alias("n_langs_5plus"),
            F.explode(
                F.map_entries(
                    F.transform_values("m", lambda k, v: F.round(v / tot, 6))
                )
            ).alias("e"),
        )
        .select(
            "source",
            F.col("e.key").alias("lang"),
            F.col("e.value").alias("share"),
            "total_docs",
            "n_langs_5plus",
        )
        .orderBy("source", "lang")
    )


# --- 5. higher_order_chain ------------------------------------------------------


def q_higher_order_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transform / zip_with / filter / aggregate in one codegen projection.

    Per embedding vector: the reverse-dot (zip_with the vector against
    its reverse, aggregate the products in exact DECIMAL), the positive
    count (filter + size), and the L1 norm (transform to |x|, aggregate
    in DECIMAL). No explode, no shuffle, no Python -- the entire chain
    compiles into whole-stage codegen over the array column; the oracle
    recomputes it relationally via generate_subscripts. Element lambdas
    are single-arg (two-arg F.transform lambdas receive the INDEX as the
    second argument -- the repo-wide pitfall this gate also pins)."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    prods = F.zip_with(v, F.reverse(v), lambda a, b: (a * b).cast("decimal(20,10)"))
    # the merge lambda must return the accumulator type EXACTLY; decimal
    # addition widens (27,10)+(20,10) -> (28,10), so cast back each step
    # (lossless here: |x| <= ~1, dim 64, so the running sum fits (27,10))
    revdot = F.aggregate(
        prods,
        F.lit(0).cast("decimal(27,10)"),
        lambda acc, x: (acc + x).cast("decimal(27,10)"),
    ).cast("double")
    npos = F.size(F.filter(v, lambda x: x > 0))
    l1 = F.aggregate(
        F.transform(v, lambda x: F.abs(x).cast("decimal(20,10)")),
        F.lit(0).cast("decimal(27,10)"),
        lambda acc, x: (acc + x).cast("decimal(27,10)"),
    ).cast("double")
    return e.select(
        "vec_id",
        F.round(revdot, 6).alias("rev_dot"),
        npos.alias("n_pos"),
        F.round(l1, 6).alias("l1_norm"),
    ).orderBy("vec_id")


# --- 5b. xml_shred_gate ---------------------------------------------------------


def q_xml_shred_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML shredding round trip (Spark 4 to_xml / from_xml).

    Same round-trip-identity design as the VARIANT gate, over the OTHER
    semi-structured wire format enterprise feeds actually arrive in:
    each order renders to an XML fragment (nested element included),
    from_xml parses it back against an explicit schema, and the
    aggregate pins every extracted field to base-column math. Escaping,
    element nesting, and numeric round-tripping all hash-gated."""
    o = load_table(spark, sf_dir, "orders")
    x = o.select(
        F.to_xml(
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.col("o_totalprice").alias("total"),
                F.struct(
                    F.year("o_orderdate").alias("y"),
                    F.month("o_orderdate").alias("m"),
                ).alias("d"),
            )
        ).alias("xml")
    )
    p = x.select(
        F.from_xml(
            "xml", "status string, total double, d struct<y: int, m: int>"
        ).alias("p")
    )
    return (
        p.select(
            F.col("p.status").alias("status"),
            F.col("p.total").alias("total"),
            (F.col("p.d.y") * 100 + F.col("p.d.m")).alias("ym"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("total")).alias("sum_total"),
            F.countDistinct("ym").alias("n_year_months"),
        )
        .orderBy("status")
    )


# --- 6. udtf_bigram_topk --------------------------------------------------------

_BIGRAM_TOPK = 15


def q_udtf_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Arrow-optimized) lateral bigram expansion + top-k.

    The UDTF receives the SQL-normalized text (normalization stays in
    the engine so both engines tokenize identically) and yields one row
    per adjacent token pair; a LATERAL join fans it out and a global
    count/top-k with a total tie-break closes the gate. This is the
    Spark 4 table-function surface -- per-row fan-out logic that is
    genuinely imperative lives here, not in a scalar UDF; useArrow
    batches the transfer. Bounded output: top-15 global rows."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="gram: string", useArrow=True)
    class Bigrams:
        def eval(self, text: str):  # noqa: D401 - UDTF contract
            if not text:
                return
            toks = text.split(" ")
            for i in range(len(toks) - 1):
                yield (toks[i] + " " + toks[i + 1],)

    spark.udtf.register("pgsf_bigrams", Bigrams)
    d = load_table(spark, sf_dir, "documents")
    d.select("doc_id", "text").createOrReplaceTempView("pgsf_udtf_docs")
    grams = spark.sql(
        """
        SELECT b.gram
        FROM pgsf_udtf_docs,
        LATERAL pgsf_bigrams(lower(regexp_replace(trim(text), '\\\\s+', ' '))) b
        """
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("gram"))
        .limit(_BIGRAM_TOPK)
    )


# --- 6b. python_datasource_gate -------------------------------------------------


def q_python_datasource_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark 4 Python DataSource API, with real pushdown.

    Reads documents through the custom ``entity_pages`` source
    (sources/pyds.py: the reference's paged REST cursor re-expressed as
    partition-parallel row-group pages) with column pruning via the
    ``fields`` option and a typed filter consumed by ``pushFilters`` --
    the plan's BatchScan carries no n_chars post-filter because the
    source handled it (stats skip + Arrow batch filter). The oracle
    recomputes from the plain table, so the whole custom read path --
    schema derivation, pagination, pruning, pushdown, Arrow batches --
    is hash-pinned."""
    import os

    from pgsf_spark.sources import pyds

    pyds.register(spark)
    # Python-source filter pushdown ships conf-gated; the source asserts
    # loudly if pushFilters is implemented while the conf is off. The conf
    # is session-wide, so run the read EAGERLY under it and restore the
    # prior value in finally (the faces._run discipline) -- a leaked
    # conf-set would silently change planning for every later query in
    # the same session (ADVICE r10).
    _key = "spark.sql.python.filterPushdown.enabled"
    _old = spark.conf.get(_key, None)
    spark.conf.set(_key, "true")
    try:
        df = (
            spark.read.format("entity_pages")
            .option("path", os.path.join(sf_dir, "documents.parquet"))
            .option("fields", "doc_id,source,n_chars")
            .load()
        )
        # tiny per-source aggregate: the eager checkpoint pins the result
        # (and the pushdown-planned scan) while the conf is still on
        return (
            df.filter(F.col("n_chars") > 300)
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("sum_chars"),
                F.min("doc_id").alias("min_doc"),
            )
            .orderBy("source")
            .localCheckpoint(eager=True)
        )
    finally:
        if _old is None:
            spark.conf.unset(_key)
        else:
            spark.conf.set(_key, _old)


# --- 7. arrow_map_profile -------------------------------------------------------


def q_arrow_map_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow byte/char profile -- the zero-copy Python batch path.

    Arrow record batches flow through pyarrow.compute (utf8_length for
    characters, binary_length for encoded bytes) with no pandas
    materialization and no per-row Python; the per-source aggregate is
    then pure JVM. This is the fastest Python escape hatch Spark has --
    the gate pins both the plumbing (schema in/out) and the numbers."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def profile(batches):
        for b in batches:
            src = b.column(b.schema.get_field_index("source"))
            txt = b.column(b.schema.get_field_index("text"))
            t = pa.table(
                {
                    "source": src,
                    "nchars": pc.cast(pc.utf8_length(txt), pa.int64()),
                    "nbytes": pc.cast(pc.binary_length(txt), pa.int64()),
                }
            )
            yield from t.to_batches()

    d = load_table(spark, sf_dir, "documents")
    prof = d.select("source", "text").mapInArrow(
        profile, "source string, nchars bigint, nbytes bigint"
    )
    return (
        prof.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nchars").alias("sum_chars"),
            F.sum("nbytes").alias("sum_bytes"),
            F.max("nchars").alias("max_chars"),
        )
        .orderBy("source")
    )
