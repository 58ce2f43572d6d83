"""Text-analysis operators over the documents table (training-data pipeline).

All pure pyspark.sql.functions -- JVM-side, whole-stage-codegen'd, no Python
in the hot path. Each has an exact DuckDB oracle (registry.py).

At 100 TB the documents table is hash-partitioned by doc_id; every operator
here is embarrassingly parallel (no shuffle except final aggregates).
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf string type hints resolve

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pgsf_spark.tables import load_table

# Tiny per-language stopword markers for the n-gram/stopword-ratio heuristic
# language id. Deterministic and cheap: count marker-token hits per language,
# argmax with a fixed precedence order.
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "in"),
    "fr": ("le", "la", "les", "et", "des"),
    "de": ("der", "die", "das", "und", "nicht"),
    "es": ("el", "los", "las", "y", "del"),
}


def _tokens(col):
    return F.split(F.trim(col), r"\s+")


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + distinct-token ratio per doc."""
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.round(F.size(F.array_distinct(toks)) / F.size(toks), 4).alias("distinct_ratio"),
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc quality heuristics: length, mean word length, short-token ratio,
    digit ratio -- the standard cheap pre-filters for LLM corpus cleaning."""
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n_tok = F.size(toks)
    short = F.size(F.filter(toks, lambda t: F.length(t) <= 3))
    digits = F.length(F.regexp_replace(F.col("text"), r"[^0-9]", ""))
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        n_tok.alias("n_tokens"),
        F.round(F.length(F.regexp_replace(F.col("text"), r"\s+", "")) / n_tok, 4).alias("mean_word_len"),
        F.round(short / n_tok, 4).alias("short_token_ratio"),
        digits.alias("n_digits"),
    )


def _lang_guessed(d: DataFrame) -> DataFrame:
    """(doc_id, lang, lang_guess): marker-token argmax with fixed
    precedence (en > fr > de > es), 'und' when all scores are zero --
    shared by q_lang_id and q_langid_macro_f1."""
    toks = F.array_distinct(_tokens(F.lower(F.col("text"))))
    scores = [
        F.size(F.array_intersect(toks, F.array(*[F.lit(m) for m in marks]))).alias(f"score_{lang}")
        for lang, marks in LANG_MARKERS.items()
    ]
    scored = d.select("doc_id", "lang", *scores)
    guess = F.lit("und")
    best = F.lit(0)
    for lang in LANG_MARKERS:  # later langs win only with strictly higher score
        cond = F.col(f"score_{lang}") > best
        guess = F.when(cond, F.lit(lang)).otherwise(guess)
        best = F.when(cond, F.col(f"score_{lang}")).otherwise(best)
    return scored.withColumn("lang_guess", guess).select("doc_id", "lang", "lang_guess")


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID vs the labeled lang column; emits the
    confusion pair (guess, label) with counts."""
    d = load_table(spark, sf_dir, "documents")
    return _lang_guessed(d).groupBy("lang", "lang_guess").agg(F.count(F.lit(1)).alias("n"))


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of the normalized text (exact-dup key)
    + a cheap 8-hex prefix bucket usable for sharded dedup."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    return d.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        F.substring(F.md5(norm), 1, 2).alias("shard"),
    )


PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?\d[\d\s().-]{7,}\d",
    "ssn_like": r"\b\d{3}-\d{2}-\d{4}\b",
}


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII pre-filter for corpus cleaning: per-source counts of documents
    matching email/phone/SSN-shaped patterns. Pure regexp projections --
    scan-parallel, no shuffle except the final small agg."""
    d = load_table(spark, sf_dir, "documents")
    flags = [
        (F.col("text").rlike(pat)).cast("int").alias(f"has_{name}")
        for name, pat in PII_PATTERNS.items()
    ]
    return (
        d.select("source", *flags)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            *[F.sum(f"has_{name}").alias(f"n_{name}") for name in PII_PATTERNS],
        )
    )


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking for training: 64-token chunks, stride 48
    (16-token overlap). Emits (doc_id, chunk_idx, chunk_tokens) -- the chunk
    layout, not the text, to keep the oracle compact.

    posexplode over a computed index range: fan-out is columnar, no UDF;
    at 100 TB this is the map-side of the tokenize->chunk->shuffle-by-chunk
    pipeline."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    # chunk starts: 0, 48, 96, ... while start < n
    starts = F.sequence(F.lit(0), F.greatest(F.col("n") - 1, F.lit(0)), F.lit(48))
    return (
        d.select("doc_id", F.size(toks).alias("n"))
        .select("doc_id", "n", F.posexplode(starts).alias("chunk_idx", "start"))
        .select(
            "doc_id",
            "chunk_idx",
            F.least(F.lit(64), F.col("n") - F.col("start")).alias("chunk_tokens"),
        )
    )


# "BPE-ish" segmentation: lowercase runs, digit runs, and single
# non-alphanumeric marks -- the regex approximation of subword tokenizers'
# pre-tokenization pass (identical RE2/Java semantics for this pattern).
BPE_ISH_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, whitespace vs BPE-ish regex (both per doc).

    regexp_extract_all keeps everything columnar; the ratio column shows
    the subword blow-up factor a trainer would see."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text")))
    ws = F.size(F.split(norm, r"\s+"))
    bpe = F.size(F.regexp_extract_all(norm, F.lit(BPE_ISH_PATTERN), 0))
    return d.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        F.round(bpe / ws, 4).alias("subword_ratio"),
    )


def q_top_tfidf_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each document's highest-TF-IDF term: the classic corpus-keyword
    operator. Term frequencies explode map-side and aggregate by (doc,
    token); document frequencies reuse that aggregate (one extra shuffle on
    token); the final top-1 is a window over the doc key."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    tokens = d.select("doc_id", F.size(toks).alias("n_tok"), F.explode(toks).alias("token"))
    tf = tokens.groupBy("doc_id", "n_tok", "token").agg(F.count(F.lit(1)).alias("c"))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.count()  # tiny scalar; at scale use a broadcast subquery
    scored = tf.join(df_, "token").withColumn(
        "tfidf", (F.col("c") / F.col("n_tok")) * F.log(F.lit(float(n_docs)) / F.col("df"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("token").alias("top_term"), F.round("tfidf", 6).alias("tfidf"))
    )


def q_token_stats_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_token_stats re-implemented on the Pandas-UDF path (Arrow batches).

    Exists to prove the engine's Python escape hatch produces results
    identical to the JVM expressions -- same oracle as token_stats. Use the
    JVM version in production; this is the pattern for logic Spark
    expressions genuinely can't say."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def n_tokens(texts: pd.Series) -> pd.Series:
        return texts.str.strip().str.split(r"\s+").str.len().astype("int32")

    @pandas_udf("int")
    def n_distinct_tokens(texts: pd.Series) -> pd.Series:
        return texts.str.strip().str.split(r"\s+").map(lambda t: len(set(t))).astype("int32")

    d = load_table(spark, sf_dir, "documents")
    d = d.repartition(d.sparkSession.sparkContext.defaultParallelism)
    return d.select(
        "doc_id",
        n_tokens("text").alias("n_tokens"),
        n_distinct_tokens("text").alias("n_distinct_tokens"),
        F.round(n_distinct_tokens("text") / n_tokens("text"), 4).alias("distinct_ratio"),
    )


def q_docs_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
    )


def q_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE vocabulary-induction step: global frequency of adjacent
    character pairs inside words, top 20 -- the merge-candidate table a BPE
    trainer computes each round (Sennrich et al. 2016).

    All columnar: words explode map-side, the pair fan-out is a transform
    over an index sequence (no Python), and the count aggregates with
    map-side partials on a key space bounded by |alphabet|^2 -- the final
    top-20 is TakeOrderedAndProject. At 100 TB this is one scan + one
    tiny-key shuffle, the same plan a vocab trainer wants."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, char_length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


BPE_ROUNDS = 8  # merge rounds unrolled in the oracle SQL
BPE_MAX_WORD = 24  # bound symbol count so the oracle's pair fan-out is fixed


def q_bpe_vocab_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE vocabulary induction (Sennrich et al. 2016), the full
    trainer loop -- not just one merge step (q_bpe_merge_pairs): each round
    counts adjacent-symbol pairs over the distinct-word table (weighted by
    corpus frequency), picks the argmax merge, and re-segments every word.
    Output is the learned merge table (round, pair, n) for BPE_ROUNDS
    rounds -- the artifact a tokenizer trainer persists.

    Spark-first mechanics, no driver collect anywhere: words are rendered
    as pipe-delimited symbol strings ("|h||e||y|"), so re-segmentation is
    ONE builtin string replace per round -- "|a||b|" -> "|ab|" is boundary-
    safe (a symbol can never match across "||" separators) and replace()'s
    left-to-right non-overlapping scan is exactly BPE's leftmost-first
    merge order, with identical semantics in DuckDB for the oracle. The
    winning pair stays a 1-row DataFrame crossJoined via broadcast into the
    re-segmentation (the kmeans/pagerank iterative-template pattern), and
    the word table is localCheckpointed per round to keep plans flat. At
    100 TB the heavy groupBy runs over DISTINCT WORDS (vocab-sized, not
    corpus-sized) with map-side partial aggregation -- the standard trainer
    trick; the corpus is scanned exactly once to build frequencies."""
    merges, _reprs = _bpe_train(spark, sf_dir)
    out = merges[0]
    for m in merges[1:]:
        out = out.union(m)
    return out.orderBy("round")


def _bpe_train(spark: SparkSession, sf_dir: str):
    """Shared BPE trainer loop: returns (per-round merge DataFrames, the
    final re-segmented word table). See q_bpe_vocab_rounds for mechanics."""
    from pgsf_spark.analytics.dedup import _norm_text

    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(_norm_text(F.col("text")), " ")).alias("w"))
        .filter(F.length("w").between(2, BPE_MAX_WORD))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # "hey" -> "|h||e||y|": every symbol wrapped in pipes
    reprs = words.select(
        F.regexp_replace("w", "(.)", r"|$1|").alias("repr"), "freq"
    ).localCheckpoint()

    merges = []
    for rnd in range(1, BPE_ROUNDS + 1):
        syms = F.split(F.expr("trim(BOTH '|' FROM repr)"), r"\|\|")
        pairs = (
            reprs.select(syms.alias("syms"), "freq")
            .filter(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> struct(element_at(syms, i) as sa, element_at(syms, i + 1) as sb))"
                    )
                ).alias("p"),
                "freq",
            )
            .select("p.sa", "p.sb", "freq")
        )
        winner = (
            pairs.groupBy("sa", "sb")
            .agg(F.sum("freq").cast("bigint").alias("n"))
            .orderBy(F.col("n").desc(), "sa", "sb")
            .limit(1)
        ).localCheckpoint()
        merges.append(
            winner.select(
                F.lit(rnd).alias("round"),
                F.concat_ws(" ", "sa", "sb").alias("pair"),
                "n",
            )
        )
        search = F.concat(F.lit("|"), F.col("sa"), F.lit("||"), F.col("sb"), F.lit("|"))
        repl = F.concat(F.lit("|"), F.col("sa"), F.col("sb"), F.lit("|"))
        reprs = (
            reprs.crossJoin(F.broadcast(winner))
            .select(F.replace("repr", search, repl).alias("repr"), "freq")
            .localCheckpoint()
        )
    return merges, reprs


def q_bpe_apply_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer APPLICATION half: segment the corpus with the learned
    BPE merge table and report the top-20 resulting tokens by corpus
    frequency -- train (q_bpe_vocab_rounds) and apply together are the full
    tokenizer lifecycle a training-data pipeline runs.

    Application cost at 100 TB: the merge table is tiny (BPE_ROUNDS rows,
    broadcast); segmentation applies it to the DISTINCT-WORD table, and the
    corpus-level token histogram is word-frequency-weighted -- the corpus
    itself is never re-scanned after the frequency pass."""
    _merges, reprs = _bpe_train(spark, sf_dir)
    syms = F.split(F.expr("trim(BOTH '|' FROM repr)"), r"\|\|")
    return (
        reprs.select(F.explode(syms).alias("token"), "freq")
        .groupBy("token")
        .agg(F.sum("freq").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(20)
    )


# --- winnowing fingerprints (Schleimer et al. 2003, the MOSS algorithm) -----

WINNOW_K = 5  # char-gram length
WINNOW_W = 4  # window of consecutive gram hashes


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection per document: hash all K-char grams,
    keep the minimum hash of every W-length window -- the position-robust
    subset the MOSS plagiarism detector stores. Guarantees any shared
    substring of length >= K+W-1 yields a shared fingerprint.

    Entirely array-native (no explode until nothing remains to explode):
    grams, hashes, and window minima are transform/slice chains inside one
    projection, so per-doc cost is linear and the plan is a pure scan --
    at 100 TB the fingerprint index build is shuffle-free until the final
    (small) per-doc summary."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    k, w = WINNOW_K, WINNOW_W
    grams = F.expr(
        f"transform(sequence(1, greatest(char_length(norm) - {k - 1}, 1)), i -> substring(norm, i, {k}))"
    )
    hashes = F.expr(
        "transform(grams, g -> cast(conv(substring(md5(g), 1, 8), 16, 10) as long))"
    )
    sel = F.expr(
        f"transform(sequence(1, greatest(size(hashes) - {w - 1}, 1)), j -> array_min(slice(hashes, j, {w})))"
    )
    return (
        d.select("doc_id", norm.alias("norm"))
        .select("doc_id", grams.alias("grams"))
        .select("doc_id", F.size("grams").alias("n_grams"), hashes.alias("hashes"))
        .select("doc_id", "n_grams", sel.alias("sel"))
        .select(
            "doc_id",
            "n_grams",
            F.size("sel").alias("n_windows"),
            F.size(F.array_distinct("sel")).alias("n_fingerprints"),
            F.array_min("sel").alias("min_fp"),
        )
    )


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-health diagnostic: coverage of each source's text by the
    corpus-global top-1000 token vocabulary (the out-of-vocabulary rate a
    fixed-vocab tokenizer would see per source).

    Plan: one explode->count shuffle builds token frequencies; the top-K
    cut is a tiny TakeOrdered; the vocab then BROADCASTS back over the
    exploded corpus (the big side never reshuffles for the membership
    test), and two keyed aggregates (doc, then source) roll up. At 100 TB
    the vocab stays K rows regardless of corpus size -- the canonical
    small-dim broadcast pattern. Ratios stay raw doubles (bit-identical
    across engines); only the decimal-accumulated mean is rounded.
    """
    from pgsf_spark.analytics.dedup import _norm_text

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "source", F.explode(F.split(_norm_text(F.col("text")), " ")).alias("token")
    )
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(1000)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    per_doc = (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.coalesce(F.sum("in_vocab"), F.lit(0)).cast("bigint").alias("covered"),
        )
        .withColumn("cov", F.col("covered") / F.col("total"))
    )
    dec = "decimal(27,8)"
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.sum(F.col("cov").cast(dec)).cast("double") / F.count("cov"), 6).alias("mean_coverage"),
            F.min("cov").alias("min_coverage"),
            (F.sum("total") - F.sum("covered")).alias("oov_tokens"),
        )
        .orderBy("source")
    )


CMS_D = 4  # hash rows
CMS_W = 256  # counters per row


def q_cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable COUNT-MIN SKETCH: estimate token frequencies from a
    4x256 counter matrix and report estimate vs exact for the top-10
    tokens (CMS guarantees estimate >= exact; the overestimate column
    shows collision inflation). Completes the portable-sketch family with
    the frequency sketch -- md5 + integer ops only, so hash-exact in the
    oracle like the HLL/KMV/Bloom siblings.

    Distributed shape: the sketch is groupBy(row, col) -> COUNT -- 1024
    result rows from one shuffle, and counter matrices MERGE by cell-wise
    addition (the partial aggregates Spark already computes map-side), so
    a 100 TB corpus reduces to the same 1024 rows. Probes join the sketch
    BROADCAST: frequency estimation for any number of keys without
    re-scanning the corpus.
    """
    from pgsf_spark.analytics.dedup import _norm_text

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split(_norm_text(F.col("text")), " ")).alias("token"))

    def cells(col):
        out = []
        for i in range(CMS_D):
            h = F.conv(
                F.substring(F.md5(F.concat(F.lit(f"cms{i}:"), col)), 1, 8), 16, 10
            ).cast("long")
            out.append(
                F.struct(F.lit(i).alias("row"), (h % CMS_W).cast("int").alias("col"))
            )
        return F.array(*out)

    sketch = (
        tok.select(F.explode(cells(F.col("token"))).alias("c"))
        .select("c.row", "c.col")
        .groupBy("row", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.col("exact_count").desc(), "token")
        .limit(10)
    )
    probes = top.select(
        "token", "exact_count", F.explode(cells(F.col("token"))).alias("p")
    ).select("token", "exact_count", "p.row", "p.col")
    return (
        probes.join(F.broadcast(sketch), ["row", "col"], "left")
        .groupBy("token", "exact_count")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_estimate"))
        .select(
            "token",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count")).alias("overestimate"),
        )
        .orderBy(F.col("exact_count").desc(), "token")
    )


ZIPF_TOP = 100


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the token frequency distribution: OLS slope of
    ln(freq) on ln(rank) over the top ZIPF_TOP tokens (natural corpora sit
    near -1; a synthetic or templated corpus shows up immediately as a
    flat slope -- a one-number corpus-naturalness probe next to the
    diversity and repetition gates).

    The top-K table is tiny (TakeOrdered); ln runs once per row (the
    dsir_weights parity precedent) and the OLS moments accumulate in
    DECIMAL, so the slope is hash-stable. Rank ties broken by token."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(_tokens(F.lower(F.col("text")))).alias("token"))
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    # TakeOrdered FIRST (per-partition top-K + driver merge), THEN rank the
    # <= ZIPF_TOP survivors -- the window never sees the full vocabulary
    # (the previous form ranked every token through one partition)
    w = Window.orderBy(F.col("freq").desc(), F.col("token"))
    top = (
        freq.orderBy(F.col("freq").desc(), F.col("token"))
        .limit(ZIPF_TOP)
        .withColumn("rank", F.row_number().over(w))
    )
    pts = top.select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    dec = "decimal(27,12)"
    m = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double").alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).cast("double").alias("sxy"),
    )
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    )
    return m.select(
        F.col("n").alias("n_tokens"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round(
            F.col("sy") / F.col("n") - slope * F.col("sx") / F.col("n"), 4
        ).alias("intercept"),
    )


AMS_K = 32  # independent +/-1 sign estimators
AMS_SEED = "ams6"


def q_ams_f2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS (Alon-Matias-Szegedy) second-frequency-moment sketch over the
    token stream, audited against the exact value. F2 = sum of squared
    token frequencies is the SELF-JOIN SIZE of the token table -- the
    quantity a distributed planner wants BEFORE committing to a join
    (estimate the blow-up without computing it). The sketch is AMS_K
    seeded +/-1 sign projections X_j = sum c(t)*s_j(t); each X_j^2 is an
    unbiased F2 estimator and the audit reports the mean-of-K estimate
    next to the exact answer with its relative error.

    Determinism: signs come from one md5 nibble per (seed_j, token) --
    engine-portable, no RNG; X_j accumulate as DECIMAL(38,0) over exact
    integers so the estimate is bit-identical everywhere. Scale shape:
    one token-count aggregate (the same shuffle top_tokens runs), then
    the sign table is VOCABULARY-sized and the K partial sums are
    mergeable -- at 100 TB the X_j fold map-side like any partial agg,
    which is the whole point of a linear sketch."""
    from pgsf_spark.analytics.dedup import _norm_text

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split(_norm_text(F.col("text")), " ")).alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))

    def sign(j: int):
        nib = F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{AMS_SEED}{j}:"), F.col("token"))), 1, 1),
            16,
            10,
        ).cast("int")
        return (nib % 2) * 2 - 1

    aggs = [
        F.sum((F.col("c") * sign(j)).cast("decimal(38,0)")).cast("long").alias(f"x{j}")
        for j in range(AMS_K)
    ]
    g = counts.agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)")).cast("long").alias("exact_f2"),
        *aggs,
    )
    sumsq = None
    for j in range(AMS_K):
        t = F.col(f"x{j}") * F.col(f"x{j}")
        sumsq = t if sumsq is None else sumsq + t
    est = F.round(sumsq.cast("double") / AMS_K, 4)
    return g.select(
        "n_tokens",
        "n_distinct",
        "exact_f2",
        est.alias("ams_f2"),
        F.round(
            F.abs(est - F.col("exact_f2")) / F.col("exact_f2"), 6
        ).alias("rel_error"),
    )


def q_bpe_fertility_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per source: tokens-per-word and
    chars-per-token after applying the learned BPE merge table -- the
    metric that tells a training pipeline which sources tokenize
    EXPENSIVELY (high fertility = more sequence length per character =
    more compute per document; the standard readout when choosing
    vocabulary size or auditing a multilingual mix).

    The corpus-level merge table is learned once (the q_bpe_vocab_rounds
    trainer); per-word token counts come from the final re-segmented
    DISTINCT-WORD table (tiny, broadcast -- word recovered by stripping
    the pipe markers), and the per-(source, word) frequency table joins
    against it, so the corpus is scanned once for frequencies and never
    re-segmented per row. One (source, word) shuffle + one broadcast
    join at any scale."""
    from pgsf_spark.analytics.dedup import _norm_text

    _merges, reprs = _bpe_train(spark, sf_dir)
    syms = F.split(F.expr("trim(BOTH '|' FROM repr)"), r"\|\|")
    per_word = reprs.select(
        F.replace(F.col("repr"), F.lit("|"), F.lit("")).alias("w"),
        F.size(syms).alias("n_tokens"),
    )
    d = load_table(spark, sf_dir, "documents")
    sw = (
        d.select("source", F.explode(F.split(_norm_text(F.col("text")), " ")).alias("w"))
        .filter(F.length("w").between(2, BPE_MAX_WORD))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    j = sw.join(F.broadcast(per_word), "w").select(
        "source",
        "freq",
        "n_tokens",
        F.length("w").alias("n_chars"),
    )
    return (
        j.groupBy("source")
        .agg(
            F.sum("freq").cast("bigint").alias("n_words"),
            F.sum(F.col("freq") * F.col("n_tokens")).cast("bigint").alias("n_tokens"),
            F.sum(F.col("freq") * F.col("n_chars")).cast("bigint").alias("n_chars"),
        )
        .select(
            "source",
            "n_words",
            "n_tokens",
            F.round(F.col("n_tokens").cast("double") / F.col("n_words"), 4).alias(
                "tokens_per_word"
            ),
            F.round(F.col("n_chars").cast("double") / F.col("n_tokens"), 4).alias(
                "chars_per_token"
            ),
        )
        .orderBy("source")
    )


HH_PHI = 0.033  # heavy-hitter threshold as a fraction of the token stream


def _cms_cells(col):
    """The CMS (row, col) cells for a token -- module-level twin of the
    local helper in q_cms_token_counts (same seeds, same geometry) so the
    heavy-hitter pass probes the identical sketch."""
    out = []
    for i in range(CMS_D):
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit(f"cms{i}:"), col)), 1, 8), 16, 10
        ).cast("long")
        out.append(F.struct(F.lit(i).alias("row"), (h % CMS_W).cast("int").alias("col")))
    return F.array(*out)


def q_heavy_hitters_cms_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters (tokens above HH_PHI of the stream) by the
    two-pass sketch-candidate / exact-verify pattern -- the 100 TB answer
    to "top tokens" when the vocabulary itself is too large to groupBy:
    pass 1 reduces the corpus to the 1024-cell CMS (mergeable, map-side
    combined); pass 2 re-scans with the sketch as a BROADCAST literal,
    keeps only occurrences whose CMS upper bound clears the threshold
    (CMS never underestimates, so no true hitter is lost), and exact-counts
    just the survivors -- the full-cardinality token shuffle never happens.
    Output is EXACT (candidates are verified), unlike the estimate-only
    q_cms_token_counts.

    The only collect is the 1024-row sketch (CMS_D x CMS_W, the bounded
    house pattern: bloom words, PQ codebooks).  The synthetic corpus's
    vocabulary is small and near-uniform, so the threshold is set to
    split the pack; the gate's subject is the two-pass plan shape and the
    no-false-negative guarantee, both scale-invariant.

    Exactness: counts are integers; the threshold ceil(phi * n) is the
    same IEEE product on both faces."""
    import math

    from pgsf_spark.analytics.dedup import _norm_text

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split(_norm_text(F.col("text")), " ")).alias("token"))
    sketch = (
        tok.select(F.explode(_cms_cells(F.col("token"))).alias("c"))
        .select("c.row", "c.col")
        .groupBy("row", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cells_map = {(r.row, r.col): r.cnt for r in sketch.collect()}  # <= 1024 rows
    n_tokens = sum(v for (r, _c), v in cells_map.items() if r == 0)
    thr = int(math.ceil(HH_PHI * n_tokens))
    arr = F.array(
        *[F.lit(cells_map.get((i, c), 0)) for i in range(CMS_D) for c in range(CMS_W)]
    )
    ests = []
    for i in range(CMS_D):
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit(f"cms{i}:"), F.col("token"))), 1, 8), 16, 10
        ).cast("long")
        ests.append(F.element_at(arr, ((h % CMS_W) + i * CMS_W + 1).cast("int")))
    est = F.least(*ests)
    surv = tok.withColumn("est", est).filter(F.col("est") >= thr)
    return (
        surv.groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("exact_count"),
            F.min("est").cast("bigint").alias("cms_estimate"),
        )
        .filter(F.col("exact_count") >= thr)
        .select(
            "token",
            "exact_count",
            "cms_estimate",
            F.lit(thr).cast("bigint").alias("threshold"),
        )
        .orderBy(F.col("exact_count").desc(), "token")
    )


def q_langid_macro_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 + macro-F1 for the marker-token
    language-ID classifier -- the EVALUATED form of q_lang_id (that gate
    emits the confusion pairs; this one turns them into the per-class and
    macro numbers a model card actually reports, with the same per-class
    argmax construction shared via _lang_guessed).

    Exactness: tp/fp/fn are integer counts; each class's P/R/F1 is a
    fixed double chain rounded to 6 (try_divide for empty classes); the
    macro average decimal-sums the rounded per-class F1s over the
    |labels|-row class table.

    Plan: one projection scan + one (lang, guess) rollup; everything
    after lives on <= |labels|^2 rows."""
    d = load_table(spark, sf_dir, "documents")
    # bounded materialization (<= |labels|^2 confusion cells): the class
    # list and the tp/fp/fn rollups would otherwise each re-run the corpus
    # scan + classifier
    conf = (
        _lang_guessed(d)
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    classes = conf.select(F.col("lang").alias("cls")).distinct()
    tp = conf.filter(F.col("lang") == F.col("lang_guess")).select(
        F.col("lang").alias("cls"), F.col("n").alias("tp")
    )
    fp = (
        conf.filter(F.col("lang") != F.col("lang_guess"))
        .groupBy(F.col("lang_guess").alias("cls"))
        .agg(F.sum("n").alias("fp"))
    )
    fn = (
        conf.filter(F.col("lang") != F.col("lang_guess"))
        .groupBy(F.col("lang").alias("cls"))
        .agg(F.sum("n").alias("fn"))
    )
    j = (
        classes.join(tp, "cls", "left")
        .join(fp, "cls", "left")
        .join(fn, "cls", "left")
        .select(
            "cls",
            *[F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c) for c in ("tp", "fp", "fn")],
        )
    )
    tpd, fpd, fnd = (F.col(c).cast("double") for c in ("tp", "fp", "fn"))
    prec = F.round(F.try_divide(tpd, tpd + fpd), 6)
    rec = F.round(F.try_divide(tpd, tpd + fnd), 6)
    per = j.select("cls", "tp", "fp", "fn", prec.alias("precision"), rec.alias("recall"))
    f1 = F.round(
        F.try_divide(
            2.0 * F.col("precision") * F.col("recall"),
            F.col("precision") + F.col("recall"),
        ),
        6,
    )
    scored = per.withColumn("f1", f1)
    macro = scored.agg(
        F.round(
            F.sum(F.coalesce(F.col("f1"), F.lit(0.0)).cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("macro_f1")
    )
    return (
        scored.crossJoin(F.broadcast(macro))
        .select("cls", "tp", "fp", "fn", "precision", "recall", "f1", "macro_f1")
        .orderBy("cls")
    )
