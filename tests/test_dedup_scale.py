"""Scale-design guards for the dedup/similarity operators (VERDICT r1):

- ``spread`` must be a planning-time no-op (zero Exchange) when the input is
  already as wide as the target -- an unconditional repartition would be a
  full corpus shuffle at 100 TB.
- ``lsh_candidate_pairs`` must survive an adversarial corpus where thousands
  of identical documents land in one LSH bucket: the hot-bucket cap chunks
  the bucket so no task generates an unbounded O(b^2) pair set, and the
  diagnostics query reports the oversized bucket.
"""

import pytest
from pyspark.sql import functions as F

from pgsf_spark.analytics import dedup
from pgsf_spark.tables import spread

SF_DIR = "/root/testdata/sf0.001"


class TestSpread:
    def test_spread_noop_when_wide(self, spark):
        par = spark.sparkContext.defaultParallelism
        df = spark.range(0, 10_000, numPartitions=par)
        out = spread(df)
        assert out is df  # no new plan node at all
        assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()

    def test_spread_repartitions_narrow_input(self, spark):
        df = spark.range(0, 1000, numPartitions=1)
        out = spread(df)
        assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    def test_query_plan_has_no_exchange_for_wide_input(self, spark, tmp_path):
        # a multi-partition parquet documents table must plan without any
        # Exchange in the signature stage (the scan is already parallel)
        par = spark.sparkContext.defaultParallelism
        docs = spark.range(0, 2000, numPartitions=par).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("alpha beta gamma delta epsilon zeta "), F.col("id").cast("string")).alias("text"),
        )
        sig = dedup.doc_minhash(docs)
        assert "Exchange" not in sig._jdf.queryExecution().executedPlan().toString()


class TestChunkAssignmentCrossEngine:
    """The jaccard_pairs hash-chunk split (``_md5_hash_int(doc_id, 7) %
    n_chunks``) only activates when a source block exceeds MAX_BUCKET -- at
    both oracle test scales every source fits ONE chunk, so a Spark-vs-DuckDB
    divergence in the chunk expression would surface only at real scale as
    silently different pairs.  These tests pin the cross-engine contract with
    n_chunks > 1 forced (ADVICE r8 #4)."""

    def test_chunk_expression_matches_duckdb(self, spark):
        import duckdb

        from pgsf_spark.analytics.dedup import _md5_hash_int

        ids = spark.range(0, 500).select(F.col("id").cast("string").alias("doc_id"))
        got = {
            (r["doc_id"], n): r[f"c{n}"]
            for n in (2, 3, 7, 20)
            for r in ids.select(
                "doc_id",
                *[
                    (_md5_hash_int(F.col("doc_id"), 7) % F.lit(n)).alias(f"c{n}")
                    for n in (2, 3, 7, 20)
                ],
            ).collect()
        }
        want_rows = duckdb.sql(
            """
            SELECT CAST(i AS VARCHAR) AS doc_id,
                   ('0x' || substr(md5('s7:' || CAST(i AS VARCHAR)), 1, 8))::BIGINT % 2 AS c2,
                   ('0x' || substr(md5('s7:' || CAST(i AS VARCHAR)), 1, 8))::BIGINT % 3 AS c3,
                   ('0x' || substr(md5('s7:' || CAST(i AS VARCHAR)), 1, 8))::BIGINT % 7 AS c7,
                   ('0x' || substr(md5('s7:' || CAST(i AS VARCHAR)), 1, 8))::BIGINT % 20 AS c20
            FROM range(500) t(i)
            """
        ).fetchall()
        assert len(want_rows) == 500
        for doc_id, c2, c3, c7, c20 in want_rows:
            for n, want in ((2, c2), (3, c3), (7, c7), (20, c20)):
                assert got[(doc_id, n)] == want, (doc_id, n)

    def test_multi_chunk_pairs_match_duckdb(self, spark, monkeypatch):
        # force n_chunks > 1 on the real query faces: MAX_BUCKET=8 over the
        # sf0.001 documents table makes every source span multiple chunks,
        # then the Spark face and a mirrored DuckDB query must emit the
        # IDENTICAL pair set (not just the same count)
        import duckdb

        from pgsf_spark.tables import load_table

        monkeypatch.setattr(dedup, "MAX_BUCKET", 8)
        n_chunk_probe = (
            load_table(spark, SF_DIR, "documents")
            .groupBy("source")
            .agg(F.ceil(F.count(F.lit(1)) / dedup.MAX_BUCKET).cast("long").alias("n"))
            .agg(F.min("n"))
            .collect()[0][0]
        )
        assert n_chunk_probe > 1, "MAX_BUCKET override failed to force chunking"
        got = sorted(
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in dedup.q_jaccard_pairs(spark, SF_DIR).collect()
        )
        norm = r"lower(regexp_replace(trim(text), '\s+', ' ', 'g'))"
        toks = f"string_split({norm}, ' ')"
        want = duckdb.sql(
            f"""
            WITH t AS (SELECT doc_id, source, list_distinct({toks}) AS toks
                       FROM read_parquet('{SF_DIR}/documents.parquet')),
            nc AS (SELECT source, CAST(CEIL(COUNT(*) / 8.0) AS BIGINT) AS n_chunks
                   FROM t GROUP BY source),
            c AS (SELECT t.doc_id, t.source, t.toks,
                    ('0x' || substr(md5('s7:' || CAST(t.doc_id AS VARCHAR)), 1, 8))::BIGINT % nc.n_chunks AS chunk
                  FROM t JOIN nc ON t.source = nc.source)
            SELECT * FROM (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                ROUND(len(list_intersect(a.toks, b.toks)) / len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jaccard
              FROM c a JOIN c b ON a.source = b.source AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
            WHERE jaccard >= 0.2
            """
        ).fetchall()
        assert got == sorted(want)


class TestHotBucketCap:
    @pytest.fixture()
    def identical_docs(self, spark):
        # 5000 identical documents -> every band hashes to ONE bucket
        return spark.range(0, 5000).select(
            F.col("id").alias("doc_id"),
            F.lit("the quick brown fox jumps over the lazy dog again and again").alias("text"),
        )

    def test_adversarial_identical_corpus_completes(self, spark, identical_docs):
        pairs = dedup.lsh_candidate_pairs(dedup.lsh_banded(identical_docs), max_bucket=256)
        n = pairs.count()
        # chunked: in-chunk pairs inside each sorted 256-chunk plus the
        # representative chain re-linking the ceil(5000/256)=20 chunks
        n_chunks = -(-5000 // 256)
        expected_full_chunks = 5000 // 256
        rem = 5000 % 256
        expected = (
            expected_full_chunks * (256 * 255) // 2
            + (rem * (rem - 1)) // 2
            + (n_chunks - 1)
        )
        assert n == expected

    def test_cross_chunk_duplicates_now_pair(self, spark):
        # VERDICT r3 ask #3 done-criterion: a 2,000-doc identical-text corpus
        # (4 chunks at MAX_BUCKET=512) must come out as ONE connected
        # component -- before recovery, chunks were mutually unreachable
        docs = spark.range(0, 2000).select(
            F.col("id").alias("doc_id"),
            F.lit("pack my box with five dozen liquor jugs every single day").alias("text"),
        )
        pairs = dedup.lsh_candidate_pairs(dedup.lsh_banded(docs)).localCheckpoint()
        # chain edges cross chunk boundaries: docs 0,512,1024,1536 are the
        # chunk representatives, linked consecutively
        got = {tuple(r) for r in pairs.collect()}
        assert {(0, 512), (512, 1024), (1024, 1536)} <= got
        labels = dedup.connected_components(pairs)
        assert labels.count() == 2000
        assert {r["cluster"] for r in labels.collect()} == {0}

    def test_size_one_tail_chunk_keeps_its_doc(self, spark):
        # a 513-doc bucket (cap 512) leaves a 1-doc tail chunk: that doc
        # must still pair via the representative chain, not vanish
        docs = spark.range(0, 513).select(
            F.col("id").alias("doc_id"),
            F.lit("sphinx of black quartz judge my vow forever and ever amen").alias("text"),
        )
        pairs = dedup.lsh_candidate_pairs(dedup.lsh_banded(docs))
        assert pairs.filter((F.col("doc_a") == 0) & (F.col("doc_b") == 512)).count() == 1
        assert dedup.connected_components(pairs).count() == 513

    def test_oversized_bucket_reported(self, spark, identical_docs):
        stats = dedup.lsh_banded(identical_docs).groupBy("band", "bucket").count()
        sizes = [r["count"] for r in stats.collect()]
        assert sizes == [5000] * dedup.N_BANDS  # truly degenerate
        # the gate query's n_oversized column is the observable for the cap
        # (uses MAX_BUCKET=512; 5000 > 512)
        banded = dedup.lsh_banded(identical_docs)
        agg = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("bsize"))
            .groupBy("band")
            .agg(F.sum(F.when(F.col("bsize") > dedup.MAX_BUCKET, 1).otherwise(0)).alias("n_oversized"))
        )
        assert all(r["n_oversized"] == 1 for r in agg.collect())

    def test_small_buckets_unchanged_by_cap(self, spark):
        # distinct docs -> no bucket exceeds the cap -> identical results
        # with or without chunking (cap is exact below MAX_BUCKET)
        docs = spark.range(0, 200).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("w"), (F.col("id") % 7).cast("string"),
                F.lit(" x"), (F.col("id") % 11).cast("string"),
                F.lit(" y"), (F.col("id") % 13).cast("string"),
                F.lit(" z"), F.col("id").cast("string"),
            ).alias("text"),
        )
        banded = dedup.lsh_banded(docs)
        capped = {tuple(r) for r in dedup.lsh_candidate_pairs(banded, max_bucket=512).collect()}
        uncapped = {tuple(r) for r in dedup.lsh_candidate_pairs(banded, max_bucket=10**9).collect()}
        assert capped == uncapped


class TestDeletionNeighborhoodProperty:
    """The blocking guarantee behind q_name_min_edit_distance: ANY two
    strings within Levenshtein distance 1 share a delete-one variant
    (SymSpell pigeonhole), so the variant equi-join finds every such pair."""

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @staticmethod
    def _variants(s: str) -> set:
        return {s} | {s[:i] + s[i + 1 :] for i in range(len(s))}

    @settings(max_examples=200, deadline=None)
    @given(
        st.text(alphabet="ab#01", min_size=1, max_size=12),
        st.integers(min_value=0, max_value=11),
        st.sampled_from(["sub", "ins", "del"]),
        st.sampled_from("ab#01"),
    )
    def test_distance_one_pairs_share_variant(self, s, pos, op, ch):
        pos = pos % len(s) if op != "ins" else pos % (len(s) + 1)
        if op == "sub":
            t = s[:pos] + ch + s[pos + 1 :]
        elif op == "ins":
            t = s[:pos] + ch + s[pos:]
        else:
            t = s[:pos] + s[pos + 1 :]
        assert self._variants(s) & self._variants(t)


class TestPigeonholeSubmaskBanding:
    """Exact-recall guarantee of the small-vocab candidate path in
    q_prefix_filter_pairs: every pair with jaccard >= PREFIX_T must appear,
    including pairs differing in exactly delta_max tokens (the pigeonhole
    bound's edge)."""

    def test_matches_bruteforce_on_tiny_vocab(self, spark, tmp_path):
        import itertools

        from pgsf_spark.analytics.dedup import PREFIX_T, q_prefix_filter_pairs

        vocab = [f"w{i}" for i in range(12)]
        rng_docs = []
        # deterministic subset family incl. near-identical pairs at the edge
        for i in range(60):
            drop = {i % 12, (i * 5 + 1) % 12} if i % 3 else {i % 12}
            toks = [w for j, w in enumerate(vocab) if j not in drop]
            rng_docs.append((i, " ".join(toks), "en", f"s{i % 4}", len(toks)))
        spark.createDataFrame(
            rng_docs, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

        sets = {i: frozenset(t.split()) for i, t, *_ in rng_docs}
        srcs = {i: s for i, _, _, s, _ in rng_docs}
        want = {}
        for a, b in itertools.combinations(sorted(sets), 2):
            j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
            if round(j, 4) >= PREFIX_T:
                src = srcs[a]
                want[src] = want.get(src, 0) + 1
        got = {
            r["source"]: r["n_pairs"]
            for r in q_prefix_filter_pairs(spark, str(tmp_path)).collect()
        }
        assert got == want and sum(want.values()) > 0

    def test_matches_bruteforce_on_large_vocab(self, spark, tmp_path):
        # > 62 distinct tokens forces the PPJoin prefix-blocking branch
        # (rarity-ranked prefixes + array-intersect verify) -- the branch no
        # oracle scale exercises (the synthetic corpus vocabulary is 31
        # words), so it needs its own brute-force gate
        import itertools

        from pgsf_spark.analytics.dedup import PREFIX_T, q_prefix_filter_pairs

        vocab = [f"w{i:02d}" for i in range(70)]
        rng_docs = []
        for i in range(50):
            # large shared core + tiny per-doc drops: pairs straddle the
            # jaccard threshold from both sides
            drop = {i % 70, (i * 7 + 3) % 70} if i % 3 else {i % 70}
            toks = [w for j, w in enumerate(vocab) if j not in drop]
            rng_docs.append((i, " ".join(toks), "en", f"s{i % 4}", len(toks)))
        spark.createDataFrame(
            rng_docs, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

        sets = {i: frozenset(t.split()) for i, t, *_ in rng_docs}
        srcs = {i: s for i, _, _, s, _ in rng_docs}
        want = {}
        for a, b in itertools.combinations(sorted(sets), 2):
            j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
            if round(j, 4) >= PREFIX_T:
                src = srcs[a]
                want[src] = want.get(src, 0) + 1
        got = {
            r["source"]: r["n_pairs"]
            for r in q_prefix_filter_pairs(spark, str(tmp_path)).collect()
        }
        assert got == want and sum(want.values()) > 0


def _prefix_pairs_match_bruteforce(spark, tmp_path, vocab):
    """q_prefix_filter_pairs over 30 docs drawn from a 10-token ``vocab``,
    plus NULL, one-word and whitespace-heavy texts, equals brute force."""
    import itertools

    from pgsf_spark.analytics.dedup import PREFIX_T, q_prefix_filter_pairs

    rng_docs = []
    for i in range(30):
        drop = {i % 10} if i % 2 else {i % 10, (i * 3 + 1) % 10}
        toks = [w for j, w in enumerate(vocab) if j not in drop]
        rng_docs.append((i, " ".join(toks), "en", f"s{i % 3}", len(toks)))
    # degenerate rows: NULL text, one-word text, whitespace-heavy text
    rng_docs.append((100, None, "en", "s0", 0))
    rng_docs.append((101, "w0", "en", "s1", 2))
    rng_docs.append((102, "  w0   w1  ", "en", "s2", 8))
    spark.createDataFrame(
        rng_docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    sets = {
        i: frozenset(t.split()) for i, t, *_ in rng_docs if t and t.split()
    }
    srcs = {i: s for i, _, _, s, _ in rng_docs}
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if round(j, 4) >= PREFIX_T:
            src = srcs[a]
            want[src] = want.get(src, 0) + 1
    got = {
        r["source"]: r["n_pairs"]
        for r in q_prefix_filter_pairs(spark, str(tmp_path)).collect()
    }
    assert got == want and sum(want.values()) > 0


class TestMaskFold:
    """r14 optimization pins for the bitmask branch of
    q_prefix_filter_pairs: the per-doc mask is a per-row array fold over
    the checkpointed token arrays (no corpus-token shuffle), and the fold
    must keep the exploded-aggregate shape's row semantics exactly."""

    def test_null_and_degenerate_texts_match_bruteforce(self, spark, tmp_path):
        # NULL text is where fold-vs-explode semantics could diverge: the
        # old shape dropped NULL-text docs at the explode (no token rows ->
        # no mask row); the fold's size(toks) > 0 filter must reproduce
        # that -- a NULL-text doc never pairs, and single/empty-ish texts
        # still mask correctly.
        _prefix_pairs_match_bruteforce(spark, tmp_path, [f"w{i}" for i in range(10)])

    def test_quoted_tokens_match_bruteforce(self, spark, tmp_path):
        # the token -> bit map is built as SQL text: quotes and backslashes
        # in a token must reach it escaped
        vocab = ["it's", "a\\b", "''", "\\'", "x'y\\z"] + [f"w{i}" for i in range(5)]
        _prefix_pairs_match_bruteforce(spark, tmp_path, vocab)

    def test_build_py4j_calls_do_not_grow_with_vocab(self, spark, tmp_path, monkeypatch):
        # the mask map, the group structs and the lowest-agreeing-group
        # guard are one SQL expression each: building the query makes the
        # same py4j calls for a 10- and a 60-token vocabulary (memory
        # commands, sent when Python collects Java handles, not counted)
        from py4j.java_gateway import GatewayClient

        from pgsf_spark.analytics.dedup import q_prefix_filter_pairs

        calls = [0]
        send = GatewayClient.send_command

        def counted(self, command, *a, **k):
            if not command.startswith("m\n"):
                calls[0] += 1
            return send(self, command, *a, **k)

        def build_calls(n_vocab):
            d = tmp_path / f"v{n_vocab}"
            vocab = [f"w{i}" for i in range(n_vocab)]
            docs = [
                (i, " ".join(w for j, w in enumerate(vocab) if j != i % n_vocab), f"s{i % 3}")
                for i in range(40)
            ]
            spark.createDataFrame(docs, "doc_id long, text string, source string").write.parquet(
                str(d / "documents.parquet")
            )
            q_prefix_filter_pairs(spark, str(d))  # schema memo and JIT warm
            calls[0] = 0
            monkeypatch.setattr(GatewayClient, "send_command", counted)
            q_prefix_filter_pairs(spark, str(d))
            monkeypatch.setattr(GatewayClient, "send_command", send)
            return calls[0]

        small, large = build_calls(10), build_calls(60)
        assert abs(large - small) < 25, (small, large)

    def test_chunk_build_folds_masks_without_doc_shuffle(self, spark, monkeypatch):
        # plan pin for the committed evidence pair
        # (plans/r14/prefix_filter_pairs_ckpt2_{before,after}.txt): the
        # chunk-table build must contain NO doc_id-keyed Exchange (the old
        # exploded groupBy(doc_id) mask aggregate) -- its one Exchange is
        # the (g, sm) blocks groupBy.
        from pyspark.sql.classic.dataframe import DataFrame

        from pgsf_spark.analytics.dedup import q_prefix_filter_pairs

        plans = []
        orig = DataFrame.localCheckpoint

        def record(self, eager=True):
            plans.append(self._jdf.queryExecution().executedPlan().toString())
            return orig(self, eager=eager)

        monkeypatch.setattr(DataFrame, "localCheckpoint", record)
        q_prefix_filter_pairs(spark, SF_DIR)
        # r15: the bitmask branch no longer checkpoints the token-array
        # table (two consumers only -- the corpus-grain checkpoint was the
        # r14 negative-result class), so the chunk table is the branch's
        # ONLY checkpoint and its build plan now includes the fused
        # scan -> tokenize -> mask-fold pipeline.
        assert len(plans) == 1
        chunk_build = plans[0]
        # the actual regression being pinned: no doc_id-keyed Exchange
        # (the old exploded groupBy(doc_id) mask aggregate)
        assert "hashpartitioning(doc_id" not in chunk_build
        # scan -> tokenize -> mask fold -> (g, sm) explode is one fused
        # map-side pipeline, so the (g, sm) blocks groupBy is the build's
        # only shuffle; a second Exchange means a pass stopped fusing
        assert chunk_build.count("Exchange") == 1

    def test_vocab_probe_miss_raises(self, spark, monkeypatch):
        # the take(63) vocab probe and the mask fold are separate lazy
        # passes; a token the probe lost must fail the query, not null the
        # doc's mask and drop it from verification
        from pyspark.sql.classic.dataframe import DataFrame

        from pgsf_spark.analytics.dedup import q_prefix_filter_pairs

        orig = DataFrame.take

        def lossy_take(self, num):
            rows = orig(self, num)
            return rows[1:] if num == 63 else rows

        monkeypatch.setattr(DataFrame, "take", lossy_take)
        with pytest.raises(Exception, match="is not in the vocab probe"):
            q_prefix_filter_pairs(spark, SF_DIR).collect()
