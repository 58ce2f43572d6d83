"""Query registry: name -> (Spark callable, DuckDB oracle SQL).

This is the single source of truth consumed by __spark_entry__.py
(queries() / oracle_sql()) and by tests/bench.

Oracle-parity rules (see oracle_utils):
  - identical aliases in Spark and SQL;
  - double sums/avgs via exact decimal accumulation;
  - dot products written as explicit left-to-right sums on both sides so the
    doubles are bit-identical;
  - timestamps emitted as formatted strings.
"""

from __future__ import annotations

from pgsf_spark.analytics import (
    advanced,
    bootstrap,
    cdc_demo,
    corpus,
    curation,
    dedup,
    epochs,
    events,
    fleet,
    funnel,
    geo,
    layout,
    linkage,
    media_analysis,
    multimodal,
    pipeline,
    privacy,
    profiling,
    recovery,
    refsurfaces,
    relational,
    retention,
    retrieval,
    robustness,
    sampling,
    semistructured,
    shapes,
    similarity,
    sqlsurfaces,
    text,
)
from pgsf_spark.analytics.oracle_utils import sql_davg, sql_dsum

from pgsf_spark.analytics.spec import (
    HLL_PORTABLE_ORACLE as _HLL_PORTABLE_ORACLE,
    QuerySpec,
    _NORM,
)
from pgsf_spark.streaming import faces

# ---------------------------------------------------------------------------
# SQL fragments
# ---------------------------------------------------------------------------

_TOKS = f"string_split({_NORM}, ' ')"


def _hash_sql(expr: str, seed: int) -> str:
    """Portable 32-bit hash: first 8 md5 hex chars as int (= Spark
    conv(substring(md5(..),1,8),16,10))."""
    return f"('0x' || substr(md5('s{seed}:' || {expr}), 1, 8))::BIGINT"


def _bpe_cte_sql() -> str:
    """Unrolled BPE trainer CTE chain: one (count, argmax, re-segment)
    triple per merge round, mirroring _bpe_train -- same pipe-delimited
    symbol encoding, same boundary-safe replace(), same (n DESC, sa, sb)
    tie order. Shared by the trainer and apply oracles."""
    max_pairs = text.BPE_MAX_WORD + 8
    parts = [
        f"""WITH w0 AS (
  SELECT word, COUNT(*) AS freq FROM (
    SELECT unnest(string_split({_NORM}, ' ')) AS word FROM documents)
  WHERE length(word) BETWEEN 2 AND {text.BPE_MAX_WORD} GROUP BY word),
r0 AS MATERIALIZED (SELECT regexp_replace(word, '(.)', '|\\1|', 'g') AS repr, freq FROM w0)"""
    ]
    for k in range(1, text.BPE_ROUNDS + 1):
        parts.append(
            f""",
c{k} AS (
  SELECT syms[i.range] AS sa, syms[i.range + 1] AS sb, SUM(freq) AS n
  FROM (SELECT string_split(trim(repr, '|'), '||') AS syms, freq FROM r{k - 1}),
       range(1, {max_pairs}) i
  WHERE i.range <= len(syms) - 1
  GROUP BY 1, 2),
m{k} AS MATERIALIZED (SELECT sa, sb, CAST(n AS BIGINT) AS n FROM c{k} ORDER BY n DESC, sa, sb LIMIT 1),
r{k} AS MATERIALIZED (SELECT replace(repr,
    '|' || (SELECT sa FROM m{k}) || '||' || (SELECT sb FROM m{k}) || '|',
    '|' || (SELECT sa FROM m{k}) || (SELECT sb FROM m{k}) || '|') AS repr, freq FROM r{k - 1})"""
        )
    return "".join(parts)


def _bpe_rounds_sql() -> str:
    sel = "\nUNION ALL\n".join(
        f"SELECT {k} AS round, sa || ' ' || sb AS pair, n FROM m{k}"
        for k in range(1, text.BPE_ROUNDS + 1)
    )
    return _bpe_cte_sql() + f"\n{sel}\nORDER BY round"


def _bpe_apply_sql() -> str:
    n = text.BPE_ROUNDS
    return (
        _bpe_cte_sql()
        + f"""
SELECT sym AS token, CAST(SUM(freq) AS BIGINT) AS n
FROM (SELECT unnest(string_split(trim(repr, '|'), '||')) AS sym, freq FROM r{n})
GROUP BY sym ORDER BY n DESC, token LIMIT 20"""
    )


def _clf_sql() -> str:
    """Unrolled gradient-descent oracle for the quality classifier --
    same round-chaining as _kmeans_sql, with the softsign link written in
    the exact association order of curation._softsign/_z."""
    lr = curation.CLF_LR
    xs = ["1.0", "x1", "x2", "x3"]
    sig = "0.5 * (1.0 + z / (1.0 + abs(z)))"
    step = """
s{n} AS (
  SELECT f.*, {sig} AS s FROM (
    SELECT f.*, w.w0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3 AS z
    FROM f CROSS JOIN w{prev} w) f),
g{n} AS (
  SELECT {gsums} FROM s{n}),
w{n} AS (
  SELECT {wupd} FROM w{prev} CROSS JOIN g{n})"""
    parts = [
        f"""WITH f AS (
  SELECT doc_id,
    CAST(NOT (nr < {pipeline.MIN_TOKENS}
              OR shortr / nr > {pipeline.MAX_SHORT_RATIO!r}
              OR dig / ln2 > {pipeline.MAX_DIGIT_RATIO!r}) AS INT) AS y,
    len(toks) / 100.0 AS x1,
    len(list_distinct(toks)) / len(toks) AS x2,
    (n_chars / len(toks)) / 10.0 AS x3
  FROM (SELECT doc_id, n_chars,
        regexp_split_to_array(trim(lower(text)), '\\s+') AS toks,
        len(regexp_split_to_array(trim(text), '\\s+')) AS nr,
        len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                        tk -> length(tk) <= 3)) AS shortr,
        length(regexp_replace(text, '[^0-9]', '', 'g')) AS dig,
        length(text) AS ln2
        FROM documents)),
w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)"""
    ]
    for n in range(1, curation.CLF_STEPS + 1):
        gsums = ", ".join(
            f"CAST(SUM(CAST((y - s) * {x} AS DECIMAL(27,15))) AS DOUBLE) / COUNT(*) AS g{j}"
            for j, x in enumerate(xs)
        )
        wupd = ", ".join(f"w{j} + {lr!r} * g{j} AS w{j}" for j in range(4))
        parts.append(step.format(n=n, prev=n - 1, sig=sig, gsums=gsums, wupd=wupd))
    t = curation.CLF_STEPS
    return (
        ",".join(parts)
        + f""",
scored AS (
  SELECT f.*, {sig} AS s FROM (
    SELECT f.doc_id, f.y, w.w0, w.w1, w.w2, w.w3,
           w.w0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3 AS z
    FROM f CROSS JOIN w{t} w) f),
ranked AS (
  SELECT *, RANK() OVER (ORDER BY s) + (COUNT(*) OVER (PARTITION BY s) - 1) / 2.0 AS midrank
  FROM scored)
SELECT ROUND(MAX(w0), 6) AS w0, ROUND(MAX(w1), 6) AS w1,
  ROUND(MAX(w2), 6) AS w2, ROUND(MAX(w3), 6) AS w3,
  CAST(SUM(y) AS BIGINT) AS n_pos, CAST(COUNT(*) - SUM(y) AS BIGINT) AS n_neg,
  ROUND(SUM(CAST((CAST(s >= 0.5 AS INT) = y) AS INT)) / COUNT(*), 4) AS train_acc,
  ROUND((SUM(CASE WHEN y = 1 THEN midrank ELSE 0.0 END) - SUM(y) * (SUM(y) + 1) / 2.0)
        / (SUM(y) * (COUNT(*) - SUM(y))), 6) AS auc
FROM ranked"""
    )


def _z_sql(px: str, py: str, bits: int = 8) -> str:
    """Morton bit-interleave, same explicit shifted-term sum as layout.zvalue."""
    terms = []
    for i in range(bits):
        terms.append(f"((({px} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({py} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def _bm25_scored_sql() -> str:
    """CTE chain ending in `scored(doc_id, contrib)` -- mirrors
    retrieval._bm25_scored term by term (same association order)."""
    terms = ", ".join(f"'{t}'" for t in retrieval.QUERY_TERMS)
    k1, b = retrieval.BM25_K1, retrieval.BM25_B
    return f"""WITH d AS (
  SELECT doc_id, len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_tok,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents),
tok AS (SELECT doc_id, n_tok, unnest(toks) AS term FROM d),
tf AS (SELECT doc_id, n_tok, term, COUNT(*) AS tf FROM tok
       WHERE term IN ({terms}) GROUP BY doc_id, n_tok, term),
stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tot_tok FROM d),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
    ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
      * (tf.tf * {k1 + 1.0!r}) / (tf.tf + {k1!r} * ({1.0 - b!r} + {b!r} * tf.n_tok / (CAST(stats.tot_tok AS DOUBLE) / stats.n_docs))) AS contrib
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats)"""


def _dot_sql(a: str, b: str, dim: int = 64) -> str:
    """Explicit left-to-right dot product (bit-identical to F.aggregate's
    sequential fold)."""
    return "(" + " + ".join(f"{a}[{i}]*{b}[{i}]" for i in range(1, dim + 1)) + ")"


def _sqdist_sql(a: str, b: str, dim: int = 64) -> str:
    """Squared L2 distance, left-to-right fold (parity with _sqdist)."""
    return "(" + " + ".join(f"({a}[{i}]-{b}[{i}])*({a}[{i}]-{b}[{i}])" for i in range(1, dim + 1)) + ")"


def _hurst_sql() -> str:
    """Per-window R/S chains + the literal-weight OLS slope (parity with
    q_hurst_exponent)."""
    wts = profiling._hurst_weights()
    parts = [
        """WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
  FROM orders GROUP BY 1),
dd AS (SELECT rev, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily)"""
    ]
    for w in profiling.HURST_WINDOWS:
        parts.append(
            f""",
bl{w} AS (SELECT rev, rn, CAST((rn - 1) // {w} AS INT) AS blk FROM dd),
bm{w} AS (SELECT blk, COUNT(*) AS bn, CAST(SUM(rev) AS BIGINT) AS b1,
    SUM(CAST(rev AS DECIMAL(19,0)) * CAST(rev AS DECIMAL(19,0))) AS b2
  FROM bl{w} GROUP BY 1 HAVING COUNT(*) = {w}),
cm{w} AS (SELECT b.blk,
    CAST(b2 AS DOUBLE) / CAST(bn AS DOUBLE)
      - CAST(b1 AS DOUBLE) / CAST(bn AS DOUBLE) * (CAST(b1 AS DOUBLE) / CAST(bn AS DOUBLE)) AS vr,
    SUM(CAST(ROUND(CAST(rev AS DOUBLE) - CAST(b1 AS DOUBLE) / CAST(bn AS DOUBLE), 6) AS DECIMAL(27,6)))
      OVER (PARTITION BY b.blk ORDER BY rn ROWS UNBOUNDED PRECEDING) AS cum
  FROM bl{w} b JOIN bm{w} USING (blk)),
rs{w} AS (SELECT ROUND(CAST(MAX(cum) - MIN(cum) AS DOUBLE) / sqrt(MAX(vr)), 9) AS rs
  FROM cm{w} GROUP BY blk HAVING MAX(vr) > 0),
pw{w} AS (SELECT {w} AS window_size, CAST(COUNT(*) AS BIGINT) AS n_blocks,
  ROUND(CAST(SUM(CAST(rs AS DECIMAL(27,9))) AS DOUBLE) / COUNT(*), 9) AS mean_rs
  FROM rs{w})"""
        )
    union = " UNION ALL ".join(f"SELECT * FROM pw{w}" for w in profiling.HURST_WINDOWS)
    case = " ".join(f"WHEN {w} THEN {wts[w]!r}" for w in profiling.HURST_WINDOWS)
    parts.append(
        f""",
aw AS (SELECT *, ROUND(ln(mean_rs), 9) AS ln_mean_rs FROM ({union})),
sl AS (SELECT CAST(SUM(CAST(ROUND((CASE window_size {case} END) * ln_mean_rs, 12)
  AS DECIMAL(27,12))) AS DOUBLE) AS h FROM aw)
SELECT window_size, n_blocks, ROUND(mean_rs, 6) AS mean_rs,
  ROUND(ln_mean_rs, 6) AS ln_mean_rs, ROUND(h, 6) AS hurst
FROM aw, sl ORDER BY window_size"""
    )
    return "".join(parts)


# scalar-quantization reconstruction error at L levels (parity with the
# fixed double chain in q_sq_mse_by_bits; constant dims contribute zero)
_SQ_ERR = (
    "CASE WHEN hi = lo THEN 0.0 ELSE "
    "x - (lo + round((x - lo) / (hi - lo) * {L!r}, 0) * (hi - lo) / {L!r}) END"
)


def _kcenter_sql() -> str:
    """Unrolled greedy k-center rounds (parity with q_kcenter_coreset's
    checkpointed loop): p{r} picks the farthest not-yet-chosen vector,
    md{r} folds the new center into the running min distance."""
    k = similarity.KCENTER_K
    parts = [
        f"""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
c0 AS (SELECT v AS cv FROM e WHERE vec_id = 0),
md0 AS MATERIALIZED (SELECT vec_id, v, ROUND({_sqdist_sql('v', 'cv')}, 6) AS md FROM e, c0)"""
    ]
    for r in range(1, k):
        not_in = " AND ".join(
            ["vec_id <> 0"] + [f"vec_id <> (SELECT nid FROM p{i})" for i in range(1, r)]
        )
        parts.append(
            f""",
p{r} AS MATERIALIZED (SELECT vec_id AS nid, md AS nd FROM md{r - 1} WHERE {not_in}
  QUALIFY ROW_NUMBER() OVER (ORDER BY md DESC, vec_id) = 1),
md{r} AS MATERIALIZED (SELECT m.vec_id, m.v, LEAST(m.md, ROUND({_sqdist_sql('m.v', 'c.cv')}, 6)) AS md
  FROM md{r - 1} m, (SELECT e.v AS cv FROM e, p{r} WHERE e.vec_id = p{r}.nid) c)"""
        )
    sel = ["SELECT 0 AS center_rank, CAST(0 AS BIGINT) AS vec_id, CAST(0.0 AS DOUBLE) AS dist_sq"]
    for r in range(1, k):
        sel.append(f"SELECT {r}, CAST(nid AS BIGINT), ROUND(nd, 6) FROM p{r}")
    not_in_final = " AND ".join(
        ["vec_id <> 0"] + [f"vec_id <> (SELECT nid FROM p{i})" for i in range(1, k)]
    )
    parts.append(
        f""",
sel AS ({" UNION ALL ".join(sel)}),
rad AS (SELECT ROUND(MAX(md), 6) AS radius FROM md{k - 1} WHERE {not_in_final})
SELECT CAST(center_rank AS INT) AS center_rank, vec_id, dist_sq, radius
FROM sel, rad ORDER BY center_rank"""
    )
    return "".join(parts)


def _pq_sub_sql(a: str, b: str, m: int) -> str:
    """Subspace-m squared distance, left-to-right fold (parity with the
    Spark _sqdist over slices)."""
    lo = m * similarity.PQ_SUB + 1
    return (
        "("
        + " + ".join(
            f"({a}[{i}]-{b}[{i}])*({a}[{i}]-{b}[{i}])"
            for i in range(lo, lo + similarity.PQ_SUB)
        )
        + ")"
    )


def _pq_sql() -> str:
    cases_vc = " ".join(
        f"WHEN {m} THEN {_pq_sub_sql('e.v', 'c.v', m)}" for m in range(similarity.PQ_M)
    )
    cases_qc = " ".join(
        f"WHEN {m} THEN {_pq_sub_sql('q.qv', 'c.v', m)}" for m in range(similarity.PQ_M)
    )
    mm = ", ".join(f"({m})" for m in range(similarity.PQ_M))
    return f"""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
cwq AS MATERIALIZED (SELECT vec_id AS k, v FROM e WHERE vec_id < {similarity.PQ_K}),
mm AS (SELECT * FROM (VALUES {mm}) t(m)),
dists AS MATERIALIZED (
  SELECT e.vec_id, mm.m, c.k, CASE mm.m {cases_vc} END AS d
  FROM e, cwq c, mm),
codes AS MATERIALIZED (
  SELECT vec_id, m, k, d FROM dists
  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) = 1),
qv AS (SELECT v AS qv FROM e WHERE vec_id = 0),
dq AS MATERIALIZED (
  SELECT mm.m, c.k, CASE mm.m {cases_qc} END AS d
  FROM qv q, cwq c, mm),
approx AS (
  SELECT codes.vec_id, CAST(SUM(CAST(dq.d AS DECIMAL(25,12))) AS DOUBLE) AS ad
  FROM codes JOIN dq ON codes.m = dq.m AND codes.k = dq.k
  WHERE codes.vec_id <> 0 GROUP BY 1),
approx5 AS (SELECT vec_id FROM approx ORDER BY ad, vec_id LIMIT 5),
exact5 AS (SELECT vec_id FROM (
    SELECT e.vec_id, {_sqdist_sql('e.v', 'q.qv')} AS d FROM e, qv q WHERE e.vec_id <> 0)
  ORDER BY d, vec_id LIMIT 5),
hits AS (SELECT CAST(COUNT(*) AS INT) AS n_hits FROM approx5 JOIN exact5 USING (vec_id)),
tot AS (SELECT CAST(SUM(qd) AS DOUBLE) AS total_quant_err FROM (
  SELECT vec_id, SUM(CAST(d AS DECIMAL(25,12))) AS qd FROM codes GROUP BY 1))
SELECT n_hits, n_hits / 5.0 AS recall_at_5, total_quant_err FROM hits, tot"""


def _ivfpq_sql() -> str:
    """IVF-PQ oracle: recomputes coarse assignment, residuals, residual
    codebooks (seeded), probe set, and ADC tables from the same seeds as
    similarity.q_ivfpq_recall_at_5 -- parity pinned by (d, id) tie orders
    and left-to-right subspace folds, like _pq_sql."""
    c, nprobe = similarity.IVFPQ_C, similarity.IVFPQ_NPROBE
    cases_rc = " ".join(
        f"WHEN {m} THEN {_pq_sub_sql('res.r', 'c.r', m)}" for m in range(similarity.PQ_M)
    )
    cases_qc = " ".join(
        f"WHEN {m} THEN {_pq_sub_sql('p.qr', 'c.r', m)}" for m in range(similarity.PQ_M)
    )
    mm = ", ".join(f"({m})" for m in range(similarity.PQ_M))
    sub = "[v[CAST(i AS INT)] - cv[CAST(i AS INT)] for i in range(1, 65)]"
    qsub = "[q.qv[CAST(i AS INT)] - cv[CAST(i AS INT)] for i in range(1, 65)]"
    return f"""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
cc AS MATERIALIZED (SELECT CAST(vec_id AS INT) AS cid, v AS cv FROM e WHERE vec_id < {c}),
a AS MATERIALIZED (
  SELECT vec_id, v, cid, cv FROM (
    SELECT e.vec_id, e.v, cc.cid, cc.cv, {_sqdist_sql('e.v', 'cc.cv')} AS d FROM e, cc)
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1),
res AS MATERIALIZED (SELECT vec_id, cid, {sub} AS r FROM a),
cwq AS MATERIALIZED (SELECT vec_id AS k, r FROM res WHERE vec_id < {similarity.PQ_K}),
mm AS (SELECT * FROM (VALUES {mm}) t(m)),
codes AS MATERIALIZED (
  SELECT vec_id, cid, m, k FROM (
    SELECT res.vec_id, res.cid, mm.m, c.k, CASE mm.m {cases_rc} END AS d
    FROM res, cwq c, mm)
  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) = 1),
qv AS (SELECT v AS qv FROM e WHERE vec_id = 0),
probes AS MATERIALIZED (
  SELECT cid, {qsub} AS qr FROM (
    SELECT cc.cid, cc.cv, q.qv, {_sqdist_sql('cc.cv', 'q.qv')} AS qd FROM cc, qv q
    QUALIFY row_number() OVER (ORDER BY qd, cid) <= {nprobe}) q),
dq AS MATERIALIZED (
  SELECT p.cid, mm.m, c.k, CASE mm.m {cases_qc} END AS d
  FROM probes p, cwq c, mm),
scored AS MATERIALIZED (
  SELECT codes.vec_id, CAST(SUM(CAST(dq.d AS DECIMAL(25,12))) AS DOUBLE) AS ad
  FROM codes JOIN dq ON codes.cid = dq.cid AND codes.m = dq.m AND codes.k = dq.k
  WHERE codes.vec_id <> 0 GROUP BY 1),
approx5 AS (SELECT vec_id FROM scored ORDER BY ad, vec_id LIMIT 5),
exact5 AS (SELECT vec_id FROM (
    SELECT e.vec_id, {_sqdist_sql('e.v', 'q.qv')} AS d FROM e, qv q WHERE e.vec_id <> 0)
  ORDER BY d, vec_id LIMIT 5),
hits AS (SELECT CAST(COUNT(*) AS INT) AS n_hits FROM approx5 JOIN exact5 USING (vec_id)),
routed AS (
  SELECT CAST(COUNT(*) AS INT) AS n_routed
  FROM exact5 JOIN (SELECT vec_id, cid FROM res) rr USING (vec_id)
  WHERE rr.cid IN (SELECT cid FROM probes)),
nc AS (SELECT COUNT(*) AS n_candidates FROM scored)
SELECT n_hits, n_hits / 5.0 AS recall_at_5,
  n_routed / 5.0 AS routing_recall_at_5, n_candidates
FROM hits, routed, nc"""


def _kmeans_cte() -> tuple[str, str]:
    """Shared Lloyd CTE chain (mirrors similarity._kmeans_assigned);
    returns (WITH-chain, name of the final assignment CTE)."""
    k, iters = similarity.KMEANS_K, similarity.KMEANS_ITERS
    assign = """
a{n} AS (
  SELECT vec_id, v, cluster, d FROM (
    SELECT e.vec_id, e.v, c.cluster, {dist} AS d
    FROM e CROSS JOIN c{prev} c)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cluster) = 1)"""
    recompute = """
c{n} AS (
  SELECT cluster, list(cx ORDER BY i) AS cv FROM (
    SELECT cluster, i, CAST(SUM(CAST(v[CAST(i AS INT)] AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS cx
    FROM a{n}, range(1, 65) r(i) GROUP BY cluster, i)
  GROUP BY cluster)"""
    parts = [
        f"""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
c0 AS (SELECT CAST(vec_id AS INT) AS cluster, v AS cv FROM e WHERE vec_id < {k})"""
    ]
    dist = _sqdist_sql("e.v", "c.cv")
    for it in range(1, iters + 1):
        parts.append(assign.format(n=it, prev=it - 1, dist=dist))
        if it < iters:
            parts.append(recompute.format(n=it))
    return ",".join(parts), f"a{iters}"


def _kmeans_sql() -> str:
    cte, last = _kmeans_cte()
    return (
        cte
        + f"""
SELECT cluster, COUNT(*) AS n_vectors, {sql_davg('sqrt(d)', ndigits=4)} AS avg_dist
FROM {last} GROUP BY cluster"""
    )


def _semantic_dedup_sql() -> str:
    cte, last = _kmeans_cte()
    cos = (
        f"{_dot_sql('a.v', 'b.v')} / (sqrt({_dot_sql('a.v', 'a.v')}) * "
        f"sqrt({_dot_sql('b.v', 'b.v')}))"
    )
    return (
        cte
        + f""",
m AS (SELECT cluster, vec_id, v FROM {last}),
dup AS (
  SELECT DISTINCT a.cluster, b.vec_id
  FROM m a JOIN m b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE ROUND({cos}, 4) >= {similarity.SEMDEDUP_TAU}),
per AS (SELECT cluster, COUNT(*) AS n_vectors FROM m GROUP BY cluster),
pr AS (SELECT cluster, COUNT(*) AS n_pruned FROM dup GROUP BY cluster)
SELECT per.cluster, n_vectors, COALESCE(n_pruned, 0) AS n_pruned,
  ROUND((n_vectors - COALESCE(n_pruned, 0)) / n_vectors, 4) AS keep_frac
FROM per LEFT JOIN pr USING (cluster)"""
    )


def _minhash_cte() -> str:
    sig_cols = []
    for i in range(dedup.N_MINHASH):
        a, b = dedup.minhash_coeffs(i)
        sig_cols.append(f"list_min([({a} * h + {b}) % {dedup.MINHASH_P} for h in hb]) AS mh{i}")
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh AS (SELECT doc_id,
  CASE WHEN len(t) >= 3
       THEN list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])
       ELSE [array_to_string(t, ' ')] END AS s
  FROM toks),
hb AS (SELECT doc_id, [('0x' || substr(md5(x), 1, 7))::BIGINT for x in s] AS hb FROM sh),
mh AS (SELECT doc_id, {", ".join(sig_cols)} FROM hb)
"""


def _simhash_sql() -> str:
    terms = []
    for j in range(16):
        bit = 1 << j
        votes = f"list_sum([CASE WHEN (x & {bit}) > 0 THEN 1 ELSE -1 END for x in hs])"
        terms.append(f"CASE WHEN {votes} > 0 THEN {bit} ELSE 0 END")
    total = " + ".join(terms)
    return f"""
WITH toks AS (SELECT doc_id, list_distinct({_TOKS}) AS t FROM documents),
h AS (SELECT doc_id, [{_hash_sql('x', 99)} for x in t] AS hs FROM toks)
SELECT doc_id, CAST({total} AS BIGINT) AS simhash FROM h
"""


def _simhash_near_dup_sql() -> str:
    """Pigeonhole-banded SimHash near-dup mirrored in SQL (same 16-bit
    signature CTE as _simhash_sql, then the 4x4-bit band equi-join)."""
    terms = []
    for j in range(16):
        bit = 1 << j
        votes = f"list_sum([CASE WHEN (x & {bit}) > 0 THEN 1 ELSE -1 END for x in hs])"
        terms.append(f"CASE WHEN {votes} > 0 THEN {bit} ELSE 0 END")
    total = " + ".join(terms)
    return f"""
WITH toks AS (SELECT doc_id, list_distinct({_TOKS}) AS t FROM documents),
h AS (SELECT doc_id, [{_hash_sql('x', 99)} for x in t] AS hs FROM toks),
sig AS (SELECT doc_id, CAST({total} AS BIGINT) AS simhash FROM h),
banded AS (
  SELECT doc_id, simhash, b, (simhash >> (b * 4)) & 15 AS v
  FROM sig CROSS JOIN (SELECT UNNEST(range({dedup.SIMHASH_BANDS})) AS b) bands),
near AS (
  SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS nbr
  FROM banded a JOIN banded b ON a.b = b.b AND a.v = b.v AND a.doc_id <> b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {dedup.SIMHASH_MAX_HAMMING})
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_near_dups,
  LEAST(doc_id, MIN(nbr)) AS canonical
FROM near GROUP BY doc_id"""


def _bucket_expr_sql() -> str:
    # Same driver-side deterministic weights as similarity.plane_weights,
    # embedded as double literals (repr round-trips exactly in both engines).
    parts = []
    for p, row in enumerate(similarity.plane_weights()):
        terms = [f"v[{i + 1}]*({x!r})" for i, x in enumerate(row)]
        dot = "(" + " + ".join(terms) + ")"
        parts.append(f"CASE WHEN {dot} >= 0 THEN {1 << p} ELSE 0 END")
    return " + ".join(parts)


def _lsh_bucket_sql() -> str:
    bucket = _bucket_expr_sql()
    return f"""
WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings)
SELECT bucket, COUNT(*) AS n FROM (SELECT ({bucket}) AS bucket FROM e) GROUP BY bucket
"""


def _lsh_banded_sql() -> str:
    return f""",
banded AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, {b} AS band, md5(CAST(mh{2 * b} AS VARCHAR) || ',' || CAST(mh{2 * b + 1} AS VARCHAR)) AS bucket FROM mh"
      for b in range(dedup.N_BANDS)
  )})"""


_TS_FMT_SQL = "%Y-%m-%d %H:%M:%S"


def _pca_sql() -> str:
    """Power iteration unrolled as CTE rounds (the kmeans/pagerank
    pattern): mv_t = cells x v_{t-1}, normalized by the decimal-exact
    2-norm; products cast to DECIMAL(27,10) before summing on both faces
    so accumulation order cannot drift the doubles. Component 2 iterates
    the Hotelling-deflated cell table. Every round MATERIALIZED -- CTE
    inlining otherwise replays the chain exponentially (measured 300s)."""
    d = similarity.PCA_DIM
    dec = "DECIMAL(27,10)"

    def rounds(tag: str, cells_name: str) -> tuple[str, str]:
        out, prev = [], f"v{tag}0"
        for t in range(1, similarity.PCA_ITERS + 1):
            out.append(
                f"""mv{tag}{t} AS MATERIALIZED (
  SELECT c.i, CAST(SUM(CAST(c.a * v.x AS {dec})) AS DOUBLE) AS y
  FROM {cells_name} c JOIN {prev} v ON c.j = v.i GROUP BY 1),
n{tag}{t} AS MATERIALIZED (SELECT sqrt(CAST(SUM(CAST(y * y AS {dec})) AS DOUBLE)) AS nm FROM mv{tag}{t}),
v{tag}{t} AS MATERIALIZED (SELECT i, y / nm AS x FROM mv{tag}{t}, n{tag}{t})"""
            )
            prev = f"v{tag}{t}"
        return ",".join(out), prev

    r1, last1 = rounds("a", "cells")
    r2, last2 = rounds("b", "cells2")
    return f"""WITH e AS (SELECT [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
cnt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM e),
p AS (
  SELECT i.range AS i, j.range AS j,
    SUM(CAST(v[i.range + 1] * v[j.range + 1] AS {dec})) AS s
  FROM e, range(0, {d}) i, range(0, {d}) j GROUP BY 1, 2),
m AS (
  SELECT i.range AS i, SUM(CAST(v[i.range + 1] AS {dec})) AS ms
  FROM e, range(0, {d}) i GROUP BY 1),
cells AS MATERIALIZED (
  SELECT p.i, p.j,
    CAST(s AS DOUBLE) / n - (CAST(mi.ms AS DOUBLE) / n) * (CAST(mj.ms AS DOUBLE) / n) AS a
  FROM p JOIN m mi ON p.i = mi.i JOIN m mj ON p.j = mj.i, cnt),
va0 AS (SELECT i.range AS i, CAST(0.125 AS DOUBLE) AS x FROM range(0, {d}) i),
vb0 AS (SELECT i.range AS i, CAST(0.125 AS DOUBLE) AS x FROM range(0, {d}) i),
{r1},
lam1 AS MATERIALIZED (
  SELECT CAST(SUM(CAST(xi.x * c.a * xj.x AS {dec})) AS DOUBLE) AS l1
  FROM cells c JOIN {last1} xj ON c.j = xj.i JOIN {last1} xi ON c.i = xi.i),
cells2 AS MATERIALIZED (
  SELECT c.i, c.j, c.a - l1 * xi.x * xj.x AS a
  FROM cells c JOIN {last1} xj ON c.j = xj.i JOIN {last1} xi ON c.i = xi.i, lam1),
{r2},
lam2 AS MATERIALIZED (
  SELECT CAST(SUM(CAST(xi.x * c.a * xj.x AS {dec})) AS DOUBLE) AS l2
  FROM cells2 c JOIN {last2} xj ON c.j = xj.i JOIN {last2} xi ON c.i = xi.i),
tr AS (SELECT CAST(SUM(CAST(a AS {dec})) AS DOUBLE) AS tr FROM cells WHERE i = j)
SELECT v1.i + 1 AS dim, ROUND(v1.x, 6) AS loading1, ROUND(v2.x, 6) AS loading2,
  ROUND(l1, 6) AS eigenvalue1, ROUND(l2, 6) AS eigenvalue2,
  ROUND(l1 / tr, 6) AS evr1, ROUND(l2 / tr, 6) AS evr2
FROM {last1} v1 JOIN {last2} v2 ON v1.i = v2.i, lam1, lam2, tr ORDER BY dim"""


# --- streaming oracle fragments ----------------------------------------------
# Batch-equivalent SQL for the bounded streaming runs in streaming/faces.py.
# The emission/late-drop rules encoded here are the MEASURED semantics of
# this engine's micro-batch watermarking (see faces.py module docstring):
# eviction watermark during batch k = max_ts(batches < k) - delay; the
# late filter lags one batch; windows/timers resolve against the final
# no-data batch's watermark. Timer comparisons happen at MILLISECOND
# grain (Spark tracks watermarks in ms and setTimeoutTimestamp truncates
# to ms), hence epoch_ms below.

_SESS_GAP_US = int(faces.SESSION_GAP_S * 1_000_000)
_SESS_GAP_MS = int(faces.SESSION_GAP_S * 1000)

# gap-and-islands sessions over events, with per-session batch metadata
_SESSIONS_CTE = f"""e AS (
  SELECT user_id, event_id, ts, value, epoch_us(ts) AS us, epoch_ms(ts) AS ms,
    NTILE({faces.N_BATCHES}) OVER (ORDER BY ts, event_id) AS tile
  FROM events),
g AS (
  SELECT *, CASE WHEN LAG(us) OVER w IS NULL OR us - LAG(us) OVER w > {_SESS_GAP_US}
    THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, event_id, us, ms, tile, value,
    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS sid
  FROM g),
sess AS (
  SELECT user_id, sid, MIN(us) AS start_us, MAX(us) AS end_us,
    MAX(ms) AS end_ms, COUNT(*) AS n,
    SUM(CAST(value AS DECIMAL(27,4))) AS val
  FROM s GROUP BY 1, 2),
mx AS (SELECT MAX(epoch_ms(ts)) AS maxms FROM events)"""

# --- multimodal oracle fragments ---------------------------------------------
# (closed forms of the synthetic media in media_analysis.py; the integer
# cosine matrices are embedded from the SAME Python constants the Spark
# path uses, so transform parity holds by construction)

_GATE = 64  # multimodal._GATE_DOCS; gate ids are doc_id < 64

# textured gate image params: a = 1+m%4, b = 1+(m//4)%4, c = (m//16)%2
_TEX_IDS = f"""ids AS (
  SELECT doc_id AS m, 16 + (doc_id % 32) AS w, 16 + ((doc_id * 7) % 32) AS h,
    1 + (doc_id % 4) AS a, 1 + ((doc_id // 4) % 4) AS b, (doc_id // 16) % 2 AS c
  FROM documents WHERE doc_id < {_GATE})"""


def _dct_values(matrix, first_index: int = 0) -> str:
    """VALUES list (u, x, mv) for an integer cosine matrix."""
    return ", ".join(
        f"({u + first_index}, {x}, {v})"
        for u, row in enumerate(matrix)
        for x, v in enumerate(row)
    )


def _phash_hashes_sql() -> str:
    """CTE chain ending in hashes(m, hi, lo): textured pixels -> 8x8 luma
    grid -> integer DCT -> 32nd-smallest-AC threshold -> 63-bit packing,
    mirroring media_analysis._phash_bits_from_grid step for step."""
    return f"""WITH {_TEX_IDS},
dctm AS (SELECT * FROM (VALUES {_dct_values(media_analysis.PHASH_DCT)}) m(u, x, mv)),
cells AS (
  SELECT m, i.range // 8 AS gi, i.range % 8 AS gj,
    (a * ((i.range // 8) * h // 8) + b * (3 * ((i.range % 8) * w // 8) + 0)
     + c * ((((i.range // 8) * h // 8) * (3 * ((i.range % 8) * w // 8) + 0)) % 7)) % 256
  + (a * ((i.range // 8) * h // 8) + b * (3 * ((i.range % 8) * w // 8) + 1)
     + c * ((((i.range // 8) * h // 8) * (3 * ((i.range % 8) * w // 8) + 1)) % 7)) % 256
  + (a * ((i.range // 8) * h // 8) + b * (3 * ((i.range % 8) * w // 8) + 2)
     + c * ((((i.range // 8) * h // 8) * (3 * ((i.range % 8) * w // 8) + 2)) % 7)) % 256 AS luma
  FROM ids, range(0, 64) i),
t AS (
  SELECT c.m, ma.u AS u, mb.u AS v, SUM(ma.mv * c.luma * mb.mv) AS t
  FROM cells c JOIN dctm ma ON ma.x = c.gi JOIN dctm mb ON mb.x = c.gj
  GROUP BY 1, 2, 3),
ac AS (SELECT m, u * 8 + v AS k, t FROM t WHERE NOT (u = 0 AND v = 0)),
med AS (
  SELECT m, t AS med FROM (
    SELECT m, t, ROW_NUMBER() OVER (PARTITION BY m ORDER BY t) AS rn FROM ac)
  WHERE rn = 32),
hashes AS (
  SELECT ac.m,
    CAST(SUM(CASE WHEN ac.t > med.med AND ac.k >= 33
      THEN (1::BIGINT << CAST(ac.k - 33 AS INT)) ELSE 0 END) AS BIGINT) AS hi,
    CAST(SUM(CASE WHEN ac.t > med.med AND ac.k <= 32
      THEN (1::BIGINT << CAST(ac.k - 1 AS INT)) ELSE 0 END) AS BIGINT) AS lo
  FROM ac JOIN med USING (m) GROUP BY ac.m)"""


# cross-modal: image aHash (channel-sum luma, mean threshold) and video
# keyframe aHash (single-channel, same mean threshold) from the textured form
def _cross_hashes_sql() -> str:
    drift = media_analysis.CROSS_FRAME_DRIFT
    return f"""WITH {_TEX_IDS},
icells AS (
  SELECT m, i.range AS k,
    (a * ((i.range // 8) * h // 8) + b * (3 * ((i.range % 8) * w // 8) + 0)
     + c * ((((i.range // 8) * h // 8) * (3 * ((i.range % 8) * w // 8) + 0)) % 7)) % 256
  + (a * ((i.range // 8) * h // 8) + b * (3 * ((i.range % 8) * w // 8) + 1)
     + c * ((((i.range // 8) * h // 8) * (3 * ((i.range % 8) * w // 8) + 1)) % 7)) % 256
  + (a * ((i.range // 8) * h // 8) + b * (3 * ((i.range % 8) * w // 8) + 2)
     + c * ((((i.range // 8) * h // 8) * (3 * ((i.range % 8) * w // 8) + 2)) % 7)) % 256 AS luma
  FROM ids, range(0, 64) i),
itot AS (SELECT m, SUM(luma) AS total FROM icells GROUP BY 1),
ihashes AS (
  SELECT c.m AS image_id,
    CAST(SUM(CASE WHEN c.luma * 64 > t.total AND c.k >= 32
      THEN (1::BIGINT << CAST(c.k - 32 AS INT)) ELSE 0 END) AS BIGINT) AS hi,
    CAST(SUM(CASE WHEN c.luma * 64 > t.total AND c.k < 32
      THEN (1::BIGINT << CAST(c.k AS INT)) ELSE 0 END) AS BIGINT) AS lo
  FROM icells c JOIN itot t USING (m) GROUP BY 1),
vids AS (SELECT *, 4 + (m % 5) AS n FROM ids WHERE m < {media_analysis.CROSS_VIDEOS}),
vframes AS (
  SELECT m, w, h, a, b, c, CAST(f AS BIGINT) AS f
  FROM vids, range(0, 8) r(f) WHERE f < n AND f % 4 = 0),
vcells AS (
  SELECT m, f, i.range AS k,
    (a * ((i.range // 8) * h // 8) + 3 * b * ((i.range % 8) * w // 8)
     + c * ((((i.range // 8) * h // 8) * 3 * ((i.range % 8) * w // 8)) % 7)
     + {drift} * f) % 256 AS v
  FROM vframes, range(0, 64) i),
vtot AS (SELECT m, f, SUM(v) AS total FROM vcells GROUP BY 1, 2),
vhashes AS (
  SELECT c.m AS video_id, c.f AS frame_idx,
    CAST(SUM(CASE WHEN c.v * 64 > t.total AND c.k >= 32
      THEN (1::BIGINT << CAST(c.k - 32 AS INT)) ELSE 0 END) AS BIGINT) AS hi,
    CAST(SUM(CASE WHEN c.v * 64 > t.total AND c.k < 32
      THEN (1::BIGINT << CAST(c.k AS INT)) ELSE 0 END) AS BIGINT) AS lo
  FROM vcells c JOIN vtot t USING (m, f) GROUP BY 1, 2)"""


# --- relational / at-scale shapes ------------------------------------------

_CENTS = "CAST(SUM(CAST(round({expr} * 100) AS BIGINT)) AS BIGINT)"


# --- fleet scheduler: each fleet table's expected end state ----------------
_FLEET_ARMS = "\n  UNION ALL\n".join(
    f"""  SELECT '{name}' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
    CAST(SUM(CASE WHEN {pk} % {fleet.UPDATE_MOD} = 0
             THEN {fleet.V_WAVE1} * {pk}
             ELSE {fleet.V_SNAP} * {pk} END) AS BIGINT) AS sum_v,
    CAST({2 if name == fleet.FAIL_TABLE else 3} AS INT) AS n_versions,
    {'TRUE' if name == fleet.FAIL_TABLE else 'FALSE'} AS tick1_failed
  FROM {base}"""
    for name, base, pk, _ in fleet.FLEET
)


# --- composed curation funnel ----------------------------------------------
_LANG_LIST = ", ".join(f"'{lang}'" for lang in funnel.FUNNEL_LANGS)

# The funnel's CTE chain, shared by both oracles: ingest with the
# duplicate wave -> featurize -> lang -> quality -> exact keep-min ->
# prefix keep-min. Every constant comes from funnel.py.
_FUNNEL_CTES = f"""WITH ing AS (
  SELECT doc_id, text, lang, source FROM documents
  UNION ALL
  SELECT doc_id + {funnel.DUP_OFFSET}, text, lang, source
  FROM documents WHERE doc_id % {funnel.DUP_MOD} = 0),
f AS (
  SELECT doc_id, lang, source, norm, len(toks) AS n_tok,
    length(replace(norm, ' ', '')) / len(toks) AS mwl,
    len(list_filter(toks, x -> length(x) <= 3)) / len(toks) AS sr
  FROM (SELECT doc_id, lang, source, norm, string_split(norm, ' ') AS toks
        FROM (SELECT doc_id, lang, source, {_NORM} AS norm FROM ing))),
l AS (SELECT * FROM f WHERE lang IN ({_LANG_LIST})),
q AS (SELECT * FROM l
      WHERE n_tok >= {funnel.MIN_TOKENS} AND mwl >= {funnel.MWL_LO}
        AND mwl <= {funnel.MWL_HI} AND sr <= {funnel.SHORT_RATIO_MAX}),
e AS (SELECT * FROM (
        SELECT *, MIN(doc_id) OVER (PARTITION BY md5(norm)) AS k FROM q)
      WHERE doc_id = k),
p AS (SELECT * FROM (
        SELECT *, MIN(doc_id) OVER (
          PARTITION BY md5(substr(norm, 1, {funnel.PREFIX_K}))) AS k2 FROM e)
      WHERE doc_id = k2)"""


# --- retention pipeline: the middle and newest published epochs -------------
_MID, _NEW = retention.RET_EPOCHS[1], retention.RET_EPOCHS[2]


QUERIES: dict[str, QuerySpec] = {
    # -- relational / star schema ------------------------------------------
    "pricing_summary": QuerySpec(
        relational.q_pricing_summary,
        f"""SELECT l_returnflag, l_linestatus,
  {sql_dsum('l_quantity')} AS sum_qty,
  {sql_dsum('l_extendedprice')} AS sum_base_price,
  {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
  {sql_davg('l_quantity')} AS avg_qty,
  {sql_davg('l_discount')} AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus""",
    ),
    "shipping_priority": QuerySpec(
        relational.q_shipping_priority,
        f"""WITH r AS (
  SELECT o_orderkey, o_orderdate AS od, o_orderpriority,
    {sql_dsum('l_extendedprice * (1 - l_discount)')} AS rev_exact
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    AND c_mktsegment = 'BUILDING'
  GROUP BY 1, 2, 3)
SELECT o_orderkey, strftime(od, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
  ROUND(rev_exact, 4) AS revenue
FROM r ORDER BY rev_exact DESC, o_orderkey LIMIT 10""",
    ),
    "returned_item_losses": QuerySpec(
        relational.q_returned_item_losses,
        f"""WITH r AS (
  SELECT c_custkey, c_name, n_name,
    {sql_dsum('l_extendedprice * (1 - l_discount)')} AS rev_exact,
    COUNT(*) AS n_items
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY 1, 2, 3)
SELECT c_custkey, c_name, n_name, ROUND(rev_exact, 4) AS lost_revenue, n_items
FROM r ORDER BY rev_exact DESC, c_custkey LIMIT 20""",
    ),
    "promo_revenue": QuerySpec(
        relational.q_promo_revenue,
        f"""WITH r AS (
  SELECT {sql_dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")} AS promo_exact,
    {sql_dsum('l_extendedprice * (1 - l_discount)')} AS total_exact
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00')
SELECT ROUND(promo_exact * 100.0 / total_exact, 6) AS promo_pct,
  ROUND(promo_exact, 4) AS promo_rev, ROUND(total_exact, 4) AS total_rev
FROM r""",
    ),
    "large_volume_customers": QuerySpec(
        relational.q_large_volume_customers,
        f"""WITH big AS (
  SELECT l_orderkey, {sql_dsum('l_quantity')} AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING {sql_dsum('l_quantity')} > 300)
SELECT c_custkey, c_name, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
  ROUND(o_totalprice, 2) AS o_totalprice, ROUND(sum_qty, 2) AS sum_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY sum_qty DESC, o_orderkey LIMIT 50""",
    ),
    "market_share": QuerySpec(
        relational.q_market_share,
        f"""WITH r AS (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
    {sql_dsum("CASE WHEN sn.n_name = 'NATION_3' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")} AS nation_exact,
    {sql_dsum('l_extendedprice * (1 - l_discount)')} AS total_exact
  FROM lineitem JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE p_type = 'PROMO' AND r_name = 'AMERICA'
  GROUP BY 1)
SELECT o_year, ROUND(nation_exact / total_exact, 6) AS mkt_share,
  ROUND(total_exact, 4) AS total_rev
FROM r""",
    ),
    "top_supplier_revenue": QuerySpec(
        relational.q_top_supplier_revenue,
        f"""WITH rev AS (
  SELECT l_suppkey, {sql_dsum('l_extendedprice * (1 - l_discount)')} AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
  GROUP BY 1),
mx AS (SELECT MAX(total_rev) AS mx FROM rev)
SELECT s_suppkey, s_name, ROUND(total_rev, 4) AS total_rev
FROM rev, mx JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev = mx""",
    ),
    "small_order_revenue": QuerySpec(
        relational.q_small_order_revenue,
        f"""WITH brand AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_brand = 'Brand#1'),
a AS (SELECT l_partkey AS ap_key, {sql_davg('l_quantity')} AS avg_qty FROM brand GROUP BY 1)
SELECT ROUND({sql_dsum('l_extendedprice')} / 7.0, 4) AS avg_yearly, COUNT(*) AS n_small
FROM brand JOIN a ON l_partkey = ap_key
WHERE l_quantity < 0.2 * avg_qty""",
    ),
    "volume_shipping": QuerySpec(
        relational.q_volume_shipping,
        f"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
  CAST(year(l_shipdate) AS INT) AS l_year,
  ROUND({sql_dsum('l_extendedprice * (1 - l_discount)')}, 4) AS revenue,
  COUNT(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
GROUP BY 1, 2, 3""",
    ),
    "customer_distribution": QuerySpec(
        relational.q_customer_distribution,
        """WITH pc AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey)
SELECT c_count, COUNT(*) AS custdist
FROM pc GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",
    ),
    "late_shipments": QuerySpec(
        relational.q_late_shipments,
        """SELECT CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND date_diff('day', o_orderdate, l_shipdate) > 90""",
    ),
    "discounted_part_revenue": QuerySpec(
        relational.q_discounted_part_revenue,
        f"""SELECT ROUND({sql_dsum('l_extendedprice * (1 - l_discount)')}, 4) AS revenue,
  COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
   OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)""",
    ),
    "promo_part_suppliers": QuerySpec(
        relational.q_promo_part_suppliers,
        f"""WITH shipped AS (
  SELECT l_suppkey, {sql_dsum('l_quantity')} AS promo_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'PROMO'
    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY 1 HAVING {sql_dsum('l_quantity')} > 400)
SELECT s_suppkey, s_name, n_name, ROUND(promo_qty, 2) AS promo_qty
FROM supplier JOIN shipped ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
ORDER BY s_suppkey""",
    ),
    "idle_rich_customers": QuerySpec(
        relational.q_idle_rich_customers,
        f"""WITH a AS (SELECT {sql_davg('c_acctbal')} AS a FROM customer WHERE c_acctbal > 0.0)
SELECT CAST(c_nationkey AS INT) AS c_nationkey, COUNT(*) AS n_customers,
  ROUND({sql_dsum('c_acctbal')}, 2) AS total_bal
FROM customer, a
WHERE c_acctbal > a AND c_custkey NOT IN (
  SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY 1""",
    ),
    "revenue_by_nation": QuerySpec(
        relational.q_revenue_by_nation,
        f"""SELECT n_name, {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
  COUNT(*) AS n_lineitems
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name""",
    ),
    "region_volume": QuerySpec(
        relational.q_region_volume,
        f"""SELECT n_name, {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' GROUP BY n_name""",
    ),
    "forecast_revenue": QuerySpec(
        relational.q_forecast_revenue,
        f"""SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 24""",
    ),
    "order_priority": QuerySpec(
        relational.q_order_priority,
        """SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderkey IN (SELECT l_orderkey FROM lineitem)
GROUP BY o_orderpriority""",
    ),
    "top_orders": QuerySpec(
        relational.q_top_orders,
        """SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS total
FROM orders ORDER BY total DESC, o_orderkey LIMIT 25""",
    ),
    "top_orders_per_customer": QuerySpec(
        relational.q_top_orders_per_customer,
        """SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS total, CAST(rn AS INT) AS rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders) WHERE rn <= 3""",
    ),
    "customer_order_stats": QuerySpec(
        relational.q_customer_order_stats,
        f"""SELECT c_custkey, c_mktsegment, COUNT(o_orderkey) AS n_orders,
  COALESCE({sql_dsum('o_totalprice')}, 0.0) AS total_spent
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_mktsegment""",
    ),
    "rollup_order_status": QuerySpec(
        relational.q_rollup_order_status,
        f"""SELECT COALESCE(o_orderstatus, 'ALL') AS status, COALESCE(o_orderpriority, 'ALL') AS priority,
  COUNT(*) AS n, {sql_dsum('o_totalprice')} AS total
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""",
    ),
    "pca_top_component": QuerySpec(similarity.q_pca_top_component, _pca_sql()),
    "ab_test_zscore": QuerySpec(
        events.q_ab_test_zscore,
        """WITH pu AS (
  SELECT user_id,
    COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(27,6)) END),
             CAST(0 AS DECIMAL(27,6))) AS spend
  FROM events GROUP BY user_id),
pa AS (
  SELECT spend,
    CASE WHEN ('0x' || substr(md5('ab1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
         THEN 'A' ELSE 'B' END AS arm
  FROM pu),
g AS (SELECT arm, COUNT(*) AS n, CAST(SUM(spend) AS DOUBLE) AS s1,
        CAST(SUM(CAST(spend AS DECIMAL(19,6)) * CAST(spend AS DECIMAL(19,6))) AS DOUBLE) AS s2
      FROM pa GROUP BY 1),
a AS (SELECT n AS na, s1 AS sa, s2 AS qa FROM g WHERE arm = 'A'),
b AS (SELECT n AS nb, s1 AS sb, s2 AS qb FROM g WHERE arm = 'B')
SELECT na, nb,
  ROUND(sa / na, 4) AS mean_a, ROUND(sb / nb, 4) AS mean_b,
  ROUND((qa - sa * sa / na) / (na - 1), 4) AS var_a,
  ROUND((qb - sb * sb / nb) / (nb - 1), 4) AS var_b,
  ROUND((sa / na - sb / nb)
        / sqrt(((qa - sa * sa / na) / (na - 1)) / na
               + ((qb - sb * sb / nb) / (nb - 1)) / nb), 4) AS t_welch
FROM a, b""",
    ),
    "theil_sen_slope": QuerySpec(
        profiling.q_theil_sen_slope,
        """WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
  FROM orders GROUP BY 1),
slopes AS (
  SELECT CAST(b.rev - a.rev AS DOUBLE) / CAST(datediff('day', a.day, b.day) AS DOUBLE) AS slope
  FROM daily a JOIN daily b ON a.day < b.day)
SELECT COUNT(*) AS n_pairs,
  ROUND(median(slope) / 100.0, 6) AS slope_usd_per_day,
  ROUND(median(slope) * 365.0 / 100.0, 2) AS slope_usd_per_year
FROM slopes""",
    ),
    "mann_kendall_trend": QuerySpec(
        profiling.q_mann_kendall_trend,
        """WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
  FROM orders GROUP BY 1),
s_agg AS (
  SELECT CAST(SUM(CASE WHEN b.rev > a.rev THEN 1 WHEN b.rev < a.rev THEN -1 ELSE 0 END)
              AS BIGINT) AS s
  FROM daily a JOIN daily b ON a.day < b.day),
ties AS (
  SELECT COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS tt
  FROM (SELECT COUNT(*) AS t FROM daily GROUP BY rev HAVING COUNT(*) > 1)),
na AS (SELECT COUNT(*) AS n FROM daily),
j AS (
  SELECT s, n, CAST(n * (n - 1) * (2 * n + 5) - tt AS DOUBLE) AS var18
  FROM s_agg, na, ties)
SELECT n, s,
  ROUND(CASE WHEN s > 0 THEN (s - 1) / sqrt(var18 / 18.0)
             WHEN s < 0 THEN (s + 1) / sqrt(var18 / 18.0)
             ELSE 0.0 END, 4) AS z,
  abs(CASE WHEN s > 0 THEN (s - 1) / sqrt(var18 / 18.0)
           WHEN s < 0 THEN (s + 1) / sqrt(var18 / 18.0)
           ELSE 0.0 END) > 1.96 AS significant_5pct
FROM j""",
    ),
    "ks_test_gate": QuerySpec(
        profiling.q_ks_test_gate,
        """WITH sp AS (
  SELECT median(datediff('day', DATE '1970-01-01', CAST(date_trunc('day', o_orderdate) AS DATE))) AS mid
  FROM orders),
vals AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
    datediff('day', DATE '1970-01-01', CAST(date_trunc('day', o_orderdate) AS DATE)) <= mid AS s1
  FROM orders, sp),
pv AS (
  SELECT v, SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS d1,
    SUM(CASE WHEN NOT s1 THEN 1 ELSE 0 END) AS d2
  FROM vals GROUP BY v),
cum AS (
  SELECT v, SUM(d1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c1,
    SUM(d2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c2
  FROM pv),
n AS (SELECT SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS n1,
        SUM(CASE WHEN NOT s1 THEN 1 ELSE 0 END) AS n2 FROM vals)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
  ROUND(MAX(abs(c1 * n2 - c2 * n1)) / (n1 * n2), 6) AS ks_d
FROM cum, n GROUP BY n1, n2""",
    ),
    "source_js_divergence": QuerySpec(
        corpus.q_source_js_divergence,
        f"""WITH tok AS (SELECT source, unnest({_TOKS}) AS token FROM documents),
vocab AS (
  SELECT token FROM (
    SELECT token, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS r
    FROM tok GROUP BY token) WHERE r <= {corpus.JS_TOP}),
mapped AS (
  SELECT source, CASE WHEN v.token IS NOT NULL THEN tok.token ELSE '__oov__' END AS tk
  FROM tok LEFT JOIN vocab v ON tok.token = v.token),
ps AS (SELECT source, tk, COUNT(*) AS c FROM mapped GROUP BY 1, 2),
st AS (SELECT source, SUM(c) AS tot FROM ps GROUP BY 1),
gl AS (SELECT tk, SUM(c) AS gc FROM ps GROUP BY 1),
gt AS (SELECT SUM(gc) AS gtot FROM gl),
support AS (SELECT token AS tk FROM vocab UNION ALL SELECT '__oov__'),
grid AS (SELECT st.source, st.tot, support.tk FROM st, support),
j AS (
  SELECT grid.source,
    (COALESCE(c, 0) + 1) / (tot + {corpus.JS_TOP + 1}) AS p,
    (COALESCE(gc, 0) + 1) / (gtot + {corpus.JS_TOP + 1}) AS q
  FROM grid
  LEFT JOIN ps ON grid.source = ps.source AND grid.tk = ps.tk
  LEFT JOIN gl ON grid.tk = gl.tk, gt)
SELECT source,
  ROUND(CAST(SUM(CAST(0.5 * p * ln(p / ((p + q) / 2))
                      + 0.5 * q * ln(q / ((p + q) / 2)) AS DECIMAL(27,12))) AS DOUBLE), 6)
    AS js_divergence,
  COUNT(*) AS n_terms
FROM j GROUP BY source ORDER BY source""",
    ),
    "gini_spend": QuerySpec(
        profiling.q_gini_spend,
        """WITH s AS (
  SELECT o_custkey, SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1),
r AS (SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i FROM s)
SELECT COUNT(*) AS n_customers, CAST(SUM(cents) AS BIGINT) AS total_cents,
  ROUND(2.0 * CAST(SUM(CAST(i * cents AS DECIMAL(38,0))) AS DOUBLE)
          / (COUNT(*) * CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE))
        - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
FROM r""",
    ),
    "benford_audit": QuerySpec(
        profiling.q_benford_audit,
        f"""WITH c AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
    COUNT(*) AS n
  FROM orders GROUP BY 1),
t AS (SELECT SUM(n) AS total FROM c),
s AS (
  SELECT digit, n,
    CAST((CASE digit {" ".join(f"WHEN {d} THEN {p!r}" for d, p in profiling.BENFORD_P.items())} END) AS DOUBLE) * total AS expected
  FROM c, t)
SELECT digit, n, ROUND(expected, 2) AS expected,
  ROUND(CAST(SUM(CAST((n - expected) * (n - expected) / expected AS DECIMAL(27,10))) OVER ()
             AS DOUBLE), 6) AS chi_square
FROM s ORDER BY digit""",
    ),
    "zipf_fit": QuerySpec(
        text.q_zipf_fit,
        f"""WITH tok AS (SELECT unnest({_TOKS}) AS token FROM documents),
f AS (SELECT token, COUNT(*) AS freq FROM tok GROUP BY 1),
top AS (
  SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rank FROM f
  QUALIFY rank <= {text.ZIPF_TOP}),
pts AS (SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(freq AS DOUBLE)) AS y FROM top),
m AS (
  SELECT COUNT(*) AS n,
    CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(y AS DECIMAL(27,12))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(x * x AS DECIMAL(27,12))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(x * y AS DECIMAL(27,12))) AS DOUBLE) AS sxy
  FROM pts)
SELECT n AS n_tokens,
  ROUND((sxy - sx * sy / n) / (sxx - sx * sx / n), 4) AS zipf_slope,
  ROUND(sy / n - ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * sx / n, 4) AS intercept
FROM m""",
    ),
    "ab_cuped_gate": QuerySpec(
        events.q_ab_cuped_gate,
        """WITH base AS (
  SELECT user_id,
    datediff('day', DATE '1970-01-01', CAST(date_trunc('day', ts) AS DATE)) AS dayi,
    CASE WHEN event_type = 'purchase' THEN value END AS pv
  FROM events),
sp AS (SELECT median(dayi) AS mid FROM base),
pu AS (
  SELECT user_id,
    COALESCE(SUM(CASE WHEN dayi <= mid THEN CAST(pv AS DECIMAL(27,6)) END),
             CAST(0 AS DECIMAL(27,6))) AS pre,
    COALESCE(SUM(CASE WHEN dayi > mid THEN CAST(pv AS DECIMAL(27,6)) END),
             CAST(0 AS DECIMAL(27,6))) AS post
  FROM base, sp GROUP BY user_id),
pa AS (
  SELECT pre, post,
    CASE WHEN ('0x' || substr(md5('ab1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
         THEN 'A' ELSE 'B' END AS arm
  FROM pu),
gm AS (
  SELECT COUNT(*) AS n, CAST(SUM(pre) AS DOUBLE) AS sx, CAST(SUM(post) AS DOUBLE) AS sy,
    CAST(SUM(CAST(pre AS DECIMAL(19,6)) * CAST(pre AS DECIMAL(19,6))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(pre AS DECIMAL(19,6)) * CAST(post AS DECIMAL(19,6))) AS DOUBLE) AS sxy
  FROM pa),
th AS (SELECT (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta, sx / n AS mean_pre FROM gm),
adj AS (
  SELECT arm, post,
    CAST(post AS DOUBLE) - theta * (CAST(pre AS DOUBLE) - mean_pre) AS adj
  FROM pa, th),
g AS (
  SELECT arm, COUNT(*) AS n,
    CAST(SUM(CAST(post AS DECIMAL(27,6))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(post AS DECIMAL(19,6)) * CAST(post AS DECIMAL(19,6))) AS DOUBLE) AS syy,
    CAST(SUM(CAST(adj AS DECIMAL(38,10))) AS DOUBLE) AS sa,
    CAST(SUM(CAST(adj * adj AS DECIMAL(38,10))) AS DOUBLE) AS saa
  FROM adj GROUP BY 1),
a AS (SELECT n AS na, sy AS sy_a, syy AS syy_a, sa AS sa_a, saa AS saa_a FROM g WHERE arm = 'A'),
b AS (SELECT n AS nb, sy AS sy_b, syy AS syy_b, sa AS sa_b, saa AS saa_b FROM g WHERE arm = 'B')
SELECT na, nb, ROUND(theta, 6) AS theta,
  ROUND((sy_a / na - sy_b / nb)
        / sqrt(((syy_a - sy_a * sy_a / na) / (na - 1)) / na
               + ((syy_b - sy_b * sy_b / nb) / (nb - 1)) / nb), 4) AS t_raw,
  ROUND((sa_a / na - sa_b / nb)
        / sqrt(((saa_a - sa_a * sa_a / na) / (na - 1)) / na
               + ((saa_b - sa_b * sa_b / nb) / (nb - 1)) / nb), 4) AS t_cuped,
  ROUND((((saa_a - sa_a * sa_a / na) / (na - 1)) + ((saa_b - sa_b * sa_b / nb) / (nb - 1)))
        / (((syy_a - sy_a * sy_a / na) / (na - 1)) + ((syy_b - sy_b * sy_b / nb) / (nb - 1))), 6)
    AS var_ratio
FROM a, b, th""",
    ),
    "feature_psi": QuerySpec(
        profiling.q_feature_psi,
        f"""WITH vals AS (
  SELECT datediff('day', DATE '1970-01-01', CAST(date_trunc('day', o_orderdate) AS DATE)) AS dayi,
    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
sp AS (SELECT median(dayi) AS mid FROM vals),
tagged AS (SELECT cents, dayi <= mid AS is_ref FROM vals, sp),
ed AS (
  SELECT {", ".join(f"quantile_cont(cents, {k / profiling.PSI_BINS}) AS e{k}" for k in range(1, profiling.PSI_BINS))}
  FROM tagged WHERE is_ref),
b AS (
  SELECT 1 {" ".join(f"+ CAST(cents > e{k} AS INT)" for k in range(1, profiling.PSI_BINS))} AS bin,
    is_ref
  FROM tagged, ed),
c AS (
  SELECT bin,
    SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
    SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS n_cur
  FROM b GROUP BY 1),
t AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM c),
s AS (
  SELECT bin, n_ref, n_cur,
    GREATEST(n_ref / tr, 1e-6) AS p_ref,
    GREATEST(n_cur / tc, 1e-6) AS p_cur
  FROM c, t)
SELECT bin, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
  ROUND(p_ref, 6) AS p_ref, ROUND(p_cur, 6) AS p_cur,
  ROUND((p_cur - p_ref) * ln(p_cur / p_ref), 6) AS psi_contrib,
  ROUND(SUM(ROUND((p_cur - p_ref) * ln(p_cur / p_ref), 6)) OVER (), 6) AS psi_total
FROM s ORDER BY bin""",
    ),
    "conversion_hazard": QuerySpec(
        events.q_conversion_hazard,
        """WITH pu AS (
  SELECT v.user_id, v.vday,
    CASE WHEN p.pday >= v.vday THEN p.pday END AS cday
  FROM (SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS vday
        FROM events WHERE event_type = 'view' GROUP BY 1) v
  LEFT JOIN (SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS pday
             FROM events WHERE event_type = 'purchase' GROUP BY 1) p
    ON v.user_id = p.user_id),
en AS (SELECT vday AS day, COUNT(*) AS n_enter FROM pu GROUP BY 1),
cv AS (SELECT cday AS day, COUNT(*) AS d FROM pu WHERE cday IS NOT NULL GROUP BY 1),
days AS (
  SELECT COALESCE(en.day, cv.day) AS day,
    COALESCE(n_enter, 0) AS n_enter, COALESCE(d, 0) AS d
  FROM en FULL JOIN cv ON en.day = cv.day),
r AS (
  SELECT day, d,
    SUM(n_enter) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
      - COALESCE(SUM(d) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS n_risk
  FROM days),
h AS (
  SELECT day, d, n_risk,
    SUM(CASE WHEN n_risk > 0 THEN CAST(d AS DOUBLE) / n_risk ELSE 0.0 END)
      OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS H
  FROM r)
SELECT strftime(day, '%Y-%m-%d') AS day, d, CAST(n_risk AS BIGINT) AS n_risk,
  ROUND(H, 6) AS cum_hazard
FROM h WHERE d > 0""",
    ),
    "cusum_changepoints": QuerySpec(
        profiling.q_cusum_changepoints,
        """WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
  FROM orders GROUP BY 1),
st AS (SELECT COUNT(*) AS n, SUM(rev) AS total,
       SUM(CAST(rev AS DECIMAL(38,0)) * rev) AS sumsq FROM daily),
ms AS (
  SELECT n,
    CAST(total AS DOUBLE) / n AS mu,
    sqrt(CAST(sumsq AS DOUBLE) / n
         - (CAST(total AS DOUBLE) / n) * (CAST(total AS DOUBLE) / n)) AS sigma
  FROM st),
c1 AS (
  SELECT day,
    SUM(CAST(rev AS DOUBLE) - mu - 0.5 * sigma)
      OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS su,
    SUM(CAST(rev AS DOUBLE) - mu + 0.5 * sigma)
      OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS sd,
    sigma
  FROM daily, ms),
c2 AS (
  SELECT *,
    LEAST(MIN(su) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING), 0.0) AS min_su,
    GREATEST(MAX(sd) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING), 0.0) AS max_sd
  FROM c1),
c3 AS (
  SELECT day, su - min_su AS up_drift, max_sd - sd AS down_drift,
    5.0 * sigma AS thresh
  FROM c2)
SELECT COUNT(*) AS n_days,
  MIN(CASE WHEN up_drift > thresh THEN strftime(day, '%Y-%m-%d') END) AS first_up_alarm,
  MIN(CASE WHEN down_drift > thresh THEN strftime(day, '%Y-%m-%d') END) AS first_down_alarm,
  CAST(SUM(CASE WHEN up_drift > thresh OR down_drift > thresh THEN 1 ELSE 0 END)
       AS BIGINT) AS n_alarm_days,
  ROUND(MAX(up_drift) / 100.0, 2) AS max_up_drift_usd,
  ROUND(MAX(down_drift) / 100.0, 2) AS max_down_drift_usd
FROM c3""",
    ),
    "rfm_segments": QuerySpec(
        relational.q_rfm_segments,
        """WITH pc AS (
  SELECT o_custkey,
    datediff('day', MAX(CAST(o_orderdate AS DATE)),
             (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders)) AS recency_days,
    COUNT(*) AS frequency,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey),
s AS (
  SELECT o_custkey, monetary,
    CAST(ntile(5) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS INT) AS r_score,
    CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey ASC) AS INT) AS f_score,
    CAST(ntile(5) OVER (ORDER BY monetary DESC, o_custkey ASC) AS INT) AS m_score
  FROM pc)
SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
  ROUND(CAST(SUM(CAST(monetary AS DECIMAL(27,4))) AS DOUBLE), 2) AS segment_revenue
FROM s GROUP BY 1, 2, 3""",
    ),
    "corpus_datasheet": QuerySpec(
        corpus.q_corpus_datasheet,
        f"""WITH d AS (
  SELECT doc_id, source, lang, CAST(n_chars AS BIGINT) AS n_chars,
    md5({_NORM}) AS fp
  FROM documents)
SELECT COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  COUNT(DISTINCT source) AS n_sources, COUNT(DISTINCT lang) AS n_langs,
  COUNT(DISTINCT fp) AS n_unique_texts,
  ROUND((COUNT(*) - COUNT(DISTINCT fp)) / NULLIF(COUNT(*), 0), 4) AS exact_dup_rate,
  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
  ROUND(SUM(n_chars) / NULLIF(COUNT(*), 0), 2) AS mean_chars
FROM d""",
    ),
    "source_token_budget": QuerySpec(
        sampling.q_source_token_budget,
        """WITH d AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
    ('0x' || substr(md5('bud3:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS h
  FROM documents),
b AS (SELECT source, (2 * SUM(n_chars)) // 5 AS budget_chars FROM d GROUP BY 1),
c AS (SELECT d.*, b.budget_chars,
  SUM(n_chars) OVER (PARTITION BY d.source ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM d JOIN b USING (source))
SELECT source, CAST(MIN(budget_chars) AS BIGINT) AS budget_chars,
  CAST(SUM(CASE WHEN cum <= budget_chars THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
  CAST(SUM(CASE WHEN cum <= budget_chars THEN n_chars ELSE 0 END) AS BIGINT) AS chars_admitted,
  COUNT(*) AS n_total,
  ROUND(SUM(CASE WHEN cum <= budget_chars THEN n_chars ELSE 0 END)
        / MIN(budget_chars), 4) AS utilization
FROM c GROUP BY source""",
    ),
    "training_shard_order": QuerySpec(
        pipeline.q_training_shard_order,
        f"""WITH h AS (
  SELECT doc_id, source,
    ('0x' || substr(md5('shuf7:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS shuffle_hash
  FROM documents),
s AS (SELECT *, CAST(shuffle_hash % {pipeline.N_SHARDS} AS INT) AS shard FROM h)
SELECT shard,
  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY shuffle_hash, doc_id) - 1 AS INT) AS position,
  doc_id, source
FROM s WHERE shard < 4""",
    ),
    "cube_status_priority": QuerySpec(
        relational.q_cube_status_priority,
        f"""SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS status,
  CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS priority,
  COUNT(*) AS n, {sql_dsum('o_totalprice')} AS total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""",
    ),
    "distinct_segments": QuerySpec(
        relational.q_distinct_segments, "SELECT DISTINCT c_mktsegment FROM customer"
    ),
    "customers_without_orders": QuerySpec(
        relational.q_customers_without_orders,
        "SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders",
    ),
    "count_orders": QuerySpec(relational.q_count_orders, "SELECT COUNT(*) AS n FROM orders"),
    "snapshot_projection": QuerySpec(
        relational.q_snapshot_projection,
        "SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS acctbal FROM customer",
    ),
    "avg_acctbal_by_nation": QuerySpec(
        relational.q_avg_acctbal_by_nation,
        f"""SELECT n_name, {sql_davg('c_acctbal')} AS avg_bal, COUNT(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name""",
    ),
    "nation_trade_volume": QuerySpec(
        relational.q_nation_trade_volume,
        f"""SELECT cust_nation, supp_nation, CAST(ship_year AS INT) AS ship_year,
  {sql_dsum('volume_raw')} AS volume
FROM (
  SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
         year(l_shipdate) AS ship_year,
         l_extendedprice * (1 - l_discount) AS volume_raw
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE n1.n_name <> n2.n_name
    AND n1.n_name IN ('NATION_1', 'NATION_2') AND n2.n_name IN ('NATION_1', 'NATION_2'))
GROUP BY cust_nation, supp_nation, ship_year""",
    ),
    "profit_by_nation_year": QuerySpec(
        relational.q_profit_by_nation_year,
        f"""SELECT n_name, CAST(year(l_shipdate) AS INT) AS ship_year,
  {sql_dsum('l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity * 0.1')} AS profit,
  COUNT(*) AS n
FROM lineitem JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey
WHERE p_type IN ('PROMO', 'ECONOMY')
GROUP BY n_name, ship_year""",
    ),
    "part_type_shares": QuerySpec(
        relational.q_part_type_shares,
        f"""SELECT p_type, {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue, COUNT(*) AS n
FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_type""",
    ),
    # -- CDC / pgsf-core surface -------------------------------------------
    "merge_upsert_customer": QuerySpec(
        cdc_demo.q_merge_upsert_customer,
        """WITH updates AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0 AS c_acctbal
  FROM customer WHERE c_custkey % 10 = 0 AND c_custkey % 17 <> 0),
inserts AS (
  SELECT c_custkey + 1000000 AS c_custkey, 'NEW ' || c_name AS c_name, c_nationkey, c_acctbal
  FROM customer WHERE c_custkey % 13 = 0),
deletes AS (SELECT c_custkey FROM customer WHERE c_custkey % 17 = 0),
changed_keys AS (
  SELECT c_custkey FROM updates UNION SELECT c_custkey FROM inserts
  UNION SELECT c_custkey FROM deletes),
kept AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer
  WHERE c_custkey NOT IN (SELECT c_custkey FROM changed_keys)),
merged AS (
  SELECT * FROM kept UNION ALL SELECT * FROM updates UNION ALL SELECT * FROM inserts)
SELECT c_custkey, c_name, CAST(c_nationkey AS INT) AS c_nationkey, ROUND(c_acctbal, 2) AS acctbal
FROM merged""",
    ),
    "soft_delete_split": QuerySpec(
        cdc_demo.q_soft_delete_split,
        """WITH ch AS (
  SELECT FALSE AS d FROM customer WHERE c_custkey % 10 = 0 AND c_custkey % 17 <> 0
  UNION ALL SELECT FALSE FROM customer WHERE c_custkey % 13 = 0
  UNION ALL SELECT TRUE FROM customer WHERE c_custkey % 17 = 0)
SELECT d AS "IsDeleted", COUNT(*) AS n FROM ch GROUP BY d""",
    ),
    # -- events --------------------------------------------------------------
    "watermark_filter": QuerySpec(
        events.q_watermark_filter,
        f"""SELECT event_type, COUNT(*) AS n, {sql_dsum('value')} AS total_value
FROM events WHERE ts > TIMESTAMP '2024-01-15 00:00:00' GROUP BY event_type""",
    ),
    "events_hourly": QuerySpec(
        events.q_events_hourly,
        f"""SELECT strftime(date_trunc('hour', ts), '{_TS_FMT_SQL}') AS hour, event_type,
  COUNT(*) AS n, {sql_dsum('value')} AS total_value
FROM events GROUP BY hour, event_type""",
    ),
    "latest_event_per_user": QuerySpec(
        events.q_latest_event_per_user,
        f"""SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
  strftime(ts, '{_TS_FMT_SQL}') AS last_ts
FROM events
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1""",
    ),
    "event_props_extract": QuerySpec(
        events.q_event_props_extract,
        f"""WITH e AS (SELECT CAST(regexp_extract(props, '(\\d+)', 1) AS INT) AS k, value FROM events)
SELECT CAST(FLOOR(k / 10) AS INT) AS bucket, COUNT(*) AS n, {sql_davg('value')} AS avg_value
FROM e GROUP BY bucket""",
    ),
    "json_props_stats": QuerySpec(
        events.q_json_props_stats,
        """WITH e AS (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events)
SELECT event_type, COUNT(k) AS n,
  ROUND(CAST(SUM(k) AS DOUBLE) / COUNT(k), 6) AS avg_k,
  MAX(k) AS max_k
FROM e GROUP BY event_type""",
    ),
    "user_activity": QuerySpec(
        events.q_user_activity,
        f"""SELECT user_id, COUNT(*) AS n_events,
  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
  {sql_dsum("CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END")} AS purchase_value
FROM events GROUP BY user_id""",
    ),
    "events_sliding_2h": QuerySpec(
        events.q_events_sliding_2h,
        f"""WITH assigned AS (
  SELECT event_type,
    unnest([date_trunc('hour', ts), date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS wstart
  FROM events)
SELECT strftime(wstart, '{_TS_FMT_SQL}') AS window_start, event_type, COUNT(*) AS n
FROM assigned GROUP BY wstart, event_type""",
    ),
    "session_window_native": QuerySpec(
        events.q_session_window_native,
        f"""WITH e AS (SELECT user_id, event_id, ts, CAST(FLOOR(epoch(ts)) AS BIGINT) AS tsec FROM events),
flags AS (SELECT *,
  CASE WHEN tsec - LAG(tsec) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         OR tsec - LAG(tsec) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800
       THEN 1 ELSE 0 END AS new_session
  FROM e),
sess AS (SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM flags)
SELECT user_id, strftime(MIN(ts), '{_TS_FMT_SQL}') AS session_start, COUNT(*) AS n_events
FROM sess GROUP BY user_id, sid""",
    ),
    "user_event_pivot": QuerySpec(
        events.q_user_event_pivot,
        """SELECT user_id,
  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
FROM events GROUP BY user_id""",
    ),
    "sessionize": QuerySpec(
        events.q_sessionize,
        f"""WITH e AS (SELECT user_id, event_id, ts, CAST(FLOOR(epoch(ts)) AS BIGINT) AS tsec FROM events),
flags AS (SELECT *,
  CASE WHEN tsec - LAG(tsec) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         OR tsec - LAG(tsec) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
       THEN 1 ELSE 0 END AS new_session
  FROM e),
sess AS (SELECT *,
  CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flags)
SELECT user_id, session_id, COUNT(*) AS n_events,
  strftime(MIN(ts), '{_TS_FMT_SQL}') AS session_start,
  MAX(tsec) - MIN(tsec) AS duration_sec
FROM sess GROUP BY user_id, session_id""",
    ),
    # -- text ----------------------------------------------------------------
    "token_stats": QuerySpec(
        text.q_token_stats,
        """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents)
SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
  CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
  ROUND(len(list_distinct(toks)) / len(toks), 4) AS distinct_ratio
FROM t""",
    ),
    "quality_score": QuerySpec(
        text.q_quality_score,
        """WITH t AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents)
SELECT doc_id, CAST(length(text) AS INT) AS n_chars_actual, CAST(len(toks) AS INT) AS n_tokens,
  ROUND(length(regexp_replace(text, '\\s+', '', 'g')) / len(toks), 4) AS mean_word_len,
  ROUND(len(list_filter(toks, x -> length(x) <= 3)) / len(toks), 4) AS short_token_ratio,
  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS INT) AS n_digits
FROM t""",
    ),
    "lang_id": QuerySpec(
        text.q_lang_id,
        """WITH t AS (SELECT doc_id, lang,
  list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')) AS toks FROM documents),
s AS (SELECT doc_id, lang,
  len(list_intersect(toks, ['the','and','of','to','in'])) AS s_en,
  len(list_intersect(toks, ['le','la','les','et','des'])) AS s_fr,
  len(list_intersect(toks, ['der','die','das','und','nicht'])) AS s_de,
  len(list_intersect(toks, ['el','los','las','y','del'])) AS s_es
  FROM t)
SELECT lang,
  CASE WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es AND s_en > 0 THEN 'en'
       WHEN s_fr >= s_de AND s_fr >= s_es AND s_fr > 0 THEN 'fr'
       WHEN s_de >= s_es AND s_de > 0 THEN 'de'
       WHEN s_es > 0 THEN 'es' ELSE 'und' END AS lang_guess,
  COUNT(*) AS n
FROM s GROUP BY lang, lang_guess""",
    ),
    "langid_macro_f1": QuerySpec(
        text.q_langid_macro_f1,
        """WITH t AS (SELECT doc_id, lang,
  list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')) AS toks FROM documents),
s AS (SELECT doc_id, lang,
  len(list_intersect(toks, ['the','and','of','to','in'])) AS s_en,
  len(list_intersect(toks, ['le','la','les','et','des'])) AS s_fr,
  len(list_intersect(toks, ['der','die','das','und','nicht'])) AS s_de,
  len(list_intersect(toks, ['el','los','las','y','del'])) AS s_es
  FROM t),
conf AS (SELECT lang,
  CASE WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es AND s_en > 0 THEN 'en'
       WHEN s_fr >= s_de AND s_fr >= s_es AND s_fr > 0 THEN 'fr'
       WHEN s_de >= s_es AND s_de > 0 THEN 'de'
       WHEN s_es > 0 THEN 'es' ELSE 'und' END AS lang_guess,
  COUNT(*) AS n
  FROM s GROUP BY lang, lang_guess),
cls AS (SELECT DISTINCT lang AS cls FROM conf),
tpc AS (SELECT lang AS cls, CAST(n AS BIGINT) AS tp FROM conf WHERE lang = lang_guess),
fpc AS (SELECT lang_guess AS cls, CAST(SUM(n) AS BIGINT) AS fp
  FROM conf WHERE lang <> lang_guess GROUP BY 1),
fnc AS (SELECT lang AS cls, CAST(SUM(n) AS BIGINT) AS fn
  FROM conf WHERE lang <> lang_guess GROUP BY 1),
j AS (SELECT cls.cls, COALESCE(tp, 0) AS tp, COALESCE(fp, 0) AS fp, COALESCE(fn, 0) AS fn
  FROM cls LEFT JOIN tpc USING (cls) LEFT JOIN fpc USING (cls) LEFT JOIN fnc USING (cls)),
pr AS (SELECT cls, tp, fp, fn,
  ROUND(CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)), 6) AS "precision",
  ROUND(CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE)), 6) AS "recall"
  FROM j),
f1t AS (SELECT *,
  ROUND(2.0 * "precision" * "recall" / ("precision" + "recall"), 6) AS f1 FROM pr),
mc AS (SELECT ROUND(CAST(SUM(CAST(COALESCE(f1, 0.0) AS DECIMAL(18,9))) AS DOUBLE)
  / COUNT(*), 6) AS macro_f1 FROM f1t)
SELECT cls, tp, fp, fn, "precision", "recall", f1, macro_f1
FROM f1t, mc ORDER BY cls""",
    ),
    "doc_fingerprint": QuerySpec(
        text.q_doc_fingerprint,
        """WITH t AS (SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS norm FROM documents)
SELECT doc_id, md5(norm) AS fingerprint, substr(md5(norm), 1, 2) AS shard FROM t""",
    ),
    "top_tfidf_term": QuerySpec(
        text.q_top_tfidf_term,
        """WITH tokens AS (
  SELECT doc_id, len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_tok,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
  FROM documents),
tf AS (SELECT doc_id, n_tok, token, COUNT(*) AS c FROM tokens GROUP BY doc_id, n_tok, token),
dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
scored AS (
  SELECT tf.doc_id, tf.token,
         (tf.c / tf.n_tok) * ln(CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) / dfreq.df) AS tfidf
  FROM tf JOIN dfreq ON tf.token = dfreq.token)
SELECT doc_id, token AS top_term, ROUND(tfidf, 6) AS tfidf
FROM scored
QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) = 1""",
    ),
    "token_stats_pandas": QuerySpec(
        text.q_token_stats_pandas,
        # identical oracle to token_stats: the pandas path must agree exactly
        """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents)
SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
  CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
  ROUND(len(list_distinct(toks)) / len(toks), 4) AS distinct_ratio
FROM t""",
    ),
    "docs_by_source": QuerySpec(
        text.q_docs_by_source,
        """SELECT source, lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 2) AS avg_chars
FROM documents GROUP BY source, lang""",
    ),
    # -- dedup ---------------------------------------------------------------
    "dedup_exact": QuerySpec(
        dedup.q_dedup_exact,
        f"""WITH t AS (SELECT doc_id, md5({_NORM}) AS fp FROM documents)
SELECT fp, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies FROM t GROUP BY fp""",
    ),
    "jaccard_pairs": QuerySpec(
        dedup.q_jaccard_pairs,
        # hash-chunked source blocks: mirrors the Spark face's md5 chunk
        # assignment exactly (seed prefix 's7:', first 8 md5 hex chars)
        f"""WITH t AS (SELECT doc_id, source, list_distinct({_TOKS}) AS toks FROM documents),
nc AS (SELECT source, CAST(CEIL(COUNT(*) / {dedup.MAX_BUCKET}.0) AS BIGINT) AS n_chunks
       FROM t GROUP BY source),
c AS (SELECT t.doc_id, t.source, t.toks,
        ('0x' || substr(md5('s7:' || CAST(t.doc_id AS VARCHAR)), 1, 8))::BIGINT % nc.n_chunks AS chunk
      FROM t JOIN nc ON t.source = nc.source)
SELECT * FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    ROUND(len(list_intersect(a.toks, b.toks)) / len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jaccard
  FROM c a JOIN c b ON a.source = b.source AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
WHERE jaccard >= 0.2""",
    ),
    "minhash_signatures": QuerySpec(
        dedup.q_minhash_signatures,
        _minhash_cte()
        + f"SELECT doc_id, {', '.join(f'mh{i}' for i in range(dedup.N_MINHASH))} FROM mh",
    ),
    "minhash_lsh_pairs": QuerySpec(
        dedup.q_minhash_lsh_pairs,
        _minhash_cte()
        + _lsh_banded_sql()
        + """
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id""",
    ),
    "lsh_bucket_stats": QuerySpec(
        dedup.q_lsh_bucket_stats,
        _minhash_cte()
        + _lsh_banded_sql()
        + f"""
SELECT band, COUNT(*) AS n_buckets, MAX(bsize) AS max_bucket_size,
  CAST(SUM(CASE WHEN bsize > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_candidate_buckets,
  CAST(SUM(CASE WHEN bsize > {dedup.MAX_BUCKET} THEN 1 ELSE 0 END) AS BIGINT) AS n_oversized,
  CAST(SUM(CAST(CEIL(bsize / {dedup.MAX_BUCKET}.0) AS BIGINT) - 1) AS BIGINT) AS recovered_pairs
FROM (SELECT band, bucket, COUNT(*) AS bsize FROM banded GROUP BY band, bucket)
GROUP BY band""",
    ),
    "lsh_jaccard_verified": QuerySpec(
        dedup.q_lsh_jaccard_verified,
        _minhash_cte()
        + _lsh_banded_sql()
        + f""",
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
t AS (SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents)
SELECT * FROM (
  SELECT doc_a, doc_b,
    ROUND(len(list_intersect(ta.toks, tb.toks)) / len(list_distinct(list_concat(ta.toks, tb.toks))), 4) AS jaccard
  FROM pairs JOIN t ta ON doc_a = ta.doc_id JOIN t tb ON doc_b = tb.doc_id)
WHERE jaccard >= {dedup.JACCARD_T}""",
    ),
    "incremental_lsh_dedup": QuerySpec(
        dedup.q_incremental_lsh_dedup,
        _minhash_cte()
        + _lsh_banded_sql()
        + f""",
cand AS (
  SELECT DISTINCT n.doc_id AS doc_new, o.doc_id AS doc_old
  FROM banded n JOIN banded o ON n.band = o.band AND n.bucket = o.bucket
  WHERE n.doc_id % 10 = 0 AND o.doc_id % 10 <> 0),
t AS (SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents),
v AS (
  SELECT doc_new,
    ROUND(len(list_intersect(ta.toks, tb.toks))
          / len(list_distinct(list_concat(ta.toks, tb.toks))), 4) AS jaccard
  FROM cand JOIN t ta ON doc_new = ta.doc_id JOIN t tb ON doc_old = tb.doc_id)
SELECT
  (SELECT COUNT(*) FROM documents WHERE doc_id % 10 = 0) AS n_new,
  (SELECT COUNT(*) FROM cand) AS n_candidate_pairs,
  CAST(COALESCE(SUM(CASE WHEN jaccard >= {dedup.JACCARD_T} THEN 1 END), 0) AS BIGINT) AS n_dup_pairs,
  COUNT(DISTINCT CASE WHEN jaccard >= {dedup.JACCARD_T} THEN doc_new END) AS n_new_docs_with_dup
FROM v""",
    ),
    "simhash": QuerySpec(dedup.q_simhash, _simhash_sql()),
    "simhash_near_dup": QuerySpec(dedup.q_simhash_near_dup, _simhash_near_dup_sql()),
    "lsh_containment": QuerySpec(
        dedup.q_lsh_containment,
        _minhash_cte()
        + _lsh_banded_sql()
        + f""",
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
t AS (SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents)
SELECT * FROM (
  SELECT doc_a, doc_b,
    ROUND(len(list_intersect(ta.toks, tb.toks)) / least(len(ta.toks), len(tb.toks)), 4) AS containment
  FROM pairs JOIN t ta ON doc_a = ta.doc_id JOIN t tb ON doc_b = tb.doc_id)
WHERE containment >= {dedup.CONTAINMENT_T}""",
    ),
    "prefix_filter_pairs": QuerySpec(
        dedup.q_prefix_filter_pairs,
        f"""WITH t AS (SELECT doc_id, source, list_distinct({_TOKS}) AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
df AS (SELECT token, COUNT(*) AS df FROM tok GROUP BY token),
ranked AS (SELECT doc_id, list(token ORDER BY df, token) AS rtoks
           FROM tok JOIN df USING (token) GROUP BY doc_id),
pre AS (SELECT doc_id,
  rtoks[1:CAST(len(rtoks) - ceil({dedup.PREFIX_T} * len(rtoks)) + 1 AS INT)] AS prefix FROM ranked),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM (SELECT doc_id, unnest(prefix) AS token FROM pre) a
  JOIN (SELECT doc_id, unnest(prefix) AS token FROM pre) b USING (token)
  WHERE a.doc_id < b.doc_id),
v AS (SELECT ta.source AS source,
    ROUND(len(list_intersect(ta.toks, tb.toks)) / len(list_distinct(list_concat(ta.toks, tb.toks))), 4) AS jaccard
  FROM cand JOIN t ta ON doc_a = ta.doc_id JOIN t tb ON doc_b = tb.doc_id)
SELECT source, COUNT(*) AS n_pairs, {sql_davg('jaccard', ndigits=4)} AS avg_jaccard,
  MAX(jaccard) AS max_jaccard
FROM v WHERE jaccard >= {dedup.PREFIX_T} GROUP BY source""",
    ),
    "pagerank_neardup": QuerySpec(
        dedup.q_pagerank_neardup,
        _minhash_cte()
        + _lsh_banded_sql()
        + f""",
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
edges AS (SELECT doc_a, doc_b FROM pairs UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs),
deg AS (SELECT doc_a, COUNT(*) AS deg FROM edges GROUP BY 1),
nn AS (SELECT COUNT(*) AS n FROM deg),
r0 AS (SELECT doc_a, 1.0 / n AS pr FROM deg, nn),
"""
        + ",\n".join(
            f"""r{i} AS (
  SELECT e.doc_a, (1 - {dedup.PR_DAMPING}) / n + {dedup.PR_DAMPING} * CAST(SUM(CAST(rb.pr / db.deg AS DECIMAL(27,18))) AS DOUBLE) AS pr
  FROM edges e JOIN r{i - 1} rb ON e.doc_b = rb.doc_a JOIN deg db ON e.doc_b = db.doc_a, nn
  GROUP BY e.doc_a, n)"""
            for i in range(1, dedup.PR_ITERS + 1)
        )
        + f"""
SELECT doc_a, ROUND(pr, 8) AS pagerank FROM r{dedup.PR_ITERS}
ORDER BY pagerank DESC, doc_a LIMIT 10""",
    ),
    "dedup_clusters": QuerySpec(
        dedup.q_dedup_clusters,
        _minhash_cte().replace("WITH ", "WITH RECURSIVE ", 1)
        + _lsh_banded_sql()
        + """,
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
walk(doc, reach) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, w.reach FROM edges e JOIN walk w ON e.b = w.doc)
SELECT doc AS doc_id, MIN(reach) AS cluster FROM walk GROUP BY doc""",
    ),
    "dataset_split": QuerySpec(
        sampling.q_dataset_split,
        f"""WITH s AS (SELECT doc_id, n_chars,
  ('0x' || substr(md5('{sampling.SPLIT_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS slot
  FROM documents)
SELECT CASE WHEN slot < {sampling.TRAIN_PCT} THEN 'train'
            WHEN slot < {sampling.TRAIN_PCT + sampling.VAL_PCT} THEN 'val'
            ELSE 'test' END AS split,
  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM s GROUP BY split""",
    ),
    "split_assignment": QuerySpec(
        sampling.q_split_assignment,
        f"""WITH s AS (SELECT doc_id,
  ('0x' || substr(md5('{sampling.SPLIT_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS slot
  FROM documents)
SELECT doc_id, CASE WHEN slot < {sampling.TRAIN_PCT} THEN 'train'
                    WHEN slot < {sampling.TRAIN_PCT + sampling.VAL_PCT} THEN 'val'
                    ELSE 'test' END AS split
FROM s""",
    ),
    "weighted_sample": QuerySpec(
        sampling.q_weighted_sample,
        """WITH p AS (
  SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS w,
    ('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT / CAST(n_chars AS DOUBLE) AS priority
  FROM documents),
picked AS (SELECT * FROM p ORDER BY priority, doc_id LIMIT 100)
SELECT source, COUNT(*) AS n_sampled, CAST(SUM(CAST(w AS BIGINT)) AS BIGINT) AS weight_mass,
  MIN(doc_id) AS first_doc
FROM picked GROUP BY source""",
    ),
    "quality_filter": QuerySpec(
        pipeline.q_quality_filter,
        f"""WITH t AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
f AS (SELECT doc_id,
  CASE WHEN len(toks) < {pipeline.MIN_TOKENS} THEN 'too_few_tokens'
       WHEN len(list_filter(toks, x -> length(x) <= 3)) / len(toks) > {pipeline.MAX_SHORT_RATIO} THEN 'too_many_short_tokens'
       WHEN length(regexp_replace(text, '[^0-9]', '', 'g')) / length(text) > {pipeline.MAX_DIGIT_RATIO} THEN 'too_many_digits'
       ELSE NULL END AS r
  FROM t)
SELECT doc_id, r IS NULL AS keep, COALESCE(r, 'kept') AS drop_reason FROM f""",
    ),
    "training_manifest": QuerySpec(
        pipeline.q_training_manifest,
        f"""WITH t AS (SELECT doc_id, source, lang, n_chars, text,
  regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
q AS (SELECT doc_id, source, lang, n_chars, text FROM t
  WHERE NOT (len(toks) < {pipeline.MIN_TOKENS}
    OR len(list_filter(toks, x -> length(x) <= 3)) / len(toks) > {pipeline.MAX_SHORT_RATIO}
    OR length(regexp_replace(text, '[^0-9]', '', 'g')) / length(text) > {pipeline.MAX_DIGIT_RATIO})),
fps AS (SELECT *, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp FROM q),
canon AS (SELECT fp, MIN(doc_id) AS doc_id FROM fps GROUP BY fp),
kept AS (SELECT f.doc_id, f.source, f.lang, f.n_chars
  FROM fps f JOIN canon c ON f.fp = c.fp AND f.doc_id = c.doc_id),
s AS (SELECT *, ('0x' || substr(md5('{sampling.SPLIT_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS slot FROM kept)
SELECT doc_id, source, lang, n_chars,
  CASE WHEN slot < {sampling.TRAIN_PCT} THEN 'train'
       WHEN slot < {sampling.TRAIN_PCT + sampling.VAL_PCT} THEN 'val'
       ELSE 'test' END AS split
FROM s""",
    ),
    "manifest_summary": QuerySpec(
        pipeline.q_manifest_summary,
        f"""WITH t AS (SELECT doc_id, source, lang, n_chars, text,
  regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
q AS (SELECT doc_id, lang, n_chars, text FROM t
  WHERE NOT (len(toks) < {pipeline.MIN_TOKENS}
    OR len(list_filter(toks, x -> length(x) <= 3)) / len(toks) > {pipeline.MAX_SHORT_RATIO}
    OR length(regexp_replace(text, '[^0-9]', '', 'g')) / length(text) > {pipeline.MAX_DIGIT_RATIO})),
fps AS (SELECT *, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp FROM q),
canon AS (SELECT fp, MIN(doc_id) AS doc_id FROM fps GROUP BY fp),
kept AS (SELECT f.doc_id, f.lang, f.n_chars
  FROM fps f JOIN canon c ON f.fp = c.fp AND f.doc_id = c.doc_id),
s AS (SELECT *, ('0x' || substr(md5('{sampling.SPLIT_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS slot FROM kept)
SELECT CASE WHEN slot < {sampling.TRAIN_PCT} THEN 'train'
            WHEN slot < {sampling.TRAIN_PCT + sampling.VAL_PCT} THEN 'val'
            ELSE 'test' END AS split,
  lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM s GROUP BY split, lang""",
    ),
    "sample_per_source": QuerySpec(
        sampling.q_sample_per_source,
        """WITH s AS (SELECT source, doc_id,
  (('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100) * 10000000 + doc_id AS ord
  FROM documents)
SELECT source, doc_id FROM s
QUALIFY ROW_NUMBER() OVER (PARTITION BY source ORDER BY ord ASC) <= 3""",
    ),
    # -- similarity ----------------------------------------------------------
    "cosine_topk": QuerySpec(
        similarity.q_cosine_topk,
        f"""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT vec_id,
  ROUND({_dot_sql('v', 'qv')} / (sqrt({_dot_sql('v', 'v')}) * sqrt({_dot_sql('qv', 'qv')})), 4) AS cosine
FROM e, q WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id LIMIT 10""",
    ),
    "embedding_norms": QuerySpec(
        similarity.q_embedding_norms,
        f"""WITH e AS (SELECT vec_id, label, embedding, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings)
SELECT vec_id, CAST(label AS INT) AS label,
  ROUND(sqrt({_dot_sql('v', 'v')}), 4) AS l2_norm, CAST(len(embedding) AS INT) AS dim
FROM e""",
    ),
    "label_centroid_distance": QuerySpec(
        similarity.q_label_centroid_distance,
        f"""WITH e AS (SELECT vec_id, CAST(label AS INT) AS label, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
pos AS (SELECT label, i, v[CAST(i AS INT)] AS x FROM e, range(1, 65) r(i)),
cent AS (
  SELECT label, list(cx ORDER BY i) AS cv FROM (
    SELECT label, i, CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / COUNT(x) AS cx
    FROM pos GROUP BY label, i)
  GROUP BY label),
j AS (
  SELECT e.label,
    {_dot_sql('v', 'cv')} / (sqrt({_dot_sql('v', 'v')}) * sqrt({_dot_sql('cv', 'cv')})) AS cos
  FROM e JOIN cent ON e.label = cent.label)
SELECT label, COUNT(*) AS n,
  ROUND(CAST(SUM(CAST(cos AS DECIMAL(18,12))) AS DOUBLE) / COUNT(cos), 4) AS avg_cos_to_centroid
FROM j GROUP BY label""",
    ),
    "lsh_buckets": QuerySpec(similarity.q_lsh_buckets, _lsh_bucket_sql()),
    "ann_recall_at_5": QuerySpec(
        similarity.q_ann_recall_at_5,
        f"""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
b AS (SELECT vec_id, v, ({_bucket_expr_sql()}) AS bucket FROM e),
q AS (SELECT v AS qv, unnest([bucket, {", ".join(f"xor(bucket, {1 << p})" for p in range(8))}]) AS probe
      FROM b WHERE vec_id = 0),
ann AS (SELECT vec_id,
  ROUND({_dot_sql('v', 'qv')} / (sqrt({_dot_sql('v', 'v')}) * sqrt({_dot_sql('qv', 'qv')})), 4) AS cosine
  FROM b JOIN q ON b.bucket = q.probe WHERE vec_id <> 0
  ORDER BY cosine DESC, vec_id LIMIT 5),
q0 AS (SELECT v AS qv FROM e WHERE vec_id = 0),
exact5 AS (SELECT vec_id,
  ROUND({_dot_sql('v', 'qv')} / (sqrt({_dot_sql('v', 'v')}) * sqrt({_dot_sql('qv', 'qv')})), 4) AS cosine
  FROM e, q0 WHERE vec_id <> 0
  ORDER BY cosine DESC, vec_id LIMIT 5)
SELECT CAST(COUNT(*) AS INT) AS n_hits, COUNT(*) / 5.0 AS recall_at_5
FROM ann JOIN exact5 USING (vec_id)""",
    ),
    "ann_multiprobe_topk": QuerySpec(
        similarity.q_ann_multiprobe_topk,
        f"""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
b AS (SELECT vec_id, v, ({_bucket_expr_sql()}) AS bucket FROM e),
q AS (SELECT v AS qv, unnest([bucket, {", ".join(f"xor(bucket, {1 << p})" for p in range(8))}]) AS probe
      FROM b WHERE vec_id = 0)
SELECT vec_id,
  ROUND({_dot_sql('v', 'qv')} / (sqrt({_dot_sql('v', 'v')}) * sqrt({_dot_sql('qv', 'qv')})), 4) AS cosine
FROM b JOIN q ON b.bucket = q.probe
WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id LIMIT 5""",
    ),
    "ivf_topk": QuerySpec(
        similarity.q_ivf_topk,
        f"""WITH e AS (SELECT vec_id, CAST(label AS INT) AS label, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
pos AS (SELECT label, i, v[CAST(i AS INT)] AS x FROM e, range(1, 65) r(i)),
cent AS (
  SELECT label, list(cx ORDER BY i) AS cv FROM (
    SELECT label, i, CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / COUNT(x) AS cx
    FROM pos GROUP BY label, i)
  GROUP BY label),
assigned AS (
  SELECT vec_id, v, label AS cluster FROM (
    SELECT e.vec_id, e.v, cent.label,
      {_dot_sql('e.v', 'cent.cv')} / (sqrt({_dot_sql('e.v', 'e.v')}) * sqrt({_dot_sql('cent.cv', 'cent.cv')})) AS cos_c
    FROM e CROSS JOIN cent)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, label) = 1),
q AS (SELECT v AS qv, cluster AS qcluster FROM assigned WHERE vec_id = 0)
SELECT vec_id,
  ROUND({_dot_sql('v', 'qv')} / (sqrt({_dot_sql('v', 'v')}) * sqrt({_dot_sql('qv', 'qv')})), 4) AS cosine
FROM assigned, q WHERE cluster = qcluster AND vec_id <> 0
ORDER BY cosine DESC, vec_id LIMIT 5""",
    ),
    "kmeans_clusters": QuerySpec(similarity.q_kmeans_clusters, _kmeans_sql()),
    "semantic_dedup": QuerySpec(similarity.q_semantic_dedup, _semantic_dedup_sql()),
    "sq_recall_at_5": QuerySpec(
        similarity.q_sq_recall_at_5,
        f"""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
pos AS (SELECT i, v[CAST(i AS INT)] AS x FROM e, range(1, 65) r(i)),
rng AS (SELECT list(lo ORDER BY i) AS los, list(hi ORDER BY i) AS his
  FROM (SELECT i, MIN(x) AS lo, MAX(x) AS hi FROM pos GROUP BY i)),
qz AS (SELECT vec_id,
  [CAST(round((v[CAST(i AS INT)] - los[CAST(i AS INT)]) / (his[CAST(i AS INT)] - los[CAST(i AS INT)]) * 255.0, 0) AS BIGINT)
   for i in range(1, 65)] AS qv
  FROM e, rng),
qq AS (SELECT qv AS qq FROM qz WHERE vec_id = 0),
approx5 AS (SELECT vec_id FROM (
    SELECT vec_id,
      CAST({_dot_sql('qv', 'qq')} AS DOUBLE) / (sqrt(CAST({_dot_sql('qv', 'qv')} AS DOUBLE)) * sqrt(CAST({_dot_sql('qq', 'qq')} AS DOUBLE))) AS qcos
    FROM qz, qq WHERE vec_id <> 0)
  ORDER BY qcos DESC, vec_id LIMIT 5),
q0 AS (SELECT v AS qv FROM e WHERE vec_id = 0),
exact5 AS (SELECT vec_id FROM (
    SELECT vec_id,
      ROUND({_dot_sql('v', 'qv')} / (sqrt({_dot_sql('v', 'v')}) * sqrt({_dot_sql('qv', 'qv')})), 4) AS cosine
    FROM e, q0 WHERE vec_id <> 0)
  ORDER BY cosine DESC, vec_id LIMIT 5)
SELECT CAST(COUNT(*) AS INT) AS n_hits, COUNT(*) / 5.0 AS recall_at_5
FROM approx5 JOIN exact5 USING (vec_id)""",
    ),
    "embedding_near_dup": QuerySpec(
        similarity.q_embedding_near_dup,
        f"""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
b AS (SELECT vec_id, v, ({_bucket_expr_sql()}) AS bucket FROM e),
pairs AS (
  SELECT a.vec_id AS ka, b2.vec_id AS kb,
    ROUND({_dot_sql('a.v', 'b2.v')} / (sqrt({_dot_sql('a.v', 'a.v')}) * sqrt({_dot_sql('b2.v', 'b2.v')})), 4) AS cosine
  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
SELECT kb AS dup_vec_id, MIN(ka) AS canonical_vec_id, ROUND(MAX(cosine), 4) AS max_cosine
FROM pairs WHERE cosine >= 0.35 GROUP BY kb""",
    ),
    "bpe_token_count": QuerySpec(
        text.q_bpe_token_count,
        f"""WITH t AS (SELECT doc_id, trim(lower(text)) AS norm FROM documents)
SELECT doc_id,
  CAST(len(regexp_split_to_array(norm, '\\s+')) AS INT) AS ws_tokens,
  CAST(len(regexp_extract_all(norm, '{text.BPE_ISH_PATTERN}')) AS INT) AS bpe_tokens,
  ROUND(len(regexp_extract_all(norm, '{text.BPE_ISH_PATTERN}')) / len(regexp_split_to_array(norm, '\\s+')), 4) AS subword_ratio
FROM t""",
    ),
    "bpe_merge_pairs": QuerySpec(
        text.q_bpe_merge_pairs,
        """WITH w AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w FROM documents),
p AS (
  SELECT substr(w, CAST(i AS INTEGER), 2) AS pair
  FROM (SELECT w, unnest(range(1, length(w))) AS i FROM w WHERE length(w) >= 2))
SELECT pair, COUNT(*) AS n FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 20""",
    ),
    "winnow_fingerprints": QuerySpec(
        text.q_winnow_fingerprints,
        f"""WITH n AS (SELECT doc_id, {_NORM} AS norm FROM documents),
g AS (SELECT doc_id, [substr(norm, CAST(i AS INT), {text.WINNOW_K}) for i in range(1, greatest(length(norm) - {text.WINNOW_K - 1}, 1) + 1)] AS grams FROM n),
h AS (SELECT doc_id, len(grams) AS n_grams,
  [('0x' || substr(md5(x), 1, 8))::BIGINT for x in grams] AS hashes FROM g),
s AS (SELECT doc_id, n_grams,
  [list_min(hashes[CAST(j AS INT):CAST(j + {text.WINNOW_W - 1} AS INT)]) for j in range(1, greatest(len(hashes) - {text.WINNOW_W - 1}, 1) + 1)] AS sel FROM h)
SELECT doc_id, CAST(n_grams AS INT) AS n_grams, CAST(len(sel) AS INT) AS n_windows,
  CAST(len(list_distinct(sel)) AS INT) AS n_fingerprints, list_min(sel) AS min_fp
FROM s""",
    ),
    # -- advanced relational / temporal --------------------------------------
    "asof_click_before_purchase": QuerySpec(
        advanced.q_asof_click_before_purchase,
        f"""WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
SELECT p.event_id AS purchase_id, p.user_id,
  strftime(p.ts, '{_TS_FMT_SQL}') AS purchase_ts,
  strftime(c.ts, '{_TS_FMT_SQL}') AS click_ts,
  CAST(FLOOR(epoch(p.ts)) AS BIGINT) - CAST(FLOOR(epoch(c.ts)) AS BIGINT) AS gap_sec
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts""",
    ),
    "clicks_30min_before_purchase": QuerySpec(
        advanced.q_clicks_30min_before_purchase,
        """WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS pts FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id AS cu, ts AS cts FROM events WHERE event_type = 'click')
SELECT purchase_id, user_id, COUNT(cts) AS n_clicks_before
FROM p LEFT JOIN c ON user_id = cu AND cts >= pts - INTERVAL 30 MINUTE AND cts < pts
GROUP BY purchase_id, user_id""",
    ),
    "order_value_percentiles": QuerySpec(
        advanced.q_order_value_percentiles,
        """SELECT c_mktsegment,
  ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
  ROUND(quantile_cont(o_totalprice, 0.50), 4) AS p50,
  ROUND(quantile_cont(o_totalprice, 0.75), 4) AS p75,
  COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment""",
    ),
    "cube_segment_nation": QuerySpec(
        advanced.q_cube_segment_nation,
        f"""SELECT COALESCE(c_mktsegment, 'ALL') AS segment, COALESCE(n_name, 'ALL') AS nation,
  COUNT(*) AS n_customers, {sql_dsum('c_acctbal')} AS total_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY CUBE (c_mktsegment, n_name)""",
    ),
    "orders_above_customer_avg": QuerySpec(
        advanced.q_orders_above_customer_avg,
        """WITH w AS (SELECT o_custkey, o_totalprice,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) OVER (PARTITION BY o_custkey) AS DOUBLE)
    / COUNT(*) OVER (PARTITION BY o_custkey) AS cust_avg
  FROM orders)
SELECT o_custkey, COUNT(*) AS n_above_avg FROM w WHERE o_totalprice > cust_avg GROUP BY o_custkey""",
    ),
    "top_tokens": QuerySpec(
        advanced.q_top_tokens,
        """SELECT token, COUNT(*) AS n
FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token FROM documents)
GROUP BY token ORDER BY n DESC, token LIMIT 20""",
    ),
    "ann_lsh_topk": QuerySpec(
        advanced.q_ann_lsh_topk,
        f"""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
b AS (SELECT vec_id, v, ({_bucket_expr_sql()}) AS bucket FROM e),
q AS (SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
SELECT vec_id,
  ROUND({_dot_sql('v', 'qv')} / (sqrt({_dot_sql('v', 'v')}) * sqrt({_dot_sql('qv', 'qv')})), 4) AS cosine
FROM b, q WHERE bucket = qbucket AND vec_id <> 0
ORDER BY cosine DESC, vec_id LIMIT 5""",
    ),
    "moving_avg_value": QuerySpec(
        advanced.q_moving_avg_value,
        """SELECT event_id, user_id,
  ROUND(CAST(SUM(CAST(value AS DECIMAL(27,6))) OVER w5 AS DOUBLE) / COUNT(*) OVER w5, 4) AS moving_avg_5,
  ROUND(value - LAG(value) OVER w, 4) AS delta_prev,
  LEAD(event_type) OVER w AS next_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
       w5 AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""",
    ),
    "event_type_share": QuerySpec(
        advanced.q_event_type_share,
        """WITH counts AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type)
SELECT event_type, n, ROUND(n / SUM(n) OVER (), 6) AS share,
  CAST(RANK() OVER (ORDER BY n DESC, event_type) AS INT) AS rnk
FROM counts""",
    ),
    "repeat_customers": QuerySpec(
        advanced.q_repeat_customers,
        """SELECT o_custkey AS c_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
INTERSECT
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'""",
    ),
    # HLL sketch values are engine-specific, but the within-tolerance claim
    # is portable: DuckDB asserts the same boolean from its exact count.
    "approx_distinct_users": QuerySpec(
        advanced.q_approx_distinct_users,
        """SELECT COUNT(DISTINCT user_id) AS exact_users,
  TRUE AS approx_within_10pct
FROM events""",
    ),
    "value_outliers": QuerySpec(
        profiling.q_value_outliers,
        """WITH m AS (SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS med FROM events GROUP BY 1),
d AS (SELECT e.event_type, e.value, m.med FROM events e JOIN m USING (event_type)),
md AS (SELECT event_type, med, ROUND(quantile_cont(abs(value - med), 0.5), 6) AS mad FROM d GROUP BY 1, 2)
SELECT d.event_type, md.med, md.mad, COUNT(*) AS n,
  CAST(SUM(CASE WHEN abs(d.value - md.med) > 3 * md.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM d JOIN md USING (event_type) GROUP BY 1, 2, 3""",
    ),
    "approx_percentile_gate": QuerySpec(
        advanced.q_approx_percentile_gate,
        """SELECT ROUND(quantile_cont(o_totalprice, 0.5), 2) AS exact_p50,
  ROUND(quantile_cont(o_totalprice, 0.9), 2) AS exact_p90,
  ROUND(quantile_cont(o_totalprice, 0.99), 2) AS exact_p99,
  TRUE AS approx_within_2pct
FROM orders""",
    ),
    "equidepth_histogram": QuerySpec(
        advanced.q_equidepth_histogram,
        f"""WITH b AS (SELECT [{", ".join(f"ROUND(quantile_cont(o_totalprice, {x / 10.0:.1f}), 6)" for x in range(1, 10))}] AS bounds FROM orders)
SELECT CAST(list_sum([CASE WHEN o_totalprice > e THEN 1 ELSE 0 END for e in bounds]) AS INT) AS bucket,
  COUNT(*) AS n, ROUND(MIN(o_totalprice), 2) AS lo, ROUND(MAX(o_totalprice), 2) AS hi
FROM orders, b GROUP BY 1""",
    ),
    "order_quartiles_rank": QuerySpec(
        advanced.q_order_quartiles_rank,
        """SELECT o_orderkey, c_mktsegment,
  CAST(NTILE(4) OVER w AS INT) AS quartile,
  ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank
FROM orders JOIN customer ON o_custkey = c_custkey
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY o_totalprice, o_orderkey)""",
    ),
    "events_by_calendar": QuerySpec(
        advanced.q_events_by_calendar,
        """SELECT CAST(month(ts) AS INT) AS m, CAST(dayofmonth(ts) AS INT) AS dom,
  CAST(hour(ts) AS INT) AS h, COUNT(*) AS n
FROM events GROUP BY m, dom, h""",
    ),
    "grouping_sets_status_priority": QuerySpec(
        advanced.q_grouping_sets,
        """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
  COALESCE(o_orderpriority, 'ALL') AS priority, COUNT(*) AS n
FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""",
    ),
    "order_keys_per_customer": QuerySpec(
        advanced.q_order_keys_per_customer,
        """SELECT o_custkey,
  array_to_string(list(o_orderkey ORDER BY o_orderkey), ',') AS orderkeys, COUNT(*) AS n
FROM orders WHERE o_custkey < 50 GROUP BY o_custkey""",
    ),
    "price_histogram": QuerySpec(
        advanced.q_price_histogram,
        """SELECT CAST(FLOOR(o_totalprice / 50000) AS INT) AS bucket, COUNT(*) AS n
FROM orders GROUP BY bucket""",
    ),
    "pii_scan": QuerySpec(
        text.q_pii_scan,
        f"""SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN regexp_matches(text, '{text.PII_PATTERNS["email"]}') THEN 1 ELSE 0 END) AS BIGINT) AS n_email,
  CAST(SUM(CASE WHEN regexp_matches(text, '{text.PII_PATTERNS["phone"]}') THEN 1 ELSE 0 END) AS BIGINT) AS n_phone,
  CAST(SUM(CASE WHEN regexp_matches(text, '{text.PII_PATTERNS["ssn_like"]}') THEN 1 ELSE 0 END) AS BIGINT) AS n_ssn_like
FROM documents GROUP BY source""",
    ),
    "doc_chunks": QuerySpec(
        text.q_doc_chunks,
        """WITH t AS (SELECT doc_id, len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n FROM documents),
s AS (SELECT doc_id, n, unnest(range(0, n, 48)) AS start FROM t)
SELECT doc_id, CAST(start // 48 AS INT) AS chunk_idx,
  CAST(LEAST(64, n - start) AS INT) AS chunk_tokens
FROM s""",
    ),
    "csv_roundtrip": QuerySpec(
        advanced.q_csv_roundtrip,
        f"""SELECT COUNT(*) AS n, {sql_dsum('c_acctbal')} AS total_bal,
  COUNT(DISTINCT c_mktsegment) AS n_segments, MIN(c_name) AS first_name
FROM customer""",
    ),
    "continuous_agg_gate": QuerySpec(
        cdc_demo.q_continuous_agg_gate,
        """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
  event_type, COUNT(*) AS n,
  ROUND(CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE), 4) AS total
FROM events GROUP BY 1, 2""",
    ),
    "orc_roundtrip": QuerySpec(
        advanced.q_orc_roundtrip,
        f"""SELECT COUNT(*) AS n, {sql_dsum('o_totalprice')} AS total,
  COUNT(DISTINCT o_orderstatus) AS n_status,
  strftime(MAX(o_orderdate), '%Y-%m-%d') AS last_order
FROM orders""",
    ),
    "jsonl_roundtrip": QuerySpec(
        advanced.q_jsonl_roundtrip,
        """SELECT COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  COUNT(DISTINCT lang) AS n_langs, MIN(md5(text)) AS content_fp,
  CAST(SUM(length(text)) AS BIGINT) AS total_len
FROM documents""",
    ),
    "source_concentration": QuerySpec(
        corpus.q_source_concentration,
        """WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
t AS (SELECT SUM(n) AS n_total FROM c),
h AS (SELECT CAST(COUNT(*) AS INT) AS n_sources,
  ROUND(CAST(SUM(CAST((c.n / n_total) * (c.n / n_total) AS DECIMAL(18,12))) AS DOUBLE), 6) AS hhi
  FROM c, t)
SELECT n_sources, hhi, ROUND(1.0 / hhi, 4) AS effective_sources FROM h""",
    ),
    "chars_tokens_ols": QuerySpec(
        corpus.q_chars_tokens_ols,
        f"""WITH b AS (SELECT source, CAST(n_chars AS DOUBLE) AS x,
  CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS DOUBLE) AS y FROM documents),
s AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS n,
  {sql_dsum('x')} AS sx, {sql_dsum('y')} AS sy,
  {sql_dsum('x * y')} AS sxy, {sql_dsum('x * x')} AS sxx
  FROM b GROUP BY source)
SELECT source, CAST(n AS BIGINT) AS n_docs,
  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
  ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6) AS intercept
FROM s""",
    ),
    "profile_customer": QuerySpec(
        profiling.q_profile_customer,
        "\nUNION ALL\n".join(
            f"""SELECT '{c}' AS "column",
  CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
  COUNT(DISTINCT {c}) AS n_distinct,
  CAST(MIN({c}) AS VARCHAR) AS min_value, CAST(MAX({c}) AS VARCHAR) AS max_value
FROM customer"""
            for c in ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
        ),
    ),
    "kmv_distinct_users": QuerySpec(
        profiling.q_kmv_distinct_users,
        f"""WITH hashes AS (
  SELECT ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT::DOUBLE / 4294967296.0 AS h
  FROM (SELECT DISTINCT user_id FROM events)
  ORDER BY h LIMIT {profiling.KMV_K}),
agg AS (SELECT MAX(h) AS hk, COUNT(*) AS k FROM hashes),
exact AS (SELECT COUNT(DISTINCT user_id) AS exact FROM events)
SELECT CASE WHEN k < {profiling.KMV_K} THEN CAST(k AS DOUBLE)
            ELSE ROUND((k - 1) / hk, 4) END AS kmv_estimate,
  exact AS exact_users
FROM agg, exact""",
    ),
    "value_stddev": QuerySpec(
        profiling.q_value_stddev,
        """SELECT o_orderstatus,
  ROUND(sqrt((CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
            - CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
              * CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)::DOUBLE)
           / (COUNT(*)::DOUBLE - 1)), 4) AS stddev_price,
  COUNT(*) AS n
FROM orders GROUP BY o_orderstatus""",
    ),
    "price_quantity_corr": QuerySpec(
        profiling.q_price_quantity_corr,
        """SELECT l_returnflag,
  ROUND((COUNT(*)::DOUBLE * CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
       - CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) * CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE))
    / (sqrt(COUNT(*)::DOUBLE * CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE)
          - CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) * CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE))
     * sqrt(COUNT(*)::DOUBLE * CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
          - CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) * CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE))), 6) AS corr_qty_price,
  COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag""",
    ),
    "name_min_edit_distance": QuerySpec(
        profiling.q_name_min_edit_distance,
        # deletion-neighborhood blocking mirrored in SQL: i == length yields
        # the original string, matching Spark's sequence(0, len) inclusive
        """WITH v AS (
  SELECT s_suppkey AS k, s_name AS n,
    substr(s_name, 1, i) || substr(s_name, i + 2, length(s_name)) AS variant
  FROM (SELECT s_suppkey, s_name, UNNEST(range(0, length(s_name) + 1)) AS i FROM supplier)
),
pairs AS (
  SELECT DISTINCT a.k AS ka, a.n AS na, b.n AS nb
  FROM v a JOIN v b ON a.variant = b.variant AND a.k <> b.k
)
SELECT ka AS s_suppkey, MIN(levenshtein(na, nb)) AS min_edit_distance
FROM pairs GROUP BY ka""",
    ),
    "soql_projection": QuerySpec(
        advanced.q_soql_surface,
        "SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_nationkey = 7",
    ),
    # --- corpus-level quality / contamination (corpus.py) ---
    "repetition_stats": QuerySpec(
        corpus.q_repetition_stats,
        r"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
g AS (SELECT doc_id, unnest([array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]) AS gram FROM t),
c AS (SELECT doc_id, gram, COUNT(*) AS n FROM g GROUP BY 1, 2)
SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_2grams,
  ROUND(CAST(MAX(n) AS DOUBLE) / SUM(n), 4) AS top_2gram_frac,
  ROUND(CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS DOUBLE) / SUM(n), 4) AS dup_2gram_frac
FROM c GROUP BY doc_id""",
    ),
    "boilerplate_ngrams": QuerySpec(
        corpus.q_boilerplate_ngrams,
        r"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
g AS (SELECT doc_id, unnest(list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)])) AS gram FROM t),
bp AS (SELECT gram FROM (SELECT gram, COUNT(*) AS ndocs FROM g GROUP BY gram) WHERE ndocs >= 5)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_3grams,
  CAST(COUNT(bp.gram) AS BIGINT) AS n_boilerplate,
  ROUND(CAST(COUNT(bp.gram) AS DOUBLE) / COUNT(*), 4) AS boilerplate_frac
FROM g LEFT JOIN bp USING (gram) GROUP BY doc_id""",
    ),
    "benchmark_contamination": QuerySpec(
        corpus.q_benchmark_contamination,
        r"""WITH t AS (SELECT doc_id, list_distinct([array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+3], ' ')
       for i in range(1, len(regexp_split_to_array(trim(text), '\s+')) - 2)]) AS grams FROM documents),
bench AS (SELECT DISTINCT unnest(grams) AS gram FROM t WHERE doc_id % 50 = 0),
cand AS (SELECT doc_id, unnest(grams) AS gram FROM t WHERE doc_id % 50 != 0)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_4grams,
  CAST(COUNT(b.gram) AS BIGINT) AS n_contaminated,
  ROUND(CAST(COUNT(b.gram) AS DOUBLE) / COUNT(*), 4) AS contamination_frac
FROM cand c LEFT JOIN bench b USING (gram) GROUP BY doc_id""",
    ),
    "token_diversity": QuerySpec(
        corpus.q_token_diversity,
        r"""WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents),
c AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
  ROUND(1.0 - CAST(SUM(c * c) AS DOUBLE) / (CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE)), 4) AS token_diversity
FROM c GROUP BY doc_id""",
    ),
    "ngram_novelty": QuerySpec(
        corpus.q_ngram_novelty,
        r"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
g AS (SELECT doc_id, unnest(list_distinct([array_to_string(toks[i:i+4], ' ') for i in range(1, len(toks) - 3)])) AS gram FROM t),
fs AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
  CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
  ROUND(CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS novelty
FROM g JOIN fs USING (gram) GROUP BY doc_id""",
    ),
    "length_trim_thresholds": QuerySpec(
        corpus.q_length_trim_thresholds,
        r"""WITH t AS (SELECT doc_id, source,
  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens FROM documents),
ranked AS (SELECT source, n_tokens,
  ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_tokens, doc_id) AS rn,
  COUNT(*) OVER (PARTITION BY source) AS n FROM t),
stats AS (SELECT source,
  MAX(CASE WHEN rn = CEIL(0.05 * n) THEN n_tokens END) AS p5_tokens,
  MAX(CASE WHEN rn = CEIL(0.95 * n) THEN n_tokens END) AS p95_tokens,
  CAST(MAX(n) AS BIGINT) AS n_docs
  FROM ranked GROUP BY source)
SELECT t.source, MAX(p5_tokens) AS p5_tokens, MAX(p95_tokens) AS p95_tokens,
  MAX(n_docs) AS n_docs,
  CAST(SUM(CASE WHEN n_tokens < p5_tokens OR n_tokens > p95_tokens THEN 1 ELSE 0 END) AS BIGINT) AS n_trimmed
FROM t JOIN stats ON t.source = stats.source GROUP BY t.source""",
    ),
    # --- mixture sampling / sequence packing (sampling.py, pipeline.py) ---
    "temperature_sample": QuerySpec(
        sampling.q_temperature_sample,
        """WITH ranked AS (
  SELECT doc_id, source,
    ROW_NUMBER() OVER (PARTITION BY source
                       ORDER BY md5('temp:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk,
    COUNT(*) OVER (PARTITION BY source) AS n_src
  FROM documents)
SELECT doc_id, source FROM ranked WHERE rk <= CEIL(SQRT(n_src))""",
    ),
    "sequence_pack": QuerySpec(
        pipeline.q_sequence_pack,
        """WITH p AS (
  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
    COALESCE(SUM(CAST(n_chars AS BIGINT)) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pb
  FROM documents)
SELECT source, CAST(pb // 4096 AS BIGINT) AS seq_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars, MIN(doc_id) AS first_doc
FROM p GROUP BY 1, 2""",
    ),
    "split_leakage": QuerySpec(
        pipeline.q_split_leakage,
        _minhash_cte()
        + _lsh_banded_sql()
        + f""",
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
t AS (SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents),
v AS (SELECT * FROM (
  SELECT doc_a, doc_b,
    ROUND(len(list_intersect(ta.toks, tb.toks)) / len(list_distinct(list_concat(ta.toks, tb.toks))), 4) AS jaccard
  FROM pairs JOIN t ta ON doc_a = ta.doc_id JOIN t tb ON doc_b = tb.doc_id)
  WHERE jaccard >= {dedup.JACCARD_T}),
s AS (SELECT doc_id,
  CASE WHEN slot < {sampling.TRAIN_PCT} THEN 'train'
       WHEN slot < {sampling.TRAIN_PCT + sampling.VAL_PCT} THEN 'val'
       ELSE 'test' END AS split
  FROM (SELECT doc_id,
    ('0x' || substr(md5('{sampling.SPLIT_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS slot
    FROM documents))
SELECT sa.split AS split_a, sb.split AS split_b, COUNT(*) AS n_pairs,
  {sql_davg('jaccard', ndigits=4)} AS avg_jaccard,
  MAX(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END) AS is_leak
FROM v JOIN s sa ON v.doc_a = sa.doc_id JOIN s sb ON v.doc_b = sb.doc_id
GROUP BY 1, 2""",
    ),
    # --- product-analytics funnels / retention (events.py) ---
    # (event_trigrams lives in the round-6 block below -- a duplicate key
    # here was silently shadowed by it and removed in round 7)
    "debounced_events": QuerySpec(
        events.q_debounced_events,
        f"""WITH f AS (
  SELECT event_type,
    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) IS NULL
           OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) > {events.DEBOUNCE_SECONDS * 1_000_000}
         THEN 1 ELSE 0 END AS keep
  FROM events)
SELECT event_type, COUNT(*) AS n_raw, CAST(SUM(keep) AS BIGINT) AS n_kept,
  CAST(COUNT(*) - SUM(keep) AS BIGINT) AS n_debounced
FROM f GROUP BY 1""",
    ),
    "event_funnel": QuerySpec(
        events.q_event_funnel,
        """WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, MIN(ts) AS t2 FROM events e JOIN v USING (user_id)
      WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id),
p AS (SELECT e.user_id, MIN(ts) AS t3 FROM events e JOIN c USING (user_id)
      WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id)
SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS users FROM v
UNION ALL SELECT '2_view_click', CAST(COUNT(*) AS BIGINT) FROM c
UNION ALL SELECT '3_view_click_purchase', CAST(COUNT(*) AS BIGINT) FROM p""",
    ),
    "weekly_retention": QuerySpec(
        events.q_weekly_retention,
        """WITH active AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events),
cohort AS (SELECT user_id, MIN(week) AS cw FROM active GROUP BY user_id)
SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
  CAST(date_diff('day', cw, week) // 7 AS INT) AS week_offset,
  CAST(COUNT(*) AS BIGINT) AS users
FROM active JOIN cohort USING (user_id)
GROUP BY 1, 2""",
    ),
    "asof_next_purchase_after_click": QuerySpec(
        advanced.q_asof_next_purchase_after_click,
        f"""WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
SELECT c.event_id AS click_id, c.user_id,
  strftime(c.ts, '{_TS_FMT_SQL}') AS click_ts,
  strftime(p.ts, '{_TS_FMT_SQL}') AS purchase_ts,
  CAST(FLOOR(epoch(p.ts)) AS BIGINT) - CAST(FLOOR(epoch(c.ts)) AS BIGINT) AS gap_sec
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND p.ts > c.ts""",
    ),
    "time_to_convert": QuerySpec(
        advanced.q_time_to_convert,
        """WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1),
p AS (SELECT e.user_id, MIN(ts) AS t3 FROM events e JOIN v USING (user_id)
      WHERE event_type = 'purchase' AND ts > t1 GROUP BY e.user_id),
lat AS (
  SELECT CAST(FLOOR(epoch(t3)) AS BIGINT) - CAST(FLOOR(epoch(t1)) AS BIGINT) AS sec
  FROM p JOIN v USING (user_id))
SELECT COUNT(*) AS n_converted,
  ROUND(quantile_cont(sec, 0.5), 4) AS p50_sec,
  ROUND(quantile_cont(sec, 0.9), 4) AS p90_sec,
  MAX(sec) AS max_sec,
  ROUND(CAST(SUM(CAST(sec AS DECIMAL(27,4))) AS DOUBLE) / COUNT(*), 4) AS mean_sec
FROM lat""",
    ),
    "dedup_pipeline_summary": QuerySpec(
        dedup.q_dedup_pipeline_summary,
        _minhash_cte().replace("WITH ", "WITH RECURSIVE ", 1)
        + _lsh_banded_sql()
        + f""",
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
walk(doc, reach) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, w.reach FROM edges e JOIN walk w ON e.b = w.doc),
cc AS (SELECT doc AS doc_id, MIN(reach) AS cluster FROM walk GROUP BY doc),
fp AS (SELECT doc_id, md5({_NORM}) AS fp FROM documents),
exact_keep AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY fp),
dup_members AS (SELECT doc_id FROM cc WHERE cluster <> doc_id),
retained AS (
  SELECT doc_id FROM exact_keep WHERE doc_id NOT IN (SELECT doc_id FROM dup_members))
SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
  (SELECT COUNT(*) FROM exact_keep) AS n_exact_unique,
  (SELECT COUNT(*) FROM cc) AS n_clustered_docs,
  (SELECT COUNT(DISTINCT cluster) FROM cc) AS n_clusters,
  (SELECT COUNT(*) FROM retained) AS n_retained,
  ROUND((SELECT COUNT(*) FROM retained) / (SELECT COUNT(*) FROM documents), 4) AS retention""",
    ),
    "event_state_intervals": QuerySpec(
        events.q_event_state_intervals,
        f"""WITH f AS (
  SELECT user_id, event_type, ts, event_id,
    CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
           OR lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) <> event_type
         THEN 1 ELSE 0 END AS chg
  FROM events),
i AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM f),
r AS (
  SELECT user_id, island, MIN(ts) AS vf, MIN(event_type) AS state, COUNT(*) AS n_events
  FROM i GROUP BY 1, 2)
SELECT user_id, state, n_events, strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
  COALESCE(strftime(lead(vf) OVER (PARTITION BY user_id ORDER BY island), '%Y-%m-%d %H:%M:%S'),
           '{events.SCD2_OPEN_END}') AS valid_to
FROM r""",
    ),
    "referential_integrity_audit": QuerySpec(
        profiling.q_referential_integrity_audit,
        """SELECT 'orders.custkey->customer' AS relationship,
  (SELECT COUNT(*) FROM orders) AS n_child_rows,
  (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) AS n_orphans
UNION ALL SELECT 'lineitem.orderkey->orders', (SELECT COUNT(*) FROM lineitem),
  (SELECT COUNT(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
UNION ALL SELECT 'lineitem.partkey->part', (SELECT COUNT(*) FROM lineitem),
  (SELECT COUNT(*) FROM lineitem WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
UNION ALL SELECT 'lineitem.suppkey->supplier', (SELECT COUNT(*) FROM lineitem),
  (SELECT COUNT(*) FROM lineitem WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
UNION ALL SELECT 'customer.nationkey->nation', (SELECT COUNT(*) FROM customer),
  (SELECT COUNT(*) FROM customer WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation))
UNION ALL SELECT 'supplier.nationkey->nation', (SELECT COUNT(*) FROM supplier),
  (SELECT COUNT(*) FROM supplier WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation))
UNION ALL SELECT 'nation.regionkey->region', (SELECT COUNT(*) FROM nation),
  (SELECT COUNT(*) FROM nation WHERE n_regionkey NOT IN (SELECT r_regionkey FROM region))""",
    ),
    "pseudonymize_gate": QuerySpec(
        privacy.q_pseudonymize_gate,
        f"""WITH p AS (
  SELECT CAST(c_nationkey AS INT) AS nationkey,
    substr(md5('{privacy.PSEUD_SEED}:' || CAST(c_custkey AS VARCHAR)), 1, {privacy.PSEUD_LEN}) AS token
  FROM customer)
SELECT nationkey, COUNT(*) AS n, COUNT(DISTINCT token) AS n_tokens,
  CAST(SUM(('0x' || substr(token, 1, 8))::BIGINT) AS BIGINT) AS token_checksum
FROM p GROUP BY 1""",
    ),
    "last_touch_attribution": QuerySpec(
        events.q_last_touch_attribution,
        f"""WITH f AS (
  SELECT event_type, value, epoch_us(ts) AS ep,
    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt,
    last_value(CASE WHEN event_type <> 'purchase' THEN epoch_us(ts) END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_ts
  FROM events),
a AS (
  SELECT CASE WHEN lt IS NOT NULL
            AND ep - lt_ts <= {events.ATTRIBUTION_WINDOW_SEC} * 1000000
          THEN lt ELSE 'direct' END AS channel, value
  FROM f WHERE event_type = 'purchase')
SELECT channel, COUNT(*) AS n_purchases,
  ROUND(CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE), 4) AS revenue
FROM a GROUP BY 1""",
    ),
    "basket_lift": QuerySpec(
        relational.q_basket_lift,
        f"""WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
p AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n_ab
  FROM i a JOIN i b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {relational.BASKET_MIN_SUPPORT}),
m AS (SELECT l_partkey, COUNT(*) AS n_orders FROM i GROUP BY 1),
t AS (SELECT COUNT(DISTINCT l_orderkey) AS n_total FROM i)
SELECT pa, pb, n_ab, ma.n_orders AS n_a, mb.n_orders AS n_b,
  ROUND(CAST(n_ab * n_total AS DOUBLE) / (ma.n_orders * mb.n_orders), 4) AS lift
FROM p JOIN m ma ON p.pa = ma.l_partkey JOIN m mb ON p.pb = mb.l_partkey, t
ORDER BY lift DESC, pa, pb LIMIT {relational.BASKET_TOP}""",
    ),
    "image_ahash_neardup": QuerySpec(
        multimodal.q_image_ahash_neardup,
        f"""WITH ids AS (
  SELECT doc_id AS media_id, 16 + (doc_id % 32) AS w, 16 + ((doc_id*7) % 32) AS h
  FROM documents WHERE doc_id < {multimodal._GATE_DOCS}),
cells AS (
  SELECT media_id, k.range AS k,
    ((((k.range // 8) * h // 8) % 256) + 3 * ((k.range % 8) * w // 8) + 0) % 256
  + ((((k.range // 8) * h // 8) % 256) + 3 * ((k.range % 8) * w // 8) + 1) % 256
  + ((((k.range // 8) * h // 8) % 256) + 3 * ((k.range % 8) * w // 8) + 2) % 256 AS luma
  FROM ids, range(0, 64) k),
tot AS (SELECT media_id, SUM(luma) AS total FROM cells GROUP BY 1),
hashes AS (
  SELECT c.media_id,
    CAST(SUM(CASE WHEN c.luma * 64 > t.total AND c.k >= 32
             THEN (1::BIGINT << CAST(c.k - 32 AS INT)) ELSE 0 END) AS BIGINT) AS hi,
    CAST(SUM(CASE WHEN c.luma * 64 > t.total AND c.k < 32
             THEN (1::BIGINT << CAST(c.k AS INT)) ELSE 0 END) AS BIGINT) AS lo
  FROM cells c JOIN tot t USING (media_id) GROUP BY c.media_id)
SELECT a.media_id AS ka, b.media_id AS kb,
  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INT) AS hamming
FROM hashes a JOIN hashes b ON a.media_id < b.media_id
WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= {multimodal.AHASH_TAU}
ORDER BY ka, kb""",
    ),
    "ivm_join_gate": QuerySpec(
        cdc_demo.q_ivm_join_gate,
        """SELECT CAST(c_nationkey AS INT) AS nationkey, COUNT(*) AS n_orders,
  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE), 4) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1""",
    ),
    "brand_pareto_frontier": QuerySpec(
        relational.q_brand_pareto_frontier,
        """WITH d AS (
  SELECT p_brand, p_partkey, p_size, p_retailprice,
    CAST(ROUND(p_retailprice * 100) AS BIGINT) AS cents
  FROM part)
SELECT p_brand, p_partkey, ROUND(p_retailprice, 2) AS price, p_size
FROM d p
WHERE NOT EXISTS (
  SELECT 1 FROM d q
  WHERE q.p_brand = p.p_brand AND q.cents <= p.cents AND q.p_size >= p.p_size
    AND (q.cents < p.cents OR q.p_size > p.p_size))""",
    ),
    "join_key_skew": QuerySpec(
        profiling.q_join_key_skew,
        f"""WITH c AS (SELECT l_partkey, COUNT(*) AS freq FROM lineitem GROUP BY 1),
s AS (
  SELECT COUNT(*) AS n_keys, CAST(SUM(freq) AS BIGINT) AS n_rows,
    MAX(freq) AS max_freq,
    quantile_cont(freq, 0.5) AS p50_freq, quantile_cont(freq, 0.99) AS p99_freq
  FROM c),
t AS (SELECT CAST(SUM(freq) AS BIGINT) AS top_freq FROM (
  SELECT freq FROM c ORDER BY freq DESC, l_partkey LIMIT {profiling.SKEW_TOP}))
SELECT n_keys, n_rows, max_freq,
  ROUND(p50_freq, 4) AS p50_freq, ROUND(p99_freq, 4) AS p99_freq,
  ROUND(max_freq / (CAST(n_rows AS DOUBLE) / n_keys), 4) AS max_over_mean,
  ROUND(CAST(top_freq AS DOUBLE) / n_rows, 4) AS top10_share
FROM s, t""",
    ),
    "repeated_passages": QuerySpec(
        corpus.q_repeated_passages,
        rf"""WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
gk AS (
  SELECT doc_id, array_to_string(toks[i:i+{corpus.PASSAGE_K - 1}], ' ') AS gram
  FROM t, range(1, 10000) r(i) WHERE i <= len(toks) - {corpus.PASSAGE_K - 1}),
ck AS (
  SELECT gram, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs
  FROM gk GROUP BY gram),
gk1 AS (
  SELECT array_to_string(toks[i:i+{corpus.PASSAGE_K}], ' ') AS gram1
  FROM t, range(1, 10000) r(i) WHERE i <= len(toks) - {corpus.PASSAGE_K}),
ck1 AS (
  SELECT array_to_string(string_split(gram1, ' ')[1:{corpus.PASSAGE_K}], ' ') AS gram,
    COUNT(*) AS n_occ
  FROM gk1 GROUP BY gram1)
SELECT gram, n_docs, n_occ FROM ck
WHERE n_docs >= {corpus.PASSAGE_MIN_DOCS}
  AND NOT EXISTS (SELECT 1 FROM ck1 WHERE ck1.gram = ck.gram AND ck1.n_occ = ck.n_occ)
ORDER BY n_docs DESC, n_occ DESC, gram LIMIT {corpus.PASSAGE_TOP}""",
    ),
    "bigram_lift": QuerySpec(
        corpus.q_bigram_lift,
        rf"""WITH t AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
tok AS (SELECT unnest(toks) AS token FROM t),
uni AS (SELECT token, COUNT(*) AS n_tok FROM tok GROUP BY token),
tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS n_tok_total FROM uni),
big AS (
  SELECT array_to_string(toks[i:i+1], ' ') AS pair
  FROM t, range(1, 10000) r(i) WHERE i <= len(toks) - 1),
bc AS (SELECT pair, COUNT(*) AS n_ab FROM big GROUP BY pair),
btot AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n_big_total FROM bc),
p AS (
  SELECT pair, n_ab, string_split(pair, ' ')[1] AS a, string_split(pair, ' ')[-1] AS b
  FROM bc WHERE n_ab >= {corpus.LIFT_MIN_PAIR})
SELECT pair, n_ab, ua.n_tok AS n_a, ub.n_tok AS n_b,
  ROUND(CAST(n_ab * n_tok_total * n_tok_total AS DOUBLE)
        / (n_big_total * ua.n_tok * ub.n_tok), 4) AS lift
FROM p JOIN uni ua ON p.a = ua.token JOIN uni ub ON p.b = ub.token, tot, btot
ORDER BY lift DESC, pair LIMIT {corpus.LIFT_TOP}""",
    ),
    "event_transitions": QuerySpec(
        events.q_event_transitions,
        """WITH p AS (
  SELECT event_type AS e1,
    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2
  FROM events),
c AS (SELECT e1, e2, COUNT(*) AS n FROM p WHERE e2 IS NOT NULL GROUP BY 1, 2)
SELECT e1, e2, n, ROUND(n / SUM(n) OVER (PARTITION BY e1), 6) AS prob FROM c""",
    ),
    "hourly_gap_interpolation": QuerySpec(
        events.q_hourly_gap_interpolation,
        """WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h,
    ROUND(CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE), 4) AS v
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
spine AS (
  SELECT unnest(generate_series(date_trunc('hour', MIN(ts)),
                                date_trunc('hour', MAX(ts)),
                                INTERVAL 1 HOUR)) AS h
  FROM events),
j AS (
  SELECT s.h, hourly.v, CAST(epoch(s.h) // 3600 AS BIGINT) AS eh
  FROM spine s LEFT JOIN hourly USING (h)),
f AS (
  SELECT h, v, eh,
    last_value(v IGNORE NULLS) OVER (ORDER BY eh ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    last_value(CASE WHEN v IS NOT NULL THEN eh END IGNORE NULLS)
      OVER (ORDER BY eh ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
    first_value(v IGNORE NULLS) OVER (ORDER BY eh ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    first_value(CASE WHEN v IS NOT NULL THEN eh END IGNORE NULLS)
      OVER (ORDER BY eh ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
  FROM j)
SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, v IS NULL AS interpolated,
  CASE WHEN v IS NOT NULL THEN v
       WHEN pv IS NULL THEN nv
       WHEN nv IS NULL THEN pv
       ELSE ROUND(pv + (nv - pv) * (eh - ph) / (nh - ph), 4) END AS value
FROM f""",
    ),
    "min_cost_supplier": QuerySpec(
        relational.q_min_cost_supplier,
        """WITH eur AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'),
pk AS (SELECT p_partkey, p_name FROM part
  WHERE p_type = 'STANDARD' AND p_size BETWEEN 10 AND 15),
cost AS (
  SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
    MIN(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem JOIN pk ON l_partkey = p_partkey JOIN eur ON l_suppkey = s_suppkey
  GROUP BY 1, 2, 3, 4, 5, 6)
SELECT p_partkey, p_name, s_suppkey, s_name, n_name, s_acctbal, unit_cost
FROM cost
QUALIFY unit_cost = MIN(unit_cost) OVER (PARTITION BY p_partkey)""",
    ),
    "important_parts": QuerySpec(
        relational.q_important_parts,
        """WITH pp AS (
  SELECT l_partkey,
    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,4))) AS dvalue
  FROM lineitem GROUP BY 1),
t AS (SELECT SUM(dvalue) AS dtotal, COUNT(*) AS n_parts FROM pp)
SELECT l_partkey, ROUND(CAST(dvalue AS DOUBLE), 4) AS part_value
FROM pp, t
WHERE CAST(dvalue AS DOUBLE) > CAST(dtotal AS DOUBLE) / n_parts * 1.5""",
    ),
    "supplier_part_counts": QuerySpec(
        relational.q_supplier_part_counts,
        """WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
ok AS (SELECT * FROM pairs WHERE l_suppkey NOT IN (
  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
SELECT p_brand, CAST((p_size // 10) * 10 AS INT) AS size_band,
  COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM ok JOIN part ON l_partkey = p_partkey
WHERE p_type <> 'PROMO'
GROUP BY 1, 2
ORDER BY supplier_cnt DESC, p_brand, size_band""",
    ),
    "waiting_suppliers": QuerySpec(
        relational.q_waiting_suppliers,
        """WITH po AS (
  SELECT l_orderkey,
    COUNT(DISTINCT l_suppkey) AS n_supp,
    COUNT(DISTINCT CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 60
      THEN l_suppkey END) AS n_late_supp,
    MIN(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 60
      THEN l_suppkey END) AS late_supp
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM po JOIN supplier ON late_supp = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_supp > 1 AND n_late_supp = 1 AND n_name = 'NATION_1'
GROUP BY 1 ORDER BY numwait DESC, s_name""",
    ),
    "dedup_canonical": QuerySpec(
        dedup.q_dedup_canonical,
        _minhash_cte().replace("WITH ", "WITH RECURSIVE ", 1)
        + _lsh_banded_sql()
        + """,
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
walk(doc, reach) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, w.reach FROM edges e JOIN walk w ON e.b = w.doc),
labels AS (SELECT doc AS doc_id, MIN(reach) AS cluster FROM walk GROUP BY doc),
m AS (
  SELECT l.cluster, d.doc_id, d.n_chars,
    ROW_NUMBER() OVER (PARTITION BY l.cluster
      ORDER BY d.n_chars DESC, d.doc_id ASC) AS rk
  FROM documents d JOIN labels l ON d.doc_id = l.doc_id)
SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
  MAX(CASE WHEN rk = 1 THEN doc_id END) AS canonical_doc,
  MAX(CASE WHEN rk = 1 THEN n_chars END) AS canonical_chars,
  CAST(SUM(n_chars) - MAX(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT) AS chars_dropped
FROM m GROUP BY cluster ORDER BY cluster""",
    ),
    "embedding_dim_stats": QuerySpec(
        similarity.q_embedding_dim_stats,
        """WITH x AS (
  SELECT CAST(t.range AS INT) AS dim, CAST(embedding[t.range] AS DOUBLE) AS v
  FROM embeddings, range(1, 65) t)
SELECT dim,
  ROUND(CAST(SUM(CAST(v AS DECIMAL(27,8))) AS DOUBLE) / COUNT(v), 6) AS mean_val,
  ROUND(MIN(v), 6) AS min_val,
  ROUND(MAX(v), 6) AS max_val,
  CAST(SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive
FROM x GROUP BY dim ORDER BY dim""",
    ),
    "vocab_coverage": QuerySpec(
        text.q_vocab_coverage,
        f"""WITH t AS (
  SELECT doc_id, source, unnest({_TOKS}) AS token FROM documents),
c AS (SELECT token, COUNT(*) AS n FROM t GROUP BY 1),
v AS (SELECT token FROM c ORDER BY n DESC, token LIMIT 1000),
pd AS (
  SELECT doc_id, source, COUNT(*) AS total,
    CAST(SUM(CASE WHEN token IN (SELECT token FROM v) THEN 1 ELSE 0 END) AS BIGINT) AS covered
  FROM t GROUP BY 1, 2),
r AS (SELECT doc_id, source, total, covered, covered / total AS cov FROM pd)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
  ROUND(CAST(SUM(CAST(cov AS DECIMAL(27,8))) AS DOUBLE) / COUNT(cov), 6) AS mean_coverage,
  MIN(cov) AS min_coverage,
  CAST(SUM(total) - SUM(covered) AS BIGINT) AS oov_tokens
FROM r GROUP BY source ORDER BY source""",
    ),
    "incremental_dedup": QuerySpec(
        dedup.q_incremental_dedup,
        f"""WITH f AS (SELECT doc_id, source, md5({_NORM}) AS fp FROM documents),
hist AS (SELECT DISTINCT fp FROM f WHERE doc_id < 400),
batch AS (SELECT doc_id, source, fp FROM f WHERE doc_id >= 400),
fresh AS (SELECT * FROM batch WHERE fp NOT IN (SELECT fp FROM hist)),
fst AS (SELECT fp, MIN(doc_id) AS keep_id FROM fresh GROUP BY 1),
adm AS (SELECT b.doc_id, b.source FROM fresh b
  JOIN fst ON b.fp = fst.fp AND b.doc_id = fst.keep_id),
nb AS (SELECT source, COUNT(*) AS n_batch FROM batch GROUP BY 1),
na AS (SELECT source, COUNT(*) AS n_admitted FROM adm GROUP BY 1)
SELECT nb.source, nb.n_batch,
  CAST(COALESCE(na.n_admitted, 0) AS BIGINT) AS n_admitted,
  CAST(nb.n_batch - COALESCE(na.n_admitted, 0) AS BIGINT) AS n_rejected
FROM nb LEFT JOIN na ON nb.source = na.source ORDER BY nb.source""",
    ),
    "kmv_set_algebra": QuerySpec(
        profiling.q_kmv_set_algebra,
        f"""WITH seg AS (
  SELECT DISTINCT event_type,
    ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT::DOUBLE / 4294967296.0 AS h
  FROM events WHERE event_type IN ('view', 'purchase')),
ah AS (SELECT h FROM seg WHERE event_type = 'view' ORDER BY h LIMIT {profiling.KMV_K}),
bh AS (SELECT h FROM seg WHERE event_type = 'purchase' ORDER BY h LIMIT {profiling.KMV_K}),
uh AS (SELECT h FROM (SELECT h FROM ah UNION SELECT h FROM bh) ORDER BY h LIMIT {profiling.KMV_K}),
ea AS (SELECT CASE WHEN COUNT(*) < {profiling.KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
              ELSE ROUND((COUNT(*) - 1) / MAX(h), 4) END AS est_view FROM ah),
eb AS (SELECT CASE WHEN COUNT(*) < {profiling.KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
              ELSE ROUND((COUNT(*) - 1) / MAX(h), 4) END AS est_purchase FROM bh),
eu AS (SELECT CASE WHEN COUNT(*) < {profiling.KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
              ELSE ROUND((COUNT(*) - 1) / MAX(h), 4) END AS est_union,
  COUNT(*) AS ku FROM uh),
rho AS (SELECT COUNT(*) AS c FROM uh
  WHERE h IN (SELECT h FROM ah) AND h IN (SELECT h FROM bh)),
ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersection FROM (
  SELECT h FROM seg GROUP BY h HAVING COUNT(DISTINCT event_type) = 2))
SELECT est_view, est_purchase, est_union,
  CASE WHEN ku > 0 THEN ROUND(c / ku, 4) END AS jaccard_est,
  CASE WHEN ku > 0 THEN ROUND(c / ku * est_union, 4) END AS est_intersection,
  exact_intersection
FROM ea, eb, eu, rho, ex""",
    ),
    "neyman_allocation": QuerySpec(
        sampling.q_neyman_allocation,
        """WITH per AS (
  SELECT source, COUNT(*) AS n_docs,
    sqrt((CAST(SUM(CAST(CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)
        - CAST(SUM(CAST(CAST(n_chars AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)
          * CAST(SUM(CAST(CAST(n_chars AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)::DOUBLE)
       / (COUNT(*)::DOUBLE - 1)) AS sd
  FROM documents GROUP BY source HAVING COUNT(*) > 1),
w AS (SELECT source, n_docs, sd, n_docs::DOUBLE * sd AS w FROM per),
t AS (SELECT CAST(SUM(CAST(w AS DECIMAL(27,4))) AS DOUBLE) AS wtot FROM w)
SELECT source, n_docs, ROUND(sd, 4) AS stddev_chars,
  CAST(FLOOR(1000.0 * w / wtot) AS BIGINT) AS alloc_n
FROM w, t ORDER BY source""",
    ),
    "hll_portable": QuerySpec(
        profiling.q_hll_portable,
        # oracle text lives in spec.py: shared VERBATIM with the streaming
        # face stream_running_hll (streaming/faces.py), whose max() register
        # merge makes streamed sketch == batch sketch by construction
        _HLL_PORTABLE_ORACLE,
    ),
    "bloom_membership": QuerySpec(
        profiling.q_bloom_membership,
        f"""WITH a AS (SELECT DISTINCT user_id FROM events
  WHERE event_type = 'view' AND user_id % 3 = 0),
b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
apos AS ({" UNION ALL ".join(
    f"SELECT user_id, ('0x' || substr(md5('bf{i}:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % {profiling.BF_BITS} AS p FROM a"
    for i in range(profiling.BF_K))}),
bloom AS (SELECT CAST(p // {profiling.BF_WORD} AS INT) AS word,
  bit_or(1::BIGINT << CAST(p % {profiling.BF_WORD} AS INT)) AS w
  FROM apos GROUP BY 1),
bpos AS ({" UNION ALL ".join(
    f"SELECT user_id, ('0x' || substr(md5('bf{i}:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % {profiling.BF_BITS} AS p FROM b"
    for i in range(profiling.BF_K))}),
probe AS (
  SELECT bpos.user_id,
    MIN(COALESCE((bloom.w >> CAST(bpos.p % {profiling.BF_WORD} AS INT)) & 1, 0)) AS all_hit
  FROM bpos LEFT JOIN bloom ON CAST(bpos.p // {profiling.BF_WORD} AS INT) = bloom.word
  GROUP BY 1),
flagged AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tested,
  CAST(SUM(all_hit) AS BIGINT) AS n_bloom_positive FROM probe),
tm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true_members
  FROM b WHERE user_id IN (SELECT user_id FROM a))
SELECT n_tested, n_bloom_positive, n_true_members,
  n_bloom_positive - n_true_members AS n_false_positives
FROM flagged, tm""",
    ),
    "cms_token_counts": QuerySpec(
        text.q_cms_token_counts,
        f"""WITH tok AS (SELECT unnest({_TOKS}) AS token FROM documents),
cells AS ({" UNION ALL ".join(
    f"SELECT token, {i} AS row, CAST(('0x' || substr(md5('cms{i}:' || token), 1, 8))::BIGINT % {text.CMS_W} AS INT) AS col FROM tok"
    for i in range(text.CMS_D))}),
sketch AS (SELECT row, col, CAST(COUNT(*) AS BIGINT) AS cnt FROM cells GROUP BY 1, 2),
top AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_count FROM tok
  GROUP BY 1 ORDER BY exact_count DESC, token LIMIT 10),
probes AS ({" UNION ALL ".join(
    f"SELECT token, exact_count, {i} AS row, CAST(('0x' || substr(md5('cms{i}:' || token), 1, 8))::BIGINT % {text.CMS_W} AS INT) AS col FROM top"
    for i in range(text.CMS_D))})
SELECT p.token, p.exact_count,
  MIN(COALESCE(s.cnt, 0)) AS cms_estimate,
  MIN(COALESCE(s.cnt, 0)) - p.exact_count AS overestimate
FROM probes p LEFT JOIN sketch s ON p.row = s.row AND p.col = s.col
GROUP BY p.token, p.exact_count
ORDER BY p.exact_count DESC, p.token""",
    ),
    "neardup_triangles": QuerySpec(
        dedup.q_neardup_triangles,
        _minhash_cte()
        + _lsh_banded_sql()
        + """,
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
deg AS (SELECT doc, COUNT(*) AS deg FROM (
  SELECT doc_a AS doc FROM pairs UNION ALL SELECT doc_b FROM pairs) GROUP BY 1),
e AS (SELECT doc_a, doc_b, da.deg AS deg_a, db.deg AS deg_b
  FROM pairs JOIN deg da ON doc_a = da.doc JOIN deg db ON doc_b = db.doc),
oriented AS (SELECT
  CASE WHEN deg_a < deg_b OR (deg_a = deg_b AND doc_a < doc_b) THEN doc_a ELSE doc_b END AS src,
  CASE WHEN deg_a < deg_b OR (deg_a = deg_b AND doc_a < doc_b) THEN doc_b ELSE doc_a END AS dst
  FROM e),
wedges AS (SELECT w1.dst AS doc_a, w2.dst AS doc_b
  FROM oriented w1 JOIN oriented w2 ON w1.src = w2.src AND w1.dst < w2.dst),
tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles FROM wedges w
  WHERE EXISTS (SELECT 1 FROM pairs p WHERE p.doc_a = w.doc_a AND p.doc_b = w.doc_b)),
wed AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_wedges FROM wedges)
SELECT n_triangles, n_wedges FROM tri, wed""",
    ),
    "minhash_jaccard_estimate": QuerySpec(
        dedup.q_minhash_jaccard_estimate,
        _minhash_cte()
        + _lsh_banded_sql()
        + f""",
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
est AS (
  SELECT p.doc_a, p.doc_b,
    ({" + ".join(f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END" for i in range(dedup.N_MINHASH))}) / {float(dedup.N_MINHASH)} AS est_jaccard
  FROM pairs p JOIN mh a ON p.doc_a = a.doc_id JOIN mh b ON p.doc_b = b.doc_id),
ex AS (
  SELECT p.doc_a, p.doc_b,
    len(list_intersect(sa.s, sb.s)) / len(list_distinct(sa.s || sb.s)) AS exact_jaccard
  FROM pairs p JOIN sh sa ON p.doc_a = sa.doc_id JOIN sh sb ON p.doc_b = sb.doc_id)
SELECT e.doc_a, e.doc_b, e.est_jaccard, x.exact_jaccard,
  e.est_jaccard - x.exact_jaccard AS est_error
FROM est e JOIN ex x ON e.doc_a = x.doc_a AND e.doc_b = x.doc_b
ORDER BY e.doc_a, e.doc_b""",
    ),
    "fixedwidth_roundtrip": QuerySpec(
        advanced.q_fixedwidth_roundtrip,
        """SELECT CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(s_suppkey) AS BIGINT) AS key_sum,
  COUNT(DISTINCT s_nationkey) AS n_nations,
  MIN(s_name) AS first_name,
  CAST(SUM(CAST(FLOOR(s_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM supplier""",
    ),
    "mann_whitney_u": QuerySpec(
        profiling.q_mann_whitney_u,
        """WITH two AS (SELECT source, n_chars FROM documents WHERE source IN ('src0', 'src1')),
by_val AS (SELECT n_chars, COUNT(*) AS c_all,
  CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS c_a
  FROM two GROUP BY 1),
ranked AS (SELECT n_chars, c_all, c_a,
  COALESCE(SUM(c_all) OVER (ORDER BY n_chars
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_less
  FROM by_val),
agg AS (SELECT CAST(SUM(c_a) AS BIGINT) AS n1,
  CAST(SUM(c_all) - SUM(c_a) AS BIGINT) AS n2,
  SUM(c_a * (cum_less + (c_all + 1) / 2.0)) AS rank_sum_src0
  FROM ranked)
SELECT n1, n2, rank_sum_src0,
  rank_sum_src0 - (n1 * (n1 + 1)) / 2.0 AS u_statistic,
  n1 * n2 / 2.0 AS u_null_mean
FROM agg""",
    ),
    "bpe_vocab_rounds": QuerySpec(text.q_bpe_vocab_rounds, _bpe_rounds_sql()),
    "bpe_apply_segment": QuerySpec(text.q_bpe_apply_segment, _bpe_apply_sql()),
    "pq_recall_at_5": QuerySpec(similarity.q_pq_recall_at_5, _pq_sql()),
    "ivfpq_recall_at_5": QuerySpec(similarity.q_ivfpq_recall_at_5, _ivfpq_sql()),
    "wau_hll_gate": QuerySpec(
        profiling.q_wau_hll_gate,
        f"""WITH h AS (
  SELECT date_trunc('day', ts) AS day,
    ('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
  FROM events),
rr AS (SELECT day, h % {profiling.HLL_M} AS bucket,
  CASE WHEN CAST(h // {profiling.HLL_M} AS BIGINT) = 0 THEN 27
       ELSE strpos(lpad(bin(CAST(h // {profiling.HLL_M} AS BIGINT)), 26, '0'), '1') END AS rho
  FROM h),
regs AS (SELECT day, bucket, MAX(rho) AS m FROM rr GROUP BY 1, 2),
spine AS (
  SELECT unnest(generate_series(date_trunc('day', MIN(ts)),
                                date_trunc('day', MAX(ts)), INTERVAL 1 DAY)) AS d
  FROM events),
merged AS (
  SELECT s.d, r.bucket, MAX(r.m) AS m
  FROM spine s JOIN regs r ON r.day <= s.d AND r.day >= s.d - INTERVAL 6 DAY
  GROUP BY 1, 2),
est AS (
  SELECT d, {profiling.HLL_ALPHA} * {float(profiling.HLL_M * profiling.HLL_M)}
    / (SUM(1.0 / CAST((1::BIGINT << m) AS DOUBLE)) + CAST({profiling.HLL_M} - COUNT(*) AS DOUBLE)) AS wau_estimate
  FROM merged GROUP BY 1),
active AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
ex AS (
  SELECT s.d, COUNT(DISTINCT a.user_id) AS exact_wau
  FROM spine s JOIN active a ON a.day <= s.d AND a.day >= s.d - INTERVAL 6 DAY
  GROUP BY 1)
SELECT strftime(e.d, '%Y-%m-%d') AS day, ex.exact_wau, e.wau_estimate,
  ROUND(abs(e.wau_estimate - ex.exact_wau) / ex.exact_wau, 4) AS rel_err
FROM est e JOIN ex ON e.d = ex.d""",
    ),
    "segment_overlap_matrix": QuerySpec(
        events.q_segment_overlap_matrix,
        """WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
ov AS (
  SELECT a.event_type AS seg_a, b.event_type AS seg_b, COUNT(*) AS n_both
  FROM u a JOIN u b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2),
m AS (SELECT event_type, COUNT(*) AS n_users FROM u GROUP BY 1)
SELECT seg_a, seg_b, ma.n_users AS n_a, mb.n_users AS n_b, n_both,
  ROUND(CAST(n_both AS DOUBLE) / (ma.n_users + mb.n_users - n_both), 6) AS jaccard
FROM ov JOIN m ma ON seg_a = ma.event_type JOIN m mb ON seg_b = mb.event_type""",
    ),
    "dau_wau_stickiness": QuerySpec(
        events.q_dau_wau_stickiness,
        """WITH active AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
spine AS (
  SELECT unnest(generate_series(date_trunc('day', MIN(ts)),
                                date_trunc('day', MAX(ts)), INTERVAL 1 DAY)) AS d
  FROM events),
dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM active GROUP BY 1),
wau AS (
  SELECT s.d, COUNT(DISTINCT a.user_id) AS wau
  FROM spine s JOIN active a ON a.day <= s.d AND a.day >= s.d - INTERVAL 6 DAY
  GROUP BY 1)
SELECT strftime(w.d, '%Y-%m-%d') AS day, COALESCE(dau.dau, 0) AS dau, w.wau,
  ROUND(CAST(COALESCE(dau.dau, 0) AS DOUBLE) / w.wau, 6) AS stickiness
FROM wau w LEFT JOIN dau ON dau.day = w.d""",
    ),
    "revenue_anomaly_days": QuerySpec(
        profiling.q_revenue_anomaly_days,
        f"""WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS day,
    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE), 4) AS rev
  FROM orders GROUP BY 1),
l AS (
  SELECT day, rev, row_number() OVER (ORDER BY day) AS rn,
    ROUND(({' + '.join(f'lag(rev, {k + 1}) OVER (ORDER BY day) / {float(1 << k)!r}' for k in range(profiling.ANOM_LAGS))})
          / {sum(1.0 / (1 << k) for k in range(profiling.ANOM_LAGS))!r}, 4) AS forecast
  FROM daily),
s AS (
  SELECT day, rev, forecast, ROUND(rev - forecast, 4) AS resid
  FROM l WHERE rn > {profiling.ANOM_LAGS}),
m AS (SELECT ROUND(quantile_cont(resid, 0.5), 4) AS med FROM s),
f AS (SELECT med, ROUND(quantile_cont(abs(resid - med), 0.5), 4) AS mad FROM s, m GROUP BY med)
SELECT strftime(day, '%Y-%m-%d') AS day, rev, forecast, resid
FROM s, f WHERE abs(resid - med) > 3 * 1.4826 * mad
ORDER BY day""",
    ),
    "triplet_margin_stats": QuerySpec(
        similarity.q_triplet_margin_stats,
        f"""WITH e AS (SELECT vec_id, CAST(label AS INT) AS label,
  [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
b AS (SELECT vec_id, label, v, ({_bucket_expr_sql()}) AS bucket FROM e),
pairs AS (
  SELECT a.vec_id AS ka, a.label AS la, b2.label AS lb, {_sqdist_sql('a.v', 'b2.v')} AS d
  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id <> b2.vec_id),
pa AS (
  SELECT ka, la,
    MAX(CASE WHEN la = lb THEN d END) AS d_pos,
    MIN(CASE WHEN la <> lb THEN d END) AS d_neg
  FROM pairs GROUP BY 1, 2)
SELECT la AS label, COUNT(*) AS n_anchors,
  ROUND(CAST(SUM(CAST(d_neg - d_pos AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*), 6) AS mean_margin,
  CAST(SUM(CASE WHEN d_neg < d_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
FROM pa WHERE d_pos IS NOT NULL AND d_neg IS NOT NULL GROUP BY 1""",
    ),
    "snapshot_diff_gate": QuerySpec(
        advanced.q_snapshot_diff_gate,
        """WITH um AS (
  SELECT *,
    ('0x' || substr(md5('del:' || CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0 AS udel,
    ('0x' || substr(md5('mod:' || CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0 AS umod,
    ('0x' || substr(md5('seg:' || CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0 AS useg,
    ('0x' || substr(md5('add:' || CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0 AS uadd
  FROM customer),
nw AS (
  SELECT c_custkey, c_name, c_nationkey,
    CASE WHEN umod < 0.05 THEN c_acctbal + 10.0 ELSE c_acctbal END AS c_acctbal,
    CASE WHEN useg < 0.03 THEN 'MOVED' ELSE c_mktsegment END AS c_mktsegment
  FROM um WHERE udel >= 0.02
  UNION ALL
  SELECT c_custkey + 10000000, c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM um WHERE uadd < 0.01),
j AS (
  SELECT o.c_custkey IS NOT NULL AS in_old, n.c_custkey IS NOT NULL AS in_new,
    (o.c_name IS DISTINCT FROM n.c_name) AS ch1,
    (o.c_nationkey IS DISTINCT FROM n.c_nationkey) AS ch2,
    (o.c_acctbal IS DISTINCT FROM n.c_acctbal) AS ch3,
    (o.c_mktsegment IS DISTINCT FROM n.c_mktsegment) AS ch4
  FROM customer o FULL OUTER JOIN nw n ON o.c_custkey = n.c_custkey)
SELECT
  CAST(SUM(CASE WHEN NOT in_old THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
  CAST(SUM(CASE WHEN NOT in_new THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
  CAST(SUM(CASE WHEN in_old AND in_new AND (ch1 OR ch2 OR ch3 OR ch4) THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
  CAST(SUM(CASE WHEN in_old AND in_new AND NOT (ch1 OR ch2 OR ch3 OR ch4) THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
  CAST(SUM(CASE WHEN in_old AND in_new AND ch3 THEN 1 ELSE 0 END) AS BIGINT) AS n_changed_acctbal,
  CAST(SUM(CASE WHEN in_old AND in_new AND ch4 THEN 1 ELSE 0 END) AS BIGINT) AS n_changed_mktsegment
FROM j""",
    ),
    "feature_hash_agg": QuerySpec(
        pipeline.q_feature_hash_agg,
        f"""WITH f AS (
  SELECT ('0x' || substr(md5(tag), 1, 8))::BIGINT % {pipeline.FH_DIM} AS dim,
    CASE WHEN ('0x' || substr(md5('sg:' || tag), 1, 8))::BIGINT % 2 = 0 THEN 1 ELSE -1 END AS sign
  FROM (
    SELECT unnest(['source:' || CAST(source AS VARCHAR), 'lang:' || CAST(lang AS VARCHAR)]) AS tag
    FROM documents))
SELECT CAST(dim AS INT) AS dim, CAST(SUM(sign) AS BIGINT) AS total,
  CAST(COUNT(*) AS BIGINT) AS n_hits
FROM f GROUP BY dim ORDER BY dim""",
    ),
    "bootstrap_ci": QuerySpec(
        sampling.q_bootstrap_ci,
        f"""WITH reps AS (
  SELECT o_orderkey, o_totalprice, rb.range AS b
  FROM orders, range(0, {sampling.BOOT_B}) rb),
wts AS (
  SELECT b, o_totalprice,
    CASE {' '.join(f"WHEN u < {t} THEN {k}" for k, t in enumerate(sampling.BOOT_POIS_CDF))}
      ELSE {len(sampling.BOOT_POIS_CDF)} END AS w
  FROM (SELECT b, o_totalprice,
      ('0x' || substr(md5('boot' || CAST(b AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
        / 4294967296.0 AS u
    FROM reps)),
means AS (
  SELECT b,
    CAST(SUM(CAST(w * o_totalprice AS DECIMAL(27,4))) AS DOUBLE)
      / CAST(SUM(w) AS BIGINT) AS m
  FROM wts GROUP BY b),
ranked AS (SELECT b, m, row_number() OVER (ORDER BY m, b) AS rn FROM means),
ci AS (
  SELECT CAST(COUNT(*) AS INT) AS n_replicas,
    MAX(CASE WHEN rn = 2 THEN m END) AS ci_lo,
    MAX(CASE WHEN rn = {sampling.BOOT_B - 1} THEN m END) AS ci_hi
  FROM ranked),
pt AS (SELECT {sql_davg('o_totalprice', ndigits=4)} AS point_mean FROM orders)
SELECT n_replicas, point_mean, ci_lo, ci_hi FROM ci, pt""",
    ),
    "bloom_join_gate": QuerySpec(
        advanced.q_bloom_join_gate,
        f"""SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
  ROUND({sql_dsum('o_totalprice')}, 2) AS total_revenue,
  CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'""",
    ),
    "kcore_summary": QuerySpec(
        dedup.q_kcore_summary,
        _minhash_cte()
        + _lsh_banded_sql()
        + f""",
e0 AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)"""
        + "".join(
            f""",
d{k} AS MATERIALIZED (
  SELECT doc_a AS node, COUNT(*) AS deg FROM (
    SELECT doc_a, doc_b FROM e{k - 1} UNION ALL SELECT doc_b, doc_a FROM e{k - 1})
  GROUP BY 1),
k{k} AS MATERIALIZED (SELECT node FROM d{k} WHERE deg >= {dedup.KCORE_K}),
e{k} AS MATERIALIZED (
  SELECT doc_a, doc_b FROM e{k - 1}
  WHERE doc_a IN (SELECT node FROM k{k}) AND doc_b IN (SELECT node FROM k{k}))"""
            for k in range(1, dedup.KCORE_ROUNDS + 1)
        )
        + f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_core_nodes,
  CAST(COALESCE(SUM(deg), 0) // 2 AS BIGINT) AS n_core_edges,
  CAST(COALESCE(MAX(deg), 0) AS BIGINT) AS max_core_degree
FROM (
  SELECT doc_a AS node, COUNT(*) AS deg FROM (
    SELECT doc_a, doc_b FROM e{dedup.KCORE_ROUNDS}
    UNION ALL SELECT doc_b, doc_a FROM e{dedup.KCORE_ROUNDS})
  GROUP BY 1)""",
    ),
    "dq_constraint_report": QuerySpec(
        profiling.q_dq_constraint_report,
        """WITH s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_custkey,
    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS dup_orderkeys,
    CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
    CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpos_price,
    CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_orderdate
  FROM orders),
r AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS orphan_lineitems
  FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
SELECT n_orders, null_custkey, dup_orderkeys, bad_status, nonpos_price,
  null_orderdate, orphan_lineitems,
  (null_custkey = 0 AND dup_orderkeys = 0 AND bad_status = 0
   AND nonpos_price = 0 AND null_orderdate = 0 AND orphan_lineitems = 0)
  AS all_constraints_pass
FROM s, r""",
    ),
    "png_decode_gate": QuerySpec(
        multimodal.q_png_decode_gate,
        f"""WITH ids AS (
  SELECT doc_id AS media_id, 16 + (doc_id % 32) AS w, 16 + ((doc_id*7) % 32) AS h
  FROM documents WHERE doc_id < {multimodal._GATE_DOCS}),
orig AS (
  SELECT media_id,
    CAST(SUM(((((i.range // (w*3)) % 256) + (i.range % (w*3))) % 256)
             * ((i.range % 9973) + 1)) AS BIGINT) AS pix_checksum
  FROM ids, range(0, 6627) i WHERE i.range < w*h*3 GROUP BY media_id),
res AS (
  SELECT media_id,
    CAST(SUM((((((i.range // 3) // {multimodal.PNG_GATE_TARGET[0]}) * h // {multimodal.PNG_GATE_TARGET[1]}) % 256
               + (((i.range // 3) % {multimodal.PNG_GATE_TARGET[0]}) * w // {multimodal.PNG_GATE_TARGET[0]}) * 3
               + (i.range % 3)) % 256)
             * ((i.range % 9973) + 1)) AS BIGINT) AS resized_checksum
  FROM ids, range(0, {multimodal.PNG_GATE_TARGET[0] * multimodal.PNG_GATE_TARGET[1] * 3}) i
  GROUP BY media_id)
SELECT ids.media_id, 'png' AS meta_format,
  CAST(w AS BIGINT) AS meta_width, CAST(h AS BIGINT) AS meta_height,
  CAST(3 AS BIGINT) AS channels, orig.pix_checksum, res.resized_checksum
FROM ids JOIN orig USING (media_id) JOIN res USING (media_id)
ORDER BY ids.media_id""",
    ),
    "jpeg_decode_gate": QuerySpec(
        multimodal.q_jpeg_decode_gate,
        # closed form of the DC-only quantize->dequantize->IDCT round trip
        # at quality 50 (DC step 16): pix = clip(128 + 2*rha((v-128)/2))
        f"""WITH ids AS (
  SELECT doc_id AS media_id, 16 + 8 * (doc_id % 3) AS w, 16 + 8 * ((doc_id*5) % 3) AS h
  FROM documents WHERE doc_id < {multimodal._GATE_DOCS}),
px AS (
  SELECT media_id,
    CAST(SUM(
      LEAST(255, GREATEST(0, 128 + 2 * (
        CASE WHEN d >= 0 THEN (d + 1) // 2 ELSE -((1 - d) // 2) END)))
      * ((idx % 9973) + 1)) AS BIGINT) AS pix_checksum
  FROM (
    SELECT media_id, i.range AS idx,
      ((37 * ((i.range % w) // 8) + 73 * ((i.range // w) // 8) + 11 * media_id) % 256) - 128 AS d
    FROM ids, range(0, 1024) i WHERE i.range < w * h)
  GROUP BY media_id)
SELECT ids.media_id, 'jpeg' AS meta_format,
  CAST(w AS BIGINT) AS meta_width, CAST(h AS BIGINT) AS meta_height,
  CAST(1 AS BIGINT) AS channels, px.pix_checksum
FROM ids JOIN px USING (media_id)
ORDER BY ids.media_id""",
    ),
    "wav_features_gate": QuerySpec(
        multimodal.q_wav_features_gate,
        f"""WITH ids AS (
  SELECT doc_id AS media_id, 1200 + (doc_id % 17) * 53 AS n, 8000 + (doc_id % 3) * 4000 AS rate
  FROM documents WHERE doc_id < {multimodal._GATE_DOCS}),
s AS (
  SELECT media_id, CAST(SUM(v*v) AS BIGINT) AS sum_sq FROM (
    SELECT media_id, ((i.range*37) % 20000) - 10000 AS v
    FROM ids, range(0, 2048) i WHERE i.range < n)
  GROUP BY media_id),
z AS (
  SELECT media_id, CAST(SUM(CASE WHEN (a < 0) != (b < 0) THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings FROM (
    SELECT media_id, ((i.range*37) % 20000) - 10000 AS a,
      (((i.range+1)*37) % 20000) - 10000 AS b
    FROM ids, range(0, 2048) i WHERE i.range < n - 1)
  GROUP BY media_id)
SELECT ids.media_id, 'wav' AS audio_format, CAST(rate AS BIGINT) AS sample_rate,
  CAST(n AS BIGINT) AS n_frames, sum_sq, zero_crossings,
  CAST(n AS BIGINT) / CAST(rate AS BIGINT) AS duration_sec,
  sqrt(sum_sq / CAST(n AS BIGINT)) AS rms
FROM ids JOIN s USING (media_id) JOIN z USING (media_id)
ORDER BY ids.media_id""",
    ),
    # -- retrieval ranking (round 4, late) -----------------------------------
    "bm25_topk": QuerySpec(
        retrieval.q_bm25_topk,
        _bm25_scored_sql()
        + """
SELECT doc_id, ROUND(CAST(SUM(CAST(contrib AS DECIMAL(27,12))) AS DOUBLE), 6) AS bm25,
       CAST(COUNT(*) AS INT) AS n_terms
FROM scored GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 15""",
    ),
    "hybrid_rrf_topk": QuerySpec(
        retrieval.q_hybrid_rrf_topk,
        _bm25_scored_sql()
        + f""",
bm AS (SELECT doc_id, CAST(SUM(CAST(contrib AS DECIMAL(27,12))) AS DOUBLE) AS bm25
       FROM scored GROUP BY doc_id),
lexr AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS lex_rank
         FROM bm WHERE doc_id <> {retrieval.QUERY_VEC_ID}
         ORDER BY bm25 DESC, doc_id LIMIT {retrieval.LEG_TOPN}),
e AS (SELECT vec_id AS doc_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE doc_id = {retrieval.QUERY_VEC_ID}),
cosd AS (SELECT doc_id,
    {_dot_sql('v', 'qv')} / (sqrt({_dot_sql('v', 'v')}) * sqrt({_dot_sql('qv', 'qv')})) AS cosine
  FROM e, q WHERE doc_id <> {retrieval.QUERY_VEC_ID}),
vecr AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS INT) AS vec_rank
         FROM cosd ORDER BY cosine DESC, doc_id LIMIT {retrieval.LEG_TOPN})
SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id, l.lex_rank, v.vec_rank,
  ROUND(COALESCE(1.0 / ({retrieval.RRF_K} + l.lex_rank), 0.0)
        + COALESCE(1.0 / ({retrieval.RRF_K} + v.vec_rank), 0.0), 8) AS rrf
FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.doc_id
ORDER BY rrf DESC, doc_id LIMIT 15""",
    ),
    "zorder_skipping_gate": QuerySpec(
        layout.q_zorder_skipping_gate,
        f"""WITH base AS (
  SELECT LEAST(255, CAST(FLOOR(o_totalprice / {layout.PRICE_STEP}) AS INT)) AS px,
         LEAST(255, CAST(FLOOR(date_diff('day', DATE '{layout.EPOCH}', CAST(o_orderdate AS DATE)) / {layout.DAY_STEP}) AS INT)) AS py
  FROM orders),
keyed AS (
  SELECT px, py, {_z_sql('px', 'py')} >> 10 AS fid_z,
         LEAST({layout.N_FILES - 1}, CAST(FLOOR(py / 4) AS INT)) AS fid_lin,
         CAST((px BETWEEN {layout.PX_LO} AND {layout.PX_HI}
              AND py BETWEEN {layout.PY_LO} AND {layout.PY_HI}) AS INT) AS hit
  FROM base),
both_layouts AS (
  SELECT 'zorder' AS layout, fid_z AS fid, px, py, hit FROM keyed
  UNION ALL
  SELECT 'linear' AS layout, fid_lin AS fid, px, py, hit FROM keyed),
stats AS (
  SELECT layout, fid, COUNT(*) AS n_rows, CAST(SUM(hit) AS BIGINT) AS n_hits,
         MIN(px) AS min_px, MAX(px) AS max_px, MIN(py) AS min_py, MAX(py) AS max_py
  FROM both_layouts GROUP BY layout, fid),
g AS (
  SELECT layout, n_rows, n_hits,
    CAST((min_px <= {layout.PX_HI} AND max_px >= {layout.PX_LO}
         AND min_py <= {layout.PY_HI} AND max_py >= {layout.PY_LO}) AS INT) AS scanned
  FROM stats)
SELECT layout, CAST(COUNT(*) AS BIGINT) AS files_total,
  CAST(SUM(scanned) AS BIGINT) AS files_scanned,
  CAST(SUM(scanned * n_rows) AS BIGINT) AS rows_scanned,
  CAST(SUM(n_hits) AS BIGINT) AS rows_matched,
  ROUND(100.0 * (1.0 - CAST(SUM(scanned * n_rows) AS DOUBLE) / CAST(SUM(n_rows) AS DOUBLE)), 2) AS pruned_pct
FROM g GROUP BY layout ORDER BY layout""",
    ),
    "decayed_user_score": QuerySpec(
        events.q_decayed_user_score,
        f"""WITH w AS (
  SELECT user_id, value,
    CAST(FLOOR(date_diff('day', CAST(ts AS DATE), DATE '{events.DECAY_ANCHOR}') / {events.DECAY_HALF_LIFE_DAYS}) AS INT) AS weeks_ago
  FROM events)
SELECT user_id, COUNT(*) AS n_events,
  ROUND(CAST(SUM(CAST(value * (1.0 / (1 << weeks_ago)) AS DECIMAL(27,12))) AS DOUBLE), 6) AS decayed_score,
  ROUND({sql_dsum('value')}, 2) AS raw_score
FROM w GROUP BY user_id ORDER BY user_id""",
    ),
    "source_signature_terms": QuerySpec(
        corpus.q_source_signature_terms,
        """WITH tok AS (
  SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token FROM documents),
cts AS (SELECT source, token, COUNT(*) AS c FROM tok GROUP BY source, token),
tot_s AS (SELECT source, CAST(SUM(c) AS BIGINT) AS tot FROM cts GROUP BY source),
f_t AS (SELECT token, CAST(SUM(c) AS BIGINT) AS ft FROM cts GROUP BY token),
a AS (SELECT CAST(SUM(tot) AS DOUBLE) / COUNT(*) AS a FROM tot_s),
scored AS (
  SELECT cts.source, cts.token,
    (cts.c / tot_s.tot) * ln(1.0 + a.a / f_t.ft) AS ctfidf
  FROM cts JOIN tot_s USING (source) JOIN f_t USING (token) CROSS JOIN a)
SELECT source, CAST(rk AS INT) AS rk, token AS term, ROUND(ctfidf, 8) AS ctfidf
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY ctfidf DESC, token) AS rk
      FROM scored)
WHERE rk <= 3""",
    ),
    "bucketed_join_gate": QuerySpec(
        advanced.q_bucketed_join_gate,
        f"""SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
  ROUND({sql_dsum('o_totalprice')}, 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment""",
    ),
    # -- privacy / governance audits (round 4, late) -------------------------
    "k_anonymity_audit": QuerySpec(
        privacy.q_k_anonymity_audit,
        f"""WITH q AS (
  SELECT c_nationkey AS nation, c_mktsegment AS segment,
         CAST(FLOOR(c_acctbal / {privacy.ACCTBAL_BUCKET}) AS INT) AS bal_bucket
  FROM customer),
cls AS (SELECT nation, segment, bal_bucket, COUNT(*) AS n FROM q GROUP BY 1, 2, 3)
SELECT CAST(COUNT(*) AS BIGINT) AS n_classes, CAST(MIN(n) AS BIGINT) AS min_class_size,
  CAST(SUM(CAST(n < {privacy.K_ANON} AS INT)) AS BIGINT) AS classes_below_k,
  CAST(SUM(CASE WHEN n < {privacy.K_ANON} THEN n ELSE 0 END) AS BIGINT) AS records_at_risk,
  ROUND(CAST(SUM(CASE WHEN n < {privacy.K_ANON} THEN n ELSE 0 END) AS DOUBLE)
        / SUM(n) * 100, 4) AS at_risk_pct
FROM cls""",
    ),
    "dp_segment_counts": QuerySpec(
        privacy.q_dp_segment_counts,
        f"""WITH seg AS (
  SELECT c_mktsegment AS segment, COUNT(*) AS true_count FROM customer GROUP BY 1),
n AS (SELECT segment, true_count,
  ('0x' || substr(md5('{privacy.DP_SEED}:' || segment), 1, 8))::BIGINT / 4294967296.0 - 0.5 AS c
  FROM seg)
SELECT segment, true_count,
  ROUND({-1.0 / privacy.DP_EPS!r} * sign(c) * ln(1.0 - 2.0 * abs(c)), 4) AS noise,
  ROUND(true_count + {-1.0 / privacy.DP_EPS!r} * sign(c) * ln(1.0 - 2.0 * abs(c)), 4) AS released_count
FROM n ORDER BY segment""",
    ),
    # -- model-based curation (round 4, late) --------------------------------
    "quality_classifier_gate": QuerySpec(curation.q_quality_classifier_gate, _clf_sql()),
    "doc_perplexity": QuerySpec(
        curation.q_doc_perplexity,
        """WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t FROM documents),
pairs AS (
  SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM (
    SELECT doc_id, unnest([{'w1': t[i], 'w2': t[i+1]} for i in range(1, len(t))]) AS p
    FROM t)),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM pairs GROUP BY w1, w2),
uni AS (SELECT unnest(t) AS w FROM t),
c1 AS (SELECT w, COUNT(*) AS c1 FROM uni GROUP BY w),
vt AS (SELECT COUNT(*) AS v FROM c1)
SELECT doc_id, COUNT(*) AS n_bigrams,
  ROUND(CAST(SUM(CAST(-ln((c2.c2 + 1) / (c1.c1 + vt.v)) AS DECIMAL(18,9))) AS DOUBLE)
        / COUNT(*), 6) AS nll
FROM pairs
JOIN c2 USING (w1, w2)
JOIN c1 ON pairs.w1 = c1.w
CROSS JOIN vt
GROUP BY doc_id""",
    ),
    "dsir_weights": QuerySpec(
        curation.q_dsir_weights,
        f"""WITH t AS (
  SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\\s+') AS t FROM documents),
uni AS (SELECT doc_id, lang, unnest(t) AS w FROM t),
raw AS (SELECT w, COUNT(*) AS cr FROM uni GROUP BY w),
tgt AS (SELECT w, COUNT(*) AS ct FROM uni WHERE lang = '{curation.DSIR_TARGET_LANG}' GROUP BY w),
tot AS (SELECT CAST(SUM(cr) AS BIGINT) AS nr, COUNT(*) AS v FROM raw),
ntt AS (SELECT COUNT(*) AS nt FROM uni WHERE lang = '{curation.DSIR_TARGET_LANG}'),
vocab AS (
  SELECT raw.w,
    ln(((COALESCE(ct, 0) + 1) * (nr + v)) / ((cr + 1) * (nt + v))) AS lr
  FROM raw LEFT JOIN tgt ON raw.w = tgt.w CROSS JOIN tot CROSS JOIN ntt)
SELECT doc_id, lang, COUNT(*) AS n_tokens,
  ROUND(CAST(SUM(CAST(lr AS DECIMAL(18,9))) AS DOUBLE), 6) AS log_weight
FROM uni JOIN vocab ON uni.w = vocab.w
GROUP BY doc_id, lang""",
    ),
    "ann_ndcg_gate": QuerySpec(
        similarity.q_ann_ndcg_gate,
        f"""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
b AS (SELECT vec_id, v, ({_bucket_expr_sql()}) AS bucket FROM e),
q AS (SELECT v AS qv, unnest([bucket, {", ".join(f"xor(bucket, {1 << p})" for p in range(8))}]) AS probe
      FROM b WHERE vec_id = 0),
ann AS (SELECT vec_id,
  ROUND({_dot_sql('v', 'qv')} / (sqrt({_dot_sql('v', 'v')}) * sqrt({_dot_sql('qv', 'qv')})), 4) AS cosine
  FROM b JOIN q ON b.bucket = q.probe WHERE vec_id <> 0
  ORDER BY cosine DESC, vec_id LIMIT {similarity.NDCG_K}),
anni AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS INT) AS i FROM ann),
q0 AS (SELECT v AS qv FROM e WHERE vec_id = 0),
exact AS (SELECT vec_id,
  ROUND({_dot_sql('v', 'qv')} / (sqrt({_dot_sql('v', 'v')}) * sqrt({_dot_sql('qv', 'qv')})), 4) AS cosine
  FROM e, q0 WHERE vec_id <> 0
  ORDER BY cosine DESC, vec_id LIMIT {similarity.NDCG_K}),
exr AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS INT) AS r FROM exact),
g AS (
  SELECT CAST(r IS NOT NULL AS INT) AS hit,
    COALESCE({similarity.NDCG_K + 1} - r, 0)
      * ([{", ".join(repr(d) for d in similarity._ndcg_discounts())}])[i] AS g
  FROM anni LEFT JOIN exr USING (vec_id))
SELECT CAST(SUM(hit) AS INT) AS n_hits,
  ROUND(CAST(SUM(CAST(g AS DECIMAL(18,12))) AS DOUBLE), 6) AS dcg,
  CAST(ROUND({sum((similarity.NDCG_K + 1 - r) * similarity._ndcg_discounts()[r - 1] for r in range(1, similarity.NDCG_K + 1))!r}, 6) AS DOUBLE) AS idcg,
  ROUND(CAST(SUM(CAST(g AS DECIMAL(18,12))) AS DOUBLE)
        / {sum((similarity.NDCG_K + 1 - r) * similarity._ndcg_discounts()[r - 1] for r in range(1, similarity.NDCG_K + 1))!r}, 6) AS ndcg
FROM g""",
    ),
    "range_band_join": QuerySpec(
        advanced.q_range_band_join,
        # the oracle states the SEMANTICS (plain theta-join); the Spark face
        # proves the bucket-expansion rewrite computes the same relation
        """SELECT band_id, COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS sum_price
FROM orders
JOIN (SELECT n_nationkey AS band_id,
             n_nationkey * 18000.0 AS lo,
             n_nationkey * 18000.0 + 54000.0 AS hi
      FROM nation) bands
  ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band_id""",
    ),
    "record_linkage": QuerySpec(
        linkage.q_record_linkage,
        # blocking reproduced literally (bucket-window containment) so
        # n_candidates -- an artifact of the blocking, not the semantics --
        # is graded too, not just the final matches
        f"""WITH dirty AS (
  SELECT c_custkey AS d_custkey,
    concat(substr(c_name, 1, pos - 1), substr(c_name, pos + 1)) AS d_name,
    c_nationkey AS d_nationkey,
    c_acctbal + CAST(c_custkey % 7 - 3 AS DOUBLE) AS d_acctbal,
    c_mktsegment AS d_mktsegment
  FROM (SELECT *, CAST(2 + c_custkey % (length(c_name) - 2) AS INT) AS pos
        FROM customer WHERE c_custkey % 3 = 0)),
cand AS (
  SELECT d_custkey, c_custkey, d_nationkey,
    levenshtein(d_name, c_name) AS lev,
    abs(d_acctbal - c_acctbal) <= {linkage.ACCT_TOL} AS acct_ok,
    d_mktsegment = c_mktsegment AS seg_ok
  FROM dirty JOIN customer
    ON d_nationkey = c_nationkey
   AND floor(c_acctbal / {linkage.BUCKET})
       BETWEEN floor((d_acctbal - {linkage.ACCT_TOL}) / {linkage.BUCKET})
           AND floor((d_acctbal + {linkage.ACCT_TOL}) / {linkage.BUCKET})),
scored AS (
  SELECT *,
    (CASE WHEN lev <= 1 THEN 2 ELSE 0 END)
      + (CASE WHEN acct_ok THEN 1 ELSE 0 END)
      + (CASE WHEN seg_ok THEN 1 ELSE 0 END) AS score
  FROM cand)
SELECT d_nationkey AS nationkey, COUNT(*) AS n_candidates,
  CAST(SUM(CASE WHEN score >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
  CAST(SUM(CASE WHEN score >= 3 AND d_custkey = c_custkey THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
  CAST(SUM(lev) AS BIGINT) AS lev_mass
FROM scored GROUP BY 1""",
    ),
    "pit_state_join": QuerySpec(
        events.q_pit_state_join,
        """WITH s AS (
  SELECT user_id, event_type, ts, event_id FROM events
  WHERE event_type <> 'purchase'),
f AS (
  SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
                   OR lag(event_type) OVER w <> event_type
            THEN 1 ELSE 0 END AS chg
  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
i AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS island
  FROM f),
r AS (SELECT user_id, island, MIN(ts) AS vf, MIN(event_type) AS state
      FROM i GROUP BY 1, 2),
iv AS (SELECT user_id, state, vf,
         lead(vf) OVER (PARTITION BY user_id ORDER BY island) AS vt
       FROM r),
p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
SELECT state, COUNT(*) AS n_purchases, COUNT(DISTINCT p.user_id) AS n_users,
  CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS revenue
FROM p JOIN iv ON p.user_id = iv.user_id
  AND p.ts >= iv.vf AND (iv.vt IS NULL OR p.ts < iv.vt)
GROUP BY state""",
    ),
    "rolling_median_revenue": QuerySpec(
        profiling.q_rolling_median_revenue,
        """WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_cents
  FROM orders GROUP BY 1)
SELECT strftime(day, '%Y-%m-%d') AS day, CAST(rev_cents AS BIGINT) AS rev_cents,
  median(rev_cents) OVER w AS med7_cents,
  COUNT(*) OVER w AS days_in_window
FROM daily
WINDOW w AS (ORDER BY datediff('day', DATE '1990-01-01', day)
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""",
    ),
    "acf_daily_revenue": QuerySpec(
        profiling.q_acf_daily_revenue,
        f"""WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
    SUM(CAST(round(o_totalprice) AS BIGINT)) AS rev
  FROM orders GROUP BY 1),
st AS (SELECT SUM(rev) AS s, COUNT(*) AS n FROM daily),
y AS (SELECT day, n * rev - s AS y FROM daily, st),
lagged AS (
  SELECT y,
    {', '.join(f'lag(y, {k}) OVER (ORDER BY day) AS y{k}' for k in range(1, profiling.ACF_MAX_LAG + 1))}
  FROM y),
terms AS (
  {' UNION ALL '.join(f'SELECT {k} AS lag, CAST(y AS DECIMAL(19,0)) * CAST(y{k} AS DECIMAL(19,0)) AS yy FROM lagged' for k in range(1, profiling.ACF_MAX_LAG + 1))}),
den AS (SELECT SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS den FROM y)
SELECT lag, COUNT(*) AS n_terms,
  ROUND(CAST(SUM(yy) AS DOUBLE) / CAST(MIN(den) AS DOUBLE), 6) AS acf
FROM terms, den WHERE yy IS NOT NULL
GROUP BY lag ORDER BY lag""",
    ),
    "stratified_kfold": QuerySpec(
        sampling.q_stratified_kfold,
        f"""WITH assigned AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
    (ROW_NUMBER() OVER (PARTITION BY source ORDER BY
       ('0x' || substr(md5('{sampling.KFOLD_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT,
       doc_id) - 1) % {sampling.KFOLD_K} AS fold
  FROM documents),
per_stratum AS (
  SELECT fold, source, COUNT(*) AS n, SUM(n_chars) AS chars
  FROM assigned GROUP BY 1, 2)
SELECT fold, CAST(SUM(n) AS BIGINT) AS n_docs, CAST(SUM(chars) AS BIGINT) AS n_chars,
  COUNT(*) AS n_strata, MAX(n) - MIN(n) AS stratum_imbalance
FROM per_stratum GROUP BY fold ORDER BY fold""",
    ),
    "cascade_erasure_audit": QuerySpec(
        privacy.q_cascade_erasure_audit,
        f"""WITH victims AS (
  SELECT c_custkey FROM customer
  WHERE ('0x' || substr(md5('{privacy.GDPR_SEED}:' || CAST(c_custkey AS VARCHAR)), 1, 2))::INT
        < {privacy.GDPR_SLOTS}),
v_orders AS (
  SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM victims)),
v_line AS (
  SELECT 1 AS x FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM v_orders))
SELECT 'customer' AS entity, (SELECT COUNT(*) FROM victims) AS n_erased,
  (SELECT COUNT(*) FROM customer) AS n_total,
  ROUND((SELECT COUNT(*) FROM victims) * 1.0 / (SELECT COUNT(*) FROM customer), 6) AS pct
UNION ALL
SELECT 'orders', (SELECT COUNT(*) FROM v_orders), (SELECT COUNT(*) FROM orders),
  ROUND((SELECT COUNT(*) FROM v_orders) * 1.0 / (SELECT COUNT(*) FROM orders), 6)
UNION ALL
SELECT 'lineitem', (SELECT COUNT(*) FROM v_line), (SELECT COUNT(*) FROM lineitem),
  ROUND((SELECT COUNT(*) FROM v_line) * 1.0 / (SELECT COUNT(*) FROM lineitem), 6)""",
    ),
    "roc_auc_quality": QuerySpec(
        curation.q_roc_auc_quality,
        """WITH labeled AS (
  SELECT n_chars AS score, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents),
by_val AS (
  SELECT score, COUNT(*) AS c_all, SUM(pos) AS c_pos
  FROM labeled GROUP BY score),
ranked AS (
  SELECT c_all, c_pos,
    COALESCE(SUM(c_all) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      + (c_all + 1) / 2.0 AS midrank
  FROM by_val)
SELECT CAST(SUM(c_pos) AS BIGINT) AS n_pos,
  CAST(SUM(c_all) - SUM(c_pos) AS BIGINT) AS n_neg,
  ROUND((SUM(c_pos * midrank) - SUM(c_pos) * (SUM(c_pos) + 1) / 2.0)
        / (SUM(c_pos) * (SUM(c_all) - SUM(c_pos))), 6) AS auc
FROM ranked""",
    ),
    "markov_stationary": QuerySpec(
        events.q_markov_stationary,
        """WITH seq AS (
  SELECT event_type AS e1,
    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2
  FROM events),
pairs AS (SELECT e1, e2, COUNT(*) AS n FROM seq WHERE e2 IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT e1, SUM(n) AS tot FROM pairs GROUP BY 1),
trans AS (SELECT p.e1, p.e2, p.n, t.tot FROM pairs p JOIN tot t USING (e1)),
ns AS (SELECT COUNT(DISTINCT e1) AS n_states FROM trans),
r0 AS (SELECT DISTINCT e1 AS e, 1.0 / n_states AS pr FROM trans, ns),
"""
        + ",\n".join(
            f"""r{i} AS (
  SELECT t.e2 AS e, CAST(SUM(CAST(p.pr * t.n / t.tot AS DECIMAL(27,18))) AS DOUBLE) AS pr
  FROM trans t JOIN r{i - 1} p ON t.e1 = p.e GROUP BY t.e2)"""
            for i in range(1, events.MS_ITERS + 1)
        )
        + f"""
SELECT e AS event_type, ROUND(pr, 10) AS stationary_p
FROM r{events.MS_ITERS} ORDER BY event_type""",
    ),
    "adamic_adar_links": QuerySpec(
        linkage.q_adamic_adar_links,
        f"""WITH cp AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
deg AS (SELECT p, COUNT(*) AS deg FROM cp GROUP BY p),
cpr AS (
  SELECT cp.p, cp.c, CAST(ROUND(1.0 / ln(deg), 9) AS DECIMAL(18,9)) AS term
  FROM cp JOIN deg USING (p) WHERE deg BETWEEN 2 AND {linkage.AA_MAX_DEG})
SELECT a.c AS c1, b.c AS c2, COUNT(*) AS n_common,
  CAST(SUM(a.term) AS DOUBLE) AS aa_score
FROM cpr a JOIN cpr b ON a.p = b.p AND a.c < b.c
GROUP BY a.c, b.c
ORDER BY aa_score DESC, c1, c2 LIMIT 10""",
    ),
    "label_propagation": QuerySpec(
        linkage.q_label_propagation,
        f"""WITH cp AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS cst, l.l_partkey AS p
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
deg AS (SELECT p, COUNT(*) AS deg FROM cp GROUP BY p),
cpr AS (SELECT cp.cst, cp.p FROM cp JOIN deg USING (p)
        WHERE deg BETWEEN 2 AND {linkage.AA_MAX_DEG}),
half AS (SELECT DISTINCT a.cst AS c1, b.cst AS c2
         FROM cpr a JOIN cpr b ON a.p = b.p AND a.cst < b.cst),
edges AS MATERIALIZED (
  SELECT c1, c2 FROM half UNION ALL SELECT c2 AS c1, c1 AS c2 FROM half),
cust AS MATERIALIZED (
  SELECT c_custkey AS cst, c_mktsegment AS truth,
    ('0x' || substr(md5('{linkage.LP_SEED}:' || CAST(c_custkey AS VARCHAR)), 1, 2))::INT
      < {linkage.LP_SEED_SLOTS} AS is_seed
  FROM customer),
l0 AS MATERIALIZED (SELECT cst, truth AS label FROM cust WHERE is_seed),
"""
        + "\n".join(
            f"""v{i} AS (
  SELECT e.c1 AS dst, l.label, COUNT(*) AS votes
  FROM edges e JOIN l{i - 1} l ON e.c2 = l.cst GROUP BY 1, 2),
b{i} AS (
  SELECT dst AS cst, label FROM (
    SELECT dst, label,
      ROW_NUMBER() OVER (PARTITION BY dst ORDER BY votes DESC, label) AS rk
    FROM v{i}) WHERE rk = 1),
l{i} AS MATERIALIZED (
  SELECT cst, label FROM l{i - 1}
  UNION ALL
  SELECT cst, label FROM b{i} WHERE cst NOT IN (SELECT cst FROM l{i - 1})),"""
            for i in range(1, linkage.LP_ROUNDS + 1)
        )
        + f"""
graded AS (
  SELECT m.truth, l.label
  FROM cust m LEFT JOIN l{linkage.LP_ROUNDS} l USING (cst)
  WHERE NOT m.is_seed)
SELECT COUNT(*) AS n_masked,
  CAST(SUM(CASE WHEN label IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_labeled,
  CAST(SUM(CASE WHEN label = truth THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
  ROUND(SUM(CASE WHEN label = truth THEN 1 ELSE 0 END) * 1.0
        / SUM(CASE WHEN label IS NOT NULL THEN 1 ELSE 0 END), 6) AS accuracy,
  ROUND(SUM(CASE WHEN label IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS coverage
FROM graded""",
    ),
    "seasonality_strength": QuerySpec(
        profiling.q_seasonality_strength,
        """WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
    SUM(CAST(round(o_totalprice) AS BIGINT)) AS y
  FROM orders GROUP BY 1),
tot AS (
  SELECT COUNT(*) AS n, SUM(y) AS s,
    SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS ssq
  FROM daily),
per_dow AS (
  SELECT dayofweek(day) AS dow, COUNT(*) AS n_d, SUM(y) AS s_d
  FROM daily GROUP BY 1),
grp AS (
  SELECT CAST(SUM(CAST(ROUND(
           CAST(CAST(s_d AS DECIMAL(38,0)) * CAST(s_d AS DECIMAL(38,0)) AS DOUBLE) / n_d,
         4) AS DECIMAL(38,6))) AS DOUBLE) AS between_raw,
         COUNT(*) AS k
  FROM per_dow)
SELECT n AS n_days, k AS k_groups,
  ROUND((between_raw - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
        / (CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n), 6) AS eta_sq,
  ROUND(((between_raw - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (k - 1))
        / ((CAST(ssq AS DOUBLE) - between_raw) / (n - k)), 4) AS f_stat
FROM grp, tot""",
    ),
    "isotonic_calibration": QuerySpec(
        curation.q_isotonic_calibration,
        f"""WITH binned AS (
  SELECT LEAST({curation.CAL_MAX_BIN}, CAST(FLOOR(n_chars / {curation.CAL_BIN_WIDTH}) AS INT)) AS bin,
    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents),
bins AS (SELECT bin, COUNT(*) AS n, SUM(pos) AS p FROM binned GROUP BY bin),
cum AS (
  SELECT bin, n, p,
    SUM(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cn,
    SUM(p) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cp
  FROM bins),
seg AS (
  SELECT j.bin AS j, k.bin AS k,
    CAST(k.cp - (j.cp - j.p) AS DOUBLE) / (k.cn - (j.cn - j.n)) AS mean
  FROM cum j JOIN cum k ON j.bin <= k.bin),
mins AS (
  SELECT i.bin AS i, i.n, i.p, s.j, MIN(s.mean) AS mn
  FROM cum i JOIN seg s ON s.j <= i.bin AND i.bin <= s.k
  GROUP BY 1, 2, 3, 4),
iso AS (SELECT i, n, p, MAX(mn) AS iso FROM mins GROUP BY 1, 2, 3)
SELECT i AS bin, n, ROUND(p * 1.0 / n, 6) AS pos_rate, ROUND(iso, 6) AS iso_rate
FROM iso ORDER BY bin""",
    ),
    "ipf_raking": QuerySpec(
        sampling.q_ipf_raking,
        """WITH c0 AS MATERIALIZED (
  SELECT source, lang, COUNT(*) AS n, CAST(COUNT(*) AS DOUBLE) AS w
  FROM documents GROUP BY 1, 2),
tot AS (SELECT SUM(n) AS t, COUNT(DISTINCT source) AS ns, COUNT(DISTINCT lang) AS nl FROM c0),
"""
        + ",\n".join(
            f"""r{i} AS (SELECT source, CAST(SUM(CAST(w AS DECIMAL(38,12))) AS DOUBLE) AS rs
  FROM c{i - 1} GROUP BY 1),
a{i} AS (
  SELECT c.source, c.lang, c.n, ROUND(c.w * ((t.t / t.ns) / r.rs), 12) AS w
  FROM c{i - 1} c JOIN r{i} r USING (source), tot t),
k{i} AS (SELECT lang, CAST(SUM(CAST(w AS DECIMAL(38,12))) AS DOUBLE) AS cs
  FROM a{i} GROUP BY 1),
c{i} AS MATERIALIZED (
  SELECT a.source, a.lang, a.n, ROUND(a.w * ((t.t / t.nl) / k.cs), 12) AS w
  FROM a{i} a JOIN k{i} k USING (lang), tot t)"""
            for i in range(1, sampling.IPF_ROUNDS + 1)
        )
        + f"""
SELECT source, lang, n, ROUND(w, 8) AS weight
FROM c{sampling.IPF_ROUNDS} ORDER BY source, lang""",
    ),
    "mmr_diversified_topk": QuerySpec(
        retrieval.q_mmr_diversified_topk,
        f"""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = {retrieval.QUERY_VEC_ID}),
cand AS MATERIALIZED (
  SELECT vec_id, v,
    ROUND({_dot_sql('v', 'qv')} / (sqrt({_dot_sql('v', 'v')}) * sqrt({_dot_sql('qv', 'qv')})), 4) AS rel
  FROM e, q WHERE vec_id <> {retrieval.QUERY_VEC_ID}
  ORDER BY rel DESC, vec_id LIMIT {retrieval.MMR_POOL}),
sims AS MATERIALIZED (
  SELECT a.vec_id AS a, b.vec_id AS b,
    ROUND({_dot_sql('a.v', 'b.v')} / (sqrt({_dot_sql('a.v', 'a.v')}) * sqrt({_dot_sql('b.v', 'b.v')})), 4) AS sim
  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
sel1 AS MATERIALIZED (
  SELECT vec_id, rel, 1 AS rank, ROUND({retrieval.MMR_LAMBDA} * rel, 6) AS mmr
  FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
"""
        + ",\n".join(
            f"""p{t} AS (
  SELECT c.vec_id, c.rel, MAX(s.sim) AS pen
  FROM cand c JOIN sims s ON s.a = c.vec_id
  JOIN sel{t - 1} q ON s.b = q.vec_id
  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{t - 1})
  GROUP BY 1, 2),
s{t} AS (
  SELECT vec_id, rel, {t} AS rank,
    ROUND({retrieval.MMR_LAMBDA} * rel - {retrieval.MMR_MU} * pen, 6) AS mmr
  FROM p{t}
  ORDER BY ROUND({retrieval.MMR_LAMBDA} * rel - {retrieval.MMR_MU} * pen, 6) DESC, vec_id
  LIMIT 1),
sel{t} AS MATERIALIZED (
  SELECT vec_id, rel, rank, mmr FROM sel{t - 1}
  UNION ALL SELECT vec_id, rel, rank, mmr FROM s{t})"""
            for t in range(2, retrieval.MMR_K + 1)
        )
        + f"""
SELECT rank, vec_id, rel, mmr FROM sel{retrieval.MMR_K} ORDER BY rank""",
    ),
    "wasserstein_drift": QuerySpec(
        profiling.q_wasserstein_drift,
        """WITH two AS (
  SELECT n_chars AS v, source FROM documents WHERE source IN ('src0', 'src1')),
by_val AS (
  SELECT v,
    SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS d1,
    SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS d2
  FROM two GROUP BY v),
cum AS (
  SELECT v,
    SUM(d1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c1,
    SUM(d2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c2,
    lead(v, 1) OVER (ORDER BY v) - v AS dv
  FROM by_val),
tot AS (SELECT SUM(d1) AS n1, SUM(d2) AS n2 FROM by_val)
SELECT CAST(MIN(n1) AS BIGINT) AS n1, CAST(MIN(n2) AS BIGINT) AS n2,
  ROUND(SUM(abs(c1 * n2 - c2 * n1) * dv) / (MIN(n1) * MIN(n2)), 6) AS w1_chars
FROM cum, tot WHERE dv IS NOT NULL""",
    ),
    "huber_mean": QuerySpec(
        profiling.q_huber_mean,
        f"""WITH y AS (SELECT source, CAST(n_chars AS DOUBLE) AS y FROM documents),
m0 AS (SELECT source, median(y) AS med, COUNT(*) AS n FROM y GROUP BY 1),
sc AS (
  SELECT y.source, ROUND(GREATEST({profiling.HUBER_C} * median(abs(y.y - m0.med)), 1.0), 6) AS k
  FROM y JOIN m0 USING (source) GROUP BY y.source),
mm0 AS (SELECT m0.source, ROUND(med, 6) AS m, k FROM m0 JOIN sc USING (source)),
"""
        + ",\n".join(
            f"""t{i} AS (
  SELECT y.source, y.y, mm{i - 1}.k,
    ROUND(CASE WHEN abs(y.y - mm{i - 1}.m) <= mm{i - 1}.k THEN 1.0
               ELSE mm{i - 1}.k / abs(y.y - mm{i - 1}.m) END, 9) AS w
  FROM y JOIN mm{i - 1} USING (source)),
mm{i} AS (
  SELECT source,
    ROUND(CAST(SUM(CAST(w * y AS DECIMAL(38,9))) AS DOUBLE)
          / CAST(SUM(CAST(w AS DECIMAL(38,9))) AS DOUBLE), 6) AS m, k
  FROM t{i} GROUP BY source, k)"""
            for i in range(1, profiling.HUBER_ROUNDS + 1)
        )
        + f""",
mean AS (
  SELECT source, COUNT(*) AS n_docs,
    ROUND(CAST(SUM(CAST(y AS DECIMAL(27,4))) AS DOUBLE) / COUNT(*), 4) AS mean_chars
  FROM y GROUP BY 1)
SELECT source, n_docs, mean_chars, ROUND(m, 4) AS huber_mean, k AS k_scale
FROM mean JOIN mm{profiling.HUBER_ROUNDS} USING (source) ORDER BY source""",
    ),
    "sprt_decision": QuerySpec(
        events.q_sprt_decision,
        f"""WITH b AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type
  FROM events
  WHERE ('0x' || substr(md5('ab1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 <> 0),
daily AS (
  SELECT day, COUNT(*) AS n,
    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x
  FROM b GROUP BY day),
cum AS (
  SELECT day,
    ROUND(CAST(SUM(CAST(x * {events.SPRT_L1} + (n - x) * ({events.SPRT_L2}) AS DECIMAL(38,12)))
               OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS DOUBLE), 8) AS llr
  FROM daily),
crossed AS (
  SELECT MIN(day) AS cross_day, min_by(llr, day) AS llr_at_cross
  FROM cum WHERE llr >= {events.SPRT_A} OR llr <= -{events.SPRT_A}),
fin AS (SELECT COUNT(*) AS n_days, max_by(llr, day) AS llr_final FROM cum)
SELECT n_days,
  COALESCE(strftime(cross_day, '%Y-%m-%d'), 'none') AS decision_day,
  CASE WHEN llr_at_cross >= {events.SPRT_A} THEN 'accept_h1'
       WHEN llr_at_cross <= -{events.SPRT_A} THEN 'accept_h0'
       ELSE 'continue' END AS decision,
  llr_final
FROM fin, crossed""",
    ),
    "late_arrival_audit": QuerySpec(
        events.q_late_arrival_audit,
        f"""WITH e AS (
  SELECT user_id, event_id, event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) AS tsec
  FROM events),
scored AS (
  SELECT event_type,
    COALESCE(MAX(tsec) OVER (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), tsec) - tsec AS late_s
  FROM e)
SELECT event_type, COUNT(*) AS n_events,
  CAST(SUM(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_order,
  CAST(SUM(CASE WHEN late_s > {events.LATE_WATERMARK_MIN * 60} THEN 1 ELSE 0 END)
       AS BIGINT) AS n_dropped_by_watermark,
  MAX(late_s) AS max_late_s
FROM scored GROUP BY event_type ORDER BY event_type""",
    ),
    "quantile_regression": QuerySpec(
        corpus.q_quantile_regression,
        f"""WITH base AS MATERIALIZED (
  SELECT CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS DOUBLE) AS x,
    CAST(n_chars AS DOUBLE) AS y
  FROM documents),
st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
  CAST(SUM(CAST(x * x AS DECIMAL(38,1))) AS DOUBLE) AS sxx FROM base),
p0 AS (SELECT 0.0 AS a, {corpus.QR_B0} AS b, n, sxx FROM st),
"""
        + ",\n".join(
            f"""s{i} AS (
  SELECT CAST(SUM(CAST(CASE WHEN y - a - b * x < 0 THEN -{corpus.QR_TAU} ELSE {corpus.QR_TAU} END
         AS DECIMAL(38,1))) AS DOUBLE) AS sg,
    CAST(SUM(CAST((CASE WHEN y - a - b * x < 0 THEN -{corpus.QR_TAU} ELSE {corpus.QR_TAU} END) * x
         AS DECIMAL(38,1))) AS DOUBLE) AS sgx,
    MIN(a) AS a, MIN(b) AS b, MIN(n) AS n, MIN(sxx) AS sxx
  FROM base, p{i - 1}),
p{i} AS (
  SELECT ROUND(a + {corpus.QR_LR} * sg / n, 9) AS a,
    ROUND(b + {corpus.QR_LR} * sgx / sxx, 9) AS b, n, sxx
  FROM s{i})"""
            for i in range(1, corpus.QR_ROUNDS + 1)
        )
        + f"""
SELECT CAST(MIN(n) AS BIGINT) AS n_docs, MIN(a) AS intercept,
  MIN(b) AS chars_per_token,
  ROUND(CAST(SUM(CAST(ROUND({corpus.QR_TAU} * abs(y - a - b * x), 6) AS DECIMAL(38,6))) AS DOUBLE)
        / MIN(n), 6) AS mean_pinball_loss
FROM base, p{corpus.QR_ROUNDS}""",
    ),
    "spearman_trend": QuerySpec(
        profiling.q_spearman_trend,
        """WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
  FROM orders GROUP BY 1),
ranked AS (
  SELECT 2 * ROW_NUMBER() OVER (ORDER BY day) AS u,
    2 * RANK() OVER (ORDER BY rev) + COUNT(*) OVER (PARTITION BY rev) - 1 AS v
  FROM daily),
m AS (
  SELECT COUNT(*) AS n,
    CAST(SUM(CAST(u AS DECIMAL(38,0))) AS DOUBLE) AS su,
    CAST(SUM(CAST(v AS DECIMAL(38,0))) AS DOUBLE) AS sv,
    CAST(SUM(CAST(u * v AS DECIMAL(38,0))) AS DOUBLE) AS suv,
    CAST(SUM(CAST(u * u AS DECIMAL(38,0))) AS DOUBLE) AS suu,
    CAST(SUM(CAST(v * v AS DECIMAL(38,0))) AS DOUBLE) AS svv
  FROM ranked)
SELECT n AS n_days,
  ROUND((n * suv - su * sv)
        / (sqrt(n * suu - su * su) * sqrt(n * svv - sv * sv)), 6) AS spearman_rho
FROM m""",
    ),
    "chi_square_independence": QuerySpec(
        profiling.q_chi_square_independence,
        """WITH cells AS (
  SELECT c_mktsegment AS seg, c_nationkey AS nat, CAST(COUNT(*) AS BIGINT) AS o
  FROM customer GROUP BY 1, 2),
r AS (SELECT seg, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
c AS (SELECT nat, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
t AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
grid AS (SELECT r.seg, c.nat, rt, ct, n FROM r, c, t),
filled AS (
  SELECT grid.seg, grid.nat, rt, ct, n, COALESCE(o, 0) AS o
  FROM grid LEFT JOIN cells ON grid.seg = cells.seg AND grid.nat = cells.nat),
s AS (
  SELECT seg, nat, n, o,
    CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE) AS e
  FROM filled),
agg AS (
  SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
    CAST(COUNT(DISTINCT seg) AS BIGINT) AS n_segments,
    CAST(COUNT(DISTINCT nat) AS BIGINT) AS n_nations,
    ROUND(CAST(SUM(CAST(ROUND((o - e) * (o - e) / e, 6) AS DECIMAL(38,6))) AS DOUBLE), 6)
      AS chi_square
  FROM s)
SELECT n_customers, n_segments, n_nations,
  CAST((n_segments - 1) * (n_nations - 1) AS BIGINT) AS dof,
  chi_square,
  ROUND(sqrt(chi_square / (CAST(n_customers AS DOUBLE)
        * CAST(LEAST(n_segments - 1, n_nations - 1) AS DOUBLE))), 6) AS cramers_v
FROM agg""",
    ),
    "hits_hubs_authorities": QuerySpec(
        linkage.q_hits_hubs_authorities,
        f"""WITH cp AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
deg AS MATERIALIZED (SELECT p, COUNT(*) AS deg FROM cp GROUP BY p),
edges AS MATERIALIZED (
  SELECT cp.c, cp.p FROM cp JOIN deg USING (p)
  WHERE deg BETWEEN 2 AND {linkage.AA_MAX_DEG}),
h0 AS (SELECT DISTINCT c, CAST(1 AS DECIMAL(18,9)) AS h FROM edges),
"""
        + ",\n".join(
            f"""ar{i} AS MATERIALIZED (
  SELECT p, CAST(SUM(CAST(h AS DECIMAL(38,9))) AS DOUBLE) AS ar
  FROM edges JOIN h{i - 1} USING (c) GROUP BY p),
am{i} AS (SELECT MAX(ar) AS am FROM ar{i}),
a{i} AS MATERIALIZED (
  SELECT p, CAST(ROUND(ar / am, 9) AS DECIMAL(18,9)) AS a FROM ar{i}, am{i}),
hr{i} AS MATERIALIZED (
  SELECT c, CAST(SUM(CAST(a AS DECIMAL(38,9))) AS DOUBLE) AS hr
  FROM edges JOIN a{i} USING (p) GROUP BY c),
hm{i} AS (SELECT MAX(hr) AS hm FROM hr{i}),
h{i} AS MATERIALIZED (
  SELECT c, CAST(ROUND(hr / hm, 9) AS DECIMAL(18,9)) AS h FROM hr{i}, hm{i})"""
            for i in range(1, linkage.HITS_ROUNDS + 1)
        )
        + f"""
SELECT p AS partkey, CAST(a AS DOUBLE) AS authority, CAST(deg AS BIGINT) AS deg
FROM a{linkage.HITS_ROUNDS} JOIN deg USING (p)
ORDER BY authority DESC, partkey LIMIT {linkage.HITS_TOP}""",
    ),
    "lsh_recall_audit": QuerySpec(
        dedup.q_lsh_recall_audit,
        _minhash_cte()
        + _lsh_banded_sql()
        + f""",
samp AS (
  SELECT doc_id FROM documents
  WHERE ('0x' || substr(md5('{dedup.RECALL_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 2))::INT
        < LEAST(256, GREATEST(1, CAST(
            ({256 * dedup.RECALL_TARGET} + (SELECT COUNT(*) FROM documents) - 1)
            // (SELECT COUNT(*) FROM documents) AS INT)))),
t AS (
  SELECT sh.doc_id, sh.s
  FROM sh JOIN samp ON sh.doc_id = samp.doc_id),
ex AS (SELECT doc_id, unnest(s) AS g FROM t),
tc AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id),
truth AS (
  SELECT doc_a, doc_b
  FROM tc JOIN t ta ON doc_a = ta.doc_id JOIN t tb ON doc_b = tb.doc_id
  WHERE ROUND(len(list_intersect(ta.s, tb.s))
          / len(list_distinct(list_concat(ta.s, tb.s))), 4) >= {dedup.JACCARD_T}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM banded x
  JOIN banded y ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
  JOIN samp sa ON x.doc_id = sa.doc_id
  JOIN samp sb ON y.doc_id = sb.doc_id),
f AS (SELECT COUNT(*) AS nf FROM truth JOIN cand USING (doc_a, doc_b))
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM samp) AS n_sample_docs,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true_pairs,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidate_pairs,
  (SELECT CAST(nf AS BIGINT) FROM f) AS n_found,
  ROUND((SELECT nf FROM f) / (SELECT COUNT(*) FROM truth), 6) AS recall,
  ROUND((SELECT nf FROM f) / (SELECT COUNT(*) FROM cand), 6) AS precision""",
    ),
    "negative_samples": QuerySpec(
        sampling.q_negative_samples,
        f"""WITH nd AS (SELECT GREATEST(COUNT(*), 1) AS n FROM documents),
anchors AS (
  SELECT doc_id AS anchor_id, source AS anchor_source FROM documents, nd
  WHERE ('0x' || substr(md5('{sampling.NEG_SEED}a:' || CAST(doc_id AS VARCHAR)), 1, 2))::INT
        < LEAST(256, GREATEST(1,
            CAST(({256 * sampling.NEG_ANCHOR_TARGET} + n - 1) // n AS INT)))),
pool AS (
  SELECT doc_id AS neg_id, source AS neg_source FROM documents, nd
  WHERE ('0x' || substr(md5('{sampling.NEG_SEED}p:' || CAST(doc_id AS VARCHAR)), 1, 2))::INT
        < LEAST(256, GREATEST(1,
            CAST(({256 * sampling.NEG_POOL_TARGET} + n - 1) // n AS INT)))),
pairs AS (
  SELECT anchor_id, anchor_source, neg_id, neg_source,
    ('0x' || substr(md5('{sampling.NEG_SEED}:' || CAST(anchor_id AS VARCHAR)
                        || ':' || CAST(neg_id AS VARCHAR)), 1, 12))::BIGINT AS h
  FROM anchors, pool
  WHERE neg_source <> anchor_source AND neg_id <> anchor_id),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY h, neg_id) AS rank
  FROM pairs)
SELECT anchor_id, anchor_source, CAST(rank AS INT) AS rank, neg_id, neg_source
FROM r WHERE rank <= {sampling.NEG_K}""",
    ),
    "stl_decomposition": QuerySpec(
        profiling.q_stl_decomposition,
        f"""WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
  FROM orders GROUP BY 1),
dt AS (
  SELECT dayofweek(day) + 1 AS dow,
    CAST(ROUND(rev - ROUND(CAST(SUM(CAST(rev AS DECIMAL(38,0))) OVER w AS DOUBLE)
                           / COUNT(*) OVER w, 6), 6) AS DECIMAL(38,6)) AS d
  FROM daily
  WINDOW w AS (ORDER BY day
               ROWS BETWEEN {profiling.STL_HALF} PRECEDING
                        AND {profiling.STL_HALF} FOLLOWING)),
per_dow AS (
  SELECT dow, COUNT(*) AS n_days,
    ROUND(CAST(SUM(d) AS DOUBLE) / COUNT(*), 6) AS seasonal_cents,
    SUM(d) AS sd,
    SUM(CAST(d * d AS DECIMAL(38,12))) AS sdd
  FROM dt GROUP BY 1)
SELECT CAST(dow AS INT) AS dow, n_days, seasonal_cents,
  ROUND(
    (CAST(SUM(CAST(ROUND((CAST(sd AS DOUBLE) / n_days) * (CAST(sd AS DOUBLE) / n_days)
                          * n_days, 6) AS DECIMAL(38,6))) OVER () AS DOUBLE)
     / CAST(SUM(n_days) OVER () AS DOUBLE))
    / (CAST(SUM(sdd) OVER () AS DOUBLE) / CAST(SUM(n_days) OVER () AS DOUBLE)
       - (CAST(SUM(sd) OVER () AS DOUBLE) / CAST(SUM(n_days) OVER () AS DOUBLE))
         * (CAST(SUM(sd) OVER () AS DOUBLE) / CAST(SUM(n_days) OVER () AS DOUBLE))),
    6) AS seasonal_share
FROM per_dow ORDER BY dow""",
    ),
    "exact_median_refinement": QuerySpec(
        profiling.q_exact_median_refinement,
        """WITH v AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
n AS (SELECT COUNT(*) AS n, CAST((COUNT(*) + 1) // 2 AS BIGINT) AS k FROM v),
r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM v)
SELECT CAST(n.n AS BIGINT) AS n_orders,
  CAST(r.v AS BIGINT) AS median_cents,
  ROUND(r.v / 100.0, 2) AS median_usd
FROM r, n WHERE r.rn = n.k""",
    ),
    "target_encoding_oof": QuerySpec(
        curation.q_target_encoding_oof,
        f"""WITH cells AS (
  SELECT o_orderpriority AS category,
    CAST(('0x' || substr(md5('{curation.TE_SEED}:' || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
         % {curation.TE_K} AS INT) AS fold,
    COUNT(*) AS n,
    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS s
  FROM orders GROUP BY 1, 2),
tot AS (SELECT category, SUM(n) AS n_cat, SUM(s) AS s_cat FROM cells GROUP BY 1)
SELECT category, fold, CAST(n AS BIGINT) AS n_in_fold,
  ROUND(CAST(s_cat - s AS DOUBLE) / (n_cat - n) / 100.0, 6) AS oof_mean_usd
FROM cells JOIN tot USING (category) ORDER BY category, fold""",
    ),
    "weighted_sample_topk": QuerySpec(
        sampling.q_weighted_sample_topk,
        f"""WITH h AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
    ('0x' || substr(md5('{sampling.WSAMPLE_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS hv
  FROM documents),
k AS (
  SELECT doc_id, source, n_chars,
    ROUND(CAST(ROUND(ln((hv + 1) / 4294967296.0), 9) AS DECIMAL(18,9))
          / CAST(n_chars AS DOUBLE), 12) AS es_key
  FROM h),
r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY es_key DESC, doc_id) AS rank FROM k)
SELECT CAST(rank AS INT) AS rank, doc_id, source, n_chars, es_key
FROM r WHERE rank <= {sampling.WSAMPLE_K}""",
    ),
    "nation_revenue_ols": QuerySpec(
        profiling.q_nation_revenue_ols,
        """WITH base AS (
  SELECT n.n_name,
    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS x,
    CAST(round(o_totalprice * 100) AS BIGINT) AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey),
m AS (
  SELECT n_name, COUNT(*) AS n,
    CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy
  FROM base GROUP BY 1)
SELECT n_name, n AS n_orders,
  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx) / 100.0, 6) AS slope_usd_per_day,
  ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n / 100.0, 4)
    AS intercept_usd,
  ROUND(((n * sxy - sx * sy) / sqrt(n * sxx - sx * sx))
        * ((n * sxy - sx * sy) / sqrt(n * sxx - sx * sx)) / (n * syy - sy * sy), 6) AS r_sq
FROM m ORDER BY n_name""",
    ),
    "cohort_ltv": QuerySpec(
        events.q_cohort_ltv,
        """WITH f AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY 1),
buys AS (
  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk, value
  FROM events WHERE event_type = 'purchase'),
cells AS (
  SELECT cohort_week, CAST(datediff('day', cohort_week, wk) // 7 AS INT) AS age_week,
    COUNT(*) AS n_purchases,
    SUM(CAST(round(value * 100) AS BIGINT)) AS cents
  FROM buys JOIN f USING (user_id) GROUP BY 1, 2),
sizes AS (SELECT cohort_week, COUNT(*) AS cohort_users FROM f GROUP BY 1)
SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week, age_week,
  CAST(cohort_users AS BIGINT) AS cohort_users,
  CAST(n_purchases AS BIGINT) AS n_purchases,
  ROUND(SUM(cents) OVER w / 100.0, 2) AS cum_revenue_usd,
  ROUND(SUM(cents) OVER w / cohort_users / 100.0, 4) AS ltv_per_user_usd
FROM cells JOIN sizes USING (cohort_week)
WINDOW w AS (PARTITION BY cohort_week ORDER BY age_week ROWS UNBOUNDED PRECEDING)
ORDER BY cohort_week, age_week""",
    ),
    "event_trigrams": QuerySpec(
        events.q_event_trigrams,
        f"""WITH t AS (
  SELECT event_type AS e1,
    lead(event_type, 1) OVER w AS e2,
    lead(event_type, 2) OVER w AS e3
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT e1 || '>' || e2 || '>' || e3 AS path, COUNT(*) AS n
FROM t WHERE e3 IS NOT NULL
GROUP BY 1 ORDER BY n DESC, path LIMIT {events.TRIGRAM_TOP}""",
    ),
    "ams_f2_sketch": QuerySpec(
        text.q_ams_f2_sketch,
        f"""WITH tok AS (SELECT unnest({_TOKS}) AS token FROM documents),
c AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY 1),
g AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
    COUNT(*) AS n_distinct,
    CAST(SUM(CAST(c * c AS DECIMAL(38,0))) AS BIGINT) AS exact_f2,
    {", ".join(
        f"CAST(SUM(CAST(c * ((('0x' || substr(md5('{text.AMS_SEED}{j}:' || token), 1, 1))::INT % 2) * 2 - 1) AS DECIMAL(38,0))) AS BIGINT) AS x{j}"
        for j in range(text.AMS_K)
    )}
  FROM c),
e AS (
  SELECT n_tokens, n_distinct, exact_f2,
    ROUND(CAST(({" + ".join(f"x{j} * x{j}" for j in range(text.AMS_K))}) AS DOUBLE)
          / {text.AMS_K}, 4) AS ams_f2
  FROM g)
SELECT n_tokens, n_distinct, exact_f2, ams_f2,
  ROUND(abs(ams_f2 - exact_f2) / exact_f2, 6) AS rel_error
FROM e""",
    ),
    "l_diversity_audit": QuerySpec(
        privacy.q_l_diversity_audit,
        f"""WITH cl AS (
  SELECT c_nationkey AS nation, c_mktsegment AS segment,
    CAST(floor(c_acctbal / {privacy.ACCTBAL_BUCKET}) AS INT) AS bal_bucket,
    COUNT(*) AS n, COUNT(DISTINCT c_acctbal) AS l
  FROM customer GROUP BY 1, 2, 3)
SELECT COUNT(*) AS n_classes,
  CAST(MIN(l) AS BIGINT) AS min_diversity,
  CAST(SUM(CASE WHEN l < {privacy.L_DIV} THEN 1 ELSE 0 END) AS BIGINT) AS classes_below_l,
  CAST(SUM(CASE WHEN l < {privacy.L_DIV} THEN n ELSE 0 END) AS BIGINT) AS records_at_risk,
  ROUND(SUM(CASE WHEN l < {privacy.L_DIV} THEN n ELSE 0 END) / SUM(n) * 100, 4)
    AS at_risk_pct
FROM cl""",
    ),
    "binary_segmentation_split": QuerySpec(
        profiling.q_binary_segmentation_split,
        """WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
  FROM orders GROUP BY 1),
pre AS (
  SELECT day,
    ROW_NUMBER() OVER (ORDER BY day) AS k,
    SUM(CAST(rev AS DECIMAL(38,0))) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS sk,
    COUNT(*) OVER () AS n,
    SUM(CAST(rev AS DECIMAL(38,0))) OVER () AS sn
  FROM daily),
sc AS (
  SELECT day, k, n, sk, sn,
    ROUND(CAST((n * sk - k * sn) * (n * sk - k * sn) AS DOUBLE)
          / (CAST(k * (n - k) AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS gain
  FROM pre WHERE k < n),
b AS (SELECT * FROM sc ORDER BY gain DESC, day LIMIT 1)
SELECT CAST(n AS BIGINT) AS n_days,
  strftime(day, '%Y-%m-%d') AS split_day,
  CAST(k AS INT) AS days_before,
  ROUND(CAST(sk AS DOUBLE) / k / 100.0, 2) AS left_mean_usd,
  ROUND(CAST(sn - sk AS DOUBLE) / (n - k) / 100.0, 2) AS right_mean_usd,
  ROUND(gain / 10000.0, 2) AS gain_usd_sq
FROM b""",
    ),
    "ipw_effect": QuerySpec(
        events.q_ipw_effect,
        f"""WITH spend AS (
  SELECT o_custkey, SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents,
    COUNT(*) AS n_orders
  FROM orders GROUP BY 1),
base AS (
  SELECT cents,
    CAST(('0x' || substr(md5('{events.IPW_SEED}:' || CAST(o_custkey AS VARCHAR)), 1, 2))::INT
         < (CASE WHEN n_orders >= {events.IPW_HEAVY_ORDERS} THEN {events.IPW_HEAVY_SLOTS}
                 ELSE {events.IPW_LIGHT_SLOTS} END)
         AS INT) AS t,
    (CASE WHEN n_orders >= {events.IPW_HEAVY_ORDERS} THEN {events.IPW_HEAVY_SLOTS}
          ELSE {events.IPW_LIGHT_SLOTS} END) / 256.0 AS e
  FROM spend),
g AS (
  SELECT COUNT(*) AS n_users,
    CAST(SUM(t) AS BIGINT) AS n_treated,
    SUM(CASE WHEN t = 1 THEN cents ELSE 0 END) AS st,
    SUM(CASE WHEN t = 0 THEN cents ELSE 0 END) AS sc,
    CAST(SUM(CAST(ROUND(t * cents / e, 9) AS DECIMAL(28,9))) AS DOUBLE) AS swt,
    CAST(SUM(CAST(ROUND((1 - t) * cents / (1 - e), 9) AS DECIMAL(28,9))) AS DOUBLE) AS swc,
    CAST(SUM(CAST(ROUND(t / e, 9) AS DECIMAL(28,9))) AS DOUBLE) AS nwt,
    CAST(SUM(CAST(ROUND((1 - t) / (1 - e), 9) AS DECIMAL(28,9))) AS DOUBLE) AS nwc
  FROM base)
SELECT n_users, n_treated,
  ROUND((CAST(st AS DOUBLE) / n_treated
         - CAST(sc AS DOUBLE) / (n_users - n_treated)) / 100.0, 4) AS naive_diff_usd,
  ROUND((swt / nwt - swc / nwc) / 100.0, 4) AS ipw_ate_usd
FROM g""",
    ),
    "trimmed_mean_chars": QuerySpec(
        corpus.q_trimmed_mean_chars,
        """WITH ranked AS (
  SELECT source, CAST(n_chars AS BIGINT) AS x,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS r,
    COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents),
raw AS (
  SELECT source, COUNT(*) AS n_docs,
    ROUND(CAST(SUM(CAST(n_chars AS DECIMAL(38,0))) AS DOUBLE) / COUNT(*), 4) AS raw_mean
  FROM documents GROUP BY 1),
tr AS (
  SELECT source, COUNT(*) AS n_kept,
    ROUND(CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) / COUNT(*), 4) AS trimmed_mean
  FROM ranked WHERE 20 * r > n AND 20 * r <= 19 * n GROUP BY 1)
SELECT source, n_docs, CAST(n_kept AS BIGINT) AS n_kept, raw_mean, trimmed_mean
FROM raw LEFT JOIN tr USING (source) ORDER BY source""",
    ),
    "decile_lift_table": QuerySpec(
        relational.q_decile_lift_table,
        f"""WITH cust AS (
  SELECT o_custkey,
    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS score,
    MAX(CAST(o_orderpriority = '1-URGENT' AS INT)) AS resp
  FROM orders GROUP BY 1),
ranked AS (
  SELECT resp,
    CAST(ntile({relational.LIFT_DECILES})
         OVER (ORDER BY score DESC, o_custkey ASC) AS INT) AS decile
  FROM cust),
dec AS (
  SELECT decile, COUNT(*) AS n, CAST(SUM(resp) AS BIGINT) AS n_resp
  FROM ranked GROUP BY 1),
t AS (SELECT CAST(SUM(n_resp) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS base FROM dec)
SELECT decile, n, n_resp,
  ROUND(CAST(n_resp AS DOUBLE) / n, 6) AS response_rate,
  ROUND((CAST(n_resp AS DOUBLE) / n) / base, 6) AS lift,
  ROUND((CAST(SUM(n_resp) OVER w AS DOUBLE) / SUM(n) OVER w) / base, 6) AS cum_lift
FROM dec, t
WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
ORDER BY decile""",
    ),
    "kaplan_meier": QuerySpec(
        events.q_kaplan_meier,
        """WITH pu AS (
  SELECT v.user_id, v.vday,
    CASE WHEN p.pday >= v.vday THEN p.pday END AS cday
  FROM (SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS vday
        FROM events WHERE event_type = 'view' GROUP BY 1) v
  LEFT JOIN (SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS pday
             FROM events WHERE event_type = 'purchase' GROUP BY 1) p
    ON v.user_id = p.user_id),
en AS (SELECT vday AS day, COUNT(*) AS n_enter FROM pu GROUP BY 1),
cv AS (SELECT cday AS day, COUNT(*) AS d FROM pu WHERE cday IS NOT NULL GROUP BY 1),
days AS (
  SELECT COALESCE(en.day, cv.day) AS day,
    COALESCE(n_enter, 0) AS n_enter, COALESCE(d, 0) AS d
  FROM en FULL JOIN cv ON en.day = cv.day),
r AS (
  SELECT day, d,
    SUM(n_enter) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
      - COALESCE(SUM(d) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS n_risk
  FROM days),
k AS (
  SELECT day, d, n_risk,
    SUM(CASE WHEN d > 0 AND d < n_risk
             THEN CAST(ROUND(ln(1 - CAST(d AS DOUBLE) / n_risk), 9) AS DECIMAL(18,9)) END)
      OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS km_log
  FROM r)
SELECT strftime(day, '%Y-%m-%d') AS day, d, CAST(n_risk AS BIGINT) AS n_risk,
  ROUND(CAST(km_log AS DOUBLE), 8) AS km_log_survival
FROM k WHERE d > 0 ORDER BY day""",
    ),
    "mase_seasonal_naive": QuerySpec(
        profiling.q_mase_seasonal_naive,
        """WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
  FROM orders GROUP BY 1),
l AS (
  SELECT rev,
    lag(rev, 7) OVER (ORDER BY day) AS l7,
    lag(rev, 1) OVER (ORDER BY day) AS l1
  FROM daily),
g AS (
  SELECT COUNT(*) AS n_days_scored,
    CAST(SUM(CAST(abs(rev - l7) AS DECIMAL(38,0))) AS BIGINT) AS e7,
    CAST(SUM(CAST(abs(rev - l1) AS DECIMAL(38,0))) AS BIGINT) AS e1
  FROM l WHERE l7 IS NOT NULL)
SELECT CAST(n_days_scored AS BIGINT) AS n_days_scored,
  ROUND(CAST(e7 AS DOUBLE) / n_days_scored / 100.0, 2) AS mae_seasonal_usd,
  ROUND(CAST(e1 AS DOUBLE) / n_days_scored / 100.0, 2) AS mae_naive_usd,
  ROUND(CAST(e7 AS DOUBLE) / e1, 6) AS mase
FROM g""",
    ),
    "matryoshka_recall": QuerySpec(
        similarity.q_matryoshka_recall,
        f"""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {similarity.MAT_Q}),
pairs AS (
  SELECT qid, e.vec_id,
    ROUND({_dot_sql('v', 'qv')}
          / (sqrt({_dot_sql('v', 'v')}) * sqrt({_dot_sql('qv', 'qv')})), 6) AS cf,
    ROUND({_dot_sql('v', 'qv', similarity.MAT_DIM)}
          / (sqrt({_dot_sql('v', 'v', similarity.MAT_DIM)})
             * sqrt({_dot_sql('qv', 'qv', similarity.MAT_DIM)})), 6) AS ch
  FROM e, q WHERE e.vec_id <> q.qid),
ex AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cf DESC, vec_id) AS r
    FROM pairs) WHERE r <= {similarity.MAT_K}),
ap AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ch DESC, vec_id) AS r
    FROM pairs) WHERE r <= {similarity.MAT_K}),
h AS (SELECT COUNT(*) AS nh FROM ex JOIN ap USING (qid, vec_id))
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM q) AS n_queries,
  (SELECT CAST(nh AS BIGINT) FROM h) AS n_hits,
  ROUND((SELECT nh FROM h) / ({similarity.MAT_K} * (SELECT COUNT(*) FROM q)), 4)
    AS recall_at_5""",
    ),
    "personalized_pagerank": QuerySpec(
        dedup.q_personalized_pagerank,
        _minhash_cte()
        + _lsh_banded_sql()
        + f""",
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
edges AS (SELECT doc_a, doc_b FROM pairs UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs),
deg AS (SELECT doc_a, COUNT(*) AS deg FROM edges GROUP BY 1),
nd AS (SELECT GREATEST(COUNT(*), 1) AS n FROM documents),
seeds AS (
  SELECT doc_id FROM documents, nd
  WHERE ('0x' || substr(md5('ppr6:' || CAST(doc_id AS VARCHAR)), 1, 2))::INT
        < LEAST(256, GREATEST(1, CAST(({256 * dedup.PPR_TARGET} + n - 1) // n AS INT)))),
ns AS (SELECT GREATEST(COUNT(*), 1) AS s FROM seeds),
nodes AS (SELECT doc_a FROM deg UNION SELECT doc_id AS doc_a FROM seeds),
fl AS (
  SELECT nodes.doc_a, CASE WHEN seeds.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_seed
  FROM nodes LEFT JOIN seeds ON nodes.doc_a = seeds.doc_id),
p0 AS (
  SELECT doc_a, CASE WHEN is_seed = 1 THEN 1.0 / s ELSE 0.0 END AS pr, is_seed
  FROM fl, ns),
"""
        + ",\n".join(
            f"""w{i} AS (
  SELECT e.doc_a, CAST(SUM(CAST(rb.pr / db.deg AS DECIMAL(27,18))) AS DOUBLE) AS w
  FROM edges e JOIN p{i - 1} rb ON e.doc_b = rb.doc_a JOIN deg db ON e.doc_b = db.doc_a
  GROUP BY e.doc_a),
p{i} AS (
  SELECT fl.doc_a,
    {dedup.PPR_ALPHA} * (CASE WHEN fl.is_seed = 1 THEN 1.0 / s ELSE 0.0 END)
    + {1.0 - dedup.PPR_ALPHA} * COALESCE(w{i}.w, 0.0) AS pr,
    fl.is_seed
  FROM fl LEFT JOIN w{i} USING (doc_a), ns)"""
            for i in range(1, dedup.PPR_ITERS + 1)
        )
        + f"""
SELECT doc_a, ROUND(pr, 8) AS ppr, CAST(is_seed AS INT) AS is_seed
FROM p{dedup.PPR_ITERS} WHERE ROUND(pr, 8) > 0
ORDER BY ppr DESC, doc_a LIMIT {dedup.PPR_TOP}""",
    ),
    "cohens_kappa": QuerySpec(
        curation.q_cohens_kappa,
        f"""WITH med AS (SELECT quantile_cont(n_chars, 0.5) AS m FROM documents),
fp AS (SELECT doc_id, n_chars, md5({_NORM}) AS fp FROM documents),
cnt AS (SELECT fp, COUNT(*) AS n_copies FROM fp GROUP BY 1),
base AS (
  SELECT CAST(f.n_chars > m AS INT) AS a, CAST(c.n_copies = 1 AS INT) AS b
  FROM fp f JOIN cnt c USING (fp), med),
g AS (
  SELECT COUNT(*) AS n_docs,
    CAST(SUM(a * b) AS BIGINT) AS n11,
    CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
    CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
    CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
  FROM base),
k AS (
  SELECT n_docs, n11, n10, n01, n00,
    (n11 + n00) / CAST(n_docs AS DOUBLE) AS po,
    (n11 + n10) / CAST(n_docs AS DOUBLE) AS pa,
    (n11 + n01) / CAST(n_docs AS DOUBLE) AS pb
  FROM g)
SELECT n_docs, n11, n10, n01, n00,
  ROUND((po - (pa * pb + (1 - pa) * (1 - pb)))
        / (1 - (pa * pb + (1 - pa) * (1 - pb))), 6) AS kappa
FROM k""",
    ),
    "bpe_fertility_by_source": QuerySpec(
        text.q_bpe_fertility_by_source,
        _bpe_cte_sql()
        + f""",
pw AS (
  SELECT replace(repr, '|', '') AS w,
    len(string_split(trim(repr, '|'), '||')) AS n_tokens
  FROM r{text.BPE_ROUNDS}),
sw AS (
  SELECT source, word AS w, COUNT(*) AS freq FROM (
    SELECT source, unnest(string_split({_NORM}, ' ')) AS word FROM documents)
  WHERE length(word) BETWEEN 2 AND {text.BPE_MAX_WORD} GROUP BY 1, 2),
j AS (
  SELECT source, freq, n_tokens, length(w) AS n_chars FROM sw JOIN pw USING (w)),
g AS (
  SELECT source,
    CAST(SUM(freq) AS BIGINT) AS n_words,
    CAST(SUM(freq * n_tokens) AS BIGINT) AS n_tokens,
    CAST(SUM(freq * n_chars) AS BIGINT) AS n_chars
  FROM j GROUP BY 1)
SELECT source, n_words, n_tokens,
  ROUND(CAST(n_tokens AS DOUBLE) / n_words, 4) AS tokens_per_word,
  ROUND(CAST(n_chars AS DOUBLE) / n_tokens, 4) AS chars_per_token
FROM g ORDER BY source""",
    ),
    "join_size_estimate": QuerySpec(
        profiling.q_join_size_estimate,
        f"""WITH fe AS (
  SELECT CAST(user_id AS BIGINT) AS k, COUNT(*) AS c FROM events GROUP BY 1),
fo AS (
  SELECT CAST(o_custkey AS BIGINT) AS k, COUNT(*) AS c FROM orders GROUP BY 1),
se AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS e_keys, CAST(SUM(c) AS BIGINT) AS e_rows,
    {", ".join(
        f"CAST(SUM(CAST(c * ((('0x' || substr(md5('{profiling.AMS_JOIN_SEED}{j}:' || CAST(k AS VARCHAR)), 1, 1))::INT % 2) * 2 - 1) AS DECIMAL(38,0))) AS BIGINT) AS ex{j}"
        for j in range(profiling.AMS_JOIN_K)
    )}
  FROM fe),
so AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS o_keys, CAST(SUM(c) AS BIGINT) AS o_rows,
    {", ".join(
        f"CAST(SUM(CAST(c * ((('0x' || substr(md5('{profiling.AMS_JOIN_SEED}{j}:' || CAST(k AS VARCHAR)), 1, 1))::INT % 2) * 2 - 1) AS DECIMAL(38,0))) AS BIGINT) AS ox{j}"
        for j in range(profiling.AMS_JOIN_K)
    )}
  FROM fo),
ex AS (
  SELECT CAST(SUM(CAST(fe.c * fo.c AS DECIMAL(38,0))) AS BIGINT) AS exact_join_size
  FROM fe JOIN fo USING (k))
SELECT e_keys, e_rows, o_keys, o_rows, exact_join_size,
  ROUND(CAST(({" + ".join(f"ex{j} * ox{j}" for j in range(profiling.AMS_JOIN_K))}) AS DOUBLE)
        / {profiling.AMS_JOIN_K}, 4) AS ams_estimate,
  ROUND(abs(ROUND(CAST(({" + ".join(f"ex{j} * ox{j}" for j in range(profiling.AMS_JOIN_K))}) AS DOUBLE)
                  / {profiling.AMS_JOIN_K}, 4) - exact_join_size) / exact_join_size, 6)
    AS rel_error
FROM se, so, ex""",
    ),
    # --- round 7 additions ---------------------------------------------
    "t_closeness_audit": QuerySpec(
        privacy.q_t_closeness_audit,
        f"""WITH cells AS (
  SELECT c_nationkey AS nation, c_mktsegment AS segment,
    CAST(floor(c_acctbal / {privacy.ACCTBAL_BUCKET}) AS INT) AS sb, COUNT(*) AS c
  FROM customer GROUP BY 1, 2, 3),
ct AS (SELECT nation, segment, CAST(SUM(c) AS BIGINT) AS nc FROM cells GROUP BY 1, 2),
gl AS (SELECT sb, CAST(SUM(c) AS BIGINT) AS g FROM cells GROUP BY 1),
tot AS (SELECT CAST(SUM(g) AS BIGINT) AS n_total, COUNT(*) AS m_buckets FROM gl),
grid AS (
  SELECT ct.nation, ct.segment, gl.sb, ct.nc, gl.g, tot.n_total, tot.m_buckets,
    COALESCE(cells.c, 0) AS c
  FROM ct CROSS JOIN gl CROSS JOIN tot
  LEFT JOIN cells ON cells.nation = ct.nation AND cells.segment = ct.segment
    AND cells.sb = gl.sb),
cum AS (
  SELECT nation, segment, nc, n_total, m_buckets,
    abs(CAST(SUM(c) OVER w AS BIGINT) * n_total
        - CAST(SUM(g) OVER w AS BIGINT) * nc) AS num
  FROM grid
  WINDOW w AS (PARTITION BY nation, segment ORDER BY sb ROWS UNBOUNDED PRECEDING)),
pc AS (
  SELECT nation, segment, MAX(nc) AS nc, MAX(n_total) AS n_total,
    MAX(m_buckets) AS m_buckets, CAST(SUM(num) AS BIGINT) AS emd_num
  FROM cum GROUP BY 1, 2),
pe AS (
  SELECT nc,
    ROUND(CAST(emd_num AS DOUBLE)
          / CAST(nc * n_total * (m_buckets - 1) AS DOUBLE), 9) AS emd
  FROM pc)
SELECT COUNT(*) AS n_classes,
  CAST(SUM(CASE WHEN emd > {privacy.T_CLOSE} THEN 1 ELSE 0 END) AS BIGINT) AS classes_above_t,
  CAST(SUM(CASE WHEN emd > {privacy.T_CLOSE} THEN nc ELSE 0 END) AS BIGINT) AS records_above_t,
  ROUND(MAX(emd), 9) AS max_emd,
  ROUND(CAST(SUM(CAST(emd AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 9) AS avg_emd
FROM pe""",
    ),
    "log_rank_test": QuerySpec(
        events.q_log_rank_test,
        """WITH pu AS (
  SELECT v.user_id, v.vday,
    CASE WHEN p.pday >= v.vday THEN p.pday END AS cday,
    CASE WHEN ('0x' || substr(md5('ab1:' || CAST(v.user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
         THEN 'A' ELSE 'B' END AS arm
  FROM (SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS vday
        FROM events WHERE event_type = 'view' GROUP BY 1) v
  LEFT JOIN (SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS pday
             FROM events WHERE event_type = 'purchase' GROUP BY 1) p
    ON v.user_id = p.user_id),
en AS (SELECT vday AS day,
  SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS ea,
  SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS eb
  FROM pu GROUP BY 1),
cv AS (SELECT cday AS day,
  SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS da,
  SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS db
  FROM pu WHERE cday IS NOT NULL GROUP BY 1),
days AS (
  SELECT COALESCE(en.day, cv.day) AS day,
    COALESCE(ea, 0) AS ea, COALESCE(eb, 0) AS eb,
    COALESCE(da, 0) AS da, COALESCE(db, 0) AS db
  FROM en FULL JOIN cv ON en.day = cv.day),
r AS (
  SELECT day, da, db,
    CAST(SUM(ea) OVER w AS BIGINT) - COALESCE(CAST(SUM(da) OVER wp AS BIGINT), 0) AS na,
    CAST(SUM(eb) OVER w AS BIGINT) - COALESCE(CAST(SUM(db) OVER wp AS BIGINT), 0) AS nb
  FROM days
  WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING),
    wp AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
t AS (
  SELECT da,
    CAST(ROUND(CAST(da + db AS DOUBLE) * CAST(na AS DOUBLE) / CAST(na + nb AS DOUBLE), 9)
      AS DECIMAL(18,9)) AS et,
    CAST(ROUND(CAST(da + db AS DOUBLE) * CAST(na AS DOUBLE) / CAST(na + nb AS DOUBLE)
               * CAST(nb AS DOUBLE) / CAST(na + nb AS DOUBLE)
               * (CAST(na + nb AS DOUBLE) - CAST(da + db AS DOUBLE))
               / (CAST(na + nb AS DOUBLE) - 1.0), 9) AS DECIMAL(18,9)) AS vt
  FROM r WHERE da + db > 0 AND na + nb > 1),
g AS (SELECT CAST(SUM(da) AS BIGINT) AS observed_a,
  CAST(SUM(et) AS DOUBLE) AS expected_a,
  CAST(SUM(vt) AS DOUBLE) AS variance FROM t)
SELECT observed_a, ROUND(expected_a, 6) AS expected_a,
  ROUND(variance, 6) AS variance,
  ROUND((CAST(observed_a AS DOUBLE) - expected_a)
        * (CAST(observed_a AS DOUBLE) - expected_a) / variance, 6) AS chi_square
FROM g""",
    ),
    "cliffs_delta": QuerySpec(
        profiling.q_cliffs_delta,
        """WITH two AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS is_a
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
by_val AS (SELECT cents, COUNT(*) AS c_all, CAST(SUM(is_a) AS BIGINT) AS c_a
  FROM two GROUP BY 1),
ranked AS (SELECT cents, c_all, c_a,
  COALESCE(SUM(c_all) OVER (ORDER BY cents
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_less
  FROM by_val),
agg AS (SELECT CAST(SUM(c_a) AS BIGINT) AS n_urgent,
  CAST(SUM(c_all) - SUM(c_a) AS BIGINT) AS n_low,
  SUM(c_a * (cum_less + (c_all + 1) / 2.0)) AS r1
  FROM ranked)
SELECT n_urgent, n_low,
  r1 - (n_urgent * (n_urgent + 1)) / 2.0 AS u_statistic,
  ROUND((2.0 * (r1 - (n_urgent * (n_urgent + 1)) / 2.0)
         - CAST(n_urgent * n_low AS DOUBLE)) / CAST(n_urgent * n_low AS DOUBLE), 6)
    AS cliffs_delta
FROM agg""",
    ),
    "degree_assortativity": QuerySpec(
        linkage.q_degree_assortativity,
        f"""WITH cp AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
deg AS (SELECT p, COUNT(*) AS deg FROM cp GROUP BY 1),
cpr AS (SELECT cp.c, cp.p FROM cp JOIN deg USING (p)
  WHERE deg BETWEEN 2 AND {linkage.AA_MAX_DEG}),
ed AS (SELECT DISTINCT a.c AS c1, b.c AS c2
  FROM cpr a JOIN cpr b ON a.p = b.p AND a.c < b.c),
cd AS (SELECT c, COUNT(*) AS d FROM
  (SELECT c1 AS c FROM ed UNION ALL SELECT c2 FROM ed) GROUP BY 1),
bt AS (SELECT x.d AS dx, y.d AS dy
  FROM ed JOIN cd x ON ed.c1 = x.c JOIN cd y ON ed.c2 = y.c),
sym AS (SELECT dx AS x, dy AS y FROM bt UNION ALL SELECT dy, dx FROM bt),
g AS (SELECT COUNT(*) AS m2, CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
  SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx,
  SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS syy,
  SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sxy FROM sym)
SELECT CAST(m2 // 2 AS BIGINT) AS n_edges,
  ROUND((CAST(m2 AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / sqrt((CAST(m2 AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * (CAST(m2 AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
        6) AS assortativity
FROM g""",
    ),
    "bfs_reachability_probe": QuerySpec(
        linkage.q_bfs_reachability_probe,
        f"""WITH cp AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
deg AS (SELECT p, COUNT(*) AS deg FROM cp GROUP BY 1),
cpr AS (SELECT cp.c, cp.p FROM cp JOIN deg USING (p)
  WHERE deg BETWEEN 2 AND {linkage.AA_MAX_DEG}),
und AS MATERIALIZED (SELECT DISTINCT a.c AS c1, b.c AS c2
  FROM cpr a JOIN cpr b ON a.p = b.p AND a.c <> b.c),
nodes AS (SELECT DISTINCT c1 AS c FROM und),
nn AS (SELECT GREATEST(COUNT(*), 1) AS n FROM nodes),
probes AS MATERIALIZED (
  SELECT c AS probe FROM nodes, nn
  WHERE ('0x' || substr(md5('bfs7:' || CAST(c AS VARCHAR)), 1, 2))::INT
        < LEAST(256, GREATEST(1, CAST(({256 * linkage.BFS_PROBE_TARGET} + n - 1) // n AS INT)))),
v0 AS MATERIALIZED (SELECT probe, probe AS c FROM probes),
"""
        + ",\n".join(
            f"""f{k} AS MATERIALIZED (
  SELECT probe, c FROM (
    SELECT DISTINCT f.probe, e.c2 AS c FROM f{k - 1} f JOIN und e ON f.c = e.c1) s
  ANTI JOIN v{k - 1} USING (probe, c)),
v{k} AS MATERIALIZED (SELECT * FROM v{k - 1} UNION ALL SELECT * FROM f{k}),
h{k} AS (SELECT probe, {k} AS hop, CAST(COUNT(*) AS BIGINT) AS n_new FROM f{k} GROUP BY 1)""".replace(
                "f0 f", "v0 f"
            )
            for k in range(1, linkage.BFS_HOPS + 1)
        )
        + f""",
un AS ({" UNION ALL ".join(f"SELECT * FROM h{k}" for k in range(1, linkage.BFS_HOPS + 1))}),
cum AS (SELECT probe, CAST(COUNT(*) - 1 AS BIGINT) AS total_reach
  FROM v{linkage.BFS_HOPS} GROUP BY 1)
SELECT p.probe, CAST(COALESCE(u.hop, 1) AS INT) AS hop,
  COALESCE(u.n_new, 0) AS n_new,
  COALESCE(cum.total_reach, 0) AS total_reach
FROM probes p LEFT JOIN un u ON p.probe = u.probe
LEFT JOIN cum ON p.probe = cum.probe
ORDER BY p.probe, hop""",
    ),
    "dedup_loss_weights": QuerySpec(
        pipeline.q_dedup_loss_weights,
        _minhash_cte().replace("WITH ", "WITH RECURSIVE ", 1)
        + _lsh_banded_sql()
        + """,
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
walk(doc, reach) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, w.reach FROM edges e JOIN walk w ON e.b = w.doc),
labels AS (SELECT doc AS doc_id, MIN(reach) AS cluster FROM walk GROUP BY doc),
sz AS (SELECT cluster, COUNT(*) AS s FROM labels GROUP BY 1),
cw AS (SELECT d.source, CAST(ROUND(1.0 / CAST(s AS DOUBLE), 9) AS DECIMAL(18,9)) AS w
  FROM documents d JOIN labels l ON d.doc_id = l.doc_id JOIN sz ON l.cluster = sz.cluster),
sw AS (SELECT d.source, CAST(1.0 AS DECIMAL(18,9)) AS w FROM documents d
  LEFT JOIN labels l ON d.doc_id = l.doc_id WHERE l.doc_id IS NULL),
al AS (SELECT * FROM cw UNION ALL SELECT * FROM sw)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
  ROUND(CAST(SUM(w) AS DOUBLE), 6) AS effective_docs,
  ROUND(ROUND(CAST(SUM(w) AS DOUBLE), 6) / CAST(COUNT(*) AS DOUBLE), 6) AS effective_ratio
FROM al GROUP BY 1 ORDER BY source""",
    ),
    "geo_nearest_neighbor": QuerySpec(
        geo.q_geo_nearest_neighbor,
        f"""WITH pts AS (
  SELECT c_custkey AS key,
    CAST(('0x' || substr(md5('{geo.GEO_SEED}:lat:' || CAST(c_custkey AS VARCHAR)), 1, 12))::BIGINT % 180000 AS DOUBLE) / 1000.0 - 90 AS lat,
    CAST(('0x' || substr(md5('{geo.GEO_SEED}:lon:' || CAST(c_custkey AS VARCHAR)), 1, 12))::BIGINT % 360000 AS DOUBLE) / 1000.0 - 180 AS lon
  FROM customer),
pc AS (SELECT key, lat, lon,
  CAST(floor((lat + 90) / {geo.CELL_DEG}) AS INT) AS cy,
  CAST(floor((lon + 180) / {geo.CELL_DEG}) AS INT) AS cx FROM pts),
nd AS (SELECT GREATEST(COUNT(*), 1) AS n FROM pc),
probes AS (
  SELECT key AS pkey, lat AS plat, lon AS plon, cy AS pcy, cx AS pcx FROM pc, nd
  WHERE ('0x' || substr(md5('{geo.GEO_SEED}:probe:' || CAST(key AS VARCHAR)), 1, 2))::INT
        < LEAST(256, GREATEST(1, CAST(({256 * geo.GEO_PROBE_TARGET} + n - 1) // n AS INT)))),
cells AS (
  SELECT pkey, plat, plon, pcy + dy.d AS cy, pcx + dx.d AS cx
  FROM probes, (VALUES (-1), (0), (1)) dy(d), (VALUES (-1), (0), (1)) dx(d)),
cand AS (
  SELECT c.pkey, c.plat, c.plon, p.key, p.lat, p.lon
  FROM cells c JOIN pc p ON c.cy = p.cy AND c.cx = p.cx WHERE p.key <> c.pkey),
sc AS (
  SELECT pkey, key,
    ROUND((plat - lat) * (plat - lat)
      + (ROUND(cos((plat + lat) / 2.0 * {geo.RAD_PER_DEG!r}), 9) * (plon - lon))
        * (ROUND(cos((plat + lat) / 2.0 * {geo.RAD_PER_DEG!r}), 9) * (plon - lon)), 9) AS d2
  FROM cand),
mn AS (SELECT pkey, MIN(d2) AS md FROM sc GROUP BY 1),
nn AS (
  SELECT sc.pkey, MIN(key) AS nn_key, MAX(sc.d2) AS d2, COUNT(*) AS n_tied
  FROM sc JOIN mn ON sc.pkey = mn.pkey AND sc.d2 = mn.md GROUP BY 1),
nc AS (SELECT pkey, COUNT(*) AS n_candidates FROM sc GROUP BY 1)
SELECT probes.pkey AS probe_key, nn.nn_key,
  ROUND(sqrt(nn.d2), 6) AS dist_deg,
  CAST(COALESCE(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
  nn.nn_key IS NOT NULL AS found
FROM probes LEFT JOIN nn ON probes.pkey = nn.pkey
LEFT JOIN nc ON probes.pkey = nc.pkey
ORDER BY probe_key""",
    ),
    "geo_density_grid": QuerySpec(
        geo.q_geo_density_grid,
        f"""WITH pts AS (
  SELECT c_custkey AS key,
    CAST(('0x' || substr(md5('{geo.GEO_SEED}:lat:' || CAST(c_custkey AS VARCHAR)), 1, 12))::BIGINT % 180000 AS DOUBLE) / 1000.0 - 90 AS lat,
    CAST(('0x' || substr(md5('{geo.GEO_SEED}:lon:' || CAST(c_custkey AS VARCHAR)), 1, 12))::BIGINT % 360000 AS DOUBLE) / 1000.0 - 180 AS lon
  FROM customer),
pc AS (SELECT key, lat, lon,
  CAST(floor((lat + 90) / {geo.CELL_DEG}) AS INT) AS cy,
  CAST(floor((lon + 180) / {geo.CELL_DEG}) AS INT) AS cx FROM pts)
SELECT cy, cx, CAST(COUNT(*) AS BIGINT) AS n_points,
  ROUND(CAST(SUM(CAST(lat AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS centroid_lat,
  ROUND(CAST(SUM(CAST(lon AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS centroid_lon
FROM pc GROUP BY 1, 2
ORDER BY n_points DESC, cy, cx LIMIT {geo.GEO_TOP_CELLS}""",
    ),
    "dedup_source_shift": QuerySpec(
        pipeline.q_dedup_source_shift,
        _minhash_cte().replace("WITH ", "WITH RECURSIVE ", 1)
        + _lsh_banded_sql()
        + """,
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
walk(doc, reach) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, w.reach FROM edges e JOIN walk w ON e.b = w.doc),
labels AS (SELECT doc AS doc_id, MIN(reach) AS cluster FROM walk GROUP BY doc),
m AS (
  SELECT l.cluster, d.doc_id, d.source,
    ROW_NUMBER() OVER (PARTITION BY l.cluster
      ORDER BY d.n_chars DESC, d.doc_id ASC) AS rk
  FROM documents d JOIN labels l ON d.doc_id = l.doc_id),
surv AS (
  SELECT d.doc_id, d.source FROM documents d
  LEFT JOIN labels l ON d.doc_id = l.doc_id WHERE l.doc_id IS NULL
  UNION ALL SELECT doc_id, source FROM m WHERE rk = 1),
bf AS (SELECT source, COUNT(*) AS n_before FROM documents GROUP BY 1),
af AS (SELECT source, COUNT(*) AS n_after FROM surv GROUP BY 1),
tt AS (SELECT CAST(SUM(n_before) AS BIGINT) AS nb FROM bf),
ta AS (SELECT CAST(SUM(n_after) AS BIGINT) AS na FROM af)
SELECT bf.source, CAST(n_before AS BIGINT) AS n_before,
  CAST(COALESCE(n_after, 0) AS BIGINT) AS n_after,
  ROUND(CAST(n_before AS DOUBLE) / CAST(nb AS DOUBLE), 6) AS share_before,
  ROUND(CAST(COALESCE(n_after, 0) AS DOUBLE) / CAST(na AS DOUBLE), 6) AS share_after,
  ROUND(CAST(COALESCE(n_after, 0) AS DOUBLE) / CAST(na AS DOUBLE)
        - CAST(n_before AS DOUBLE) / CAST(nb AS DOUBLE), 6) AS share_shift
FROM bf LEFT JOIN af USING (source), tt, ta ORDER BY bf.source""",
    ),
    "split_balance_ks": QuerySpec(
        pipeline.q_split_balance_ks,
        f"""WITH sp AS (
  SELECT n_chars AS v,
    ('0x' || substr(md5('{sampling.SPLIT_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
      < {sampling.TRAIN_PCT} AS s1
  FROM documents),
pv AS (
  SELECT v, SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS d1,
    SUM(CASE WHEN NOT s1 THEN 1 ELSE 0 END) AS d2
  FROM sp GROUP BY v),
cum AS (
  SELECT v, SUM(d1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c1,
    SUM(d2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c2
  FROM pv),
n AS (SELECT SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS n1,
        SUM(CASE WHEN NOT s1 THEN 1 ELSE 0 END) AS n2 FROM sp)
SELECT CAST(n1 AS BIGINT) AS n_train, CAST(n2 AS BIGINT) AS n_rest,
  ROUND(MAX(abs(c1 * n2 - c2 * n1)) / (n1 * n2), 6) AS ks_d
FROM cum, n GROUP BY n1, n2""",
    ),
    "topk_stability_audit": QuerySpec(
        advanced.q_topk_stability_audit,
        f"""WITH toks AS (
  SELECT ('0x' || substr(md5('{advanced.TOPK_STAB_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS half,
    unnest(string_split(lower(trim(text)), ' ')) AS token
  FROM (SELECT doc_id, regexp_replace(text, '\\s+', ' ', 'g') AS text FROM documents)),
counts AS (SELECT half, token, COUNT(*) AS n FROM toks GROUP BY 1, 2),
ra AS (SELECT token, rk AS rk0 FROM (
  SELECT token, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rk
  FROM counts WHERE half = 0) WHERE rk <= {advanced.TOPK_STAB_K}),
rb AS (SELECT token, rk AS rk1 FROM (
  SELECT token, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rk
  FROM counts WHERE half = 1) WHERE rk <= {advanced.TOPK_STAB_K}),
j AS (SELECT COALESCE(ra.token, rb.token) AS token, rk0, rk1
  FROM ra FULL JOIN rb ON ra.token = rb.token)
SELECT CAST({advanced.TOPK_STAB_K} AS BIGINT) AS k,
  CAST(SUM(CASE WHEN rk0 IS NOT NULL AND rk1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
  CAST(COUNT(*) AS BIGINT) AS n_union,
  ROUND(CAST(SUM(CASE WHEN rk0 IS NOT NULL AND rk1 IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*), 6) AS jaccard,
  CAST(SUM(CASE WHEN rk0 = rk1 THEN 1 ELSE 0 END) AS BIGINT) AS n_same_rank
FROM j""",
    ),
    "retention_halflife": QuerySpec(
        events.q_retention_halflife,
        f"""WITH active AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events),
cohort AS (SELECT user_id, MIN(week) AS cw FROM active GROUP BY user_id),
aged AS (SELECT CAST(date_diff('day', cw, week) // 7 AS INT) AS age
  FROM active JOIN cohort USING (user_id)),
base AS (SELECT COUNT(*) AS n_users FROM cohort),
pa AS (SELECT age, COUNT(*) AS active FROM aged GROUP BY 1),
rates AS (
  SELECT age, ROUND(ln(CAST(active AS DOUBLE) / CAST(n_users AS DOUBLE)), 9) AS y
  FROM pa, base WHERE age >= 1),
g AS (SELECT COUNT(*) AS k,
  CAST(SUM(CAST(ROUND(CAST(age AS DOUBLE), 12) AS DECIMAL(27,12))) AS DOUBLE) AS sx,
  CAST(SUM(CAST(ROUND(y, 12) AS DECIMAL(27,12))) AS DOUBLE) AS sy,
  CAST(SUM(CAST(ROUND(CAST(age AS DOUBLE) * CAST(age AS DOUBLE), 12) AS DECIMAL(27,12))) AS DOUBLE) AS sxx,
  CAST(SUM(CAST(ROUND(CAST(age AS DOUBLE) * y, 12) AS DECIMAL(27,12))) AS DOUBLE) AS sxy
  FROM rates)
SELECT CAST(k AS BIGINT) AS n_ages,
  ROUND((CAST(k AS DOUBLE) * sxy - sx * sy) / (CAST(k AS DOUBLE) * sxx - sx * sx), 6)
    AS decay_slope,
  ROUND({events.LN2!r} / -((CAST(k AS DOUBLE) * sxy - sx * sy)
                           / (CAST(k AS DOUBLE) * sxx - sx * sx)), 6) AS halflife_weeks
FROM g""",
    ),
    "price_elasticity_proxy": QuerySpec(
        profiling.q_price_elasticity_proxy,
        """WITH pp AS (
  SELECT l_partkey,
    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents,
    CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem GROUP BY 1 HAVING cents > 0 AND qty > 0),
xy AS (
  SELECT ROUND(ln(CAST(cents AS DOUBLE) / CAST(qty AS DOUBLE)), 9) AS x,
    ROUND(ln(CAST(qty AS DOUBLE)), 9) AS y
  FROM pp),
g AS (SELECT COUNT(*) AS k,
  CAST(SUM(CAST(ROUND(x, 12) AS DECIMAL(27,12))) AS DOUBLE) AS sx,
  CAST(SUM(CAST(ROUND(y, 12) AS DECIMAL(27,12))) AS DOUBLE) AS sy,
  CAST(SUM(CAST(ROUND(x * x, 12) AS DECIMAL(27,12))) AS DOUBLE) AS sxx,
  CAST(SUM(CAST(ROUND(y * y, 12) AS DECIMAL(27,12))) AS DOUBLE) AS syy,
  CAST(SUM(CAST(ROUND(x * y, 12) AS DECIMAL(27,12))) AS DOUBLE) AS sxy
  FROM xy)
SELECT CAST(k AS BIGINT) AS n_parts,
  ROUND((CAST(k AS DOUBLE) * sxy - sx * sy) / (CAST(k AS DOUBLE) * sxx - sx * sx), 6)
    AS elasticity,
  ROUND((CAST(k AS DOUBLE) * sxy - sx * sy) * (CAST(k AS DOUBLE) * sxy - sx * sy)
        / ((CAST(k AS DOUBLE) * sxx - sx * sx) * (CAST(k AS DOUBLE) * syy - sy * sy)), 6)
    AS r_squared
FROM g""",
    ),
    "difference_in_differences": QuerySpec(
        events.q_difference_in_differences,
        """WITH b AS (SELECT MIN(CAST(date_trunc('day', ts) AS DATE)) AS d0,
  MAX(CAST(date_trunc('day', ts) AS DATE)) AS d1 FROM events),
tg AS (
  SELECT user_id, event_type, value,
    CASE WHEN CAST(date_trunc('day', ts) AS DATE)
           > d0 + CAST(date_diff('day', d0, d1) // 2 AS INT) THEN 1 ELSE 0 END AS post
  FROM events, b),
pu AS (
  SELECT user_id, post,
    COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(27,6)) END),
             CAST(0 AS DECIMAL(27,6))) AS spend
  FROM tg GROUP BY 1, 2),
us AS (SELECT DISTINCT user_id FROM tg),
ua AS (SELECT user_id,
  CASE WHEN ('0x' || substr(md5('ab1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
       THEN 'A' ELSE 'B' END AS arm FROM us),
grid AS (SELECT user_id, arm, p.post FROM ua, (SELECT 0 AS post UNION ALL SELECT 1) p),
fl AS (SELECT arm, grid.post, COALESCE(pu.spend, CAST(0 AS DECIMAL(27,6))) AS spend
  FROM grid LEFT JOIN pu ON grid.user_id = pu.user_id AND grid.post = pu.post),
cl AS (SELECT arm, post, COUNT(*) AS n,
  CAST(SUM(spend) AS DOUBLE) / COUNT(*) AS mean_spend FROM fl GROUP BY 1, 2),
g AS (SELECT CAST(SUM(n) AS BIGINT) AS n_user_periods,
  MAX(CASE WHEN arm = 'A' AND post = 0 THEN mean_spend END) AS a_pre,
  MAX(CASE WHEN arm = 'A' AND post = 1 THEN mean_spend END) AS a_post,
  MAX(CASE WHEN arm = 'B' AND post = 0 THEN mean_spend END) AS b_pre,
  MAX(CASE WHEN arm = 'B' AND post = 1 THEN mean_spend END) AS b_post
  FROM cl)
SELECT n_user_periods,
  ROUND(a_pre, 4) AS a_pre, ROUND(a_post, 4) AS a_post,
  ROUND(b_pre, 4) AS b_pre, ROUND(b_post, 4) AS b_post,
  ROUND((a_post - a_pre) - (b_post - b_pre), 6) AS did_estimate
FROM g""",
    ),
    "wald_iv_estimate": QuerySpec(
        events.q_wald_iv_estimate,
        """WITH pu AS (
  SELECT user_id,
    COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(27,6)) END),
             CAST(0 AS DECIMAL(27,6))) AS y,
    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS d
  FROM events GROUP BY 1),
pz AS (SELECT y, d,
  CASE WHEN ('0x' || substr(md5('ab1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
       THEN 1 ELSE 0 END AS z FROM pu),
g AS (SELECT z, COUNT(*) AS n, CAST(SUM(y) AS DOUBLE) / COUNT(*) AS ybar,
  CAST(SUM(d) AS DOUBLE) / COUNT(*) AS dbar FROM pz GROUP BY 1),
z1 AS (SELECT n AS n1, ybar AS y1, dbar AS d1 FROM g WHERE z = 1),
z0 AS (SELECT n AS n0, ybar AS y0, dbar AS d0 FROM g WHERE z = 0)
SELECT CAST(n1 AS BIGINT) AS n_encouraged, CAST(n0 AS BIGINT) AS n_control,
  ROUND(y1 - y0, 6) AS itt_effect,
  ROUND(d1 - d0, 6) AS first_stage,
  ROUND((y1 - y0) / (d1 - d0), 6) AS wald_late
FROM z1, z0""",
    ),
    "regression_discontinuity": QuerySpec(
        events.q_regression_discontinuity,
        f"""WITH sp AS (SELECT o_custkey,
  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1),
b AS (
  SELECT x, COALESCE(y, 0) AS y, CASE WHEN x >= 0 THEN 1 ELSE 0 END AS side
  FROM (SELECT c_custkey,
          CAST(round(c_acctbal * 100) AS BIGINT) - {events.RD_CUTOFF_CENTS} AS x
        FROM customer) c
  LEFT JOIN sp ON c.c_custkey = sp.o_custkey
  WHERE x BETWEEN -{events.RD_BW_CENTS} AND {events.RD_BW_CENTS}),
g AS (SELECT side, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
  CAST(SUM(y) AS BIGINT) AS sy,
  SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx,
  SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sxy
  FROM b GROUP BY 1),
fit AS (SELECT side, CAST(n AS BIGINT) AS n,
  ROUND((CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))
        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        / 100.0, 4) AS icpt_usd,
  ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
        6) AS slope
  FROM g),
l AS (SELECT n AS n_left, icpt_usd AS intercept_left_usd, slope AS slope_left
  FROM fit WHERE side = 0),
r AS (SELECT n AS n_right, icpt_usd AS intercept_right_usd, slope AS slope_right
  FROM fit WHERE side = 1)
SELECT n_left, n_right, intercept_left_usd, intercept_right_usd,
  ROUND(intercept_right_usd - intercept_left_usd, 4) AS rd_effect_usd,
  slope_left, slope_right
FROM l, r""",
    ),
    "kendall_tau_daily": QuerySpec(
        profiling.q_kendall_tau_daily,
        """WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS x, COUNT(*) AS y
  FROM orders GROUP BY 1),
s AS (
  SELECT CAST(SUM(CAST(sign(CAST(b.x - a.x AS DOUBLE)) * sign(CAST(b.y - a.y AS DOUBLE)) AS BIGINT)) AS BIGINT) AS s
  FROM daily a JOIN daily b ON a.day < b.day),
tx AS (SELECT CAST(COALESCE(SUM(t * (t - 1)), 0) AS BIGINT) AS tx2
  FROM (SELECT COUNT(*) AS t FROM daily GROUP BY x)),
ty AS (SELECT CAST(COALESCE(SUM(t * (t - 1)), 0) AS BIGINT) AS ty2
  FROM (SELECT COUNT(*) AS t FROM daily GROUP BY y)),
n AS (SELECT COUNT(*) AS n FROM daily)
SELECT CAST(n AS BIGINT) AS n_days, s,
  ROUND(2.0 * CAST(s AS DOUBLE)
        / sqrt((CAST(n * (n - 1) AS DOUBLE) - CAST(tx2 AS DOUBLE))
               * (CAST(n * (n - 1) AS DOUBLE) - CAST(ty2 AS DOUBLE))), 6) AS tau_b
FROM s, tx, ty, n""",
    ),
    "token_burstiness": QuerySpec(
        corpus.q_token_burstiness,
        rf"""WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token FROM documents),
pd AS (SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY 1, 2),
pt AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
  CAST(SUM(c) AS BIGINT) AS cf,
  SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))) AS c2
  FROM pd GROUP BY 1),
nd AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT token, df, cf,
  ROUND(CAST(cf AS DOUBLE) / CAST(df AS DOUBLE), 6) AS mean_when_present,
  ROUND((CAST(c2 AS DOUBLE) / CAST(n_docs AS DOUBLE)
         - CAST(cf AS DOUBLE) / CAST(n_docs AS DOUBLE)
           * (CAST(cf AS DOUBLE) / CAST(n_docs AS DOUBLE)))
        / (CAST(cf AS DOUBLE) / CAST(n_docs AS DOUBLE)), 6) AS dispersion
FROM pt, nd ORDER BY dispersion DESC, token LIMIT {corpus.BURST_TOP}""",
    ),
    "overdispersion_check": QuerySpec(
        events.q_overdispersion_check,
        """WITH pu AS (SELECT user_id, COUNT(*) AS c FROM events GROUP BY 1),
g AS (SELECT COUNT(*) AS n_users, CAST(SUM(c) AS BIGINT) AS s1,
  SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))) AS s2 FROM pu)
SELECT CAST(n_users AS BIGINT) AS n_users,
  ROUND(CAST(s1 AS DOUBLE) / CAST(n_users AS DOUBLE), 6) AS mean_events,
  ROUND(CAST(s2 AS DOUBLE) / CAST(n_users AS DOUBLE)
        - CAST(s1 AS DOUBLE) / CAST(n_users AS DOUBLE)
          * (CAST(s1 AS DOUBLE) / CAST(n_users AS DOUBLE)), 6) AS var_events,
  ROUND((CAST(s2 AS DOUBLE) / CAST(n_users AS DOUBLE)
         - CAST(s1 AS DOUBLE) / CAST(n_users AS DOUBLE)
           * (CAST(s1 AS DOUBLE) / CAST(n_users AS DOUBLE)))
        / (CAST(s1 AS DOUBLE) / CAST(n_users AS DOUBLE)), 6) AS dispersion_index,
  ROUND((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
         * (CAST(s1 AS DOUBLE) / CAST(n_users AS DOUBLE)))
        / (CAST(s1 AS DOUBLE) / CAST(n_users AS DOUBLE)), 6) AS chi_square,
  CAST(n_users - 1 AS BIGINT) AS dof
FROM g""",
    ),
    "categorical_mutual_information": QuerySpec(
        profiling.q_categorical_mutual_information,
        "WITH "
        + ",\n".join(
            f"""cells{i} AS (SELECT {xc} AS x, {yc} AS y, COUNT(*) AS c FROM {table} GROUP BY 1, 2),
rx{i} AS (SELECT x, CAST(SUM(c) AS BIGINT) AS rx FROM cells{i} GROUP BY 1),
ry{i} AS (SELECT y, CAST(SUM(c) AS BIGINT) AS ry FROM cells{i} GROUP BY 1),
n{i} AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells{i}),
mi{i} AS (SELECT CAST(SUM(CAST(ROUND(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
      * ROUND(ln(CAST(c AS DOUBLE) * CAST(n AS DOUBLE)
                 / (CAST(rx AS DOUBLE) * CAST(ry AS DOUBLE))), 9), 12)
    AS DECIMAL(27,12))) AS DOUBLE) AS mi
  FROM cells{i} JOIN rx{i} USING (x) JOIN ry{i} USING (y), n{i}),
hx{i} AS (SELECT CAST(SUM(CAST(ROUND(-(CAST(rx AS DOUBLE) / CAST(n AS DOUBLE))
      * ROUND(ln(CAST(rx AS DOUBLE) / CAST(n AS DOUBLE)), 9), 12)
    AS DECIMAL(27,12))) AS DOUBLE) AS hx FROM rx{i}, n{i}),
hy{i} AS (SELECT CAST(SUM(CAST(ROUND(-(CAST(ry AS DOUBLE) / CAST(n AS DOUBLE))
      * ROUND(ln(CAST(ry AS DOUBLE) / CAST(n AS DOUBLE)), 9), 12)
    AS DECIMAL(27,12))) AS DOUBLE) AS hy FROM ry{i}, n{i}),
row{i} AS (SELECT '{pair_name}' AS pair, n{i}.n AS n_rows,
  ROUND(mi, 6) AS mi_nats, ROUND(hx, 6) AS h_x, ROUND(hy, 6) AS h_y,
  ROUND(mi / sqrt(hx * hy), 6) AS nmi
  FROM mi{i}, hx{i}, hy{i}, n{i})"""
            for i, (pair_name, table, xc, yc) in enumerate(profiling.MI_PAIRS)
        )
        + "\nSELECT * FROM ("
        + " UNION ALL ".join(
            f"SELECT * FROM row{i}" for i in range(len(profiling.MI_PAIRS))
        )
        + ") ORDER BY pair",
    ),
    "hurst_exponent": QuerySpec(profiling.q_hurst_exponent, _hurst_sql()),
    "cross_source_leakage": QuerySpec(
        pipeline.q_cross_source_leakage,
        _minhash_cte()
        + _lsh_banded_sql()
        + f""",
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
t AS (SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents),
v AS (SELECT * FROM (
  SELECT doc_a, doc_b,
    ROUND(len(list_intersect(ta.toks, tb.toks)) / len(list_distinct(list_concat(ta.toks, tb.toks))), 4) AS jaccard
  FROM pairs JOIN t ta ON doc_a = ta.doc_id JOIN t tb ON doc_b = tb.doc_id)
  WHERE jaccard >= {dedup.JACCARD_T}),
src AS (SELECT doc_id, source FROM documents)
SELECT LEAST(a.source, b.source) AS src_a, GREATEST(a.source, b.source) AS src_b,
  COUNT(*) AS n_pairs,
  {sql_davg('jaccard', ndigits=4)} AS avg_jaccard,
  LEAST(a.source, b.source) <> GREATEST(a.source, b.source) AS cross_source
FROM v JOIN src a ON v.doc_a = a.doc_id JOIN src b ON v.doc_b = b.doc_id
GROUP BY 1, 2 ORDER BY n_pairs DESC, src_a, src_b""",
    ),
    "jaccard_threshold_histogram": QuerySpec(
        dedup.q_jaccard_threshold_histogram,
        _minhash_cte()
        + _lsh_banded_sql()
        + f""",
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
t AS (SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents),
jac AS (
  SELECT ROUND(len(list_intersect(ta.toks, tb.toks)) / len(list_distinct(list_concat(ta.toks, tb.toks))), 4) AS jaccard
  FROM pairs JOIN t ta ON doc_a = ta.doc_id JOIN t tb ON doc_b = tb.doc_id),
hist AS (
  SELECT floor(jaccard * 10) / 10.0 AS bucket, COUNT(*) AS n_pairs,
    {sql_davg('jaccard', ndigits=4)} AS avg_jaccard
  FROM jac GROUP BY 1)
SELECT bucket, n_pairs, avg_jaccard,
  CAST(SUM(n_pairs) OVER (ORDER BY bucket DESC ROWS UNBOUNDED PRECEDING) AS BIGINT)
    AS pairs_kept_at_threshold
FROM hist ORDER BY bucket""",
    ),
    "sq_mse_by_bits": QuerySpec(
        similarity.q_sq_mse_by_bits,
        """WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
pos AS (SELECT vec_id, i, v[CAST(i AS INT)] AS x FROM e, range(1, 65) r(i)),
rng AS (SELECT i, MIN(x) AS lo, MAX(x) AS hi FROM pos GROUP BY i),
j AS (SELECT pos.x, rng.lo, rng.hi FROM pos JOIN rng USING (i))
"""
        + "\nUNION ALL\n".join(
            (
                lambda L, b: f"""SELECT {b} AS bits, CAST(COUNT(*) AS BIGINT) AS n_values,
  ROUND(CAST(SUM(CAST(ROUND(({_SQ_ERR.format(L=L)}) * ({_SQ_ERR.format(L=L)}), 12) AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*), 8) AS mse,
  ROUND(sqrt(CAST(SUM(CAST(ROUND(({_SQ_ERR.format(L=L)}) * ({_SQ_ERR.format(L=L)}), 12) AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*)), 6) AS rmse,
  ROUND(MAX(abs({_SQ_ERR.format(L=L)})), 6) AS max_abs_err
FROM j"""
            )(float(2**b - 1), b)
            for b in similarity.SQ_MSE_BITS
        )
        + "\nORDER BY bits DESC",
    ),
    "gumbel_maxima_fit": QuerySpec(
        profiling.q_gumbel_maxima_fit,
        f"""WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
    MAX(CAST(round(o_totalprice * 100) AS BIGINT)) AS mx
  FROM orders GROUP BY 1),
g AS (SELECT COUNT(*) AS n_days, CAST(SUM(mx) AS BIGINT) AS s1,
  SUM(CAST(mx AS DECIMAL(19,0)) * CAST(mx AS DECIMAL(19,0))) AS s2,
  CAST(MAX(mx) AS BIGINT) AS observed_max FROM daily),
k AS (SELECT n_days, observed_max,
  CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE) AS mn,
  CAST(s2 AS DOUBLE) / CAST(n_days AS DOUBLE)
    - CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE)) AS vr
  FROM g),
f AS (SELECT n_days, observed_max, mn, sqrt(vr) * {__import__("math").sqrt(6.0) / __import__("math").pi!r} AS scl FROM k),
l AS (SELECT n_days, observed_max, scl, mn - {profiling.GUMBEL_GAMMA!r} * scl AS loc FROM f)
SELECT CAST(n_days AS BIGINT) AS n_days, observed_max,
  ROUND(loc / 100.0, 4) AS loc_usd,
  ROUND(scl / 100.0, 4) AS scale_usd,
  ROUND((loc + scl * {profiling.GUMBEL_RL_FACTOR!r}) / 100.0, 4) AS return_level_365_usd,
  ROUND((CAST(observed_max AS DOUBLE) - loc) / scl, 6) AS max_z
FROM l""",
    ),
    "revenue_var_es": QuerySpec(
        profiling.q_revenue_var_es,
        f"""WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
  FROM orders GROUP BY 1),
l AS (SELECT day, rev, lag(rev, 1) OVER (ORDER BY day) AS prev FROM daily),
d AS (SELECT rev - prev AS diff FROM l WHERE prev IS NOT NULL),
v AS (SELECT quantile_cont(diff, {profiling.VAR_Q}) AS var_c, COUNT(*) AS n_days FROM d)
SELECT CAST(n_days AS BIGINT) AS n_days,
  ROUND(var_c / 100.0, 4) AS var_usd,
  CAST(SUM(CASE WHEN diff < var_c THEN 1 ELSE 0 END) AS BIGINT) AS n_tail,
  ROUND(CAST(SUM(CASE WHEN diff < var_c THEN CAST(diff AS DECIMAL(38,0)) END) AS DOUBLE)
        / CAST(SUM(CASE WHEN diff < var_c THEN 1 ELSE 0 END) AS DOUBLE) / 100.0, 4)
    AS es_usd
FROM d, v GROUP BY n_days, var_c""",
    ),
    "kcenter_coreset": QuerySpec(similarity.q_kcenter_coreset, _kcenter_sql()),
    "markov_next_event_accuracy": QuerySpec(
        events.q_markov_next_event_accuracy,
        f"""WITH p AS (
  SELECT event_type AS e1,
    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
    ('0x' || substr(md5('{events.MK_SEED}:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS split
  FROM events),
pr AS (SELECT e1, e2, split FROM p WHERE e2 IS NOT NULL),
tr AS (SELECT e1, e2, COUNT(*) AS c FROM pr WHERE split = 0 GROUP BY 1, 2),
pd AS (SELECT e1, e2 AS pred_e2 FROM tr
  QUALIFY ROW_NUMBER() OVER (PARTITION BY e1 ORDER BY c DESC, e2) = 1),
bs AS (SELECT e2 AS base_e2 FROM (SELECT e2, SUM(c) AS c FROM tr GROUP BY 1)
  ORDER BY c DESC, e2 LIMIT 1),
nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n_train FROM tr),
ev AS (SELECT pr.e1, pr.e2, pd.pred_e2, bs.base_e2
  FROM pr LEFT JOIN pd USING (e1), bs WHERE pr.split = 1)
SELECT nt.n_train, CAST(COUNT(*) AS BIGINT) AS n_eval,
  ROUND(CAST(SUM(CASE WHEN e2 = pred_e2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
    AS accuracy,
  ROUND(CAST(SUM(CASE WHEN e2 = base_e2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
    AS baseline_accuracy,
  ROUND(CAST(SUM(CASE WHEN e2 = pred_e2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
        - CAST(SUM(CASE WHEN e2 = base_e2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
    AS lift
FROM ev, nt GROUP BY nt.n_train""",
    ),
    "mad_robust_scale": QuerySpec(
        profiling.q_mad_robust_scale,
        f"""WITH v AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
st AS (SELECT COUNT(*) AS n, (COUNT(*) + 1) // 2 AS k FROM v),
rv AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS r FROM v),
med AS (SELECT rv.v AS m FROM rv, st WHERE rv.r = st.k),
d AS (SELECT abs(v.v - med.m) AS dv FROM v, med),
rd AS (SELECT dv, ROW_NUMBER() OVER (ORDER BY dv) AS r FROM d),
mad AS (SELECT rd.dv AS md FROM rd, st WHERE rd.r = st.k)
SELECT CAST(st.n AS BIGINT) AS n_orders,
  ROUND(CAST(med.m AS DOUBLE) / 100.0, 2) AS median_usd,
  ROUND(CAST(mad.md AS DOUBLE) / 100.0, 2) AS mad_usd,
  ROUND({profiling.MAD_SIGMA} * CAST(mad.md AS DOUBLE) / 100.0, 4) AS robust_sigma_usd
FROM st, med, mad""",
    ),
    "obrien_fleming_looks": QuerySpec(
        events.q_obrien_fleming_looks,
        f"""WITH d0 AS (SELECT MIN(CAST(date_trunc('day', ts) AS DATE)) AS d0 FROM events),
ew AS (
  SELECT user_id, event_type, value,
    CAST(date_diff('day', d0.d0, CAST(date_trunc('day', ts) AS DATE)) // 7 AS INT) + 1 AS week
  FROM events, d0),
uw AS (
  SELECT user_id, week,
    COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(27,6)) END),
             CAST(0 AS DECIMAL(27,6))) AS spend
  FROM ew WHERE week <= {events.OBF_K} GROUP BY 1, 2),
ua AS (
  SELECT user_id, week, spend,
    CASE WHEN ('0x' || substr(md5('ab1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
         THEN 'A' ELSE 'B' END AS arm
  FROM uw),
pl AS (
  SELECT r.look, user_id, arm, SUM(spend) AS spend
  FROM ua, range(1, {events.OBF_K + 1}) r(look) WHERE r.look >= ua.week
  GROUP BY 1, 2, 3),
g AS (
  SELECT look, arm, COUNT(*) AS n, CAST(SUM(spend) AS DOUBLE) AS s1,
    CAST(SUM(CAST(spend AS DECIMAL(19,6)) * CAST(spend AS DECIMAL(19,6))) AS DOUBLE) AS s2
  FROM pl GROUP BY 1, 2),
aa AS (SELECT look, n AS na, s1 AS sa, s2 AS qa FROM g WHERE arm = 'A'),
bb AS (SELECT look, n AS nb, s1 AS sb, s2 AS qb FROM g WHERE arm = 'B'),
zz AS (
  SELECT look, na, nb,
    ROUND((sa / na - sb / nb)
          / sqrt(((qa - sa * sa / na) / (na - 1)) / na
                 + ((qb - sb * sb / nb) / (nb - 1)) / nb), 6) AS z
  FROM aa JOIN bb USING (look))
SELECT CAST(look AS INT) AS look, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb, z,
  CAST(([{", ".join(repr(t) for t in events._obf_boundaries())}])[look] AS DOUBLE) AS obf_boundary,
  abs(z) >= CAST(([{", ".join(repr(t) for t in events._obf_boundaries())}])[look] AS DOUBLE) AS crossed
FROM zz ORDER BY look""",
    ),
    "graph_modularity": QuerySpec(
        linkage.q_graph_modularity,
        f"""WITH cp AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
deg AS (SELECT p, COUNT(*) AS deg FROM cp GROUP BY 1),
cpr AS (SELECT cp.c, cp.p FROM cp JOIN deg USING (p)
  WHERE deg BETWEEN 2 AND {linkage.AA_MAX_DEG}),
ed AS (SELECT DISTINCT a.c AS c1, b.c AS c2
  FROM cpr a JOIN cpr b ON a.p = b.p AND a.c < b.c),
en AS (SELECT ed.c1, ed.c2, x.c_nationkey AS n1, y.c_nationkey AS n2
  FROM ed JOIN customer x ON ed.c1 = x.c_custkey
  JOIN customer y ON ed.c2 = y.c_custkey),
m AS (SELECT COUNT(*) AS m FROM en),
intra AS (SELECT n1 AS nation, COUNT(*) AS mc FROM en WHERE n1 = n2 GROUP BY 1),
degs AS (SELECT nation, COUNT(*) AS dc FROM
  (SELECT n1 AS nation FROM en UNION ALL SELECT n2 FROM en) GROUP BY 1),
pn AS (SELECT d.nation, d.dc, COALESCE(i.mc, 0) AS mc
  FROM degs d LEFT JOIN intra i USING (nation)),
t AS (SELECT m.m, pn.mc,
  CAST(ROUND(CAST(pn.mc AS DOUBLE) / CAST(m.m AS DOUBLE)
    - (CAST(pn.dc AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
      * (CAST(pn.dc AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE))), 9) AS DECIMAL(18,9)) AS t
  FROM pn, m),
g AS (SELECT m, COUNT(*) AS n_communities, CAST(SUM(mc) AS BIGINT) AS intra_edges,
  ROUND(CAST(SUM(t) AS DOUBLE), 6) AS modularity FROM t GROUP BY m)
SELECT CAST(m AS BIGINT) AS n_edges, n_communities, intra_edges,
  ROUND(intra_edges / CAST(m AS DOUBLE), 6) AS intra_share, modularity
FROM g""",
    ),
    "conformal_interval_gate": QuerySpec(
        profiling.q_conformal_interval_gate,
        f"""WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
  FROM orders GROUP BY 1),
l AS (SELECT day, rev, lag(rev, {profiling.CONF_LAG}) OVER (ORDER BY day) AS prev,
  ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily),
r AS (SELECT rn, abs(rev - prev) AS resid FROM l WHERE prev IS NOT NULL),
cal AS (SELECT quantile_cont(resid, {profiling.CONF_Q}) AS q_hat, COUNT(*) AS n_cal
  FROM r WHERE rn % 2 = 1)
SELECT CAST(n_cal AS BIGINT) AS n_cal, CAST(COUNT(*) AS BIGINT) AS n_eval,
  ROUND(q_hat / 100.0, 4) AS q_hat_usd,
  ROUND(CAST(SUM(CASE WHEN resid <= q_hat THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
    AS coverage,
  CAST({profiling.CONF_Q} AS DOUBLE) AS target
FROM r, cal WHERE rn % 2 = 0 GROUP BY n_cal, q_hat""",
    ),
    "knn_label_accuracy": QuerySpec(
        similarity.q_knn_label_accuracy,
        f"""WITH e AS (SELECT vec_id, CAST(label AS INT) AS label, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
panel AS (SELECT vec_id AS qid, label AS true_label, v AS qv FROM e WHERE vec_id < {similarity.KNN_Q}),
pairs AS (
  SELECT p.qid, p.true_label, e.vec_id, e.label,
    ROUND({_dot_sql('e.v', 'p.qv')} / (sqrt({_dot_sql('e.v', 'e.v')}) * sqrt({_dot_sql('p.qv', 'p.qv')})), 4) AS cos
  FROM e, panel p WHERE e.vec_id <> p.qid),
topk AS (SELECT qid, true_label, label FROM pairs
  QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) <= {similarity.KNN_K}),
votes AS (SELECT qid, true_label, label, COUNT(*) AS cnt FROM topk GROUP BY 1, 2, 3),
pred AS (SELECT qid, CASE WHEN label = true_label THEN 1 ELSE 0 END AS correct,
  cnt AS votes FROM votes
  QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cnt DESC, label) = 1)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
  CAST(SUM(correct) AS BIGINT) AS n_correct,
  ROUND(CAST(SUM(correct) AS DOUBLE) / COUNT(*), 6) AS accuracy,
  ROUND(CAST(SUM(votes) AS DOUBLE) / (COUNT(*) * {float(similarity.KNN_K)!r}), 6)
    AS avg_winner_share
FROM pred""",
    ),
    "heavy_hitters_cms_verified": QuerySpec(
        text.q_heavy_hitters_cms_verified,
        f"""WITH tok AS (SELECT unnest({_TOKS}) AS token FROM documents),
nt AS (SELECT COUNT(*) AS n_tokens FROM tok),
cells AS ({" UNION ALL ".join(
    f"SELECT token, {i} AS row, CAST(('0x' || substr(md5('cms{i}:' || token), 1, 8))::BIGINT % {text.CMS_W} AS INT) AS col FROM tok"
    for i in range(text.CMS_D))}),
sketch AS (SELECT row, col, CAST(COUNT(*) AS BIGINT) AS cnt FROM cells GROUP BY 1, 2),
thr AS (SELECT CAST(ceil({text.HH_PHI} * n_tokens) AS BIGINT) AS threshold FROM nt),
hh AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_count FROM tok GROUP BY 1),
sel AS (SELECT token, exact_count FROM hh, thr WHERE exact_count >= threshold),
probes AS ({" UNION ALL ".join(
    f"SELECT token, exact_count, {i} AS row, CAST(('0x' || substr(md5('cms{i}:' || token), 1, 8))::BIGINT % {text.CMS_W} AS INT) AS col FROM sel"
    for i in range(text.CMS_D))}),
est AS (SELECT p.token, p.exact_count, MIN(COALESCE(s.cnt, 0)) AS cms_estimate
  FROM probes p LEFT JOIN sketch s ON p.row = s.row AND p.col = s.col
  GROUP BY 1, 2)
SELECT e.token, e.exact_count, e.cms_estimate, thr.threshold
FROM est e, thr ORDER BY e.exact_count DESC, e.token""",
    ),
    "ewma_control_chart": QuerySpec(
        profiling.q_ewma_control_chart,
        f"""WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
  FROM orders GROUP BY 1),
l AS (
  SELECT day, rev,
    ROUND({" + ".join(
        f"{profiling.EWMA_ALPHA * (1.0 - profiling.EWMA_ALPHA) ** (k - 1)!r} * CAST(lag(rev, {k}) OVER w AS DOUBLE)"
        for k in range(1, profiling.EWMA_LAGS + 1))}, 4) AS ewma_prev,
    ROW_NUMBER() OVER w AS rn
  FROM daily WINDOW w AS (ORDER BY day)),
m AS (SELECT COUNT(*) AS n, CAST(SUM(rev) AS BIGINT) AS s1,
  SUM(CAST(rev AS DECIMAL(19,0)) * CAST(rev AS DECIMAL(19,0))) AS s2 FROM daily),
z AS (
  SELECT day, rev, ewma_prev,
    ROUND((CAST(rev AS DOUBLE) - ewma_prev)
          / sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                 - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))),
          6) AS z
  FROM l, m WHERE rn > {profiling.EWMA_LAGS})
SELECT strftime(day, '%Y-%m-%d') AS day,
  ROUND(CAST(rev AS DOUBLE) / 100.0, 2) AS rev_usd,
  ROUND(ewma_prev / 100.0, 4) AS ewma_usd,
  z, abs(z) > {profiling.EWMA_Z} AS is_breach
FROM z ORDER BY abs(z) DESC, day LIMIT 10""",
    ),
    "degree_powerlaw_fit": QuerySpec(
        linkage.q_degree_powerlaw_fit,
        f"""WITH cp AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
deg AS (SELECT p, COUNT(*) AS deg FROM cp GROUP BY 1),
t AS (SELECT COUNT(*) AS n_tail, CAST(MAX(deg) AS BIGINT) AS max_degree,
  CAST(SUM(CAST(ROUND(ln(CAST(deg AS DOUBLE) / {float(linkage.PL_DMIN)!r}), 9) AS DECIMAL(18,9))) AS DOUBLE) AS ln_sum
  FROM deg WHERE deg >= {linkage.PL_DMIN}),
w AS (SELECT COUNT(*) AS n_parts FROM deg)
SELECT CAST(n_parts AS BIGINT) AS n_parts, CAST(n_tail AS BIGINT) AS n_tail,
  max_degree,
  ROUND(1.0 + CAST(n_tail AS DOUBLE) / ln_sum, 6) AS alpha_mle
FROM t, w""",
    ),
    "calinski_harabasz_index": QuerySpec(
        similarity.q_calinski_harabasz_index,
        """WITH e AS (SELECT vec_id, CAST(label AS INT) AS label, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
pos AS (SELECT label, i, v[CAST(i AS INT)] AS x FROM e, range(1, 65) r(i)),
cell AS (SELECT label, i, COUNT(*) AS n,
  SUM(CAST(x AS DECIMAL(18,9))) AS s1,
  SUM(CAST(x AS DECIMAL(18,9)) * CAST(x AS DECIMAL(18,9))) AS s2
  FROM pos GROUP BY 1, 2),
gl AS (SELECT i, CAST(SUM(n) AS BIGINT) AS gn, SUM(s1) AS g1 FROM cell GROUP BY 1),
j AS (SELECT cell.n, cell.s1, cell.s2, gl.gn, gl.g1 FROM cell JOIN gl USING (i)),
t AS (SELECT
  CAST(ROUND(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 9)
    AS DECIMAL(27,9)) AS wt,
  CAST(ROUND(CAST(n AS DOUBLE)
    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) - CAST(g1 AS DOUBLE) / CAST(gn AS DOUBLE))
    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) - CAST(g1 AS DOUBLE) / CAST(gn AS DOUBLE)), 9)
    AS DECIMAL(27,9)) AS bt
  FROM j),
sz AS (SELECT COUNT(*) AS n_vectors, COUNT(DISTINCT label) AS k FROM e),
g AS (SELECT CAST(SUM(wt) AS DOUBLE) AS w, CAST(SUM(bt) AS DOUBLE) AS b FROM t)
SELECT CAST(n_vectors AS BIGINT) AS n_vectors, CAST(k AS BIGINT) AS k,
  ROUND(b, 4) AS between_ss, ROUND(w, 4) AS within_ss,
  ROUND((b / (CAST(k AS DOUBLE) - 1)) / (w / (CAST(n_vectors AS DOUBLE) - CAST(k AS DOUBLE))), 6)
    AS ch_index
FROM g, sz""",
    ),
    "silhouette_panel": QuerySpec(
        similarity.q_silhouette_panel,
        f"""WITH e AS (SELECT vec_id, CAST(label AS INT) AS label, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
panel AS (SELECT vec_id AS pid, label AS plabel, v AS pv FROM e WHERE vec_id < {similarity.SIL_PANEL}),
pairs AS (
  SELECT p.pid, p.plabel, e.label,
    CAST(ROUND(sqrt({_sqdist_sql('e.v', 'p.pv')}), 6) AS DECIMAL(18,6)) AS d
  FROM e, panel p WHERE e.vec_id <> p.pid),
pc AS (SELECT pid, plabel, label, CAST(SUM(d) AS DOUBLE) / COUNT(*) AS md
  FROM pairs GROUP BY 1, 2, 3),
own AS (SELECT pid, md AS a FROM pc WHERE label = plabel),
om AS (SELECT pid, MIN(md) AS b FROM pc WHERE label <> plabel GROUP BY 1),
sc AS (
  SELECT p.pid AS vec_id, p.plabel AS label,
    ROUND(a, 6) AS mean_own_dist, ROUND(b, 6) AS mean_other_dist,
    ROUND((b - a) / GREATEST(a, b), 6) AS silhouette
  FROM panel p LEFT JOIN own ON p.pid = own.pid LEFT JOIN om ON p.pid = om.pid),
mn AS (SELECT ROUND(CAST(SUM(CAST(COALESCE(silhouette, 0.0) AS DECIMAL(18,9))) AS DOUBLE)
  / COUNT(*), 6) AS panel_mean FROM sc)
SELECT vec_id, label, mean_own_dist, mean_other_dist, silhouette, panel_mean
FROM sc, mn ORDER BY vec_id""",
    ),
    "ecod_outliers": QuerySpec(
        similarity.q_ecod_outliers,
        f"""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
pos AS (SELECT vec_id, i, v[CAST(i AS INT)] AS x FROM e, range(1, 65) r(i)),
bv AS (SELECT i, x, COUNT(*) AS c FROM pos GROUP BY 1, 2),
rk AS (
  SELECT i, x,
    SUM(c) OVER (PARTITION BY i ORDER BY x ROWS UNBOUNDED PRECEDING) AS cle,
    COALESCE(SUM(c) OVER (PARTITION BY i ORDER BY x
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS clt,
    SUM(c) OVER (PARTITION BY i) AS n
  FROM bv),
tm AS (
  SELECT i, x,
    CAST(ROUND(-ln(LEAST(CAST(cle AS DOUBLE) / CAST(n AS DOUBLE),
                         CAST(n - clt AS DOUBLE) / CAST(n AS DOUBLE))), 9)
      AS DECIMAL(18,9)) AS t
  FROM rk)
SELECT pos.vec_id, ROUND(CAST(SUM(t) AS DOUBLE), 6) AS ecod_score
FROM pos JOIN tm ON pos.i = tm.i AND pos.x = tm.x
GROUP BY pos.vec_id
ORDER BY ecod_score DESC, vec_id LIMIT {similarity.ECOD_TOP}""",
    ),
    "embedding_outlier_mahalanobis": QuerySpec(
        similarity.q_embedding_outlier_mahalanobis,
        f"""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
pos AS (SELECT i, v[CAST(i AS INT)] AS x FROM e, range(1, 65) r(i)),
mom AS (SELECT i,
  CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / COUNT(x) AS mu,
  COUNT(x) AS n,
  CAST(SUM(CAST(x AS DECIMAL(18,9)) * CAST(x AS DECIMAL(18,9))) AS DOUBLE) AS sxx
  FROM pos GROUP BY i),
mv AS (SELECT i, mu, sxx / CAST(n AS DOUBLE) - mu * mu AS vr FROM mom),
st AS (SELECT list(mu ORDER BY i) AS mu, list(vr ORDER BY i) AS vr FROM mv)
SELECT vec_id,
  ROUND(({" + ".join(
      f"(e.v[{i}]-st.mu[{i}])*(e.v[{i}]-st.mu[{i}])/st.vr[{i}]" for i in range(1, 65)
  )}), 4) AS mahalanobis_sq
FROM e, st ORDER BY mahalanobis_sq DESC, vec_id LIMIT {similarity.MAHA_TOP}""",
    ),
    "brier_decomposition": QuerySpec(
        curation.q_brier_decomposition,
        f"""WITH rws AS (
  SELECT LEAST({curation.CAL_MAX_BIN}, CAST(floor(n_chars / {curation.CAL_BIN_WIDTH}) AS BIGINT)) AS bin,
    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
    ('0x' || substr(md5('{curation.BRIER_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS split
  FROM documents),
cells AS (SELECT bin, split, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS pos
  FROM rws GROUP BY 1, 2),
train AS (SELECT bin, CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS p_k FROM cells WHERE split = 0),
ev AS (SELECT bin, n AS n_k, pos AS pos_k FROM cells WHERE split = 1),
bth AS (SELECT ev.bin, n_k, pos_k, p_k FROM ev JOIN train USING (bin)),
tot AS (SELECT CAST(SUM(n_k) AS BIGINT) AS n_eval, CAST(SUM(pos_k) AS BIGINT) AS pos_eval FROM bth),
terms AS (
  SELECT n_k, n_eval, pos_eval,
    CAST(ROUND(CAST(n_k AS DOUBLE)
      * (p_k - CAST(pos_k AS DOUBLE) / CAST(n_k AS DOUBLE))
      * (p_k - CAST(pos_k AS DOUBLE) / CAST(n_k AS DOUBLE)), 9) AS DECIMAL(27,9)) AS rel_t,
    CAST(ROUND(CAST(n_k AS DOUBLE)
      * (CAST(pos_k AS DOUBLE) / CAST(n_k AS DOUBLE) - CAST(pos_eval AS DOUBLE) / CAST(n_eval AS DOUBLE))
      * (CAST(pos_k AS DOUBLE) / CAST(n_k AS DOUBLE) - CAST(pos_eval AS DOUBLE) / CAST(n_eval AS DOUBLE)),
      9) AS DECIMAL(27,9)) AS res_t
  FROM bth, tot),
g AS (SELECT n_eval, pos_eval, CAST(SUM(rel_t) AS DOUBLE) AS rel_s,
  CAST(SUM(res_t) AS DOUBLE) AS res_s, CAST(SUM(n_k) AS BIGINT) AS n_binned
  FROM terms GROUP BY 1, 2)
SELECT n_eval, n_binned,
  ROUND(rel_s / CAST(n_eval AS DOUBLE), 6) AS reliability,
  ROUND(res_s / CAST(n_eval AS DOUBLE), 6) AS resolution,
  ROUND(CAST(pos_eval AS DOUBLE) / CAST(n_eval AS DOUBLE)
        * (1 - CAST(pos_eval AS DOUBLE) / CAST(n_eval AS DOUBLE)), 6) AS uncertainty,
  ROUND(rel_s / CAST(n_eval AS DOUBLE) - res_s / CAST(n_eval AS DOUBLE)
        + CAST(pos_eval AS DOUBLE) / CAST(n_eval AS DOUBLE)
          * (1 - CAST(pos_eval AS DOUBLE) / CAST(n_eval AS DOUBLE)), 6) AS brier_score
FROM g""",
    ),
    "fleiss_kappa": QuerySpec(
        curation.q_fleiss_kappa,
        f"""WITH med AS (SELECT quantile_cont(n_chars, 0.5) AS m FROM documents),
fp AS (SELECT doc_id, md5({_NORM}) AS fp FROM documents),
cnt AS (SELECT fp, COUNT(*) AS n_copies FROM fp GROUP BY 1),
uniq AS (SELECT doc_id, n_copies = 1 AS is_unique FROM fp JOIN cnt USING (fp)),
votes AS (
  SELECT CAST(d.n_chars > med.m AS INT)
       + CAST(u.is_unique AS INT)
       + CAST(d.lang = 'en' AS INT) AS n1
  FROM documents d JOIN uniq u USING (doc_id), med),
g AS (SELECT COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN n1 = 0 OR n1 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_unanimous,
  CAST(SUM(n1) AS BIGINT) AS n_pos_votes FROM votes),
k AS (
  SELECT n_docs, n_unanimous,
    CAST(n_pos_votes AS DOUBLE) / (3.0 * CAST(n_docs AS DOUBLE)) AS p1,
    (CAST(n_unanimous AS DOUBLE)
     + (CAST(n_docs AS DOUBLE) - CAST(n_unanimous AS DOUBLE)) / 3.0)
      / CAST(n_docs AS DOUBLE) AS p_bar
  FROM g)
SELECT n_docs, n_unanimous,
  ROUND(p1, 6) AS p_pos,
  ROUND(p_bar, 6) AS p_bar,
  ROUND(p1 * p1 + (1 - p1) * (1 - p1), 6) AS p_e,
  ROUND((p_bar - (p1 * p1 + (1 - p1) * (1 - p1)))
        / (1 - (p1 * p1 + (1 - p1) * (1 - p1))), 6) AS fleiss_kappa
FROM k""",
    ),
    "mrr_gate": QuerySpec(
        similarity.q_mrr_gate,
        f"""WITH e AS (SELECT vec_id, CAST(label AS INT) AS label, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
pos AS (SELECT label, i, v[CAST(i AS INT)] AS x FROM e, range(1, 65) r(i)),
cent AS (
  SELECT label, list(cx ORDER BY i) AS cv FROM (
    SELECT label, i, CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / COUNT(x) AS cx
    FROM pos GROUP BY label, i)
  GROUP BY label),
assigned AS (
  SELECT vec_id, v, label AS cluster FROM (
    SELECT e.vec_id, e.v, cent.label,
      {_dot_sql('e.v', 'cent.cv')} / (sqrt({_dot_sql('e.v', 'e.v')}) * sqrt({_dot_sql('cent.cv', 'cent.cv')})) AS cos_c
    FROM e CROSS JOIN cent)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, label) = 1),
q AS (SELECT vec_id AS qid, v AS qv, cluster AS qcluster
  FROM assigned WHERE vec_id < {similarity.MRR_Q}),
brute AS (
  SELECT q.qid, e.vec_id,
    ROUND({_dot_sql('e.v', 'q.qv')} / (sqrt({_dot_sql('e.v', 'e.v')}) * sqrt({_dot_sql('q.qv', 'q.qv')})), 4) AS cos
  FROM e, q WHERE e.vec_id <> q.qid),
mx AS (SELECT qid, MAX(cos) AS mc FROM brute GROUP BY 1),
top1 AS (
  SELECT b.qid, MIN(b.vec_id) AS rel_id, MAX(b.cos) AS rel_cos
  FROM brute b JOIN mx ON b.qid = mx.qid AND b.cos = mx.mc
  GROUP BY 1),
cand AS (
  SELECT q.qid, a.vec_id,
    ROUND({_dot_sql('a.v', 'q.qv')} / (sqrt({_dot_sql('a.v', 'a.v')}) * sqrt({_dot_sql('q.qv', 'q.qv')})), 4) AS cos
  FROM assigned a JOIN q ON a.cluster = q.qcluster WHERE a.vec_id <> q.qid),
scored AS (
  SELECT c.qid,
    CASE WHEN c.cos > t.rel_cos OR (c.cos = t.rel_cos AND c.vec_id < t.rel_id)
         THEN 1 ELSE 0 END AS better,
    CASE WHEN c.vec_id = t.rel_id THEN 1 ELSE 0 END AS hit
  FROM cand c JOIN top1 t USING (qid)),
per_q AS (SELECT qid, CAST(SUM(better) AS BIGINT) AS nb, MAX(hit) AS found,
  COUNT(*) AS n_cand FROM scored GROUP BY 1),
pq AS (
  SELECT COALESCE(found, 0) AS found,
    CAST(COALESCE(CASE WHEN found = 1
        THEN ROUND(1.0 / (1.0 + CAST(nb AS DOUBLE)), 9) END, 0.0) AS DECIMAL(18,9)) AS rr,
    COALESCE(n_cand, 0) AS n_cand
  FROM q LEFT JOIN per_q USING (qid))
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
  CAST(SUM(found) AS BIGINT) AS n_hits,
  ROUND(CAST(SUM(rr) AS DOUBLE) / COUNT(*), 6) AS mrr,
  CAST(SUM(n_cand) AS BIGINT) AS total_candidates
FROM pq""",
    ),
    "benjamini_hochberg": QuerySpec(
        profiling.q_benjamini_hochberg,
        f"""WITH rws AS (
  SELECT c.c_nationkey AS nation, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
pn AS (SELECT nation, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS s1 FROM rws GROUP BY 1),
gm AS (SELECT COUNT(*) AS ng, CAST(SUM(cents) AS BIGINT) AS g1,
  SUM(CAST(cents AS DECIMAL(19,0)) * CAST(cents AS DECIMAL(19,0))) AS g2
  FROM rws),
scored AS (
  SELECT nation, CAST(n AS BIGINT) AS n_orders,
    ROUND((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) - CAST(g1 AS DOUBLE) / CAST(ng AS DOUBLE))
          / sqrt(CAST(g2 AS DOUBLE) / CAST(ng AS DOUBLE)
                 - CAST(g1 AS DOUBLE) / CAST(ng AS DOUBLE) * (CAST(g1 AS DOUBLE) / CAST(ng AS DOUBLE)))
          * sqrt(CAST(n AS DOUBLE)), 6) AS z
  FROM pn, gm),
ranked AS (
  SELECT nation, n_orders, z,
    CAST(ROW_NUMBER() OVER (ORDER BY abs(z) DESC, nation) AS INT) AS bh_rank
  FROM scored),
thr AS (
  SELECT nation, n_orders, z, bh_rank,
    CAST(([{", ".join(repr(t) for t in profiling._bh_thresholds())}])[bh_rank] AS DOUBLE) AS bh_threshold
  FROM ranked),
ks AS (
  SELECT *, MAX(CASE WHEN abs(z) >= bh_threshold THEN bh_rank ELSE 0 END) OVER () AS kstar
  FROM thr)
SELECT nation, n_orders, z, bh_rank, bh_threshold, bh_rank <= kstar AS rejected
FROM ks ORDER BY bh_rank""",
    ),
    "fd_violation_audit": QuerySpec(
        profiling.q_fd_violation_audit,
        "SELECT * FROM (\n"
        + "\nUNION ALL\n".join(
            f"""SELECT '{fd_name}' AS fd,
  CAST(SUM(n_l) AS BIGINT) AS n_rows, COUNT(*) AS n_lhs,
  CAST(SUM(n_l) - SUM(mx) AS BIGINT) AS n_violations,
  ROUND(CAST(SUM(n_l) - SUM(mx) AS DOUBLE) / CAST(SUM(n_l) AS DOUBLE), 6) AS g3,
  SUM(n_l) = SUM(mx) AS holds
FROM (SELECT l, MAX(c) AS mx, SUM(c) AS n_l FROM
  (SELECT {lhs} AS l, {rhs} AS r, COUNT(*) AS c FROM {table} GROUP BY 1, 2)
  GROUP BY 1)"""
            for fd_name, table, lhs, rhs in profiling.FD_CANDIDATES
        )
        + "\n) ORDER BY fd",
    ),
    "market_basket_rules": QuerySpec(
        relational.q_market_basket_rules,
        f"""WITH baskets AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand AS brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
nb AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM baskets),
item AS (SELECT brand, COUNT(*) AS n_item FROM baskets GROUP BY 1),
pairs AS (
  SELECT a.brand AS x, b.brand AS y, COUNT(*) AS n_pair
  FROM baskets a JOIN baskets b ON a.l_orderkey = b.l_orderkey AND a.brand < b.brand
  GROUP BY 1, 2),
rules AS (
  SELECT x AS antecedent, y AS consequent, n_pair FROM pairs
  UNION ALL
  SELECT y AS antecedent, x AS consequent, n_pair FROM pairs),
j AS (
  SELECT r.antecedent, r.consequent, r.n_pair,
    ia.n_item AS n_ant, ic.n_item AS n_cons, nb.n_baskets
  FROM rules r
  JOIN item ia ON r.antecedent = ia.brand
  JOIN item ic ON r.consequent = ic.brand, nb)
SELECT antecedent, consequent, CAST(n_pair AS BIGINT) AS n_pair,
  ROUND(CAST(n_pair AS DOUBLE) / CAST(n_baskets AS DOUBLE), 6) AS support,
  ROUND(CAST(n_pair AS DOUBLE) / CAST(n_ant AS DOUBLE), 6) AS confidence,
  ROUND((CAST(n_pair AS DOUBLE) * CAST(n_baskets AS DOUBLE))
        / (CAST(n_ant AS DOUBLE) * CAST(n_cons AS DOUBLE)), 6) AS lift
FROM j
WHERE CAST(n_pair AS DOUBLE) / CAST(n_baskets AS DOUBLE) >= {relational.MB_MIN_SUPPORT}
ORDER BY lift DESC, antecedent, consequent LIMIT {relational.MB_TOP}""",
    ),
    "pmi_collocations": QuerySpec(
        corpus.q_pmi_collocations,
        f"""WITH tk AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS t FROM documents),
bg AS (
  SELECT p[1] AS w1, p[2] AS w2
  FROM (SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS p FROM tk)),
uni AS (SELECT w, COUNT(*) AS cu FROM (SELECT unnest(t) AS w FROM tk) GROUP BY 1),
big AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
nu AS (SELECT CAST(SUM(cu) AS BIGINT) AS nu FROM uni),
nb AS (SELECT CAST(SUM(c12) AS BIGINT) AS nb FROM big)
SELECT w1, w2, CAST(c12 AS BIGINT) AS n_bigram,
  ROUND(ln(((CAST(c12 AS DOUBLE) / CAST(nb AS DOUBLE))
            * (CAST(nu AS DOUBLE) / CAST(u1.cu AS DOUBLE)))
           * (CAST(nu AS DOUBLE) / CAST(u2.cu AS DOUBLE))), 6) AS pmi
FROM big
JOIN uni u1 ON big.w1 = u1.w
JOIN uni u2 ON big.w2 = u2.w, nu, nb
WHERE c12 >= {corpus.PMI_MIN_COUNT}
ORDER BY pmi DESC, w1, w2 LIMIT {corpus.PMI_TOP}""",
    ),
    "runs_test_daily": QuerySpec(
        profiling.q_runs_test_daily,
        """WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1),
rk AS (
  SELECT day, cents, ROW_NUMBER() OVER (ORDER BY cents, day) AS rn,
    COUNT(*) OVER () AS n
  FROM daily),
mids AS (
  SELECT MAX(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS m_lo,
    MAX(CASE WHEN rn = (n + 2) // 2 THEN cents END) AS m_hi
  FROM rk),
fl AS (
  SELECT day, CASE WHEN cents * 2 > m_lo + m_hi THEN 1 ELSE 0 END AS s
  FROM daily, mids),
lg AS (SELECT s, LAG(s) OVER (ORDER BY day) AS prev FROM fl),
agg AS (
  SELECT COUNT(*) AS n, SUM(s) AS n1,
    1 + SUM(CASE WHEN prev IS NOT NULL AND s <> prev THEN 1 ELSE 0 END) AS runs
  FROM lg),
sel AS (
  SELECT n, n1, runs,
    2.0 * CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE) AS p,
    CAST(n AS DOUBLE) AS nd
  FROM agg)
SELECT CAST(n AS BIGINT) AS n_days, CAST(n1 AS BIGINT) AS n_above,
  CAST(n - n1 AS BIGINT) AS n_below, CAST(runs AS BIGINT) AS runs,
  ROUND(1.0 + p / nd, 6) AS expected_runs,
  ROUND((CAST(runs AS DOUBLE) - (1.0 + p / nd))
        / sqrt((p * (p - nd)) / (nd * nd * (nd - 1.0))), 6) AS z_score
FROM sel""",
    ),
    "jackknife_se_nation": QuerySpec(
        profiling.q_jackknife_se_nation,
        """WITH pn AS (
  SELECT c.c_nationkey, COUNT(*) AS n_i,
    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s_i
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey GROUP BY 1),
tot AS (
  SELECT CAST(SUM(n_i) AS BIGINT) AS n, CAST(SUM(s_i) AS BIGINT) AS s,
    COUNT(*) AS g
  FROM pn),
loo AS (
  SELECT n, s, g,
    CAST(ROUND((CAST(s - s_i AS DOUBLE) / CAST(n - n_i AS DOUBLE)) / 100.0, 6)
      AS DECIMAL(14,6)) AS m
  FROM pn, tot),
agg AS (SELECT n, s, g, SUM(m) AS m1,
  SUM(CAST(m AS DECIMAL(20,6)) * m) AS m2 FROM loo GROUP BY 1, 2, 3)
SELECT CAST(g AS BIGINT) AS n_nations, CAST(n AS BIGINT) AS n_orders,
  ROUND((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0, 6) AS mean_order_value,
  ROUND(sqrt(((CAST(g AS DOUBLE) - 1.0) / CAST(g AS DOUBLE))
             * GREATEST(CAST(m2 AS DOUBLE)
                        - (CAST(m1 AS DOUBLE) * CAST(m1 AS DOUBLE)) / CAST(g AS DOUBLE),
                        0.0)), 6) AS jackknife_se,
  ROUND((CAST(g AS DOUBLE) - 1.0)
        * (CAST(m1 AS DOUBLE) / CAST(g AS DOUBLE)
           - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0), 6) AS jackknife_bias
FROM agg""",
    ),
    "ljung_box_stat": QuerySpec(
        profiling.q_ljung_box_stat,
        f"""WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
    SUM(CAST(round(o_totalprice) AS BIGINT)) AS rev
  FROM orders GROUP BY 1),
st AS (SELECT SUM(rev) AS s, COUNT(*) AS n FROM daily),
y AS (SELECT day, n, n * rev - s AS y FROM daily, st),
lagged AS (
  SELECT n, y,
    {', '.join(f'lag(y, {k}) OVER (ORDER BY day) AS y{k}' for k in range(1, profiling.LB_LAGS + 1))}
  FROM y),
terms AS (
  {' UNION ALL '.join(f'SELECT n, {k} AS lag, CAST(y AS DECIMAL(19,0)) * CAST(y{k} AS DECIMAL(19,0)) AS yy FROM lagged' for k in range(1, profiling.LB_LAGS + 1))}),
den AS (SELECT SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS den FROM y),
per_lag AS (
  SELECT n, lag, SUM(yy) AS num, MIN(den) AS den
  FROM terms, den WHERE yy IS NOT NULL
  GROUP BY 1, 2),
tm AS (
  SELECT n, lag,
    CAST(ROUND(((CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
                * (CAST(num AS DOUBLE) / CAST(den AS DOUBLE)))
               / CAST(n - lag AS DOUBLE), 12) AS DECIMAL(18,12)) AS term
  FROM per_lag),
agg AS (SELECT n, COUNT(*) AS n_lags, SUM(term) AS tsum FROM tm GROUP BY 1)
SELECT CAST(n AS BIGINT) AS n_days, CAST(n_lags AS BIGINT) AS n_lags,
  ROUND((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)) * CAST(tsum AS DOUBLE), 6)
    AS q_stat,
  CAST({profiling.LB_CRIT!r} AS DOUBLE) AS chi2_crit_95,
  (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)) * CAST(tsum AS DOUBLE)
    > {profiling.LB_CRIT!r} AS reject_whiteness
FROM agg""",
    ),
    "yule_k_lexical": QuerySpec(
        corpus.q_yule_k_lexical,
        """WITH pt AS (
  SELECT source, w, COUNT(*) AS c
  FROM (SELECT source,
          unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
        FROM documents)
  GROUP BY 1, 2),
ps AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_types,
    SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))) AS s2
  FROM pt GROUP BY 1)
SELECT source, n_tokens, CAST(n_types AS BIGINT) AS n_types,
  ROUND(10000.0 * ((CAST(s2 AS DOUBLE) - CAST(n_tokens AS DOUBLE))
                   / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))), 6)
    AS yule_k
FROM ps ORDER BY source""",
    ),
    "shapley_attribution": QuerySpec(
        events.q_shapley_attribution,
        """WITH fl AS (
  SELECT user_id,
    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS b1,
    MAX(CASE WHEN event_type = 'error' THEN 2 ELSE 0 END) AS b2,
    MAX(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END) AS b4,
    MAX(CASE WHEN event_type = 'view' THEN 8 ELSE 0 END) AS b8,
    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1),
pm AS (SELECT b1 + b2 + b4 + b8 AS mask, SUM(conv) AS conv FROM fl GROUP BY 1),
sp AS (SELECT CAST(i AS INT) AS s FROM range(0, 16) r(i)),
v AS (
  SELECT s, COALESCE(SUM(conv), 0) AS v
  FROM sp LEFT JOIN pm ON (s & mask) = mask GROUP BY 1),
ch AS (SELECT * FROM (VALUES ('click', 1), ('error', 2), ('signup', 4), ('view', 8)) c(channel, bit)),
gains AS (
  SELECT ch.channel,
    ([6, 2, 2, 6])[((v1.s & 1) + ((v1.s >> 1) & 1) + ((v1.s >> 2) & 1) + ((v1.s >> 3) & 1)) + 1]
      * (v2.v - v1.v) AS wgain
  FROM ch
  JOIN v v1 ON (v1.s & ch.bit) = 0
  JOIN v v2 ON v2.s = v1.s + ch.bit),
phi AS (SELECT channel, CAST(SUM(wgain) AS BIGINT) AS phi24 FROM gains GROUP BY 1),
tot AS (SELECT SUM(phi24) AS t24 FROM phi)
SELECT channel, phi24,
  ROUND(CAST(phi24 AS DOUBLE) / 24.0, 6) AS shapley,
  ROUND(CAST(phi24 AS DOUBLE) / CAST(t24 AS DOUBLE), 6) AS share
FROM phi, tot ORDER BY channel""",
    ),
    "nelson_aalen_hazard": QuerySpec(
        events.q_nelson_aalen_hazard,
        """WITH pu AS (
  SELECT v.user_id, v.vday,
    CASE WHEN p.pday >= v.vday THEN p.pday END AS cday
  FROM (SELECT user_id, MIN(CAST(ts AS DATE)) AS vday FROM events
        WHERE event_type = 'view' GROUP BY 1) v
  LEFT JOIN (SELECT user_id, MIN(CAST(ts AS DATE)) AS pday FROM events
             WHERE event_type = 'purchase' GROUP BY 1) p
  ON v.user_id = p.user_id),
en AS (SELECT vday AS day, COUNT(*) AS n_enter FROM pu GROUP BY 1),
cv AS (SELECT cday AS day, COUNT(*) AS d FROM pu WHERE cday IS NOT NULL GROUP BY 1),
days AS (
  SELECT COALESCE(en.day, cv.day) AS day,
    COALESCE(n_enter, 0) AS n_enter, COALESCE(d, 0) AS d
  FROM en FULL JOIN cv ON en.day = cv.day),
risk AS (
  SELECT day, d,
    SUM(n_enter) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
      - COALESCE(SUM(d) OVER (ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
  FROM days),
curve AS (
  SELECT day, d, n_risk,
    SUM(CASE WHEN d > 0 AND n_risk > 0 THEN
      CAST(ROUND(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE), 9) AS DECIMAL(18,9))
      END) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS h,
    SUM(CASE WHEN d > 0 AND n_risk > 0 THEN
      CAST(ROUND(CAST(d AS DOUBLE)
        / (CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE)), 12) AS DECIMAL(18,12))
      END) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS hv
  FROM risk)
SELECT strftime(day, '%Y-%m-%d') AS day, CAST(d AS BIGINT) AS d,
  CAST(n_risk AS BIGINT) AS n_risk,
  ROUND(CAST(h AS DOUBLE), 8) AS cum_hazard,
  ROUND(CAST(hv AS DOUBLE), 10) AS hazard_var
FROM curve WHERE d > 0 ORDER BY day""",
    ),
    "randomization_test_chars": QuerySpec(
        corpus.q_randomization_test_chars,
        f"""WITH d AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars FROM documents),
obs AS (
  SELECT MAX(CASE WHEN arm = 1 THEN m END) AS m1,
    MAX(CASE WHEN arm = 0 THEN m END) AS m0,
    CAST(SUM(n) AS BIGINT) AS n_docs
  FROM (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS arm,
          COUNT(*) AS n,
          CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS m
        FROM d GROUP BY 1)),
reps AS (
  SELECT CAST(i AS INT) AS k, n_chars,
    ('0x' || substr(md5('mcrt' || CAST(i AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS arm
  FROM d, range(1, {corpus.MCRT_K + 1}) r(i)),
pr AS (
  SELECT k,
    SUM(CASE WHEN arm = 1 THEN n_chars END) AS s1,
    SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
    SUM(CASE WHEN arm = 0 THEN n_chars END) AS s0,
    SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0
  FROM reps GROUP BY 1),
tail AS (
  SELECT SUM(CASE WHEN abs(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                           - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                       >= abs(m1 - m0) THEN 1 ELSE 0 END) AS n_extreme
  FROM pr, obs)
SELECT n_docs, CAST({corpus.MCRT_K} AS BIGINT) AS n_replicates,
  ROUND(m1 - m0, 6) AS obs_diff,
  CAST(n_extreme AS BIGINT) AS n_extreme,
  ROUND((1.0 + CAST(n_extreme AS DOUBLE)) / {float(corpus.MCRT_K + 1)!r}, 6) AS p_value
FROM obs, tail""",
    ),
    "readability_panel": QuerySpec(
        corpus.q_readability_panel,
        """WITH pd AS (
  SELECT source,
    len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w,
    GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS st,
    list_sum(list_transform(regexp_split_to_array(trim(lower(text)), '\\s+'),
      x -> GREATEST(len(regexp_extract_all(x, '[aeiouy]+')), 1))) AS sy
  FROM documents),
ps AS (
  SELECT source, COUNT(*) AS n_docs, CAST(SUM(w) AS BIGINT) AS words,
    CAST(SUM(st) AS BIGINT) AS sentences, CAST(SUM(sy) AS BIGINT) AS syllables
  FROM pd GROUP BY 1)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs, words, sentences, syllables,
  ROUND(CAST(206.835 AS DOUBLE)
        - CAST(1.015 AS DOUBLE) * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
        - CAST(84.6 AS DOUBLE) * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE)), 6)
    AS flesch_reading_ease,
  ROUND(CAST(0.39 AS DOUBLE) * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
        + CAST(11.8 AS DOUBLE) * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE))
        - CAST(15.59 AS DOUBLE), 6) AS fk_grade
FROM ps ORDER BY source""",
    ),
    "durbin_watson": QuerySpec(
        profiling.q_durbin_watson,
        """WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
    SUM(CAST(round(o_totalprice) AS BIGINT)) AS rev
  FROM orders GROUP BY 1),
st AS (SELECT SUM(rev) AS s, COUNT(*) AS n FROM daily),
y AS (SELECT day, n * rev - s AS y FROM daily, st),
lg AS (SELECT y, LAG(y) OVER (ORDER BY day) AS yp FROM y),
agg AS (
  SELECT COUNT(*) AS n_days,
    SUM(CAST(y - yp AS DECIMAL(19,0)) * CAST(y - yp AS DECIMAL(19,0))) AS num,
    SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS den
  FROM lg)
SELECT CAST(n_days AS BIGINT) AS n_days,
  ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS durbin_watson
FROM agg""",
    ),
    "transition_entropy": QuerySpec(
        events.q_transition_entropy,
        """WITH pr AS (
  SELECT e1, e2, COUNT(*) AS c FROM (
    SELECT event_type AS e1,
      LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2
    FROM events)
  WHERE e2 IS NOT NULL GROUP BY 1, 2),
rt AS (SELECT e1, SUM(c) AS cx FROM pr GROUP BY 1),
ct AS (SELECT e2, SUM(c) AS cy FROM pr GROUP BY 1),
tt AS (SELECT SUM(c) AS nt FROM pr),
hyx AS (
  SELECT SUM(CAST(ROUND(-(CAST(c AS DOUBLE) / CAST(nt AS DOUBLE))
      * ln(CAST(c AS DOUBLE) / CAST(cx AS DOUBLE)), 12) AS DECIMAL(18,12))) AS hyx,
    MAX(nt) AS nt
  FROM pr JOIN rt USING (e1), tt),
hy AS (
  SELECT SUM(CAST(ROUND(-(CAST(cy AS DOUBLE) / CAST(nt AS DOUBLE))
      * ln(CAST(cy AS DOUBLE) / CAST(nt AS DOUBLE)), 12) AS DECIMAL(18,12))) AS hy
  FROM ct, tt)
SELECT CAST(nt AS BIGINT) AS n_transitions,
  ROUND(CAST(hyx AS DOUBLE), 9) AS h_next_given_current,
  ROUND(CAST(hy AS DOUBLE), 9) AS h_next,
  ROUND((CAST(hy AS DOUBLE) - CAST(hyx AS DOUBLE)) / CAST(hy AS DOUBLE), 6)
    AS uncertainty_coefficient
FROM hyx, hy""",
    ),
    "mcnemar_filters": QuerySpec(
        corpus.q_mcnemar_filters,
        f"""WITH cl AS (
  SELECT CASE WHEN n_chars >= {corpus.MCN_CHARS} THEN 1 ELSE 0 END AS a_,
    CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) >= {corpus.MCN_TOKS}
      THEN 1 ELSE 0 END AS b_
  FROM documents),
cells AS (
  SELECT CAST(SUM(a_ * b_) AS BIGINT) AS both_pass,
    CAST(SUM(a_ * (1 - b_)) AS BIGINT) AS only_chars,
    CAST(SUM((1 - a_) * b_) AS BIGINT) AS only_tokens,
    CAST(SUM((1 - a_) * (1 - b_)) AS BIGINT) AS both_fail
  FROM cl)
SELECT both_pass, only_chars, only_tokens, both_fail,
  ROUND((CAST(only_chars AS DOUBLE) - CAST(only_tokens AS DOUBLE))
        * (CAST(only_chars AS DOUBLE) - CAST(only_tokens AS DOUBLE))
        / (CAST(only_chars AS DOUBLE) + CAST(only_tokens AS DOUBLE)), 6)
    AS mcnemar_chi2,
  ROUND(CAST(both_pass + both_fail AS DOUBLE)
        / CAST(both_pass + only_chars + only_tokens + both_fail AS DOUBLE), 6)
    AS agreement
FROM cells""",
    ),
    "heaps_law_fit": QuerySpec(
        corpus.q_heaps_law_fit,
        """WITH pt AS (
  SELECT source, w, COUNT(*) AS c
  FROM (SELECT source,
          unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
        FROM documents)
  GROUP BY 1, 2),
ps AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_types
  FROM pt GROUP BY 1),
pts AS (
  SELECT CAST(ROUND(ln(CAST(n_tokens AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
    CAST(ROUND(ln(CAST(n_types AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
  FROM ps),
m AS (
  SELECT COUNT(*) AS g, SUM(x) AS sx, SUM(y) AS sy,
    SUM(CAST(x * x AS DECIMAL(38,18))) AS sxx,
    SUM(CAST(x * y AS DECIMAL(38,18))) AS sxy,
    SUM(CAST(y * y AS DECIMAL(38,18))) AS syy
  FROM pts),
v AS (
  SELECT CAST(g AS BIGINT) AS g, CAST(g AS DOUBLE) AS gd,
    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
    CAST(g AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vxx,
    CAST(g AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS vxy,
    CAST(g AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vyy
  FROM m)
SELECT g AS n_sources,
  ROUND(vxy / vxx, 6) AS heaps_beta,
  ROUND((syd - (vxy / vxx) * sxd) / gd, 6) AS heaps_lnk,
  ROUND((vxy * vxy) / (vxx * vyy), 6) AS r_squared
FROM v""",
    ),
    "pettitt_changepoint": QuerySpec(
        profiling.q_pettitt_changepoint,
        """WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
  FROM orders GROUP BY 1),
s AS (
  SELECT a.day AS d1,
    CAST(SUM(CASE WHEN a.x > b.x THEN 1 WHEN a.x < b.x THEN -1 ELSE 0 END)
      AS BIGINT) AS s
  FROM daily a JOIN daily b ON a.day <> b.day GROUP BY 1),
u AS (SELECT d1, SUM(s) OVER (ORDER BY d1 ROWS UNBOUNDED PRECEDING) AS u FROM s),
n AS (SELECT COUNT(*) AS n FROM daily),
best AS (SELECT d1, u FROM u ORDER BY abs(u) DESC, d1 LIMIT 1)
SELECT CAST(n AS BIGINT) AS n_days, strftime(d1, '%Y-%m-%d') AS change_day,
  CAST(abs(u) AS BIGINT) AS k_stat,
  ROUND(-(6.0 * CAST(u AS DOUBLE) * CAST(u AS DOUBLE))
        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
           + CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 9) AS ln_approx_p
FROM best, n""",
    ),
    "jarque_bera_daily": QuerySpec(
        profiling.q_jarque_bera_daily,
        f"""WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
    SUM(CAST(round(o_totalprice) AS BIGINT)) AS x
  FROM orders GROUP BY 1),
m AS (
  SELECT COUNT(*) AS n, SUM(x) AS s1,
    SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS s2
  FROM daily),
mz AS (
  SELECT n,
    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
    sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
         - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
           * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) AS sd
  FROM m),
z AS (
  SELECT n, ROUND((CAST(x AS DOUBLE) - mean) / sd, 6) AS z
  FROM daily, mz),
p AS (
  SELECT n,
    SUM(CAST(ROUND(z * z, 9) AS DECIMAL(18,9))) AS z2,
    SUM(CAST(ROUND(z * z * z, 9) AS DECIMAL(18,9))) AS z3,
    SUM(CAST(ROUND(z * z * z * z, 9) AS DECIMAL(18,9))) AS z4
  FROM z GROUP BY 1),
f AS (
  SELECT n,
    (CAST(z3 AS DOUBLE) / CAST(n AS DOUBLE))
      / sqrt((CAST(z2 AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(z2 AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(z2 AS DOUBLE) / CAST(n AS DOUBLE))) AS skew,
    (CAST(z4 AS DOUBLE) / CAST(n AS DOUBLE))
      / ((CAST(z2 AS DOUBLE) / CAST(n AS DOUBLE))
         * (CAST(z2 AS DOUBLE) / CAST(n AS DOUBLE))) - 3.0 AS kurt
  FROM p)
SELECT CAST(n AS BIGINT) AS n_days,
  ROUND(skew, 6) AS skewness,
  ROUND(kurt, 6) AS excess_kurtosis,
  ROUND((CAST(n AS DOUBLE) / 6.0) * (skew * skew + (kurt * kurt) / 4.0), 6)
    AS jb_stat,
  CAST({profiling.JB_CRIT!r} AS DOUBLE) AS chi2_crit_95,
  (CAST(n AS DOUBLE) / 6.0) * (skew * skew + (kurt * kurt) / 4.0)
    > {profiling.JB_CRIT!r} AS reject_normality
FROM f""",
    ),
    "source_hhi": QuerySpec(
        corpus.q_source_hhi,
        """WITH ps AS (
  SELECT source, COUNT(*) AS docs,
    CAST(SUM(len(regexp_split_to_array(trim(lower(text)), '\\s+'))) AS BIGINT)
      AS toks
  FROM documents GROUP BY 1),
tot AS (SELECT SUM(docs) AS td, SUM(toks) AS tt, COUNT(*) AS g FROM ps),
agg AS (
  SELECT g,
    SUM(CAST(ROUND((CAST(docs AS DOUBLE) / CAST(td AS DOUBLE))
                   * (CAST(docs AS DOUBLE) / CAST(td AS DOUBLE)), 12)
        AS DECIMAL(18,12))) AS hd,
    SUM(CAST(ROUND((CAST(toks AS DOUBLE) / CAST(tt AS DOUBLE))
                   * (CAST(toks AS DOUBLE) / CAST(tt AS DOUBLE)), 12)
        AS DECIMAL(18,12))) AS ht
  FROM ps, tot GROUP BY 1)
SELECT CAST(g AS BIGINT) AS n_sources,
  ROUND(CAST(hd AS DOUBLE), 6) AS hhi_docs,
  ROUND(CAST(ht AS DOUBLE), 6) AS hhi_tokens,
  ROUND(1.0 / CAST(hd AS DOUBLE), 6) AS effective_sources_docs,
  ROUND(1.0 / CAST(ht AS DOUBLE), 6) AS effective_sources_tokens
FROM agg""",
    ),
    "price_index_fisher": QuerySpec(
        relational.q_price_index_fisher,
        f"""WITH py AS (
  SELECT l_partkey, EXTRACT(YEAR FROM o_orderdate) AS yr,
    CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q,
    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS r
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE EXTRACT(YEAR FROM o_orderdate) IN ({relational.PIDX_BASE_YEAR}, {relational.PIDX_COMP_YEAR})
  GROUP BY 1, 2 HAVING SUM(CAST(round(l_quantity) AS BIGINT)) > 0),
b AS (SELECT l_partkey AS pk, q AS qb, r AS rb FROM py WHERE yr = {relational.PIDX_BASE_YEAR}),
c AS (SELECT l_partkey AS pk, q AS qc, r AS rc FROM py WHERE yr = {relational.PIDX_COMP_YEAR}),
j AS (SELECT * FROM b JOIN c USING (pk)),
agg AS (
  SELECT COUNT(*) AS n_parts,
    SUM(CAST(ROUND((CAST(rc AS DOUBLE) / CAST(qc AS DOUBLE)) * CAST(qb AS DOUBLE), 6) AS DECIMAL(27,6))) AS cb,
    SUM(CAST(ROUND((CAST(rb AS DOUBLE) / CAST(qb AS DOUBLE)) * CAST(qb AS DOUBLE), 6) AS DECIMAL(27,6))) AS bb,
    SUM(CAST(ROUND((CAST(rc AS DOUBLE) / CAST(qc AS DOUBLE)) * CAST(qc AS DOUBLE), 6) AS DECIMAL(27,6))) AS cc,
    SUM(CAST(ROUND((CAST(rb AS DOUBLE) / CAST(qb AS DOUBLE)) * CAST(qc AS DOUBLE), 6) AS DECIMAL(27,6))) AS bc
  FROM j)
SELECT CAST(n_parts AS BIGINT) AS n_parts,
  ROUND(CAST(cb AS DOUBLE) / CAST(bb AS DOUBLE), 6) AS laspeyres,
  ROUND(CAST(cc AS DOUBLE) / CAST(bc AS DOUBLE), 6) AS paasche,
  ROUND(sqrt((CAST(cb AS DOUBLE) / CAST(bb AS DOUBLE))
             * (CAST(cc AS DOUBLE) / CAST(bc AS DOUBLE))), 6) AS fisher
FROM agg""",
    ),
    "interarrival_burstiness": QuerySpec(
        events.q_interarrival_burstiness,
        """WITH g AS (
  SELECT CAST(epoch_us(nxt) - epoch_us(ts) AS BIGINT) AS gap
  FROM (SELECT ts, LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        FROM events)
  WHERE nxt IS NOT NULL),
m AS (
  SELECT COUNT(*) AS n, SUM(gap) AS s1,
    SUM(CAST(gap AS DECIMAL(38,0)) * CAST(gap AS DECIMAL(38,0))) AS s2
  FROM g),
f AS (
  SELECT n,
    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
    sqrt(GREATEST(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
         - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
           * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)), 0.0)) AS sd,
    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
         - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
           * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS var
  FROM m)
SELECT CAST(n AS BIGINT) AS n_gaps,
  ROUND(mu / 1000000.0, 6) AS mean_gap_s,
  ROUND(sd / 1000000.0, 6) AS sd_gap_s,
  ROUND(var / (mu * mu), 6) AS cv_squared,
  ROUND((sd - mu) / (sd + mu), 6) AS burstiness_b
FROM f""",
    ),
    "embedding_effective_rank": QuerySpec(
        similarity.q_embedding_effective_rank,
        """WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
pos AS (SELECT vec_id, CAST(i AS INT) AS i, v[CAST(i AS INT)] AS x
        FROM e, range(1, 65) r(i)),
mom AS (
  SELECT a.i AS i, b.i AS j, SUM(CAST(a.x * b.x AS DECIMAL(27,10))) AS s
  FROM pos a JOIN pos b ON a.vec_id = b.vec_id AND a.i <= b.i GROUP BY 1, 2),
mu AS (SELECT i, SUM(CAST(x AS DECIMAL(27,10))) AS m FROM pos GROUP BY 1),
nn AS (SELECT COUNT(*) AS n FROM e),
cells AS (
  SELECT mom.i, mom.j, nn.n,
    ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
          - (CAST(mi.m AS DOUBLE) / CAST(n AS DOUBLE))
            * (CAST(mj.m AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS c
  FROM mom
  JOIN mu mi ON mom.i = mi.i
  JOIN mu mj ON mom.j = mj.i, nn),
agg AS (
  SELECT n,
    SUM(CASE WHEN i = j THEN CAST(c AS DECIMAL(18,9)) END) AS tr,
    SUM(CAST(ROUND(c * c, 12) * CAST(CASE WHEN i = j THEN 1 ELSE 2 END AS DOUBLE)
        AS DECIMAL(18,12))) AS fr
  FROM cells GROUP BY 1)
SELECT CAST(n AS BIGINT) AS n_vectors,
  ROUND(CAST(tr AS DOUBLE), 6) AS trace,
  ROUND(CAST(fr AS DOUBLE), 9) AS frobenius_sq,
  ROUND((CAST(tr AS DOUBLE) * CAST(tr AS DOUBLE)) / CAST(fr AS DOUBLE), 6)
    AS effective_rank
FROM agg""",
    ),
    "corpus_novelty_curve": QuerySpec(
        corpus.q_corpus_novelty_curve,
        rf"""WITH mx AS (SELECT MAX(doc_id) AS mx FROM documents),
t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
bk AS (
  SELECT doc_id,
    CAST(FLOOR(CAST(doc_id * {corpus.CURVE_BUCKETS} AS DOUBLE)
               / CAST(mx + 1 AS DOUBLE)) AS INT) AS bucket
  FROM t, mx),
grams AS (
  SELECT bk.bucket, array_to_string(toks[i:i+{corpus.CURVE_N - 1}], ' ') AS gram
  FROM t JOIN bk USING (doc_id), range(1, 10000) r(i)
  WHERE i <= len(toks) - {corpus.CURVE_N - 1}),
bg AS (SELECT DISTINCT bucket, gram FROM grams),
pb AS (SELECT bucket, COUNT(*) AS distinct_grams FROM bg GROUP BY 1),
nv AS (
  SELECT bucket, COUNT(*) AS novel_grams
  FROM (SELECT gram, MIN(bucket) AS bucket FROM bg GROUP BY 1) GROUP BY 1),
nd AS (SELECT bucket, COUNT(*) AS n_docs FROM bk GROUP BY 1)
SELECT CAST(nd.bucket AS BIGINT) AS bucket, CAST(n_docs AS BIGINT) AS n_docs,
  CAST(COALESCE(distinct_grams, 0) AS BIGINT) AS distinct_grams,
  CAST(COALESCE(novel_grams, 0) AS BIGINT) AS novel_grams,
  ROUND(CAST(COALESCE(novel_grams, 0) AS DOUBLE)
        / CAST(COALESCE(distinct_grams, 0) AS DOUBLE), 6) AS novelty_rate
FROM nd LEFT JOIN pb ON nd.bucket = pb.bucket
LEFT JOIN nv ON nd.bucket = nv.bucket
ORDER BY bucket""",
    ),
    "cramer_von_mises": QuerySpec(
        profiling.q_cramer_von_mises,
        """WITH sp AS (
  SELECT median(datediff('day', DATE '1970-01-01', CAST(date_trunc('day', o_orderdate) AS DATE))) AS mid
  FROM orders),
vals AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
    CASE WHEN datediff('day', DATE '1970-01-01', CAST(date_trunc('day', o_orderdate) AS DATE)) <= mid
      THEN 1 ELSE 0 END AS s1
  FROM orders, sp),
pv AS (
  SELECT v, SUM(s1) AS w1, SUM(1 - s1) AS w2 FROM vals GROUP BY v),
cum AS (
  SELECT v, w1 + w2 AS w,
    SUM(w1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c1,
    SUM(w2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c2
  FROM pv),
n AS (SELECT SUM(s1) AS n1, SUM(1 - s1) AS n2 FROM vals),
agg AS (
  SELECT n1, n2,
    SUM(CAST(w AS DECIMAL(38,0))
        * CAST(c1 * n2 - c2 * n1 AS DECIMAL(38,0))
        * CAST(c1 * n2 - c2 * n1 AS DECIMAL(38,0))) AS u
  FROM cum, n GROUP BY 1, 2)
SELECT CAST(n1 AS BIGINT) AS n_first_half, CAST(n2 AS BIGINT) AS n_second_half,
  ROUND((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
         / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
            * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))))
        * (CAST(u AS DOUBLE)
           / ((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
              * (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))), 6) AS cvm_stat
FROM agg""",
    ),
    "hampel_outlier_days": QuerySpec(
        profiling.q_hampel_outlier_days,
        f"""WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
  FROM orders GROUP BY 1),
pairs AS (
  SELECT a.day AS t, a.x AS xt, b.x AS xj
  FROM daily a JOIN daily b
  ON datediff('day', a.day, b.day) BETWEEN -{profiling.HAMPEL_HALF} AND {profiling.HAMPEL_HALF}),
med AS (
  SELECT t, MAX(xt) AS xt, quantile_cont(xj, 0.5) AS med, COUNT(*) AS cnt
  FROM pairs GROUP BY t),
mad AS (
  SELECT p.t, quantile_cont(abs(CAST(p.xj AS DOUBLE) - m.med), 0.5) AS mad
  FROM pairs p JOIN med m ON p.t = m.t GROUP BY 1),
fl AS (
  SELECT med.t,
    abs(CAST(xt AS DOUBLE) - med) / (1.4826 * mad) AS ratio
  FROM med JOIN mad ON med.t = mad.t
  WHERE cnt = {2 * profiling.HAMPEL_HALF + 1})
SELECT CAST(COUNT(*) AS BIGINT) AS n_days_checked,
  CAST(SUM(CASE WHEN ratio > {profiling.HAMPEL_K!r} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_outliers,
  ROUND(MAX(ratio), 6) AS max_deviation_ratio
FROM fl""",
    ),
    "negative_binomial_fit": QuerySpec(
        events.q_negative_binomial_fit,
        """WITH pu AS (SELECT user_id, COUNT(*) AS k FROM events GROUP BY 1),
m AS (
  SELECT COUNT(*) AS n, SUM(k) AS s1,
    SUM(CAST(k AS DECIMAL(38,0)) * CAST(k AS DECIMAL(38,0))) AS s2
  FROM pu),
f AS (
  SELECT n,
    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
      - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS var
  FROM m)
SELECT CAST(n AS BIGINT) AS n_users,
  ROUND(mu, 6) AS mean_events,
  ROUND(var, 6) AS var_events,
  ROUND(CASE WHEN var > mu THEN (mu * mu) / (var - mu) END, 6) AS nb_r,
  ROUND(CASE WHEN var > mu THEN mu / var END, 6) AS nb_p
FROM f""",
    ),
    "char_entropy_bits": QuerySpec(
        corpus.q_char_entropy_bits,
        f"""WITH ch AS (
  SELECT source, substr(text, CAST(i AS INT), 1) AS ch
  FROM documents, range(1, 100000) r(i) WHERE i <= len(text)),
per AS (SELECT source, ch, COUNT(*) AS c FROM ch GROUP BY 1, 2),
tot AS (SELECT source, SUM(c) AS n, COUNT(*) AS k FROM per GROUP BY 1),
h AS (
  SELECT per.source, MAX(n) AS n, MAX(k) AS k,
    SUM(CAST(ROUND(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 12) AS DECIMAL(18,12))) AS h
  FROM per JOIN tot ON per.source = tot.source GROUP BY 1)
SELECT source, CAST(n AS BIGINT) AS n_chars, CAST(k AS BIGINT) AS n_distinct_chars,
  ROUND(CAST(h AS DOUBLE) / {corpus.LN2!r}, 6) AS entropy_bits_per_char
FROM h ORDER BY source""",
    ),
    "ship_latency_profile": QuerySpec(
        relational.q_ship_latency_profile,
        f"""WITH lat AS (
  SELECT o_orderpriority AS priority,
    datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS lat
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
per AS (SELECT priority, lat, COUNT(*) AS c FROM lat GROUP BY 1, 2),
cum AS (
  SELECT priority, lat, c,
    SUM(c) OVER (PARTITION BY priority ORDER BY lat ROWS UNBOUNDED PRECEDING) AS cum
  FROM per),
tot AS (
  SELECT priority, SUM(c) AS n,
    SUM(CAST(c AS DECIMAL(38,0)) * lat) AS s, MAX(lat) AS max_days
  FROM per GROUP BY 1),
j AS (
  SELECT cum.priority, n, s, max_days,
    MIN(CASE WHEN cum >= CEIL({relational.LAT_P50!r} * n) THEN lat END) AS p50_days,
    MIN(CASE WHEN cum >= CEIL({relational.LAT_P90!r} * n) THEN lat END) AS p90_days
  FROM cum JOIN tot ON cum.priority = tot.priority
  GROUP BY 1, 2, 3, 4)
SELECT priority, CAST(n AS BIGINT) AS n_lineitems,
  ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_days,
  CAST(p50_days AS BIGINT) AS p50_days, CAST(p90_days AS BIGINT) AS p90_days,
  CAST(max_days AS BIGINT) AS max_days
FROM j ORDER BY priority""",
    ),
    "wilson_pass_rate_ci": QuerySpec(
        curation.q_wilson_pass_rate_ci,
        f"""WITH per AS (
  SELECT source, COUNT(*) AS n,
    SUM(CASE WHEN n_chars >= {corpus.MCN_CHARS} THEN 1 ELSE 0 END) AS k
  FROM documents GROUP BY 1),
f AS (
  SELECT source, n, k,
    CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
    CAST(n AS DOUBLE) AS nd
  FROM per)
SELECT source, CAST(n AS BIGINT) AS n_docs, CAST(k AS BIGINT) AS n_pass,
  ROUND(p, 6) AS pass_rate,
  ROUND((p + {curation.WILSON_Z!r} * {curation.WILSON_Z!r} / (2.0 * nd))
          / (1.0 + {curation.WILSON_Z!r} * {curation.WILSON_Z!r} / nd)
        - {curation.WILSON_Z!r}
          * sqrt(p * (1.0 - p) / nd
                 + {curation.WILSON_Z!r} * {curation.WILSON_Z!r} / (4.0 * nd * nd))
          / (1.0 + {curation.WILSON_Z!r} * {curation.WILSON_Z!r} / nd), 6) AS wilson_lo,
  ROUND((p + {curation.WILSON_Z!r} * {curation.WILSON_Z!r} / (2.0 * nd))
          / (1.0 + {curation.WILSON_Z!r} * {curation.WILSON_Z!r} / nd)
        + {curation.WILSON_Z!r}
          * sqrt(p * (1.0 - p) / nd
                 + {curation.WILSON_Z!r} * {curation.WILSON_Z!r} / (4.0 * nd * nd))
          / (1.0 + {curation.WILSON_Z!r} * {curation.WILSON_Z!r} / nd), 6) AS wilson_hi
FROM f ORDER BY source""",
    ),
    "theil_atkinson_inequality": QuerySpec(
        profiling.q_theil_atkinson_inequality,
        """WITH per AS (
  SELECT o_custkey, CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
  FROM orders GROUP BY 1 HAVING SUM(CAST(round(o_totalprice * 100) AS BIGINT)) > 0),
tot AS (SELECT COUNT(*) AS n, SUM(x) AS s FROM per),
agg AS (
  SELECT n, s,
    SUM(CAST(ROUND((CAST(x AS DOUBLE) / CAST(s AS DOUBLE))
        * ln(CAST(n AS DOUBLE) * CAST(x AS DOUBLE) / CAST(s AS DOUBLE)), 12)
        AS DECIMAL(18,12))) AS t,
    SUM(CAST(ROUND(1.0 / CAST(x AS DOUBLE), 15) AS DECIMAL(18,15))) AS r
  FROM per, tot GROUP BY 1, 2)
SELECT CAST(n AS BIGINT) AS n_customers,
  ROUND(CAST(t AS DOUBLE), 6) AS theil_t,
  ROUND(1.0 - (CAST(n AS DOUBLE) / CAST(r AS DOUBLE))
              / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS atkinson_2,
  ROUND((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0, 6) AS mean_spend,
  ROUND((CAST(n AS DOUBLE) / CAST(r AS DOUBLE)) / 100.0, 6) AS harmonic_mean_spend
FROM agg""",
    ),
    "daily_growth_profile": QuerySpec(
        profiling.q_daily_growth_profile,
        """WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
  FROM orders GROUP BY 1),
base AS (
  SELECT day, x,
    LAG(x) OVER (ORDER BY day) AS xp,
    MAX(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS peak
  FROM daily),
g AS (
  SELECT day, ROUND(CAST(x - xp AS DOUBLE) / CAST(xp AS DOUBLE), 9) AS g
  FROM base WHERE xp IS NOT NULL),
rk AS (
  SELECT g, ROW_NUMBER() OVER (ORDER BY g, day) AS rn, COUNT(*) OVER () AS m
  FROM g),
mids AS (
  SELECT MAX(CASE WHEN rn = (m + 1) // 2 THEN g END) AS g_lo,
    MAX(CASE WHEN rn = (m + 2) // 2 THEN g END) AS g_hi,
    SUM(CASE WHEN g > 0 THEN 1 ELSE 0 END) AS n_up,
    MAX(m) AS m
  FROM rk),
dd AS (
  SELECT MAX(ROUND(1.0 - CAST(x AS DOUBLE) / CAST(peak AS DOUBLE), 9)) AS max_dd
  FROM base)
SELECT CAST(m AS BIGINT) AS n_growth_days,
  ROUND((g_lo + g_hi) / 2.0, 6) AS median_growth,
  ROUND(CAST(n_up AS DOUBLE) / CAST(m AS DOUBLE), 6) AS up_share,
  ROUND(max_dd, 6) AS max_drawdown
FROM mids, dd""",
    ),
    "hourly_uniformity_chi2": QuerySpec(
        events.q_hourly_uniformity_chi2,
        """WITH per AS (
  SELECT EXTRACT(HOUR FROM ts) AS h, COUNT(*) AS o FROM events GROUP BY 1),
sp AS (SELECT CAST(i AS INT) AS h FROM range(0, 24) r(i)),
tot AS (SELECT SUM(o) AS n FROM per),
fl AS (
  SELECT sp.h, COALESCE(o, 0) AS o, n FROM sp LEFT JOIN per ON sp.h = per.h, tot),
agg AS (
  SELECT n,
    SUM(CAST(ROUND((o - CAST(n AS DOUBLE) / 24.0) * (o - CAST(n AS DOUBLE) / 24.0)
                   / (CAST(n AS DOUBLE) / 24.0), 6) AS DECIMAL(27,6))) AS chi2,
    MAX(o) AS peak_count, MIN(o) AS trough_count
  FROM fl GROUP BY 1)
SELECT CAST(n AS BIGINT) AS n_events,
  ROUND(CAST(chi2 AS DOUBLE), 6) AS chi_square,
  CAST(23 AS BIGINT) AS dof,
  CAST(peak_count AS BIGINT) AS peak_count,
  CAST(trough_count AS BIGINT) AS trough_count,
  ROUND(CAST(peak_count AS DOUBLE) / CAST(trough_count AS DOUBLE), 6)
    AS peak_trough_ratio
FROM agg""",
    ),
    "video_frame_sample_gate": QuerySpec(
        multimodal.q_video_frame_sample_gate,
        f"""WITH ids AS (
  SELECT doc_id AS m, 16 + (doc_id % 16) AS w, 12 + ((doc_id * 5) % 12) AS h,
    8 + (doc_id % 9) AS n, doc_id % 251 AS base
  FROM documents WHERE doc_id < {multimodal._GATE_DOCS}),
fr AS (
  SELECT m, w, h, n, base, CAST(f AS BIGINT) AS f
  FROM ids, range(0, 32) r(f)
  WHERE f < n AND f % {multimodal.VIDEO_SAMPLE_EVERY} = 0),
px AS (
  SELECT m, w, h, n, base, f, CAST(i AS BIGINT) AS i
  FROM fr, range(0, 2048) p(i) WHERE i < w * h),
vals AS (
  SELECT m, w, h, n, f, i,
    (base + 3 * f + ((i % w) + (i // w))) % 256 AS v,
    CASE WHEN f >= {multimodal.VIDEO_SAMPLE_EVERY}
      THEN (base + 3 * (f - {multimodal.VIDEO_SAMPLE_EVERY}) + ((i % w) + (i // w))) % 256
    END AS vp
  FROM px),
agg AS (
  SELECT m AS media_id, MAX(w) AS width, MAX(h) AS height, MAX(n) AS n_frames,
    f AS frame_idx,
    SUM(v * ((i % 9973) + 1)) AS frame_checksum,
    SUM(abs(v - vp)) AS diff_prev_sampled
  FROM vals GROUP BY m, f)
SELECT CAST(media_id AS BIGINT) AS media_id, CAST(width AS BIGINT) AS width,
  CAST(height AS BIGINT) AS height, CAST(n_frames AS BIGINT) AS n_frames,
  CAST(frame_idx AS BIGINT) AS frame_idx,
  CAST(frame_checksum AS BIGINT) AS frame_checksum,
  CAST(diff_prev_sampled AS BIGINT) AS diff_prev_sampled
FROM agg ORDER BY media_id, frame_idx""",
    ),
    "rbo_topk_stability": QuerySpec(
        advanced.q_rbo_topk_stability,
        f"""WITH toks AS (
  SELECT ('0x' || substr(md5('{advanced.TOPK_STAB_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS half,
    unnest(string_split(lower(trim(text)), ' ')) AS token
  FROM (SELECT doc_id, regexp_replace(text, '\\s+', ' ', 'g') AS text FROM documents)),
counts AS (SELECT half, token, COUNT(*) AS n FROM toks GROUP BY 1, 2),
ra AS (SELECT token, rk AS ra FROM (
  SELECT token, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rk
  FROM counts WHERE half = 0) WHERE rk <= {advanced.RBO_K}),
rb AS (SELECT token, rk AS rb FROM (
  SELECT token, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rk
  FROM counts WHERE half = 1) WHERE rk <= {advanced.RBO_K}),
entry AS (SELECT GREATEST(ra, rb) AS m FROM ra JOIN rb USING (token)),
dep AS (SELECT CAST(i AS INT) AS d FROM range(1, {advanced.RBO_K + 1}) r(i)),
inter AS (
  SELECT d, COUNT(m) AS x FROM dep LEFT JOIN entry ON m <= d GROUP BY 1),
agg AS (
  SELECT
    SUM(CAST(ROUND(([{', '.join(repr(x) for x in advanced._rbo_weights())}])[d]
        * (CAST(x AS DOUBLE) / CAST(d AS DOUBLE)), 12) AS DECIMAL(18,12))) AS rbo,
    MAX(CASE WHEN d = {advanced.RBO_K} THEN x END) AS overlap_at_k
  FROM inter)
SELECT CAST({advanced.RBO_K} AS BIGINT) AS k,
  CAST(overlap_at_k AS BIGINT) AS overlap_at_k,
  ROUND(CAST(rbo AS DOUBLE), 6) AS rbo
FROM agg""",
    ),
    "james_stein_nation_means": QuerySpec(
        profiling.q_james_stein_nation_means,
        """WITH per AS (
  SELECT c.c_nationkey, COUNT(*) AS n_i,
    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s_i,
    SUM(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DECIMAL(38,0))
        * CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DECIMAL(38,0))) AS q_i
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey GROUP BY 1),
tot AS (
  SELECT COUNT(*) AS g, CAST(SUM(n_i) AS BIGINT) AS n,
    CAST(SUM(s_i) AS BIGINT) AS s, SUM(q_i) AS q
  FROM per),
agg AS (
  SELECT g, n, s, q,
    SUM(CAST(ROUND((CAST(s_i AS DOUBLE) / CAST(n_i AS DOUBLE)
                    - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(s_i AS DOUBLE) / CAST(n_i AS DOUBLE)
                      - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        AS DECIMAL(27,6))) AS ss,
    SUM(CAST(ROUND(1.0 / CAST(n_i AS DOUBLE), 15) AS DECIMAL(18,15))) AS hh
  FROM per, tot GROUP BY 1, 2, 3, 4)
SELECT CAST(per.c_nationkey AS BIGINT) AS nation,
  CAST(n_i AS BIGINT) AS n_orders,
  ROUND((CAST(s_i AS DOUBLE) / CAST(n_i AS DOUBLE)) / 100.0, 6) AS raw_mean,
  ROUND((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
         + GREATEST(0.0, 1.0 - ((CAST(g AS DOUBLE) - 3.0)
             * ((CAST(q AS DOUBLE) / CAST(n AS DOUBLE)
                 - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
                * (CAST(hh AS DOUBLE) / CAST(g AS DOUBLE))))
             / CAST(ss AS DOUBLE))
           * (CAST(s_i AS DOUBLE) / CAST(n_i AS DOUBLE)
              - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) / 100.0, 6) AS js_mean,
  ROUND(GREATEST(0.0, 1.0 - ((CAST(g AS DOUBLE) - 3.0)
          * ((CAST(q AS DOUBLE) / CAST(n AS DOUBLE)
              - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
             * (CAST(hh AS DOUBLE) / CAST(g AS DOUBLE))))
          / CAST(ss AS DOUBLE)), 6) AS shrinkage_c
FROM per, agg ORDER BY nation""",
    ),
    "good_turing_unseen": QuerySpec(
        corpus.q_good_turing_unseen,
        f"""WITH cnt AS (
  SELECT w, COUNT(*) AS c
  FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
        FROM documents)
  GROUP BY 1),
fof AS (SELECT c, COUNT(*) AS v FROM cnt GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS types FROM cnt),
sp AS (SELECT CAST(i AS BIGINT) AS r FROM range(1, {corpus.GT_MAX_R + 1}) x(i)),
vr AS (SELECT r, v AS vr FROM sp LEFT JOIN fof ON fof.c = sp.r),
vr1 AS (SELECT c - 1 AS r, v AS vr1 FROM fof)
SELECT sp.r AS r,
  CAST(COALESCE(vr, 0) AS BIGINT) AS v_r,
  CAST(COALESCE(vr1, 0) AS BIGINT) AS v_r_plus_1,
  ROUND(CAST((sp.r + 1) AS DOUBLE) * CAST(COALESCE(vr1, 0) AS DOUBLE)
        / CAST(COALESCE(vr, 0) AS DOUBLE), 6) AS r_star,
  ROUND(CASE WHEN sp.r = 1 THEN CAST(COALESCE(vr, 0) AS DOUBLE) END
        / CAST(n AS DOUBLE), 9) AS p_unseen,
  n AS n_tokens, CAST(types AS BIGINT) AS n_types
FROM sp
LEFT JOIN vr ON sp.r = vr.r
LEFT JOIN vr1 ON sp.r = vr1.r, tot
ORDER BY r""",
    ),
    "pr_auc_quality": QuerySpec(
        curation.q_pr_auc_quality,
        """WITH bv AS (
  SELECT n_chars AS score, COUNT(*) AS c_all,
    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_pos
  FROM documents GROUP BY 1),
cum AS (
  SELECT score,
    SUM(c_pos) OVER (ORDER BY score DESC ROWS UNBOUNDED PRECEDING) AS tp,
    SUM(c_all) OVER (ORDER BY score DESC ROWS UNBOUNDED PRECEDING) AS all_,
    SUM(c_pos) OVER (ORDER BY score DESC ROWS UNBOUNDED PRECEDING) - c_pos AS tp_prev
  FROM bv),
tot AS (SELECT SUM(c_pos) AS n_pos, SUM(c_all) AS n_all FROM bv),
agg AS (
  SELECT n_pos, n_all,
    SUM(CAST(ROUND((CAST(tp - tp_prev AS DOUBLE) / CAST(n_pos AS DOUBLE))
        * (CAST(tp AS DOUBLE) / CAST(all_ AS DOUBLE)), 12) AS DECIMAL(18,12))) AS ap
  FROM cum, tot GROUP BY 1, 2)
SELECT CAST(n_pos AS BIGINT) AS n_pos,
  CAST(n_all - n_pos AS BIGINT) AS n_neg,
  ROUND(CAST(n_pos AS DOUBLE) / CAST(n_all AS DOUBLE), 6) AS base_rate,
  ROUND(CAST(ap AS DOUBLE), 6) AS average_precision
FROM agg""",
    ),
    "best_f1_threshold": QuerySpec(
        curation.q_best_f1_threshold,
        """WITH bv AS (
  SELECT n_chars AS score, COUNT(*) AS c_all,
    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_pos
  FROM documents GROUP BY 1),
cum AS (
  SELECT score,
    SUM(c_pos) OVER (ORDER BY score DESC ROWS UNBOUNDED PRECEDING) AS tp,
    SUM(c_all) OVER (ORDER BY score DESC ROWS UNBOUNDED PRECEDING) AS pred
  FROM bv),
tot AS (SELECT SUM(c_pos) AS n_pos FROM bv),
j AS (
  SELECT score, tp, pred, n_pos,
    ROUND(2.0 * CAST(tp AS DOUBLE) / CAST(pred + n_pos AS DOUBLE), 9) AS f1
  FROM cum, tot),
best AS (SELECT * FROM j ORDER BY f1 DESC, score ASC LIMIT 1)
SELECT CAST(score AS BIGINT) AS threshold, CAST(tp AS BIGINT) AS tp,
  CAST(pred AS BIGINT) AS n_predicted_pos, CAST(n_pos AS BIGINT) AS n_pos,
  ROUND(CAST(tp AS DOUBLE) / CAST(pred AS DOUBLE), 6) AS precision,
  ROUND(CAST(tp AS DOUBLE) / CAST(n_pos AS DOUBLE), 6) AS recall,
  ROUND(f1, 6) AS f1
FROM best""",
    ),
    "bradley_terry_strengths": QuerySpec(
        events.q_bradley_terry_strengths,
        """WITH pu AS MATERIALIZED (
  SELECT user_id,
    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c0,
    SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS c1,
    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c2,
    SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS c3,
    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c4
  FROM events GROUP BY 1),
wins AS MATERIALIZED (
  SELECT 'click' AS i, 'error' AS j, SUM(CASE WHEN c0 > c1 THEN 1 ELSE 0 END) AS w FROM pu
  UNION ALL SELECT 'click' AS i, 'purchase' AS j, SUM(CASE WHEN c0 > c2 THEN 1 ELSE 0 END) AS w FROM pu
  UNION ALL SELECT 'click' AS i, 'signup' AS j, SUM(CASE WHEN c0 > c3 THEN 1 ELSE 0 END) AS w FROM pu
  UNION ALL SELECT 'click' AS i, 'view' AS j, SUM(CASE WHEN c0 > c4 THEN 1 ELSE 0 END) AS w FROM pu
  UNION ALL SELECT 'error' AS i, 'click' AS j, SUM(CASE WHEN c1 > c0 THEN 1 ELSE 0 END) AS w FROM pu
  UNION ALL SELECT 'error' AS i, 'purchase' AS j, SUM(CASE WHEN c1 > c2 THEN 1 ELSE 0 END) AS w FROM pu
  UNION ALL SELECT 'error' AS i, 'signup' AS j, SUM(CASE WHEN c1 > c3 THEN 1 ELSE 0 END) AS w FROM pu
  UNION ALL SELECT 'error' AS i, 'view' AS j, SUM(CASE WHEN c1 > c4 THEN 1 ELSE 0 END) AS w FROM pu
  UNION ALL SELECT 'purchase' AS i, 'click' AS j, SUM(CASE WHEN c2 > c0 THEN 1 ELSE 0 END) AS w FROM pu
  UNION ALL SELECT 'purchase' AS i, 'error' AS j, SUM(CASE WHEN c2 > c1 THEN 1 ELSE 0 END) AS w FROM pu
  UNION ALL SELECT 'purchase' AS i, 'signup' AS j, SUM(CASE WHEN c2 > c3 THEN 1 ELSE 0 END) AS w FROM pu
  UNION ALL SELECT 'purchase' AS i, 'view' AS j, SUM(CASE WHEN c2 > c4 THEN 1 ELSE 0 END) AS w FROM pu
  UNION ALL SELECT 'signup' AS i, 'click' AS j, SUM(CASE WHEN c3 > c0 THEN 1 ELSE 0 END) AS w FROM pu
  UNION ALL SELECT 'signup' AS i, 'error' AS j, SUM(CASE WHEN c3 > c1 THEN 1 ELSE 0 END) AS w FROM pu
  UNION ALL SELECT 'signup' AS i, 'purchase' AS j, SUM(CASE WHEN c3 > c2 THEN 1 ELSE 0 END) AS w FROM pu
  UNION ALL SELECT 'signup' AS i, 'view' AS j, SUM(CASE WHEN c3 > c4 THEN 1 ELSE 0 END) AS w FROM pu
  UNION ALL SELECT 'view' AS i, 'click' AS j, SUM(CASE WHEN c4 > c0 THEN 1 ELSE 0 END) AS w FROM pu
  UNION ALL SELECT 'view' AS i, 'error' AS j, SUM(CASE WHEN c4 > c1 THEN 1 ELSE 0 END) AS w FROM pu
  UNION ALL SELECT 'view' AS i, 'purchase' AS j, SUM(CASE WHEN c4 > c2 THEN 1 ELSE 0 END) AS w FROM pu
  UNION ALL SELECT 'view' AS i, 'signup' AS j, SUM(CASE WHEN c4 > c3 THEN 1 ELSE 0 END) AS w FROM pu),
n AS (SELECT a.i, a.j, a.w + b.w AS n FROM wins a JOIN wins b ON a.i = b.j AND a.j = b.i),
bw AS (SELECT i, SUM(w) AS W FROM wins GROUP BY 1),
p0 AS (SELECT i, CAST(0.2 AS DOUBLE) AS p FROM bw),
t1 AS (
  SELECT n.i, CAST(ROUND(CAST(n.n AS DOUBLE) / (pi.p + pj.p), 12) AS DECIMAL(18,12)) AS t
  FROM n JOIN p0 pi ON n.i = pi.i JOIN p0 pj ON n.j = pj.i),
d1 AS (SELECT i, SUM(t) AS d FROM t1 GROUP BY 1),
raw1 AS (
  SELECT bw.i, CAST(W AS DOUBLE) / CAST(d AS DOUBLE) AS pr
  FROM bw JOIN d1 ON bw.i = d1.i),
s1 AS (SELECT SUM(CAST(ROUND(pr, 9) AS DECIMAL(18,9))) AS s FROM raw1),
p1 AS (SELECT i, ROUND(ROUND(pr, 9) / CAST(s AS DOUBLE), 9) AS p FROM raw1, s1),
t2 AS (
  SELECT n.i, CAST(ROUND(CAST(n.n AS DOUBLE) / (pi.p + pj.p), 12) AS DECIMAL(18,12)) AS t
  FROM n JOIN p1 pi ON n.i = pi.i JOIN p1 pj ON n.j = pj.i),
d2 AS (SELECT i, SUM(t) AS d FROM t2 GROUP BY 1),
raw2 AS (
  SELECT bw.i, CAST(W AS DOUBLE) / CAST(d AS DOUBLE) AS pr
  FROM bw JOIN d2 ON bw.i = d2.i),
s2 AS (SELECT SUM(CAST(ROUND(pr, 9) AS DECIMAL(18,9))) AS s FROM raw2),
p2 AS (SELECT i, ROUND(ROUND(pr, 9) / CAST(s AS DOUBLE), 9) AS p FROM raw2, s2),
t3 AS (
  SELECT n.i, CAST(ROUND(CAST(n.n AS DOUBLE) / (pi.p + pj.p), 12) AS DECIMAL(18,12)) AS t
  FROM n JOIN p2 pi ON n.i = pi.i JOIN p2 pj ON n.j = pj.i),
d3 AS (SELECT i, SUM(t) AS d FROM t3 GROUP BY 1),
raw3 AS (
  SELECT bw.i, CAST(W AS DOUBLE) / CAST(d AS DOUBLE) AS pr
  FROM bw JOIN d3 ON bw.i = d3.i),
s3 AS (SELECT SUM(CAST(ROUND(pr, 9) AS DECIMAL(18,9))) AS s FROM raw3),
p3 AS (SELECT i, ROUND(ROUND(pr, 9) / CAST(s AS DOUBLE), 9) AS p FROM raw3, s3),
t4 AS (
  SELECT n.i, CAST(ROUND(CAST(n.n AS DOUBLE) / (pi.p + pj.p), 12) AS DECIMAL(18,12)) AS t
  FROM n JOIN p3 pi ON n.i = pi.i JOIN p3 pj ON n.j = pj.i),
d4 AS (SELECT i, SUM(t) AS d FROM t4 GROUP BY 1),
raw4 AS (
  SELECT bw.i, CAST(W AS DOUBLE) / CAST(d AS DOUBLE) AS pr
  FROM bw JOIN d4 ON bw.i = d4.i),
s4 AS (SELECT SUM(CAST(ROUND(pr, 9) AS DECIMAL(18,9))) AS s FROM raw4),
p4 AS (SELECT i, ROUND(ROUND(pr, 9) / CAST(s AS DOUBLE), 9) AS p FROM raw4, s4),
t5 AS (
  SELECT n.i, CAST(ROUND(CAST(n.n AS DOUBLE) / (pi.p + pj.p), 12) AS DECIMAL(18,12)) AS t
  FROM n JOIN p4 pi ON n.i = pi.i JOIN p4 pj ON n.j = pj.i),
d5 AS (SELECT i, SUM(t) AS d FROM t5 GROUP BY 1),
raw5 AS (
  SELECT bw.i, CAST(W AS DOUBLE) / CAST(d AS DOUBLE) AS pr
  FROM bw JOIN d5 ON bw.i = d5.i),
s5 AS (SELECT SUM(CAST(ROUND(pr, 9) AS DECIMAL(18,9))) AS s FROM raw5),
p5 AS (SELECT i, ROUND(ROUND(pr, 9) / CAST(s AS DOUBLE), 9) AS p FROM raw5, s5)
SELECT p5.i AS event_type, CAST(W AS BIGINT) AS n_wins, p AS bt_strength
FROM p5 JOIN bw ON p5.i = bw.i ORDER BY event_type""",
    ),
    "dpo_preference_pairs": QuerySpec(
        pipeline.q_dpo_preference_pairs,
        f"""WITH rk AS (
  SELECT source, doc_id, n_chars,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rmax,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars ASC, doc_id) AS rmin
  FROM documents),
ch AS (SELECT source, doc_id AS chosen_doc, n_chars AS chosen_chars FROM rk WHERE rmax = 1),
rj AS (SELECT source, doc_id AS rejected_doc, n_chars AS rejected_chars FROM rk WHERE rmin = 1)
SELECT ch.source, CAST(chosen_doc AS BIGINT) AS chosen_doc,
  CAST(rejected_doc AS BIGINT) AS rejected_doc,
  CAST(chosen_chars AS BIGINT) AS chosen_chars,
  CAST(rejected_chars AS BIGINT) AS rejected_chars,
  CAST(chosen_chars - rejected_chars AS BIGINT) AS margin
FROM ch JOIN rj ON ch.source = rj.source
WHERE chosen_chars - rejected_chars >= {pipeline.DPO_MARGIN}
ORDER BY ch.source""",
    ),
    "kneser_ney_continuation": QuerySpec(
        corpus.q_kneser_ney_continuation,
        f"""WITH tk AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS t FROM documents),
bg AS (
  SELECT p[1] AS w1, p[2] AS w2
  FROM (SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS p FROM tk)),
bt AS (SELECT DISTINCT w1, w2 FROM bg),
cont AS (SELECT w2 AS w, COUNT(*) AS n_contexts FROM bt GROUP BY 1),
nb AS (SELECT COUNT(*) AS nb FROM bt),
uni AS (SELECT w, COUNT(*) AS cu FROM (SELECT unnest(t) AS w FROM tk) GROUP BY 1),
nu AS (SELECT CAST(SUM(cu) AS BIGINT) AS nu FROM uni)
SELECT uni.w AS token, CAST(cu AS BIGINT) AS n_occurrences,
  CAST(n_contexts AS BIGINT) AS n_left_contexts,
  ROUND(CAST(cu AS DOUBLE) / CAST(nu AS DOUBLE), 9) AS raw_share,
  ROUND(CAST(n_contexts AS DOUBLE) / CAST(nb AS DOUBLE), 9) AS continuation_share,
  ROUND((CAST(cu AS DOUBLE) / CAST(nu AS DOUBLE))
        / (CAST(n_contexts AS DOUBLE) / CAST(nb AS DOUBLE)), 6) AS context_boundness
FROM uni JOIN cont ON uni.w = cont.w, nb, nu
WHERE cu >= {corpus.KN_MIN}
ORDER BY context_boundness DESC, token LIMIT {corpus.KN_TOP}""",
    ),
    "burrows_delta": QuerySpec(
        corpus.q_burrows_delta,
        f"""WITH tok AS (
  SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
  FROM documents),
per AS (SELECT source, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
totals AS (SELECT source, SUM(c) AS tot FROM per GROUP BY 1),
top AS (
  SELECT w FROM (
    SELECT w, SUM(c) AS cg FROM per GROUP BY 1
    ORDER BY cg DESC, w LIMIT {corpus.BD_TOP})),
panel AS (SELECT top.w, totals.source, totals.tot FROM top, totals),
shares AS (
  SELECT panel.w, panel.source,
    CAST(ROUND(CAST(COALESCE(per.c, 0) AS DOUBLE) / CAST(panel.tot AS DOUBLE), 12)
      AS DECIMAL(18,12)) AS f
  FROM panel LEFT JOIN per ON panel.source = per.source AND panel.w = per.w),
stats AS (
  SELECT w, COUNT(*) AS g, SUM(f) AS s1,
    SUM(CAST(CAST(f AS DOUBLE) * CAST(f AS DOUBLE) AS DECIMAL(38,24))) AS s2
  FROM shares GROUP BY 1),
z AS (
  SELECT shares.w, source,
    ROUND((CAST(f AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(g AS DOUBLE))
          / sqrt(GREATEST(CAST(s2 AS DOUBLE) / CAST(g AS DOUBLE)
                 - (CAST(s1 AS DOUBLE) / CAST(g AS DOUBLE))
                   * (CAST(s1 AS DOUBLE) / CAST(g AS DOUBLE)), 0.0)), 9) AS z
  FROM shares JOIN stats ON shares.w = stats.w),
pt AS (
  SELECT a.source AS sa, b.source AS sb,
    CAST(ROUND(abs(a.z - b.z), 9) AS DECIMAL(18,9)) AS t
  FROM z a JOIN z b ON a.w = b.w AND a.source < b.source),
delta AS (
  SELECT sa, sb, COUNT(*) AS n_terms, SUM(t) AS ts FROM pt GROUP BY 1, 2)
SELECT sa AS source_a, sb AS source_b, CAST(n_terms AS BIGINT) AS n_terms,
  ROUND(CAST(ts AS DOUBLE) / CAST(n_terms AS DOUBLE), 6) AS delta
FROM delta ORDER BY delta, source_a, source_b LIMIT {corpus.BD_PAIRS}""",
    ),
    "quantile_normalization_map": QuerySpec(
        curation.q_quantile_normalization_map,
        f"""WITH sv AS (
  SELECT source, n_chars, COUNT(*) AS c FROM documents GROUP BY 1, 2),
scum AS (
  SELECT source, n_chars,
    SUM(c) OVER (PARTITION BY source ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS cum,
    SUM(c) OVER (PARTITION BY source) AS n
  FROM sv),
gv AS (SELECT n_chars, COUNT(*) AS c FROM documents GROUP BY 1),
gcum AS (
  SELECT n_chars,
    SUM(c) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS cum,
    SUM(c) OVER () AS n
  FROM gv),
sp AS (SELECT CAST(i AS INT) AS q FROM range(1, {curation.QN_Q + 1}) r(i)),
srcq AS (
  SELECT source, q, MIN(n_chars) AS source_value
  FROM sp, scum
  WHERE cum >= CEIL(q * CAST(n AS DOUBLE) / 10.0)
  GROUP BY 1, 2),
gq AS (
  SELECT q, MIN(n_chars) AS global_value
  FROM sp, gcum
  WHERE cum >= CEIL(q * CAST(n AS DOUBLE) / 10.0)
  GROUP BY 1)
SELECT source, CAST(srcq.q AS BIGINT) AS q,
  CAST(source_value AS BIGINT) AS source_value,
  CAST(global_value AS BIGINT) AS global_value,
  CAST(global_value - source_value AS BIGINT) AS shift
FROM srcq JOIN gq ON srcq.q = gq.q
ORDER BY source, q""",
    ),
    "auc_by_fold": QuerySpec(
        curation.q_auc_by_fold,
        f"""WITH lb AS (
  SELECT ('0x' || substr(md5('{curation.AUCF_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % {curation.AUCF_K} AS fold,
    n_chars AS score,
    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents),
bv AS (
  SELECT fold, score, COUNT(*) AS c_all, SUM(pos) AS c_pos
  FROM lb GROUP BY 1, 2),
rk AS (
  SELECT fold, c_all, c_pos,
    COALESCE(SUM(c_all) OVER (PARTITION BY fold ORDER BY score
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      + (c_all + 1) / 2.0 AS midrank
  FROM bv),
pf AS (
  SELECT fold, CAST(SUM(c_pos) AS BIGINT) AS n_pos,
    CAST(SUM(c_all) - SUM(c_pos) AS BIGINT) AS n_neg,
    ROUND((SUM(c_pos * midrank) - SUM(c_pos) * (SUM(c_pos) + 1) / 2.0)
          / (SUM(c_pos) * (SUM(c_all) - SUM(c_pos))), 9) AS auc
  FROM rk GROUP BY 1),
st AS (
  SELECT COUNT(*) AS k,
    SUM(CAST(auc AS DECIMAL(18,9))) AS s1,
    SUM(CAST(CAST(auc AS DECIMAL(18,9)) * CAST(auc AS DECIMAL(18,9)) AS DECIMAL(38,18))) AS s2
  FROM pf)
SELECT CAST(fold AS BIGINT) AS fold, n_pos, n_neg,
  ROUND(auc, 6) AS auc,
  ROUND(CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE), 6) AS mean_auc,
  ROUND(sqrt(GREATEST(CAST(s2 AS DOUBLE) / CAST(k AS DOUBLE)
        - (CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE))
          * (CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE)), 0.0)), 6) AS sd_auc
FROM pf, st ORDER BY fold""",
    ),
    "dup_cluster_powerlaw": QuerySpec(
        dedup.q_dup_cluster_powerlaw,
        _minhash_cte().replace("WITH ", "WITH RECURSIVE ", 1)
        + _lsh_banded_sql()
        + f""",
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
walk(doc, reach) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, w.reach FROM edges e JOIN walk w ON e.b = w.doc),
cl AS (SELECT doc, MIN(reach) AS cluster FROM walk GROUP BY doc),
sz AS (SELECT cluster, COUNT(*) AS s FROM cl GROUP BY 1),
g AS (
  SELECT COUNT(*) AS n_clusters, CAST(SUM(s) AS BIGINT) AS n_docs_clustered,
    MAX(s) AS max_size,
    CAST(SUM(CAST(ROUND(ln(CAST(s AS DOUBLE) / {float(dedup.DCP_SMIN)!r}), 9)
      AS DECIMAL(18,9))) AS DOUBLE) AS ln_sum
  FROM sz WHERE s >= {dedup.DCP_SMIN})
SELECT CAST(n_clusters AS BIGINT) AS n_clusters, n_docs_clustered,
  CAST(max_size AS BIGINT) AS max_size,
  ROUND(1.0 + CAST(n_clusters AS DOUBLE) / ln_sum, 6) AS alpha_mle
FROM g""",
    ),
    "rich_club_coefficient": QuerySpec(
        linkage.q_rich_club_coefficient,
        f"""WITH cp AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
pdeg AS (SELECT p, COUNT(*) AS deg FROM cp GROUP BY 1),
rare AS (SELECT p FROM pdeg WHERE deg >= 2 AND deg <= {linkage.AA_MAX_DEG}),
cpr AS (SELECT cp.c, cp.p FROM cp JOIN rare ON cp.p = rare.p),
edges AS (
  SELECT DISTINCT a.c AS c1, b.c AS c2
  FROM cpr a JOIN cpr b ON a.p = b.p AND a.c < b.c),
cdeg AS (
  SELECT c, COUNT(*) AS d
  FROM (SELECT c1 AS c FROM edges UNION ALL SELECT c2 AS c FROM edges)
  GROUP BY 1),
sp AS (SELECT unnest([{', '.join(str(k) for k in linkage.RC_KS)}]) AS k),
bt AS (
  SELECT e.c1, d1.d AS dx, d2.d AS dy
  FROM edges e JOIN cdeg d1 ON e.c1 = d1.c JOIN cdeg d2 ON e.c2 = d2.c),
ek AS (SELECT k, COUNT(c1) AS e_k FROM sp LEFT JOIN bt ON dx > k AND dy > k GROUP BY 1),
nk AS (SELECT k, COUNT(c) AS n_k FROM sp LEFT JOIN cdeg ON d > k GROUP BY 1)
SELECT CAST(ek.k AS BIGINT) AS k, CAST(n_k AS BIGINT) AS n_nodes,
  CAST(e_k AS BIGINT) AS n_edges,
  ROUND(2.0 * CAST(e_k AS DOUBLE)
        / (CAST(n_k AS DOUBLE) * (CAST(n_k AS DOUBLE) - 1.0)), 6) AS phi
FROM ek JOIN nk ON ek.k = nk.k ORDER BY k""",
    ),
    "shard_rebalance_audit": QuerySpec(
        pipeline.q_shard_rebalance_audit,
        f"""WITH d AS (
  SELECT doc_id,
    ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
  FROM documents),
asg AS (
  SELECT
    CASE WHEN doc_id % {pipeline.SHARD_N1} <> doc_id % {pipeline.SHARD_N2} THEN 1 ELSE 0 END AS mod_moved,
    CASE WHEN
      COALESCE(list_min(list_filter([7443983109, 27545782852, 30642803904, 31751920513, 34107312326, 40017222273, 55901147719, 56947973440, 61681315777, 63737817351, 67190006022, 104240713538, 108601253190, 123821929540, 160435922499, 162575424194, 163255619267, 165140310658, 170849736391, 175103703302, 178783945284, 186710360197, 209398410499, 212205190213, 213859227522, 215602666756, 216789769921, 231058922368, 232038872643, 232243241920, 248740586373, 269832457287], x -> x >= h * 64)),
               list_min([7443983109, 27545782852, 30642803904, 31751920513, 34107312326, 40017222273, 55901147719, 56947973440, 61681315777, 63737817351, 67190006022, 104240713538, 108601253190, 123821929540, 160435922499, 162575424194, 163255619267, 165140310658, 170849736391, 175103703302, 178783945284, 186710360197, 209398410499, 212205190213, 213859227522, 215602666756, 216789769921, 231058922368, 232038872643, 232243241920, 248740586373, 269832457287])) % 64
      <>
      COALESCE(list_min(list_filter([7443983109, 27545782852, 30642803904, 31751920513, 34107312326, 40017222273, 55901147719, 56947973440, 58824528392, 61681315777, 63737817351, 67190006022, 102346262536, 104240713538, 108601253190, 123821929540, 157181198024, 160435922499, 162575424194, 163255619267, 165140310658, 170849736391, 175103703302, 178783945284, 186710360197, 209398410499, 212205190213, 213859227522, 215240203016, 215602666756, 216789769921, 231058922368, 232038872643, 232243241920, 248740586373, 269832457287], x -> x >= h * 64)),
               list_min([7443983109, 27545782852, 30642803904, 31751920513, 34107312326, 40017222273, 55901147719, 56947973440, 58824528392, 61681315777, 63737817351, 67190006022, 102346262536, 104240713538, 108601253190, 123821929540, 157181198024, 160435922499, 162575424194, 163255619267, 165140310658, 170849736391, 175103703302, 178783945284, 186710360197, 209398410499, 212205190213, 213859227522, 215240203016, 215602666756, 216789769921, 231058922368, 232038872643, 232243241920, 248740586373, 269832457287])) % 64
    THEN 1 ELSE 0 END AS ring_moved
  FROM d)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(mod_moved) AS BIGINT) AS mod_moved,
  CAST(SUM(ring_moved) AS BIGINT) AS ring_moved,
  ROUND(CAST(SUM(mod_moved) AS DOUBLE) / COUNT(*), 6) AS mod_moved_frac,
  ROUND(CAST(SUM(ring_moved) AS DOUBLE) / COUNT(*), 6) AS ring_moved_frac
FROM asg""",
    ),
    "simpson_paradox_probe": QuerySpec(
        profiling.q_simpson_paradox_probe,
        """WITH rws AS (
  SELECT c.c_nationkey,
    CAST(round(l_quantity) AS BIGINT) AS x,
    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey),
per AS (
  SELECT c_nationkey, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
    SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
    SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy
  FROM rws GROUP BY 1),
ns AS (
  SELECT c_nationkey,
    ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 9) AS b
  FROM per),
pl AS (
  SELECT ROUND((CAST(SUM(n) AS DOUBLE) * CAST(SUM(sxy) AS DOUBLE)
           - CAST(SUM(sx) AS DOUBLE) * CAST(SUM(sy) AS DOUBLE))
          / (CAST(SUM(n) AS DOUBLE) * CAST(SUM(sxx) AS DOUBLE)
             - CAST(SUM(sx) AS DOUBLE) * CAST(SUM(sx) AS DOUBLE)), 9) AS b_pooled
  FROM per)
SELECT CAST(COUNT(*) AS BIGINT) AS n_nations,
  MAX(b_pooled) AS pooled_slope,
  CAST(SUM(CASE WHEN sign(b) <> sign(b_pooled) THEN 1 ELSE 0 END) AS BIGINT)
    AS n_opposite_sign,
  ROUND(MIN(b), 9) AS min_nation_slope,
  ROUND(MAX(b), 9) AS max_nation_slope
FROM ns, pl""",
    ),
    "hll_merge_by_day": QuerySpec(
        profiling.q_hll_merge_by_day,
        f"""WITH h AS (
  SELECT strftime(ts, '%Y-%m-%d') AS month,
    ('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h,
    user_id
  FROM events),
br AS (SELECT month, h % {profiling.HLL_M} AS bucket,
  CAST(h // {profiling.HLL_M} AS BIGINT) AS rest FROM h),
rr AS (SELECT month, bucket,
  CASE WHEN rest = 0 THEN 27
       ELSE strpos(lpad(bin(rest), 26, '0'), '1') END AS rho FROM br),
per AS (SELECT month, bucket, MAX(rho) AS m FROM rr GROUP BY 1, 2),
sp AS (SELECT DISTINCT month AS mo FROM per),
ao AS (
  SELECT mo, bucket, MAX(m) AS m
  FROM sp JOIN per ON per.month <= sp.mo GROUP BY 1, 2),
est AS (
  SELECT mo,
    {profiling.HLL_ALPHA} * {float(profiling.HLL_M * profiling.HLL_M)}
      / (SUM(1.0 / CAST((1::BIGINT << m) AS DOUBLE))
         + CAST({profiling.HLL_M} - COUNT(*) AS DOUBLE)) AS hll_estimate
  FROM ao GROUP BY 1),
fst AS (SELECT user_id, MIN(month) AS fm FROM h GROUP BY 1),
fc AS (SELECT fm, COUNT(*) AS c FROM fst GROUP BY 1),
ex AS (
  SELECT mo, CAST(COALESCE(SUM(c), 0) AS BIGINT) AS exact_cumulative
  FROM sp LEFT JOIN fc ON fc.fm <= sp.mo GROUP BY 1)
SELECT est.mo AS day, exact_cumulative, hll_estimate,
  ROUND(hll_estimate / CAST(exact_cumulative AS DOUBLE) - 1.0, 4) AS rel_error,
  hll_estimate >= {2.5 * profiling.HLL_M} AS raw_regime
FROM est JOIN ex ON est.mo = ex.mo
ORDER BY day""",
    ),
    "median_ci_order_stats": QuerySpec(
        profiling.q_median_ci_order_stats,
        f"""WITH vals AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
pv AS (SELECT v, COUNT(*) AS c FROM vals GROUP BY 1),
cum AS (SELECT v, SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum FROM pv),
nn AS (SELECT COUNT(*) AS n FROM vals),
agg AS (
  SELECT n,
    MIN(CASE WHEN cum >= FLOOR((CAST(n AS DOUBLE) - {profiling.MCI_Z!r} * sqrt(CAST(n AS DOUBLE))) / 2.0) THEN v END) AS ci_lo,
    MIN(CASE WHEN cum >= CEIL(1.0 + (CAST(n AS DOUBLE) + {profiling.MCI_Z!r} * sqrt(CAST(n AS DOUBLE))) / 2.0) THEN v END) AS ci_hi,
    MIN(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS m_lo,
    MIN(CASE WHEN cum >= (n + 2) // 2 THEN v END) AS m_hi
  FROM cum, nn GROUP BY 1)
SELECT CAST(n AS BIGINT) AS n_orders,
  ROUND(CAST(m_lo + m_hi AS DOUBLE) / 200.0, 6) AS median_usd,
  ROUND(CAST(ci_lo AS DOUBLE) / 100.0, 6) AS ci95_lo_usd,
  ROUND(CAST(ci_hi AS DOUBLE) / 100.0, 6) AS ci95_hi_usd
FROM agg""",
    ),
    "lineitem_correlation_matrix": QuerySpec(
        profiling.q_lineitem_correlation_matrix,
        """WITH m AS MATERIALIZED (
  SELECT COUNT(*) AS n,
    SUM(CAST(round(l_quantity) AS BIGINT)) AS s_l_quantity,
    SUM(CAST(CAST(round(l_quantity) AS BIGINT) AS DECIMAL(38,0)) * CAST(CAST(round(l_quantity) AS BIGINT) AS DECIMAL(38,0))) AS q_l_quantity,
    SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS s_l_extendedprice,
    SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(38,0)) * CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(38,0))) AS q_l_extendedprice,
    SUM(CAST(round(l_discount * 10000) AS BIGINT)) AS s_l_discount,
    SUM(CAST(CAST(round(l_discount * 10000) AS BIGINT) AS DECIMAL(38,0)) * CAST(CAST(round(l_discount * 10000) AS BIGINT) AS DECIMAL(38,0))) AS q_l_discount,
    SUM(CAST(round(l_tax * 10000) AS BIGINT)) AS s_l_tax,
    SUM(CAST(CAST(round(l_tax * 10000) AS BIGINT) AS DECIMAL(38,0)) * CAST(CAST(round(l_tax * 10000) AS BIGINT) AS DECIMAL(38,0))) AS q_l_tax,
    SUM(CAST(CAST(round(l_quantity) AS BIGINT) AS DECIMAL(38,0)) * CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(38,0))) AS x_l_quantity_l_extendedprice,
    SUM(CAST(CAST(round(l_quantity) AS BIGINT) AS DECIMAL(38,0)) * CAST(CAST(round(l_discount * 10000) AS BIGINT) AS DECIMAL(38,0))) AS x_l_quantity_l_discount,
    SUM(CAST(CAST(round(l_quantity) AS BIGINT) AS DECIMAL(38,0)) * CAST(CAST(round(l_tax * 10000) AS BIGINT) AS DECIMAL(38,0))) AS x_l_quantity_l_tax,
    SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(38,0)) * CAST(CAST(round(l_discount * 10000) AS BIGINT) AS DECIMAL(38,0))) AS x_l_extendedprice_l_discount,
    SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(38,0)) * CAST(CAST(round(l_tax * 10000) AS BIGINT) AS DECIMAL(38,0))) AS x_l_extendedprice_l_tax,
    SUM(CAST(CAST(round(l_discount * 10000) AS BIGINT) AS DECIMAL(38,0)) * CAST(CAST(round(l_tax * 10000) AS BIGINT) AS DECIMAL(38,0))) AS x_l_discount_l_tax
  FROM lineitem)
SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, CAST(n AS BIGINT) AS n_rows,
  ROUND((CAST(n AS DOUBLE) * CAST(x_l_quantity_l_extendedprice AS DOUBLE) - CAST(s_l_quantity AS DOUBLE) * CAST(s_l_extendedprice AS DOUBLE))
        / sqrt((CAST(n AS DOUBLE) * CAST(q_l_quantity AS DOUBLE) - CAST(s_l_quantity AS DOUBLE) * CAST(s_l_quantity AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(q_l_extendedprice AS DOUBLE) - CAST(s_l_extendedprice AS DOUBLE) * CAST(s_l_extendedprice AS DOUBLE))), 6) AS pearson_r
FROM m
UNION ALL
SELECT 'l_quantity' AS col_a, 'l_discount' AS col_b, CAST(n AS BIGINT) AS n_rows,
  ROUND((CAST(n AS DOUBLE) * CAST(x_l_quantity_l_discount AS DOUBLE) - CAST(s_l_quantity AS DOUBLE) * CAST(s_l_discount AS DOUBLE))
        / sqrt((CAST(n AS DOUBLE) * CAST(q_l_quantity AS DOUBLE) - CAST(s_l_quantity AS DOUBLE) * CAST(s_l_quantity AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(q_l_discount AS DOUBLE) - CAST(s_l_discount AS DOUBLE) * CAST(s_l_discount AS DOUBLE))), 6) AS pearson_r
FROM m
UNION ALL
SELECT 'l_quantity' AS col_a, 'l_tax' AS col_b, CAST(n AS BIGINT) AS n_rows,
  ROUND((CAST(n AS DOUBLE) * CAST(x_l_quantity_l_tax AS DOUBLE) - CAST(s_l_quantity AS DOUBLE) * CAST(s_l_tax AS DOUBLE))
        / sqrt((CAST(n AS DOUBLE) * CAST(q_l_quantity AS DOUBLE) - CAST(s_l_quantity AS DOUBLE) * CAST(s_l_quantity AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(q_l_tax AS DOUBLE) - CAST(s_l_tax AS DOUBLE) * CAST(s_l_tax AS DOUBLE))), 6) AS pearson_r
FROM m
UNION ALL
SELECT 'l_extendedprice' AS col_a, 'l_discount' AS col_b, CAST(n AS BIGINT) AS n_rows,
  ROUND((CAST(n AS DOUBLE) * CAST(x_l_extendedprice_l_discount AS DOUBLE) - CAST(s_l_extendedprice AS DOUBLE) * CAST(s_l_discount AS DOUBLE))
        / sqrt((CAST(n AS DOUBLE) * CAST(q_l_extendedprice AS DOUBLE) - CAST(s_l_extendedprice AS DOUBLE) * CAST(s_l_extendedprice AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(q_l_discount AS DOUBLE) - CAST(s_l_discount AS DOUBLE) * CAST(s_l_discount AS DOUBLE))), 6) AS pearson_r
FROM m
UNION ALL
SELECT 'l_extendedprice' AS col_a, 'l_tax' AS col_b, CAST(n AS BIGINT) AS n_rows,
  ROUND((CAST(n AS DOUBLE) * CAST(x_l_extendedprice_l_tax AS DOUBLE) - CAST(s_l_extendedprice AS DOUBLE) * CAST(s_l_tax AS DOUBLE))
        / sqrt((CAST(n AS DOUBLE) * CAST(q_l_extendedprice AS DOUBLE) - CAST(s_l_extendedprice AS DOUBLE) * CAST(s_l_extendedprice AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(q_l_tax AS DOUBLE) - CAST(s_l_tax AS DOUBLE) * CAST(s_l_tax AS DOUBLE))), 6) AS pearson_r
FROM m
UNION ALL
SELECT 'l_discount' AS col_a, 'l_tax' AS col_b, CAST(n AS BIGINT) AS n_rows,
  ROUND((CAST(n AS DOUBLE) * CAST(x_l_discount_l_tax AS DOUBLE) - CAST(s_l_discount AS DOUBLE) * CAST(s_l_tax AS DOUBLE))
        / sqrt((CAST(n AS DOUBLE) * CAST(q_l_discount AS DOUBLE) - CAST(s_l_discount AS DOUBLE) * CAST(s_l_discount AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(q_l_tax AS DOUBLE) - CAST(s_l_tax AS DOUBLE) * CAST(s_l_tax AS DOUBLE))), 6) AS pearson_r
FROM m
ORDER BY col_a, col_b""",
    ),
    "query_likelihood_topk": QuerySpec(
        retrieval.q_query_likelihood_topk,
        f"""WITH toks AS (
  SELECT doc_id,
    len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_tok,
    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents),
tf AS (
  SELECT doc_id, n_tok, term, COUNT(*) AS tf
  FROM toks WHERE term IN ({', '.join(repr(t) for t in retrieval.QUERY_TERMS)})
  GROUP BY 1, 2, 3),
cand AS (SELECT DISTINCT doc_id, n_tok FROM tf),
cf AS (SELECT term, SUM(tf) AS cf FROM tf GROUP BY 1),
st AS (
  SELECT CAST(SUM(len(regexp_split_to_array(trim(lower(text)), '\\s+'))) AS BIGINT) AS tot_tok
  FROM documents),
sp AS (SELECT unnest([{', '.join(repr(t) for t in retrieval.QUERY_TERMS)}]) AS term),
panel AS (
  SELECT c.doc_id, c.n_tok, s.term, tf.tf, cf.cf, st.tot_tok
  FROM cand c
  CROSS JOIN sp s
  LEFT JOIN tf ON tf.doc_id = c.doc_id AND tf.term = s.term
  JOIN cf ON cf.term = s.term
  CROSS JOIN st),
scored AS (
  SELECT doc_id, n_tok,
    SUM(CAST(ROUND(ln((CAST(COALESCE(tf, 0) AS DOUBLE)
                       + {retrieval.QL_MU!r} * (CAST(cf AS DOUBLE) / CAST(tot_tok AS DOUBLE)))
                      / (CAST(n_tok AS DOUBLE) + {retrieval.QL_MU!r})), 12)
        AS DECIMAL(18,12))) AS ll,
    SUM(CASE WHEN tf IS NOT NULL THEN 1 ELSE 0 END) AS n_matched
  FROM panel GROUP BY 1, 2)
SELECT doc_id, CAST(n_tok AS BIGINT) AS doc_tokens,
  CAST(n_matched AS BIGINT) AS n_matched,
  ROUND(CAST(ll AS DOUBLE), 6) AS log_likelihood
FROM scored ORDER BY log_likelihood DESC, doc_id LIMIT {retrieval.QL_TOPN}""",
    ),
    "g_test_independence": QuerySpec(
        profiling.q_g_test_independence,
        """WITH cells AS (
  SELECT c_mktsegment, c_nationkey, CAST(COUNT(*) AS BIGINT) AS o
  FROM customer GROUP BY 1, 2),
rws AS (SELECT c_mktsegment, SUM(o) AS rt FROM cells GROUP BY 1),
cls AS (SELECT c_nationkey, SUM(o) AS ct FROM cells GROUP BY 1),
tot AS (SELECT SUM(o) AS n FROM cells),
grid AS (
  SELECT rt, ct, n, COALESCE(o, 0) AS o
  FROM rws CROSS JOIN cls CROSS JOIN tot
  LEFT JOIN cells ON cells.c_mktsegment = rws.c_mktsegment
                 AND cells.c_nationkey = cls.c_nationkey),
agg AS (
  SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
    SUM(CAST(CASE WHEN o > 0 THEN
      ROUND(CAST(o AS DOUBLE)
            * ln(CAST(o AS DOUBLE)
                 / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))), 9)
      ELSE 0.0 END AS DECIMAL(27,9))) AS s
  FROM grid)
SELECT n_customers,
  ROUND(2.0 * CAST(s AS DOUBLE), 6) AS g_stat,
  ROUND(2.0 * CAST(s AS DOUBLE) / (2.0 * CAST(n_customers AS DOUBLE)), 9)
    AS mutual_information_nats
FROM agg""",
    ),
    "chi2_residuals_topk": QuerySpec(
        profiling.q_chi2_residuals_topk,
        f"""WITH cells AS (
  SELECT c_mktsegment, c_nationkey, CAST(COUNT(*) AS BIGINT) AS o
  FROM customer GROUP BY 1, 2),
rws AS (SELECT c_mktsegment, SUM(o) AS rt FROM cells GROUP BY 1),
cls AS (SELECT c_nationkey, SUM(o) AS ct FROM cells GROUP BY 1),
tot AS (SELECT SUM(o) AS n FROM cells),
grid AS (
  SELECT rws.c_mktsegment, cls.c_nationkey, rt, ct, n, COALESCE(o, 0) AS o
  FROM rws CROSS JOIN cls CROSS JOIN tot
  LEFT JOIN cells ON cells.c_mktsegment = rws.c_mktsegment
                 AND cells.c_nationkey = cls.c_nationkey)
SELECT c_mktsegment AS segment, CAST(c_nationkey AS BIGINT) AS nation,
  CAST(o AS BIGINT) AS observed,
  ROUND(CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE), 6) AS expected,
  ROUND((CAST(o AS DOUBLE)
         - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
        / sqrt(CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)), 6)
    AS std_residual
FROM grid
ORDER BY abs(ROUND((CAST(o AS DOUBLE)
         - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
        / sqrt(CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)), 6)) DESC,
  segment, nation
LIMIT {profiling.CHI2_RES_TOP}""",
    ),
    "ab_effect_size": QuerySpec(
        events.q_ab_effect_size,
        f"""WITH pu AS (
  SELECT user_id,
    COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(27,6)) END),
             CAST(0 AS DECIMAL(27,6))) AS spend
  FROM events GROUP BY user_id),
pa AS (
  SELECT spend,
    CASE WHEN ('0x' || substr(md5('ab1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
         THEN 'A' ELSE 'B' END AS arm
  FROM pu),
g AS (SELECT arm, COUNT(*) AS n, CAST(SUM(spend) AS DOUBLE) AS s1,
        CAST(SUM(CAST(spend AS DECIMAL(19,6)) * CAST(spend AS DECIMAL(19,6))) AS DOUBLE) AS s2
      FROM pa GROUP BY 1),
a AS (SELECT n AS na, s1 AS sa, s2 AS qa FROM g WHERE arm = 'A'),
b AS (SELECT n AS nb, s1 AS sb, s2 AS qb FROM g WHERE arm = 'B')
SELECT CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
  ROUND((sa / na - sb / nb)
        / sqrt(((na - 1.0) * ((qa - sa * sa / na) / (na - 1.0))
                + (nb - 1.0) * ((qb - sb * sb / nb) / (nb - 1.0)))
               / (na + nb - 2.0)), 6) AS cohens_d,
  ROUND((1.0 - 3.0 / (4.0 * (na + nb - 2.0) - 1.0))
        * ((sa / na - sb / nb)
           / sqrt(((na - 1.0) * ((qa - sa * sa / na) / (na - 1.0))
                   + (nb - 1.0) * ((qb - sb * sb / nb) / (nb - 1.0)))
                  / (na + nb - 2.0))), 6) AS hedges_g,
  ROUND(({events.Z_TWO_SIDED_95!r} + {events.Z_POWER_80!r})
        * sqrt(((qa - sa * sa / na) / (na - 1.0)) / na
               + ((qb - sb * sb / nb) / (nb - 1.0)) / nb), 6) AS mde_spend
FROM a, b""",
    ),
    "ab_equivalence_tost": QuerySpec(
        events.q_ab_equivalence_tost,
        f"""WITH pu AS (
  SELECT user_id,
    COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(27,6)) END),
             CAST(0 AS DECIMAL(27,6))) AS spend
  FROM events GROUP BY user_id),
pa AS (
  SELECT spend,
    CASE WHEN ('0x' || substr(md5('ab1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
         THEN 'A' ELSE 'B' END AS arm
  FROM pu),
g AS (SELECT arm, COUNT(*) AS n, CAST(SUM(spend) AS DOUBLE) AS s1,
        CAST(SUM(CAST(spend AS DECIMAL(19,6)) * CAST(spend AS DECIMAL(19,6))) AS DOUBLE) AS s2
      FROM pa GROUP BY 1),
a AS (SELECT n AS na, s1 AS sa, s2 AS qa FROM g WHERE arm = 'A'),
b AS (SELECT n AS nb, s1 AS sb, s2 AS qb FROM g WHERE arm = 'B')
SELECT CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
  ROUND(sa / na - sb / nb, 6) AS diff,
  ROUND({events.TOST_MARGIN_FRAC!r} * ((sa + sb) / (na + nb)), 6) AS margin,
  ROUND(((sa / na - sb / nb) + {events.TOST_MARGIN_FRAC!r} * ((sa + sb) / (na + nb)))
        / sqrt(((qa - sa * sa / na) / (na - 1.0)) / na
               + ((qb - sb * sb / nb) / (nb - 1.0)) / nb), 6) AS z_lower,
  ROUND(({events.TOST_MARGIN_FRAC!r} * ((sa + sb) / (na + nb)) - (sa / na - sb / nb))
        / sqrt(((qa - sa * sa / na) / (na - 1.0)) / na
               + ((qb - sb * sb / nb) / (nb - 1.0)) / nb), 6) AS z_upper,
  (((sa / na - sb / nb) + {events.TOST_MARGIN_FRAC!r} * ((sa + sb) / (na + nb)))
        / sqrt(((qa - sa * sa / na) / (na - 1.0)) / na
               + ((qb - sb * sb / nb) / (nb - 1.0)) / nb) > {events.Z_ONE_SIDED_95!r})
  AND (({events.TOST_MARGIN_FRAC!r} * ((sa + sb) / (na + nb)) - (sa / na - sb / nb))
        / sqrt(((qa - sa * sa / na) / (na - 1.0)) / na
               + ((qb - sb * sb / nb) / (nb - 1.0)) / nb) > {events.Z_ONE_SIDED_95!r})
  AS equivalent
FROM a, b""",
    ),
    "conversion_paths_topk": QuerySpec(
        events.q_conversion_paths_topk,
        f"""WITH wl AS (
  SELECT user_id, event_type,
    LAG(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p1,
    LAG(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p2,
    ROW_NUMBER() OVER (PARTITION BY user_id
      ORDER BY CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END, ts, event_id) AS rnf
  FROM events),
fp AS (
  SELECT COALESCE(p2, '(start)') AS step1, COALESCE(p1, '(start)') AS step2
  FROM wl WHERE event_type = 'purchase' AND rnf = 1),
paths AS (SELECT step1, step2, COUNT(*) AS n_conversions FROM fp GROUP BY 1, 2),
tot AS (SELECT SUM(n_conversions) AS t FROM paths)
SELECT step1, step2, CAST(n_conversions AS BIGINT) AS n_conversions,
  ROUND(CAST(n_conversions AS DOUBLE) / CAST(t AS DOUBLE), 6) AS share
FROM paths, tot
ORDER BY n_conversions DESC, step1, step2 LIMIT {events.PATHS_TOP}""",
    ),
    "salted_aggregate_gate": QuerySpec(
        relational.q_salted_aggregate_gate,
        f"""WITH direct AS (
  SELECT l_returnflag,
    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS direct_cents,
    COUNT(*) AS n_rows
  FROM lineitem GROUP BY 1),
p1 AS (
  SELECT l_returnflag, l_orderkey % {relational.SALT_N} AS salt,
    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS partial
  FROM lineitem GROUP BY 1, 2),
salted AS (
  SELECT l_returnflag, CAST(SUM(partial) AS BIGINT) AS salted_cents,
    COUNT(*) AS n_salts
  FROM p1 GROUP BY 1)
SELECT d.l_returnflag AS returnflag, CAST(n_rows AS BIGINT) AS n_rows,
  CAST(n_salts AS BIGINT) AS n_salts, direct_cents, salted_cents,
  direct_cents = salted_cents AS match
FROM direct d JOIN salted s ON d.l_returnflag = s.l_returnflag
ORDER BY returnflag""",
    ),
    "reorder_interval_profile": QuerySpec(
        relational.q_reorder_interval_profile,
        """WITH gaps AS (
  SELECT datediff('day',
    CAST(LAG(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DATE),
    CAST(o_orderdate AS DATE)) AS gap
  FROM orders),
g AS (SELECT gap FROM gaps WHERE gap IS NOT NULL),
pg AS (SELECT gap, COUNT(*) AS c FROM g GROUP BY 1),
cum AS (SELECT gap, SUM(c) OVER (ORDER BY gap ROWS UNBOUNDED PRECEDING) AS cum FROM pg),
tot AS (SELECT COUNT(*) AS n, SUM(gap) AS s, MAX(gap) AS mx FROM g),
agg AS (
  SELECT n, s, mx,
    MIN(CASE WHEN cum >= CEIL(0.5 * CAST(n AS DOUBLE)) THEN gap END) AS p50,
    MIN(CASE WHEN cum >= CEIL(0.9 * CAST(n AS DOUBLE)) THEN gap END) AS p90
  FROM cum, tot GROUP BY 1, 2, 3)
SELECT CAST(n AS BIGINT) AS n_gaps,
  ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_days,
  CAST(p50 AS BIGINT) AS p50_days, CAST(p90 AS BIGINT) AS p90_days,
  CAST(mx AS BIGINT) AS max_days
FROM agg""",
    ),
    "revenue_concentration_topk": QuerySpec(
        relational.q_revenue_concentration_topk,
        f"""WITH per AS (
  SELECT o_custkey,
    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1),
tot AS (SELECT SUM(cents) AS total, COUNT(*) AS n_customers FROM per),
top AS (
  SELECT CAST(SUM(cents) AS BIGINT) AS top_cents, COUNT(*) AS k
  FROM (SELECT cents FROM per ORDER BY cents DESC, o_custkey LIMIT {relational.CONC_TOPK}))
SELECT CAST(n_customers AS BIGINT) AS n_customers, CAST(k AS BIGINT) AS k,
  ROUND(CAST(top_cents AS DOUBLE) / 100.0, 2) AS top_revenue_usd,
  ROUND(CAST(top_cents AS DOUBLE) / CAST(total AS DOUBLE), 6) AS top_share
FROM top, tot""",
    ),
    "price_variance_decomposition": QuerySpec(
        relational.q_price_variance_decomposition,
        """WITH per AS (
  SELECT p_brand, COUNT(*) AS n,
    CAST(SUM(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT) AS s,
    SUM(CAST(CAST(round(p_retailprice * 100) AS BIGINT) AS DECIMAL(38,0))
        * CAST(CAST(round(p_retailprice * 100) AS BIGINT) AS DECIMAL(38,0))) AS q
  FROM part GROUP BY 1),
tot AS (
  SELECT COUNT(*) AS g, CAST(SUM(n) AS BIGINT) AS nt,
    CAST(SUM(s) AS BIGINT) AS st, SUM(q) AS qt
  FROM per),
agg AS (
  SELECT g, nt, st, qt,
    SUM(CAST(ROUND((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                    - CAST(st AS DOUBLE) / CAST(nt AS DOUBLE))
                   * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                      - CAST(st AS DOUBLE) / CAST(nt AS DOUBLE))
                   * CAST(n AS DOUBLE), 6) AS DECIMAL(27,6))) AS ssb
  FROM per, tot GROUP BY 1, 2, 3, 4)
SELECT CAST(g AS BIGINT) AS n_brands, nt AS n_parts,
  ROUND(CAST(ssb AS DOUBLE)
        / (CAST(qt AS DOUBLE)
           - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)), 6)
    AS eta_squared,
  ROUND((CAST(ssb AS DOUBLE) / (CAST(g AS DOUBLE) - 1.0))
        / (((CAST(qt AS DOUBLE)
             - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(nt AS DOUBLE))
            - CAST(ssb AS DOUBLE))
           / (CAST(nt AS DOUBLE) - CAST(g AS DOUBLE))), 6) AS f_stat
FROM agg""",
    ),
    "embedding_dim_correlation_topk": QuerySpec(
        similarity.q_embedding_dim_correlation_topk,
        f"""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
pos AS (SELECT vec_id, CAST(i AS INT) AS i, v[CAST(i AS INT)] AS x
        FROM e, range(1, 65) r(i)),
mom AS (
  SELECT a.i AS i, b.i AS j, SUM(CAST(a.x * b.x AS DECIMAL(27,10))) AS s
  FROM pos a JOIN pos b ON a.vec_id = b.vec_id AND a.i <= b.i GROUP BY 1, 2),
mu AS (SELECT i, SUM(CAST(x AS DECIMAL(27,10))) AS m FROM pos GROUP BY 1),
nn AS (SELECT COUNT(*) AS n FROM e),
cells AS (
  SELECT mom.i, mom.j,
    ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
          - (CAST(mi.m AS DOUBLE) / CAST(n AS DOUBLE))
            * (CAST(mj.m AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS c
  FROM mom
  JOIN mu mi ON mom.i = mi.i
  JOIN mu mj ON mom.j = mj.i, nn),
diag AS (SELECT i AS d, c AS var FROM cells WHERE i = j),
offd AS (
  SELECT cells.i, cells.j,
    ROUND(c / sqrt(di.var * dj.var), 6) AS corr
  FROM cells
  JOIN diag di ON cells.i = di.d
  JOIN diag dj ON cells.j = dj.d
  WHERE cells.i <> cells.j)
SELECT CAST(i - 1 AS BIGINT) AS dim_i, CAST(j - 1 AS BIGINT) AS dim_j, corr
FROM offd ORDER BY abs(corr) DESC, dim_i, dim_j LIMIT {similarity.DIMCORR_TOP}""",
    ),
    "dup_rate_by_source": QuerySpec(
        dedup.q_dup_rate_by_source,
        """WITH fp AS (
  SELECT doc_id, source,
    md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents),
grp AS (SELECT fp, MIN(doc_id) AS keep, COUNT(*) AS n_copies FROM fp GROUP BY 1),
j AS (SELECT fp.doc_id, fp.source, grp.keep, grp.n_copies
      FROM fp JOIN grp ON fp.fp = grp.fp),
per AS (
  SELECT source, COUNT(*) AS n_docs,
    SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS n_in_dup_groups,
    SUM(CASE WHEN n_copies > 1 AND doc_id <> keep THEN 1 ELSE 0 END) AS n_redundant
  FROM j GROUP BY 1)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
  CAST(n_in_dup_groups AS BIGINT) AS n_in_dup_groups,
  CAST(n_redundant AS BIGINT) AS n_redundant,
  ROUND(CAST(n_in_dup_groups AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS dup_rate,
  ROUND(CAST(n_redundant AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS redundant_rate
FROM per ORDER BY source""",
    ),
    "brand_share_shift": QuerySpec(
        relational.q_brand_share_shift,
        f"""WITH sp AS (
  SELECT median(datediff('day', DATE '1970-01-01', CAST(date_trunc('day', o_orderdate) AS DATE))) AS mid
  FROM orders),
rws AS (
  SELECT p.p_brand,
    CASE WHEN datediff('day', DATE '1970-01-01', CAST(date_trunc('day', o_orderdate) AS DATE)) <= mid
      THEN 1 ELSE 0 END AS h1,
    CAST(round(l_extendedprice * 100) AS BIGINT) AS c
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey, sp),
per AS (
  SELECT p_brand,
    SUM(CASE WHEN h1 = 1 THEN c ELSE 0 END) AS c1,
    SUM(CASE WHEN h1 = 0 THEN c ELSE 0 END) AS c2
  FROM rws GROUP BY 1),
tot AS (SELECT SUM(c1) AS t1, SUM(c2) AS t2 FROM per)
SELECT p_brand AS brand,
  ROUND(CAST(c1 AS DOUBLE) / CAST(t1 AS DOUBLE), 6) AS share_first_half,
  ROUND(CAST(c2 AS DOUBLE) / CAST(t2 AS DOUBLE), 6) AS share_second_half,
  ROUND(CAST(c2 AS DOUBLE) / CAST(t2 AS DOUBLE)
        - CAST(c1 AS DOUBLE) / CAST(t1 AS DOUBLE), 6) AS share_delta
FROM per, tot
ORDER BY abs(ROUND(CAST(c2 AS DOUBLE) / CAST(t2 AS DOUBLE)
        - CAST(c1 AS DOUBLE) / CAST(t1 AS DOUBLE), 6)) DESC, brand
LIMIT {relational.SHIFT_TOP}""",
    ),
    "discount_impact_by_brand": QuerySpec(
        relational.q_discount_impact_by_brand,
        """WITH per AS (
  SELECT p.p_brand, COUNT(*) AS n_lines,
    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS gross_cents,
    SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(38,0))
        * CAST(CAST(round(l_discount * 10000) AS BIGINT) AS DECIMAL(38,0))) AS disc_cb
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1)
SELECT p_brand AS brand, CAST(n_lines AS BIGINT) AS n_lines,
  ROUND(CAST(gross_cents AS DOUBLE) / 100.0, 2) AS gross_usd,
  ROUND((CAST(disc_cb AS DOUBLE) / 10000.0) / 100.0, 2) AS discount_usd,
  ROUND((CAST(gross_cents AS DOUBLE) - CAST(disc_cb AS DOUBLE) / 10000.0) / 100.0, 2)
    AS net_usd,
  ROUND((CAST(disc_cb AS DOUBLE) / 10000.0) / CAST(gross_cents AS DOUBLE), 6)
    AS effective_discount_rate
FROM per ORDER BY brand""",
    ),
    "supplier_hhi_by_nation": QuerySpec(
        relational.q_supplier_hhi_by_nation,
        """WITH ps AS (
  SELECT l_suppkey,
    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS c
  FROM lineitem GROUP BY 1),
sup AS (
  SELECT s.s_nationkey, ps.c FROM ps JOIN supplier s ON ps.l_suppkey = s.s_suppkey),
tot AS (
  SELECT s_nationkey, SUM(c) AS t, COUNT(*) AS n_suppliers FROM sup GROUP BY 1),
agg AS (
  SELECT sup.s_nationkey, n_suppliers,
    SUM(CAST(ROUND((CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
                   * (CAST(c AS DOUBLE) / CAST(t AS DOUBLE)), 12)
        AS DECIMAL(18,12))) AS hhi
  FROM sup JOIN tot ON sup.s_nationkey = tot.s_nationkey
  GROUP BY 1, 2)
SELECT CAST(s_nationkey AS BIGINT) AS nation,
  CAST(n_suppliers AS BIGINT) AS n_suppliers,
  ROUND(CAST(hhi AS DOUBLE), 6) AS hhi,
  ROUND(1.0 / CAST(hhi AS DOUBLE), 6) AS effective_suppliers
FROM agg ORDER BY nation""",
    ),
    "session_depth_profile": QuerySpec(
        events.q_session_depth_profile,
        """WITH lg AS (
  SELECT user_id, ts, event_id,
    CAST(FLOOR(epoch(ts)) AS BIGINT)
      - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT))
          OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events),
fl AS (
  SELECT user_id, CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS ns, ts, event_id
  FROM lg),
ss AS (
  SELECT user_id,
    SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
  FROM fl),
dp AS (SELECT user_id, session_id, COUNT(*) AS depth FROM ss GROUP BY 1, 2),
pd AS (SELECT depth, COUNT(*) AS c FROM dp GROUP BY 1),
cum AS (SELECT depth, c, SUM(c) OVER (ORDER BY depth ROWS UNBOUNDED PRECEDING) AS cum FROM pd),
tot AS (SELECT COUNT(*) AS n, SUM(depth) AS s, MAX(depth) AS mx FROM dp),
agg AS (
  SELECT n, s, mx,
    MIN(CASE WHEN cum >= CEIL(0.5 * CAST(n AS DOUBLE)) THEN depth END) AS p50,
    MIN(CASE WHEN cum >= CEIL(0.9 * CAST(n AS DOUBLE)) THEN depth END) AS p90,
    SUM(CASE WHEN depth = 1 THEN c ELSE 0 END) AS bounces
  FROM cum, tot GROUP BY 1, 2, 3)
SELECT CAST(n AS BIGINT) AS n_sessions,
  ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_depth,
  CAST(p50 AS BIGINT) AS p50_depth, CAST(p90 AS BIGINT) AS p90_depth,
  CAST(mx AS BIGINT) AS max_depth,
  ROUND(CAST(bounces AS DOUBLE) / CAST(n AS DOUBLE), 6) AS bounce_share
FROM agg""",
    ),
    "basket_size_profile": QuerySpec(
        relational.q_basket_size_profile,
        """WITH sizes AS (SELECT l_orderkey, COUNT(*) AS sz FROM lineitem GROUP BY 1),
ps AS (SELECT sz, COUNT(*) AS c FROM sizes GROUP BY 1),
cum AS (SELECT sz, c, SUM(c) OVER (ORDER BY sz ROWS UNBOUNDED PRECEDING) AS cum FROM ps),
tot AS (SELECT COUNT(*) AS n, SUM(sz) AS s, MAX(sz) AS mx FROM sizes),
agg AS (
  SELECT n, s, mx,
    MIN(CASE WHEN cum >= CEIL(0.5 * CAST(n AS DOUBLE)) THEN sz END) AS p50,
    MIN(CASE WHEN cum >= CEIL(0.9 * CAST(n AS DOUBLE)) THEN sz END) AS p90,
    SUM(CASE WHEN sz = 1 THEN c ELSE 0 END) AS singles
  FROM cum, tot GROUP BY 1, 2, 3)
SELECT CAST(n AS BIGINT) AS n_orders,
  ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_lines,
  CAST(p50 AS BIGINT) AS p50_lines, CAST(p90 AS BIGINT) AS p90_lines,
  CAST(mx AS BIGINT) AS max_lines,
  ROUND(CAST(singles AS DOUBLE) / CAST(n AS DOUBLE), 6) AS single_line_share
FROM agg""",
    ),
    "orthographic_profile": QuerySpec(
        corpus.q_orthographic_profile,
        """WITH pd AS (
  SELECT source, len(text) AS chars,
    len(regexp_extract_all(text, '[0-9]')) AS digits,
    len(regexp_extract_all(text, '[A-Z]')) AS uppers,
    len(regexp_extract_all(text, '[.,;:!?''"()\\[\\]{}-]')) AS puncts
  FROM documents),
per AS (
  SELECT source, COUNT(*) AS n_docs, SUM(chars) AS chars,
    SUM(digits) AS digits, SUM(uppers) AS uppers, SUM(puncts) AS puncts
  FROM pd GROUP BY 1)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs, CAST(chars AS BIGINT) AS n_chars,
  ROUND(CAST(digits AS DOUBLE) / CAST(chars AS DOUBLE), 6) AS digit_share,
  ROUND(CAST(uppers AS DOUBLE) / CAST(chars AS DOUBLE), 6) AS upper_share,
  ROUND(CAST(puncts AS DOUBLE) / CAST(chars AS DOUBLE), 6) AS punct_share
FROM per ORDER BY source""",
    ),
    "stopword_ratio_by_source": QuerySpec(
        corpus.q_stopword_ratio_by_source,
        f"""WITH toks AS (
  SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
  FROM documents),
per AS (
  SELECT source, COUNT(*) AS n_tokens,
    SUM(CASE WHEN w IN ({', '.join(repr(w) for w in corpus.STOPWORDS)}) THEN 1 ELSE 0 END) AS n_stop
  FROM toks GROUP BY 1)
SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(n_stop AS BIGINT) AS n_stopwords,
  ROUND(CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS stopword_share
FROM per ORDER BY source""",
    ),
    "context_fill_efficiency": QuerySpec(
        pipeline.q_context_fill_efficiency,
        f"""WITH d AS (
  SELECT len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_tok
  FROM documents),
sp AS (SELECT unnest([{', '.join(str(l) for l in pipeline.CTX_LENGTHS)}]) AS ctx_len),
per AS (
  SELECT ctx_len, COUNT(*) AS n_docs,
    CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
    CAST(SUM(LEAST(n_tok, ctx_len)) AS BIGINT) AS kept_tokens,
    SUM(CASE WHEN n_tok > ctx_len THEN 1 ELSE 0 END) AS n_truncated
  FROM d CROSS JOIN sp GROUP BY 1)
SELECT CAST(ctx_len AS BIGINT) AS ctx_len, CAST(n_docs AS BIGINT) AS n_docs,
  total_tokens, kept_tokens,
  ROUND(CAST(kept_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE), 6) AS kept_share,
  ROUND(CAST(n_truncated AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS truncated_share,
  CAST((kept_tokens + ctx_len - 1) // ctx_len AS BIGINT) AS n_packs,
  ROUND(CAST(kept_tokens AS DOUBLE)
        / CAST(((kept_tokens + ctx_len - 1) // ctx_len) * ctx_len AS DOUBLE), 6)
    AS pack_fill_ratio
FROM per ORDER BY ctx_len""",
    ),
    "embedding_norm_profile": QuerySpec(
        similarity.q_embedding_norm_profile,
        """WITH e AS (
  SELECT CAST(label AS INT) AS label,
    ROUND(sqrt(list_sum(list_transform([CAST(x AS DOUBLE) for x in embedding],
                                       x -> x * x))), 3) AS norm
  FROM embeddings),
pb AS (SELECT label, norm, COUNT(*) AS c FROM e GROUP BY 1, 2),
cum AS (
  SELECT label, norm,
    SUM(c) OVER (PARTITION BY label ORDER BY norm ROWS UNBOUNDED PRECEDING) AS cum
  FROM pb),
tot AS (
  SELECT label, COUNT(*) AS n,
    SUM(CAST(norm AS DECIMAL(18,3))) AS s,
    MIN(norm) AS mn, MAX(norm) AS mx
  FROM e GROUP BY 1),
agg AS (
  SELECT cum.label, n, s, mn, mx,
    MIN(CASE WHEN cum >= CEIL(0.5 * CAST(n AS DOUBLE)) THEN norm END) AS p50
  FROM cum JOIN tot ON cum.label = tot.label
  GROUP BY 1, 2, 3, 4, 5)
SELECT CAST(label AS BIGINT) AS label, CAST(n AS BIGINT) AS n_vectors,
  ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_norm,
  p50 AS p50_norm, mn AS min_norm, mx AS max_norm
FROM agg ORDER BY label""",
    ),
    "error_rate_daily_extremes": QuerySpec(
        events.q_error_rate_daily_extremes,
        f"""WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n,
    SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS errs
  FROM events GROUP BY 1),
tot AS (SELECT SUM(n) AS tn, SUM(errs) AS te FROM daily)
SELECT strftime(day, '%Y-%m-%d') AS day, CAST(n AS BIGINT) AS n_events,
  CAST(errs AS BIGINT) AS n_errors,
  ROUND(CAST(errs AS DOUBLE) / CAST(n AS DOUBLE), 6) AS error_rate,
  ROUND(CAST(te AS DOUBLE) / CAST(tn AS DOUBLE), 6) AS overall_rate
FROM daily, tot
ORDER BY error_rate DESC, day LIMIT {events.ERR_TOP_DAYS}""",
    ),
    "order_value_iqr_by_nation": QuerySpec(
        relational.q_order_value_iqr_by_nation,
        """WITH vals AS (
  SELECT c.c_nationkey AS nation,
    CAST(round(o_totalprice * 100) AS BIGINT) AS v
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
pv AS (SELECT nation, v, COUNT(*) AS cn FROM vals GROUP BY 1, 2),
cum AS (
  SELECT nation, v,
    SUM(cn) OVER (PARTITION BY nation ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
  FROM pv),
tot AS (SELECT nation, COUNT(*) AS n FROM vals GROUP BY 1),
agg AS (
  SELECT cum.nation, n,
    MIN(CASE WHEN cum >= CEIL(0.25 * CAST(n AS DOUBLE)) THEN v END) AS p25,
    MIN(CASE WHEN cum >= CEIL(0.5 * CAST(n AS DOUBLE)) THEN v END) AS p50,
    MIN(CASE WHEN cum >= CEIL(0.75 * CAST(n AS DOUBLE)) THEN v END) AS p75
  FROM cum JOIN tot ON cum.nation = tot.nation
  GROUP BY 1, 2)
SELECT CAST(nation AS BIGINT) AS nation, CAST(n AS BIGINT) AS n_orders,
  ROUND(CAST(p25 AS DOUBLE) / 100.0, 2) AS p25_usd,
  ROUND(CAST(p50 AS DOUBLE) / 100.0, 2) AS p50_usd,
  ROUND(CAST(p75 AS DOUBLE) / 100.0, 2) AS p75_usd,
  ROUND(CAST(p75 - p25 AS DOUBLE) / 100.0, 2) AS iqr_usd
FROM agg ORDER BY nation""",
    ),
    "part_sourcing_profile": QuerySpec(
        relational.q_part_sourcing_profile,
        """WITH pp AS (
  SELECT l_partkey, COUNT(*) AS n_suppliers
  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
  GROUP BY 1),
hist AS (SELECT n_suppliers, COUNT(*) AS n_parts FROM pp GROUP BY 1),
tot AS (
  SELECT COUNT(*) AS tp,
    SUM(CASE WHEN n_suppliers = 1 THEN 1 ELSE 0 END) AS singles
  FROM pp)
SELECT CAST(n_suppliers AS BIGINT) AS n_suppliers,
  CAST(n_parts AS BIGINT) AS n_parts,
  ROUND(CAST(n_parts AS DOUBLE) / CAST(tp AS DOUBLE), 6) AS share,
  ROUND(CAST(singles AS DOUBLE) / CAST(tp AS DOUBLE), 6) AS single_sourced_share
FROM hist, tot ORDER BY n_suppliers""",
    ),
    "user_recency_segments": QuerySpec(
        events.q_user_recency_segments,
        f"""WITH last AS (
  SELECT user_id, MAX(CAST(ts AS DATE)) AS last_day FROM events GROUP BY 1),
hz AS (SELECT MAX(CAST(ts AS DATE)) AS h FROM events),
ages AS (SELECT datediff('day', last_day, h) AS age FROM last, hz),
agg AS (
  SELECT COUNT(*) AS n_users,
    SUM(CASE WHEN age <= {events.RECENCY_BANDS[0][0]} THEN 1 ELSE 0 END) AS a7,
    SUM(CASE WHEN age <= {events.RECENCY_BANDS[1][0]} THEN 1 ELSE 0 END) AS a30
  FROM ages)
SELECT CAST(n_users AS BIGINT) AS n_users, CAST(a7 AS BIGINT) AS active_7d,
  CAST(a30 AS BIGINT) AS active_30d,
  CAST(n_users - a30 AS BIGINT) AS dormant,
  ROUND(CAST(a7 AS DOUBLE) / CAST(n_users AS DOUBLE), 6) AS active_7d_share,
  ROUND(CAST(a30 AS DOUBLE) / CAST(n_users AS DOUBLE), 6) AS active_30d_share
FROM agg""",
    ),
    "transition_lift_topk": QuerySpec(
        events.q_transition_lift_topk,
        f"""WITH pr AS (
  SELECT e1, e2, COUNT(*) AS c FROM (
    SELECT event_type AS e1,
      LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2
    FROM events)
  WHERE e2 IS NOT NULL GROUP BY 1, 2),
rt AS (SELECT e1, SUM(c) AS cx FROM pr GROUP BY 1),
ct AS (SELECT e2, SUM(c) AS cy FROM pr GROUP BY 1),
tt AS (SELECT SUM(c) AS nt FROM pr)
SELECT e1 AS from_event, e2 AS to_event, CAST(c AS BIGINT) AS n_transitions,
  ROUND((CAST(c AS DOUBLE) / CAST(cx AS DOUBLE))
        / (CAST(cy AS DOUBLE) / CAST(nt AS DOUBLE)), 6) AS lift
FROM pr JOIN rt USING (e1) JOIN ct USING (e2), tt
ORDER BY abs(ROUND((CAST(c AS DOUBLE) / CAST(cx AS DOUBLE))
        / (CAST(cy AS DOUBLE) / CAST(nt AS DOUBLE)), 6) - 1) DESC,
  from_event, to_event
LIMIT {events.TLIFT_TOP}""",
    ),
    "customer_spend_drift": QuerySpec(
        relational.q_customer_spend_drift,
        """WITH sp AS (
  SELECT median(datediff('day', DATE '1970-01-01', CAST(date_trunc('day', o_orderdate) AS DATE))) AS mid
  FROM orders),
sided AS (
  SELECT o_custkey,
    CASE WHEN datediff('day', DATE '1970-01-01', CAST(date_trunc('day', o_orderdate) AS DATE)) <= mid
      THEN 1 ELSE 0 END AS h1,
    CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders, sp),
per AS (
  SELECT o_custkey,
    SUM(CASE WHEN h1 = 1 THEN c ELSE 0 END) AS c1,
    SUM(CASE WHEN h1 = 0 THEN c ELSE 0 END) AS c2
  FROM sided GROUP BY 1),
agg AS (
  SELECT COUNT(*) AS n_customers,
    SUM(CASE WHEN c1 > 0 AND c2 > 0 THEN 1 ELSE 0 END) AS nb,
    SUM(CASE WHEN c1 > 0 AND c2 > 0 AND c2 > c1 THEN 1 ELSE 0 END) AS growing,
    SUM(CASE WHEN c1 > 0 AND c2 = 0 THEN 1 ELSE 0 END) AS fho,
    SUM(CASE WHEN c1 = 0 AND c2 > 0 THEN 1 ELSE 0 END) AS sho
  FROM per)
SELECT CAST(n_customers AS BIGINT) AS n_customers,
  CAST(nb AS BIGINT) AS active_both_halves,
  CAST(growing AS BIGINT) AS growing,
  CAST(fho AS BIGINT) AS first_half_only,
  CAST(sho AS BIGINT) AS second_half_only,
  ROUND(CAST(growing AS DOUBLE) / CAST(nb AS DOUBLE), 6) AS growing_share
FROM agg""",
    ),
    "dup_quality_interaction": QuerySpec(
        dedup.q_dup_quality_interaction,
        f"""WITH fp AS (
  SELECT doc_id, n_chars,
    md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents),
grp AS (SELECT fp, COUNT(*) AS n_copies FROM fp GROUP BY 1),
j AS (
  SELECT grp.n_copies > 1 AS is_dup, fp.n_chars,
    CASE WHEN fp.n_chars >= {corpus.MCN_CHARS} THEN 1 ELSE 0 END AS passes
  FROM fp JOIN grp ON fp.fp = grp.fp),
per AS (
  SELECT is_dup, COUNT(*) AS n_docs, SUM(n_chars) AS chars, SUM(passes) AS n_pass
  FROM j GROUP BY 1)
SELECT is_dup AS is_duplicated, CAST(n_docs AS BIGINT) AS n_docs,
  ROUND(CAST(chars AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS mean_chars,
  ROUND(CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS filter_pass_rate
FROM per ORDER BY is_duplicated""",
    ),
    "token_length_histogram": QuerySpec(
        corpus.q_token_length_histogram,
        f"""WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
  FROM documents),
per AS (
  SELECT LEAST(len(w), {corpus.TOKLEN_CAP + 1}) AS length, COUNT(*) AS n_tokens
  FROM toks GROUP BY 1),
tot AS (SELECT SUM(n_tokens) AS t FROM per)
SELECT CAST(length AS BIGINT) AS length, CAST(n_tokens AS BIGINT) AS n_tokens,
  ROUND(CAST(n_tokens AS DOUBLE) / CAST(t AS DOUBLE), 6) AS share
FROM per, tot ORDER BY length""",
    ),
    "gram_frequency_coverage": QuerySpec(
        corpus.q_gram_frequency_coverage,
        f"""WITH tk AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS t FROM documents),
bg AS (
  SELECT p[1] || ' ' || p[2] AS g
  FROM (SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS p FROM tk)),
cnt AS (SELECT g, COUNT(*) AS c FROM bg GROUP BY 1),
sp AS (SELECT unnest([{', '.join(str(t) for t in corpus.GRAM_COV_THRESHOLDS)}]) AS threshold),
per AS (
  SELECT threshold, SUM(c) AS total_occ, COUNT(*) AS total_types,
    SUM(CASE WHEN c >= threshold THEN c ELSE 0 END) AS covered_occ,
    SUM(CASE WHEN c >= threshold THEN 1 ELSE 0 END) AS kept_types
  FROM cnt CROSS JOIN sp GROUP BY 1)
SELECT CAST(threshold AS BIGINT) AS threshold,
  CAST(total_types AS BIGINT) AS total_types,
  CAST(kept_types AS BIGINT) AS kept_types,
  ROUND(CAST(covered_occ AS DOUBLE) / CAST(total_occ AS DOUBLE), 6)
    AS occurrence_coverage,
  ROUND(CAST(kept_types AS DOUBLE) / CAST(total_types AS DOUBLE), 6)
    AS type_retention
FROM per ORDER BY threshold""",
    ),
    "above_mean_concentration": QuerySpec(
        relational.q_above_mean_concentration,
        """WITH per AS (
  SELECT o_custkey,
    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1),
tot AS (SELECT SUM(cents) AS total, COUNT(*) AS n FROM per),
agg AS (
  SELECT MAX(n) AS n_customers, MAX(total) AS total,
    SUM(CASE WHEN cents * n > total THEN 1 ELSE 0 END) AS n_above,
    SUM(CASE WHEN cents * n > total THEN cents ELSE 0 END) AS cents_above
  FROM per, tot)
SELECT CAST(n_customers AS BIGINT) AS n_customers,
  CAST(n_above AS BIGINT) AS n_above_mean,
  ROUND(CAST(n_above AS DOUBLE) / CAST(n_customers AS DOUBLE), 6) AS customer_share,
  ROUND(CAST(cents_above AS DOUBLE) / CAST(total AS DOUBLE), 6) AS revenue_share
FROM agg""",
    ),
    "language_mix_by_source": QuerySpec(
        corpus.q_language_mix_by_source,
        """WITH per AS (
  SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY 1, 2),
tot AS (
  SELECT source, SUM(c) AS n_docs, COUNT(*) AS n_langs,
    MAX(struct_pack(c := c, lang := lang)) AS top
  FROM per GROUP BY 1)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
  CAST(n_langs AS BIGINT) AS n_langs,
  top.lang AS dominant_lang,
  ROUND(CAST(top.c AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS dominant_share
FROM tot ORDER BY source""",
    ),
    "label_balance_audit": QuerySpec(
        similarity.q_label_balance_audit,
        """WITH per AS (
  SELECT CAST(label AS INT) AS label, COUNT(*) AS c FROM embeddings GROUP BY 1),
tot AS (
  SELECT SUM(c) AS n, COUNT(*) AS k, MAX(c) AS mx, MIN(c) AS mn FROM per),
ent AS (
  SELECT SUM(CAST(ROUND(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
      * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 12) AS DECIMAL(18,12))) AS h
  FROM per, tot)
SELECT CAST(label AS BIGINT) AS label, CAST(c AS BIGINT) AS n_vectors,
  ROUND(CAST(c AS DOUBLE) / CAST(n AS DOUBLE), 6) AS share,
  ROUND(CAST(h AS DOUBLE) / ln(CAST(k AS DOUBLE)), 6) AS normalized_entropy,
  ROUND(CAST(mx AS DOUBLE) / CAST(mn AS DOUBLE), 6) AS max_min_ratio
FROM per, tot, ent ORDER BY label""",
    ),
    # -- streaming-stateful --------------------------------------------------
    "stream_sessionize_gate": QuerySpec(
        faces.q_stream_sessionize_gate,
        f"""WITH {_SESSIONS_CTE},
emitted AS (
  SELECT sess.* FROM sess, mx
  WHERE sid < (SELECT MAX(sid) FROM sess s2 WHERE s2.user_id = sess.user_id)
     OR mx.maxms > end_ms + {_SESS_GAP_MS})
SELECT user_id, COUNT(*) AS n_sessions, CAST(SUM(n) AS BIGINT) AS n_events,
  CAST(SUM(end_us - start_us) AS BIGINT) AS sum_dur_us,
  ROUND(CAST(SUM(val) AS DOUBLE), 4) AS sum_value
FROM emitted GROUP BY user_id ORDER BY user_id""",
    ),
    "stream_tumbling_revenue": QuerySpec(
        faces.q_stream_tumbling_revenue,
        f"""WITH b AS (SELECT event_id % {faces.N_BATCHES} AS bk, ts, value FROM events),
m0 AS (SELECT MAX(ts) AS t FROM b WHERE bk = 0),
mall AS (SELECT MAX(ts) AS t FROM b),
inc AS (
  SELECT date_trunc('hour', ts) AS wstart, value FROM b
  WHERE bk < 2
     OR date_trunc('hour', ts) + INTERVAL 1 HOUR
        > (SELECT t FROM m0) - INTERVAL 30 MINUTE),
agg AS (
  SELECT wstart, COUNT(*) AS n_events,
    ROUND(CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE), 4) AS revenue
  FROM inc GROUP BY 1)
SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start, n_events, revenue
FROM agg, mall WHERE wstart + INTERVAL 1 HOUR <= mall.t - INTERVAL 30 MINUTE
ORDER BY window_start""",
    ),
    "stream_dedup_watermark": QuerySpec(
        faces.q_stream_dedup_watermark,
        """SELECT event_type, COUNT(*) AS n_events,
  COUNT(DISTINCT event_id) AS n_distinct,
  ROUND(CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE), 4) AS sum_value
FROM events GROUP BY 1 ORDER BY 1""",
    ),
    "stream_cdc_merge_parity": QuerySpec(
        faces.q_stream_cdc_merge_parity,
        """WITH c AS (
  SELECT c_custkey AS k, c_nationkey,
    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer),
final AS (
  SELECT k, c_nationkey,
    CASE WHEN k % 7 = 0 THEN cents + 700000
         WHEN k % 5 = 0 THEN cents + 100000
         ELSE cents END AS cents
  FROM c WHERE NOT (k % 11 = 3))
SELECT c_nationkey, COUNT(*) AS n_rows, CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM final GROUP BY 1 ORDER BY 1""",
    ),
    "stream_static_enrich": QuerySpec(
        faces.q_stream_static_enrich,
        """SELECT COALESCE(c_nationkey, -1) AS nationkey, COUNT(*) AS n_events,
  COUNT(DISTINCT user_id) AS n_users,
  ROUND(CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE), 4) AS sum_value
FROM events LEFT JOIN customer ON user_id = c_custkey
GROUP BY 1 ORDER BY 1""",
    ),
    "stream_interval_join_gate": QuerySpec(
        faces.q_stream_interval_join_gate,
        """WITH c AS (SELECT user_id, event_id AS click_id, ts AS cts
  FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, event_id AS purchase_id, ts AS pts
  FROM events WHERE event_type = 'purchase'),
j AS (
  SELECT p.user_id, purchase_id, click_id,
    epoch_us(pts) - epoch_us(cts) AS lead_us
  FROM c JOIN p ON c.user_id = p.user_id
    AND cts >= pts - INTERVAL 30 MINUTE AND cts < pts)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, COUNT(DISTINCT user_id) AS n_users,
  COUNT(DISTINCT purchase_id) AS n_purchases_matched,
  CAST(SUM(lead_us) AS BIGINT) AS sum_lead_us
FROM j""",
    ),
    # register merge is max(): streamed sketch == batch sketch, so the
    # batch HLL oracle applies VERBATIM (the shared spec.py text the
    # live hll_portable also uses)
    "stream_running_hll": QuerySpec(
        faces.q_stream_running_hll, _HLL_PORTABLE_ORACLE
    ),
    "stream_state_timeout_audit": QuerySpec(
        faces.q_stream_state_timeout_audit,
        f"""WITH {_SESSIONS_CTE},
tm AS (
  SELECT tile, MAX(MAX(ms)) OVER (ORDER BY tile ROWS UNBOUNDED PRECEDING) AS cmms
  FROM s GROUP BY tile),
heads AS (
  SELECT user_id, sid, tile AS stile FROM (
    SELECT user_id, sid, tile,
      ROW_NUMBER() OVER (PARTITION BY user_id, sid ORDER BY us, event_id) AS rn
    FROM s) WHERE rn = 1),
lab AS (
  SELECT sess.*, heads.stile,
    CASE
      WHEN heads.stile IS NOT NULL THEN
        CASE WHEN heads.stile >= 3
              AND (SELECT cmms FROM tm WHERE tile = heads.stile - 2)
                  > sess.end_ms + {_SESS_GAP_MS}
             THEN 'timeout' ELSE 'gap' END
      WHEN (SELECT maxms FROM mx) > sess.end_ms + {_SESS_GAP_MS} THEN 'timeout'
    END AS close_reason
  FROM sess LEFT JOIN heads
    ON heads.user_id = sess.user_id AND heads.sid = sess.sid + 1)
SELECT close_reason, COUNT(*) AS n_sessions, CAST(SUM(n) AS BIGINT) AS n_events,
  COUNT(DISTINCT user_id) AS n_users,
  CAST(SUM(end_us - start_us) AS BIGINT) AS sum_dur_us
FROM lab WHERE close_reason IS NOT NULL
GROUP BY 1 ORDER BY 1""",
    ),
    # -- relational / at-scale shapes ----------------------------------------
    "range_join_bucketed": QuerySpec(
        shapes.q_range_join_bucketed,
        f"""WITH win AS (
  SELECT n_nationkey AS window_id,
    {shapes.VALIDITY_EPOCH} + n_nationkey * {shapes.VALIDITY_STRIDE_S}.0 AS w_start,
    {shapes.VALIDITY_EPOCH} + n_nationkey * {shapes.VALIDITY_STRIDE_S}.0
      + {shapes.VALIDITY_WIDTH_S}.0 AS w_end
  FROM nation)
SELECT window_id, COUNT(*) AS n_events,
  ROUND(CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE), 4) AS sum_value
FROM win JOIN events ON epoch(ts) >= w_start AND epoch(ts) < w_end
GROUP BY window_id ORDER BY window_id""",
    ),
    "skew_salted_topk": QuerySpec(
        shapes.q_skew_salted_topk,
        f"""WITH g AS (
  SELECT CASE WHEN l_orderkey % 4 > 0 THEN 'HOT' ELSE l_returnflag END AS key,
    l_partkey, {_CENTS.format(expr='l_extendedprice')} AS cents
  FROM lineitem GROUP BY 1, 2),
r AS (
  SELECT key, l_partkey AS partkey, cents,
    ROW_NUMBER() OVER (PARTITION BY key ORDER BY cents DESC, l_partkey) AS rank
  FROM g)
SELECT key, CAST(rank AS INT) AS rank, partkey, cents
FROM r WHERE rank <= {shapes.TOPK_K} ORDER BY key, rank""",
    ),
    "bucketed_colocated_join_gate": QuerySpec(
        shapes.q_bucketed_colocated_join_gate,
        f"""SELECT c_nationkey, COUNT(*) AS n_orders,
  {_CENTS.format(expr='o_totalprice')} AS sum_cents,
  TRUE AS no_exchange
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey ORDER BY c_nationkey""",
    ),
    "snapshot_asof_read_gate": QuerySpec(
        shapes.q_snapshot_asof_read_gate,
        f"""WITH v1 AS (
  SELECT COUNT(*) AS v1_rows, {_CENTS.format(expr='o_totalprice')} AS v1_cents
  FROM orders WHERE o_orderdate < TIMESTAMP '{shapes.ASOF_CUTOFF}'),
v2 AS (
  SELECT COUNT(*) AS v2_rows, {_CENTS.format(expr='o_totalprice')} AS v2_cents
  FROM orders)
SELECT v1_rows, v1_cents, v2_rows, v2_cents,
  v1_rows < v2_rows AS versions_distinct
FROM v1, v2""",
    ),
    "window_rangebetween_native": QuerySpec(
        shapes.q_window_rangebetween_native,
        """SELECT trailing_n, COUNT(*) AS n_rows,
  CAST(SUM(trailing_dec) AS DOUBLE) AS sum_trailing_value
FROM (
  SELECT COUNT(*) OVER w AS trailing_n,
         SUM(CAST(value AS DECIMAL(27,4))) OVER w AS trailing_dec
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW))
GROUP BY trailing_n ORDER BY trailing_n""",
    ),
    "grouping_sets_cube_gate": QuerySpec(
        shapes.q_grouping_sets_cube_gate,
        """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
  COALESCE(o_orderpriority, 'ALL') AS priority,
  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
  COUNT(*) AS n,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                        (o_orderstatus), (o_orderpriority), ())
ORDER BY gid, status, priority""",
    ),
    "pivot_unpivot_roundtrip": QuerySpec(
        shapes.q_pivot_unpivot_roundtrip,
        """SELECT o_orderpriority AS priority, o_orderstatus AS status,
  COUNT(*) AS n, TRUE AS match
FROM orders GROUP BY 1, 2 ORDER BY priority, status""",
    ),
    # -- multimodal analysis -------------------------------------------------
    "image_phash_neardup": QuerySpec(
        media_analysis.q_image_phash_neardup,
        _phash_hashes_sql()
        + f"""
SELECT a.m AS ka, b.m AS kb,
  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INT) AS hamming
FROM hashes a JOIN hashes b ON a.m < b.m
WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= {media_analysis.PHASH_TAU}
ORDER BY ka, kb""",
    ),
    "image_channel_histogram": QuerySpec(
        media_analysis.q_image_channel_histogram,
        f"""WITH ids AS (
  SELECT doc_id AS m, 16 + (doc_id % 32) AS w, 16 + ((doc_id * 7) % 32) AS h
  FROM documents WHERE doc_id < {_GATE}),
px AS (
  SELECT i.range % 3 AS channel,
    (((i.range // (w * 3)) % 256) + (i.range % (w * 3))) % 256 // 32 AS bin
  FROM ids, range(0, 6912) i WHERE i.range < w * h * 3)
SELECT CAST(channel AS BIGINT) AS channel, CAST(bin AS BIGINT) AS bin,
  COUNT(*) AS n_px
FROM px GROUP BY 1, 2 ORDER BY channel, bin""",
    ),
    "image_resize_gate": QuerySpec(
        media_analysis.q_image_resize_gate,
        f"""WITH ids AS (
  SELECT doc_id AS m, 16 + (doc_id % 32) AS w, 16 + ((doc_id * 7) % 32) AS h
  FROM documents WHERE doc_id < {_GATE}),
lv AS (SELECT * FROM (VALUES {", ".join(f"({i}, {tw}, {th})" for i, (tw, th) in enumerate(media_analysis.PYRAMID_LEVELS))}) l(level, tw, th)),
res AS (
  SELECT m, level, tw, th,
    CAST(SUM((((((i.range // 3) // tw) * h // th) % 256
               + 3 * (((i.range // 3) % tw) * w // tw)
               + (i.range % 3)) % 256)
             * ((i.range % 9973) + 1)) AS BIGINT) AS checksum
  FROM ids, lv, range(0, {3 * max(tw * th for tw, th in media_analysis.PYRAMID_LEVELS)}) i
  WHERE i.range < tw * th * 3
  GROUP BY 1, 2, 3, 4)
SELECT m AS media_id, CAST(level AS BIGINT) AS level,
  CAST(tw AS BIGINT) AS out_w, CAST(th AS BIGINT) AS out_h, checksum
FROM res ORDER BY media_id, level""",
    ),
    "audio_spectral_centroid": QuerySpec(
        media_analysis.q_audio_spectral_centroid,
        f"""WITH ids AS (
  SELECT doc_id AS m, 1200 + (doc_id % 17) * 53 AS n
  FROM documents WHERE doc_id < {_GATE}),
mc AS (SELECT * FROM (VALUES {_dct_values(media_analysis.SPEC_DCT, first_index=1)}) s(k, i, mv)),
t AS (
  SELECT ids.m, fr.range AS f, mc.k,
    SUM(mc.mv * (((fr.range * {media_analysis.SPEC_FRAME} + mc.i) * 37) % 20000 - 10000)) AS t
  FROM ids, range(0, 128) fr, mc
  WHERE fr.range < n // {media_analysis.SPEC_FRAME}
  GROUP BY 1, 2, 3),
p AS (SELECT m, k, SUM(t * t) AS p FROM t GROUP BY 1, 2),
agg AS (
  SELECT m, SUM(k * p) AS num, SUM(p) AS den FROM p GROUP BY 1)
SELECT ids.m AS media_id, CAST(ids.n // {media_analysis.SPEC_FRAME} AS BIGINT) AS n_frames_spec,
  ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS centroid,
  CAST(den % {media_analysis.SPEC_MOD} AS BIGINT) AS power_mod
FROM ids JOIN agg USING (m) ORDER BY media_id""",
    ),
    "audio_silence_ratio": QuerySpec(
        media_analysis.q_audio_silence_ratio,
        f"""WITH ids AS (
  SELECT doc_id AS m, 1200 + (doc_id % 17) * 53 AS n
  FROM documents WHERE doc_id < {_GATE}),
s AS (
  SELECT m, CASE WHEN (i.range // {media_analysis.GAP_BLOCK}) % 4 = 3 THEN 0
    ELSE ((i.range * 37) % 20000) - 10000 END AS v
  FROM ids, range(0, 2048) i WHERE i.range < n),
agg AS (
  SELECT m, COUNT(*) AS n_samples,
    CAST(SUM(CASE WHEN v > -{media_analysis.SILENCE_AMP}
      AND v < {media_analysis.SILENCE_AMP} THEN 1 ELSE 0 END) AS BIGINT) AS n_silent
  FROM s GROUP BY 1)
SELECT m AS media_id, n_samples, n_silent,
  ROUND(CAST(n_silent AS DOUBLE) / CAST(n_samples AS DOUBLE), 6) AS silence_ratio
FROM agg ORDER BY media_id""",
    ),
    "video_shot_boundaries": QuerySpec(
        media_analysis.q_video_shot_boundaries,
        f"""WITH ids AS (
  SELECT doc_id AS m, 16 + (doc_id % 16) AS w, 12 + ((doc_id * 5) % 12) AS h,
    8 + (doc_id % 9) AS n, 3 + (doc_id % 4) AS sl
  FROM documents WHERE doc_id < {_GATE}),
fr AS (
  SELECT m, w, h, n, sl, CAST(f AS BIGINT) AS f,
    (m * 31 + 17 * (f // sl)) % 251 AS base,
    (m * 31 + 17 * ((f - 1) // sl)) % 251 AS pbase
  FROM ids, range(1, 17) r(f) WHERE f < n),
px AS (
  SELECT m, f, n, w * h AS npx,
    SUM(abs((base + (p.i % w) + (p.i // w)) % 256
          - (pbase + (p.i % w) + (p.i // w)) % 256)) AS d
  FROM fr, range(0, 2048) p(i) WHERE p.i < w * h
  GROUP BY 1, 2, 3, 4),
agg AS (
  SELECT m, MAX(n) AS n_frames,
    CAST(SUM(CASE WHEN d * 1000 > {media_analysis.SHOT_TAU_MILLI} * npx
      THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
    CAST(SUM(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_static,
    COALESCE(STRING_AGG(CASE WHEN d * 1000 > {media_analysis.SHOT_TAU_MILLI} * npx
      THEN CAST(f AS VARCHAR) END, ',' ORDER BY f), '') AS cut_frames
  FROM px GROUP BY 1)
SELECT m AS media_id, CAST(n_frames AS BIGINT) AS n_frames, n_cuts, n_static, cut_frames
FROM agg ORDER BY media_id""",
    ),
    "video_motion_profile": QuerySpec(
        media_analysis.q_video_motion_profile,
        f"""WITH ids AS (
  SELECT doc_id AS m, 16 + (doc_id % 16) AS w, 12 + ((doc_id * 5) % 12) AS h,
    8 + (doc_id % 9) AS n, doc_id % 251 AS base
  FROM documents WHERE doc_id < {_GATE}),
fr AS (
  SELECT m, w, h, n, base, CAST(f AS BIGINT) AS f
  FROM ids, range(1, 17) r(f) WHERE f < n),
d AS (
  SELECT m, MAX(n) AS n, MAX(w * h) AS npx,
    SUM(abs((base + 3 * f + (p.i % w) + (p.i // w)) % 256
          - (base + 3 * (f - 1) + (p.i % w) + (p.i // w)) % 256)) AS total
  FROM fr, range(0, 2048) p(i) WHERE p.i < w * h
  GROUP BY m)
SELECT m AS media_id, CAST(n AS BIGINT) AS n_frames, CAST(npx AS BIGINT) AS n_px,
  CAST(total AS BIGINT) AS total_abs_diff,
  CAST(total * 1000 // (npx * (n - 1)) AS BIGINT) AS mean_diff_milli
FROM d ORDER BY media_id""",
    ),
    "multimodal_dedup_cross": QuerySpec(
        media_analysis.q_multimodal_dedup_cross,
        _cross_hashes_sql()
        + """
SELECT i.image_id, v.video_id, v.frame_idx,
  CAST(bit_count(xor(i.hi, v.hi)) + bit_count(xor(i.lo, v.lo)) AS INT) AS hamming
FROM ihashes i JOIN vhashes v
  ON bit_count(xor(i.hi, v.hi)) + bit_count(xor(i.lo, v.lo)) <= 3
ORDER BY image_id, video_id, frame_idx""",
    ),
    "media_metadata_quality_gate": QuerySpec(
        media_analysis.q_media_metadata_quality_gate,
        f"""WITH ids AS (
  SELECT doc_id AS m,
    CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
      WHEN 2 THEN 'wav' ELSE 'rvid' END AS kind,
    CASE WHEN (doc_id // 4) % 6 = 5 THEN 1 ELSE 0 END AS corrupt,
    CASE doc_id % 4
      WHEN 0 THEN (8 + doc_id % 24) * (8 + (doc_id * 3) % 24)
      WHEN 1 THEN (16 + doc_id % 32) * (16 + doc_id % 16)
      WHEN 2 THEN 1000 + (doc_id % 23) * 41
      ELSE (16 + doc_id % 16) * (12 + (doc_id * 5) % 12) * (8 + doc_id % 9)
    END AS declared
  FROM documents WHERE doc_id < {media_analysis.QUALITY_DOCS}),
rows_ AS (
  SELECT kind, corrupt, declared,
    CASE WHEN corrupt = 1 THEN 0 ELSE 1 END AS meta_ok,
    CASE WHEN corrupt = 1 OR kind = 'jpeg' THEN 0 ELSE 1 END AS complete,
    CASE WHEN corrupt = 1 OR kind = 'jpeg' THEN 0 ELSE declared END AS decoded
  FROM ids)
SELECT kind, COUNT(*) AS n_rows,
  CAST(SUM(meta_ok) AS BIGINT) AS n_meta_ok,
  CAST(SUM(complete) AS BIGINT) AS n_complete,
  CAST(SUM(corrupt) AS BIGINT) AS n_corrupt,
  CAST(SUM(decoded) AS BIGINT) AS sum_units_decoded,
  CAST(SUM(declared) AS BIGINT) AS sum_units_declared,
  CAST(SUM(decoded) * 1000 // SUM(declared) AS BIGINT) AS completeness_milli
FROM rows_ GROUP BY kind ORDER BY kind""",
    ),
    "lateral_explode_topk": QuerySpec(
        shapes.q_lateral_explode_topk,
        f"""WITH t AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS toks
  FROM documents WHERE doc_id < {shapes.LATERAL_DOCS}),
ex AS (
  SELECT doc_id, i.range AS pos1, toks[i.range] AS token
  FROM t, range(1, {shapes.LATERAL_MAX_TOKS + 1}) i WHERE i.range <= len(toks)),
r AS (
  SELECT doc_id, token, length(token) AS tok_len, pos1,
    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY length(token) DESC, pos1) AS rank
  FROM ex)
SELECT doc_id, CAST(rank AS INT) AS rank, token,
  CAST(tok_len AS BIGINT) AS tok_len, CAST(pos1 AS BIGINT) AS pos1
FROM r WHERE rank <= {shapes.LATERAL_K} ORDER BY doc_id, rank""",
    ),
    # -- semi-structured data and Python engine surfaces ---------------------
    "variant_shred": QuerySpec(
        semistructured.q_variant_shred,
        """SELECT o_orderstatus AS status, COUNT(*) AS n,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS sum_total,
  COUNT(DISTINCT year(o_orderdate)) AS n_years,
  COUNT(CAST(NULL AS VARCHAR)) AS n_missing,
  COUNT(CASE WHEN regexp_matches(o_orderpriority, '^-?\\d+$') THEN 1 END) AS n_prio_int
FROM orders GROUP BY 1 ORDER BY 1""",
    ),
    "variant_typeof_profile": QuerySpec(
        semistructured.q_variant_typeof_profile,
        """WITH v AS (
  SELECT doc_id,
    CASE doc_id % 4 WHEN 0 THEN 'BIGINT' WHEN 1 THEN 'STRING'
      WHEN 2 THEN 'ARRAY<BIGINT>' ELSE 'OBJECT<k: BIGINT>' END AS vtype
  FROM documents)
SELECT vtype, COUNT(*) AS n, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
FROM v GROUP BY 1 ORDER BY 1""",
    ),
    "from_json_corrupt_gate": QuerySpec(
        semistructured.q_from_json_corrupt_gate,
        """WITH p AS (
  SELECT doc_id, source, (doc_id % 7 <> 3) AS valid,
    CASE WHEN doc_id % 7 <> 3 THEN n_chars END AS nc,
    CASE WHEN doc_id % 7 <> 3 THEN 1 END AS meta_ok
  FROM documents)
SELECT valid, COUNT(*) AS n, CAST(SUM(nc) AS BIGINT) AS sum_chars,
  CAST(SUM(meta_ok) AS BIGINT) AS n_meta_ok, COUNT(DISTINCT source) AS n_sources
FROM p GROUP BY 1 ORDER BY 1""",
    ),
    "map_reshape_gate": QuerySpec(
        semistructured.q_map_reshape_gate,
        """WITH c AS (SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY 1, 2),
t AS (SELECT source, SUM(n) AS total_docs,
        CAST(COUNT(CASE WHEN n >= 5 THEN 1 END) AS INT) AS n_langs_5plus
      FROM c GROUP BY 1)
SELECT c.source, c.lang, ROUND(c.n / t.total_docs, 6) AS share,
  CAST(t.total_docs AS BIGINT) AS total_docs, t.n_langs_5plus
FROM c JOIN t USING (source) ORDER BY source, lang""",
    ),
    "higher_order_chain": QuerySpec(
        semistructured.q_higher_order_chain,
        """WITH u AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x, len(embedding) AS n
  FROM embeddings),
rev AS (
  SELECT a.vec_id,
    CAST(SUM(CAST(a.x * b.x AS DECIMAL(20,10))) AS DOUBLE) AS rev_dot
  FROM u a JOIN u b ON a.vec_id = b.vec_id AND b.i = a.n + 1 - a.i
  GROUP BY 1),
st AS (
  SELECT vec_id,
    CAST(COUNT(CASE WHEN x > 0 THEN 1 END) AS INT) AS n_pos,
    CAST(SUM(CAST(abs(x) AS DECIMAL(20,10))) AS DOUBLE) AS l1_norm
  FROM u GROUP BY 1)
SELECT rev.vec_id, ROUND(rev.rev_dot, 6) AS rev_dot, st.n_pos,
  ROUND(st.l1_norm, 6) AS l1_norm
FROM rev JOIN st USING (vec_id) ORDER BY vec_id""",
    ),
    "udtf_bigram_topk": QuerySpec(
        semistructured.q_udtf_bigram_topk,
        f"""WITH toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents),
g AS (
  SELECT unnest(list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i + 1])) AS gram
  FROM toks)
SELECT gram, COUNT(*) AS n FROM g
GROUP BY 1 ORDER BY n DESC, gram LIMIT {semistructured._BIGRAM_TOPK}""",
    ),
    "arrow_map_profile": QuerySpec(
        semistructured.q_arrow_map_profile,
        """SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
  CAST(SUM(strlen(text)) AS BIGINT) AS sum_bytes,
  CAST(MAX(length(text)) AS BIGINT) AS max_chars
FROM documents GROUP BY 1 ORDER BY 1""",
    ),
    "xml_shred_gate": QuerySpec(
        semistructured.q_xml_shred_gate,
        """SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS sum_total,
  COUNT(DISTINCT year(o_orderdate) * 100 + month(o_orderdate)) AS n_year_months
FROM orders GROUP BY 1 ORDER BY 1""",
    ),
    "statestore_read_gate": QuerySpec(
        faces.q_statestore_read_gate,
        """SELECT COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS total_value
FROM events""",
    ),
    "python_datasource_gate": QuerySpec(
        semistructured.q_python_datasource_gate,
        """SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS sum_chars, MIN(doc_id) AS min_doc
FROM documents WHERE n_chars > 300 GROUP BY 1 ORDER BY 1""",
    ),
    "python_cdc_stream_gate": QuerySpec(
        faces.q_python_cdc_stream_gate,
        """SELECT event_type, COUNT(*) AS n_events,
  COUNT(DISTINCT user_id) AS n_users,
  CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS sum_value,
  MAX(epoch_us(ts)) AS max_ts_us
FROM events GROUP BY 1 ORDER BY 1""",
    ),
    # -- Spark SQL language surfaces and chunked sinks -----------------------
    "recursive_cte_closure": QuerySpec(
        sqlsurfaces.q_recursive_cte_closure,
        """WITH RECURSIVE walk(c, cur, d) AS (
  SELECT c_custkey, c_custkey, 0
  FROM customer WHERE c_custkey BETWEEN 1 AND 255
  UNION ALL
  SELECT c, cur // 2, d + 1 FROM walk WHERE cur > 1
),
depths AS (SELECT c, MAX(d) AS depth FROM walk GROUP BY c)
SELECT depth, COUNT(*) AS n_customers, CAST(SUM(c) AS BIGINT) AS sum_keys
FROM depths GROUP BY depth ORDER BY depth""",
    ),
    "pipe_syntax_parity": QuerySpec(
        sqlsurfaces.q_pipe_syntax_parity,
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
  CAST(SUM(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,4))) AS DOUBLE) AS sum_price
FROM lineitem WHERE l_quantity < 24
GROUP BY 1, 2 ORDER BY 1, 2""",
    ),
    "sql_udf_gate": QuerySpec(
        sqlsurfaces.q_sql_udf_gate,
        """SELECT l_returnflag, COUNT(*) AS n,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,4)))
       AS DOUBLE) AS revenue
FROM lineitem GROUP BY 1 ORDER BY 1""",
    ),
    "sql_table_udf_gate": QuerySpec(
        sqlsurfaces.q_sql_table_udf_gate,
        """WITH h AS (
  SELECT LEAST(CAST(FLOOR(o_totalprice / 50000) AS BIGINT), 7) AS b,
         COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS total
  FROM orders GROUP BY 1)
SELECT s.b AS bucket, COALESCE(h.n, 0) AS n_orders,
       COALESCE(h.total, 0.0) AS sum_price
FROM (SELECT range AS b FROM range(8)) s LEFT JOIN h ON s.b = h.b
ORDER BY s.b""",
    ),
    "collation_gate": QuerySpec(
        sqlsurfaces.q_collation_gate,
        """WITH m AS (
  SELECT CASE CAST(doc_id % 3 AS INT)
           WHEN 0 THEN upper(lang)
           WHEN 1 THEN lang
           ELSE concat(upper(substring(lang, 1, 1)), substring(lang, 2))
         END AS mixed
  FROM documents)
SELECT lower(MIN(mixed)) AS lang, COUNT(*) AS n_docs,
       COUNT(DISTINCT mixed) AS n_case_variants
FROM m GROUP BY lower(mixed) ORDER BY lang""",
    ),
    "chunked_sink_gate": QuerySpec(
        sqlsurfaces.q_chunked_sink_gate,
        """SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM documents GROUP BY 1 ORDER BY 1""",
    ),
    # --- the two round-10-seed leftovers, built in round 11 ---------------
    "observe_metrics_gate": QuerySpec(
        sqlsurfaces.q_observe_metrics_gate,
        """WITH m AS (
  SELECT COUNT(*) AS n_in,
    CAST(SUM(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) AS sum_qty_in,
    COUNT(*) FILTER (WHERE l_quantity < 24) AS n_kept,
    CAST(SUM(CAST(l_quantity AS DECIMAL(27,4)))
         FILTER (WHERE l_quantity < 24) AS DOUBLE) AS sum_qty_kept
  FROM lineitem)
SELECT CAST(n_in AS BIGINT) AS n_in, CAST(n_kept AS BIGINT) AS n_kept,
  sum_qty_in, sum_qty_kept,
  CAST(CASE WHEN n_in = 0 THEN 0 ELSE n_kept * 1000 // n_in END
       AS BIGINT) AS kept_permille
FROM m""",
    ),
    "chunked_stream_sink_gate": QuerySpec(
        sqlsurfaces.q_chunked_stream_sink_gate,
        """SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM documents GROUP BY 1 ORDER BY 1""",
    ),
    # -- robustness: schema drift and parquet quarantine ---------------------
    "schema_drift_gate": QuerySpec(
        robustness.q_schema_drift_gate,
        f"""SELECT source, COUNT(*) AS n_docs,
  COUNT(CASE WHEN doc_id % {robustness.DRIFT_MOD} = 0 THEN 1 END) AS n_with_lang,
  COUNT(DISTINCT CASE WHEN doc_id % {robustness.DRIFT_MOD} = 0
        THEN 'L' || CAST(doc_id % 7 AS VARCHAR) END) AS n_lang_variants,
  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
  'lang' AS drift_added
FROM documents GROUP BY source ORDER BY source""",
    ),
    "integrity_quarantine_gate": QuerySpec(
        robustness.q_integrity_quarantine_gate,
        f"""SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
  MIN(doc_id) AS min_doc,
  CAST(1 AS BIGINT) AS n_quarantined,
  'bucket-{robustness.CORRUPT_VICTIM}.parquet' AS quarantined_file
FROM documents WHERE doc_id % {robustness.CORRUPT_BUCKETS} <> {robustness.CORRUPT_VICTIM}
GROUP BY source ORDER BY source""",
    ),
    # -- fleet scheduler and version store -----------------------------------
    # the poisoned table reaches the SAME final sums one tick later (its
    # failed tick published nothing: n_versions 2, not 3)
    "fleet_scheduler_gate": QuerySpec(
        fleet.q_fleet_scheduler_gate,
        f"""WITH t AS (
{_FLEET_ARMS}
)
SELECT tbl, n_rows, sum_v, n_versions, tick1_failed FROM t ORDER BY tbl""",
    ),
    # later wave wins for keys in both: pk % 50 keys end at 13*pk even
    # when pk % 10 also matched the earlier wave
    "vacuum_retention_gate": QuerySpec(
        fleet.q_vacuum_retention_gate,
        f"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CASE WHEN c_custkey % {fleet.THIRD_MOD} = 0
           THEN {fleet.V_WAVE3} * c_custkey
           WHEN c_custkey % {fleet.UPDATE_MOD} = 0
           THEN {fleet.V_WAVE1} * c_custkey
           ELSE {fleet.V_SNAP} * c_custkey END) AS BIGINT) AS sum_v,
  CAST(3 AS INT) AS n_versions_start,
  CAST(1 AS INT) AS n_victims_keep,
  CAST(1 AS INT) AS n_victims_ttl,
  CAST(1 AS INT) AS n_versions_end
FROM customer""",
    ),
    # B merged after A, so B's wave wins the pk % 70 overlap; the dir
    # count pins the loser's documented orphan (snapshot + A + orphan +
    # retry = 4)
    "cas_publish_gate": QuerySpec(
        fleet.q_cas_publish_gate,
        f"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CASE WHEN c_custkey % {fleet.UPDATE_MOD} = 0
           THEN {fleet.V_WAVE1} * c_custkey
           ELSE {fleet.V_SNAP} * c_custkey END) AS BIGINT) AS sum_after_a,
  CAST(SUM(CASE WHEN c_custkey % {fleet.CAS_MOD} = 0
           THEN {fleet.V_CAS} * c_custkey
           WHEN c_custkey % {fleet.UPDATE_MOD} = 0
           THEN {fleet.V_WAVE1} * c_custkey
           ELSE {fleet.V_SNAP} * c_custkey END) AS BIGINT) AS sum_final,
  CAST(4 AS INT) AS n_version_dirs
FROM customer""",
    ),
    "snapshot_consistency_gate": QuerySpec(
        fleet.q_snapshot_consistency_gate,
        f"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM({fleet.V_SNAP} * c_custkey) AS BIGINT) AS sum_v1,
  CAST(SUM(CASE WHEN c_custkey % {fleet.UPDATE_MOD} = 0
           THEN {fleet.V_WAVE1} * c_custkey
           ELSE {fleet.V_SNAP} * c_custkey END) AS BIGINT) AS sum_v2,
  CAST(SUM(CASE WHEN c_custkey % {fleet.SECOND_MOD} = 0
           THEN {fleet.V_WAVE2} * c_custkey
           WHEN c_custkey % {fleet.UPDATE_MOD} = 0
           THEN {fleet.V_WAVE1} * c_custkey
           ELSE {fleet.V_SNAP} * c_custkey END) AS BIGINT) AS sum_v3,
  CAST(3 AS INT) AS n_versions
FROM customer""",
    ),
    # -- composed curation funnel --------------------------------------------
    "curation_funnel_gate": QuerySpec(
        funnel.q_curation_funnel_gate,
        f"""{_FUNNEL_CTES},
st AS (
  SELECT 0 AS stage_idx, 'ingest' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(n_tok) AS BIGINT) AS sum_tokens FROM f
  UNION ALL SELECT 1, 'lang_filter', COUNT(*), CAST(SUM(n_tok) AS BIGINT) FROM l
  UNION ALL SELECT 2, 'quality_filter', COUNT(*), CAST(SUM(n_tok) AS BIGINT) FROM q
  UNION ALL SELECT 3, 'exact_dedup', COUNT(*), CAST(SUM(n_tok) AS BIGINT) FROM e
  UNION ALL SELECT 4, 'prefix_dedup', COUNT(*), CAST(SUM(n_tok) AS BIGINT) FROM p)
SELECT CAST(stage_idx AS INT) AS stage_idx, stage, n_docs, sum_tokens,
  CAST(COALESCE(LAG(n_docs) OVER (ORDER BY stage_idx) - n_docs, 0) AS BIGINT)
    AS n_dropped
FROM st ORDER BY stage_idx""",
    ),
    # the oracle restates the FULL recompute; the Spark face computes the
    # INCREMENTAL path and asserts set equality in-gate, so a divergence
    # fails twice (loud in-gate, hash-red at the driver)
    "curation_funnel_incremental_gate": QuerySpec(
        funnel.q_curation_funnel_incremental_gate,
        f"""{_FUNNEL_CTES}
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tok) AS BIGINT) AS sum_tokens, MIN(doc_id) AS min_doc
FROM p GROUP BY source ORDER BY source""",
    ),
    # -- reference API surfaces (SOSL, paging, CDC id windows, compaction) ---
    # ALL FIELDS = every string column of documents (text, lang, source);
    # the soft-delete default is a no-op here (documents has no IsDeleted)
    "sosl_search_gate": QuerySpec(
        refsurfaces.q_sosl_search_gate,
        f"""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_hits,
  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM documents
WHERE (contains(lower(text), '{refsurfaces.SOSL_TERM}')
    OR contains(lower(lang), '{refsurfaces.SOSL_TERM}')
    OR contains(lower(source), '{refsurfaces.SOSL_TERM}'))
  AND n_chars > {refsurfaces.SOSL_MIN_CHARS}
GROUP BY source ORDER BY source""",
    ),
    # the face rebuilds the totals from the PAGES and asserts no key is
    # seen twice; the oracle restates the page math from orders
    "query_pages_gate": QuerySpec(
        refsurfaces.q_query_pages_gate,
        f"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(CEIL(COUNT(*) / {refsurfaces.PAGE_SIZE}.0) AS BIGINT) AS n_pages,
  CAST(CASE WHEN COUNT(*) = 0 THEN 0
            WHEN COUNT(*) % {refsurfaces.PAGE_SIZE} = 0 THEN {refsurfaces.PAGE_SIZE}
            ELSE COUNT(*) % {refsurfaces.PAGE_SIZE} END AS BIGINT) AS last_page_rows,
  CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys
FROM orders""",
    ),
    "cdc_id_scans_gate": QuerySpec(
        refsurfaces.q_cdc_id_scans_gate,
        f"""WITH w AS (
  SELECT c_custkey AS pk,
    c_custkey % {refsurfaces.CDC_HOUR_MOD}
      BETWEEN {refsurfaces.CDC_WIN_LO} AND {refsurfaces.CDC_WIN_HI} AS in_win,
    c_custkey % {refsurfaces.CDC_DEL_MOD} = 0 AS del
  FROM customer)
SELECT CAST(COUNT(CASE WHEN in_win THEN 1 END) AS BIGINT) AS n_updated,
  CAST(SUM(CASE WHEN in_win THEN pk END) AS BIGINT) AS sum_updated,
  MIN(CASE WHEN in_win THEN pk END) AS min_updated,
  CAST(COUNT(CASE WHEN in_win AND del THEN 1 END) AS BIGINT) AS n_deleted,
  CAST(SUM(CASE WHEN in_win AND del THEN pk END) AS BIGINT) AS sum_deleted
FROM w""",
    ),
    "compaction_gate": QuerySpec(
        refsurfaces.q_compaction_gate,
        f"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(3 * c_custkey) AS BIGINT) AS sum_v,
  CAST({refsurfaces.COMPACT_FILES_BEFORE} AS INT) AS files_before,
  CAST({refsurfaces.COMPACT_FILES_AFTER} AS INT) AS files_after,
  CAST(2 AS INT) AS n_versions
FROM customer""",
    ),
    # -- bootstrap watermark seed and upload results -------------------------
    "bootstrap_seed_gate": QuerySpec(
        bootstrap.q_bootstrap_seed_gate,
        # Final replica state after snapshot + one boundary tick,
        # restated from customer alone: boundary rows (stamp hours 3..4,
        # strictly after the hour-2 extract start) carry their
        # mid-extract V_NEW update; the hour-2 rows keep V_OLD -- the
        # post-snapshot V_POISON write at exactly extract-start must
        # never land (strict ``>``); the watermark ends at max(ts) =
        # T0 + 4h.
        f"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CASE WHEN c_custkey % {bootstrap.BOOT_HOUR_MOD} > {bootstrap.BOOT_EXTRACT_HOURS}
       THEN c_custkey * {bootstrap.V_NEW}
       ELSE c_custkey * {bootstrap.V_OLD} END) AS BIGINT) AS sum_v,
  CAST(SUM(CASE WHEN c_custkey % {bootstrap.BOOT_HOUR_MOD} > {bootstrap.BOOT_EXTRACT_HOURS}
       THEN 1 ELSE 0 END) AS BIGINT) AS n_refetched,
  CAST({bootstrap.BOOT_HOUR_MOD - 1} AS BIGINT) AS wm_advance_hours
FROM customer""",
    ),
    "upload_results_gate": QuerySpec(
        bootstrap.q_upload_results_gate,
        # Per-record outcome routing + chunk accounting restated from
        # customer: Id % 7 == 0 rejected (DUPLICATE_VALUE, no id),
        # everything else created with the echoed id; chunk count is
        # ceil division at the record cap (the face feeds one partition
        # so the cap is the only chunk boundary).
        f"""SELECT CAST(COUNT(*) AS BIGINT) AS n_records,
  CAST(CEIL(COUNT(*) / {bootstrap.UPLOAD_MAX_RECORDS}.0) AS BIGINT) AS n_chunks,
  CAST(SUM(CASE WHEN c_custkey % {bootstrap.UPLOAD_FAIL_MOD} <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_success,
  CAST(SUM(CASE WHEN c_custkey % {bootstrap.UPLOAD_FAIL_MOD} = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_failed_dup,
  CAST(SUM(CASE WHEN c_custkey % {bootstrap.UPLOAD_FAIL_MOD} <> 0 THEN c_custkey ELSE 0 END) AS BIGINT) AS sum_ok_ids
FROM customer""",
    ),
    # -- catalog snapshots, waves, change feed and state recovery ------------
    "catalog_snapshot_gate": QuerySpec(
        recovery.q_catalog_snapshot_gate,
        # Both tables carry v = epoch_factor * pk; the oracle restates
        # the pinned (3,3), mixed (7,3), and committed (7,7) pair sums
        # from the base tables alone. Two catalog versions published.
        f"""WITH s AS (
  SELECT (SELECT COALESCE(SUM(c_custkey), 0) FROM customer) AS sc,
         (SELECT COALESCE(SUM(o_orderkey), 0) FROM orders) AS so)
SELECT CAST({recovery.E1} * sc + {recovery.E1} * so AS BIGINT) AS sum_cat1,
  CAST({recovery.E2} * sc + {recovery.E1} * so AS BIGINT) AS sum_mixed,
  CAST({recovery.E2} * sc + {recovery.E2} * so AS BIGINT) AS sum_cat2,
  CAST(2 AS INT) AS n_catalog_versions
FROM s""",
    ),
    "fleet_catalog_wave_gate": QuerySpec(
        recovery.q_fleet_catalog_wave_gate,
        # Catalog-committed waves: the partial wave holds the epoch-1
        # pair (3,3) while the store is mixed (cust's wave landed, ords'
        # failed on retype drift); the completed wave commits the
        # epoch-2 pair. Wave rows are pk % 10 == 0 at 7*pk (delta 4*pk
        # over the 3*pk base). Two catalog versions: bootstrap + the one
        # successful wave.
        f"""WITH c AS (SELECT COALESCE(SUM(c_custkey), 0) AS sc,
  COALESCE(SUM(CASE WHEN c_custkey % {recovery.WAVE_UPDATE_MOD} = 0 THEN c_custkey ELSE 0 END), 0) AS scw
  FROM customer),
o AS (SELECT COALESCE(SUM(o_orderkey), 0) AS so,
  COALESCE(SUM(CASE WHEN o_orderkey % {recovery.WAVE_UPDATE_MOD} = 0 THEN o_orderkey ELSE 0 END), 0) AS sow
  FROM orders)
SELECT CAST({recovery.E1} * sc + {recovery.E1} * so AS BIGINT) AS sum_cat_held,
  CAST({recovery.E1} * sc + {recovery.E2 - recovery.E1} * scw + {recovery.E1} * so AS BIGINT) AS sum_store_mixed,
  CAST({recovery.E1} * sc + {recovery.E2 - recovery.E1} * scw + {recovery.E1} * so + {recovery.E2 - recovery.E1} * sow AS BIGINT) AS sum_cat_final,
  CAST(2 AS INT) AS n_catalog_versions
FROM c, o""",
    ),
    "cdf_changes_gate": QuerySpec(
        recovery.q_cdf_changes_gate,
        # The change feed between v1 and v2, restated from customer:
        # k % 11 deleted, else k % 7 updated (3k -> 7k), k % 13 spawning
        # an inserted key k + 10^7 at v = 5 * new_key. Unchanged rows
        # never appear. Deletes carry no new-side value (sum_v = 0).
        f"""WITH b AS (SELECT c_custkey AS k FROM customer)
SELECT * FROM (
  SELECT 'delete' AS change, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(k) AS BIGINT) AS sum_pk, CAST(SUM(0) AS BIGINT) AS sum_v
  FROM b WHERE k % {recovery.CDF_DEL_MOD} = 0 HAVING COUNT(*) > 0
  UNION ALL
  SELECT 'insert', CAST(COUNT(*) AS BIGINT),
    CAST(SUM(k + {recovery.CDF_INS_OFFSET}) AS BIGINT),
    CAST(SUM({recovery.CDF_V_INS} * (k + {recovery.CDF_INS_OFFSET})) AS BIGINT)
  FROM b WHERE k % {recovery.CDF_INS_MOD} = 0 HAVING COUNT(*) > 0
  UNION ALL
  SELECT 'update', CAST(COUNT(*) AS BIGINT), CAST(SUM(k) AS BIGINT),
    CAST(SUM({recovery.E2} * k) AS BIGINT)
  FROM b WHERE k % {recovery.CDF_UPD_MOD} = 0 AND k % {recovery.CDF_DEL_MOD} <> 0 HAVING COUNT(*) > 0
) ORDER BY change""",
    ),
    "state_recovery_gate": QuerySpec(
        recovery.q_state_recovery_gate,
        # Final replica after snapshot -> wave-1 tick -> LEDGER LOSS ->
        # manifest recovery -> wave-2 tick: wave-2 rows (pk % 10 == 0,
        # stamped after the recovered watermark) at V_WAVE2, wave-1 rows
        # (stamp hours 3..4) at V_WAVE1, everything else at V_SNAP. The
        # recovered watermark is the merge manifest's T0+4h; exactly one
        # version published post-recovery (snapshot + 2 ticks = 3).
        f"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CASE WHEN c_custkey % {recovery.REC_WAVE2_MOD} = 0 THEN c_custkey * {recovery.V_WAVE2}
       WHEN c_custkey % {recovery.REC_HOUR_MOD} > {recovery.REC_TICK1_FROM_HOURS} THEN c_custkey * {recovery.V_WAVE1}
       ELSE c_custkey * {recovery.V_SNAP} END) AS BIGINT) AS sum_v,
  CAST(SUM(CASE WHEN c_custkey % {recovery.REC_WAVE2_MOD} = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_window,
  CAST({recovery.REC_HOUR_MOD - 1} AS BIGINT) AS recovered_wm_hours,
  CAST(3 AS INT) AS n_versions
FROM customer""",
    ),
    # -- epoch-pinned join and recovery-then-wave ----------------------------
    "catalog_join_pin_gate": QuerySpec(
        epochs.q_catalog_join_pin_gate,
        # The reader joins orders to customer through ONE pinned catalog
        # epoch. Pinned = epoch-1 pair (3ck + 3ok per match), torn =
        # epoch-2 cust against epoch-1 ords (7ck + 3ok -- a pair no epoch
        # committed), committed = epoch-2 pair (7ck + 7ok). Two catalog
        # versions published.
        f"""WITH j AS (
  SELECT c.c_custkey AS ck, o.o_orderkey AS ok
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
SELECT CAST(COUNT(*) AS BIGINT) AS n_matches,
  CAST(COALESCE(SUM({epochs.J_E1} * ck + {epochs.J_E1} * ok), 0) AS BIGINT) AS sum_join_pinned,
  CAST(COALESCE(SUM({epochs.J_E2} * ck + {epochs.J_E1} * ok), 0) AS BIGINT) AS sum_join_torn,
  CAST(COALESCE(SUM({epochs.J_E2} * ck + {epochs.J_E2} * ok), 0) AS BIGINT) AS sum_join_committed,
  CAST(2 AS INT) AS n_catalog_versions
FROM j""",
    ),
    "recovery_wave_gate": QuerySpec(
        epochs.q_recovery_wave_gate,
        # Final replica after snapshot -> wave 1 (hours 3..4 at RW_W1,
        # catalog epoch 1) -> LEDGER LOSS -> manifest recovery (both
        # tables land on the merge manifests' T0+4h) -> wave 2 (pk % 10
        # rows at RW_W2, stamped T0+6h, catalog epoch 2). Wave-2 rows
        # have pk % 5 == 0, so the CASE arms are disjoint.
        f"""WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
  CAST(COALESCE(SUM(CASE WHEN c_custkey % {epochs.RW_W2_MOD} = 0 THEN c_custkey * {epochs.RW_W2}
       WHEN c_custkey % {epochs.RW_HOUR_MOD} > {epochs.RW_TICK1_FROM_HOURS} THEN c_custkey * {epochs.RW_W1}
       ELSE c_custkey * {epochs.RW_SNAP} END), 0) AS BIGINT) AS s
  FROM customer),
o AS (SELECT
  CAST(COALESCE(SUM(CASE WHEN o_orderkey % {epochs.RW_W2_MOD} = 0 THEN o_orderkey * {epochs.RW_W2}
       WHEN o_orderkey % {epochs.RW_HOUR_MOD} > {epochs.RW_TICK1_FROM_HOURS} THEN o_orderkey * {epochs.RW_W1}
       ELSE o_orderkey * {epochs.RW_SNAP} END), 0) AS BIGINT) AS s
  FROM orders)
SELECT c.n AS n_rows_cust, c.s AS sum_v_cust, o.s AS sum_v_ords,
  CAST({epochs.RW_HOUR_MOD - 1} AS BIGINT) AS recovered_wm_hours,
  CAST(2 AS INT) AS n_catalog_versions
FROM c, o""",
    ),
    # -- retention pipeline --------------------------------------------------
    "catalog_retention_gate": QuerySpec(
        retention.q_catalog_retention_gate,
        # Three epochs at factors 2/5/9; the catalog-aware store vacuum
        # protects all three (n_store_protected = 3); catalog GC retires
        # the oldest epoch, after which exactly its store version
        # collects (2 store + 2 catalog versions remain) and the two
        # retained epochs still read their full consistent sums.
        f"""WITH s AS (SELECT COALESCE(SUM(c_custkey), 0) AS sk FROM customer)
SELECT CAST({_MID} * sk AS BIGINT) AS sum_epoch_mid,
  CAST({_NEW} * sk AS BIGINT) AS sum_epoch_new,
  CAST({len(retention.RET_EPOCHS)} AS INT) AS n_store_protected,
  CAST({retention.RET_CAT_KEEP} AS INT) AS n_store_after_gc,
  CAST({retention.RET_CAT_KEEP} AS INT) AS n_catalog_after_gc
FROM s""",
    ),
    "maintenance_recovery_gate": QuerySpec(
        retention.q_maintenance_recovery_gate,
        # Final replica after snapshot -> merge tick (hours 3..4 at
        # MR_W1) -> compact -> vacuum(keep=1) -> LEDGER LOSS -> recovery
        # from the compacted manifest's carried watermark (T0+4h) ->
        # post-recovery tick (pk % 10 rows at MR_W2, stamped T0+6h).
        # Two versions remain: the maintenance rewrite + the new tick.
        f"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(COALESCE(SUM(CASE WHEN c_custkey % {retention.MR_W2_MOD} = 0 THEN c_custkey * {retention.MR_W2}
       WHEN c_custkey % {retention.MR_HOUR_MOD} > {retention.MR_TICK1_FROM_HOURS} THEN c_custkey * {retention.MR_W1}
       ELSE c_custkey * {retention.MR_SNAP} END), 0) AS BIGINT) AS sum_v,
  CAST(COALESCE(SUM(CASE WHEN c_custkey % {retention.MR_W2_MOD} = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_window,
  CAST({retention.MR_HOUR_MOD - 1} AS BIGINT) AS recovered_wm_hours,
  CAST(2 AS INT) AS n_versions
FROM customer""",
    ),
}

# The correctness driver checks the first 50 names in dict order, so these
# head the registry: the newest gates, the 14 headline bench queries and
# the SURVEY §2 gate anchors. The rest keep literal order; append new
# queries at the end of the literal (tests/test_registry.py pins the order).
_DRIVER_FRONT = [
    "bootstrap_seed_gate",
    "upload_results_gate",
    "catalog_snapshot_gate",
    "fleet_catalog_wave_gate",
    "cdf_changes_gate",
    "state_recovery_gate",
    "recursive_cte_closure",
    "pipe_syntax_parity",
    "sql_udf_gate",
    "sql_table_udf_gate",
    "collation_gate",
    "chunked_sink_gate",
    "observe_metrics_gate",
    "chunked_stream_sink_gate",
    "schema_drift_gate",
    "integrity_quarantine_gate",
    "fleet_scheduler_gate",
    "vacuum_retention_gate",
    "cas_publish_gate",
    "snapshot_consistency_gate",
    "curation_funnel_gate",
    "curation_funnel_incremental_gate",
    "sosl_search_gate",
    "query_pages_gate",
    "cdc_id_scans_gate",
    "compaction_gate",
    "pricing_summary",
    "revenue_by_nation",
    "region_volume",
    "top_orders_per_customer",
    "sessionize",
    "merge_upsert_customer",
    "dedup_exact",
    "minhash_lsh_pairs",
    "cosine_topk",
    "quality_score",
    "kmeans_clusters",
    "pagerank_neardup",
    "prefix_filter_pairs",
    "lsh_jaccard_verified",
    "soql_projection",
    "count_orders",
    "csv_roundtrip",
    "watermark_filter",
    "soft_delete_split",
    "top_orders",
    "latest_event_per_user",
    "snapshot_projection",
    "dedup_clusters",
    "semantic_dedup",
]
for _name in (*_DRIVER_FRONT, *[n for n in QUERIES if n not in _DRIVER_FRONT]):
    QUERIES[_name] = QUERIES.pop(_name)
del _name
