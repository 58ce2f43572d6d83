"""Blocked record linkage (entity resolution) over structured records.

The classic Fellegi-Sunter pipeline re-expressed Spark-first:

  1. a deterministic "dirty" twin of the customer table (a third of the
     rows: one name character dropped, account balance jittered by a small
     key-derived integer) stands in for the second source -- both query
     faces derive it with the same portable expressions, so the gate is
     hash-exact end to end;
  2. BLOCKING turns the O(n^2) all-pairs comparison into equi-join
     candidates: block key = (nationkey, acctbal bucket), with the dirty
     side exploded to every bucket its +/-tolerance window overlaps (the
     same bucket-expansion trick as operators/rangejoin.py) so matches
     straddling a bucket boundary are not lost;
  3. per-candidate agreement scoring: Levenshtein(name) <= 1 carries
     weight 2 (names are near-unique), balance-within-tolerance and
     segment-equality weight 1 each; score >= 3 is a declared match;
  4. per-nation audit: candidates, matches, true matches (key equality the
     real pipeline wouldn't have -- here it grades precision), edit-
     distance mass.

Scale: the only join is the block-key equi-join; comparisons per block are
bounded by block size (nationkey x 1k-balance bucket keeps blocks ~uniform;
a skewed blocking key is ordinary join skew, which AQE splits at runtime).
Levenshtein runs JVM-side (F.levenshtein == DuckDB levenshtein: unit-cost
DP, integer result). No UDFs, no cartesian products.

Reference parity: beyond-reference surface (the reference has no fuzzy
matching); the staged-merge identity resolution it does have is
operators/merge.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pgsf_spark.tables import load_table

# tolerance for balance agreement; jitter is in [-3, +3] so 3.01 keeps the
# true pair inside while excluding nothing meaningful
ACCT_TOL = 3.01
# blocking bucket width: anything >= 2*tol preserves recall (the explode
# covers the straddle), and the tighter it is the smaller the blocks --
# width 10 over a ~11k-wide balance domain keeps per-block membership
# ~1000x smaller than the nation alone, so block pair counts stay linear
# in table size far longer at scale
BUCKET = 10.0


def dirty_customer_twin(customer: DataFrame) -> DataFrame:
    """Deterministic perturbed twin: every third customer, name char at
    key-derived position 2..17 dropped, balance +- (key % 7 - 3)."""
    return (
        customer.filter(F.col("c_custkey") % 3 == 0)
        .withColumn("pos", (F.lit(2) + F.col("c_custkey") % (F.length("c_name") - 2)).cast("int"))
        .select(
            F.col("c_custkey").alias("d_custkey"),
            F.expr(
                "concat(substring(c_name, 1, pos - 1), substring(c_name, pos + 1))"
            ).alias("d_name"),
            F.col("c_nationkey").alias("d_nationkey"),
            (F.col("c_acctbal") + (F.col("c_custkey") % 7 - F.lit(3)).cast("double")).alias("d_acctbal"),
            F.col("c_mktsegment").alias("d_mktsegment"),
        )
    )


def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation linkage audit of the dirty twin against the clean table."""
    cust = load_table(spark, sf_dir, "customer")
    dirty = dirty_customer_twin(cust)

    clean = cust.withColumn("c_bucket", F.floor(F.col("c_acctbal") / F.lit(BUCKET)).cast("long"))
    # explode the dirty side into every bucket its tolerance window touches
    d = dirty.withColumn(
        "c_bucket",
        F.explode(
            F.sequence(
                F.floor((F.col("d_acctbal") - ACCT_TOL) / F.lit(BUCKET)).cast("long"),
                F.floor((F.col("d_acctbal") + ACCT_TOL) / F.lit(BUCKET)).cast("long"),
            )
        ),
    )
    cand = d.join(
        clean,
        (d["d_nationkey"] == clean["c_nationkey"]) & (d["c_bucket"] == clean["c_bucket"]),
    )
    scored = cand.select(
        "d_custkey",
        "c_custkey",
        "d_nationkey",
        F.levenshtein("d_name", "c_name").alias("lev"),
        (F.abs(F.col("d_acctbal") - F.col("c_acctbal")) <= ACCT_TOL).alias("acct_ok"),
        (F.col("d_mktsegment") == F.col("c_mktsegment")).alias("seg_ok"),
    ).withColumn(
        "score",
        F.when(F.col("lev") <= 1, 2).otherwise(0)
        + F.when(F.col("acct_ok"), 1).otherwise(0)
        + F.when(F.col("seg_ok"), 1).otherwise(0),
    )
    return scored.groupBy(F.col("d_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(F.when(F.col("score") >= 3, 1).otherwise(0)).alias("n_matched"),
        F.sum(
            F.when((F.col("score") >= 3) & (F.col("d_custkey") == F.col("c_custkey")), 1).otherwise(0)
        ).alias("n_true"),
        F.sum("lev").alias("lev_mass"),
    )


AA_MAX_DEG = 25  # rare-part blocking: only below-median-degree parts vote


def q_adamic_adar_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the co-purchase graph: Adamic-Adar similarity
    between customers, AA(c1,c2) = sum over shared parts of 1/ln(deg(part))
    -- rare shared parts say more than bestsellers (the same inverse-
    document-frequency instinct as TF-IDF, applied to graph neighbors).
    Top-10 predicted links; the candidate-generation step of a
    recommender / entity-graph densifier.

    Scale shape: the customer-part incidence comes from one lineitem x
    orders equi-join projected to DISTINCT (custkey, partkey); blocking on
    rare parts (deg <= AA_MAX_DEG) bounds every part's pair fan-out at
    C(25,2) = 300, so the part self-join is an equi-join with bounded blocks
    -- popular parts are EXCLUDED by construction, which is what kills the
    usual deg^2 hot-block blowup (bestsellers carry ~zero AA mass anyway:
    1/ln(deg) -> 0). Per-part 1/ln terms round into DECIMAL(18,9) before
    the pair sum (the house ln()-portability device), so the top-10 order
    is engine-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cp = (
        li.select("l_orderkey", "l_partkey")
        .join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    deg = cp.groupBy("p").agg(F.count(F.lit(1)).alias("deg"))
    rare = deg.filter((F.col("deg") >= 2) & (F.col("deg") <= AA_MAX_DEG))
    cpr = cp.join(rare, "p").select(
        "p", "c", F.round(1.0 / F.log(F.col("deg")), 9).cast("decimal(18,9)").alias("term")
    )
    a = cpr.select("p", F.col("c").alias("c1"), "term")
    b = cpr.select("p", F.col("c").alias("c2"))
    pairs = a.join(b, "p").filter(F.col("c1") < F.col("c2"))
    return (
        pairs.groupBy("c1", "c2")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum("term").cast("double").alias("aa_score"),
        )
        .orderBy(F.col("aa_score").desc(), "c1", "c2")
        .limit(10)
    )


LP_SEED = "lp-r5"
LP_SEED_SLOTS = 128  # of 256: ~half the nodes keep their true label
LP_ROUNDS = 2


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation on the co-purchase graph: half the
    customers (seeded hash cohort) keep their true market segment, the rest
    are masked; LP_ROUNDS rounds of majority-vote-of-labeled-neighbors
    spread labels outward (ties -> lexicographically smallest label; seeds
    never flip). The audit row grades the spread against the held-out
    truth -- the weak-supervision device for labeling a corpus from a
    small gold set (infer doc topics/quality tiers from near-dup or
    co-citation neighbors).

    Scale shape: edges are the rare-part equi-join pairs from
    q_adamic_adar_links (bounded fan-out, no hot blocks); every round is
    one join of the edge list against the current label table plus a
    (node, label) majority aggregate and a row_number pick -- shuffles keyed
    on customer id, the same partitioning each round. Deterministic
    end-to-end: cohort by md5 slot, majority ties by label order."""
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cp = (
        li.select("l_orderkey", "l_partkey")
        .join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("cst"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    deg = cp.groupBy("p").agg(F.count(F.lit(1)).alias("deg"))
    rare = deg.filter((F.col("deg") >= 2) & (F.col("deg") <= AA_MAX_DEG))
    cpr = cp.join(rare.select("p"), "p")
    a = cpr.select("p", F.col("cst").alias("c1"))
    b = cpr.select("p", F.col("cst").alias("c2"))
    half = (
        a.join(b, "p").filter(F.col("c1") < F.col("c2")).select("c1", "c2").distinct()
    )
    edges = half.unionByName(
        half.select(F.col("c2").alias("c1"), F.col("c1").alias("c2"))
    ).localCheckpoint(eager=True)
    slot = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{LP_SEED}:"), F.col("c_custkey").cast("string"))), 1, 2),
        16,
        10,
    ).cast("int")
    cust = c.select(
        F.col("c_custkey").alias("cst"),
        F.col("c_mktsegment").alias("truth"),
        (slot < LP_SEED_SLOTS).alias("is_seed"),
    )
    labels = cust.filter("is_seed").select("cst", F.col("truth").alias("label"))
    w = Window.partitionBy("dst").orderBy(F.col("votes").desc(), F.col("label").asc())
    for _ in range(LP_ROUNDS):
        votes = (
            edges.join(labels.withColumnRenamed("cst", "c2"), "c2")
            .groupBy(F.col("c1").alias("dst"), "label")
            .agg(F.count(F.lit(1)).alias("votes"))
        )
        best = (
            votes.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select(F.col("dst").alias("cst"), "label")
        )
        labels = labels.unionByName(
            best.join(labels, "cst", "left_anti")
        ).localCheckpoint(eager=True)
    masked = cust.filter(~F.col("is_seed"))
    graded = masked.join(labels, "cst", "left")
    return graded.agg(
        F.count(F.lit(1)).alias("n_masked"),
        F.sum(F.col("label").isNotNull().cast("bigint")).alias("n_labeled"),
        F.sum((F.col("label") == F.col("truth")).cast("bigint")).alias("n_correct"),
        F.round(
            F.sum((F.col("label") == F.col("truth")).cast("bigint"))
            / F.sum(F.col("label").isNotNull().cast("bigint")),
            6,
        ).alias("accuracy"),
        F.round(
            F.sum(F.col("label").isNotNull().cast("bigint")) / F.count(F.lit(1)), 6
        ).alias("coverage"),
    )


HITS_ROUNDS = 2
HITS_TOP = 10


def q_hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg 1999) on the bipartite customer->part co-purchase
    graph: customers are hubs (broad buyers), parts are authorities
    (widely-bought-by-good-hubs items). Completes the graph shelf next to
    PageRank (flat web-graph centrality) with the two-sided variant a
    recommender actually ranks with. Output: the top-10 authority parts.

    Determinism: every round is (authority = sum of hub mass over in-edges,
    max-normalize; hub = sum of authority mass over out-edges,
    max-normalize) with the mass quantized to DECIMAL(18,9) after each
    normalization -- the house device (label_propagation, huber) that makes
    the float trajectory engine-exact. Max-norm (not L2) keeps every
    division a single scalar broadcast.

    Scale shape: the incidence list is the SAME bounded rare-part edge set
    as q_adamic_adar_links (deg <= AA_MAX_DEG kills hot blocks; popular
    parts carry near-zero discriminating signal for HITS exactly as for
    AA); each half-round is one keyed join + sum shuffle, partitioned the
    same way every round, and the normalizing max is a 1-row broadcast.
    Rounds are unrolled -- no driver loop over collected data."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cp = (
        li.select("l_orderkey", "l_partkey")
        .join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    deg = cp.groupBy("p").agg(F.count(F.lit(1)).alias("deg"))
    rare = deg.filter((F.col("deg") >= 2) & (F.col("deg") <= AA_MAX_DEG))
    edges = cp.join(rare.select("p"), "p").localCheckpoint(eager=True)
    dec = "decimal(18,9)"
    h = edges.select("c").distinct().select("c", F.lit(1).cast(dec).alias("h"))
    for _ in range(HITS_ROUNDS):
        a_raw = (
            edges.join(h, "c")
            .groupBy("p")
            .agg(F.sum(F.col("h").cast("decimal(38,9)")).cast("double").alias("ar"))
        )
        amax = a_raw.agg(F.max("ar").alias("am"))
        a = a_raw.crossJoin(F.broadcast(amax)).select(
            "p", F.round(F.col("ar") / F.col("am"), 9).cast(dec).alias("a")
        )
        h_raw = (
            edges.join(a, "p")
            .groupBy("c")
            .agg(F.sum(F.col("a").cast("decimal(38,9)")).cast("double").alias("hr"))
        )
        hmax = h_raw.agg(F.max("hr").alias("hm"))
        h = h_raw.crossJoin(F.broadcast(hmax)).select(
            "c", F.round(F.col("hr") / F.col("hm"), 9).cast(dec).alias("h")
        )
    return (
        a.join(deg, "p")
        .select(
            F.col("p").alias("partkey"),
            # Final projection leaves DECIMAL: round-6 driver red was a
            # trailing-zero rendering artifact (Decimal('1.000000000') vs
            # float 1.0 hash differently despite equal values).  Already
            # quantized to 9 decimals, so the DOUBLE cast is exact.
            F.col("a").cast("double").alias("authority"),
            "deg",
        )
        .orderBy(F.col("authority").desc(), "partkey")
        .limit(HITS_TOP)
    )


PL_DMIN = 2  # power-law fit tail: parts with degree >= PL_DMIN


def q_degree_powerlaw_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law MLE over the part-degree distribution of the
    customer-part purchase graph -- the one-number scale-structure probe
    for every graph op on this shelf (HITS, Adamic-Adar, PageRank all cap
    or bound degrees; this gate measures the exponent those caps are
    sized against): alpha_mle = 1 + n / sum ln(d_i / dmin) (Clauset-
    Shalizi-Newman discrete-tail approximation, dmin = PL_DMIN).  A steep
    alpha (> 3) says hot keys are rare and caps are insurance; alpha near
    2 says the hot tail is heavy and the caps are load-bearing.

    Exactness: degrees are integers; each ln(d/dmin) is rounded to 9 and
    decimal-summed (the house ln-portability device: Adamic-Adar,
    Kaplan-Meier), so the sum is order-independent; alpha is two IEEE ops
    on exact aggregates.

    Plan: the lineitem-orders equi-join and one part-keyed count (the
    same cp construction as q_hits_hubs_authorities), a one-row
    aggregate.  No windows, no caps needed here -- the count table IS the
    output's input."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cp = (
        li.select("l_orderkey", "l_partkey")
        .join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    deg = cp.groupBy("p").agg(F.count(F.lit(1)).alias("deg"))
    tail = deg.filter(F.col("deg") >= PL_DMIN)
    lnr = F.round(F.log(F.col("deg").cast("double") / float(PL_DMIN)), 9).cast(
        "decimal(18,9)"
    )
    g = tail.agg(
        F.count(F.lit(1)).alias("n_tail"),
        F.max("deg").cast("bigint").alias("max_degree"),
        F.sum(lnr).cast("double").alias("ln_sum"),
    )
    whole = deg.agg(F.count(F.lit(1)).alias("n_parts"))
    return g.crossJoin(F.broadcast(whole)).select(
        F.col("n_parts").cast("bigint").alias("n_parts"),
        F.col("n_tail").cast("bigint").alias("n_tail"),
        "max_degree",
        F.round(
            F.lit(1.0) + F.col("n_tail").cast("double") / F.col("ln_sum"), 6
        ).alias("alpha_mle"),
    )


def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the co-purchase customer graph under the
    NATION partition -- the one-number community-structure gate for this
    shelf's graph (label propagation finds communities; modularity says
    whether a given partition actually concentrates edges): Q = sum_c
    (m_c/m - (D_c/2m)^2), intra-nation edge share minus the share
    expected under random wiring at the same degrees.  Q near 0 on this
    synthetic graph certifies the null; a real regional-preference graph
    shows up as Q > 0.1 immediately.

    Exactness: edge and degree counts are integers; each nation's term is
    one fixed double chain rounded to 9 and decimal-summed over <= 25
    rows.

    Plan: the same rare-part pair construction as q_adamic_adar_links
    (bounded blocks, never all-pairs), two keyed joins to attach endpoint
    nations, one nation-keyed rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_nationkey").alias("nation")
    )
    cp = (
        li.select("l_orderkey", "l_partkey")
        .join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    deg = cp.groupBy("p").agg(F.count(F.lit(1)).alias("deg"))
    rare = deg.filter((F.col("deg") >= 2) & (F.col("deg") <= AA_MAX_DEG))
    cpr = cp.join(rare.select("p"), "p")
    a = cpr.select("p", F.col("c").alias("c1"))
    b = cpr.select("p", F.col("c").alias("c2"))
    edges = (
        a.join(b, "p")
        .filter(F.col("c1") < F.col("c2"))
        .select("c1", "c2")
        .distinct()
        .join(cust.select(F.col("c_custkey").alias("c1"), F.col("nation").alias("n1")), "c1")
        .join(cust.select(F.col("c_custkey").alias("c2"), F.col("nation").alias("n2")), "c2")
        # edges feed FOUR consumers (m, intra, both degree branches);
        # checkpoint so the pair join runs once, not four times
        .localCheckpoint(eager=True)
    )
    m = edges.agg(F.count(F.lit(1)).alias("m"))
    intra = edges.filter(F.col("n1") == F.col("n2")).groupBy(
        F.col("n1").alias("nation")
    ).agg(F.count(F.lit(1)).alias("mc"))
    degs = (
        edges.select(F.col("n1").alias("nation"))
        .unionAll(edges.select(F.col("n2").alias("nation")))
        .groupBy("nation")
        .agg(F.count(F.lit(1)).alias("dc"))
    )
    per_nation = degs.join(intra, "nation", "left").select(
        "nation", "dc", F.coalesce("mc", F.lit(0)).alias("mc")
    )
    md, mcd, dcd = (F.col(c).cast("double") for c in ("m", "mc", "dc"))
    term = F.round(
        mcd / md - (dcd / (F.lit(2.0) * md)) * (dcd / (F.lit(2.0) * md)), 9
    ).cast("decimal(18,9)")
    g = per_nation.crossJoin(F.broadcast(m)).select(
        F.col("m"), F.col("mc"), term.alias("t")
    )
    return g.groupBy("m").agg(
        F.count(F.lit(1)).alias("n_communities"),
        F.sum("mc").cast("bigint").alias("intra_edges"),
        F.round(F.sum("t").cast("double"), 6).alias("modularity"),
    ).select(
        F.col("m").cast("bigint").alias("n_edges"),
        "n_communities",
        "intra_edges",
        F.round(F.col("intra_edges") / F.col("m").cast("double"), 6).alias("intra_share"),
        "modularity",
    )


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase customer graph -- the
    Newman r coefficient (Pearson correlation of endpoint degrees over
    edges) that says whether hubs attach to hubs (r > 0, social-style)
    or to leaves (r < 0, hub-and-spoke): the one-number structure probe
    that decides whether degree-capped blocking (AA_MAX_DEG) removes a
    connected core or scattered spokes.

    Exactness: degrees are integers; both edge directions contribute
    (the standard undirected convention), all five moments accumulate in
    DECIMAL(38,0), and r is one fixed double chain with try_divide for
    the degenerate regular graph.

    Plan: the same bounded rare-part pair construction as
    q_adamic_adar_links, one degree rollup joined back to both
    endpoints, one 1-row moment aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cp = (
        li.select("l_orderkey", "l_partkey")
        .join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    pdeg = cp.groupBy("p").agg(F.count(F.lit(1)).alias("deg"))
    rare = pdeg.filter((F.col("deg") >= 2) & (F.col("deg") <= AA_MAX_DEG))
    cpr = cp.join(rare.select("p"), "p")
    a = cpr.select("p", F.col("c").alias("c1"))
    b = cpr.select("p", F.col("c").alias("c2"))
    edges = (
        a.join(b, "p").filter(F.col("c1") < F.col("c2")).select("c1", "c2").distinct()
    ).localCheckpoint(eager=True)
    cdeg = (
        edges.select(F.col("c1").alias("c"))
        .unionAll(edges.select(F.col("c2").alias("c")))
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    both = (
        edges.join(cdeg.select(F.col("c").alias("c1"), F.col("d").alias("dx")), "c1")
        .join(cdeg.select(F.col("c").alias("c2"), F.col("d").alias("dy")), "c2")
    )
    # undirected: each edge contributes (dx, dy) AND (dy, dx)
    sym = both.select(F.col("dx").alias("x"), F.col("dy").alias("y")).unionAll(
        both.select(F.col("dy").alias("x"), F.col("dx").alias("y"))
    )
    dec = "decimal(38,0)"
    xd, yd = F.col("x").cast("decimal(19,0)"), F.col("y").cast("decimal(19,0)")
    g = sym.agg(
        F.count(F.lit(1)).alias("m2"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
        F.sum(xd * yd).alias("sxy"),
    )
    n = F.col("m2").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    num = n * sxy - sx * sy
    den = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return g.select(
        (F.col("m2") / 2).cast("bigint").alias("n_edges"),
        F.round(F.try_divide(num, den), 6).alias("assortativity"),
    )


BFS_HOPS = 3  # unrolled breadth-first rounds
BFS_PROBE_TARGET = 10  # absolute-size probe panel


def q_bfs_reachability_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-hop reachability from a seeded probe panel over the co-purchase
    customer graph -- the neighborhood-size profile (how fast does the
    graph expand around a node?) that sizes recursive feature extraction
    and decides whether a k-hop GNN-style aggregation is tractable: per
    probe, the count of NEW nodes first reached at each hop for BFS_HOPS
    unrolled rounds, plus the cumulative reach.

    Scale shape: each hop is one frontier-to-edges keyed join + distinct
    + anti-join against the visited set -- the per-round keyed-join BFS
    every distributed graph engine runs; the frontier and visited sets
    carry (probe, node) pairs so the panel's |probes| BFS runs share the
    same three shuffles per hop.  Probes are ABSOLUTE-size via adaptive
    md5 slots; visited sets are checkpointed per hop (the unrolled-round
    replay lesson).

    Exactness: everything is integer set arithmetic -- counts per (probe,
    hop), no floats anywhere."""
    from pgsf_spark.analytics.sampling import adaptive_slots, md5_slot

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cp = (
        li.select("l_orderkey", "l_partkey")
        .join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    pdeg = cp.groupBy("p").agg(F.count(F.lit(1)).alias("deg"))
    rare = pdeg.filter((F.col("deg") >= 2) & (F.col("deg") <= AA_MAX_DEG))
    cpr = cp.join(rare.select("p"), "p")
    a = cpr.select("p", F.col("c").alias("c1"))
    b = cpr.select("p", F.col("c").alias("c2"))
    und = a.join(b, "p").filter(F.col("c1") != F.col("c2")).select("c1", "c2").distinct()
    edges = und.localCheckpoint(eager=True)
    nodes = edges.select(F.col("c1").alias("c")).distinct()
    n_nodes = nodes.count()
    slots = adaptive_slots(max(n_nodes, 1), BFS_PROBE_TARGET)
    probes = nodes.filter(md5_slot(F.col("c"), "bfs7") < slots).select(
        F.col("c").alias("probe")
    )
    visited = probes.select("probe", F.col("probe").alias("c")).localCheckpoint(
        eager=True
    )
    frontier = visited
    rows = []
    for hop in range(1, BFS_HOPS + 1):
        nxt = (
            frontier.join(edges, frontier.c == edges.c1)
            .select("probe", F.col("c2").alias("c"))
            .distinct()
            .join(visited, ["probe", "c"], "left_anti")
            .localCheckpoint(eager=True)
        )
        rows.append(
            nxt.groupBy("probe").agg(F.count(F.lit(1)).alias("n_new")).select(
                "probe", F.lit(hop).alias("hop"), F.col("n_new").cast("bigint")
            )
        )
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    cum = visited.groupBy("probe").agg((F.count(F.lit(1)) - 1).alias("total_reach"))
    return (
        probes.join(out, "probe", "left")
        .join(cum, "probe", "left")
        .select(
            "probe",
            F.coalesce("hop", F.lit(1)).cast("int").alias("hop"),
            F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
            F.coalesce("total_reach", F.lit(0)).cast("bigint").alias("total_reach"),
        )
        .orderBy("probe", "hop")
    )


RC_KS = [2, 4, 8]  # rich-club degree thresholds


def q_rich_club_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficients of the co-purchase customer graph -- do
    the high-degree customers form a densely linked core (phi -> 1,
    an elite club) or barely touch (phi -> 0, hubs as independent
    spokes)?  phi(k) = 2 E_>k / (N_>k (N_>k - 1)) over the nodes with
    degree > k, for the literal threshold panel RC_KS.

    Exactness: the edge set, degrees, N_>k and E_>k are exact integers
    on the same bounded rare-part pair construction as assortativity;
    phi is one double division per threshold row.

    Plan: one edge build (rare-part bounded fan-out, checkpointed),
    one degree rollup, then per-threshold filtered counts over
    bounded joins."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cp = (
        li.select("l_orderkey", "l_partkey")
        .join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    pdeg = cp.groupBy("p").agg(F.count(F.lit(1)).alias("deg"))
    rare = pdeg.filter((F.col("deg") >= 2) & (F.col("deg") <= AA_MAX_DEG))
    cpr = cp.join(rare.select("p"), "p")
    a = cpr.select("p", F.col("c").alias("c1"))
    b = cpr.select("p", F.col("c").alias("c2"))
    edges = (
        a.join(b, "p").filter(F.col("c1") < F.col("c2")).select("c1", "c2").distinct()
    ).localCheckpoint(eager=True)
    cdeg = (
        edges.select(F.col("c1").alias("c"))
        .unionAll(edges.select(F.col("c2").alias("c")))
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    both = edges.join(
        F.broadcast(cdeg.select(F.col("c").alias("c1"), F.col("d").alias("dx"))), "c1"
    ).join(
        F.broadcast(cdeg.select(F.col("c").alias("c2"), F.col("d").alias("dy"))), "c2"
    )
    spine = spark.createDataFrame([(k,) for k in RC_KS], ["k"])
    ek = (
        spine.join(
            both, (F.col("dx") > F.col("k")) & (F.col("dy") > F.col("k")), "left"
        )
        .groupBy("k")
        .agg(F.count("c1").alias("e_k"))
    )
    nk = (
        spine.join(cdeg, F.col("d") > F.col("k"), "left")
        .groupBy("k")
        .agg(F.count("c").alias("n_k"))
    )
    j = ek.join(nk, "k")
    nd = F.col("n_k").cast("double")
    return j.select(
        F.col("k").cast("bigint").alias("k"),
        F.col("n_k").cast("bigint").alias("n_nodes"),
        F.col("e_k").cast("bigint").alias("n_edges"),
        F.round(
            F.try_divide(F.lit(2.0) * F.col("e_k").cast("double"), nd * (nd - F.lit(1.0))),
            6,
        ).alias("phi"),
    ).orderBy("k")
