"""Co-purchase affinity mining + HITS over the order bipartite graph.

Two recommendation-prep primitives the reference's text stack implies
but never ships (its co-occurrence machinery stops at token pairs —
nlp/NewsNgrams.scala builds n-gram statistics, never cross-basket
affinity): item-item cosine from shared baskets, and hub/authority
scoring of the customer↔part bipartite graph (Kleinberg's HITS).

Scale design
------------

**Co-purchase pairs**: the naive basket self-join is O(Σ m_o²) for
basket size m_o — one 10k-item pathological basket contributes 5·10⁷
pairs. The standard production fix, applied here: CAP each basket at
its K lexicographically-smallest items *before* pair expansion
(deterministic, engine-portable — no sampling), so per-basket work is
bounded by K² regardless of basket skew. TPC-H orders reach 13
distinct parts at every SF while CAP_ITEMS=8, so the cap BINDS on the
test fixtures — the oracle proves both engines implement the same
truncation, not just the same happy path. One shuffle builds the
capped baskets (collect_set dedups in the same agg), pair expansion is
a map-side array HOF (never a self-join), and pair counting shuffles
the compact (i, j) keys with map-side partial aggregation.

**Similarity**: cosine² in exact integer fixed-point,
``cos2_e6 = c_ij²·10⁶ // (c_i·c_j)`` — monotone in cosine for the
non-negative counts involved, so the top-k ORDER is the cosine order
while every byte stays engine-exact (no sqrt, no float sums).
Overflow bound: c_ij < 3.0e6 keeps c_ij²·10⁶ inside BIGINT — the pair
count is bounded by basket count, so this holds to ~3e6 baskets per
co-purchased pair, far beyond any real co-occurrence before the
support cut matters; the ppm()-style loud ANSI overflow (not silent
wrap) guards the contract beyond that.

**HITS**: fixed-iteration mutual reinforcement (authority = Σ hub of
neighbors, hub = Σ authority) with max-normalization after every
half-step, all in integer micro-units: ``x·10⁶ // max(x)``. The max
is a broadcast 1-row aggregate (the plan-linter-sanctioned scalar
pattern), each half-step is one equi-join + one keyed agg — linear
shuffles, no N² anything. Degrees < 9.2e6 keep raw·10⁶ in BIGINT
(documented like join_blowup_estimate's bound). Deterministic: exact
integers make the result independent of partitioning AND identical to
the single-threaded DuckDB oracle, the same discipline as
corpus_pagerank_topk (plans/pipelines.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.cacheutil import (
    tracked_cache,
    tracked_local_checkpoint,
)
from algorithmproject_spark_spark.functions.numeric import ss_floordiv
from algorithmproject_spark_spark.registry import REGISTRY, register
from algorithmproject_spark_spark.sources.catalog import load_table

CAP_ITEMS = 8  # per-basket item cap — bounds pair expansion at K²
MIN_PAIR_SUPPORT = 2  # pairs must share ≥2 baskets
TOPK_PAIRS = 30
HITS_ITERS = 2  # authority half-steps (a → h → a)
TOPK_AUTH = 15
CAP_SUPP = 16  # per-part supplier cap before pair expansion
TOPK_RA = 30


def capped_baskets(
    lineitem: DataFrame, cap: int = CAP_ITEMS
) -> DataFrame:
    """(l_orderkey, items) with items = the ``cap``
    lexicographically-smallest DISTINCT partkeys of the order.

    One shuffle: collect_set dedups inside the agg (no separate
    distinct), sort_array + slice make the truncation deterministic
    under any partitioning."""
    return lineitem.groupBy("l_orderkey").agg(
        F.slice(
            F.sort_array(F.collect_set("l_partkey")), 1, cap
        ).alias("items")
    )


def basket_pairs(baskets: DataFrame) -> DataFrame:
    """Ordered within-basket pairs (pi < pj) via a nested array HOF —
    map-side expansion bounded by cap², never a basket self-join."""
    pair_arr = F.flatten(
        F.transform(
            F.col("items"),
            lambda x, i: F.transform(
                # slice() is 1-indexed: items after 0-based position i
                # start at 1-based i+2; over-long length is clamped
                F.slice(
                    F.col("items"), i + F.lit(2), F.size(F.col("items"))
                ),
                lambda y: F.struct(x.alias("pi"), y.alias("pj")),
            ),
        )
    )
    return baskets.select(F.explode(pair_arr).alias("pr")).select(
        F.col("pr.pi").alias("pi"), F.col("pr.pj").alias("pj")
    )


@register(
    "copurchase_cosine_topk",
    oracle=f"""
    WITH capped AS (
        SELECT l_orderkey, p AS l_partkey
        FROM (
            SELECT l_orderkey, p,
                   row_number() OVER (
                       PARTITION BY l_orderkey ORDER BY p
                   ) AS rn
            FROM (SELECT DISTINCT l_orderkey, l_partkey AS p
                  FROM lineitem)
        ) WHERE rn <= {CAP_ITEMS}
    ),
    ci AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS c
        FROM capped GROUP BY l_partkey
    ),
    pairs AS (
        SELECT a.l_partkey AS pi, b.l_partkey AS pj,
               CAST(count(*) AS BIGINT) AS cij
        FROM capped a JOIN capped b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= {MIN_PAIR_SUPPORT}
    )
    SELECT pi AS part_i, pj AS part_j, cij AS pair_cnt,
           ci1.c AS cnt_i, ci2.c AS cnt_j,
           (cij * cij * 1000000) // (ci1.c * ci2.c) AS cos2_e6
    FROM pairs
    JOIN ci ci1 ON pairs.pi = ci1.l_partkey
    JOIN ci ci2 ON pairs.pj = ci2.l_partkey
    ORDER BY cos2_e6 DESC, part_i, part_j
    LIMIT {TOPK_PAIRS}
    """,
    doc=(
        "item-item co-purchase cosine (capped baskets, integer-exact "
        "cos², top-30) — the CF similarity primitive"
    ),
)
def copurchase_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # baskets feed both the item-count and the pair relation — cache
    # the one shuffle instead of rebuilding the collect_set twice
    baskets = tracked_cache(capped_baskets(li))
    ci = (
        baskets.selectExpr("explode(items) AS p")
        .groupBy("p")
        .agg(F.expr("count(1) AS c"))
    )
    pairs = (
        basket_pairs(baskets)
        .groupBy("pi", "pj")
        .agg(F.expr("count(1) AS cij"))
        .filter(f"cij >= {MIN_PAIR_SUPPORT}")
    )
    # after the support cut the pair side is small; the item-count side
    # is part-dimension sized — plain equi-joins, AQE picks broadcast
    # when a side fits and falls back to shuffle join when it doesn't
    # (the 100 TB-safe default; no hand-forced broadcast of an
    # unbounded dimension)
    scored = (
        pairs.join(ci.selectExpr("p AS pi", "c AS cnt_i"), "pi")
        .join(ci.selectExpr("p AS pj", "c AS cnt_j"), "pj")
        .withColumn(
            "cos2_e6",
            F.expr("cij * cij * 1000000 div (cnt_i * cnt_j)"),
        )
    )
    return (
        scored.orderBy(
            F.desc("cos2_e6"), F.asc("pi"), F.asc("pj")
        )
        .limit(TOPK_PAIRS)
        .selectExpr(
            "pi AS part_i",
            "pj AS part_j",
            "cij AS pair_cnt",
            "cnt_i",
            "cnt_j",
            "cos2_e6",
        )
    )


def _hits_normalize(raw: DataFrame, key: str, val: str) -> DataFrame:
    """x·10⁶ // max(x) — max as a broadcast 1-row aggregate, never a
    driver-side action (keeps the whole computation one Catalyst
    plan)."""
    mx = raw.agg(F.expr(f"max({val}) AS __mx"))
    return (
        raw.crossJoin(F.broadcast(mx))
        .selectExpr(key, f"{val} * 1000000 div __mx AS {val}")
    )


@register(
    "orders_hits_authorities",
    oracle=f"""
    WITH e AS (
        SELECT DISTINCT o_custkey AS c, l_partkey AS p
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    a1r AS (  -- h0 = 1e6 per customer, so a_raw = degree * 1e6
        SELECT p, CAST(count(*) AS BIGINT) * 1000000 AS ar
        FROM e GROUP BY p
    ),
    a1 AS (SELECT p, (ar * 1000000) // (SELECT max(ar) FROM a1r) AS a
           FROM a1r),
    h1r AS (
        SELECT c, CAST(sum(a) AS BIGINT) AS hr
        FROM e JOIN a1 USING (p) GROUP BY c
    ),
    h1 AS (SELECT c, (hr * 1000000) // (SELECT max(hr) FROM h1r) AS h
           FROM h1r),
    a2r AS (
        SELECT p, CAST(sum(h) AS BIGINT) AS ar
        FROM e JOIN h1 USING (c) GROUP BY p
    ),
    a2 AS (SELECT p, (ar * 1000000) // (SELECT max(ar) FROM a2r) AS a
           FROM a2r)
    SELECT p AS part, a AS auth_e6
    FROM a2 ORDER BY auth_e6 DESC, part LIMIT {TOPK_AUTH}
    """,
    doc=(
        "HITS authorities over the customer-part bipartite graph — "
        "2 iterations, exact integer micro-units, max-normalized"
    ),
    plan=("scalar_cross",),
)
def orders_hits_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    edges = tracked_cache(
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .selectExpr("o_custkey AS c", "l_partkey AS p")
        .distinct()
    )
    # h0 ≡ 1e6: the first authority half-step degenerates to
    # degree·1e6 — computed via the same join for one uniform code
    # path (Catalyst folds the constant into the partial agg)
    h = edges.select("c").distinct().withColumn("h", F.lit(1_000_000))
    a = None
    for it in range(HITS_ITERS):
        # pin each raw score relation BEFORE normalizing: the
        # max-aggregate branch and the next iteration's join both
        # consume it, and without pinning the join/agg tree re-executes
        # once per consumer — doubling per half-step (measured 6.1 s →
        # 1.9 s warm at sf0.1). localCheckpoint also truncates lineage
        # so the loop's plan stays O(1) per iteration (kcore/pagerank
        # discipline). The checkpoint writes its blocks in the first
        # job that reads them; the normalize branch's broadcast max and
        # the next half-step share them.
        a_raw = (
            edges.join(h, "c")
            .groupBy("p")
            .agg(F.expr("sum(h) AS a"))
            .transform(tracked_local_checkpoint)
        )
        a = _hits_normalize(a_raw, "p", "a")
        if it == HITS_ITERS - 1:
            # the FINAL authorities are this a; the h half-step after
            # it would never be consumed, but building its checkpoint
            # runs its join+agg stages under AQE — so it is not built
            # (guide §1.2: don't compute things you throw away).
            break
        h_raw = (
            edges.join(a, "p")
            .groupBy("c")
            .agg(F.expr("sum(a) AS h"))
            .transform(tracked_local_checkpoint)
        )
        h = _hits_normalize(h_raw, "c", "h")
    return (
        a.orderBy(F.desc("a"), F.asc("p"))
        .limit(TOPK_AUTH)
        .selectExpr("p AS part", "a AS auth_e6")
    )


@register(
    "supplier_ra_link_prediction",
    oracle=f"""
    WITH sp AS (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    deg AS (
        SELECT p, CAST(count(*) AS BIGINT) AS deg FROM sp GROUP BY p
    ),
    capped AS (
        SELECT p, s FROM (
            SELECT p, s,
                   row_number() OVER (PARTITION BY p ORDER BY s) AS rn
            FROM sp
        ) WHERE rn <= {CAP_SUPP}
    ),
    pairs AS (
        SELECT a.s AS s1, b.s AS s2, a.p
        FROM capped a JOIN capped b ON a.p = b.p AND a.s < b.s
    )
    SELECT s1 AS supp_i, s2 AS supp_j,
           CAST(count(*) AS BIGINT) AS common_parts,
           CAST(sum(1000000000 // deg) AS BIGINT) AS ra_e9
    FROM pairs JOIN deg USING (p)
    GROUP BY 1, 2
    ORDER BY ra_e9 DESC, supp_i, supp_j LIMIT {TOPK_RA}
    """,
    doc=(
        "resource-allocation link prediction (Zhou et al. 2009) over "
        "the supplier-part graph: RA(i,j) = sum over common parts z of "
        "1/deg(z), exact nano-units — top-30 supplier pairs"
    ),
)
def supplier_ra_link_prediction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RA index: supplier pairs weighted by the rarity of their shared
    parts (a part supplied by few suppliers is stronger evidence than
    a commodity everyone supplies).

    Same scale shape as copurchase_cosine_topk: per-part supplier
    lists are CAPPED at the {CAP_SUPP} smallest before the map-side
    pair HOF (bounds work at cap^2 per part regardless of part
    fan-out — the cap BINDS on the fixtures), while deg(z) stays the
    TRUE pre-cap degree so the weight is the real RA weight. One
    shuffle builds lists, expansion is array HOFs, pair scoring
    shuffles compact (s1, s2) keys. 1/deg as exact 1e9 div deg."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    per_part = li.groupBy("l_partkey").agg(
        F.sort_array(F.collect_set("l_suppkey")).alias("supps")
    )
    capped = per_part.select(
        F.slice("supps", 1, CAP_SUPP).alias("items"),
        # true degree from the same collect_set — no second shuffle
        F.expr(
            ss_floordiv("CAST(1000000000 AS BIGINT)", "CAST(size(supps) AS BIGINT)")
        ).alias("w_e9"),
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("items"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("items"), i + F.lit(2), F.size(F.col("items"))
                ),
                lambda y: F.struct(x.alias("s1"), y.alias("s2")),
            ),
        )
    )
    pairs = capped.select(
        F.explode(pair_arr).alias("pr"), "w_e9"
    ).select(
        F.col("pr.s1").alias("s1"), F.col("pr.s2").alias("s2"), "w_e9"
    )
    return (
        pairs.groupBy("s1", "s2")
        .agg(
            F.count(F.lit(1)).alias("common_parts"),
            F.sum("w_e9").alias("ra_e9"),
        )
        .orderBy(F.desc("ra_e9"), F.asc("s1"), F.asc("s2"))
        .limit(TOPK_RA)
        .select(
            F.col("s1").alias("supp_i"),
            F.col("s2").alias("supp_j"),
            "common_parts",
            "ra_e9",
        )
    )


# --------------------------------------------------------------------------
# End-to-end CF recommendation: item-item similarities → per-customer
# top-N. Completes the pipeline copurchase_cosine_topk starts — the
# batch "customers also bought" table every commerce stack materializes
# nightly.
# --------------------------------------------------------------------------
TOPK_RECS = 3

_COPURCHASE_SQL = REGISTRY["copurchase_cosine_topk"].oracle


@register(
    "customer_item_recs_topk",
    oracle=f"""
    WITH sims AS ({_COPURCHASE_SQL}),
    sym AS (
        SELECT part_i AS src, part_j AS dst, cos2_e6 FROM sims
        UNION ALL
        SELECT part_j AS src, part_i AS dst, cos2_e6 FROM sims
    ),
    owned AS (
        SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    cand AS (
        SELECT w.cust, s.dst AS part,
               CAST(sum(s.cos2_e6) AS BIGINT) AS score_e6,
               CAST(count(*) AS BIGINT) AS n_paths
        FROM owned w JOIN sym s ON w.part = s.src
        GROUP BY 1, 2
    ),
    fresh AS (
        SELECT c.cust, c.part, c.score_e6, c.n_paths
        FROM cand c LEFT JOIN owned w
          ON w.cust = c.cust AND w.part = c.part
        WHERE w.part IS NULL
    )
    SELECT cust AS c_custkey, part AS rec_part, score_e6, n_paths FROM (
        SELECT *, row_number() OVER (
            PARTITION BY cust ORDER BY score_e6 DESC, part
        ) AS rk FROM fresh
    ) WHERE rk <= {TOPK_RECS}
    """,
    doc=(
        "per-customer top-3 'also bought' recommendations: broadcast "
        "the top-30 item-item cosine pairs against each customer's "
        "owned-part profile, sum similarity over paths, anti-join out "
        "already-owned parts — the nightly batch CF table"
    ),
)
def customer_item_recs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CF recommendations from the co-purchase similarity graph.

    Scale shape: the similarity relation is the top-{TOPK_PAIRS} pair
    table — a bounded dimension, broadcast to both the scoring join
    and nothing else; the owned-profile relation shuffles once on its
    natural (cust, part) key for the distinct, then the scoring join
    is map-side (broadcast), the candidate agg shuffles compact
    (cust, part) keys, and the already-owned filter is a native
    left_anti join on the same key the profile is already partitioned
    by. No step is quadratic in customers, parts, or baskets; the only
    data-scale shuffle is the profile distinct every CF variant pays.
    """
    # pin the top-30 similarity relation: the sym union reads it twice,
    # and unpinned Catalyst duplicates the ENTIRE copurchase subtree
    # (baskets cache + two aggs + joins + global top-k) once per union
    # branch — measured 41 Exchanges in the unpinned plan (r12). The
    # checkpoint is TOPK_PAIRS rows, so the pin is O(1).
    sims = tracked_local_checkpoint(
        copurchase_cosine_topk(spark, sf_dir).select(
            "part_i", "part_j", "cos2_e6"
        )
    )
    sym = sims.selectExpr(
        "part_i AS src", "part_j AS dst", "cos2_e6"
    ).unionAll(sims.selectExpr("part_j AS src", "part_i AS dst", "cos2_e6"))
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # cache: the scoring join AND the already-owned anti-join both read
    # the profile relation — uncached, the orders⨝lineitem+distinct
    # derivation executes twice (r12; guide §2.4)
    owned = tracked_cache(
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .selectExpr("o_custkey AS cust", "l_partkey AS part")
        .distinct()
    )
    cand = (
        owned.join(F.broadcast(sym), owned["part"] == sym["src"])
        .groupBy("cust", F.col("dst").alias("rec"))
        .agg(
            F.expr("CAST(sum(cos2_e6) AS BIGINT) AS score_e6"),
            F.expr("CAST(count(1) AS BIGINT) AS n_paths"),
        )
    )
    fresh = cand.join(
        owned.selectExpr("cust", "part AS rec"),
        ["cust", "rec"],
        "left_anti",
    )
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy("cust").orderBy(F.desc("score_e6"), F.asc("rec"))
    return (
        fresh.withColumn("rk", F.row_number().over(w))
        .filter(f"rk <= {TOPK_RECS}")
        .selectExpr(
            "cust AS c_custkey",
            "rec AS rec_part",
            "score_e6",
            "n_paths",
        )
    )
