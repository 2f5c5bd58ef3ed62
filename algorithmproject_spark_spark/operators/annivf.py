"""IVF-style ANN over embeddings — the second similarity-search scale
path, complementing hyperplane LSH (``operators/annlsh.py``).

Classic IVF (inverted-file) search: a coarse quantizer maps every
vector to its nearest of K cell centroids; a query probes only the
``NPROBE`` nearest cells and ranks candidates inside them. On a
cluster the cell id is just a join key — candidate generation is an
equi-join the same way the LSH path is, so it shuffles linearly and
AQE handles cell skew. Recall/latency trade via K and NPROBE.

Production IVF learns centroids with k-means (pyspark.ml KMeans slots
in here); for oracle-exact checking the coarse quantizer is FIXED:
seeded-PRNG centroid literals, identical decimal text in both engines.
Distances are sequential folds (bit-identical cross-engine, see
``functions/vectors.py``), and the argmin is computed over scaled-
BIGINT encodings ``dist_e6 * K + cell`` so ties and orderings are
exact integer math — no float comparison ambiguity anywhere.

Reference has no vector ops at all; north-star extension.
"""

from __future__ import annotations

import math
import random
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

from algorithmproject_spark_spark.functions.numeric import (
    sql_hash_mod,
    sql_micros,
    ss_hash_mod,
    ss_micros,
)
from algorithmproject_spark_spark.functions.vectors import (
    EMB_DIM,
    sql_cosine,
    ss_arr,
    ss_cosine,
    ss_to_double,
)
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

K_CELLS = 8
NPROBE = 2
DIM = EMB_DIM
N_QUERIES = 5
TOP_K = 3
# production sizing target: with n_cells = ceil(n / TARGET_CELL_SIZE)
# the within-cell join stays O(n · TARGET_CELL_SIZE) as the corpus grows
TARGET_CELL_SIZE = 256

# Centroids are drawn lazily from one seeded stream (same scheme as
# annlsh._nd_planes): centroid i is the i-th 64-float tuple of
# Random(13), whatever k a corpus needs — the first K_CELLS draws are
# the registered queries' pinned centroid set by construction, so the
# static DuckDB oracles stay valid while callers scale k freely.
_rng = random.Random(13)
_cent_pool: list[tuple[float, ...]] = []


def centroids_for(k: int) -> tuple[tuple[float, ...], ...]:
    while len(_cent_pool) < k:
        _cent_pool.append(
            tuple(round(_rng.uniform(-1.0, 1.0), 6) for _ in range(DIM))
        )
    return tuple(_cent_pool[:k])


def cells_for(n_vectors: int, target_cell_size: int = TARGET_CELL_SIZE) -> int:
    """Cell count that keeps expected cell size ~constant as n grows.

    The mirror of ``annlsh.planes_per_band_for``: with
    k = ceil(n / target), per-cell membership stays O(target) and the
    within-cell candidate join O(n · target) — linear in the corpus —
    instead of the O(n²/k) blow-up a pinned k suffers. Production
    callers pass ``n_vectors`` from a catalog rowcount estimate (never
    a plan-building ``count()`` action); the registered sf-pinned
    queries keep their fixed K for oracle stability.
    """
    return max(1, math.ceil(max(1, n_vectors) / max(1, target_cell_size)))


CENTROIDS: tuple[tuple[float, ...], ...] = centroids_for(K_CELLS)


def _ss_l2sq(v: str, centroid: tuple[float, ...]) -> str:
    """Sequential-fold squared L2 distance to a fixed centroid."""
    return (
        f"aggregate(zip_with({v}, {ss_arr(centroid)}, "
        f"(x, y) -> (x - y) * (x - y)), 0.0D, (acc, d) -> acc + d)"
    )


def _sql_l2sq(emb: str, centroid: tuple[float, ...]) -> str:
    lit = "[" + ", ".join(repr(x) for x in centroid) + "]"
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {DIM} + 1), "
        f"i_ -> (CAST({emb}[i_] AS DOUBLE) - ({lit})[i_]) "
        f"* (CAST({emb}[i_] AS DOUBLE) - ({lit})[i_]))), "
        f"(a_, b_) -> a_ + b_)"
    )


def _ss_enc_array_from(emb: str, cents: Sequence[tuple[float, ...]]) -> str:
    """array of BIGINT encodings dist_e6 * k + cell, one per centroid.
    dist ≤ 4·DIM → dist_e6·k < 2^31·... stays far inside BIGINT.

    The widened vector is bound through a 1-element ``transform`` lambda
    so the 64-cast widening runs once, not once per centroid fold
    (CollapseProject inlines projected/nested aliases per reference)."""
    k = len(cents)
    parts = ", ".join(
        f"{ss_micros(_ss_l2sq('v', c))} * {k} + {i}"
        for i, c in enumerate(cents)
    )
    return (
        f"element_at(transform(array({ss_to_double(emb)}), "
        f"v -> array({parts})), 1)"
    )


def ss_cell_from(emb: str, cents: Sequence[tuple[float, ...]]) -> str:
    """Nearest-centroid cell id (exact integer argmin) for an explicit
    centroid set — the assignment column for exported/learned
    centroids."""
    return (
        f"CAST(array_min({_ss_enc_array_from(emb, cents)}) "
        f"% {len(cents)} AS INT)"
    )


def ss_cell(emb: str, k: int = K_CELLS) -> str:
    """Nearest-centroid cell id over the k fixed centroids. Pass
    ``k=cells_for(n_vectors)`` to keep cell sizes bounded at scale."""
    return ss_cell_from(emb, centroids_for(k))


def ss_probe_cells(emb: str, k: int = K_CELLS) -> str:
    """The NPROBE nearest cell ids for a query vector.

    The sorted encoding array is lambda-bound: each of the NPROBE
    ``element_at`` references would otherwise re-sort — and re-compute —
    the whole k-fold encoding array."""
    inner = f"array_sort({_ss_enc_array_from(emb, centroids_for(k))})"
    parts = ", ".join(
        f"CAST(element_at(s, {i + 1}) % {k} AS INT)" for i in range(NPROBE)
    )
    return (
        f"element_at(transform(array({inner}), s -> array({parts})), 1)"
    )


def _sql_enc_array_from(emb: str, cents: Sequence[tuple[float, ...]]) -> str:
    parts = ", ".join(
        f"{sql_micros(_sql_l2sq(emb, c))} * {len(cents)} + {i}"
        for i, c in enumerate(cents)
    )
    return f"[{parts}]"


def _sql_enc_array(emb: str) -> str:
    return _sql_enc_array_from(emb, CENTROIDS)


def sql_cell_from(emb: str, cents: Sequence[tuple[float, ...]]) -> str:
    return (
        f"CAST(list_min({_sql_enc_array_from(emb, cents)}) "
        f"% {len(cents)} AS INT)"
    )


def sql_probe_cells_from(emb: str, cents: Sequence[tuple[float, ...]]) -> str:
    inner = f"list_sort({_sql_enc_array_from(emb, cents)})"
    parts = ", ".join(
        f"CAST(({inner})[{i + 1}] % {len(cents)} AS INT)"
        for i in range(NPROBE)
    )
    return f"[{parts}]"


def sql_cell(emb: str) -> str:
    return f"CAST(list_min({_sql_enc_array(emb)}) % {K_CELLS} AS INT)"


def sql_probe_cells(emb: str) -> str:
    inner = f"list_sort({_sql_enc_array(emb)})"
    parts = ", ".join(
        f"CAST(({inner})[{i + 1}] % {K_CELLS} AS INT)" for i in range(NPROBE)
    )
    return f"[{parts}]"


def cells(
    spark: SparkSession, sf_dir: str, n_cells: int | None = None
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    k = n_cells or K_CELLS
    return emb.select(
        "vec_id", "label", "embedding", F.expr(ss_cell("embedding", k)).alias("cell")
    )


_SQL_CELLS = "SELECT vec_id, label, embedding, {c} AS cell FROM embeddings"


@register(
    "ann_ivf_cell_sizes",
    oracle=f"""
    WITH b AS ({_SQL_CELLS.format(c=sql_cell('embedding'))})
    SELECT cell, count(*) AS n FROM b GROUP BY cell
    """,
    doc="IVF coarse-quantizer cell histogram (skew signal for the ANN "
    "join; production swaps fixed centroids for pyspark.ml KMeans)",
)
def ann_ivf_cell_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cells(spark, sf_dir).groupBy("cell").agg(F.count(F.lit(1)).alias("n"))


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH b AS ({_SQL_CELLS.format(c=sql_cell('embedding'))}),
    q AS (
        SELECT vec_id AS q_id, embedding AS q_emb,
               unnest({sql_probe_cells('embedding')}) AS cell
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
        SELECT q.q_id, c.vec_id AS neighbor_id,
               {sql_micros(sql_cosine("q.q_emb", "c.embedding"))} AS cosine_e6
        FROM q JOIN b c USING (cell)
        WHERE c.vec_id <> q.q_id
    )
    SELECT q_id, neighbor_id, cosine_e6, rk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY cosine_e6 DESC, neighbor_id
        ) AS rk FROM scored
    ) WHERE rk <= {TOP_K}
    """,
    doc="IVF ANN: probe NPROBE nearest cells, rank candidates by exact "
    "cosine — equi-join on cell key, linear + AQE-skew-safe",
)
def ann_ivf_topk(
    spark: SparkSession, sf_dir: str, n_cells: int | None = None
) -> DataFrame:
    # n_cells=cells_for(catalog_rowcount) is the production path; the
    # registered query leaves it None → pinned K_CELLS for the oracle.
    k = n_cells or K_CELLS
    b = cells(spark, sf_dir, n_cells)
    emb = load_table(spark, sf_dir, "embeddings")
    # one-parse glue (r13): selectExpr/filter text instead of ~60 py4j
    # Column calls per body; identical expressions.
    q = emb.filter(f"vec_id < {N_QUERIES}").selectExpr(
        "vec_id AS q_id",
        "embedding AS q_emb",
        f"explode({ss_probe_cells('embedding', k)}) AS cell",
    )
    scored = (
        b.join(F.broadcast(q), "cell")
        .filter("vec_id != q_id")
        .selectExpr(
            "q_id",
            "vec_id AS neighbor_id",
            f"{ss_micros(ss_cosine('q_emb', 'embedding'))} AS cosine_e6",
        )
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine_e6"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(f"rk <= {TOP_K}")
        .select("q_id", "neighbor_id", "cosine_e6", "rk")
    )


# --------------------------------------------------------------------------
# LEARNED centroids, two flavors:
#
# 1. ``lloyd_kmeans`` — deterministic distributed Lloyd's in scaled-
#    integer arithmetic: embeddings become offset BIGINTs (e6 + 1e6, so
#    every value is nonnegative and truncating division is portable),
#    centroids broadcast as literals each round (ONE scan + a k-row
#    collect per iteration — the classic scalable-KMeans shape: map-side
#    partial sums, k groups, nothing driver-bound grows with the data).
#    Every op is exact integer math, so DuckDB re-derives the identical
#    centroids from unrolled MATERIALIZED CTEs and the learned-quantizer
#    query is FULLY oracle-checked — same treatment the fixed-point
#    PageRank got (plans/pipelines.py).
# 2. ``kmeans_cells`` — the pyspark.ml production slot (float-iterative,
#    rows-only driver row). Both fit on a deterministic hash-mod SAMPLE:
#    a coarse quantizer needs ~1e2–1e3 points per cell, not the corpus,
#    so at 100 TB the fit input is a tiny fixed-size draw while
#    assignment stays a full map-only pass.
# --------------------------------------------------------------------------
LLOYD_ITERS = 3  # unrolled in the oracle; production raises freely
FIT_MOD = 2  # fit on hash_mod(vec_id, 2) == 0 — a deterministic 50%
# draw at test scale; production sets fit_mod so the sample ≈ 256·k.
E6_OFFSET = 1_000_000  # embeddings ∈ (-1, 1) ⇒ offset-scaled ints ≥ 0

INIT_CENTS_E6: tuple[tuple[int, ...], ...] = tuple(
    tuple(math.floor(x * 1e6 + 0.5) + E6_OFFSET for x in c) for c in CENTROIDS
)


def _ss_emb_e6(emb: str) -> str:
    """array<double> → offset-scaled array<bigint> (exact, portable)."""
    return (
        f"transform({ss_to_double(emb)}, "
        f"x -> CAST(floor(x * 1000000.0D + 0.5D) AS BIGINT) + {E6_OFFSET})"
    )


def _ss_arr_int(vals: Sequence[int]) -> str:
    return "array(" + ", ".join(str(int(v)) for v in vals) + ")"


def _ss_enc_int(v: str, cents: Sequence[Sequence[int]]) -> str:
    """min over centroids of BIGINT encoding dist²·k + cell_id, where v
    is an already-bound array<bigint>. dist² ≤ 64·(2e6)² ≈ 2.6e14, ×k
    stays far inside BIGINT (ANSI-safe)."""
    k = len(cents)
    encs = ", ".join(
        f"aggregate(zip_with({v}, {_ss_arr_int(c)}, "
        f"(x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), "
        f"(acc, t) -> acc + t) * {k} + {i}"
        for i, c in enumerate(cents)
    )
    return f"array_min(array({encs}))"


def _ss_bound_enc(e6: str, cents: Sequence[Sequence[int]]) -> str:
    """Bind e6 through a 1-element lambda so the 64-element array is
    evaluated once, not once per centroid fold (CollapseProject)."""
    return (
        f"element_at(transform(array({e6}), "
        f"v -> {_ss_enc_int('v', cents)}), 1)"
    )


def _sql_emb_e6(emb: str) -> str:
    return (
        f"list_transform({emb}, x_ -> "
        f"CAST(floor(CAST(x_ AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) + {E6_OFFSET})"
    )


def lloyd_kmeans(
    emb: DataFrame,
    k: int = K_CELLS,
    iters: int = LLOYD_ITERS,
    fit_mod: int = FIT_MOD,
) -> list[tuple[int, ...]]:
    """Deterministic integer Lloyd's: returns k learned centroids as
    offset-e6 BIGINT tuples. One scan + one k-row collect per iteration
    (the bounded, documented collect pattern — k·dim ints, never data-
    sized). Empty cells keep their previous centroid."""
    fit = (
        emb.filter(F.expr(ss_hash_mod("vec_id", fit_mod)) == 0)
        .select(F.expr(_ss_emb_e6("embedding")).alias("e6"))
        .cache()
    )
    cents = [tuple(c) for c in INIT_CENTS_E6[:k]]
    dim = len(cents[0])
    try:
        for _ in range(iters):
            cell = F.expr(f"CAST({_ss_bound_enc('e6', cents)} % {k} AS INT)")
            # one-parse agg list (r13): the per-dim F.sum/element_at
            # tower cost ~320 py4j round-trips per iteration
            partials = (
                fit.groupBy(cell.alias("cell"))
                .agg(
                    F.expr("count(1) AS n"),
                    *[
                        F.expr(f"sum(element_at(e6, {d + 1})) AS s{d}")
                        for d in range(dim)
                    ],
                )
                .collect()
            )
            nxt = list(cents)
            for r in partials:
                # nonneg // nonneg: Python floor-div == DuckDB // here
                nxt[r["cell"]] = tuple(r[f"s{d}"] // r["n"] for d in range(dim))
            cents = nxt
    finally:
        fit.unpersist()
    return cents


def _sql_lloyd_cents(k: int, dim: int, iters: int, fit_mod: int) -> tuple[str, str]:
    """(CTE chain, final-centroid CTE name) re-deriving lloyd_kmeans in
    DuckDB: centroids live as (cell, i, v) rows; each round is a
    distance cross-product, an argmin, a per-dim mean, and an empty-cell
    fallback to the previous round — all MATERIALIZED (a CTE referenced
    twice per round would otherwise inline 2^k-fold, see memory note)."""
    init_vals = ", ".join(
        f"({c}, {i + 1}, {v})"
        for c, cent in enumerate(INIT_CENTS_E6[:k])
        for i, v in enumerate(cent)
    )
    parts = [
        f"fit AS MATERIALIZED (SELECT vec_id, {_sql_emb_e6('embedding')} AS e6 "
        f"FROM embeddings WHERE {sql_hash_mod('vec_id', fit_mod)} = 0)",
        f"c0(cell, i, v) AS MATERIALIZED (SELECT * FROM (VALUES {init_vals}))",
    ]
    prev = "c0"
    for it in range(1, iters + 1):
        parts += [
            f"d{it} AS MATERIALIZED (SELECT f.vec_id, c.cell, "
            f"CAST(sum((f.e6[c.i] - c.v) * (f.e6[c.i] - c.v)) AS BIGINT) AS dist "
            f"FROM fit f, {prev} c GROUP BY f.vec_id, c.cell)",
            f"a{it} AS MATERIALIZED (SELECT vec_id, "
            f"CAST(min(dist * {k} + cell) % {k} AS INT) AS cell "
            f"FROM d{it} GROUP BY vec_id)",
            f"m{it} AS MATERIALIZED (SELECT a.cell, t.i, "
            f"CAST(sum(f.e6[t.i]) AS BIGINT) // count(*) AS v "
            f"FROM a{it} a, fit f, range(1, {dim + 1}) t(i) "
            f"WHERE a.vec_id = f.vec_id GROUP BY a.cell, t.i)",
            f"c{it} AS MATERIALIZED (SELECT p.cell, p.i, COALESCE(m.v, p.v) AS v "
            f"FROM {prev} p LEFT JOIN m{it} m ON p.cell = m.cell AND p.i = m.i)",
        ]
        prev = f"c{it}"
    return ",\n    ".join(parts), prev


_LLOYD_CTES, _LLOYD_FINAL = _sql_lloyd_cents(K_CELLS, DIM, LLOYD_ITERS, FIT_MOD)

_LLOYD_TOPK_SQL = f"""
    WITH {_LLOYD_CTES},
    all6 AS MATERIALIZED (
        SELECT vec_id, {_sql_emb_e6('embedding')} AS e6 FROM embeddings
    ),
    dA AS MATERIALIZED (
        SELECT f.vec_id, c.cell,
               CAST(sum((f.e6[c.i] - c.v) * (f.e6[c.i] - c.v)) AS BIGINT) AS dist
        FROM all6 f, {_LLOYD_FINAL} c GROUP BY f.vec_id, c.cell
    ),
    b AS (
        SELECT e.vec_id, e.embedding, a.cell
        FROM embeddings e JOIN (
            SELECT vec_id, CAST(min(dist * {K_CELLS} + cell) % {K_CELLS} AS INT) AS cell
            FROM dA GROUP BY vec_id
        ) a USING (vec_id)
    ),
    qp AS (
        SELECT vec_id AS q_id, cell FROM (
            SELECT vec_id, cell, row_number() OVER (
                PARTITION BY vec_id ORDER BY dist * {K_CELLS} + cell
            ) AS pr FROM dA WHERE vec_id < {N_QUERIES}
        ) WHERE pr <= {NPROBE}
    ),
    q AS (
        SELECT qp.q_id, e.embedding AS q_emb, qp.cell
        FROM qp JOIN embeddings e ON qp.q_id = e.vec_id
    ),
    scored AS (
        SELECT q.q_id, c.vec_id AS neighbor_id,
               {sql_micros(sql_cosine("q.q_emb", "c.embedding"))} AS cosine_e6
        FROM q JOIN b c USING (cell)
        WHERE c.vec_id <> q.q_id
    )
    SELECT q_id, neighbor_id, cosine_e6, rk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY cosine_e6 DESC, neighbor_id
        ) AS rk FROM scored
    ) WHERE rk <= {TOP_K}
"""


@register(
    "ann_ivf_kmeans_topk",
    oracle=_LLOYD_TOPK_SQL,
    doc="IVF ANN with centroids LEARNED by deterministic integer Lloyd's "
    "k-means (sampled fit, broadcast-centroid rounds) — the whole "
    "training loop unrolls into the oracle, so the learned-quantizer "
    "path is value-exact, not rows-only",
)
def ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents = lloyd_kmeans(emb)
    k = len(cents)
    e6_txt = _ss_emb_e6("embedding")
    assigned = emb.select(
        "vec_id",
        "embedding",
        F.expr(f"CAST({_ss_bound_enc(e6_txt, cents)} % {k} AS INT)").alias(
            "cell"
        ),
    )
    sorted_enc_txt = (
        f"element_at(transform(array({e6_txt}), "
        f"v -> array_sort(array("
        + ", ".join(
            f"aggregate(zip_with(v, {_ss_arr_int(c)}, "
            f"(x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), "
            f"(acc, t) -> acc + t) * {k} + {i}"
            for i, c in enumerate(cents)
        )
        + "))), 1)"
    )
    probe_txt = (
        f"element_at(transform(array({sorted_enc_txt}), s -> array("
        + ", ".join(
            f"CAST(element_at(s, {i + 1}) % {k} AS INT)"
            for i in range(NPROBE)
        )
        + ")), 1)"
    )
    q = emb.filter(f"vec_id < {N_QUERIES}").selectExpr(
        "vec_id AS q_id",
        "embedding AS q_emb",
        f"explode({probe_txt}) AS cell",
    )
    scored = (
        assigned.join(F.broadcast(q), "cell")
        .filter("vec_id != q_id")
        .selectExpr(
            "q_id",
            "vec_id AS neighbor_id",
            f"{ss_micros(ss_cosine('q_emb', 'embedding'))} AS cosine_e6",
        )
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine_e6"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(f"rk <= {TOP_K}")
        .select("q_id", "neighbor_id", "cosine_e6", "rk")
    )


def kmeans_cells(
    emb: DataFrame, k: int = K_CELLS, seed: int = 42, fit_mod: int = FIT_MOD
) -> tuple[DataFrame, "object"]:
    """(vec_id, label, embedding, cell) with cells from seeded
    pyspark.ml KMeans — the float-iterative production slot.

    The fit input is a deterministic hash-mod sample (1/fit_mod of the
    corpus; pass 1 to fit on everything): the quantizer needs a few
    hundred points per cell, and sampling keeps the iterative fit off
    the full corpus while ``transform`` still assigns every row.
    Returns the assigned frame and the fitted model (whose
    clusterCenters feed the probe side).

    Determinism: the sampled fit input is coalesced to ONE partition,
    so the float reductions inside the JVM fit see a fixed row order —
    same seed + same data ⇒ bit-identical centers across fits (asserted
    in tests/test_topics.py). The sample is bounded (~256·k rows in
    production sizing), so a single-partition fit is never a scale
    problem; assignment remains a fully distributed map-only pass.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = emb.withColumn(
        "features", array_to_vector(F.expr(ss_to_double("embedding")))
    )
    fit_input = (
        feat.filter(F.expr(ss_hash_mod("vec_id", fit_mod)) == 0)
        if fit_mod > 1
        else feat
    )
    # Tiny-input guard (edge-sweep finding): pyspark.ml KMeans aborts
    # when the fit input has fewer rows than k (and requires k >= 2).
    # Probe with limit(k).count(): it returns min(k, n_fit) exactly —
    # which is all k_eff needs — and CollectLimit stops after k rows
    # instead of scanning the corpus (a bare .count() on the hash-mod
    # sample still reads every row; ADVICE r8). Degenerate corpora
    # (<2 rows) skip the fit entirely: one trivial cell, no model.
    k_eff = fit_input.limit(k).count()
    if k_eff < k and fit_mod > 1:
        fit_input = feat
        k_eff = feat.limit(k).count()
    if k_eff < 2:
        assigned = feat.select(
            "vec_id", "label", "embedding", F.lit(0).cast("int").alias("cell")
        )
        return assigned, None
    model = KMeans(k=k_eff, seed=seed, maxIter=20).fit(
        fit_input.coalesce(1).sortWithinPartitions("vec_id")
    )
    assigned = model.transform(feat).select(
        "vec_id", "label", "embedding", F.col("prediction").cast("int").alias("cell")
    )
    return assigned, model


@register(
    "ann_ivf_ml_kmeans_topk",
    plan=("arrow",),
    # Rows-only BY CONTRACT, not by accident: the oracle must be a
    # static ANSI-SQL string fixed at registration, and no SQL string
    # can re-derive a live JVM float-iterative fit (reduction order and
    # BLAS codepaths are engine-internal). The fit IS deterministic
    # (seeded single-partition sample; same-seed-twice asserted in
    # tests/test_topics.py), and the fully-green production pattern —
    # fit once, freeze centers as literals — is registered as
    # ``ann_ivf_export_centroids_topk`` below.
    oracle=None,
    doc="IVF ANN with pyspark.ml KMeans centroids (float-iterative "
    "production slot, deterministic sampled fit): probe NPROBE nearest "
    "learned cells, rank by exact cosine",
)
def ann_ivf_ml_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, model = kmeans_cells(emb)
    # model is None only for degenerate (<2 row) corpora: everything sat
    # in cell 0, so one zero-vector "center" routes every probe there
    centers = (
        [tuple(float(x) for x in c) for c in model.clusterCenters()]
        if model is not None
        else [tuple(0.0 for _ in range(DIM))]
    )

    def probe_cells(e: str) -> Column:
        """NPROBE nearest learned cells by the same exact-integer argmin
        encoding as the fixed-centroid path (one-parse F.expr text)."""
        k = len(centers)
        encs = ", ".join(
            f"{ss_micros(_ss_l2sq('v', c))} * {k} + {i}"
            for i, c in enumerate(centers)
        )
        bound = (
            f"element_at(transform(array({ss_to_double(e)}), "
            f"v -> array_sort(array({encs}))), 1)"
        )
        probes = ", ".join(
            f"CAST(element_at(s, {i + 1}) % {k} AS INT)"
            # clamp: a guarded tiny fit can return < NPROBE centers,
            # and element_at past the end raises
            for i in range(min(NPROBE, k))
        )
        return F.expr(
            f"element_at(transform(array({bound}), s -> array({probes})), 1)"
        )

    q = emb.filter(f"vec_id < {N_QUERIES}").select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.explode(probe_cells("embedding")).alias("cell"),
    )
    scored = (
        assigned.join(F.broadcast(q), "cell")
        .filter("vec_id != q_id")
        .selectExpr(
            "q_id",
            "vec_id AS neighbor_id",
            f"{ss_micros(ss_cosine('q_emb', 'embedding'))} AS cosine_e6",
        )
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine_e6"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(f"rk <= {TOP_K}")
        .select("q_id", "neighbor_id", "cosine_e6", "rk")
    )


# --------------------------------------------------------------------------
# EXPORTED learned centroids — the production pattern that turns a
# float-iterative ML fit into a fully oracle-checkable query: fit the
# quantizer ONCE (kmeans_cells, seeded + single-partition sample →
# bit-deterministic), round the centers to 6 decimals, and freeze them
# as literals. Everything downstream — assignment, probe, ranking — is
# then pure deterministic expression logic that a static SQL oracle
# re-derives exactly, and the expensive fit never re-runs per query.
# This is the green sibling of ``ann_ivf_ml_kmeans_topk`` (whose oracle
# cannot re-derive a live JVM fit from a static SQL string).
# Provenance: kmeans_cells(embeddings @ sf0.01, k=8, seed=42) — the
# values are a valid fixed quantizer for ANY corpus, like CENTROIDS.
# --------------------------------------------------------------------------
EXPORTED_CENTROIDS: tuple[tuple[float, ...], ...] = (
    (
        -0.039724, 0.051662, 0.085364, -0.013575, -0.114763, 0.033507,
        0.078907, 0.023166, -0.006358, 0.003848, -0.050541, -0.156898,
        -0.109169, -0.072177, -0.066901, -0.071872, -0.063187, -0.061392,
        -0.035192, 0.138427, -0.05995, -0.010984, 0.015893, 0.01813, 0.029059,
        -0.047123, 0.025449, 0.00609, 0.031844, -0.009202, -0.007017,
        -0.08502, 0.037516, -0.070837, 0.113262, -0.051796, -0.007063,
        -0.019853, -0.038077, 0.033981, -0.127855, 0.007215, 0.00016,
        -0.110612, -0.109824, 0.07358, -0.108165, 0.043337, -0.030139,
        0.040411, 0.066602, -0.083078, 0.108237, -0.13063, -0.004277,
        -0.097538, 0.053578, 0.062499, 0.137312, 0.055583, -0.096687,
        -0.001526, -0.031352, -0.080617,
    ),
    (
        0.116602, 0.032628, 0.040573, -0.028525, 0.065771, -0.055065,
        -0.065308, 0.05663, 0.042699, -0.000998, -0.018987, -0.037089,
        0.006726, -0.013138, -0.020212, 0.079096, 0.007303, -0.039847,
        -0.11119, 0.008044, -0.013986, -0.005714, 0.062903, 0.009088,
        0.009469, 0.022247, -0.022997, -0.019275, -0.020323, 0.028724,
        0.039515, 0.002071, -0.020003, 0.011257, 0.041776, -0.011734,
        -0.054899, 0.044424, 0.041858, -0.068696, -0.007512, -0.026247,
        -0.006359, -0.010771, -0.004533, 0.028455, 0.001867, -0.034617,
        0.043134, -0.010136, 0.031619, -0.007298, 0.005259, 0.016121,
        0.052457, -0.049336, 0.007291, -0.005057, -0.079075, -0.043009,
        0.02065, -0.079698, 0.049887, -0.037105,
    ),
    (
        -0.027338, 0.023076, -0.005697, -0.019398, 0.025455, 0.046424,
        -0.075505, -0.002904, -0.048611, -0.062631, 0.021615, -0.025935,
        0.051987, 0.058161, -0.010521, 0.098821, -0.043303, 0.030621,
        -0.02826, -0.009204, 9e-06, -0.029675, 0.022963, -0.008518, -0.024995,
        3e-05, -0.015001, -0.000934, 0.041631, 0.004535, -0.004473, -0.001943,
        0.007967, -0.019366, -0.017754, -0.024216, -0.015899, -0.020564,
        -0.030134, 0.017338, 0.003409, -0.029711, 0.067398, -0.013502,
        -0.053772, 0.010111, 0.008268, 0.023942, 0.020719, -0.012764,
        -0.006418, 0.026545, -0.029121, 0.014414, -0.039086, 0.034938,
        0.01876, 0.011827, -0.00514, 0.075623, -0.044219, -0.007935, 0.043312,
        0.014857,
    ),
    (
        -0.044313, -0.009236, 0.052361, 0.035027, 0.018225, -0.087767,
        -0.009746, 0.043761, 0.041493, 0.039407, 0.004144, -0.014931,
        0.021219, -0.05385, -0.039298, 0.049228, 0.119384, -0.016166,
        0.046876, 0.021406, -0.010583, -0.013781, 0.018831, -0.060203,
        0.021451, -0.006551, -0.039493, -0.06413, -0.04516, 0.006451,
        -0.039084, 0.038041, 0.067385, -0.027011, -0.017785, 0.057437,
        -0.005577, -0.109096, -0.05808, 0.05517, 0.0778, 0.022356, -0.056892,
        0.020675, -0.036893, -0.049254, -0.033017, 0.024684, -0.065631,
        -0.035779, 0.046536, 0.07602, 0.053264, 0.037807, 0.044068, -0.024703,
        -0.0253, -0.008165, 0.004553, -0.056944, 0.009295, -0.063758,
        -0.040027, -0.035543,
    ),
    (
        0.033589, -0.021214, -0.060784, -0.098934, -0.00033, 0.024748,
        0.060233, 0.002261, 0.007306, -0.027873, -0.007696, 0.033468,
        0.032166, 0.0398, 0.015066, 0.010524, -0.035168, -0.064777, 0.119139,
        0.078942, -0.01511, -0.021492, -0.031027, 0.032199, 0.073575,
        0.111606, -0.11844, 0.087542, -0.055257, 0.038958, -0.074705,
        0.024807, 0.038402, -0.077484, 0.011611, -0.040637, 0.079808,
        0.001212, -0.018678, -0.056713, 0.039382, -0.024447, 0.000596,
        -0.001021, 0.017553, -0.095926, 0.03, -0.164617, 0.082673, 0.09825,
        0.09019, 0.049861, 0.063414, -0.009993, 0.002514, -0.001774, 0.06625,
        0.009791, 0.038287, 0.01152, 0.135498, -0.058994, -0.07186, 0.007904,
    ),
    (
        -0.029199, -0.044737, -0.009718, -0.034472, 0.012153, 0.028184,
        -0.022418, 0.016235, 0.008327, 0.010825, 0.032307, -0.024427,
        -0.012224, -0.044942, 0.002786, -0.033848, 0.015686, 0.021332,
        0.046212, 0.004175, 0.027483, 0.018546, -0.005335, -0.005981,
        0.003142, 0.029903, 0.043281, -0.001935, 0.002401, 0.007835,
        -0.003959, 0.001221, 0.033129, 0.035859, 0.045809, 0.003565, 0.012241,
        0.033543, 0.020781, -0.009587, -0.021476, -0.040183, -0.03731,
        0.023638, -0.000653, 0.021664, 0.008751, -0.003554, -0.00174,
        -0.022487, -0.020638, -0.032255, -0.003839, -0.02286, -0.002295,
        -0.001854, 0.002002, -0.015863, 0.023398, -0.020832, 0.021347,
        0.046058, -0.029944, -0.011823,
    ),
    (
        0.033906, 0.017238, -0.027124, 0.0378, -0.046665, 0.009713, 0.011889,
        -0.04411, -0.017375, 0.044004, -0.018117, 0.091699, -0.031051, 0.0075,
        -0.017463, -0.01662, 0.052315, 0.038881, 0.012596, -0.005446,
        -0.057077, 0.015494, -0.016802, -0.030077, 0.026454, -0.038115,
        -0.015545, 0.062594, 0.017331, -0.064704, 0.025611, -0.069198,
        -0.029254, -0.025945, 0.019716, 0.026994, -0.009515, -0.049821,
        -0.035247, -0.03943, -0.009197, 0.071583, -0.018569, -0.04497,
        0.009509, -0.039843, -0.007614, 0.075293, -0.045535, 0.011963,
        -0.021863, -0.030561, 0.011684, -0.001817, 0.022576, -0.009779,
        -0.022266, 0.001636, 0.011903, -0.041541, -0.012979, 0.067256,
        0.019144, 0.012104,
    ),
    (
        0.060681, 0.006872, -0.082746, 0.097817, 0.030354, 0.172693, 0.064188,
        -0.108432, 0.044707, -0.017943, 0.073006, -0.00285, -0.088146,
        -0.012526, 0.091439, -0.1283, -0.01289, 0.018885, -0.093756, 0.044277,
        0.108187, -0.057005, -0.091691, -0.024729, 0.076856, -0.104013,
        -0.019627, -0.000575, -0.040379, 0.032567, 0.108421, 0.083397,
        0.046274, -0.10315, -0.014568, 0.028025, -0.018237, 0.043181,
        -0.06048, -0.0122, -0.034911, -0.063127, -0.101131, -0.004382,
        0.098531, 0.173597, -0.022421, -0.068915, 0.057211, -0.026825,
        0.013344, -0.034329, 0.037919, -0.025758, -0.037839, 0.000265,
        0.067126, 0.027197, 0.039804, 0.143677, -0.054988, -0.170282,
        0.138368, -0.122605,
    ),
)


@register(
    "ann_ivf_export_centroids_topk",
    oracle=None,  # installed below — the string embeds EXPORTED_CENTROIDS
    doc="IVF ANN over EXPORTED learned centroids (one seeded ml-KMeans "
    "fit, frozen as literals): probe NPROBE nearest cells, rank by "
    "exact cosine — fully oracle-checked, the production shape where "
    "the quantizer is fit once and shipped with the job",
)
def ann_ivf_export_centroids_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    b = emb.select(
        "vec_id",
        "embedding",
        F.expr(ss_cell_from("embedding", EXPORTED_CENTROIDS)).alias("cell"),
    )
    probe_txt = (
        f"array_sort({_ss_enc_array_from('embedding', EXPORTED_CENTROIDS)})"
    )
    probe_parts = ", ".join(
        f"CAST(element_at(s, {i + 1}) % {len(EXPORTED_CENTROIDS)} AS INT)"
        for i in range(NPROBE)
    )
    q = emb.filter(f"vec_id < {N_QUERIES}").selectExpr(
        "vec_id AS q_id",
        "embedding AS q_emb",
        f"explode(element_at(transform(array({probe_txt}), "
        f"s -> array({probe_parts})), 1)) AS cell",
    )
    scored = (
        b.join(F.broadcast(q), "cell")
        .filter("vec_id != q_id")
        .selectExpr(
            "q_id",
            "vec_id AS neighbor_id",
            f"{ss_micros(ss_cosine('q_emb', 'embedding'))} AS cosine_e6",
        )
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine_e6"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(f"rk <= {TOP_K}")
        .select("q_id", "neighbor_id", "cosine_e6", "rk")
    )


def _install_export_oracle() -> None:
    from dataclasses import replace

    from algorithmproject_spark_spark.registry import REGISTRY

    oracle = f"""
    WITH b AS (
        SELECT vec_id, embedding,
               {sql_cell_from('embedding', EXPORTED_CENTROIDS)} AS cell
        FROM embeddings
    ),
    q AS (
        SELECT vec_id AS q_id, embedding AS q_emb,
               unnest({sql_probe_cells_from('embedding', EXPORTED_CENTROIDS)}) AS cell
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
        SELECT q.q_id, c.vec_id AS neighbor_id,
               {sql_micros(sql_cosine("q.q_emb", "c.embedding"))} AS cosine_e6
        FROM q JOIN b c USING (cell)
        WHERE c.vec_id <> q.q_id
    )
    SELECT q_id, neighbor_id, cosine_e6, rk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY cosine_e6 DESC, neighbor_id
        ) AS rk FROM scored
    ) WHERE rk <= {TOP_K}
    """
    REGISTRY["ann_ivf_export_centroids_topk"] = replace(
        REGISTRY["ann_ivf_export_centroids_topk"], oracle=oracle
    )


_install_export_oracle()
