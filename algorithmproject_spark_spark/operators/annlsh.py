"""Random-hyperplane (SimHash-for-vectors) LSH over embeddings — the
100 TB scale path for similarity search (north-star extension).

Brute force is O(n·q); hyperplane LSH hashes each vector to a bucket
(one bit per hyperplane = sign of the dot product), then joins only
within buckets — an equi-join Catalyst shuffles on the bucket key, so
candidate generation is linear and AQE handles bucket skew. Recall
depends on how clustered the corpus is; the query contract ("top-k
within probed buckets", "pairs within a bucket above threshold") is
deterministic and oracle-checked either way.

Hyperplanes are FIXED literals from a seeded PRNG: both engines parse
the identical decimal literals to identical doubles, and dot products
are sequential folds, so even the sign of a near-zero dot product
agrees bit-for-bit cross-engine.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from algorithmproject_spark_spark.functions.numeric import sql_micros, ss_micros
from algorithmproject_spark_spark.functions.vectors import (
    EMB_DIM,
    sql_cosine,
    ss_arr,
    ss_cosine,
    ss_to_double,
)
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

N_PLANES = 6  # 64 buckets
DIM = EMB_DIM
N_QUERIES = 5
TOP_K = 3
NEAR_DUP_E6 = 400_000  # cosine ≥ 0.40

_rng = random.Random(7)
PLANES: tuple[tuple[float, ...], ...] = tuple(
    tuple(round(_rng.uniform(-1.0, 1.0), 6) for _ in range(DIM))
    for _ in range(N_PLANES)
)


def _ss_plane_bits(v: str, planes) -> str:
    """Spark-SQL text of the sign-bit accumulator for a bound widened
    vector (see vectors.py ss_* rationale — one F.expr parse instead of
    ~70 py4j calls per plane; same fold order, same CASE terms)."""
    terms = ["0"]
    for j, plane in enumerate(planes):
        d = (
            f"aggregate(zip_with({v}, {ss_arr(plane)}, (x, y) -> x * y), "
            f"0.0D, (a, b) -> a + b)"
        )
        terms.append(f"(CASE WHEN {d} >= 0.0D THEN {1 << j} ELSE 0 END)")
    return " + ".join(terms)


def ss_bucket(emb: str) -> str:
    """LSH bucket id: bit j = sign(dot(v, plane_j)).

    The widened vector is lambda-bound so the widening runs once, not
    once per plane fold (CollapseProject inlines aliases per reference)."""
    return (
        f"element_at(transform(array({ss_to_double(emb)}), "
        f"v -> {_ss_plane_bits('v', PLANES)}), 1)"
    )


def sql_bucket(emb: str) -> str:
    terms = []
    for j, plane in enumerate(PLANES):
        lit = "[" + ", ".join(repr(x) for x in plane) + "]"
        d = (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {DIM} + 1), "
            f"i_ -> CAST({emb}[i_] AS DOUBLE) * ({lit})[i_])), "
            f"(a_, b_) -> a_ + b_)"
        )
        terms.append(f"CASE WHEN {d} >= 0 THEN {1 << j} ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


def bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", "label", "embedding", F.expr(ss_bucket("embedding")).alias("bucket")
    )


_SQL_BUCKETED = "SELECT vec_id, label, embedding, {b} AS bucket FROM embeddings"


@register(
    "ann_lsh_bucket_sizes",
    oracle=f"""
    WITH b AS ({_SQL_BUCKETED.format(b=sql_bucket('embedding'))})
    SELECT bucket, count(*) AS n FROM b GROUP BY bucket
    """,
    doc="hyperplane-LSH bucket histogram (join-skew signal for the ANN path)",
)
def ann_lsh_bucket_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bucketed(spark, sf_dir).groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))


@register(
    "ann_lsh_topk",
    oracle=f"""
    WITH b AS ({_SQL_BUCKETED.format(b=sql_bucket('embedding'))}),
    q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket FROM b WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.q_id, c.vec_id AS neighbor_id,
               {sql_micros(sql_cosine("q.q_emb", "c.embedding"))} AS cosine_e6
        FROM q JOIN b c USING (bucket)
        WHERE c.vec_id <> q.q_id
    )
    SELECT q_id, neighbor_id, cosine_e6, rk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY cosine_e6 DESC, neighbor_id
        ) AS rk FROM scored
    ) WHERE rk <= {TOP_K}
    """,
    doc="ANN scale path: top-k cosine within the query's LSH bucket "
    "(equi-join on bucket key — linear, AQE-skew-safe)",
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = bucketed(spark, sf_dir)
    q = b.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"), "bucket"
    )
    scored = (
        b.join(F.broadcast(q), "bucket")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(ss_micros(ss_cosine("q_emb", "embedding"))).alias("cosine_e6"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine_e6"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("q_id", "neighbor_id", "cosine_e6", "rk")
    )


# --------------------------------------------------------------------------
# Near-dup pairs: BANDED hyperplane signatures, mirroring the MinHash
# band structure (queries/dedup.py minhash_lsh_candidates). A single
# fixed-width signature keeps the bucket count constant forever, which
# makes the within-bucket self-join O(n²/buckets) — quadratic at corpus
# scale. Banding fixes recall (OR over bands) and the derived
# planes-per-band fixes the asymptotics: R ≈ log2(n / target_bucket)
# keeps E[bucket size] ~constant, so candidate pairs grow O(n · bands ·
# target_bucket), never O(n²). Exact cosine verifies only candidates.
# --------------------------------------------------------------------------
NEAR_DUP_BANDS = 4
NEAR_DUP_TARGET_BUCKET = 16
# sf0.01 setting: planes_per_band_for(500) == 5 → 32 buckets/band. The
# registered query pins it so the DuckDB oracle (a static SQL string)
# computes the identical plane set.
NEAR_DUP_ROWS = 5

# Band planes are drawn lazily from one seeded stream: plane i is the
# i-th 64-float tuple of Random(13), whatever width a corpus needs, so
# no fixed pool can ever be exhausted (a truncated slice would leave a
# band with a constant-0 bucket and silently degrade the band self-join
# to all-pairs). The first draws coincide with the registered sf0.01
# oracle's plane set by construction.
_nd_rng = random.Random(13)
_nd_pool: list[tuple[float, ...]] = []


def _nd_planes(count: int) -> list[tuple[float, ...]]:
    while len(_nd_pool) < count:
        _nd_pool.append(tuple(round(_nd_rng.uniform(-1.0, 1.0), 6) for _ in range(DIM)))
    return _nd_pool[:count]


def planes_per_band_for(n_vectors: int, target_bucket: int = NEAR_DUP_TARGET_BUCKET) -> int:
    """Signature width that keeps the expected bucket size ~constant.

    With R = ceil(log2(n / target)), each band has ≥ n/target buckets,
    so the self-join inside a bucket touches O(target²) pairs and the
    total candidate count stays linear in n as the corpus grows.
    """
    return max(1, math.ceil(math.log2(max(2.0, n_vectors / target_bucket))))


def _band_planes(band: int, rows: int) -> list[tuple[float, ...]]:
    planes = _nd_planes(band * rows + rows)[band * rows : band * rows + rows]
    assert len(planes) == rows  # lazy generation: a short slice is impossible
    return planes


def _sql_band_bucket(emb: str, band: int, rows: int) -> str:
    terms = []
    for j, plane in enumerate(_band_planes(band, rows)):
        lit = "[" + ", ".join(repr(x) for x in plane) + "]"
        d = (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {DIM} + 1), "
            f"i_ -> CAST({emb}[i_] AS DOUBLE) * ({lit})[i_])), "
            f"(a_, b_) -> a_ + b_)"
        )
        terms.append(f"CASE WHEN {d} >= 0 THEN {1 << j} ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


def near_dup_candidates(
    df: DataFrame,
    n_bands: int = NEAR_DUP_BANDS,
    planes_per_band: int | None = None,
    n_vectors: int | None = None,
) -> DataFrame:
    """Candidate (vec_a, vec_b) pairs sharing a band bucket.

    The signature width is resolved, in order of preference, from
    ``planes_per_band`` (explicit), ``n_vectors`` (the caller's corpus
    size — catalog row count, write-side metadata, or a prior stage's
    count; plan-build stays action-free), or, as a last resort, a full
    ``df.count()`` — a real Spark job that executes the upstream plan
    once before the candidate plan runs, acceptable interactively but
    not in a 100 TB pipeline; pass ``n_vectors`` there.
    """
    if planes_per_band is None:
        planes_per_band = planes_per_band_for(n_vectors if n_vectors is not None else df.count())
    bands_txt = ", ".join(
        _ss_plane_bits("v", _band_planes(b, planes_per_band))
        for b in range(n_bands)
    )
    band_keys = F.expr(
        f"element_at(transform(array({ss_to_double('embedding')}), "
        f"v -> array({bands_txt})), 1)"
    )
    banded = df.select(
        "vec_id", F.posexplode(band_keys).alias("band_idx", "bucket")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )


def near_dup_pairs(
    df: DataFrame,
    n_bands: int = NEAR_DUP_BANDS,
    planes_per_band: int | None = None,
    threshold_e6: int = NEAR_DUP_E6,
    n_vectors: int | None = None,
) -> DataFrame:
    """Banded-LSH near-duplicate pairs over (vec_id, embedding):
    bucket-blocked candidates, then exact cosine verify ≥ threshold."""
    cand = near_dup_candidates(df, n_bands, planes_per_band, n_vectors)
    x = df.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("e_a"))
    y = df.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("e_b"))
    return (
        cand.join(x, "vec_a")
        .join(y, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.expr(ss_micros(ss_cosine("e_a", "e_b"))).alias("cosine_e6"),
        )
        .filter(F.col("cosine_e6") >= threshold_e6)
    )


def _sql_near_dup_bands(rows: int, n_bands: int) -> str:
    return " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band_idx, "
        f"{_sql_band_bucket('embedding', b, rows)} AS bucket FROM embeddings"
        for b in range(n_bands)
    )


@register(
    "embedding_near_dup_pairs",
    oracle=f"""
    WITH bands AS ({_sql_near_dup_bands(NEAR_DUP_ROWS, NEAR_DUP_BANDS)}),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT c.vec_a, c.vec_b,
           {sql_micros(sql_cosine("x.embedding", "y.embedding"))} AS cosine_e6
    FROM cand c
    JOIN embeddings x ON c.vec_a = x.vec_id
    JOIN embeddings y ON c.vec_b = y.vec_id
    WHERE {sql_micros(sql_cosine("x.embedding", "y.embedding"))} >= {NEAR_DUP_E6}
    """,
    doc="embedding-cosine near-dup: banded hyperplane LSH (4 bands × "
    "corpus-sized signatures) → exact cosine verify ≥ 0.40 on candidates only",
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return near_dup_pairs(emb, planes_per_band=NEAR_DUP_ROWS)
