"""Exact-integer PCA over the embedding corpus — principal-direction
extraction and spectral outlier scoring as a Spark program (round 11).

Training-data pipelines use PCA constantly (embedding whitening,
drift/outlier detection, low-rank compression before ANN), but naive
float PCA is NOT oracle-checkable: covariance accumulations are
shuffle-order float sums and eigensolvers are library-specific. This
module makes the whole chain exact:

1. **Quantize**: each component → milli-units,
   ``q = floor(x·1000 + 0.5)`` (the micros contract at 1e3 — float →
   double widening and the one rounding op are bit-identical across
   engines).
2. **Moment pass** (the only data-scale work): second-moment matrix
   ``M[i,j] = Σ q_i q_j``, component sums ``s_i`` and the row count in
   ONE Arrow kernel that accumulates a numpy int64 Gram matrix per
   PARTITION and emits 64×64 partial rows — map-side combine in its
   purest form: the shuffle carries #partitions × 4096 rows, never the
   corpus. (A relational explode+self-join would shuffle n·D² rows;
   DuckDB pays exactly that in the oracle, which is fine at fixture
   scale and is the point of doing it differently here.)
3. **Centered covariance**: ``C[i,j] = M[i,j] − trunc(s_i·s_j / n)`` —
   integer, deterministic. Bounds at the design point: |q| ≤ ~2000
   (unit-ish vectors), so M entries stay < 2^63 up to ~2·10^12 rows
   and the s_i·s_j product up to ~10^9 rows; past that, quantize at
   1e2 or pre-center per shard (documented seam, same class as the
   burstiness ratio split).
4. **Eigensolve**: 100 fixed power-iteration rounds on the 64×64 integer
   matrix — dimension-sized, so it runs driver-side in exact Python
   bigints (the PQ-codebook pattern: the corpus never touches the
   driver), renormalizing to max-abs 1e6 with TRUNC division each
   round. The DuckDB oracle unrolls the identical rounds as CTEs over
   BIGINTs; Python bigint == BIGINT wherever BIGINT doesn't overflow,
   which holds through the sf1 fixtures by the bounds above.
5. **Project + score**: every vector's projection onto the principal
   direction is one map-only fold; outliers = top deviations from the
   scalar mean projection (1-row broadcast — the sanctioned
   scalar-cross pattern).

Reference parity: none — the reference has no vector ops; this extends
the embedding family (ANN, SemDeDup, quantization, drift) with the
spectral member a 100 TB curation pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.cacheutil import tracked_cache
from algorithmproject_spark_spark.functions.vectors import EMB_DIM, ss_to_double
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

Q_SCALE = 1_000  # component quantization (milli-units)
X_SCALE = 1_000_000  # eigenvector renormalization (max-abs component)
PCA_ITERS = 100  # fixed power-iteration rounds (unrolled in the oracle).
# 100 because the synthetic embeddings are NEAR-ISOTROPIC: the fixture
# eigengap is λ2/λ1 ≈ 0.93, so k rounds leave a 0.93^k misalignment —
# 8 rounds was 0.57 (useless), 100 rounds is <1e-3. Each round is a
# 64-row matvec: trivially cheap on both engines, the unrolled oracle
# just carries 300 small CTEs.


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero division on Python ints — Python ``//``
    floors, which diverges from Spark ``div`` / DuckDB BIGINT ``//``
    on negative operands; the eigensolve must match both."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def ss_quant(emb: str) -> str:
    """array<long> of milli-quantized components."""
    return (
        f"transform({ss_to_double(emb)}, "
        f"x -> CAST(floor(x * {float(Q_SCALE)!r}D + 0.5D) AS BIGINT))"
    )


def ss_proj(emb: str, xs: list[int]) -> str:
    """Spark-SQL text twin of the projection fold onto an integer
    direction: one F.expr parse instead of ~260 py4j round-trips for
    the 64-literal array + zip_with/aggregate tower (r13)."""
    arr = "array(" + ", ".join(f"{int(v)}L" for v in xs) + ")"
    return (
        f"aggregate(zip_with({ss_quant(emb)}, {arr}, (a, b) -> a * b), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def sql_quant(emb: str) -> str:
    return (
        f"list_transform({emb}, x_ -> CAST(floor(CAST(x_ AS DOUBLE) "
        f"* {Q_SCALE}.0 + 0.5) AS BIGINT))"
    )


def _moment_batches(it):
    """Arrow kernel: per-partition int64 Gram accumulation. Emits long
    rows (i, j, v): the 64×64 second-moment partials, the component
    sums as (i, -1, s_i), and the row count as (-1, -1, n)."""
    import numpy as np
    import pandas as pd

    d = EMB_DIM
    m = np.zeros((d, d), dtype="int64")
    s = np.zeros(d, dtype="int64")
    n = 0
    for pdf in it:
        if not len(pdf):
            continue
        v = np.asarray(
            [np.asarray(a, dtype="float64") for a in pdf["embedding"]]
        )
        q = np.floor(v * Q_SCALE + 0.5).astype("int64")
        m += q.T @ q
        s += q.sum(axis=0)
        n += len(q)
    ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
    yield pd.DataFrame(
        {
            "i": np.concatenate([ii.ravel(), np.arange(d), [-1]]),
            "j": np.concatenate([jj.ravel(), np.full(d, -1), [-1]]),
            "v": np.concatenate([m.ravel(), s, [n]]),
        }
    )


def embedding_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(i, j, v) aggregated moment relation — the one corpus pass."""
    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    partials = emb.mapInPandas(
        _moment_batches, schema="i int, j int, v long"
    )
    return tracked_cache(
        partials.groupBy("i", "j").agg(F.sum("v").cast("long").alias("v"))
    )


def _power_iterate(cov: list[list[int]]) -> list[int]:
    """PCA_ITERS exact bigint power-iteration rounds on a (possibly
    asymmetric — see :func:`_deflate`) integer matrix, renormalizing to
    max-abs ~X_SCALE each round. Mirrors the oracle's unrolled CTE
    chain exactly, including the sc == 0 keep-previous guard."""
    d = len(cov)
    x = [X_SCALE] * d
    for _ in range(PCA_ITERS):
        y = [sum(cov[i][j] * x[j] for j in range(d)) for i in range(d)]
        sc = max(abs(v) for v in y)
        if sc == 0:
            break
        # renormalize by DIVISION ONLY: y*X_SCALE//sc overflows BIGINT
        # in the oracle once y reaches ~1e13 (sf0.01 already does);
        # y // max(sc // X_SCALE, 1) keeps max-abs within [X, 2X)
        # without any multiplication, identically on both engines
        div = max(_tdiv(sc, X_SCALE), 1)
        x = [_tdiv(v, div) for v in y]
    return x


def _deflate(cov: list[list[int]], x: list[int]) -> list[list[int]]:
    """Wielandt-style exact-integer rank-1 deflation:
    ``C2 = C − (C·x)·xᵀ / (xᵀx)``, staged through X_SCALE so no product
    exceeds BIGINT — ``t_i = (C·x)_i // max(xᵀx // X_SCALE, 1)`` then
    ``C2[i][j] = C[i][j] − t_i·x_j // X_SCALE``.

    With an exact eigenvector this maps x to 0 exactly (C2·x = C·x −
    (C·x)(xᵀx)/(xᵀx)); with the 100-round approximation it leaves a
    truncation-sized residue, which is fine — both engines truncate
    identically, so the second power chain is bit-deterministic, and
    hash-parity (not numerical perfection) is the contract. Bounds:
    t_i ≤ D·|C|max·X_SCALE/|x|max ≤ D·|C|max, so the staged products
    stay < 2^63 while D·|C|max·2e6 does — holding through sf1 like the
    first chain's matvec bound (same |C|max factor)."""
    d = len(cov)
    y = [sum(cov[i][j] * x[j] for j in range(d)) for i in range(d)]
    xtx = sum(v * v for v in x)
    d0 = max(_tdiv(xtx, X_SCALE), 1)
    t = [_tdiv(v, d0) for v in y]
    return [
        [cov[i][j] - _tdiv(t[i] * x[j], X_SCALE) for j in range(d)]
        for i in range(d)
    ]


def _cov_matrix(spark: SparkSession, sf_dir: str) -> list[list[int]] | None:
    """Integer covariance from the moment relation, or None on an
    empty corpus."""
    rows = embedding_moments(spark, sf_dir).collect()
    d = EMB_DIM
    m = [[0] * d for _ in range(d)]
    s = [0] * d
    n = 0
    for r in rows:
        if r.i == -1:
            n = int(r.v)
        elif r.j == -1:
            s[r.i] = int(r.v)
        else:
            m[r.i][r.j] = int(r.v)
    if n == 0:
        return None
    return [
        [m[i][j] - _tdiv(s[i] * s[j], n) for j in range(d)]
        for i in range(d)
    ]


def principal_direction(spark: SparkSession, sf_dir: str) -> list[int]:
    """The 64 integer components (max-abs = X_SCALE) of the top
    covariance eigenvector after PCA_ITERS exact power-iteration
    rounds; EMPTY for an empty corpus (the oracle's CTE chain yields
    zero rows there — round-11 edge-sweep finding: an all-zero 64-row
    stand-in diverged from it). Driver-side on the dimension-sized
    moment matrix only — exact bigint arithmetic, so no overflow at
    any corpus size once the moments exist."""
    cov = _cov_matrix(spark, sf_dir)
    return _power_iterate(cov) if cov is not None else []


def principal_directions2(
    spark: SparkSession, sf_dir: str
) -> tuple[list[int], list[int]]:
    """(x1, x2): the top direction and the deflated second direction
    (both max-abs ~X_SCALE integer vectors); ([], []) on an empty
    corpus. One moment pass feeds both (embedding_moments is cached)."""
    cov = _cov_matrix(spark, sf_dir)
    if cov is None:
        return [], []
    x1 = _power_iterate(cov)
    x2 = _power_iterate(_deflate(cov, x1))
    return x1, x2


def _sql_cov_ctes() -> str:
    """Moment + covariance CTEs — the relational (explode + self-join)
    derivation of the same integers the Arrow kernel computes."""
    return f"""pc_q AS MATERIALIZED (
        SELECT vec_id, {sql_quant('embedding')} AS vq FROM embeddings
    ),
    pc_f AS MATERIALIZED (
        SELECT vec_id, f.i AS i, f.v AS v FROM (
            SELECT vec_id,
                   unnest(list_transform(range(1, {EMB_DIM} + 1),
                          i_ -> struct_pack(i := i_ - 1, v := vq[i_]))) AS f
            FROM pc_q
        )
    ),
    pc_n AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pc_q),
    pc_s AS MATERIALIZED (
        SELECT i, CAST(SUM(v) AS BIGINT) AS sv FROM pc_f GROUP BY i
    ),
    pc_c AS MATERIALIZED (
        SELECT a.i AS i, b.i AS j,
               CAST(SUM(a.v * b.v)
                    - (s1.sv * s2.sv) // (SELECT n FROM pc_n) AS BIGINT)
                   AS c
        FROM pc_f a
        JOIN pc_f b USING (vec_id)
        JOIN pc_s s1 ON s1.i = a.i
        JOIN pc_s s2 ON s2.i = b.i
        GROUP BY a.i, b.i, s1.sv, s2.sv
    )"""


def _sql_power_ctes(
    iters: int = PCA_ITERS, cov: str = "pc_c", prefix: str = "p"
) -> str:
    """Unrolled power-iteration CTEs over the ``cov`` (i, j, c) matrix
    CTE, ending in ``{prefix}x{iters}(i, v)``. DuckDB BIGINT ``//``
    truncates toward zero like the driver-side _tdiv, and the renorm
    guard mirrors the sc == 0 break. The prefix keeps a second
    (deflated) chain's CTE names disjoint from the first's."""
    # every CTE MATERIALIZED: px{{t}} is referenced twice per round
    # (the matvec and the zero-scale fallback) — inlined, the chain
    # re-expands exponentially and each expansion re-opens the parquet
    # view until the fd limit trips
    p = prefix
    parts = [
        f"{p}x0 AS MATERIALIZED "
        f"(SELECT i, CAST({X_SCALE} AS BIGINT) AS v FROM pc_s)"
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""{p}y{t} AS MATERIALIZED (
        SELECT c.i, CAST(SUM(c.c * x.v) AS BIGINT) AS y
        FROM {cov} c JOIN {p}x{t - 1} x ON c.j = x.i GROUP BY c.i
    ),
    {p}s{t} AS MATERIALIZED (SELECT MAX(ABS(y)) AS sc FROM {p}y{t}),
    {p}x{t} AS MATERIALIZED (
        SELECT p.i,
               CAST(CASE WHEN (SELECT sc FROM {p}s{t}) = 0 THEN x.v
                    ELSE p.y // GREATEST(
                        (SELECT sc FROM {p}s{t}) // {X_SCALE}, 1)
               END AS BIGINT) AS v
        FROM {p}y{t} p JOIN {p}x{t - 1} x ON p.i = x.i
    )"""
        )
    return ",\n    ".join(parts)


def _sql_deflate_ctes(iters: int = PCA_ITERS) -> str:
    """Deflation CTEs (:func:`_deflate` re-derived relationally) +
    the second unrolled power chain, ending in ``qx{iters}(i, v)``.
    Composes AFTER ``_sql_power_ctes()`` (needs ``px{iters}``)."""
    n = iters
    return f"""pd_y AS MATERIALIZED (
        SELECT c.i, CAST(SUM(c.c * x.v) AS BIGINT) AS y
        FROM pc_c c JOIN px{n} x ON c.j = x.i GROUP BY c.i
    ),
    pd_xtx AS MATERIALIZED (
        SELECT CAST(SUM(v * v) AS BIGINT) AS xtx FROM px{n}
    ),
    pd_t AS MATERIALIZED (
        SELECT y.i,
               CAST(y.y // GREATEST(
                   (SELECT xtx FROM pd_xtx) // {X_SCALE}, 1)
                   AS BIGINT) AS t
        FROM pd_y y
    ),
    pc_c2 AS MATERIALIZED (
        SELECT c.i AS i, c.j AS j,
               CAST(c.c - (t.t * x.v) // {X_SCALE} AS BIGINT) AS c
        FROM pc_c c
        JOIN pd_t t ON t.i = c.i
        JOIN px{n} x ON x.i = c.j
    ),
    {_sql_power_ctes(iters, cov="pc_c2", prefix="q")}"""


@register(
    "embedding_pca_top_direction",
    plan=("arrow",),  # the moment kernel
    oracle=f"""
    WITH {_sql_cov_ctes()},
    {_sql_power_ctes()}
    SELECT i, v AS x FROM px{PCA_ITERS}
    """,
    doc=(
        "top principal direction of the embedding corpus in exact "
        "integer arithmetic: milli-quantized components, one Arrow "
        "map-side-combined Gram pass (shuffle carries 4096 rows per "
        "partition, never the corpus), trunc-centered covariance, 100 "
        "driver-side bigint power-iteration rounds on the 64x64 "
        "matrix — the oracle re-derives the identical integers via "
        "explode/self-join + unrolled CTE rounds"
    ),
)
def embedding_pca_top_direction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    x = principal_direction(spark, sf_dir)
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(x)], "i int, x long"
    )


def _direction_or_zeros(spark: SparkSession, sf_dir: str) -> list[int]:
    """Projection form of the direction: zeros stand in on an empty
    corpus so the outlier query's fold stays well-typed (it projects
    zero rows anyway)."""
    x = principal_direction(spark, sf_dir)
    return x if x else [0] * EMB_DIM


@register(
    "embedding_pca_outliers",
    plan=("arrow", "scalar_cross"),  # moment kernel + 1-row mean bcast
    oracle=f"""
    WITH {_sql_cov_ctes()},
    {_sql_power_ctes()},
    pj AS MATERIALIZED (
        SELECT f.vec_id, CAST(SUM(f.v * x.v) AS BIGINT) AS p
        FROM pc_f f JOIN px{PCA_ITERS} x ON f.i = x.i
        GROUP BY f.vec_id
    ),
    pm AS (SELECT CAST(SUM(p) // COUNT(*) AS BIGINT) AS mean_p FROM pj)
    SELECT vec_id, p AS proj, CAST(p - (SELECT mean_p FROM pm) AS BIGINT)
               AS dev
    FROM pj
    ORDER BY ABS(p - (SELECT mean_p FROM pm)) DESC, vec_id
    LIMIT 20
    """,
    doc=(
        "spectral outliers: every embedding's projection onto the "
        "exact-integer principal direction (one map-only fold per "
        "row), top-20 deviations from the 1-row-broadcast mean "
        "projection — the PCA-based drift/outlier screen a curation "
        "pipeline runs before trusting an embedding batch"
    ),
)
def embedding_pca_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    x = _direction_or_zeros(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    pj = emb.selectExpr("vec_id", f"{ss_proj('embedding', x)} AS p")
    mean_p = pj.agg(F.expr("sum(p) div count(1) AS mean_p"))
    return (
        pj.crossJoin(F.broadcast(mean_p))
        .selectExpr(
            "vec_id",
            "p AS proj",
            "CAST(p - mean_p AS BIGINT) AS dev",
        )
        .orderBy(F.expr("abs(dev)").desc(), F.asc("vec_id"))
        .limit(20)
    )


@register(
    "embedding_pca_top2_directions",
    plan=("arrow",),  # the moment kernel
    oracle=f"""
    WITH {_sql_cov_ctes()},
    {_sql_power_ctes()},
    {_sql_deflate_ctes()}
    SELECT a.i, a.v AS x1, b.v AS x2
    FROM px{PCA_ITERS} a JOIN qx{PCA_ITERS} b ON a.i = b.i
    """,
    doc=(
        "top-2 principal directions in exact integer arithmetic "
        "(round 12, VERDICT r11 #8): the first chain's direction plus "
        "a Wielandt-deflated second chain — C2 = C − (C·x1)·x1ᵀ/(x1ᵀx1) "
        "staged through X_SCALE divisions so every product stays in "
        "BIGINT, then the same 100 power rounds on C2; the oracle "
        "re-derives both chains as unrolled MATERIALIZED CTEs"
    ),
)
def embedding_pca_top2_directions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    x1, x2 = principal_directions2(spark, sf_dir)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(zip(x1, x2))],
        "i int, x1 long, x2 long",
    )


@register(
    "embedding_pca_outliers2d",
    plan=("arrow", "scalar_cross"),  # moment kernel + 1-row mean bcast
    oracle=f"""
    WITH {_sql_cov_ctes()},
    {_sql_power_ctes()},
    {_sql_deflate_ctes()},
    pj2 AS MATERIALIZED (
        SELECT f.vec_id,
               CAST(SUM(f.v * a.v) AS BIGINT) AS p1,
               CAST(SUM(f.v * b.v) AS BIGINT) AS p2
        FROM pc_f f
        JOIN px{PCA_ITERS} a ON f.i = a.i
        JOIN qx{PCA_ITERS} b ON f.i = b.i
        GROUP BY f.vec_id
    ),
    pm2 AS (
        SELECT CAST(SUM(p1) // COUNT(*) AS BIGINT) AS m1,
               CAST(SUM(p2) // COUNT(*) AS BIGINT) AS m2
        FROM pj2
    )
    SELECT vec_id,
           CAST(p1 - (SELECT m1 FROM pm2) AS BIGINT) AS dev1,
           CAST(p2 - (SELECT m2 FROM pm2) AS BIGINT) AS dev2
    FROM pj2
    ORDER BY GREATEST(ABS(p1 - (SELECT m1 FROM pm2)),
                      ABS(p2 - (SELECT m2 FROM pm2))) DESC, vec_id
    LIMIT 20
    """,
    doc=(
        "2-D spectral outliers (round 12, VERDICT r11 #8): every "
        "embedding's projections onto BOTH exact-integer principal "
        "directions in one map-only fold, top-20 by the larger "
        "absolute deviation from the per-direction mean projection — "
        "outliers hiding orthogonal to the top direction (invisible "
        "to the 1-D screen) surface through the deflated second axis"
    ),
)
def embedding_pca_outliers2d(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    x1, x2 = principal_directions2(spark, sf_dir)
    if not x1:
        x1 = x2 = [0] * EMB_DIM  # projects zero rows anyway
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )

    pj = emb.selectExpr(
        "vec_id",
        f"{ss_proj('embedding', x1)} AS p1",
        f"{ss_proj('embedding', x2)} AS p2",
    )
    means = pj.agg(
        F.expr("sum(p1) div count(1) AS m1"),
        F.expr("sum(p2) div count(1) AS m2"),
    )
    return (
        pj.crossJoin(F.broadcast(means))
        .selectExpr(
            "vec_id",
            "CAST(p1 - m1 AS BIGINT) AS dev1",
            "CAST(p2 - m2 AS BIGINT) AS dev2",
        )
        .orderBy(
            F.expr("greatest(abs(dev1), abs(dev2))").desc(),
            F.asc("vec_id"),
        )
        .limit(20)
    )
