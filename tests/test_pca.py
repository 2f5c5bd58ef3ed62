"""Exact-integer PCA operator (operators/pca.py): kernel vs relational
moments, eigensolve sanity against numpy, determinism, empty guard."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from algorithmproject_spark_spark.functions.numeric import tdiv
from algorithmproject_spark_spark.operators.pca import (
    EMB_DIM,
    PCA_ITERS,
    Q_SCALE,
    X_SCALE,
    embedding_moments,
    principal_direction,
)
from algorithmproject_spark_spark.queries import REGISTRY
from algorithmproject_spark_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def test_moments_match_numpy(spark):
    """The Arrow Gram kernel's aggregated moments equal a direct numpy
    recomputation of the quantized corpus."""
    emb = load_table(spark, SF, "embeddings").select("embedding").collect()
    v = np.asarray([np.asarray(r.embedding, dtype="float64") for r in emb])
    q = np.floor(v * Q_SCALE + 0.5).astype("int64")
    rows = embedding_moments(spark, SF).collect()
    got_m = {}
    got_s = {}
    got_n = None
    for r in rows:
        if r.i == -1:
            got_n = r.v
        elif r.j == -1:
            got_s[r.i] = r.v
        else:
            got_m[(r.i, r.j)] = r.v
    assert got_n == len(q)
    ref_m = q.T @ q
    ref_s = q.sum(axis=0)
    assert all(got_s[i] == ref_s[i] for i in range(EMB_DIM))
    assert all(
        got_m[(i, j)] == ref_m[i, j]
        for i in range(EMB_DIM)
        for j in range(EMB_DIM)
    )


def test_principal_direction_aligns_with_numpy_eigenvector(spark):
    """The integer power iteration lands within a degree of numpy's
    top covariance eigenvector (direction up to sign)."""
    x = np.asarray(principal_direction(spark, SF), dtype="float64")
    assert np.max(np.abs(x)) == X_SCALE  # renormalized fixed point
    emb = load_table(spark, SF, "embeddings").select("embedding").collect()
    v = np.asarray([np.asarray(r.embedding, dtype="float64") for r in emb])
    q = np.floor(v * Q_SCALE + 0.5)
    c = np.cov(q.T, bias=True)
    w, vecs = np.linalg.eigh(c)
    top = vecs[:, -1]
    cosine = abs(np.dot(x, top)) / (
        np.linalg.norm(x) * np.linalg.norm(top)
    )
    assert cosine > 0.99


def test_pca_queries_deterministic_and_consistent(spark):
    a = [tuple(r) for r in REGISTRY["embedding_pca_top_direction"].fn(spark, SF).collect()]
    b = [tuple(r) for r in REGISTRY["embedding_pca_top_direction"].fn(spark, SF).collect()]
    assert a == b and len(a) == EMB_DIM
    out = REGISTRY["embedding_pca_outliers"].fn(spark, SF).collect()
    assert len(out) == 20
    devs = [abs(r.dev) for r in out]
    assert devs == sorted(devs, reverse=True)


def test_empty_corpus_guard(spark):
    empty = (
        load_table(spark, SF, "embeddings")
        .filter(F.lit(False))
        .select("embedding")
    )
    from algorithmproject_spark_spark.operators.pca import _moment_batches

    import pandas as pd

    pdf = empty.toPandas()
    parts = list(_moment_batches(iter([pdf])))
    assert len(parts) == 1
    n_row = parts[0][(parts[0].i == -1) & (parts[0].j == -1)]
    assert int(n_row.v.iloc[0]) == 0
    assert tdiv(-7, 2) == -3 and tdiv(7, -2) == -3 and tdiv(-7, -2) == 3


def test_iters_constant_matches_oracle_unroll():
    """The oracle unrolls PCA_ITERS rounds; the registered SQL must
    reference the final px CTE of that exact depth."""
    sql = REGISTRY["embedding_pca_top_direction"].oracle
    assert f"px{PCA_ITERS}" in sql
    assert f"px{PCA_ITERS + 1}" not in sql


def test_second_direction_deflated_and_orthogonal(spark):
    """Round 12 (VERDICT r11 #8): the deflated second chain lands a
    direction (a) essentially orthogonal to the first and (b) aligned
    with numpy's second covariance eigenvector — on the near-isotropic
    fixture (λ2/λ1 ≈ 0.99, λ3/λ2 ≈ 0.98) loose alignment is expected;
    orthogonality to x1 is the property deflation must guarantee."""
    from algorithmproject_spark_spark.operators.pca import (
        _cov_matrix,
        principal_directions2,
    )

    x1, x2 = principal_directions2(spark, SF)
    assert len(x1) == EMB_DIM and len(x2) == EMB_DIM
    a1 = np.asarray(x1, dtype="float64")
    a2 = np.asarray(x2, dtype="float64")
    a1 /= np.linalg.norm(a1)
    a2 /= np.linalg.norm(a2)
    assert abs(a1 @ a2) < 0.05  # deflation removed the first component
    cov = np.asarray(_cov_matrix(spark, SF), dtype="float64")
    w, v = np.linalg.eigh(cov)
    assert abs(a2 @ v[:, -2]) > 0.6  # second axis, up to the tiny gap


def test_top2_queries_shape_and_order(spark):
    rows = [
        tuple(r)
        for r in REGISTRY["embedding_pca_top2_directions"]
        .fn(spark, SF)
        .collect()
    ]
    assert len(rows) == EMB_DIM
    # x1 column must equal the single-direction query's x
    x1 = {
        r.i: r.x
        for r in REGISTRY["embedding_pca_top_direction"].fn(spark, SF).collect()
    }
    assert all(r[1] == x1[r[0]] for r in rows)
    out = REGISTRY["embedding_pca_outliers2d"].fn(spark, SF).collect()
    assert len(out) == 20
    scores = [max(abs(r.dev1), abs(r.dev2)) for r in out]
    assert scores == sorted(scores, reverse=True)


def test_deflate_exact_eigenvector_maps_to_zeroish():
    """On a small integer matrix with an EXACT integer eigenvector the
    deflated matrix sends that vector to (truncation-sized) zero."""
    from algorithmproject_spark_spark.operators.pca import _deflate

    # diag(5e6, 2e6, 1e6) — e1 is an exact eigenvector
    c = [
        [5_000_000, 0, 0],
        [0, 2_000_000, 0],
        [0, 0, 1_000_000],
    ]
    x = [1_000_000, 0, 0]
    c2 = _deflate(c, x)
    y = [sum(c2[i][j] * x[j] for j in range(3)) for i in range(3)]
    # C2·x is ~0 relative to C·x (5e12): truncation leaves < 1e-3 of it
    assert all(abs(v) <= 5_000_000_000 for v in y)
    # the untouched orthogonal eigenvalues survive deflation
    assert c2[1][1] == 2_000_000 and c2[2][2] == 1_000_000
