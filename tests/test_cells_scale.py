"""Scale-adaptive cell counts: ``cells_for`` must keep the within-cell
candidate volume LINEAR in the corpus, which is the whole point of
growing the IVF/SemDeDup cell count with n (a pinned k makes the
within-cell join O(n²/k) — the exact blow-up this guards against)."""

from __future__ import annotations

from pyspark.sql import functions as F

from algorithmproject_spark_spark.operators.annivf import (
    K_CELLS,
    cells_for,
    centroids_for,
    ss_cell,
    ss_probe_cells,
)

TARGET = 50


def _synthetic_embeddings(spark, n: int):
    # deterministic dim-64 pseudo-embeddings in (-1, 1), no randomness
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                F.sin(F.col("id") * F.lit(0.7718 * (j + 1)) + F.lit(float(j)))
                for j in range(64)
            ]
        ).alias("embedding"),
    )


def _cell_sizes(spark, n: int) -> list[int]:
    k = cells_for(n, TARGET)
    df = (
        _synthetic_embeddings(spark, n)
        .select(F.expr(ss_cell("embedding", k)).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return [r["n"] for r in df.collect()]


def test_cells_for_sizing():
    assert cells_for(400, 50) == 8
    assert cells_for(1600, 50) == 32
    assert cells_for(0, 50) == 1
    # 100 TB arithmetic: 1e9 vectors at the default target → ~4M cells,
    # a per-cell membership that never grows with the corpus
    assert cells_for(10**9) == -(-(10**9) // 256)


def test_centroid_pool_prefix_stable():
    # scaling k must never move the first K_CELLS centroids — the
    # registered queries' static oracles pin that exact set
    first = centroids_for(K_CELLS)
    widened = centroids_for(64)
    assert widened[:K_CELLS] == first


def test_candidate_volume_stays_linear(spark):
    small = _cell_sizes(spark, 400)
    big = _cell_sizes(spark, 1600)
    # cell sizes stay O(target) as n grows 4×...
    assert max(small) <= 4 * TARGET
    assert max(big) <= 4 * TARGET
    # ...so Σ size² (the within-cell join volume) grows ~linearly:
    # adaptive-k measured ≈ 4.4× here; a pinned k=8 would give ~16×
    ratio = sum(s * s for s in big) / sum(s * s for s in small)
    assert ratio < 8.0, ratio


def test_probe_clamps_to_the_cells_there_are(spark):
    # cells_for(n) is 1 for any corpus of <= TARGET_CELL_SIZE vectors;
    # probing NPROBE > k cells must return the k there are, not raise
    # INVALID_ARRAY_INDEX_IN_ELEMENT_AT under ANSI
    df = _synthetic_embeddings(spark, 3)
    got = df.select(F.expr(ss_probe_cells("embedding", 1)).alias("p")).collect()
    assert [r.p for r in got] == [[0], [0], [0]]
