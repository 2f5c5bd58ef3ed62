"""SemDeDup oversized-cell split (r7): per-group pair work stays
bounded when the coarse quantizer is skewed — the registered K is
pinned, so a pathological embedding distribution could drive one cell
to O(n) and the within-cell join to O(n²) without the split."""

from __future__ import annotations

import random

from pyspark.sql import functions as F


def _skewed_embeddings(spark, n=400, dim=64, seed=7):
    """Vectors clustered tightly around ONE direction (plus sign-diverse
    noise) so the coarse quantizer assigns (nearly) all of them to the
    same cell — the skew regime the cap exists for."""
    rng = random.Random(seed)
    base = [rng.uniform(-1.0, 1.0) for _ in range(dim)]
    rows = []
    for i in range(n):
        vec = [b + rng.uniform(-0.05, 0.05) for b in base]
        rows.append((i, vec))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_subcell_split_bounds_group_sizes(spark):
    from algorithmproject_spark_spark.functions.vectors import ss_norm, ss_to_double
    from algorithmproject_spark_spark.operators.annivf import K_CELLS, ss_cell
    from algorithmproject_spark_spark.queries.llmprep import semdedup_subcells

    emb = _skewed_embeddings(spark)
    cn = emb.select(
        "vec_id",
        F.expr(ss_cell("embedding", K_CELLS)).alias("cell"),
        F.expr(ss_to_double("embedding")).alias("we"),
    ).withColumn("nrm", F.expr(ss_norm("we")))
    # the fixture really is skewed: one cell holds everything
    cell_sizes = {r["cell"]: r["n"] for r in cn.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert max(cell_sizes.values()) == 400

    cap = 32
    cs = semdedup_subcells(cn, cell_cap=cap)
    groups = [
        r["n"]
        for r in cs.groupBy("cell", "subcell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    # ceil(400/32) = 13 sub-cells; the residual-parity code over ±0.05 noise
    # (≈100 quantization steps of spread per dim) splits near-uniformly. Bound the max
    # group at 3x the cap (deterministic for the seeded fixture) —
    # without the split it would be 400.
    assert len(groups) >= 10
    assert max(groups) <= 3 * cap
    assert sum(groups) == 400


def test_cap_inactive_below_threshold_preserves_output(spark):
    """With every cell at or under the cap the subcell is identically 0
    and the query output equals the pre-split semantics (all pairs in
    a cell compared)."""
    from algorithmproject_spark_spark.functions.vectors import ss_norm, ss_to_double
    from algorithmproject_spark_spark.operators.annivf import K_CELLS, ss_cell
    from algorithmproject_spark_spark.queries.llmprep import semdedup_subcells

    emb = _skewed_embeddings(spark, n=50)
    cn = emb.select(
        "vec_id",
        F.expr(ss_cell("embedding", K_CELLS)).alias("cell"),
        F.expr(ss_to_double("embedding")).alias("we"),
    ).withColumn("nrm", F.expr(ss_norm("we")))
    cs = semdedup_subcells(cn, cell_cap=512)
    assert cs.filter(F.col("subcell") != 0).count() == 0
