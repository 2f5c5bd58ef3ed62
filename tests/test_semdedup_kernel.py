"""The blocked exact-gram Arrow kernel (round 9) must reproduce the
pair-join + per-pair fold formulation it replaced — including the
degenerate shapes the residual split cannot break (identical vectors)
and zero-norm vectors (NaN cosine → never dropped, both forms)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Row, functions as F

from algorithmproject_spark_spark.functions.numeric import ss_micros
from algorithmproject_spark_spark.functions.vectors import ss_dot, ss_norm
from algorithmproject_spark_spark.queries.llmprep import (
    SEMDEDUP_COS_E6,
    _semdedup_drop_ids,
)


def _mk(spark, vecs):
    rows = [
        Row(vec_id=i, cell=c, subcell=s, we=[float(x) for x in v])
        for i, (c, s, v) in enumerate(vecs)
    ]
    return spark.createDataFrame(rows).withColumn("nrm", F.expr(ss_norm("we")))


def _pairjoin_drops(cs):
    a = cs.select(
        F.col("vec_id").alias("a_id"), F.col("we").alias("a_we"),
        F.col("nrm").alias("a_n"), "cell", "subcell",
    )
    b = cs.select(
        F.col("vec_id").alias("b_id"), F.col("we").alias("b_we"),
        F.col("nrm").alias("b_n"), "cell", "subcell",
    )
    return {
        r.vec_id
        for r in (
            a.join(b, ["cell", "subcell"])
            .filter(F.col("a_id") < F.col("b_id"))
            .filter(
                F.expr(ss_micros(f"{ss_dot('a_we', 'b_we')} / (a_n * b_n)"))
                >= SEMDEDUP_COS_E6
            )
            .select(F.col("b_id").alias("vec_id"))
            .distinct()
            .collect()
        )
    }


def _kernel_drops(cs):
    return {
        r.vec_id
        for r in cs.select("vec_id", "we", "nrm", "cell", "subcell")
        .groupBy("cell", "subcell")
        .applyInPandas(_semdedup_drop_ids, schema="vec_id long")
        .collect()
    }


@pytest.mark.parametrize("seed", [7, 23])
def test_kernel_matches_pair_join_random(spark, seed):
    rng = random.Random(seed)
    dim = 8
    vecs = []
    # random spread across 3 cells / 2 subcells, plus planted near-dups
    for _ in range(60):
        vecs.append(
            (
                rng.randrange(3),
                rng.randrange(2),
                [rng.uniform(-1, 1) for _ in range(dim)],
            )
        )
    # planted exact duplicates in one group (the residual split cannot
    # separate them — the kernel's blocked path must still handle it)
    base = [0.5] * dim
    for _ in range(5):
        vecs.append((0, 0, list(base)))
    cs = _mk(spark, vecs)
    assert _kernel_drops(cs) == _pairjoin_drops(cs)


def test_kernel_zero_norm_never_drops(spark):
    """Zero-norm vectors: cosine is NaN; DuckDB's CAST(floor(NaN) AS
    BIGINT) is NULL so the oracle KEEPS the row — the kernel's NaN >=
    threshold -> False matches that. (The replaced pair-join form was
    the divergent one: Spark's ANSI NaN->long cast in micros() threw,
    so zero-norm embeddings crashed one engine and passed the other —
    the kernel fixed a latent edge divergence.)"""
    vecs = [(0, 0, [0.0] * 8), (0, 0, [0.0] * 8), (0, 0, [1.0] * 8)]
    cs = _mk(spark, vecs)
    assert _kernel_drops(cs) == set()
    import pytest as _pytest

    with _pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        _pairjoin_drops(cs)


def test_kernel_blocking_boundary(monkeypatch):
    """Force the block size below the group size so the blocked path
    (lo > 0) executes — called directly on a pandas frame (a Spark
    monkeypatch would not reach executor worker processes); drop set
    must match a plain-Python reference."""
    import math

    import numpy as np
    import pandas as pd

    import algorithmproject_spark_spark.queries.llmprep as llm

    rng = random.Random(11)
    vecs = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(30)]
    vecs += [[0.9] * 8 for _ in range(4)]
    nrm = [math.sqrt(sum(x * x for x in v)) for v in vecs]

    def ref_drops():
        out = set()
        for j in range(len(vecs)):
            for i in range(j):
                dot = 0.0
                for d in range(8):
                    dot += vecs[i][d] * vecs[j][d]
                if math.floor(dot / (nrm[i] * nrm[j]) * 1e6 + 0.5) >= (
                    SEMDEDUP_COS_E6
                ):
                    out.add(j)
                    break
        return out

    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(len(vecs), dtype="int64"),
            "we": [np.array(v) for v in vecs],
            "nrm": np.array(nrm),
        }
    )
    monkeypatch.setattr(llm, "_SEMDEDUP_GRAM_BLOCK", 7)
    got = set(llm._semdedup_drop_ids(pdf)["vec_id"])
    assert got == ref_drops()
