"""Sparse posting-join similarity (queries/sparsesim.py), corpus
drift (queries/drift.py), and the exact-ppm helper they rest on."""

from __future__ import annotations

from pyspark.sql import functions as F

from algorithmproject_spark_spark.functions.numeric import ss_ppm
from algorithmproject_spark_spark.queries.drift import token_drift
from algorithmproject_spark_spark.queries.sparsesim import sparse_topk_pairs


def test_ppm_matches_naive_and_survives_huge_counts(spark):
    rows = [
        (1, 3),
        (333, 1000),
        (999_999, 1_000_000),
        # counts where the naive c*1e6 wraps BIGINT (c > 9.2e12):
        (10_000_000_000_000, 30_000_000_000_000),
        (9_000_000_000_000_000, 9_100_000_000_000_000),
    ]
    df = spark.createDataFrame(rows, ["c", "n"])
    out = [
        (r.c, r.n, r.p)
        for r in df.select("c", "n", F.expr(ss_ppm("c", "n")).alias("p")).collect()
    ]
    for c, n, p in out:
        assert p == c * 1_000_000 // n  # python ints never overflow


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )


def test_sparse_topk_finds_the_shared_bigram_pair(spark):
    # docs 0 and 1 share the bigram "red fox" (df=2, in band); "a b"
    # appears in every doc (df=4 > max_df=3, excluded); doc 3 shares
    # nothing in-band
    docs = _docs(spark, [
        "a b red fox one",
        "a b red fox two",
        "a b different things here",
        "a b unrelated text now",
    ])
    out = sparse_topk_pairs(docs, max_df=3, top_k=2).collect()
    pairs = {(r.doc_a, r.doc_b) for r in out}
    assert (0, 1) in pairs and (1, 0) in pairs
    assert all(r.doc_a in (0, 1) for r in out)
    for r in out:
        assert r.n_shared >= 1 and r.dot_e6 > 0 and r.rank == 1


def test_sparse_topk_rank_is_deterministic_and_capped(spark):
    # doc 0 shares one bigram with each of 1,2,3 with equal weights —
    # ties must break on doc_b ascending and respect top_k
    docs = _docs(spark, [
        "p q r s t u",
        "p q x1 y1 z1 w1",
        "r s x2 y2 z2 w2",
        "t u x3 y3 z3 w3",
    ])
    out = sorted(
        ((r.doc_a, r.rank), r.doc_b)
        for r in sparse_topk_pairs(docs, max_df=3, top_k=2).collect()
        if r.doc_a == 0
    )
    assert [b for (_, b) in out] == [1, 2]  # doc_b tiebreak, k=2 cap


def test_token_drift_exact_on_handmade_split(spark):
    # doc_ids 0..3: hash_mod(doc_id, 2) puts some docs per side; verify
    # against a python recomputation of the exact ppm arithmetic
    from algorithmproject_spark_spark.functions.numeric import (
        HASH_MULT,
        HASH_REDUCE,
    )

    texts = ["x x y", "x z", "y y z", "x y z q"]
    docs = _docs(spark, texts)
    side = {i: ((i % HASH_REDUCE) * HASH_MULT) % 2 for i in range(len(texts))}
    ca, cb = {}, {}
    for i, t in enumerate(texts):
        for tok in t.split():
            (ca if side[i] == 0 else cb)[tok] = (
                (ca if side[i] == 0 else cb).get(tok, 0) + 1
            )
    na, nb = sum(ca.values()), sum(cb.values())
    want = {
        tok: abs(
            ca.get(tok, 0) * 1_000_000 // na - cb.get(tok, 0) * 1_000_000 // nb
        )
        for tok in set(ca) | set(cb)
    }
    out = {r.tok: r.drift_ppm for r in token_drift(docs, top_n=10).collect()}
    assert out == want
