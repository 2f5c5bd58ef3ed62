"""The shared core of the ANN family: candidates → exact rerank → top-k.

Every similarity-search flavor answers one contract: the query set is
``vec_id < N_QUERIES`` and each query gets its ``TOP_K`` neighbors,
ranked by (score, neighbor_id). A flavor owns only its candidate
generation — LSH buckets (``operators/annlsh.py``), IVF cells
(``operators/annivf.py``), PQ codes with ADC (``operators/annpq.py``),
sign codes with Hamming (``queries/annbinary.py``) or the whole corpus
(``queries/similarity.py``). Ranking is shared: the broadcast query
side, the self-pair drop, the exact cosine rerank, the deterministic
top-k (``core.topk_per_group``) and recall@k against the exact list.
This is the split Incremental Top-K Similarity Search (EDBT 2020) and
Continuously Adaptive Similarity Search (SIGMOD 2020) build on.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from algorithmproject_spark_spark.functions.numeric import ss_micros
from algorithmproject_spark_spark.functions.vectors import ss_cosine
from algorithmproject_spark_spark.operators.core import topk_per_group

N_QUERIES = 5
TOP_K = 3


def query_side(df: DataFrame, *cols: str) -> DataFrame:
    """The query set ``vec_id < N_QUERIES`` as ``q_id`` plus the
    flavor's own columns (SQL text: ``"embedding AS q_emb"``, a probe
    key, a code). Bounded by construction, so it is always broadcast."""
    return df.filter(f"vec_id < {N_QUERIES}").selectExpr("vec_id AS q_id", *cols)


def candidate_pairs(
    corpus: DataFrame, q: DataFrame, key: str | Sequence[str] | None = None
) -> DataFrame:
    """Corpus rows joined to the broadcast query side — an equi-join on
    ``key`` (bucket, cell, PQ subspace code) or, with no key, a cross
    join — minus each query's pair with itself. The corpus side stays
    partitioned, which is what keeps this linear at any corpus size."""
    pairs = (
        corpus.join(F.broadcast(q), key)
        if key is not None
        else corpus.crossJoin(F.broadcast(q))
    )
    return pairs.filter("vec_id != q_id")


def topk(scored: DataFrame, score: str, descending: bool = False) -> DataFrame:
    """``TOP_K`` rows per ``q_id`` of (q_id, neighbor_id, score) by
    ``score``, ties to the smaller ``neighbor_id``; adds ``rk``."""
    order = F.desc(score) if descending else F.asc(score)
    return topk_per_group(scored, "q_id", [order, F.asc("neighbor_id")], TOP_K)


def cosine_topk(
    corpus: DataFrame,
    q: DataFrame,
    key: str | None = None,
    emb: str = "embedding",
) -> DataFrame:
    """Exact rerank of the candidate join: (q_id, neighbor_id,
    cosine_e6, rk), the top ``TOP_K`` by integer micros of the cosine
    between ``q_emb`` and the corpus vector ``emb``."""
    scored = candidate_pairs(corpus, q, key).selectExpr(
        "q_id",
        "vec_id AS neighbor_id",
        f"{ss_micros(ss_cosine('q_emb', emb))} AS cosine_e6",
    )
    return topk(scored, "cosine_e6", descending=True)


def recall_at_k(approx: DataFrame, exact: DataFrame, tag: str) -> DataFrame:
    """recall@k per query, (q_id, n_hits, k): how many of the exact
    list's neighbors the approximate list also returned. The exact list
    drives the join, so a query whose approximate list is empty still
    reads (q_id, 0, k). ``tag`` names the hit column ``<tag>_neighbor``."""
    hit_col = f"{tag}_neighbor"
    a = approx.select("q_id", F.col("neighbor_id").alias(hit_col))
    bf = exact.select("q_id", "neighbor_id")
    hit = bf.join(
        a, (bf.q_id == a.q_id) & (bf.neighbor_id == a[hit_col]), "left"
    ).select(bf.q_id, a[hit_col])
    return hit.groupBy("q_id").agg(
        F.count(hit_col).alias("n_hits"), F.count(F.lit(1)).alias("k")
    )
