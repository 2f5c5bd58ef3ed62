"""Binary (sign-quantized) embedding ANN — the memory-extreme end of
the quantization ladder next to int8 and PQ. Like every flavor of the
ANN family it owns only candidate scoring (Hamming over sign codes);
the query side, top-k and recall come from ``operators/anncore.py``.

Sign-quantizing a float embedding to one bit per dimension (bit d set
iff v[d] > 0) compresses a 64-dim float vector from 256 B to 8 B —
32× — and turns similarity into Hamming distance over two BIGINT
halves: two ``bit_count(xor(..))`` instructions per comparison instead
of a 64-element float fold. At the 100 TB design point this is the
serving form whose ENTIRE code table fits in cluster memory when the
float table cannot (the same argument as PQ codes, one step further
down the fidelity axis), and brute force over codes is itself the
baseline: 5 queries × n code rows is a broadcast cross join Catalyst
keeps linear in the corpus.

For random-hyperplane-ish embeddings, sign bits approximate angular
similarity (Charikar 2002: P[bit agrees] = 1 − θ/π per dimension), so
Hamming rank ≈ cosine rank — and like every approximate path here the
approximation ships with its own oracle-checked recall query against
exact float cosine, not a claim.

North-star extension (no reference analogue; nearest is mllib vector
handling, ``nlp/PrepData.scala:60``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.cacheutil import tracked_cache
from algorithmproject_spark_spark.functions.vectors import EMB_DIM
from algorithmproject_spark_spark.operators.anncore import (
    N_QUERIES,
    TOP_K,
    candidate_pairs,
    query_side,
    recall_at_k,
    topk,
)
from algorithmproject_spark_spark.queries.similarity import knn_bruteforce_cosine
from algorithmproject_spark_spark.registry import REGISTRY, register
from algorithmproject_spark_spark.sources.catalog import load_table

_HALF = EMB_DIM // 2  # bits per BIGINT half (64-dim → 32+32)

# bind the embedding once; both halves read it through the lambda
# variable (CollapseProject would otherwise inline the array reference
# into every bit test)
_PACK = (
    "element_at(transform(array(embedding), v -> struct("
    f"aggregate(sequence(0, {_HALF - 1}), cast(0 as bigint), (acc, d) -> acc"
    " + if(element_at(v, d + 1) > 0, shiftleft(cast(1 as bigint), d),"
    " cast(0 as bigint))) as b_lo, "
    f"aggregate(sequence({_HALF}, {EMB_DIM - 1}), cast(0 as bigint),"
    " (acc, d) -> acc + if(element_at(v, d + 1) > 0,"
    f" shiftleft(cast(1 as bigint), d - {_HALF}),"
    " cast(0 as bigint))) as b_hi)), 1)"
)

_SQL_CODES = f"""
    SELECT vec_id, label,
           CAST(list_sum(list_transform(range(0, {_HALF}),
               d_ -> CASE WHEN embedding[d_ + 1] > 0
                          THEN (CAST(1 AS BIGINT) << d_) ELSE 0 END))
               AS BIGINT) AS b_lo,
           CAST(list_sum(list_transform(range({_HALF}, {EMB_DIM}),
               d_ -> CASE WHEN embedding[d_ + 1] > 0
                          THEN (CAST(1 AS BIGINT) << (d_ - {_HALF})) ELSE 0 END))
               AS BIGINT) AS b_hi
    FROM embeddings
"""


def binary_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, b_lo, b_hi) — cached: the top-k query probes it
    as both the query side and the corpus side."""
    emb = load_table(spark, sf_dir, "embeddings")
    packed = emb.select("vec_id", "label", F.expr(_PACK).alias("p")).select(
        "vec_id",
        "label",
        F.col("p.b_lo").alias("b_lo"),
        F.col("p.b_hi").alias("b_hi"),
    )
    return tracked_cache(packed)


@register(
    "embedding_binary_codes",
    oracle=_SQL_CODES,
    doc=(
        "sign-quantized binary embedding codes: bit d = v[d] > 0, "
        f"{EMB_DIM} dims packed into two BIGINT halves — 32× smaller "
        "than the float table, map-only, the Hamming-ANN serving form"
    ),
)
def embedding_binary_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return binary_codes(spark, sf_dir)


_BIN_TOPK_SQL = f"""
    WITH c AS ({_SQL_CODES}),
    q AS (
        SELECT vec_id AS q_id, b_lo AS q_lo, b_hi AS q_hi FROM c
        WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
        SELECT q.q_id, e.vec_id AS neighbor_id,
               CAST(bit_count(xor(q.q_lo, e.b_lo))
                  + bit_count(xor(q.q_hi, e.b_hi)) AS BIGINT) AS hamming
        FROM q CROSS JOIN c e
        WHERE e.vec_id <> q.q_id
    )
    SELECT q_id, neighbor_id, hamming, rk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY hamming, neighbor_id
        ) AS rk FROM scored
    ) WHERE rk <= {TOP_K}
    """


@register(
    "ann_binary_hamming_topk",
    plan=("scalar_cross",),
    oracle=_BIN_TOPK_SQL,
    doc=(
        "binary-embedding ANN: Hamming top-k over sign codes — two "
        "bit_count(xor) per comparison, broadcast query side, corpus "
        "side stays partitioned; the 32×-compressed serving path"
    ),
)
def ann_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = binary_codes(spark, sf_dir)
    q = query_side(c, "b_lo AS q_lo", "b_hi AS q_hi")
    scored = candidate_pairs(c, q).selectExpr(
        "q_id",
        "vec_id AS neighbor_id",
        "CAST(bit_count(q_lo ^ b_lo) + bit_count(q_hi ^ b_hi) AS BIGINT) AS hamming",
    )
    return topk(scored, "hamming")


_BF_SQL = REGISTRY["knn_bruteforce_cosine"].oracle


@register(
    "ann_binary_recall",
    plan=("scalar_cross",),
    oracle=f"""
    WITH bin AS ({_BIN_TOPK_SQL}),
    bf AS ({_BF_SQL})
    SELECT bf.q_id, count(bin.neighbor_id) AS n_hits,
           count(*) AS k
    FROM bf LEFT JOIN bin
      ON bf.q_id = bin.q_id AND bf.neighbor_id = bin.neighbor_id
    GROUP BY bf.q_id
    """,
    doc=(
        "recall@k of the binary-Hamming ANN path vs exact float-cosine "
        "brute-force top-k, per query — the 32× compression ships with "
        "its measured fidelity cost"
    ),
)
def ann_binary_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return recall_at_k(
        ann_binary_hamming_topk(spark, sf_dir),
        knn_bruteforce_cosine(spark, sf_dir),
        "bin",
    )
