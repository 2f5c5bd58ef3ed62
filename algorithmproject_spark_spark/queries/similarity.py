"""Similarity search over embeddings — north-star extension (no
reference analogue; nearest is mllib vector handling,
``nlp/PrepData.scala:60``).

Brute-force cosine top-k is the correctness baseline: query set ×
corpus via broadcast of the (small) query side, sequential-fold dot
products (bit-identical cross-engine), deterministic ranking. The
LSH-bucketed variant (operators/similarity.py) is the 100 TB path —
same output contract on the probed buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from algorithmproject_spark_spark.functions.numeric import sql_micros, ss_micros
from algorithmproject_spark_spark.functions.vectors import (
    sql_cosine,
    ss_cosine,
    ss_norm,
    ss_to_double,
)
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

N_QUERIES = 5
TOP_K = 3


@register(
    "embedding_norms",
    oracle=f"""
    SELECT vec_id, label,
           {sql_micros("sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(embedding, x_ -> CAST(x_ AS DOUBLE) * CAST(x_ AS DOUBLE))), (acc_, v_) -> acc_ + v_))")} AS norm_e6
    FROM embeddings
    """,
    doc="L2 norms via sequential fold (bit-identical cross-engine)",
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from algorithmproject_spark_spark.functions.vectors import ss_norm, ss_to_double

    emb = load_table(spark, sf_dir, "embeddings")
    norm = ss_norm(ss_to_double("embedding"))
    return emb.select("vec_id", "label", F.expr(ss_micros(norm)).alias("norm_e6"))


@register(
    "knn_bruteforce_cosine",
    plan=("scalar_cross",),
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.q_id, e.vec_id AS neighbor_id,
               {sql_micros(sql_cosine("q.q_emb", "e.embedding"))} AS cosine_e6
        FROM q CROSS JOIN embeddings e
        WHERE e.vec_id <> q.q_id
    )
    SELECT q_id, neighbor_id, cosine_e6, rk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY cosine_e6 DESC, neighbor_id
        ) AS rk FROM scored
    ) WHERE rk <= {TOP_K}
    """,
    doc="ANN baseline: brute-force cosine top-k (broadcast query side)",
)
def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    scored = (
        # corpus stays partitioned; only the bounded query set is
        # broadcast — the shape that scales to a 100 TB corpus.
        emb.crossJoin(F.broadcast(q))
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


@register(
    "embedding_label_centroid_sim",
    oracle="""
    WITH ex0 AS (
        SELECT vec_id, label, unnest(range(1, len(embedding) + 1)) AS d, embedding
        FROM embeddings
    ),
    ex AS (
        SELECT vec_id, label, d, CAST(embedding[d] AS DOUBLE) AS v FROM ex0
    ),
    cent AS (
        SELECT label, d,
               CAST(floor(avg(v) * 1000000000.0 + 0.5) AS BIGINT) / 1000000000.0 AS c
        FROM ex GROUP BY label, d
    ),
    sums AS (
        SELECT e.vec_id, e.label,
               sum(e.v * c.c) AS dotp,
               sum(c.c * c.c) AS cnorm2,
               sum(e.v * e.v) AS enorm2
        FROM ex e JOIN cent c ON e.label = c.label AND e.d = c.d
        GROUP BY e.vec_id, e.label
    )
    SELECT vec_id, label,
           CAST(floor((dotp / (sqrt(enorm2) * sqrt(cnorm2))) * 1000.0 + 0.5) AS BIGINT) AS centroid_cos_e3
    FROM sums
    """,
    doc="cosine of each vector to its label centroid (clustering-quality signal)",
)
def embedding_label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # Explode to (vec_id, label, dim, value): centroid = avg per (label, dim).
    # Centroid components are avg() of doubles — partition-order dependent
    # in the last ulp — so they are snapped to 1e-9 fixed-point before the
    # similarity computation, and the final cosine is reported at 1e-3 to
    # absorb the remaining two group-sums (dotp/enorm2) computed via
    # group-aggregation rather than sequential folds.
    exploded = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding")).alias("d0", "v_raw"),
    ).select(
        "vec_id",
        "label",
        (F.col("d0") + 1).alias("d"),
        F.col("v_raw").cast("double").alias("v"),
    )
    cent = (
        exploded.groupBy("label", "d")
        .agg(
            (
                F.floor(F.avg("v") * F.lit(1e9) + F.lit(0.5)).cast("long") / F.lit(1e9)
            ).alias("c")
        )
    )
    sums = (
        exploded.join(F.broadcast(cent), ["label", "d"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("v") * F.col("c")).alias("dotp"),
            F.sum(F.col("c") * F.col("c")).alias("cnorm2"),
            F.sum(F.col("v") * F.col("v")).alias("enorm2"),
        )
    )
    sim = F.col("dotp") / (F.sqrt("enorm2") * F.sqrt("cnorm2"))
    return sums.select(
        "vec_id",
        "label",
        F.floor(sim * F.lit(1000.0) + F.lit(0.5)).cast("long").alias("centroid_cos_e3"),
    )


@register(
    "ann_hard_negatives",
    plan=("scalar_cross",),
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
        SELECT q.q_id, e.vec_id AS neg_id, e.label AS neg_label,
               {sql_micros(sql_cosine("q.q_emb", "e.embedding"))} AS cosine_e6
        FROM q CROSS JOIN embeddings e
        WHERE e.label <> q.q_label
    )
    SELECT q_id, neg_id, neg_label, cosine_e6, rk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY cosine_e6 DESC, neg_id
        ) AS rk FROM scored
    ) WHERE rk <= {TOP_K}
    """,
    doc="Contrastive-training hard-negative mining: per query, the "
    "top-k most-similar vectors with a DIFFERENT label (the "
    "highest-loss negatives). Same broadcast-bounded-query shape as "
    "the KNN baseline; production swaps the corpus scan for the "
    "IVF/LSH candidate join with the label filter pushed into it",
)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("q_label"))
        .select(
            "q_id",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            F.expr(ss_micros(ss_cosine("q_emb", "embedding"))).alias(
                "cosine_e6"
            ),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine_e6"), F.asc("neg_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("q_id", "neg_id", "neg_label", "cosine_e6", "rk")
    )
