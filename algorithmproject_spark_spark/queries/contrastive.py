"""Contrastive training-pair mining — (anchor, positive, negative)
triples for embedding-model / dense-retriever training.

The standard recipe (DPR, SimCSE-sup, E5): positives are two chunks of
the SAME document (in-document semantic relatedness is the free
supervision a raw corpus carries), negatives are chunks of OTHER
documents. Both selections here are deterministic so the triple
catalog is oracle-checkable and reproducible across runs/engines:

- anchor/positive: every ADJACENT chunk pair (i, i+1) of the sliding-
  window chunk catalog (queries/chunking.py) — bounded per doc, no
  sampling randomness;
- negative: a 64-entry bucket dictionary (one representative chunk-0
  per hash bucket, arg-min doc_id) probed at
  ``hash_mod(doc_id*31 + anchor_idx, 64)`` — the in-batch-negative
  idea made deterministic; self-collisions (negative == own doc) are
  filtered, and real trainers swap the dictionary for mined hard
  negatives (queries/labelnoise.py::hard_negative_mining_grouped)
  without touching this plan.

Like the chunk catalog, the output carries content HASHES, not text —
the correctness artifact stays compact; the training exporter joins
the hashes back to chunk text with the same slices.

Scale shape: one chunk pass (map-only array algebra) + one per-doc
window (lead over chunk_idx) + a broadcast 64-row negative dictionary
— no pair joins, no data-scale shuffles beyond the doc_id window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from algorithmproject_spark_spark.functions.numeric import sql_hash_mod, ss_hash_mod
from algorithmproject_spark_spark.queries.chunking import (
    sliding_chunks,
    _sql_sliding_chunks,
)
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

#: negative-dictionary buckets (a real trainer scales this with the
#: desired negative diversity; the plan is identical at any size)
NEG_BUCKETS = 64
#: anchor-position mixer so consecutive anchors of one doc draw
#: different negatives
NEG_MIX = 31


@register(
    "contrastive_pair_mining",
    plan=(),
    oracle=f"""
    WITH ck_all AS (SELECT * FROM ({_sql_sliding_chunks()})),
    cp_adj AS (
        SELECT doc_id, chunk_idx AS anchor_idx, chunk_hash AS anchor_hash,
               lead(chunk_hash) OVER (
                   PARTITION BY doc_id ORDER BY chunk_idx
               ) AS pos_hash
        FROM ck_all
    ),
    cp_dict AS (
        SELECT {sql_hash_mod('doc_id', NEG_BUCKETS)} AS bucket,
               CAST(min(doc_id) AS BIGINT) AS neg_doc_id,
               arg_min(chunk_hash, doc_id) AS neg_hash
        FROM ck_all WHERE chunk_idx = 0
        GROUP BY 1
    )
    SELECT a.doc_id, CAST(a.anchor_idx AS BIGINT) AS anchor_idx,
           a.anchor_hash, a.pos_hash, d.neg_doc_id, d.neg_hash
    FROM cp_adj a
    JOIN cp_dict d
      ON d.bucket = {sql_hash_mod(f'(a.doc_id * {NEG_MIX} + a.anchor_idx)',
                                  NEG_BUCKETS)}
    WHERE a.pos_hash IS NOT NULL AND d.neg_doc_id <> a.doc_id
    """,
    doc=(
        "deterministic contrastive triples (DPR/SimCSE-style): anchor/"
        "positive = adjacent sliding-window chunks of one doc, negative "
        "= a chunk-0 representative drawn from a 64-bucket hash "
        "dictionary (arg-min doc_id per bucket, self-collisions "
        "filtered) — one chunk pass + one per-doc window + a broadcast "
        "64-row dictionary, no pair joins; hashes not text, like the "
        "chunk catalog"
    ),
)
def contrastive_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = sliding_chunks(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("doc_id").orderBy("chunk_idx")
    adj = chunks.select(
        "doc_id",
        F.col("chunk_idx").alias("anchor_idx"),
        F.col("chunk_hash").alias("anchor_hash"),
        F.lead("chunk_hash").over(w).alias("pos_hash"),
    ).filter(F.col("pos_hash").isNotNull())
    dict_ = (
        chunks.filter(F.col("chunk_idx") == 0)
        .groupBy(F.expr(ss_hash_mod("doc_id", NEG_BUCKETS)).alias("bucket"))
        .agg(
            F.min("doc_id").cast("long").alias("neg_doc_id"),
            F.min_by("chunk_hash", "doc_id").alias("neg_hash"),
        )
    )
    probe = F.expr(ss_hash_mod(f"doc_id * {NEG_MIX} + anchor_idx", NEG_BUCKETS))
    return (
        adj.join(F.broadcast(dict_), probe == dict_["bucket"])
        .filter(F.col("neg_doc_id") != F.col("doc_id"))
        .select(
            "doc_id",
            F.col("anchor_idx").cast("long").alias("anchor_idx"),
            "anchor_hash",
            "pos_hash",
            "neg_doc_id",
            "neg_hash",
        )
    )
