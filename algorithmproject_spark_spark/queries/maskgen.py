"""Deterministic span-corruption mask generation (T5-style).

Span-corruption pretraining (Raffel et al. 2020, T5) replaces ~15% of
each document's tokens with sentinel spans of mean length 3. Sampling
with an RNG makes the corpus irreproducible; the engine-portable form
here derives every mask decision from a hash of ``(doc_id, pos)``:
a span of width ``MASK_W`` starts at position ``p`` iff

    hash_mod(doc_id' * P + p, 100) < MASK_START_PCT

(with ``doc_id'`` pre-reduced so products stay in BIGINT). Overlapping
starts merge into maximal spans via the shared gaps-and-islands
operator (queries/spandedup.py::merge_spans) — exactly the paper's
"merge adjacent corrupted tokens into one sentinel" rule. 5% start
positions × width 3 ≈ 14-15% masked.

The catalog emitted per doc — span count (= sentinel count),
masked-token count, permille — is what a training-data builder needs
to pair inputs with targets; the mask is reproducible on any engine,
any partitioning, any rerun.

Reference parity: none — beyond-reference training-data machinery.

Map-only except one per-doc islands window; the position relation is
linear in corpus tokens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.functions.numeric import sql_hash_mod, ss_hash_mod
from algorithmproject_spark_spark.queries.spandedup import (
    merge_spans,
    sql_merge_spans,
)
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

MASK_W = 3  # span width (the paper's mean span length)
MASK_START_PCT = 5  # % of positions that start a span
_ID_P = 1_000_003  # doc-id pre-reduction (BIGINT-safe products)
# Mixing prime — MUST differ from numeric.HASH_REDUCE (1_000_003):
# ss_hash_mod reduces its key mod HASH_REDUCE first, so a doc term
# multiplied by that same prime would vanish and every document would
# get identical mask positions (found by review; test pins it now).
_ID_MIX = 999_983


def corruption_mask_stats(docs: DataFrame, w: int = MASK_W) -> DataFrame:
    """Per-doc mask catalog: ``(doc_id, n_tokens, n_mask_spans,
    masked_tokens, mask_permille)``."""
    n = F.size(F.split(F.col("text"), " "))
    base = docs.select("doc_id", n.cast("long").alias("n_tokens"))
    pos = base.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), (F.col("n_tokens") - 1).cast("int"))
        ).alias("pos"),
    )
    starts = pos.filter(
        F.expr(ss_hash_mod(f"(doc_id % {_ID_P}) * {_ID_MIX} + pos", 100))
        < MASK_START_PCT
    )
    # clamp spans at the doc end: masked span [s, min(e, n_tokens))
    spans = merge_spans(starts.select("doc_id", "pos"), w)
    per_doc = (
        spans.join(base, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            (F.least(F.col("e").cast("long"), F.col("n_tokens")) - F.col("s")).alias(
                "mlen"
            ),
        )
        .groupBy("doc_id", "n_tokens")
        .agg(
            F.count(F.lit(1)).alias("n_mask_spans"),
            F.sum("mlen").alias("masked_tokens"),
        )
    )
    return base.join(
        per_doc.drop("n_tokens"), "doc_id", "left"
    ).select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_mask_spans", F.lit(0).cast("long")).alias(
            "n_mask_spans"
        ),
        F.coalesce("masked_tokens", F.lit(0).cast("long")).alias(
            "masked_tokens"
        ),
        F.expr(
            "1000 * coalesce(masked_tokens, 0L) div n_tokens"
        ).alias("mask_permille"),
    )


def _sql_mask_stats(w: int = MASK_W) -> str:
    h = sql_hash_mod(f"(doc_id % {_ID_P}) * {_ID_MIX} + pos", 100)
    return f"""
    WITH mk_pos AS (
        SELECT doc_id,
               CAST(len(string_split(text, chr(32))) AS BIGINT) AS n_tokens,
               CAST(i AS BIGINT) AS pos
        FROM documents,
             LATERAL (SELECT unnest(range(0, len(string_split(text, chr(32))))) AS i) u
    ),
    mk_starts AS (
        SELECT doc_id, pos FROM mk_pos WHERE {h} < {MASK_START_PCT}
    ),
    {sql_merge_spans('mk_starts', w)},
    mk_per_doc AS (
        SELECT s.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_mask_spans,
               CAST(SUM(LEAST(s.e, d.n_tokens) - s.s) AS BIGINT)
                   AS masked_tokens
        FROM ms_spans s
        JOIN (SELECT doc_id,
                     CAST(len(string_split(text, chr(32))) AS BIGINT)
                         AS n_tokens
              FROM documents) d
          ON s.doc_id = d.doc_id
        GROUP BY s.doc_id
    )
    SELECT d.doc_id,
           CAST(len(string_split(d.text, chr(32))) AS BIGINT) AS n_tokens,
           COALESCE(p.n_mask_spans, CAST(0 AS BIGINT)) AS n_mask_spans,
           COALESCE(p.masked_tokens, CAST(0 AS BIGINT)) AS masked_tokens,
           (1000 * COALESCE(p.masked_tokens, CAST(0 AS BIGINT)))
               // CAST(len(string_split(d.text, chr(32))) AS BIGINT)
               AS mask_permille
    FROM documents d LEFT JOIN mk_per_doc p USING (doc_id)
    """


@register(
    "doc_corruption_mask_stats",
    oracle=_sql_mask_stats(),
    doc="T5-style span-corruption mask catalog: hash-deterministic "
    "span starts (5% of positions, width 3 ≈ 15% masked), overlaps "
    "merged into maximal sentinel spans — reproducible on any "
    "engine/partitioning/rerun",
)
def doc_corruption_mask_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corruption_mask_stats(load_table(spark, sf_dir, "documents"))
