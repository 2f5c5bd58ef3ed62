"""Data Selection with Importance Resampling (DSIR) — hashed-n-gram
importance weights for domain-matched pretraining data selection.

Xie et al., "Data Selection for Language Models via Importance
Resampling" (NeurIPS 2023): estimate target-domain and raw-corpus
distributions over HASHED n-gram buckets, weight every raw document by
its feature likelihood ratio, and resample by weight. Here the target
distribution is the English subcorpus (the lang column plays the
"formal text" domain of the paper) and features are hashed unigrams.

Integer-exact formulation: the paper's per-feature log-ratio
``log p_tgt(b) − log p_raw(b)`` needs libm logs, whose last-ulp
behavior differs across engines; this variant scores each token by the
CONDITIONAL ratio ``tgt_b / raw_b`` in ppm (exact BIGINT floor
division; tgt ⊆ raw so the ratio is a proportion and never overflows:
tgt_b·1e6 stays in BIGINT to ~9.2e12 target tokens) and averages over
the document's tokens. The corpus-level constant factor T_raw/T_tgt is
rank-invariant and omitted; the mean-of-ratios (vs the paper's
sum-of-logs) preserves the "favor documents whose tokens concentrate
in target-heavy buckets" ordering intent while being bit-exact
cross-engine — the same trade every other scoring query in this repo
makes (ppm discipline, functions/numeric.py).

Scale shape: explode tokens (map-only), ONE partial-aggregated shuffle
to the B-bucket histograms (B = 256 here, 10k in the paper — always
tiny), broadcast the bucket-weight relation back, one map-side-combined
groupBy(doc_id). Never a doc×doc or token×token join; at 100 TB the
histogram build is the only shuffle and it combines to B rows per
partition map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.cacheutil import tracked_cache
from algorithmproject_spark_spark.functions.hashing import (
    sql_token_hash_array,
    ss_token_hash_array,
)
from algorithmproject_spark_spark.functions.numeric import ss_floordiv
from algorithmproject_spark_spark.functions.text import tokenize
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

N_BUCKETS = 256
TARGET_LANG = "en"


def token_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, b): one row per token, b = hashed-unigram bucket.
    Map-only; the shared front end of the batch scorer and the
    streaming histogram (streaming/dsirstream.py)."""
    return docs.select(
        "doc_id",
        "lang",
        # one-parse text twin of the token-hash fold (r12)
        F.explode(
            F.expr(ss_token_hash_array("split(text, ' ')"))
        ).alias("h"),
    ).select("doc_id", "lang", (F.col("h") % N_BUCKETS).alias("b"))


def bucket_weights(long: DataFrame, weight: str | None = None) -> DataFrame:
    """(b, raw_b, tgt_b, w_ppm): per-bucket histograms and the
    conditional-ratio weight. ONE aggregation — the target count is a
    conditional count inside the same groupBy, not a second pass, so
    the streaming form is a single stateful aggregation whose snapshot
    IS this relation.

    With ``weight`` set, each row adds that column's value instead of
    1 — the compacted-distribution form (identical histograms from a
    pre-aggregated (…, b, count) relation)."""
    w = F.col(weight) if weight else F.lit(1)
    return long.groupBy("b").agg(
        F.sum(w).cast("long").alias("raw_b"),
        F.sum(F.when(F.col("lang") == TARGET_LANG, w).otherwise(0))
        .cast("long")
        .alias("tgt_b"),
    ).select(
        "b",
        "raw_b",
        "tgt_b",
        F.expr(ss_floordiv("tgt_b * 1000000", "raw_b")).alias("w_ppm"),
    )


@register(
    "dsir_importance_weights",
    oracle=f"""
    WITH ds_long AS MATERIALIZED (
        SELECT doc_id, lang,
               unnest({sql_token_hash_array("string_split(text, ' ')")})
                   % {N_BUCKETS} AS b
        FROM documents
    ),
    ds_raw AS (
        SELECT b, CAST(count(*) AS BIGINT) AS raw_b
        FROM ds_long GROUP BY b
    ),
    ds_tgt AS (
        SELECT b, CAST(count(*) AS BIGINT) AS tgt_b
        FROM ds_long WHERE lang = '{TARGET_LANG}' GROUP BY b
    ),
    ds_w AS (
        SELECT r.b,
               CAST(coalesce(t.tgt_b, 0) * 1000000 // r.raw_b AS BIGINT)
                   AS w_ppm
        FROM ds_raw r LEFT JOIN ds_tgt t USING (b)
    ),
    ds_score AS (
        SELECT doc_id,
               CAST(sum(w.w_ppm) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n_tokens
        FROM ds_long l JOIN ds_w w USING (b)
        GROUP BY doc_id
    )
    SELECT d.doc_id, d.lang, sc.n_tokens,
           CAST(sc.s // sc.n_tokens AS BIGINT) AS dsir_avg_ppm
    FROM documents d JOIN ds_score sc USING (doc_id)
    """,
    doc=(
        "DSIR importance weights (Xie et al. 2023, integer-exact "
        "variant): hashed-unigram bucket histograms for the English "
        "target vs the raw corpus, per-token conditional ratio in ppm, "
        "averaged per document — one tiny-histogram shuffle + "
        "broadcast weights, the domain-matched data-selection scorer"
    ),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # compact the token stream to per-(doc, bucket) counts and cache
    # THAT: the histogram build and the score join both consume it, and
    # Catalyst does not dedupe the shared subtree — uncached, the
    # tokenize+hash+explode front end ran twice over the corpus
    db = tracked_cache(
        token_buckets(docs)
        .groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = bucket_weights(db, weight="c").select("b", "w_ppm")
    score = (
        db.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c") * F.col("w_ppm")).alias("s"),
            F.sum("c").cast("long").alias("n_tokens"),
        )
    )
    return docs.select("doc_id", "lang").join(score, "doc_id").select(
        "doc_id",
        "lang",
        "n_tokens",
        F.expr(ss_floordiv("s", "n_tokens")).alias("dsir_avg_ppm"),
    )


@register(
    "stream_dsir_weights_batch_twin",
    oracle=f"""
    WITH dt_long AS (
        SELECT lang,
               unnest({sql_token_hash_array("string_split(text, ' ')")})
                   % {N_BUCKETS} AS b
        FROM documents
    )
    SELECT b, CAST(count(*) AS BIGINT) AS raw_b,
           CAST(sum(CASE WHEN lang = '{TARGET_LANG}' THEN 1 ELSE 0 END)
                AS BIGINT) AS tgt_b,
           CAST(sum(CASE WHEN lang = '{TARGET_LANG}' THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS w_ppm
    FROM dt_long GROUP BY b
    """,
    doc=(
        "batch twin of the streaming DSIR histogram "
        "(streaming/dsirstream.py): per-bucket raw/target token counts "
        "and the conditional-ratio weight from ONE conditional-count "
        "aggregation — the streaming state is these N_BUCKETS rows and "
        "its complete-mode snapshot converges to exactly this relation"
    ),
)
def stream_dsir_weights_batch_twin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from algorithmproject_spark_spark.streaming.dsirstream import (
        dsir_weights_batch,
    )

    return dsir_weights_batch(load_table(spark, sf_dir, "documents"))
