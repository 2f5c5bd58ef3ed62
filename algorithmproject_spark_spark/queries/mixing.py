"""Source mixing weights — temperature-scaled sampling proportions,
the data-mixing table every multi-source LLM training run starts from
(the Pile's per-set epochs, LLaMA's upsampled Wikipedia/Books, Doremi's
baseline): raw token share over-represents the biggest crawl, so the
mixture is drawn ∝ tokens^α with a temperature α < 1 that flattens the
distribution toward small, high-value sources.

α is pinned to 1/2 DELIBERATELY: sqrt is correctly rounded under IEEE
754 in both engines (a single libm-independent instruction), so
``micros(sqrt(n_tokens))`` is bit-identical cross-engine — whereas a
general ``pow(x, 0.7)`` is NOT guaranteed correctly rounded and may
differ between the JVM and DuckDB in the last ulp. The one float op
per source is immediately quantized to integer micros; every
downstream share/boost is exact integer arithmetic (ppm / ratio_e6),
so the whole mixing table is hash-gated.

Output per source:
- n_docs, n_tokens, natural_ppm (raw token share)
- mix_ppm (temperature-scaled share: sqrt-token share)
- boost_e6 (mix/natural as an exact e6 ratio — > 1e6 means the source
  is UP-sampled relative to its natural share; ratio_e6 because the
  boost of a tiny source legitimately exceeds 1)

Scale shape: one map pass (token count per doc), one map-side-combined
groupBy(source), then a broadcast 1-row totals frame (declared
scalar_cross) — sources are O(100) at any corpus size, so everything
after the first aggregate is driver-trivial but stays in-plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.functions.numeric import (
    sql_micros,
    sql_ppm,
    sql_ratio_e6,
    ss_micros,
    ss_ppm,
    ss_ratio_e6,
)
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table


@register(
    "source_mixing_weights",
    plan=("scalar_cross",),
    oracle=f"""
    WITH mx_doc AS (
        SELECT source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        FROM documents
    ),
    mx_src AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_toks) AS BIGINT) AS n_tokens
        FROM mx_doc GROUP BY source
    ),
    mx_sq AS (
        SELECT source, n_docs, n_tokens,
               {sql_micros('sqrt(CAST(n_tokens AS DOUBLE))')} AS sqrt_tok_e6
        FROM mx_src
    ),
    mx_tot AS (
        SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
               CAST(sum(sqrt_tok_e6) AS BIGINT) AS tot_sqrt_e6
        FROM mx_sq
    )
    SELECT s.source, s.n_docs, s.n_tokens,
           {sql_ppm('s.n_tokens', 't.tot_tokens')} AS natural_ppm,
           {sql_ppm('s.sqrt_tok_e6', 't.tot_sqrt_e6')} AS mix_ppm,
           CASE WHEN {sql_ppm('s.n_tokens', 't.tot_tokens')} > 0 THEN
               {sql_ratio_e6(sql_ppm('s.sqrt_tok_e6', 't.tot_sqrt_e6'),
                             sql_ppm('s.n_tokens', 't.tot_tokens'))}
           ELSE NULL END AS boost_e6
    FROM mx_sq s CROSS JOIN mx_tot t
    """,
    doc=(
        "temperature-scaled source mixing weights (α = 1/2): per "
        "source the natural token share and the sqrt-token mixture "
        "share in exact ppm, plus the up/down-sampling boost as an "
        "exact e6 ratio — one groupBy + a broadcast 1-row totals "
        "frame; sqrt is the one (correctly-rounded, hash-safe) float op"
    ),
)
def source_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source", F.size(F.split(F.col("text"), " ")).cast("long").alias("n_toks")
    )
    src = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
    )
    sq = src.select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr(ss_micros("sqrt(CAST(n_tokens AS DOUBLE))")).alias("sqrt_tok_e6"),
    )
    tot = sq.agg(
        F.sum("n_tokens").cast("long").alias("tot_tokens"),
        F.sum("sqrt_tok_e6").cast("long").alias("tot_sqrt_e6"),
    )
    natural = ss_ppm("n_tokens", "tot_tokens")
    mix = ss_ppm("sqrt_tok_e6", "tot_sqrt_e6")
    return sq.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr(natural).alias("natural_ppm"),
        F.expr(mix).alias("mix_ppm"),
        F.when(F.expr(natural) > 0, F.expr(ss_ratio_e6(mix, natural)))
        .otherwise(F.lit(None).cast("long"))
        .alias("boost_e6"),
    )
