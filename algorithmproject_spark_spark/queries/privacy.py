"""Privacy risk reporting — k-anonymity over quasi-identifier
combinations, the audit that runs BEFORE a corpus or event log is
shared/released.

``doc_pii_masked`` (queries/llmprep.py) removes direct identifiers;
re-identification risk survives in QUASI-identifiers: attribute
combinations rare enough to single someone out (Sweeney 2002). A
release is k-anonymous when every quasi-identifier combination covers
at least k records. This query is the audit table: one row per
(lang, source, length-band) combination with its population and a
below-k flag, plus the exact risk mass — the ppm of documents sitting
in sub-k cells — carried on every row (a broadcast 1-row total, so
the report needs no second pass).

Scale shape: ONE map-side-combined groupBy on the bounded QI domain
(langs × sources × length bands), a window-free flag, and a broadcast
scalar for the risk mass. The anti-pattern this replaces is the
per-record DISTINCT self-join audit; at 100 TB the QI relation is
thousands of rows regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.functions.numeric import ss_floordiv
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

K_ANON = 5
QI_LEN_BAND = 100


@register(
    "privacy_k_anonymity_report",
    plan=("scalar_cross",),
    oracle=f"""
    WITH qi AS (
        SELECT lang, source, n_chars // {QI_LEN_BAND} AS len_band,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1, 2, 3
    ),
    tot AS (
        SELECT CAST(sum(n_docs) AS BIGINT) AS n_all,
               CAST(sum(CASE WHEN n_docs < {K_ANON} THEN n_docs ELSE 0 END)
                   AS BIGINT) AS n_risky
        FROM qi
    )
    SELECT q.lang, q.source, q.len_band, q.n_docs,
           CAST(CASE WHEN q.n_docs < {K_ANON} THEN 1 ELSE 0 END AS BIGINT)
               AS below_k,
           CAST(t.n_risky * 1000000 // t.n_all AS BIGINT) AS risk_mass_ppm
    FROM qi q CROSS JOIN tot t
    """,
    doc=(
        f"k-anonymity audit (k={K_ANON}) over the quasi-identifier "
        "combination (lang, source, length band): per-cell population, "
        "below-k flag, and the corpus-wide risk mass (ppm of docs in "
        "sub-k cells) — one groupBy on the bounded QI domain + a "
        "broadcast 1-row total; the pre-release privacy gate next to "
        "the PII masker"
    ),
)
def privacy_k_anonymity_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    qi = docs.groupBy(
        "lang",
        "source",
        F.call_function("div", F.col("n_chars"), F.lit(QI_LEN_BAND)).alias(
            "len_band"
        ),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    tot = qi.agg(
        F.sum("n_docs").cast("long").alias("n_all"),
        F.sum(F.when(F.col("n_docs") < K_ANON, F.col("n_docs")).otherwise(0))
        .cast("long")
        .alias("n_risky"),
    )
    return qi.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        "len_band",
        "n_docs",
        F.when(F.col("n_docs") < K_ANON, 1)
        .otherwise(0)
        .cast("long")
        .alias("below_k"),
        F.expr(ss_floordiv("n_risky * 1000000", "n_all")).alias("risk_mass_ppm"),
    )


L_DIV = 3


@register(
    "privacy_l_diversity_report",
    plan=("scalar_cross",),
    oracle=f"""
    WITH ld AS (
        SELECT lang, n_chars // {QI_LEN_BAND} AS len_band,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sensitive
        FROM documents GROUP BY 1, 2
    ),
    tot AS (
        SELECT CAST(sum(n_docs) AS BIGINT) AS n_all,
               CAST(sum(CASE WHEN n_sensitive < {L_DIV}
                             THEN n_docs ELSE 0 END) AS BIGINT) AS n_risky
        FROM ld
    )
    SELECT q.lang, q.len_band, q.n_docs, q.n_sensitive,
           CAST(CASE WHEN q.n_sensitive < {L_DIV} THEN 1 ELSE 0 END
               AS BIGINT) AS below_l,
           CAST(t.n_risky * 1000000 // t.n_all AS BIGINT) AS risk_mass_ppm
    FROM ld q CROSS JOIN tot t
    """,
    doc=(
        f"l-diversity audit (l={L_DIV}) — k-anonymity's companion "
        "(Machanavajjhala et al. 2007): a cell can be large yet still "
        "leak if every member shares one sensitive value, so each "
        "(lang, length-band) quasi-identifier cell reports its count "
        "of DISTINCT sensitive values (source) and a below-l flag, "
        "with the corpus-wide risk mass in ppm; one distinct-agg "
        "groupBy on the bounded QI domain + a broadcast 1-row total"
    ),
)
def privacy_l_diversity_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ld = docs.groupBy(
        "lang",
        F.call_function("div", F.col("n_chars"), F.lit(QI_LEN_BAND)).alias(
            "len_band"
        ),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_sensitive"),
    )
    tot = ld.agg(
        F.sum("n_docs").cast("long").alias("n_all"),
        F.sum(
            F.when(F.col("n_sensitive") < L_DIV, F.col("n_docs")).otherwise(0)
        )
        .cast("long")
        .alias("n_risky"),
    )
    return ld.crossJoin(F.broadcast(tot)).select(
        "lang",
        "len_band",
        "n_docs",
        "n_sensitive",
        F.when(F.col("n_sensitive") < L_DIV, 1)
        .otherwise(0)
        .cast("long")
        .alias("below_l"),
        F.expr(ss_floordiv("n_risky * 1000000", "n_all")).alias("risk_mass_ppm"),
    )
