"""Cross-source quantile normalization of quality scores — the
batch-effect correction a multi-crawl corpus needs before one global
threshold means the same thing everywhere.

Different sources (crawls, dumps, partners) shift the quality-score
distribution: a 0-ppm logit from a clean source is not a 0-ppm logit
from a spammy one, so filtering both with one bar either starves the
clean source or floods the model with the spammy one. The standard
fix is quantile normalization (as in microarray batch correction):
map each doc's WITHIN-SOURCE rank onto the POOLED score distribution,
so "top 10% of its source" scores the same everywhere.

This query emits the normalization TABLE — per (source, score_ppm):
the within-source nearest-rank ppm, its percentile band (1..100), and
the pooled score at that band — which downstream filters broadcast
and apply map-side. Everything is exact integer arithmetic:

- within-source ranks ride the COMPACTED (source, score) relation
  (score domain is bounded by the mean-pooled weight range, so the
  per-source windows never sort the doc relation);
- the pooled quantile function is a ≤100-row band table built with a
  reverse running-min over the band grid (a step function needs the
  NEXT populated band where one is empty);
- the band join is an EQUI-join on the band id — no asof machinery,
  no nested-loop range join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window as W

from algorithmproject_spark_spark.functions.numeric import sql_ppm, ss_floordiv, ss_ppm
from algorithmproject_spark_spark.queries.qualitymodel import (
    _sql_quality_prefix,
)
from algorithmproject_spark_spark.registry import register

N_PCT = 100
BAND_PPM = 1_000_000 // N_PCT


@register(
    "source_score_quantile_norm",
    oracle=f"""
    WITH {_sql_quality_prefix()},
    qn_sc AS (
        SELECT d.source, q.score_ppm
        FROM qscore q JOIN documents d USING (doc_id)
    ),
    qn_src AS (
        SELECT source, score_ppm, CAST(count(*) AS BIGINT) AS n_docs
        FROM qn_sc GROUP BY 1, 2
    ),
    qn_rk AS (
        SELECT source, score_ppm, n_docs,
               CAST(sum(n_docs) OVER (
                   PARTITION BY source ORDER BY score_ppm
               ) AS BIGINT) AS cum,
               CAST(sum(n_docs) OVER (PARTITION BY source) AS BIGINT) AS n
        FROM qn_src
    ),
    qn_ranked AS (
        -- GREATEST(.., 1): for a source with > 1e6 docs the lowest
        -- ranks floor to rank_ppm = 0, whose ceiling band is 0 — the
        -- inner join to the 1..100 grid would silently DROP those
        -- normalization rows (r9 advice). Clamp into the grid.
        SELECT source, score_ppm, n_docs,
               {sql_ppm('cum', 'n')} AS rank_ppm,
               GREATEST(({sql_ppm('cum', 'n')} + {BAND_PPM - 1})
                   // {BAND_PPM}, 1) AS pct_band
        FROM qn_rk
    ),
    qn_pool AS (
        SELECT score_ppm, CAST(count(*) AS BIGINT) AS c FROM qn_sc GROUP BY 1
    ),
    qn_pool_rk AS (
        SELECT score_ppm,
               CAST(sum(c) OVER (ORDER BY score_ppm) AS BIGINT) AS cum,
               CAST(sum(c) OVER () AS BIGINT) AS n
        FROM qn_pool
    ),
    qn_band_min AS (
        -- same clamp: a > 1e6-doc pool would file its lowest scores
        -- under band 0, outside the grid, losing them from the cuts
        SELECT GREATEST(({sql_ppm('cum', 'n')} + {BAND_PPM - 1})
                   // {BAND_PPM}, 1) AS band,
               min(score_ppm) AS m
        FROM qn_pool_rk GROUP BY 1
    ),
    qn_cuts AS (
        SELECT g.band,
               min(b.m) OVER (ORDER BY g.band
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS cut_score_ppm
        FROM (SELECT unnest(range(1, {N_PCT + 1})) AS band) g
        LEFT JOIN qn_band_min b ON b.band = g.band
    )
    SELECT r.source, r.score_ppm, r.n_docs,
           CAST(r.rank_ppm AS BIGINT) AS rank_ppm,
           CAST(r.pct_band AS BIGINT) AS pct_band,
           CAST(c.cut_score_ppm AS BIGINT) AS norm_score_ppm
    FROM qn_ranked r JOIN qn_cuts c ON c.band = r.pct_band
    """,
    doc=(
        "cross-source quantile normalization table for the learned "
        "quality score: per (source, score) the within-source nearest-"
        "rank ppm, percentile band, and the POOLED score at that band "
        "(reverse-running-min step function over a 100-row band grid) "
        "— broadcastable batch-effect correction so 'top decile of its "
        "source' filters identically across crawls; all windows ride "
        "score-domain-bounded compacted relations"
    ),
)
def source_score_quantile_norm(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from algorithmproject_spark_spark.queries.qualitymodel import scored_docs

    # the shared cached scored relation (VERDICT r10 #3): feeds BOTH
    # the per-source and the pooled compactions here AND every other
    # quality-score consumer in the session — the logit map pass runs
    # once, period
    sc = scored_docs(spark, sf_dir).select("source", "score_ppm")
    src = sc.groupBy("source", "score_ppm").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    wsrc = W.partitionBy("source").orderBy("score_ppm")
    rk = src.select(
        "source",
        "score_ppm",
        "n_docs",
        F.sum("n_docs").over(wsrc.rowsBetween(W.unboundedPreceding, 0)).alias("cum"),
        F.sum("n_docs")
        .over(wsrc.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .alias("n"),
    )
    rank_ppm = ss_ppm("cum", "n")
    # greatest(.., 1): a source with > 1e6 docs floors its lowest
    # ranks to rank_ppm = 0 → ceiling band 0, which the inner join to
    # the 1..100 grid would silently drop (r9 advice). Clamp into the
    # grid — oracle applies the identical GREATEST.
    ranked = rk.select(
        "source",
        "score_ppm",
        "n_docs",
        F.expr(rank_ppm).alias("rank_ppm"),
        F.greatest(
            F.expr(ss_floordiv(f"{rank_ppm} + {BAND_PPM - 1}", str(BAND_PPM))),
            F.lit(1),
        ).alias("pct_band"),
    )
    pool = sc.groupBy("score_ppm").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wp = W.orderBy("score_ppm")
    pool_rk = pool.select(
        "score_ppm",
        F.sum("c").over(wp.rowsBetween(W.unboundedPreceding, 0)).alias("cum"),
        F.sum("c")
        .over(wp.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .alias("n"),
    )
    band_min = pool_rk.groupBy(
        F.greatest(
            F.expr(
                ss_floordiv(f"{ss_ppm('cum', 'n')} + {BAND_PPM - 1}", str(BAND_PPM))
            ),
            F.lit(1),
        ).alias("band")
    ).agg(F.min("score_ppm").alias("m"))
    grid = (
        spark.range(1, N_PCT + 1)
        .select(F.col("id").alias("band"))
        .join(band_min, "band", "left")
    )
    wg = W.orderBy("band").rowsBetween(0, W.unboundedFollowing)
    cuts = grid.select(
        "band", F.min("m").over(wg).alias("cut_score_ppm")
    )
    return ranked.join(
        F.broadcast(cuts), ranked["pct_band"] == cuts["band"]
    ).select(
        "source",
        "score_ppm",
        "n_docs",
        F.col("rank_ppm").cast("long").alias("rank_ppm"),
        F.col("pct_band").cast("long").alias("pct_band"),
        F.col("cut_score_ppm").cast("long").alias("norm_score_ppm"),
    )
