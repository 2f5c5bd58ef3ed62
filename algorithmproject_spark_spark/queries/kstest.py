"""Two-sample Kolmogorov–Smirnov drift matrix between sources — the
distribution-level companion of the TV-distance day-drift monitor
(events_daily_drift_tv): before pooling two crawls (or diagnosing a
quality regression between them), compare their FULL quality-score
distributions, not just means.

Statistic: D = max over the pooled score domain of
|F_a(s) − F_b(s)|, with each empirical CDF quantized to exact ppm
(``ppm(cum, n)``) BEFORE the difference — so ``ks_ppm`` is an exact
integer statistic both engines reproduce bit-for-bit. The ±1-ppm
quantization of each CDF is part of the statistic's definition (the
alternative, cross-multiplying cum_a·n_b, overflows BIGINT once both
sources exceed ~3e9 docs — the 100 TB regime; same class as the
burstiness fix).

Scale shape: everything after the one scored map pass rides COMPACTED
relations — (source, score) counts bounded by |sources| × score
domain, the step grid bounded by |sources|² × distinct scores. The
per-(source, score) window is partitioned by source (fully parallel),
and the pair max is one map-side-combined groupBy. No corpus-sized
join anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from algorithmproject_spark_spark.functions.numeric import sql_ppm, ss_ppm
from algorithmproject_spark_spark.cacheutil import tracked_cache
from algorithmproject_spark_spark.queries.qualitymodel import (
    _sql_quality_prefix,
    scored_docs,
)
from algorithmproject_spark_spark.registry import register


@register(
    "source_score_ks_matrix",
    # the CDF-alignment grid is a broadcast cross join of the DISTINCT
    # source list (O(100) rows at any corpus size) against the distinct
    # score values — bounded by construction, never corpus-sized
    plan=("scalar_cross",),
    oracle=f"""
    WITH {_sql_quality_prefix()},
    ks_sc AS (
        SELECT d.source, q.score_ppm
        FROM qscore q JOIN documents d USING (doc_id)
    ),
    ks_cnt AS (
        SELECT source, score_ppm, CAST(count(*) AS BIGINT) AS c
        FROM ks_sc GROUP BY 1, 2
    ),
    ks_grid AS (
        SELECT s.source, v.score_ppm, COALESCE(k.c, 0) AS c
        FROM (SELECT DISTINCT source FROM ks_cnt) s
        CROSS JOIN (SELECT DISTINCT score_ppm FROM ks_cnt) v
        LEFT JOIN ks_cnt k
          ON k.source = s.source AND k.score_ppm = v.score_ppm
    ),
    ks_cdf AS (
        SELECT source, score_ppm,
               {sql_ppm(
                   'CAST(sum(c) OVER (PARTITION BY source '
                   'ORDER BY score_ppm) AS BIGINT)',
                   'CAST(sum(c) OVER (PARTITION BY source) AS BIGINT)')}
                   AS cdf_ppm,
               CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
        FROM ks_grid
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(max(a.n) AS BIGINT) AS n_a,
           CAST(max(b.n) AS BIGINT) AS n_b,
           CAST(max(abs(a.cdf_ppm - b.cdf_ppm)) AS BIGINT) AS ks_ppm
    FROM ks_cdf a JOIN ks_cdf b
      ON a.score_ppm = b.score_ppm AND a.source < b.source
    GROUP BY a.source, b.source
    """,
    doc=(
        "two-sample KS drift matrix over the quality-score "
        "distribution, all source pairs: D = max |F_a − F_b| with "
        "each empirical CDF in exact ppm — integer-exact, rides the "
        "compacted (source, score) relation and a |sources|²-bounded "
        "pair join, never the corpus"
    ),
)
def source_score_ks_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the shared cached scored relation (VERDICT r10 #3) — the logit
    # map pass runs once per session, not once per consumer...
    sc = scored_docs(spark, sf_dir).select("source", "score_ppm")
    # ...and the compaction is pinned too: the pooled-domain grid below
    # references it THREE times (sources, domain, counts) and Spark
    # does not ReuseExchange across those sites — uncached, the scoring
    # aggregation would run three times (the dominant sf1 cost)
    cnt = tracked_cache(
        sc.groupBy("source", "score_ppm").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
    )
    # align every source's CDF on the POOLED score domain so the max
    # runs over true step positions of either side
    srcs = cnt.select("source").distinct()
    vals = cnt.select("score_ppm").distinct()
    grid = (
        F.broadcast(srcs).crossJoin(vals)
        .join(cnt, ["source", "score_ppm"], "left")
        .select("source", "score_ppm", F.coalesce("c", F.lit(0)).alias("c"))
    )
    w = W.partitionBy("source").orderBy("score_ppm")
    cdf = grid.select(
        "source",
        "score_ppm",
        F.expr(
            ss_ppm(
                "sum(c) OVER (PARTITION BY source ORDER BY score_ppm"
                " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
                "sum(c) OVER (PARTITION BY source ORDER BY score_ppm"
                " ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)",
            )
        ).alias("cdf_ppm"),
        F.sum("c")
        .over(w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .cast("long")
        .alias("n"),
    )
    a = cdf.select(
        F.col("source").alias("source_a"),
        "score_ppm",
        F.col("cdf_ppm").alias("cdf_a"),
        F.col("n").alias("na"),
    )
    b = cdf.select(
        F.col("source").alias("source_b"),
        "score_ppm",
        F.col("cdf_ppm").alias("cdf_b"),
        F.col("n").alias("nb"),
    )
    return (
        a.join(b, "score_ppm")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.max("na").cast("long").alias("n_a"),
            F.max("nb").cast("long").alias("n_b"),
            F.max(F.abs(F.col("cdf_a") - F.col("cdf_b")))
            .cast("long")
            .alias("ks_ppm"),
        )
    )
