"""Trend + recency analytics over the event stream.

Two time-weighted primitives the reference's rollup jobs
(video/*.scala daily aggregations) stop one step short of:

- **OLS trend slope per event type** (``events_trend_slope_per_type``):
  the least-squares slope of daily event counts against the day index —
  the "is this metric growing?" primitive behind every dashboard
  sparkline. Computed EXACTLY: slope = (n·Σxy − Σx·Σy) /
  (n·Σx² − (Σx)²) with x = epoch day (BIGINT) and y = daily count
  (BIGINT); we emit the numerator and denominator as exact integers
  instead of dividing, so no float ever enters and the result is
  partition-order independent and engine-exact. Overflow headroom:
  x ≈ 2·10⁴, so n·Σx² ≈ n²·4·10⁸ stays inside BIGINT until n ≈ 4.8M
  distinct days — 13,000 years of daily data.
- **Recency-weighted engagement score** (``user_recency_weighted_value``):
  per-user Σ value·2^(−age_weeks) with a 7-day half-life — the decayed
  engagement scalar feeding churn/LTV models. The decay is an EXACT
  power-of-two: contribution = (cents·2²⁰) div 2^min(age//7, 40), all
  BIGINT (cents ≤ ~10⁷ keeps cents·2²⁰ ≤ 10¹³); the shift cap at 40
  keeps the divisor in range while contributions past 40 half-lives
  are 0 in fixed-point anyway. The anchor day is the corpus max day —
  a broadcast 1-row aggregate (declared ``scalar_cross``), never a
  driver action.

Both are one fact-table shuffle plus dimension-sized post-processing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.functions.numeric import (
    sql_scaled_long,
    ss_floordiv,
    ss_scaled_long,
)
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

TOPK_RECENCY = 20
HALF_LIFE_DAYS = 7
MAX_SHIFT = 40  # 2^40 divisor cap — beyond it fixed-point is 0 anyway
VALUE_SCALE_BITS = 20  # contributions in 2^-20 units of a cent


def _epoch_day(ts_col: str = "ts") -> Column:
    """Days since 1970-01-01 of a timestamp column, as BIGINT —
    integer-exact in both engines (no fractional-second pitfalls)."""
    return F.datediff(
        F.to_date(F.col(ts_col)), F.lit("1970-01-01").cast("date")
    ).cast("long")


@register(
    "events_trend_slope_per_type",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM daily GROUP BY event_type
    )
    SELECT event_type, n_days,
           n_days * sxy - sx * sy AS slope_num,
           n_days * sxx - sx * sx AS slope_den,
           sy AS total_events
    FROM s WHERE n_days >= 2
    """,
    doc=(
        "exact OLS slope of daily event counts per type — trend "
        "detection with integer numerator/denominator, no floats"
    ),
)
def events_trend_slope_per_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    daily = ev.groupBy(
        "event_type", _epoch_day().alias("x")
    ).agg(F.count(F.lit(1)).alias("y"))
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return (
        s.filter(F.col("n_days") >= 2)
        .select(
            "event_type",
            "n_days",
            (F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy"))
            .alias("slope_num"),
            (F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx"))
            .alias("slope_den"),
            F.col("sy").alias("total_events"),
        )
        # no ORDER BY: output is |event types| rows and the oracle
        # compare is order-insensitive — a global sort would be the
        # plan's only rangepartitioning exchange
    )


@register(
    "user_recency_weighted_value",
    oracle=f"""
    WITH v AS (
        SELECT user_id,
               CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
               {sql_scaled_long('value')} AS cents
        FROM events WHERE value > 0
    ),
    mx AS (SELECT CAST(max(day) AS BIGINT) AS md FROM v),
    c AS (
        SELECT user_id,
               (cents * {1 << VALUE_SCALE_BITS}) // (
                   CAST(1 AS BIGINT) << CAST(LEAST(
                       (md - day) // {HALF_LIFE_DAYS}, {MAX_SHIFT}
                   ) AS INTEGER)
               ) AS contrib
        FROM v CROSS JOIN mx
    )
    SELECT user_id, CAST(sum(contrib) AS BIGINT) AS score_q20
    FROM c GROUP BY user_id
    ORDER BY score_q20 DESC, user_id LIMIT {TOPK_RECENCY}
    """,
    doc=(
        "per-user recency-decayed engagement score, 7-day half-life "
        "as exact power-of-two fixed-point — top-20 users"
    ),
    plan=("scalar_cross",),
)
def user_recency_weighted_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    v = ev.filter(F.col("value") > 0).select(
        "user_id",
        _epoch_day().alias("day"),
        F.expr(ss_scaled_long("value")).alias("cents"),
    )
    mx = v.agg(F.max("day").alias("md"))
    shift = (
        f"CAST(least({ss_floordiv('md - day', str(HALF_LIFE_DAYS))}, "
        f"CAST({MAX_SHIFT} AS BIGINT)) AS INT)"
    )
    contrib = ss_floordiv(
        f"cents * {1 << VALUE_SCALE_BITS}", f"shiftleft(CAST(1 AS BIGINT), {shift})"
    )
    return (
        v.crossJoin(F.broadcast(mx))
        .select("user_id", F.expr(contrib).alias("contrib"))
        .groupBy("user_id")
        .agg(F.sum("contrib").alias("score_q20"))
        .orderBy(F.desc("score_q20"), F.asc("user_id"))
        .limit(TOPK_RECENCY)
    )


WINDOW_DAYS = 7


@register(
    "events_rolling_7d_active_users",
    oracle=f"""
    WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
        FROM events
    ),
    contrib AS (
        SELECT DISTINCT user_id, wday
        FROM ud, unnest(range(day, day + {WINDOW_DAYS})) AS t(wday)
    ),
    span AS (
        SELECT CAST(min(day) AS BIGINT) AS lo,
               CAST(max(day) AS BIGINT) AS hi
        FROM ud
    )
    SELECT wday AS day, CAST(count(*) AS BIGINT) AS active_users
    FROM contrib CROSS JOIN span
    WHERE wday >= lo + {WINDOW_DAYS} - 1 AND wday <= hi
    GROUP BY wday
    """,
    doc=(
        "rolling 7-day distinct active users (WAU curve) via the "
        "expand-contributions pattern: each (user, day) emits the 7 "
        "window-end days it counts toward over the COMPACTED per-day "
        "relation — sliding distinct without re-scanning 7x or "
        "holding per-window user sets"
    ),
    plan=("scalar_cross",),  # full-window trim via 1-row (lo, hi)
)
def events_rolling_7d_active_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    ud = ev.select("user_id", _epoch_day().alias("day")).distinct()
    # 7x map-side expansion of the compacted (user, day) relation;
    # the second distinct dedups users active on several days of the
    # same window — two keyed shuffles total, both on compact keys
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"), F.col("day") + F.lit(WINDOW_DAYS - 1)
            )
        ).alias("wday"),
    ).distinct()
    span = ud.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    return (
        contrib.crossJoin(F.broadcast(span))
        .filter(
            (F.col("wday") >= F.col("lo") + WINDOW_DAYS - 1)
            & (F.col("wday") <= F.col("hi"))
        )
        .groupBy(F.col("wday").alias("day"))
        .agg(F.count(F.lit(1)).alias("active_users"))
    )


@register(
    "events_changepoint_cusum",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS sy
        FROM daily GROUP BY event_type
    ),
    cusum AS (
        SELECT d.event_type, d.day, t.n,
               CAST(SUM(d.y * t.n - t.sy) OVER (
                   PARTITION BY d.event_type ORDER BY d.day
               ) AS BIGINT) AS s_scaled
        FROM daily d JOIN tot t USING (event_type)
    ),
    peak AS (
        SELECT event_type, day, n, s_scaled, abs(s_scaled) AS mag,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY abs(s_scaled) DESC, day
               ) AS rn
        FROM cusum
    )
    SELECT event_type, day AS change_day, s_scaled AS cusum_n_scaled,
           n AS n_days
    FROM peak WHERE rn = 1 AND n >= 2
    """,
    doc=(
        "CUSUM change-point detection per event type: the day where "
        "the cumulative deviation of daily counts from the mean peaks "
        "— computed n-scaled (y*n - sum_y) so the mean never becomes "
        "a fraction; exact integers end to end"
    ),
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    daily = ev.groupBy("event_type", _epoch_day().alias("day")).agg(
        F.count(F.lit(1)).alias("y")
    )
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("sy")
    )
    # per-type totals are |event types| rows → broadcast back; the
    # cumulative window partitions by type over per-day rows
    cusum = (
        daily.join(F.broadcast(tot), "event_type")
        .withColumn(
            "s_scaled",
            F.sum(F.col("y") * F.col("n") - F.col("sy")).over(
                W.partitionBy("event_type")
                .orderBy("day")
                .rowsBetween(W.unboundedPreceding, 0)
            ),
        )
    )
    peak = cusum.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("event_type").orderBy(
                F.abs(F.col("s_scaled")).desc(), F.asc("day")
            )
        ),
    )
    return (
        peak.filter((F.col("rn") == 1) & (F.col("n") >= 2))
        .select(
            "event_type",
            F.col("day").alias("change_day"),
            F.col("s_scaled").alias("cusum_n_scaled"),
            F.col("n").alias("n_days"),
        )
    )


AUTOCORR_LAGS = (1, 7)


@register(
    "events_autocorr_lags",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest([{', '.join(str(l) for l in AUTOCORR_LAGS)}]) AS lag),
    pairs AS (
        SELECT lags.lag, a.y AS ya, b.y AS yb
        FROM daily a
        JOIN lags ON TRUE
        JOIN daily b ON b.day = a.day + lags.lag
    )
    SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(*) AS BIGINT) * CAST(sum(ya * yb) AS BIGINT)
               - CAST(sum(ya) AS BIGINT) * CAST(sum(yb) AS BIGINT)
               AS corr_num,
           CAST(count(*) AS BIGINT) * CAST(sum(ya * ya) AS BIGINT)
               - CAST(sum(ya) AS BIGINT) * CAST(sum(ya) AS BIGINT)
               AS den_x,
           CAST(count(*) AS BIGINT) * CAST(sum(yb * yb) AS BIGINT)
               - CAST(sum(yb) AS BIGINT) * CAST(sum(yb) AS BIGINT)
               AS den_y
    FROM pairs GROUP BY lag
    """,
    doc=(
        "autocorrelation of the daily event-count series at lags 1 "
        "and 7 (the weekly-seasonality detector) — exact integer "
        "Pearson numerator and denominators, no floats; r^2 = "
        "num^2/(den_x*den_y) for the reader"
    ),
)
def events_autocorr_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("ts")
    daily = ev.groupBy(_epoch_day().alias("day")).agg(
        F.count(F.lit(1)).alias("y")
    )
    lags = F.explode(
        F.array(*[F.lit(l) for l in AUTOCORR_LAGS])
    ).alias("lag")
    a = daily.select(F.col("day").alias("da"), F.col("y").alias("ya"))
    b = daily.select(F.col("day").alias("db"), F.col("y").alias("yb"))
    # 2x map-side lag expansion of the compacted daily relation, then
    # one equi-join on the shifted day — never a theta join
    pairs = (
        a.select("da", "ya", lags)
        .join(b, F.col("db") == F.col("da") + F.col("lag").cast("long"))
    )
    return pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (
            F.count(F.lit(1)) * F.sum(F.col("ya") * F.col("yb"))
            - F.sum("ya") * F.sum("yb")
        ).alias("corr_num"),
        (
            F.count(F.lit(1)) * F.sum(F.col("ya") * F.col("ya"))
            - F.sum("ya") * F.sum("ya")
        ).alias("den_x"),
        (
            F.count(F.lit(1)) * F.sum(F.col("yb") * F.col("yb"))
            - F.sum("yb") * F.sum("yb")
        ).alias("den_y"),
    )


# --------------------------------------------------------------------------
# Per-type inter-arrival time quantiles — the latency-distribution view
# of the event stream (burst detection thresholds, SLA percentiles,
# arrival-process modeling all start here). Exact order statistics via
# the compacted-distribution pattern (events_exact_global_quantiles):
# the per-type windows run over DISTINCT gap values, never data rows.
# --------------------------------------------------------------------------
@register(
    "events_interarrival_quantiles",
    oracle="""
    WITH seq AS (
        SELECT event_type,
               CAST(epoch_us(ts) AS BIGINT)
               - lag(CAST(epoch_us(ts) AS BIGINT)) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
               ) AS gap_us
        FROM events
    ),
    dist AS (
        SELECT event_type, gap_us, CAST(count(*) AS BIGINT) AS c
        FROM seq WHERE gap_us IS NOT NULL GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, gap_us,
               SUM(c) OVER (PARTITION BY event_type ORDER BY gap_us)
                   AS cum,
               SUM(c) OVER (PARTITION BY event_type) AS n
        FROM dist
    )
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_gaps,
           CAST(MIN(CASE WHEN cum * 100 >= n * 50 THEN gap_us END)
                AS BIGINT) AS p50_us,
           CAST(MIN(CASE WHEN cum * 100 >= n * 90 THEN gap_us END)
                AS BIGINT) AS p90_us,
           CAST(MIN(CASE WHEN cum * 100 >= n * 99 THEN gap_us END)
                AS BIGINT) AS p99_us
    FROM cum GROUP BY event_type
    """,
    doc=(
        "exact per-type inter-arrival quantiles (p50/p90/p99 in "
        "microseconds): lag over the per-type timeline, then the "
        "compacted (gap, count) distribution selects exact order "
        "statistics — windows over distinct gaps, never data rows"
    ),
)
def events_interarrival_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id"
    )
    tl = W.partitionBy("event_type").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    seq = ev.select(
        "event_type", (us - F.lag(us).over(tl)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    dist = seq.groupBy("event_type", "gap_us").agg(
        F.count(F.lit(1)).alias("c")
    )
    wt = W.partitionBy("event_type")
    cum = dist.select(
        "event_type",
        "gap_us",
        F.sum("c")
        .over(wt.orderBy("gap_us").rowsBetween(W.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("c")
        .over(wt.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .alias("n"),
    )

    def q(p: int) -> F.Column:  # type: ignore[name-defined]
        return F.min(
            F.when(F.col("cum") * 100 >= F.col("n") * p, F.col("gap_us"))
        ).cast("long")

    return cum.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_gaps"),
        q(50).alias("p50_us"),
        q(90).alias("p90_us"),
        q(99).alias("p99_us"),
    )
