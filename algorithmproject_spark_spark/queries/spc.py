"""Statistical process control + merchandising analytics.

Four last-mile analytics families, all in the exact-integer oracle
discipline:

- **Day-of-week seasonality profile** (``events_dow_profile``): the
  weekly rhythm behind the lag-7 autocorrelation — per (day-of-week,
  type) counts with exact permille share of the type's total. Epoch
  day mod 7 (1970-01-01 was a Thursday — dow 0 = Thursday; a
  consistent, engine-portable convention that avoids locale-dependent
  DAYOFWEEK functions entirely).

- **p-chart error-rate control** (``events_error_pchart_days``): the
  classic SPC proportion chart — flag days whose error share departs
  more than 3σ from the corpus rate. The binomial 3σ test
  |p̂−p| > 3·√(p(1−p)/n) is cross-multiplied into PURE integers on
  permille-floored proportions: flag ⇔ d²·n > 9·P·(1000−P) with
  d = p̂‰−P‰ — no sqrt, no floats, overflow-safe to ~10¹⁰ rows/day.

- **ABC (Pareto) revenue classes** (``part_abc_classes``): rank parts
  by revenue, class A = first 80% of cumulative revenue, B = next
  15%, C = tail — the inventory-management standard. Cumulative
  window over the per-part revenue relation (dimension-sized);
  boundaries by exact integer comparison cum·100 vs total·{{80,95}}.

- **Spend-band migration** (``customer_band_migration``): split
  the order history at its median date, band customers into spend
  terciles within each half (exact cumulative-count cuts over the
  compacted per-customer spend distribution), and count the
  tercile→tercile transition matrix — the "customer movement" view
  behind churn/upsell dashboards. Customers absent from a half land
  in band 0 via the full-outer join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from algorithmproject_spark_spark.functions.numeric import (
    sql_scaled_long,
    ss_floordiv,
    ss_micros,
    ss_scaled_long,
    tdiv,
)
from algorithmproject_spark_spark.queries.trend import _epoch_day
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table


@register(
    "events_dow_profile",
    oracle="""
    WITH d AS (
        SELECT event_type,
               (CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)) % 7
                   AS dow,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, CAST(sum(n) AS BIGINT) AS tn
        FROM d GROUP BY event_type
    )
    SELECT d.event_type, d.dow, d.n,
           (d.n * 1000) // tot.tn AS share_permille
    FROM d JOIN tot USING (event_type)
    """,
    doc=(
        "day-of-week seasonality profile per event type (epoch-day "
        "mod 7 — locale-free), exact permille shares"
    ),
)
def events_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    d = ev.groupBy("event_type", (_epoch_day() % 7).alias("dow")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = d.groupBy("event_type").agg(F.sum("n").alias("tn"))
    return d.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "dow",
        "n",
        F.expr(ss_floordiv("n * 1000", "tn")).alias("share_permille"),
    )


@register(
    "events_error_pchart_days",
    oracle="""
    WITH daily AS (
        SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS e
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(e) AS BIGINT) AS te
        FROM daily
    ),
    scored AS (
        SELECT day, n, e,
               (e * 1000) // n AS p_hat_permille,
               (te * 1000) // tn AS p_permille
        FROM daily CROSS JOIN tot
    )
    SELECT day, n, e, p_hat_permille, p_permille,
           CASE WHEN (p_hat_permille - p_permille)
                     * (p_hat_permille - p_permille) * n
                    > 9 * p_permille * (1000 - p_permille)
                THEN 1 ELSE 0 END AS out_of_control
    FROM scored
    """,
    doc=(
        "p-chart SPC on daily error proportion: 3-sigma binomial test "
        "cross-multiplied to pure integers on permille proportions — "
        "d^2*n > 9*P*(1000-P), no sqrt, no floats"
    ),
    plan=("scalar_cross",),  # corpus rate is a broadcast 1-row aggregate
)
def events_error_pchart_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    daily = ev.groupBy(_epoch_day().alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        )
        .cast("long")
        .alias("e"),
    )
    tot = daily.agg(F.sum("n").alias("tn"), F.sum("e").alias("te"))
    scored = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "n",
        "e",
        F.expr(ss_floordiv("e * 1000", "n")).alias("p_hat_permille"),
        F.expr(ss_floordiv("te * 1000", "tn")).alias("p_permille"),
    )
    d = F.col("p_hat_permille") - F.col("p_permille")
    return scored.select(
        "day",
        "n",
        "e",
        "p_hat_permille",
        "p_permille",
        F.when(
            d * d * F.col("n")
            > F.lit(9)
            * F.col("p_permille")
            * (F.lit(1000) - F.col("p_permille")),
            1,
        )
        .otherwise(0)
        .alias("out_of_control"),
    )


@register(
    "part_abc_classes",
    oracle=f"""
    WITH rev AS (
        SELECT l_partkey,
               CAST(sum({sql_scaled_long('l_extendedprice')}) AS BIGINT)
                   AS cents
        FROM lineitem GROUP BY l_partkey
    ),
    cum AS (
        SELECT l_partkey, cents,
               CAST(SUM(cents) OVER (
                   ORDER BY cents DESC, l_partkey
               ) AS BIGINT) AS cumrev,
               CAST(SUM(cents) OVER () AS BIGINT) AS total
        FROM rev
    ),
    classed AS (
        SELECT CASE WHEN cumrev * 100 <= total * 80 THEN 'A'
                    WHEN cumrev * 100 <= total * 95 THEN 'B'
                    ELSE 'C' END AS abc,
               cents
        FROM cum
    )
    SELECT abc, CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(cents) AS BIGINT) AS revenue_cents,
           CAST(min(cents) AS BIGINT) AS min_part_cents
    FROM classed GROUP BY abc
    """,
    doc=(
        "ABC (Pareto 80/15/5) revenue classification of parts: "
        "cumulative-revenue window over the per-part relation, exact "
        "integer boundary comparisons"
    ),
    plan=("global_sort",),  # the cumulative order over the compacted
    # per-part revenue relation IS the semantics
)
def part_abc_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", F.expr(ss_scaled_long("l_extendedprice")).alias("cents")
    )
    rev = li.groupBy("l_partkey").agg(F.sum("cents").alias("cents"))
    cum = rev.select(
        "l_partkey",
        "cents",
        F.sum("cents")
        .over(
            W.orderBy(F.desc("cents"), F.asc("l_partkey")).rowsBetween(
                W.unboundedPreceding, 0
            )
        )
        .alias("cumrev"),
        F.sum("cents")
        .over(
            W.partitionBy().rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        )
        .alias("total"),
    )
    abc = (
        F.when(F.col("cumrev") * 100 <= F.col("total") * 80, "A")
        .when(F.col("cumrev") * 100 <= F.col("total") * 95, "B")
        .otherwise("C")
    )
    return (
        cum.select(abc.alias("abc"), "cents")
        .groupBy("abc")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("cents").alias("revenue_cents"),
            F.min("cents").alias("min_part_cents"),
        )
    )


N_BANDS = 3  # spend terciles per half-period


def _sql_banded(spend_cte: str) -> str:
    """Band a (o_custkey, v) spend CTE into terciles by exact
    cumulative-count cuts over the compacted spend distribution."""
    return f"""(
        SELECT s.o_custkey,
               CAST(1 + (CASE WHEN c.cum * {N_BANDS} <= c.n * 1 THEN 0
                              WHEN c.cum * {N_BANDS} <= c.n * 2 THEN 1
                              ELSE 2 END) AS BIGINT) AS band
        FROM {spend_cte} s JOIN (
            SELECT v,
                   CAST(SUM(cnt) OVER (ORDER BY v) AS BIGINT) AS cum,
                   CAST(SUM(cnt) OVER () AS BIGINT) AS n
            FROM (SELECT v, count(*) AS cnt FROM {spend_cte} GROUP BY v)
        ) c ON s.v = c.v
    )"""


@register(
    "customer_band_migration",
    oracle=f"""
    WITH half AS (
        SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                    AS BIGINT) AS day,
               o_custkey,
               {sql_scaled_long('o_totalprice')} AS cents
        FROM orders
    ),
    med AS (
        SELECT CAST(min(CASE WHEN cum * 2 >= n THEN day END) AS BIGINT)
                   AS cut
        FROM (
            SELECT day,
                   CAST(SUM(c) OVER (ORDER BY day) AS BIGINT) AS cum,
                   CAST(SUM(c) OVER () AS BIGINT) AS n
            FROM (SELECT day, count(*) AS c FROM half GROUP BY day)
        )
    ),
    s1 AS (
        SELECT o_custkey, CAST(sum(cents) AS BIGINT) AS v
        FROM half CROSS JOIN med WHERE day <= cut GROUP BY o_custkey
    ),
    s2 AS (
        SELECT o_custkey, CAST(sum(cents) AS BIGINT) AS v
        FROM half CROSS JOIN med WHERE day > cut GROUP BY o_custkey
    ),
    b1 AS (SELECT * FROM {_sql_banded('s1')}),
    b2 AS (SELECT * FROM {_sql_banded('s2')})
    SELECT COALESCE(b1.band, 0) AS band_then,
           COALESCE(b2.band, 0) AS band_now,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM b1 FULL OUTER JOIN b2 ON b1.o_custkey = b2.o_custkey
    GROUP BY 1, 2
    """,
    doc=(
        "customer spend-tercile migration across the median-date "
        "split: exact cumulative-count band cuts per half, "
        "full-outer transition matrix (band 0 = absent that half)"
    ),
    plan=("scalar_cross", "global_sort"),  # median-day scalar; banding
    # windows ride compacted spend distributions
)
def customer_band_migration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        _epoch_day("o_orderdate").alias("day"),
        "o_custkey",
        F.expr(ss_scaled_long("o_totalprice")).alias("cents"),
    )
    # median order day via the compacted day distribution
    dd = o.groupBy("day").agg(F.count(F.lit(1)).alias("c"))
    dcum = dd.select(
        "day",
        F.sum("c")
        .over(W.orderBy("day").rowsBetween(W.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("c")
        .over(
            W.partitionBy().rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        )
        .alias("n"),
    )
    med = dcum.agg(
        F.min(
            F.when(F.col("cum") * 2 >= F.col("n"), F.col("day"))
        ).alias("cut")
    )
    oc = o.crossJoin(F.broadcast(med))

    def banded(spend: DataFrame) -> DataFrame:
        dist = spend.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
        cum = dist.select(
            "v",
            F.sum("cnt")
            .over(W.orderBy("v").rowsBetween(W.unboundedPreceding, 0))
            .alias("cum"),
            F.sum("cnt")
            .over(
                W.partitionBy().rowsBetween(
                    W.unboundedPreceding, W.unboundedFollowing
                )
            )
            .alias("n"),
        )
        band = (
            F.lit(1)
            + F.when(F.col("cum") * N_BANDS <= F.col("n") * 1, 0)
            .when(F.col("cum") * N_BANDS <= F.col("n") * 2, 1)
            .otherwise(2)
        ).cast("long")
        return spend.join(cum, "v").select(
            "o_custkey", band.alias("band")
        )

    s1 = (
        oc.filter(F.col("day") <= F.col("cut"))
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("v"))
    )
    s2 = (
        oc.filter(F.col("day") > F.col("cut"))
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("v"))
    )
    b1 = banded(s1).withColumnRenamed("band", "band_then")
    b2 = banded(s2).withColumnRenamed(
        "band", "band_now"
    ).withColumnRenamed("o_custkey", "ck2")
    return (
        b1.join(b2, b1["o_custkey"] == b2["ck2"], "full_outer")
        .select(
            F.coalesce("band_then", F.lit(0)).alias("band_then"),
            F.coalesce("band_now", F.lit(0)).alias("band_now"),
        )
        .groupBy("band_then", "band_now")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# --------------------------------------------------------------------------
# Seasonally-adjusted robust outlier days: remove the day-of-week mean
# (the dominant periodic component events_dow_profile measures), then
# flag days whose residual departs more than 3 MADs from the residual
# median — the robust volume-anomaly detector that neither raw-count
# thresholds (fooled by weekends) nor mean/stddev flags (broken by the
# outliers they hunt) give you. Exact integers end to end: dow means
# in 1e6 units (count·1e6 div days-observed), lower-medians over the
# compacted per-day relation (one row per day — calendar-bounded, so
# the single-partition median windows are windows over a dimension,
# the events_mad_outliers discipline).
# --------------------------------------------------------------------------
@register(
    "events_dow_adjusted_outliers",
    plan=("scalar_cross", "global_sort"),
    oracle="""
    WITH daily AS (
        SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
                   AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    dowm AS (
        SELECT day % 7 AS dow,
               CAST(sum(n) * 1000000 // count(*) AS BIGINT) AS mean_e6
        FROM daily GROUP BY 1
    ),
    resid AS (
        SELECT d.day, d.day % 7 AS dow, d.n,
               d.n * 1000000 - m.mean_e6 AS r_e6
        FROM daily d JOIN dowm m ON d.day % 7 = m.dow
    ),
    med AS (
        SELECT MIN(CASE WHEN rn * 2 >= cnt THEN r_e6 END) AS med_e6
        FROM (
            SELECT r_e6,
                   row_number() OVER (ORDER BY r_e6) AS rn,
                   count(*) OVER () AS cnt
            FROM resid
        )
    ),
    mad AS (
        SELECT MIN(CASE WHEN rn * 2 >= cnt THEN dev END) AS mad_e6
        FROM (
            SELECT abs(r.r_e6 - m.med_e6) AS dev,
                   row_number() OVER (ORDER BY abs(r.r_e6 - m.med_e6)) AS rn,
                   count(*) OVER () AS cnt
            FROM resid r CROSS JOIN med m
        )
    )
    SELECT r.day, r.dow, r.n, r.r_e6,
           CASE WHEN abs(r.r_e6 - m.med_e6) > 3 * a.mad_e6
                THEN 1 ELSE 0 END AS is_outlier
    FROM resid r CROSS JOIN med m CROSS JOIN mad a
    """,
    doc=(
        "seasonally-adjusted robust outlier days: per-day counts minus "
        "the day-of-week mean (1e6 units), flagged when the residual "
        "departs >3 MADs from the residual median — dow profile + "
        "robust stats composed, exact integers throughout"
    ),
)
def events_dow_adjusted_outliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("ts")
    daily = ev.groupBy(_epoch_day().alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    dowm = daily.groupBy((F.col("day") % 7).alias("dow")).agg(
        F.expr(
            ss_floordiv(
                "sum(n) * CAST(1000000 AS BIGINT)", "CAST(count(1) AS BIGINT)"
            )
        ).alias("mean_e6")
    )
    resid = daily.join(dowm, daily["day"] % 7 == dowm["dow"]).select(
        "day",
        "dow",
        "n",
        (F.col("n") * F.lit(1_000_000).cast("long") - F.col("mean_e6"))
        .alias("r_e6"),
    )
    # Lower-median windows run over the per-day relation — one row per
    # calendar day, a bounded dimension (the global_sort trait below
    # declares the intentional single-partition window).
    wall = W.orderBy("r_e6").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    med = (
        resid.select(
            "r_e6",
            F.row_number().over(W.orderBy("r_e6")).alias("rn"),
            F.count(F.lit(1)).over(wall).alias("cnt"),
        )
        .agg(
            F.min(
                F.when(F.col("rn") * 2 >= F.col("cnt"), F.col("r_e6"))
            ).alias("med_e6")
        )
    )
    dev = resid.crossJoin(F.broadcast(med)).select(
        F.abs(F.col("r_e6") - F.col("med_e6")).alias("dev")
    )
    wdev = W.orderBy("dev").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    mad = (
        dev.select(
            "dev",
            F.row_number().over(W.orderBy("dev")).alias("rn"),
            F.count(F.lit(1)).over(wdev).alias("cnt"),
        )
        .agg(
            F.min(
                F.when(F.col("rn") * 2 >= F.col("cnt"), F.col("dev"))
            ).alias("mad_e6")
        )
    )
    return (
        resid.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .select(
            "day",
            "dow",
            "n",
            "r_e6",
            F.when(
                F.abs(F.col("r_e6") - F.col("med_e6"))
                > 3 * F.col("mad_e6"),
                1,
            )
            .otherwise(0)
            .alias("is_outlier"),
        )
    )


# ---------------------------------------------------------------------------
# EWMA control chart — the engine's first BATCH sequential-recurrence
# query: an exact per-step-floor recurrence has no window-function
# closed form (unlike CUSUM's running-sum-minus-min-prefix identity
# above), so the Spark side is an Arrow-batched applyInPandas over
# per-type day series and the DuckDB twin is a recursive CTE walking
# rn → rn+1.  Both engines compute the IDENTICAL integer recurrence,
# so the result stays hash-exact — the pattern that makes stateful
# sequential operators (EWMA/Holt smoothing, PAVA, per-entity replay)
# oracle-checkable at all.
#
# Recurrence (all BIGINT, α = 1/8 as an exact rational; // is
# DuckDB's truncate-toward-zero BIGINT division, mirrored in Python
# by functions/numeric.py::tdiv — Python's own // floors and diverges
# on negatives):
#   s_1 = x_1                  m_1 = 0
#   s_d = (7·s_{d-1} + x_d) // 8
#   m_d = (7·m_{d-1} + |x_d − s_{d-1}|) // 8
#   flag_d = 1  iff  d ≥ 4  and  m_{d-1} > 0
#                and |x_d − s_{d-1}| > 3·m_{d-1}
# x_d is the day's floor-mean value in micros (≤ ~4.9e8 on these
# fixtures and bounded by max(value)·1e6 at ANY corpus size — a mean,
# not a total, so 7·s never approaches BIGINT range at 100 TB).
# ---------------------------------------------------------------------------

#: the chart's per-day columns, in the order ``ewma_step`` emits them
_EWMA_COLS = ("day", "mean_micros", "ewma_micros", "mad_micros", "flag")


def day_chart_schema(cols) -> str:
    """DDL of a per-type day chart: the type key plus BIGINT columns."""
    return "event_type string, " + ", ".join(f"{c} long" for c in cols)


def ewma_step(s: int, m: int, k: int, day: int, mean: int):
    """Fold day ``k`` (0-based) of a type's series into the EWMA state
    (s, m); returns (row, s, m). The one step of the recurrence: the
    batch walk and the stream (streaming/closedday.py) both call it."""
    if k == 0:
        return (day, mean, mean, 0, 0), mean, 0
    dev = abs(mean - s)
    flag = 1 if k >= 3 and m > 0 and dev > 3 * m else 0
    s, m = tdiv(7 * s + mean, 8), tdiv(7 * m + dev, 8)
    return (day, mean, s, m, flag), s, m


def walk_days(pdf, step, cols):
    """Fold one type's complete day series, in day order, through
    ``step`` — the Arrow-group body of the batch recurrence queries."""
    import pandas as pd

    pdf = pdf.sort_values("day")
    a = b = 0
    rows = []
    for k, (day, mean) in enumerate(zip(pdf["day"], pdf["mean_micros"])):
        row, a, b = step(a, b, k, int(day), int(mean))
        rows.append(row)
    return pd.DataFrame(rows, columns=list(cols)).assign(
        event_type=pdf["event_type"].iloc[0]
    )


def _ewma_walk(pdf):
    return walk_days(pdf, ewma_step, _EWMA_COLS)


#: daily floor-mean value in micros — the recurrence input relation
_SQL_EWMA_DAILY = """
            SELECT event_type,
                   CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
                       AS day,
                   CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
                        AS BIGINT) // CAST(count(*) AS BIGINT)
                       AS mean_micros
            FROM events GROUP BY 1, 2
"""


def _sql_ewma_recursive(base_inner: str) -> str:
    """DuckDB twin of the ``_ewma_walk`` recurrence over any
    (event_type, day, mean_micros) relation — one definition keeps the
    batch chart and the streaming twin's oracle in lockstep."""
    return f"""
    WITH RECURSIVE base AS MATERIALIZED (
        SELECT event_type, day, mean_micros,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY day
               ) AS rn
        FROM ({base_inner})
    ),
    rec AS (
        SELECT event_type, day, rn, mean_micros,
               mean_micros AS ewma_micros,
               CAST(0 AS BIGINT) AS mad_micros,
               CAST(0 AS BIGINT) AS flag
        FROM base WHERE rn = 1
        UNION ALL
        SELECT b.event_type, b.day, b.rn, b.mean_micros,
               ((7 * r.ewma_micros) + b.mean_micros) // 8,
               ((7 * r.mad_micros) + abs(b.mean_micros - r.ewma_micros)) // 8,
               CAST(CASE WHEN b.rn >= 4 AND r.mad_micros > 0
                          AND abs(b.mean_micros - r.ewma_micros)
                              > 3 * r.mad_micros
                    THEN 1 ELSE 0 END AS BIGINT)
        FROM rec r
        JOIN base b
          ON b.event_type = r.event_type AND b.rn = r.rn + 1
    )
    SELECT event_type, day, mean_micros, ewma_micros, mad_micros, flag
    FROM rec
    """


@register(
    "events_ewma_control_chart",
    oracle=_sql_ewma_recursive(_SQL_EWMA_DAILY),
    doc=(
        "EWMA control chart over daily mean event value (α=1/8 exact "
        "rational, per-step floor): days whose deviation from the "
        "running EWMA exceeds 3x the EWMA of absolute deviations are "
        "flagged — the first batch sequential-recurrence query "
        "(Arrow applyInPandas walk, recursive-CTE oracle twin)"
    ),
    plan=("arrow",),
)
def events_ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = ewma_daily(load_table(spark, sf_dir, "events"))
    # ~|types| x |days| rows total: the recurrence input is the COMPACTED
    # daily relation, so the Python stage walks thousands of rows, not
    # the event corpus — groupBy(type) parallelism is one task per type,
    # which is exactly the dependency structure of the recurrence
    return ewma_walk_chart(daily)


def ewma_daily(events: DataFrame) -> DataFrame:
    """(event_type, day, mean_micros) — the recurrence input."""
    ev = events.select("event_type", "ts", "value")
    return ev.groupBy("event_type", _epoch_day().alias("day")).agg(
        F.expr(ss_floordiv(f"sum({ss_micros('value')})", "count(1)")).alias(
            "mean_micros"
        )
    )


def walk_chart(daily: DataFrame, walk, cols) -> DataFrame:
    """Arrow walk of a day recurrence over a daily-mean relation: one
    ``applyInPandas`` group per type, ``walk`` folding its days."""
    return daily.groupBy("event_type").applyInPandas(
        walk, schema=day_chart_schema(cols)
    ).select("event_type", *cols)


def ewma_walk_chart(daily: DataFrame) -> DataFrame:
    """Arrow walk of the EWMA recurrence over a daily-mean relation."""
    return walk_chart(daily, _ewma_walk, _EWMA_COLS)


#: the closed days of the daily relation: each type's maximum day is
#: still open in a stream (a day is scoreable only once a later day
#: has arrived), so the closed-day twins drop it
_SQL_CLOSED_DAYS = f"""
        SELECT event_type, day, mean_micros FROM (
            SELECT event_type, day, mean_micros,
                   max(day) OVER (PARTITION BY event_type) AS mxd
            FROM ({_SQL_EWMA_DAILY})
        ) WHERE day < mxd
    """


def closed_days(daily: DataFrame) -> DataFrame:
    """Spark form of the ``_SQL_CLOSED_DAYS`` filter: the daily relation
    minus each type's maximum day — the input of both closed-day twins."""
    mx = daily.groupBy("event_type").agg(F.max("day").alias("mxd"))
    return (
        daily.join(F.broadcast(mx), "event_type")
        .filter(F.col("day") < F.col("mxd"))
        .drop("mxd")
    )


@register(
    "stream_ewma_batch_twin",
    oracle=_sql_ewma_recursive(_SQL_CLOSED_DAYS),
    doc=(
        "batch twin of the streaming EWMA control chart "
        "(streaming/closedday.py): the recurrence over every CLOSED "
        "day — a day is scoreable only once a later day has arrived, "
        "so each type's maximum (still-open) day is excluded; the "
        "stateful stream's append output converges to exactly this "
        "relation"
    ),
    plan=("arrow",),
)
def stream_ewma_batch_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = ewma_daily(load_table(spark, sf_dir, "events"))
    return ewma_walk_chart(closed_days(daily))
