"""Holt linear-trend smoothing + one-step-ahead forecast errors — the
third sequential-recurrence member (EWMA chart, Kaplan-Meier product,
now level+trend forecasting).

The EWMA chart (queries/spc.py) smooths a level; capacity planning
needs the TREND too. Holt's method keeps two coupled recurrences over
the per-type daily mean series x_d (α = 1/4, β = 1/8 as exact
rationals, every step a truncating integer division):

    l_1 = x_1                       b_1 = 0
    f_d = l_{d-1} + b_{d-1}                       (one-step forecast)
    l_d = (x_d + 3·(l_{d-1} + b_{d-1})) tdiv 4    (α = 1/4)
    b_d = ((l_d − l_{d-1}) + 7·b_{d-1}) tdiv 8    (β = 1/8)

Coupled recurrences have no window-function closed form, so the Spark
side is the EWMA machinery: an Arrow applyInPandas walk over the
COMPACTED per-type daily relation (calendar-bounded, never the event
corpus), and the DuckDB twin is a recursive CTE computing the
identical integer steps. Values can be negative (trends usually are),
so every division is the truncating ``tdiv`` — the exact divergence
class functions/numeric.py::tdiv exists for.

Output per (type, day): the day's mean, the pre-update forecast
``forecast_micros`` (NULL on day 1 — no prior state), the absolute
error, and the post-update level/trend — the table a capacity
dashboard plots and an alerting rule thresholds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from algorithmproject_spark_spark.functions.numeric import tdiv
from algorithmproject_spark_spark.queries.spc import (
    _SQL_CLOSED_DAYS,
    _SQL_EWMA_DAILY,
    closed_days,
    ewma_daily,
    walk_chart,
    walk_days,
)
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

#: the forecast's per-day columns, in the order ``holt_step`` emits them
_HOLT_COLS = (
    "day",
    "mean_micros",
    "forecast_micros",
    "abs_err_micros",
    "level_micros",
    "trend_micros",
)


def holt_step(lvl: int, tr: int, k: int, day: int, mean: int):
    """Fold day ``k`` (0-based) of a type's series into the Holt state
    (lvl, tr); returns (row, lvl, tr). The one step of the recurrence:
    the batch walk and the stream (streaming/closedday.py) both call
    it."""
    if k == 0:
        return (day, mean, None, None, mean, 0), mean, 0
    fc = lvl + tr
    err = abs(mean - fc)
    new_lvl = tdiv(mean + 3 * fc, 4)  # alpha = 1/4
    new_tr = tdiv((new_lvl - lvl) + 7 * tr, 8)  # beta = 1/8
    return (day, mean, fc, err, new_lvl, new_tr), new_lvl, new_tr


def _holt_walk(pdf):
    return walk_days(pdf, holt_step, _HOLT_COLS)


def _sql_holt_recursive(base_inner: str) -> str:
    """DuckDB twin of the Holt recurrence over any (event_type, day,
    mean_micros) relation — one definition keeps the batch forecast
    and the streaming twin's oracle in lockstep (the EWMA pattern)."""
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
               CAST(NULL AS BIGINT) AS forecast_micros,
               CAST(NULL AS BIGINT) AS abs_err_micros,
               mean_micros AS level_micros,
               CAST(0 AS BIGINT) AS trend_micros
        FROM base WHERE rn = 1
        UNION ALL
        SELECT b.event_type, b.day, b.rn, b.mean_micros,
               r.level_micros + r.trend_micros,
               abs(b.mean_micros - (r.level_micros + r.trend_micros)),
               -- tdiv: DuckDB // truncates toward zero like Spark div
               (b.mean_micros + 3 * (r.level_micros + r.trend_micros)) // 4,
               (((b.mean_micros
                   + 3 * (r.level_micros + r.trend_micros)) // 4
                  - r.level_micros)
                 + 7 * r.trend_micros) // 8
        FROM rec r JOIN base b
          ON b.event_type = r.event_type AND b.rn = r.rn + 1
    )
    SELECT event_type, day, mean_micros, forecast_micros,
           abs_err_micros, level_micros, trend_micros
    FROM rec
    """


@register(
    "events_holt_forecast",
    plan=("arrow",),
    oracle=_sql_holt_recursive(_SQL_EWMA_DAILY),
    doc=(
        "Holt linear-trend smoothing over the per-type daily mean "
        "(alpha=1/4, beta=1/8 exact rationals, every step a truncating "
        "integer division): one-step-ahead forecast, absolute error, "
        "and the post-update level/trend per day — the third "
        "sequential-recurrence member (Arrow walk over the calendar-"
        "bounded compacted daily relation, recursive-CTE oracle twin)"
    ),
)
def events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    return holt_walk_chart(ewma_daily(load_table(spark, sf_dir, "events")))


def holt_walk_chart(daily: DataFrame) -> DataFrame:
    """Arrow walk of the Holt recurrence over a daily-mean relation —
    shared by the batch forecast and the streaming twin's batch form."""
    return walk_chart(daily, _holt_walk, _HOLT_COLS)


@register(
    "stream_holt_batch_twin",
    plan=("arrow",),
    oracle=_sql_holt_recursive(_SQL_CLOSED_DAYS),
    doc=(
        "batch twin of the streaming Holt forecaster "
        "(streaming/closedday.py, 14th stateful twin): the coupled "
        "level+trend recurrence over every CLOSED day — a day is "
        "scoreable only once a later day has arrived, so each type's "
        "maximum (still-open) day is excluded; the stateful stream's "
        "append output converges to exactly this relation"
    ),
)
def stream_holt_batch_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = ewma_daily(load_table(spark, sf_dir, "events"))
    return holt_walk_chart(closed_days(daily))
