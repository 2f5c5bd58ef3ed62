"""RFM customer segmentation — exact value-quartile banding at scale.

The classic lifecycle segmentation: score every customer on Recency
(days since last order), Frequency (order count), Monetary (total
spend), band each dimension into quartiles, and report the segment
grid. The scale-correct banding is the exact-order-statistic cut-point
pattern (events_exact_global_quantiles, quality_dup_calibration):
quartile cuts come from the COMPACTED (value → count) distribution —
a single-partition window over DISTINCT values only, never a global
sort or ntile of the customer relation — then band assignment is a
map-side comparison against the broadcast 1-row cuts.

All three dimensions are exact integers (days, counts, scaled cents),
so cuts, band membership, and every aggregate hash-match cross-engine.
Ties sit in one band in both engines (value quartiles, not ntile's
forced-equal buckets).

Reference parity: none — the reference's user analytics stop at label
bags (UserTextLabelCalc.scala); this is the canonical commerce-side
segmentation its pipelines would feed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from algorithmproject_spark_spark.cacheutil import tracked_cache
from algorithmproject_spark_spark.functions.numeric import ss_scaled_long
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table


def quartile_cuts(df: DataFrame, col: str) -> DataFrame:
    """1-row (p25, p50, p75) exact order statistics of a BIGINT column
    via the compacted-distribution window — reusable banding helper.
    One-parse text glue (r13): identical window/agg expressions, ~25
    py4j trips fewer per call (3 calls per RFM build)."""
    dist = df.groupBy(F.col(col).alias("v")).agg(F.expr("count(1) AS c"))
    cum = dist.selectExpr(
        "v",
        "sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND"
        " CURRENT ROW) AS cum",
        "sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND"
        " UNBOUNDED FOLLOWING) AS n",
    )
    return cum.agg(
        F.expr("min(CASE WHEN cum * 4 >= n THEN v END) AS p25"),
        F.expr("min(CASE WHEN cum * 2 >= n THEN v END) AS p50"),
        F.expr("min(CASE WHEN cum * 4 >= n * 3 THEN v END) AS p75"),
    )


def band(col: Column, p25: Column, p50: Column, p75: Column) -> Column:
    """1..4 value-quartile band of ``col`` against broadcast cuts."""
    return (
        F.lit(1)
        + (col > p25).cast("int")
        + (col > p50).cast("int")
        + (col > p75).cast("int")
    )


def _sql_cuts(rel: str, col: str, prefix: str) -> str:
    """DuckDB twin of :func:`quartile_cuts` as a 1-row CTE body."""
    return f"""
        SELECT MIN(CASE WHEN cum * 4 >= n THEN v END) AS {prefix}25,
               MIN(CASE WHEN cum * 2 >= n THEN v END) AS {prefix}50,
               MIN(CASE WHEN cum * 4 >= n * 3 THEN v END) AS {prefix}75
        FROM (
            SELECT v, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS n
            FROM (SELECT {col} AS v, COUNT(*) AS c FROM {rel} GROUP BY {col})
        )
    """


def _register() -> None:
    @register(
        "customer_rfm_segments",
        plan=("scalar_cross",),
        oracle=f"""
        WITH rfm_a AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS anchor FROM orders),
        rfm_o AS (
            -- recency anchored at the CORPUS max order date (a fixed
            -- calendar anchor would go negative on synthetic data and
            -- is non-reproducible across refreshes anyway)
            SELECT o_custkey AS custkey,
                   CAST(date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                                  (SELECT anchor FROM rfm_a)) AS BIGINT) AS recency_d,
                   CAST(COUNT(*) AS BIGINT) AS frequency,
                   CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                        AS BIGINT) AS monetary_e2
            FROM orders GROUP BY o_custkey
        ),
        rfm_rc AS ({_sql_cuts('rfm_o', 'recency_d', 'r')}),
        rfm_fc AS ({_sql_cuts('rfm_o', 'frequency', 'f')}),
        rfm_mc AS ({_sql_cuts('rfm_o', 'monetary_e2', 'm')}),
        rfm_b AS (
            SELECT custkey, recency_d, frequency, monetary_e2,
                   1 + CASE WHEN recency_d > r25 THEN 1 ELSE 0 END
                     + CASE WHEN recency_d > r50 THEN 1 ELSE 0 END
                     + CASE WHEN recency_d > r75 THEN 1 ELSE 0 END AS r_band,
                   1 + CASE WHEN frequency > f25 THEN 1 ELSE 0 END
                     + CASE WHEN frequency > f50 THEN 1 ELSE 0 END
                     + CASE WHEN frequency > f75 THEN 1 ELSE 0 END AS f_band,
                   1 + CASE WHEN monetary_e2 > m25 THEN 1 ELSE 0 END
                     + CASE WHEN monetary_e2 > m50 THEN 1 ELSE 0 END
                     + CASE WHEN monetary_e2 > m75 THEN 1 ELSE 0 END AS m_band
            FROM rfm_o, rfm_rc, rfm_fc, rfm_mc
        )
        SELECT CAST(r_band AS INTEGER) AS r_band,
               CAST(f_band AS INTEGER) AS f_band,
               CAST(m_band AS INTEGER) AS m_band,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(monetary_e2) AS BIGINT) AS segment_value_e2,
               CAST(MIN(recency_d) AS BIGINT) AS min_recency_d
        FROM rfm_b GROUP BY r_band, f_band, m_band
        """,
        doc="RFM lifecycle segmentation: per-customer recency/"
        "frequency/monetary in exact integers, each banded into VALUE "
        "quartiles via compacted-distribution cut points (no ntile, "
        "no customer-relation sort), segment grid with counts and "
        "exact value totals — the canonical commerce segmentation, "
        "three broadcast 1-row cut scalars + one keyed aggregate",
    )
    def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
        orders = load_table(spark, sf_dir, "orders")
        anchor = orders.agg(F.expr("max(to_date(o_orderdate)) AS anchor"))
        per_cust = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
            F.expr("max(to_date(o_orderdate)) AS last_order"),
            F.expr("count(1) AS frequency"),
            F.expr(f"sum({ss_scaled_long('o_totalprice')})").alias("monetary_e2"),
        )
        rfm = (
            per_cust.crossJoin(F.broadcast(anchor))
            .selectExpr(
                "custkey",
                "CAST(datediff(anchor, last_order) AS BIGINT) AS recency_d",
                "frequency",
                "monetary_e2",
            )
        )
        rfm = tracked_cache(rfm)  # feeds three cut aggregations + the banding pass
        rc = quartile_cuts(rfm, "recency_d").selectExpr(
            "p25 AS r25", "p50 AS r50", "p75 AS r75"
        )
        fc = quartile_cuts(rfm, "frequency").selectExpr(
            "p25 AS f25", "p50 AS f50", "p75 AS f75"
        )
        mc = quartile_cuts(rfm, "monetary_e2").selectExpr(
            "p25 AS m25", "p50 AS m50", "p75 AS m75"
        )

        def ss_band(col: str, pfx: str) -> str:
            return (
                f"1 + CAST({col} > {pfx}25 AS INT)"
                f" + CAST({col} > {pfx}50 AS INT)"
                f" + CAST({col} > {pfx}75 AS INT) AS {pfx}_band"
            )

        banded = (
            rfm.crossJoin(F.broadcast(rc))
            .crossJoin(F.broadcast(fc))
            .crossJoin(F.broadcast(mc))
            .selectExpr(
                "monetary_e2",
                "recency_d",
                ss_band("recency_d", "r"),
                ss_band("frequency", "f"),
                ss_band("monetary_e2", "m"),
            )
        )
        return banded.groupBy("r_band", "f_band", "m_band").agg(
            F.expr("count(1) AS n_customers"),
            F.expr("sum(monetary_e2) AS segment_value_e2"),
            F.expr("min(recency_d) AS min_recency_d"),
        )


_register()
