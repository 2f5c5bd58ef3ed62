"""Unit tests for cohort LTV, exact Gini (+ ppm_wide), first-last
flows, and lag autocorrelation on hand-computed fixtures."""

from __future__ import annotations

import datetime as dt

import duckdb
from pyspark.sql import Row, functions as F

from algorithmproject_spark_spark.functions.numeric import (
    sql_ppm_wide,
    ss_ppm_wide,
)
from algorithmproject_spark_spark.queries.behavior import user_first_last_flows
from algorithmproject_spark_spark.queries.revenue import (
    customer_spend_gini,
    orders_cohort_ltv_matrix,
)
from algorithmproject_spark_spark.queries.trend import events_autocorr_lags

# adversarial (count, total) pairs: zero, near-equal, and totals at the
# documented 9.2e17 ceiling where ppm()'s 1000x split would overflow
PPM_WIDE_CASES = [
    (0, 1),
    (1, 3),
    (2, 3),
    (919_999_999_999_999_999, 920_000_000_000_000_000),
    (56_281_334_548_714_143, 56_281_334_548_714_144),
    (123_456_789_012_345, 920_000_000_000_000_000),
]


def test_ppm_wide_exact_on_both_engines(spark):
    df = spark.createDataFrame(PPM_WIDE_CASES, "c long, t long")
    got = [
        r.p for r in df.select(F.expr(ss_ppm_wide("c", "t")).alias("p"))
        .collect()
    ]
    want = [c * 10**6 // t for c, t in PPM_WIDE_CASES]
    assert got == want
    con = duckdb.connect()
    for (c, t), w in zip(PPM_WIDE_CASES, want):
        assert con.execute(
            f"SELECT {sql_ppm_wide(str(c), str(t))}"
        ).fetchone()[0] == w


def _write(spark, tmp_path, table, rows):
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        str(tmp_path / f"{table}.parquet")
    )
    return str(tmp_path)


def _order(ok, cust, price, y, m):
    return Row(
        o_orderkey=ok,
        o_custkey=cust,
        o_orderstatus="O",
        o_totalprice=price,
        o_orderdate=dt.datetime(y, m, 15),
        o_orderpriority="1-URGENT",
    )


def test_cohort_ltv_cells(spark, tmp_path):
    sf = _write(
        spark,
        tmp_path,
        "orders",
        [
            _order(1, 1, 10.0, 2024, 1),
            _order(2, 1, 20.0, 2024, 1),
            _order(3, 1, 30.0, 2024, 3),
            _order(4, 2, 5.0, 2024, 3),
        ],
    )
    m0 = 2024 * 12 + 0
    got = {
        (r.cohort_month, r.age_months): (
            r.revenue_cents,
            r.n_orders,
            r.n_customers,
        )
        for r in orders_cohort_ltv_matrix(spark, sf).collect()
    }
    assert got == {
        (m0, 0): (3000, 2, 1),
        (m0, 2): (3000, 1, 1),
        (m0 + 2, 0): (500, 1, 1),
    }


def test_gini_two_customer_inequality(spark, tmp_path):
    # dollar spends 1 and 3: Gini = |1-3| / (2*2*2) = 0.25 exactly
    sf = _write(
        spark,
        tmp_path,
        "orders",
        [_order(1, 1, 1.0, 2024, 1), _order(2, 2, 3.0, 2024, 1)],
    )
    r = customer_spend_gini(spark, sf).collect()[0]
    assert (r.n_customers, r.total_dollars, r.gini_num, r.gini_den, r.gini_ppm) == (2, 4, 2, 8, 250_000)


def _ev(eid, uid, typ, day=1, sec=0):
    return Row(
        event_id=eid,
        ts=dt.datetime(2024, 1, day, 0, 0, sec),
        user_id=uid,
        event_type=typ,
        value=1.0,
        props="{}",
    )


def test_first_last_flows_single_event_user(spark, tmp_path):
    sf = _write(
        spark,
        tmp_path,
        "events",
        [_ev(1, 1, "A", sec=0), _ev(2, 1, "B", sec=5), _ev(3, 2, "C")],
    )
    got = {
        (r.first_type, r.last_type): r.n_users
        for r in user_first_last_flows(spark, sf).collect()
    }
    assert got == {("A", "B"): 1, ("C", "C"): 1}


def test_autocorr_perfect_linear_lag1(spark, tmp_path):
    # daily totals 1,2,3,4: lag-1 series correlate perfectly →
    # num = den_x = den_y = 6; lag 7 has no pairs → no row
    evs, eid = [], 0
    for day, cnt in [(1, 1), (2, 2), (3, 3), (4, 4)]:
        for _ in range(cnt):
            eid += 1
            evs.append(_ev(eid, 1, "A", day=day))
    sf = _write(spark, tmp_path, "events", evs)
    rows = {
        r.lag: (r.n_pairs, r.corr_num, r.den_x, r.den_y)
        for r in events_autocorr_lags(spark, sf).collect()
    }
    assert rows == {1: (3, 6, 6, 6)}
