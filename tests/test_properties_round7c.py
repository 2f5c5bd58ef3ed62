"""Property tests for the round-7c kernels against exact Python
models: ppm_wide long division, skyline dominance, the Gini rank
identity, percentile_cont interpolation, and islands run-collapse."""

from __future__ import annotations

import datetime as dt
from fractions import Fraction

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row, functions as F

from algorithmproject_spark_spark.functions.numeric import ss_ppm_wide
from algorithmproject_spark_spark.queries.behavior import events_state_islands
from algorithmproject_spark_spark.queries.profiling import (
    PCTS,
    events_percentile_cont,
)
from algorithmproject_spark_spark.queries.revenue import customer_spend_gini
from algorithmproject_spark_spark.queries.skyline import part_pareto_frontier

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    cases=st.lists(
        st.tuples(
            st.integers(0, 920_000_000_000_000_000),
            st.integers(1, 920_000_000_000_000_000),
        ).map(lambda ct: (min(ct[0], ct[1] - 1), ct[1])),
        min_size=1,
        max_size=50,
    )
)
@SLOW
def test_ppm_wide_equals_exact_division(spark, cases):
    df = spark.createDataFrame(cases, "c long, t long")
    got = [
        r.p
        for r in df.select(F.expr(ss_ppm_wide("c", "t")).alias("p"))
        .collect()
    ]
    assert got == [c * 10**6 // t for c, t in cases]


def _write(spark, tmp_path, table, rows):
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        str(tmp_path / f"{table}.parquet")
    )
    return str(tmp_path)


@given(
    pts=st.lists(
        st.tuples(st.integers(1, 20), st.integers(1, 20)),
        min_size=1,
        max_size=25,
    )
)
@SLOW
def test_skyline_equals_bruteforce_dominance(spark, tmp_path, pts):
    rows = [
        Row(
            p_partkey=i,
            p_name=f"p{i}",
            p_brand="B",
            p_type="T",
            p_size=s,
            p_retailprice=float(pr),
        )
        for i, (pr, s) in enumerate(pts)
    ]
    sf = _write(spark, tmp_path, "part", rows)
    got = sorted(
        (r.p_partkey, r.price_c, r.p_size)
        for r in part_pareto_frontier(spark, sf).collect()
    )
    # brute force: i survives iff no j dominates it
    def dominated(i):
        pi, si = pts[i]
        return any(
            (pj <= pi and sj >= si and (pj < pi or sj > si))
            for j, (pj, sj) in enumerate(pts)
            if j != i
        )

    want = sorted(
        (i, pts[i][0] * 100, pts[i][1])
        for i in range(len(pts))
        if not dominated(i)
    )
    assert got == want


@given(
    spends=st.lists(st.integers(1, 500), min_size=1, max_size=30)
)
@SLOW
def test_gini_equals_mean_absolute_difference(spark, tmp_path, spends):
    # per-customer single orders of `s` dollars; Gini must equal the
    # definitional sum(|xi-xj|) / (2 n sum(x)) exactly
    rows = [
        Row(
            o_orderkey=i,
            o_custkey=i,
            o_orderstatus="O",
            o_totalprice=float(s),
            o_orderdate=dt.datetime(2024, 1, 1),
            o_orderpriority="1",
        )
        for i, s in enumerate(spends)
    ]
    sf = _write(spark, tmp_path, "orders", rows)
    r = customer_spend_gini(spark, sf).collect()[0]
    n, ssum = len(spends), sum(spends)
    mad = sum(abs(a - b) for a in spends for b in spends)  # counts both orders
    want = Fraction(mad, 2 * n * ssum)
    assert Fraction(r.gini_num, r.gini_den) == want
    assert r.gini_ppm == (want.numerator * 10**6) // want.denominator


@given(
    vals=st.lists(st.integers(1, 300), min_size=2, max_size=40)
)
@SLOW
def test_percentile_cont_matches_fraction_model(spark, tmp_path, vals):
    rows = [
        Row(
            event_id=i,
            ts=dt.datetime(2024, 1, 1),
            user_id=1,
            event_type="view",
            value=float(v),
            props="{}",
        )
        for i, v in enumerate(vals)
    ]
    sf = _write(spark, tmp_path, "events", rows)
    r = events_percentile_cont(spark, sf).collect()[0]
    s = sorted(v * 100 for v in vals)
    n = len(s)
    for p in PCTS:
        num = (n - 1) * p
        idx, rem = divmod(num, 100)
        want = s[idx] * (100 - rem) + s[min(idx + 1, n - 1)] * rem
        if rem == 0:
            want = s[idx] * 100
        assert getattr(r, f"p{p}_e4") == want


@given(
    seq=st.lists(st.sampled_from("AB"), min_size=1, max_size=20)
)
@SLOW
def test_islands_match_python_run_collapse(spark, tmp_path, seq):
    rows = [
        Row(
            event_id=i,
            ts=dt.datetime(2024, 1, 1, 0, 0, i),
            user_id=1,
            event_type=t,
            value=1.0,
            props="{}",
        )
        for i, t in enumerate(seq)
    ]
    sf = _write(spark, tmp_path, "events", rows)
    got = sorted(
        (r.event_type, r.n_events, r.start_us, r.end_us)
        for r in events_state_islands(spark, sf).collect()
    )
    # python run-length collapse
    runs, start = [], 0
    for i in range(1, len(seq) + 1):
        if i == len(seq) or seq[i] != seq[start]:
            runs.append((seq[start], i - start, start, i - 1))
            start = i
    base = int(
        dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6
    )
    want = sorted(
        (t, ln, base + s * 10**6, base + e * 10**6)
        for t, ln, s, e in runs
    )
    assert got == want
