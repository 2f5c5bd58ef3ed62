"""Holt linear-trend forecast (queries/holt.py) — pinned to a plain-
Python recurrence over the daily relation, including negative-trend
truncation behavior."""

from __future__ import annotations

from algorithmproject_spark_spark.queries import REGISTRY
from algorithmproject_spark_spark.functions.numeric import tdiv

SF = "/root/testdata/sf0.001"


def _py_holt(series):
    lvl = tr = None
    out = []
    for day, x in sorted(series):
        if lvl is None:
            out.append((day, x, None, None, x, 0))
            lvl, tr = x, 0
            continue
        fc = lvl + tr
        err = abs(x - fc)
        new_lvl = tdiv(x + 3 * fc, 4)
        tr = tdiv((new_lvl - lvl) + 7 * tr, 8)
        lvl = new_lvl
        out.append((day, x, fc, err, lvl, tr))
    return out


def test_holt_matches_python(spark):
    from algorithmproject_spark_spark.queries.spc import ewma_daily
    from algorithmproject_spark_spark.sources.catalog import load_table

    daily: dict[str, list] = {}
    for r in ewma_daily(load_table(spark, SF, "events")).collect():
        daily.setdefault(r["event_type"], []).append(
            (r["day"], r["mean_micros"])
        )
    assert daily
    want = {}
    for t, series in daily.items():
        for day, x, fc, err, lvl, tr in _py_holt(series):
            want[(t, day)] = (x, fc, err, lvl, tr)
    got = {
        (r["event_type"], r["day"]): (
            r["mean_micros"],
            r["forecast_micros"],
            r["abs_err_micros"],
            r["level_micros"],
            r["trend_micros"],
        )
        for r in REGISTRY["events_holt_forecast"].fn(spark, SF).collect()
    }
    assert got == want
    # the recurrence actually produced non-trivial trends somewhere
    assert any(tr != 0 for (_, _, _, _, tr) in want.values())


def test_truncating_division_on_negative_trends():
    # a falling series drives (new_lvl - lvl) negative: floor division
    # would round -1/8 to -1 while both engines truncate to 0 — pin the
    # python twin on a crafted descending series
    series = [(d, 1_000_000 - 100_000 * d) for d in range(1, 8)]
    rows = _py_holt(series)
    trends = [tr for *_x, tr in rows]
    assert min(trends) < 0
    # independently verify one step with explicit trunc semantics
    day3 = rows[2]
    day2 = rows[1]
    fc = day2[4] + day2[5]
    assert day3[2] == fc
    assert day3[4] == tdiv(day3[1] + 3 * fc, 4)
