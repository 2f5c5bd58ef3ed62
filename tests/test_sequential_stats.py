"""Invariant tests for the round-8b sequential-recurrence and
resampling-inference queries (events_ewma_control_chart,
events_bootstrap_ci_mean). Value-exactness is the oracle gate's job;
these pin the semantic contracts the hash cannot see: the recurrence
identity itself, warmup behavior, CI ordering, and the
non-degeneracy of the with-replacement draws (the property an affine
LCG would silently break)."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ewma_rows(spark):
    from algorithmproject_spark_spark.queries.spc import (
        events_ewma_control_chart,
    )

    return events_ewma_control_chart(spark, SF).collect()


def test_ewma_recurrence_identity(ewma_rows):
    """Replaying the recurrence over the emitted daily means must
    reproduce the emitted ewma/mad/flag columns exactly."""
    from collections import defaultdict

    by_type = defaultdict(list)
    for r in ewma_rows:
        by_type[r.event_type].append(r)
    assert by_type
    from algorithmproject_spark_spark.functions.numeric import tdiv

    for rows in by_type.values():
        rows.sort(key=lambda r: r.day)
        s = m = None
        for d, r in enumerate(rows):
            x = r.mean_micros
            if s is None:
                s, m, flag = x, 0, 0
            else:
                dev = abs(x - s)
                flag = 1 if d >= 3 and m > 0 and dev > 3 * m else 0
                s, m = tdiv(7 * s + x, 8), tdiv(7 * m + dev, 8)
            assert (r.ewma_micros, r.mad_micros, r.flag) == (s, m, flag)


def test_tdiv8_truncates_like_duckdb():
    """Negative numerators must truncate toward zero (DuckDB //), not
    floor (Python //): the cross-engine parity the walk depends on —
    and so must a negative divisor."""
    from algorithmproject_spark_spark.functions.numeric import tdiv

    assert tdiv(-7, 8) == 0
    assert tdiv(-8, 8) == -1
    assert tdiv(-9, 8) == -1
    assert tdiv(7, 8) == 0
    assert tdiv(15, 8) == 1
    assert tdiv(7, -2) == -3


def test_ewma_warmup_never_flags(ewma_rows):
    from collections import defaultdict

    by_type = defaultdict(list)
    for r in ewma_rows:
        by_type[r.event_type].append(r)
    for rows in by_type.values():
        rows.sort(key=lambda r: r.day)
        assert all(r.flag == 0 for r in rows[:3])


@pytest.fixture(scope="module")
def ci_rows(spark):
    from algorithmproject_spark_spark.queries.resample import (
        events_bootstrap_ci_mean,
    )

    return events_bootstrap_ci_mean(spark, SF).collect()


def test_bootstrap_ci_brackets_mean(ci_rows):
    assert ci_rows
    for r in ci_rows:
        assert r.ci_lo_micros <= r.mean_micros <= r.ci_hi_micros


def test_bootstrap_ci_nondegenerate(ci_rows):
    """The CI must have nonzero width: an affine (non-quadratic) draw
    visits every row exactly once per replicate, every replicate mean
    equals the true mean, and the interval collapses to a point —
    this is the regression test for that failure mode."""
    for r in ci_rows:
        assert r.ci_lo_micros < r.ci_hi_micros


def test_pick_is_with_replacement():
    """Python replay of the draw hash: within one replicate the picks
    must contain collisions AND omissions (true resampling), not a
    permutation."""
    from algorithmproject_spark_spark.queries.resample import (
        A_MIX,
        B_MIX,
        M_MIX,
        P_MIX,
    )

    n = 1000
    for b in (1, 7, 64):
        picks = set()
        for i in range(1, n + 1):
            h1 = ((i * A_MIX) + (b * B_MIX)) % P_MIX
            h2 = ((h1 * h1) + b) % P_MIX
            picks.add((((h2 * M_MIX) % P_MIX) % n) + 1)
        # a with-replacement draw of n from n keeps ~63.2% distinct;
        # a permutation keeps 100% — demand clearly sub-permutation
        assert len(picks) < 0.9 * n
        assert len(picks) > 0.4 * n
