"""Value pins of the Markov and user-profile batch twins
(streaming/markov.py::transition_counts_batch,
streaming/stateful.py::user_profile_batch) against a pure-Python
re-derivation over a small multi-user frame.

Both twins are Catalyst relations — a lead window counted per
(user, src, dst), and one per-user aggregate — so there is no Python
fold whose batch boundaries could drop or double-count a pair; these
pins hold the relations to the model the streams must reproduce.
"""

from __future__ import annotations

import math
from collections import defaultdict


def _events(spark, n_users: int = 4, n_per_user: int = 13):
    rows = []
    eid = 0
    for u in range(n_users):
        for i in range(n_per_user):
            rows.append(
                (u, f"e{(i * (u + 1)) % 5}", i, eid, 1.0 + 0.07 * eid)
            )
            eid += 1
    return rows, spark.createDataFrame(
        rows, "user_id long, event_type string, ts long, event_id long, value double"
    )


def test_markov_twin_counts_match_python_model(spark):
    from algorithmproject_spark_spark.streaming.markov import (
        transition_counts_batch,
    )

    rows, df = _events(spark)
    got = {
        (r.user_id, r.src, r.dst): r.cnt
        for r in transition_counts_batch(df).collect()
    }
    # expected: per user, sort by (ts, event_id), count adjacent pairs
    expected: dict = defaultdict(int)
    by_user: dict = defaultdict(list)
    for u, et, ts, eid, _v in rows:
        by_user[u].append((ts, eid, et))
    for u, seq in by_user.items():
        seq.sort()
        for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
            expected[(u, a, b)] += 1
    assert got == dict(expected)


def test_profile_twin_aggregates_match_python_model(spark):
    from algorithmproject_spark_spark.streaming.stateful import (
        user_profile_batch,
    )

    rows, df = _events(spark)
    got = {
        r.user_id: (r.n_events, r.value_cents, r.n_types)
        for r in user_profile_batch(df).collect()
    }
    expected: dict = {}
    by_user: dict = defaultdict(list)
    for u, et, _ts, _eid, v in rows:
        by_user[u].append((et, v))
    for u, seq in by_user.items():
        cents = sum(int(math.floor(v * 100 + 0.5)) for _, v in seq)
        expected[u] = (len(seq), cents, len({et for et, _ in seq}))
    assert got == expected
