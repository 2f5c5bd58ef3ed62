"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference has NO stateful streaming at all (SURVEY.md §3.4 — its
DataLoader stops at source/sink plumbing), so this is an extension of
the engine surface: an arbitrary-state per-key operator of the kind
``session_window``/``window`` can't express — here, a per-user running
profile (event count, exact cents sum, distinct event types seen) that
emits an updated row per key per micro-batch and expires idle keys via
processing-time timeout.

Design notes for scale:

- state is partitioned by the grouping key — Spark hash-shuffles input
  to state partitions, so throughput scales with
  ``spark.sql.shuffle.partitions`` / cluster size;
- per-key state here is O(#distinct types) small and bounded — state
  stores never grow with event volume;
- Arrow batches in/out (``applyInPandasWithState``), never row-at-a-time
  Python;
- the timeout bounds state size for churning key populations.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from algorithmproject_spark_spark.functions.numeric import ss_scaled_long

USER_PROFILE_STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("value_cents", LongType()),
        StructField("types_seen", ArrayType(StringType())),
    ]
)

USER_PROFILE_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("value_cents", LongType()),
        StructField("n_types", LongType()),
    ]
)


def _make_update_fn(timeout_ms: int | None):
    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Merge a micro-batch's events for one user into running state
        and emit the refreshed profile row. Exact integer arithmetic
        (half-up cents), so batch order can't perturb results."""
        if state.hasTimedOut:
            state.remove()
            return
        n, cents, seen = state.get if state.exists else (0, 0, [])
        seen_set = set(seen)
        import numpy as np

        for pdf in pdfs:
            n += len(pdf)
            cents += int(
                np.floor(pdf["value"].to_numpy() * 100 + 0.5).astype("int64").sum()
            )
            seen_set.update(pdf["event_type"].astype(str).tolist())
        state.update((n, cents, sorted(seen_set)))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "value_cents": [cents],
                "n_types": [len(seen_set)],
            }
        )

    return update


def user_profile_batch(events: DataFrame) -> DataFrame:
    """Batch twin of :func:`user_profile_stateful`: the profile the
    stream's last update per key equals once it drains — one Catalyst
    ``groupBy(user_id)`` with the same half-up cents
    (``floor(v*100 + 0.5)``, exact integers, so no merge order can
    perturb it) and a distinct count of types seen."""
    return events.groupBy("user_id").agg(
        F.expr("count(1) AS n_events"),
        F.expr(f"sum({ss_scaled_long('value')}) AS value_cents"),
        F.expr("count(DISTINCT event_type) AS n_types"),
    )


def user_profile_stateful(
    events: DataFrame, idle_timeout_ms: int | None = None
) -> DataFrame:
    """Running per-user profile over a stream of
    (user_id, event_type, value, ts) — the engine's
    ``applyInPandasWithState`` showcase. Works only on streaming
    DataFrames (update output mode).

    ``idle_timeout_ms`` expires state for keys idle that long
    (processing-time). NOTE: once any key arms a timeout, Spark keeps
    scheduling state-cleanup micro-batches even with no new data — what
    you want in production for churning key spaces, but it makes
    drain-the-stream test harnesses (``processAllAvailable``) spin, so
    the default is unbounded state.
    """
    timeout = (
        GroupStateTimeout.NoTimeout
        if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return events.groupBy("user_id").applyInPandasWithState(
        _make_update_fn(idle_timeout_ms),
        outputStructType=USER_PROFILE_OUTPUT_SCHEMA,
        stateStructType=USER_PROFILE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )


# ---------------------------------------------------------------------------
# transformWithState — Spark 4's successor API to applyInPandasWithState:
# typed per-key state handles (value/list/map state, TTL, timers) instead
# of one opaque GroupState tuple. The container lacks `protobuf`, which
# the API's state-server protocol requires at QUERY START (plan
# construction is fine), so the end-to-end path is exercised by
# tests/test_streaming.py when protobuf is importable and contract-pinned
# otherwise — the applyInPandasWithState twin above stays the executable
# default here.
# ---------------------------------------------------------------------------
def user_profile_tws(events):
    """Per-user running profile via transformWithStateInPandas: a
    ValueState (n_events, sum_value) updated per micro-batch. Same
    semantics as :func:`user_profile_stateful`; typed state + explicit
    handle lifecycle instead of the GroupState blob."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("sum_value", LongType()),
        ]
    )

    class ProfileProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "profile",
                StructType(
                    [
                        StructField("n", LongType(), True),
                        StructField("sv", LongType(), True),
                    ]
                ),
            )

        def handleInputRows(self, key, rows, timerValues):
            n, sv = self._state.get() if self._state.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                sv += int(pdf["value"].sum())
            self._state.update((n, sv))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_value": [sv]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=ProfileProcessor(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )
