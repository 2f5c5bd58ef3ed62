"""Closed-day recurrence streams — the stateful streaming form of the
sequential-recurrence family: the EWMA control chart (11th streaming
twin) and the Holt forecaster (14th).

The batch queries (queries/spc.py::events_ewma_control_chart,
queries/holt.py::events_holt_forecast) walk each type's daily-mean
series through an exact integer step; a stream cannot score a day until
the day is COMPLETE, so the streaming form holds per-type state

    (pending_day, pending_sum, pending_cnt, <step state a, b>, n_closed)

and folds a day into the step only when a LATER day's first event
arrives — the pending (still-open) day is carried, its mean is never
guessed. Output mode is append: one row per CLOSED day, exactly the
rows of the batch twin over ``closed_days`` (the batch chart minus each
type's maximum day), which is what ties the two in
tests/test_streaming.py. The step itself (``ewma_step``, ``holt_step``)
is the one the batch walk calls, so the recurrence is written once.

State is O(1) per key regardless of event volume — the step needs only
its two state values and the open day's partial sum, never history. The
fold assumes per-key event-time order across micro-batches (file-stream
sources replaying history in order — the same contract as the other
stateful twins); late cross-batch events belong to the watermarked
window family, not a recurrence.

Division parity: a day's mean and every step go through the
truncate-toward-zero ``tdiv`` — bit-identical to the batch walk and the
DuckDB recursive CTE, negative sums (refunds) included.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout

from algorithmproject_spark_spark.functions.numeric import tdiv
from algorithmproject_spark_spark.queries.holt import _HOLT_COLS, holt_step
from algorithmproject_spark_spark.queries.spc import (
    _EWMA_COLS,
    day_chart_schema,
    ewma_step,
)


def closed_day_stateful(events: DataFrame, step, cols, state_cols):
    """Append-mode closed-day rows of ``step`` over a STREAMING
    ``events(event_type, event_id, ts, value)`` frame. ``cols`` names the
    row ``step`` emits; ``state_cols`` names its two state values."""

    def update(key: tuple, pdfs: Iterator[pd.DataFrame], state):
        pday, psum, pcnt, a, b, k = state.get if state.exists else (0,) * 6
        # concatenate BEFORE sorting (chunked Arrow delivery), then fold
        # in (ts, event_id) order — one key's micro-batch, bounded volume
        pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        days = pdf["ts"].values.astype("datetime64[D]").astype("int64")
        vals = np.floor(pdf["value"].values * 1000000.0 + 0.5).astype("int64")
        rows = []
        for day, v in zip(days, vals):
            day, v = int(day), int(v)
            if pcnt == 0:
                pday, psum, pcnt = day, v, 1
            elif day == pday:
                psum, pcnt = psum + v, pcnt + 1
            else:
                row, a, b = step(a, b, k, pday, tdiv(psum, pcnt))
                rows.append(row)
                k += 1
                pday, psum, pcnt = day, v, 1
        state.update((pday, psum, pcnt, a, b, k))
        out = pd.DataFrame(rows, columns=list(cols))
        out.insert(0, "event_type", key[0])
        yield out

    fields = ("pending_day", "pending_sum", "pending_cnt", *state_cols, "n_closed")
    return events.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=day_chart_schema(cols),
        stateStructType=", ".join(f"{c} long" for c in fields),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def ewma_stateful(events: DataFrame) -> DataFrame:
    """Streaming EWMA chart: append-mode closed-day chart rows."""
    return closed_day_stateful(events, ewma_step, _EWMA_COLS, ("s", "m"))


def holt_stateful(events: DataFrame) -> DataFrame:
    """Streaming Holt forecaster: append-mode closed-day forecast rows."""
    return closed_day_stateful(events, holt_step, _HOLT_COLS, ("lvl", "tr"))
