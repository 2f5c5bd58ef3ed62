"""Streaming Markov transition counting — per-key sequence state.

The batch form (``adjacent_pairs``, counted by ``transition_counts_batch``
and queries/behavior.py::events_markov_transitions) is a ``lead``
window over each user's full timeline; a stream never HAS the
full timeline, so the streaming form keeps exactly one value of state
per user — the LAST event type seen — and emits the transitions each
micro-batch completes: the carried ``last_type → first event of this
batch`` seam plus the adjacent pairs inside the batch. State is O(1)
per key (one string), the minimum any first-order model needs, and
never grows with event volume.

Semantics contract: the stream counts transitions in **arrival order**
(within a micro-batch, rows are put in (ts, event_id) order first —
the same deterministic tiebreak as the batch query). When events
arrive in timestamp order — the property the file-stream tests pin —
the summed stream output equals the batch answer exactly; under
out-of-order arrival the stream is the online approximation, which is
the honest contract of a forward-only model (a watermark + sort would
buy exact order at the cost of emit latency — that variant is the
windows.py sessionization family's territory).

Reference parity: none (reference has no stateful streaming;
SURVEY.md §3.4) — engine extension surface, same family as
streaming/stateful.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

TRANSITION_STATE_SCHEMA = StructType(
    [StructField("last_type", StringType())]
)

TRANSITION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("src", StringType()),
        StructField("dst", StringType()),
        StructField("cnt", LongType()),
    ]
)


def _batch_transitions(user_id: int, types: list[str]) -> pd.DataFrame:
    """Adjacent-pair counts of an ordered type sequence."""
    counts: dict[tuple[str, str], int] = {}
    for src, dst in zip(types, types[1:]):
        counts[(src, dst)] = counts.get((src, dst), 0) + 1
    return pd.DataFrame(
        {
            "user_id": [user_id] * len(counts),
            "src": [k[0] for k in counts],
            "dst": [k[1] for k in counts],
            "cnt": list(counts.values()),
        }
    )


def _update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
):
    if state.hasTimedOut:
        state.remove()
        return
    (last,) = state.get if state.exists else (None,)
    frames = [pdf for pdf in pdfs if len(pdf)]
    if not frames:
        return
    batch = pd.concat(frames).sort_values(["ts", "event_id"])
    types = batch["event_type"].astype(str).tolist()
    seq = ([last] if last is not None else []) + types
    state.update((types[-1],))
    out = _batch_transitions(int(key[0]), seq)
    if len(out):
        yield out


def transition_counts_stateful(events: DataFrame) -> DataFrame:
    """Per-micro-batch transition count increments for a STREAMING
    events frame (append mode; downstream sums per (src, dst))."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=TRANSITION_OUTPUT_SCHEMA,
        stateStructType=TRANSITION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def adjacent_pairs(events: DataFrame) -> DataFrame:
    """``events`` plus ``dst``, the next event type on the user's
    (ts, event_id)-ordered timeline; rows with no successor dropped.
    One row per transition — the relation both the batch Markov model
    (queries/behavior.py) and this stream's summed increments count.
    event_id breaks ts ties: ts collisions exist in the fixtures, and
    an untied order would be partition-order dependent."""
    return events.withColumn(
        "dst",
        F.expr(
            "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
        ),
    ).filter("dst IS NOT NULL")


def transition_counts_batch(events: DataFrame) -> DataFrame:
    """Batch twin of :func:`transition_counts_stateful`: per-user
    (src, dst) counts over each user's whole timeline — what the
    stream's increments sum to when events arrive in (ts, event_id)
    order. A lead window and one aggregate in Catalyst; the adjacency
    is a window, so no Python fold and no carry row is needed."""
    return adjacent_pairs(events).groupBy(
        "user_id", F.expr("event_type AS src"), "dst"
    ).agg(F.expr("count(1) AS cnt"))
