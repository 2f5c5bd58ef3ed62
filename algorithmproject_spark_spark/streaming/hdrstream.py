"""Streaming HDR-histogram quantile sketch — bounded per-key histogram
state (13th stateful twin).

The batch HDR query (queries/hdr.py::events_hdr_value_quantiles)
builds the (octave, sub-bucket) histogram in one aggregation; the
streaming form keeps the histogram ITSELF as the per-key state — at
most ~430 (bucket, count) pairs per event type no matter how many
events arrive (state = sketch, the KMV/DSIR design). Each micro-batch
folds its values into the counts and emits a refreshed quantile
snapshot (n_events, p50/p90/p99 estimates).

Convergence contract: bucket counts only ADD (order-insensitive
merge), so after any arrival order of the same events the final
snapshot per key — the row with the maximum ``n_events`` — equals the
batch fold exactly. The bucket/representative functions are Python
twins of the hdr module's Spark/DuckDB expressions, kept in lockstep
by tests/test_hdrstream.py's three-engine battery.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from algorithmproject_spark_spark.queries.hdr import B_BITS, PCTS, SUB

HDR_STATE_SCHEMA = StructType(
    [
        StructField("idxs", ArrayType(LongType())),
        StructField("cnts", ArrayType(LongType())),
    ]
)

HDR_OUTPUT_SCHEMA = StructType(
    [StructField("event_type", StringType()), StructField("n_events", LongType())]
    + [StructField(f"est_p{p}_e6", LongType()) for p in PCTS]
)


def py_hdr_bucket(v: int) -> int:
    """Python twin of queries.hdr.hdr_bucket / sql_hdr_bucket —
    int.bit_length() IS floor(log2)+1, the integer-exact form the
    engines reach via base-2 string length."""
    if v < 0:
        raise ValueError("HDR bucket function requires non-negative values")
    if v < SUB:
        return v
    shift = v.bit_length() - (B_BITS + 1)
    return shift * SUB + (v >> shift)


def py_hdr_rep(idx: int) -> int:
    """Python twin of queries.hdr.ss_hdr_rep / sql_hdr_rep."""
    if idx < SUB:
        return idx
    return (((idx - SUB) % SUB + SUB + 1) << ((idx - SUB) // SUB)) - 1


def _fold(hist: dict[int, int], values) -> None:
    for value in values:
        # same IEEE ops as micros()/sql_micros(): one multiply-add+floor
        v = math.floor(float(value) * 1000000.0 + 0.5)
        b = py_hdr_bucket(v)
        hist[b] = hist.get(b, 0) + 1


def _snapshot(key: str, hist: dict[int, int]) -> pd.DataFrame:
    n = sum(hist.values())
    row: dict[str, list] = {"event_type": [key], "n_events": [n]}
    cum = 0
    targets = list(PCTS)
    ests: dict[int, int] = {}
    for idx in sorted(hist):
        cum += hist[idx]
        while targets and cum * 100 >= n * targets[0]:
            ests[targets.pop(0)] = py_hdr_rep(idx)
    for p in PCTS:
        row[f"est_p{p}_e6"] = [ests.get(p)]
    return pd.DataFrame(row)


def _update(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
    if state.hasTimedOut:
        state.remove()
        return
    if state.exists:
        idxs, cnts = state.get
        hist = dict(zip(idxs, cnts))
    else:
        hist = {}
    seen = False
    for pdf in pdfs:
        if len(pdf):
            seen = True
            _fold(hist, pdf["value"])
    if not seen:
        return
    items = sorted(hist.items())
    state.update(([i for i, _ in items], [c for _, c in items]))
    yield _snapshot(str(key[0]), hist)


def hdr_sketch_stateful(events: DataFrame) -> DataFrame:
    """Per-micro-batch HDR quantile snapshots for a STREAMING events
    frame (append mode; final snapshot per key = max n_events row)."""
    return events.groupBy("event_type").applyInPandasWithState(
        _update,
        outputStructType=HDR_OUTPUT_SCHEMA,
        stateStructType=HDR_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def hdr_sketch_batch(events: DataFrame) -> DataFrame:
    """Batch-degenerate twin: each type's whole history is one
    "micro-batch" — the SAME fold/snapshot code via applyInPandas."""

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        hist: dict[int, int] = {}
        _fold(hist, pdf["value"])
        return _snapshot(str(pdf["event_type"].iloc[0]), hist)

    return events.groupBy("event_type").applyInPandas(
        fold, schema=HDR_OUTPUT_SCHEMA
    )
