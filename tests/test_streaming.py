"""Streaming facade tests: file-stream → watermarked window agg →
memory sink, asserting batch/stream plan equivalence (SURVEY.md §3.4
extension)."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest

from algorithmproject_spark_spark.sources.catalog import load_table
from algorithmproject_spark_spark.streaming import (
    stream_read_parquet,
    stream_write_memory,
    stream_write_parquet,
    windowed_value_agg,
)

SCRATCH = Path(__file__).resolve().parent.parent / ".scratch" / "stream_tests"


@pytest.fixture()
def scratch():
    SCRATCH.mkdir(parents=True, exist_ok=True)
    yield SCRATCH
    shutil.rmtree(SCRATCH, ignore_errors=True)


@pytest.fixture()
def events_dir(spark, scratch):
    """Materialize events (micros timestamps) as a file-stream source dir."""
    path = scratch / "events_in"
    load_table(spark, "/root/testdata/sf0.001", "events").write.mode("overwrite").parquet(
        str(path)
    )
    return path


def test_windowed_agg_stream_equals_batch(spark, events_dir):
    batch_events = spark.read.parquet(str(events_dir))
    expected = {
        (r["window_start"], r["event_type"]): (r["n"], r["value_cents"])
        for r in windowed_value_agg(batch_events).collect()
    }

    stream = stream_read_parquet(spark, str(events_dir), batch_events.schema)
    assert stream.isStreaming
    q = stream_write_memory(
        windowed_value_agg(stream), "win_agg", output_mode="complete"
    )
    try:
        q.processAllAvailable()
        got = {
            (r["window_start"], r["event_type"]): (r["n"], r["value_cents"])
            for r in spark.sql("SELECT * FROM win_agg").collect()
        }
    finally:
        q.stop()
    assert got == expected


def test_stream_parquet_sink_checkpointed(spark, events_dir, scratch):
    stream = stream_read_parquet(
        spark, str(events_dir), spark.read.parquet(str(events_dir)).schema
    )
    out, ckpt = scratch / "out", scratch / "ckpt"
    q = stream_write_parquet(
        stream.select("event_id", "event_type"), str(out), str(ckpt)
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert spark.read.parquet(str(out)).count() == 1000
    assert (ckpt / "offsets").exists()  # exactly-once bookkeeping present

def test_stateful_user_profile_stream(spark, events_dir):
    """applyInPandasWithState: final per-user profile equals the batch
    twin's aggregate (after the stream drains, the last update per key
    wins)."""
    from algorithmproject_spark_spark.streaming import user_profile_stateful
    from algorithmproject_spark_spark.streaming.facade import (
        stream_read_parquet,
        stream_write_memory,
    )
    from algorithmproject_spark_spark.streaming.stateful import (
        user_profile_batch,
    )

    batch = spark.read.parquet(str(events_dir))
    expected = {
        r["user_id"]: (r["n_events"], r["value_cents"], r["n_types"])
        for r in user_profile_batch(batch).collect()
    }

    stream = stream_read_parquet(spark, str(events_dir), batch.schema)
    q = stream_write_memory(
        user_profile_stateful(stream), "user_profiles", output_mode="update"
    )
    try:
        q.processAllAvailable()
        got = {
            r["user_id"]: (r["n_events"], r["value_cents"], r["n_types"])
            for r in spark.sql(
                "SELECT * FROM user_profiles ORDER BY user_id"
            ).collect()
        }
    finally:
        q.stop()
    assert got == expected


def test_session_window_stream_equals_batch(spark, events_dir):
    from algorithmproject_spark_spark.streaming import (
        sessionized_counts,
        stream_read_parquet,
        stream_write_memory,
    )

    batch_events = spark.read.parquet(str(events_dir))
    expected = {
        (r["session_start"], r["session_end"], r["user_id"]): r["n_events"]
        for r in sessionized_counts(batch_events).collect()
    }
    assert expected  # non-degenerate fixture

    stream = stream_read_parquet(spark, str(events_dir), batch_events.schema)
    q = stream_write_memory(
        sessionized_counts(stream), "sess_counts", output_mode="complete"
    )
    try:
        q.processAllAvailable()
        got = {
            (r["session_start"], r["session_end"], r["user_id"]): r["n_events"]
            for r in spark.sql("SELECT * FROM sess_counts").collect()
        }
    finally:
        q.stop()
    assert got == expected


def test_stream_dedup_drops_cross_batch_duplicates(spark, scratch):
    from algorithmproject_spark_spark.streaming import (
        dedup_stream,
        stream_read_parquet,
        stream_write_memory,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    path = scratch / "dup_events_in"
    # two files -> duplicates arrive across micro-batches, not only
    # within one: the state store must carry keys between batches.
    events.write.mode("overwrite").parquet(str(path))
    events.write.mode("append").parquet(str(path))

    batch = spark.read.parquet(str(path))
    assert batch.count() == 2 * events.count()  # fixture really duplicated
    expected = batch.dropDuplicates(["event_id"]).count()
    assert expected == events.count()

    stream = stream_read_parquet(
        spark, str(path), batch.schema, max_files_per_trigger=1
    )
    q = stream_write_memory(
        dedup_stream(stream), "dedup_out", output_mode="append"
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_out").first()
    finally:
        q.stop()
    assert got.n == expected  # every duplicate dropped...
    assert got.d == expected  # ...and each key emitted exactly once


def test_streaming_near_dup_filter_across_batches(spark, scratch):
    """Incremental MinHash-LSH near-dup filter: exact duplicates planted
    in LATER micro-batches (and within one batch) are dropped against
    the persistent survivor store; unique documents all pass. The final
    output must equal the batch twin — process_near_dup_batch replayed
    over the same ordered slices."""
    import os
    import time

    from pyspark.sql import functions as F

    from algorithmproject_spark_spark.streaming.neardup import (
        near_dup_filter_stream,
        process_near_dup_batch,
    )

    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 60)
    )
    slices = [
        docs.filter(F.col("doc_id") < 20),
        # batch 2 carries an exact copy of doc 3 (cross-batch dup) and
        # two copies of doc 7 (cross-batch + within-batch dup pair)
        docs.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 40)).unionAll(
            docs.filter(F.col("doc_id") == 3).select(
                F.lit(1003).alias("doc_id"), "text"
            )
        ).unionAll(
            docs.filter(F.col("doc_id") == 7).select(
                F.lit(1007).alias("doc_id"), "text"
            )
        ).unionAll(
            docs.filter(F.col("doc_id") == 7).select(
                F.lit(2007).alias("doc_id"), "text"
            )
        ),
        docs.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 60)).unionAll(
            docs.filter(F.col("doc_id") == 41).select(
                F.lit(3041).alias("doc_id"), "text"
            )
        ),
    ]
    src = scratch / "neardup_in"
    src.mkdir(parents=True, exist_ok=True)
    for i, sl in enumerate(slices):
        part = scratch / f"neardup_part{i}"
        sl.coalesce(1).write.mode("overwrite").parquet(str(part))
        pq = next(p for p in os.listdir(part) if p.endswith(".parquet"))
        target = src / f"batch{i}.parquet"
        os.rename(part / pq, target)
        # FileStreamSource orders micro-batches by modification time
        os.utime(target, (time.time() + i, time.time() + i))

    from algorithmproject_spark_spark.streaming import stream_read_parquet

    schema = spark.read.parquet(str(src)).schema
    stream = stream_read_parquet(spark, str(src), schema, max_files_per_trigger=1)
    state, out, chk = (
        str(scratch / "nd_state"),
        str(scratch / "nd_out"),
        str(scratch / "nd_chk"),
    )
    q = near_dup_filter_stream(stream, state, out, chk)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
    assert {1003, 1007, 2007, 3041}.isdisjoint(got)  # planted dups dropped
    # the testdata itself contains natural near-dups (what the batch
    # dedup family finds), so not every id < 60 survives — but the bulk
    # must, and the minimum id of any natural cluster always does
    assert len(got) >= 50
    assert 0 in got and 3 in got and 7 in got and 41 in got

    # batch twin: replaying the same slices through the batch function
    # yields the identical survivor set
    state2, out2 = str(scratch / "nd_state2"), str(scratch / "nd_out2")
    for i in range(3):
        batch = spark.read.parquet(str(src / f"batch{i}.parquet"))
        process_near_dup_batch(spark, batch, state2, out2)
    twin = {r.doc_id for r in spark.read.parquet(out2).select("doc_id").collect()}
    assert twin == got


def test_stream_stream_interval_join_equals_batch(spark, events_dir):
    """Watermarked stream-stream click-to-view attribution must equal
    the batch twin row-for-row (same logical plan, stateful execution;
    one micro-batch ingests everything so no row is watermark-late)."""
    from pyspark.sql import functions as F

    from algorithmproject_spark_spark.streaming.joins import click_view_attribution

    batch = spark.read.parquet(str(events_dir))
    expected = sorted(
        (r.user_id, r.view_id, r.click_id, r.gap_us)
        for r in click_view_attribution(
            batch.filter(F.col("event_type") == "view"),
            batch.filter(F.col("event_type") == "click"),
        ).collect()
    )
    assert expected, "fixture should produce at least one attributed pair"

    stream = stream_read_parquet(spark, str(events_dir), batch.schema)
    joined = click_view_attribution(
        stream.filter(F.col("event_type") == "view"),
        stream.filter(F.col("event_type") == "click"),
    )
    assert joined.isStreaming
    q = stream_write_memory(joined, "ss_join", output_mode="append")
    try:
        q.processAllAvailable()
        got = sorted(
            (r.user_id, r.view_id, r.click_id, r.gap_us)
            for r in spark.sql("SELECT * FROM ss_join").collect()
        )
    finally:
        q.stop()
    assert got == expected


def test_watermark_evicts_late_rows(spark, scratch):
    """End-to-end micro-batch watermark semantics: after batch 0
    advances the watermark to 10:30, batch 1's 06:00 row must be
    dropped and watermark-expired state evicted. Asserted from the
    state-store metrics AND the output. Note on metrics: Spark 4
    pre-filters late input BEFORE every stateful operator (the
    correctness-safe plan), so the operator-level
    ``numRowsDroppedByWatermark`` counter stays 0 here — the observable
    contracts are (a) the late row never reaches output/state and
    (b) ``numRowsRemoved`` > 0, i.e. the watermark really evicted
    closed-window state rather than letting state grow forever."""
    import pandas as pd

    from algorithmproject_spark_spark.streaming import (
        stream_read_parquet,
        stream_write_memory,
        windowed_value_agg,
    )

    path = scratch / "late_events_in"
    fresh = pd.DataFrame(
        {
            "event_id": [1, 2],
            "user_id": [10, 11],
            "event_type": ["click", "view"],
            "ts": pd.to_datetime(
                ["2026-01-01 12:00:00", "2026-01-01 12:30:00"]
            ),
            "value": [1.0, 2.0],
        }
    )
    # 06:00 is far below the post-batch-0 watermark (12:30 - 2h = 10:30)
    late = pd.DataFrame(
        {
            "event_id": [3],
            "user_id": [12],
            "event_type": ["click"],
            "ts": pd.to_datetime(["2026-01-01 06:00:00"]),
            "value": [3.0],
        }
    )
    sdf = spark.createDataFrame(fresh)
    sdf.coalesce(1).write.mode("overwrite").parquet(str(path))

    stream = stream_read_parquet(spark, str(path), sdf.schema)
    agg = windowed_value_agg(stream, window="1 hour", watermark="2 hours")
    # update mode: results stream out per batch while watermark-closed
    # windows are REMOVED from the store (append would also hold
    # results back until close; eviction is what's under test)
    q = stream_write_memory(agg, "late_agg", output_mode="update")
    try:
        # drain batch 0 FIRST so the watermark advances to 10:30 before
        # the late file exists — deterministic batch order, no reliance
        # on file mod-time ordering
        q.processAllAvailable()
        spark.createDataFrame(late).coalesce(1).write.mode("append").parquet(
            str(path)
        )
        q.processAllAvailable()
        # batch 2: a 16:00 row pushes the watermark to 14:00, past the
        # 12:00-13:00 windows' end — THEY must now leave the store
        fresher = fresh.assign(
            event_id=[4, 5],
            ts=pd.to_datetime(
                ["2026-01-01 16:00:00", "2026-01-01 16:05:00"]
            ),
        )
        spark.createDataFrame(fresher).coalesce(1).write.mode(
            "append"
        ).parquet(str(path))
        q.processAllAvailable()
        progresses = list(q.recentProgress)
        out = spark.sql(
            "SELECT window_start, event_type, n FROM late_agg"
        ).collect()
    finally:
        q.stop()

    assert len(progresses) >= 3, "expected one micro-batch per file"
    # final watermark advanced off batch 2's max event time (16:05 - 2h)
    wm = progresses[-1]["eventTime"]["watermark"]
    assert wm.startswith("2026-01-01T14:0")
    # the 06:00 late row was dropped: its window never reached output
    assert all(str(r.window_start) != "2026-01-01 06:00:00" for r in out)
    # and watermark-expired state was evicted, not retained forever
    removed = sum(
        op.get("numRowsRemoved", 0)
        for p in progresses
        for op in p.get("stateOperators", [])
    )
    assert removed > 0, "no state rows were evicted by the watermark"


def test_foreach_batch_exactly_once_sink_end_to_end(spark, tmp_path):
    """Rate source → foreachBatch(idempotent parquet writer): the
    micro-batch loop writes hive-partitioned batch_id dirs, and the
    upsert read reconstructs one row per key."""
    from algorithmproject_spark_spark.streaming.exactly_once import (
        idempotent_batch_writer,
        read_upserted,
    )
    from pyspark.sql import functions as F

    target = str(tmp_path / "eo_sink")
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "50")
        .load()
        .select(
            (F.col("value") % 5).alias("user_id"),
            F.col("value").alias("state"),
        )
    )
    q = (
        stream.writeStream.foreachBatch(idempotent_batch_writer(target))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        import time

        # Wait for ROWS, not just a batch dir: the rate source's first
        # micro-batch is often empty (0 elapsed seconds), and an empty
        # batch still creates its batch_id directory.
        deadline = time.time() + 30
        while time.time() < deadline:
            q.processAllAvailable()
            try:
                if spark.read.parquet(target).count() > 0:
                    break
            except Exception:
                pass  # no batch dir yet
            time.sleep(0.5)
    finally:
        q.stop()
    cur = read_upserted(spark, target, ["user_id"])
    rows = cur.collect()
    assert 0 < len(rows) <= 5  # one row per user_id key
    assert len({r["user_id"] for r in rows}) == len(rows)


def test_transform_with_state_profile(spark, tmp_path):
    """Spark 4 transformWithStateInPandas: plan constructs against a
    streaming source unconditionally; the micro-batch execution runs
    end-to-end when `protobuf` (the API's state-server protocol dep)
    is available and is skipped otherwise — the boundary is the
    missing library, not this operator."""
    import pytest
    from pyspark.sql import functions as F

    from algorithmproject_spark_spark.streaming.stateful import (
        user_profile_tws,
    )

    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "100")
        .load()
        .select(
            (F.col("value") % 3).alias("user_id"),
            F.col("value").alias("value"),
        )
    )
    out = user_profile_tws(stream)  # plan construction must succeed
    assert set(out.schema.fieldNames()) == {"user_id", "n_events", "sum_value"}

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("protobuf not in container; execution path env-blocked")

    import time

    q = (
        out.writeStream.format("memory")
        .queryName("tws_profile")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        deadline = time.time() + 40
        rows = []
        while time.time() < deadline:
            q.processAllAvailable()
            rows = spark.sql("SELECT * FROM tws_profile").collect()
            if rows:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert rows and all(r["n_events"] > 0 for r in rows)


def test_stream_static_enrichment_join(spark, events_dir):
    """Stream-static join: every micro-batch row is enriched from the
    batch-side dimension with no streaming state; result equals the
    batch join."""
    from pyspark.sql import functions as F

    from algorithmproject_spark_spark.streaming.facade import (
        stream_read_parquet,
        stream_write_memory,
    )
    from algorithmproject_spark_spark.streaming.joins import (
        enrich_with_static,
    )

    batch = spark.read.parquet(str(events_dir))
    dim = (
        batch.select("user_id").distinct()
        .withColumn("segment", (F.col("user_id") % 3).cast("string"))
    )
    expected = batch.join(dim, "user_id").count()

    stream = stream_read_parquet(spark, str(events_dir), batch.schema)
    q = stream_write_memory(
        enrich_with_static(stream, dim, "user_id", how="inner"),
        "enriched_out",
        output_mode="append",
    )
    try:
        q.processAllAvailable()
        got = spark.sql(
            "SELECT count(*) AS n, count(segment) AS ns FROM enriched_out"
        ).first()
    finally:
        q.stop()
    assert got.n == expected
    assert got.ns == expected  # every row carried the dim attribute


def test_outer_stream_join_finalizes_after_watermark(spark, scratch):
    """LEFT OUTER stream-stream join: an unmatched view's null row is
    held back while a match could still arrive, and emitted exactly
    once after the watermark passes view_ts + gap."""
    import pandas as pd
    from pyspark.sql import functions as F

    from algorithmproject_spark_spark.streaming import (
        stream_read_parquet,
        stream_write_memory,
    )
    from algorithmproject_spark_spark.streaming.joins import (
        click_view_attribution,
    )

    path = scratch / "outer_join_in"
    batch0 = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "user_id": [10, 10, 20],
            "event_type": ["view", "click", "view"],
            # user 10's view at 12:00 gets a click at 12:10 (inside the
            # 30-min gap); user 20's view at 12:00 never gets a click
            "ts": pd.to_datetime(
                ["2026-01-01 12:00:00", "2026-01-01 12:10:00",
                 "2026-01-01 12:00:00"]
            ),
            "value": [1.0, 1.0, 1.0],
        }
    )
    sdf = spark.createDataFrame(batch0)
    sdf.coalesce(1).write.mode("overwrite").parquet(str(path))

    stream = stream_read_parquet(spark, str(path), sdf.schema)
    joined = click_view_attribution(
        stream.filter(F.col("event_type") == "view"),
        stream.filter(F.col("event_type") == "click"),
        how="left_outer",
    )
    q = stream_write_memory(joined, "outer_join_out", output_mode="append")
    try:
        q.processAllAvailable()
        early = spark.sql("SELECT * FROM outer_join_out").collect()
        # matched pair may emit, but user 20's null row MUST NOT yet:
        # watermark (max 12:10 - 1h) hasn't passed 12:00 + 30min
        assert all(r.click_id is not None for r in early)

        # batch 1: advance BOTH sides to 14:00 — the global watermark
        # is the MIN of the two sides' watermarks, so a view-only batch
        # would leave the click side's watermark at 11:10 and user 20's
        # view could still (in principle) get a click. With both sides
        # at 14:00 the watermark reaches 13:00 > 12:00 + 30min.
        late = pd.DataFrame(
            {
                "event_id": [4, 5],
                "user_id": [30, 31],
                "event_type": ["view", "click"],
                "ts": pd.to_datetime(
                    ["2026-01-01 14:00:00", "2026-01-01 14:00:00"]
                ),
                "value": [1.0, 1.0],
            }
        )
        spark.createDataFrame(late).coalesce(1).write.mode("append").parquet(
            str(path)
        )
        q.processAllAvailable()
        # outer results propagate one micro-batch after the watermark
        # moves; drain an empty batch to flush finalized rows
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT user_id, view_id, click_id FROM outer_join_out"
        ).collect()
    finally:
        q.stop()

    got = {(r.user_id, r.view_id): r.click_id for r in rows}
    assert got[(10, 1)] == 2          # attributed inside the gap
    assert (20, 3) in got and got[(20, 3)] is None  # finalized null row
    # only user 20's view is both unmatched AND watermark-finalized
    # (batch 1's 14:00 view is unmatched but not yet past its gap)
    n_null = sum(1 for c in got.values() if c is None)
    assert n_null == 1                # emitted exactly once


def test_anomaly_stream_equals_batch(spark, events_dir):
    """Streaming (n,S,Q) state fold computes the SAME anomaly counts as
    the batch window form — the integer variance test is bit-identical
    by construction; per-user sums across micro-batches must match."""
    from algorithmproject_spark_spark.streaming.anomaly import (
        anomaly_stateful,
        user_anomaly_summary,
    )
    from algorithmproject_spark_spark.streaming.facade import (
        stream_read_parquet,
        stream_write_memory,
    )
    from pyspark.sql import functions as F

    batch = spark.read.parquet(str(events_dir))
    expected = {
        r["user_id"]: (r["n_events"], r["n_anomalies"])
        for r in user_anomaly_summary(batch).collect()
    }

    stream = stream_read_parquet(spark, str(events_dir), batch.schema)
    q = stream_write_memory(
        anomaly_stateful(stream.select("user_id", "event_id", "ts", "value")),
        "anomaly_out",
        output_mode="append",
    )
    try:
        q.processAllAvailable()
        got = {
            r["user_id"]: (r["n"], r["a"])
            for r in spark.sql(
                "SELECT user_id, SUM(n_events) AS n, SUM(n_anomalies) AS a "
                "FROM anomaly_out GROUP BY user_id"
            ).collect()
        }
    finally:
        q.stop()
    assert got == expected
    # sanity: the fixture corpus actually contains checked events
    assert sum(n for n, _ in expected.values()) > 0


def test_anomaly_flags_exact_on_handmade_series(spark):
    """A flat series then a spike: the spike (and only the spike) is
    flagged once MIN_PRIOR history exists."""
    from datetime import datetime

    from algorithmproject_spark_spark.streaming.anomaly import anomaly_flags

    rows = [
        (1, i, datetime(2024, 1, 1, 0, i), v)
        for i, v in enumerate([10.0, 11.0, 9.0, 10.0, 11.0, 9.0, 500.0, 10.0])
    ]
    ev = spark.createDataFrame(rows, ["user_id", "event_id", "ts", "value"])
    out = {r.event_id: r.anomaly for r in anomaly_flags(ev).collect()}
    # events 0..4 have n_prior < 5 → never flagged; 5 is in-band;
    # 6 is the spike; 7 is back in band (prior stats now include 500,
    # inflating sigma — still unflagged)
    assert out == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 0, 6: 1, 7: 0}


def test_markov_transitions_stream_equals_batch(spark, scratch):
    """applyInPandasWithState transition counter: summed per-batch
    increments over a ts-ordered 2-file stream equal the batch twin —
    the per-user last_type state must survive the micro-batch seam."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from algorithmproject_spark_spark.sources.catalog import load_table
    from algorithmproject_spark_spark.streaming import (
        transition_counts_batch,
        transition_counts_stateful,
    )
    from algorithmproject_spark_spark.streaming.facade import (
        stream_read_parquet,
        stream_write_memory,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    expected = {
        (r.src, r.dst): r.cnt
        for r in transition_counts_batch(ev)
        .groupBy("src", "dst")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }

    # split the timeline in (ts, event_id) order so every user's
    # chunk-1 events precede their chunk-2 events — arrival order then
    # matches timestamp order and the stream must equal the batch
    ranked = ev.withColumn(
        "rn", F.row_number().over(W.orderBy("ts", "event_id"))
    )
    src_dir = scratch / "markov_in"
    ranked.filter(F.col("rn") <= 500).drop("rn").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src_dir))

    stream = stream_read_parquet(
        spark, str(src_dir), ev.schema, max_files_per_trigger=1
    )
    q = stream_write_memory(
        transition_counts_stateful(stream),
        "markov_increments",
        output_mode="append",
    )
    try:
        q.processAllAvailable()
        # second chunk arrives AFTER the first drained: state for every
        # user crosses a real micro-batch boundary
        ranked.filter(F.col("rn") > 500).drop("rn").coalesce(1).write.mode(
            "append"
        ).parquet(str(src_dir))
        q.processAllAvailable()
        got = {
            (r.src, r.dst): r.cnt
            for r in spark.sql(
                "SELECT src, dst, CAST(sum(cnt) AS BIGINT) AS cnt "
                "FROM markov_increments GROUP BY src, dst"
            ).collect()
        }
    finally:
        q.stop()
    assert got == expected


def test_kmv_sketch_stream_equals_batch(spark, scratch):
    """applyInPandasWithState KMV sketch: the state IS the bounded
    k-minima array and must survive the micro-batch seam — the final
    snapshot per type (kmv_size DESC, kth_min ASC) over a 2-file
    stream equals the batch twin AND the native batch KMV query."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from algorithmproject_spark_spark.queries.kmv import (
        events_kmv_distinct_users,
    )
    from algorithmproject_spark_spark.sources.catalog import load_table
    from algorithmproject_spark_spark.streaming.facade import (
        stream_read_parquet,
        stream_write_memory,
    )
    from algorithmproject_spark_spark.streaming.kmvstream import (
        kmv_sketch_batch,
        kmv_sketch_stateful,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events").select(
        "event_type", "user_id", "ts", "event_id"
    )
    expected = {
        (r.event_type): (r.kmv_size, r.kth_min, r.est_distinct)
        for r in kmv_sketch_batch(
            ev.select("event_type", "user_id")
        ).collect()
    }
    # the same Python kernel must reproduce the NATIVE batch query's
    # sketch columns — one definition, zero drift
    native = {
        r.event_type: (r.kmv_size, r.kth_min, r.est_distinct)
        for r in events_kmv_distinct_users(spark, sf).collect()
    }
    assert expected == native

    ranked = ev.withColumn(
        "rn", F.row_number().over(W.orderBy("ts", "event_id"))
    ).select("event_type", "user_id", "rn")
    src_dir = scratch / "kmv_in"
    ranked.filter(F.col("rn") <= 500).drop("rn").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src_dir))

    stream = stream_read_parquet(
        spark,
        str(src_dir),
        ranked.drop("rn").schema,
        max_files_per_trigger=1,
    )
    q = stream_write_memory(
        kmv_sketch_stateful(stream), "kmv_snapshots", output_mode="append"
    )
    try:
        q.processAllAvailable()
        ranked.filter(F.col("rn") > 500).drop("rn").coalesce(1).write.mode(
            "append"
        ).parquet(str(src_dir))
        q.processAllAvailable()
        got = {
            r.event_type: (r.kmv_size, r.kth_min, r.est_distinct)
            for r in spark.sql(
                "SELECT event_type, kmv_size, kth_min, est_distinct "
                "FROM (SELECT *, row_number() OVER ("
                "  PARTITION BY event_type "
                "  ORDER BY kmv_size DESC, kth_min ASC) AS rn "
                "FROM kmv_snapshots) WHERE rn = 1"
            ).collect()
        }
    finally:
        q.stop()
    assert got == expected


def test_kmv_python_hash_twin_matches_engines_for_negative_keys(spark):
    """The streaming sketch's Python hash must equal the Spark/DuckDB
    ss_hash_mod INCLUDING negative keys — Python's % is floored while the
    engines truncate, the divergence _tmod exists to remove."""
    import duckdb
    from pyspark.sql import functions as F

    from algorithmproject_spark_spark.functions.numeric import (
        sql_hash_mod,
        ss_hash_mod,
    )
    from algorithmproject_spark_spark.queries.kmv import KMV_MOD
    from algorithmproject_spark_spark.streaming.kmvstream import _hash_key

    keys = [-5, -1000003, -999999999, 0, 7, 1000002, 123456789]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    spark_vals = [
        r.h
        for r in df.select(F.expr(ss_hash_mod("k", KMV_MOD)).alias("h"))
        .collect()
    ]
    con = duckdb.connect()
    duck_vals = [
        con.execute(f"SELECT {sql_hash_mod(str(k), KMV_MOD)}").fetchone()[0]
        for k in keys
    ]
    py_vals = [_hash_key(k) for k in keys]
    assert py_vals == spark_vals == duck_vals


def test_dsir_weights_stream_equals_batch(spark, scratch):
    """Streaming DSIR histogram: the complete-mode snapshot after a
    2-file stream (forced micro-batch seam) equals the batch twin —
    bucket counts are order-insensitive and the weight is a pure
    function of the counts."""
    from pyspark.sql import functions as F

    from algorithmproject_spark_spark.sources.catalog import load_table
    from algorithmproject_spark_spark.streaming.dsirstream import (
        dsir_weights_batch,
        dsir_weights_stream,
    )
    from algorithmproject_spark_spark.streaming.facade import (
        stream_read_parquet,
        stream_write_memory,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang", "text"
    )
    expected = {
        r.b: (r.raw_b, r.tgt_b, r.w_ppm)
        for r in dsir_weights_batch(docs).collect()
    }
    assert expected

    src_dir = scratch / "dsir_in"
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src_dir))
    stream = stream_read_parquet(
        spark, str(src_dir), docs.schema, max_files_per_trigger=1
    )
    q = stream_write_memory(
        dsir_weights_stream(stream), "dsir_snapshots", output_mode="complete"
    )
    try:
        q.processAllAvailable()
        docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(str(src_dir))
        q.processAllAvailable()
        got = {
            r.b: (r.raw_b, r.tgt_b, r.w_ppm)
            for r in spark.sql("SELECT * FROM dsir_snapshots").collect()
        }
    finally:
        q.stop()
    assert got == expected


def test_ewma_stream_equals_batch_twin(spark, events_dir):
    """Streaming per-type EWMA state fold emits exactly the batch
    twin's closed-day rows: the recurrence is bit-identical by
    construction, and the still-open (maximum) day per type is never
    emitted — multi-file micro-batches exercise the pending-day
    carry across batches."""
    from algorithmproject_spark_spark.queries.spc import (
        stream_ewma_batch_twin,
    )
    from algorithmproject_spark_spark.streaming.closedday import (
        ewma_stateful,
    )
    from algorithmproject_spark_spark.streaming.facade import (
        stream_read_parquet,
        stream_write_memory,
    )

    expected = {
        (r.event_type, r.day): (
            r.mean_micros,
            r.ewma_micros,
            r.mad_micros,
            r.flag,
        )
        for r in stream_ewma_batch_twin(spark, "/root/testdata/sf0.001").collect()
    }

    # one file per micro-batch: the pending-day partial sum and the
    # (s, m) recurrence state must carry across batch boundaries. The
    # source is written globally ts-ordered (orderBy -> range-
    # partitioned part files in lexicographic = time order), satisfying
    # the fold's documented per-key event-time-order contract.
    src = events_dir.parent / "events_ewma_in"
    spark.read.parquet(str(events_dir)).orderBy("ts", "event_id").write.mode(
        "overwrite"
    ).parquet(str(src))
    batch = spark.read.parquet(str(src))
    stream = stream_read_parquet(
        spark, str(src), batch.schema, max_files_per_trigger=1
    )
    q = stream_write_memory(
        ewma_stateful(stream.select("event_type", "event_id", "ts", "value")),
        "ewma_out",
        output_mode="append",
    )
    try:
        q.processAllAvailable()
        got = {
            (r.event_type, r.day): (
                r.mean_micros,
                r.ewma_micros,
                r.mad_micros,
                r.flag,
            )
            for r in spark.sql("SELECT * FROM ewma_out").collect()
        }
    finally:
        q.stop()
    assert got == expected
    # sanity: the fold closed a real number of days and flagged sanely
    assert len(expected) > 50
    assert all(f in (0, 1) for (_, _, _, f) in expected.values())


def test_quality_bands_stream_equals_batch(spark, scratch):
    """Streaming quality-band histogram (12th twin): the complete-mode
    snapshot after a 2-file stream (forced micro-batch seam) equals the
    batch twin — band counts are order-insensitive and the scored
    columns are a pure per-row function."""
    from pyspark.sql import functions as F

    from algorithmproject_spark_spark.sources.catalog import load_table
    from algorithmproject_spark_spark.streaming.qualitystream import (
        quality_bands_batch,
        quality_bands_stream,
    )
    from algorithmproject_spark_spark.streaming.facade import (
        stream_read_parquet,
        stream_write_memory,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang", "text"
    )
    expected = {
        (r.lang, r.band): (r.n_docs, r.n_keep)
        for r in quality_bands_batch(docs).collect()
    }
    assert expected

    src_dir = scratch / "quality_in"
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src_dir))
    stream = stream_read_parquet(
        spark, str(src_dir), docs.schema, max_files_per_trigger=1
    )
    q = stream_write_memory(
        quality_bands_stream(stream), "quality_snapshots",
        output_mode="complete",
    )
    try:
        q.processAllAvailable()
        docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(str(src_dir))
        q.processAllAvailable()
        got = {
            (r.lang, r.band): (r.n_docs, r.n_keep)
            for r in spark.sql("SELECT * FROM quality_snapshots").collect()
        }
    finally:
        q.stop()
    assert got == expected


def test_holt_stream_equals_batch_twin(spark, events_dir):
    """Streaming per-type Holt fold emits exactly the batch twin's
    closed-day rows: the coupled level+trend recurrence is bit-
    identical by construction, and the still-open (maximum) day per
    type is never emitted — multi-file micro-batches exercise the
    pending-day carry and the (lvl, tr) state across batch seams."""
    from algorithmproject_spark_spark.queries.holt import (
        stream_holt_batch_twin,
    )
    from algorithmproject_spark_spark.streaming.facade import (
        stream_read_parquet,
        stream_write_memory,
    )
    from algorithmproject_spark_spark.streaming.closedday import (
        holt_stateful,
    )

    expected = {
        (r.event_type, r.day): (
            r.mean_micros,
            r.forecast_micros,
            r.abs_err_micros,
            r.level_micros,
            r.trend_micros,
        )
        for r in stream_holt_batch_twin(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }

    src = events_dir.parent / "events_holt_in"
    spark.read.parquet(str(events_dir)).orderBy("ts", "event_id").write.mode(
        "overwrite"
    ).parquet(str(src))
    batch = spark.read.parquet(str(src))
    stream = stream_read_parquet(
        spark, str(src), batch.schema, max_files_per_trigger=1
    )
    q = stream_write_memory(
        holt_stateful(stream.select("event_type", "event_id", "ts", "value")),
        "holt_out",
        output_mode="append",
    )
    try:
        q.processAllAvailable()
        got = {
            (r.event_type, r.day): (
                r.mean_micros,
                r.forecast_micros,
                r.abs_err_micros,
                r.level_micros,
                r.trend_micros,
            )
            for r in spark.sql("SELECT * FROM holt_out").collect()
        }
    finally:
        q.stop()
    assert got == expected
    assert len(expected) > 50
    # forecasts exist from each type's second closed day onward
    n_fc = sum(1 for (_, fc, *_r) in expected.values() if fc is not None)
    assert n_fc >= len(expected) - 5


def test_streaming_simhash_filter_across_batches(spark, scratch):
    """Incremental SimHash near-dup filter (15th stateful twin): exact
    duplicates planted in LATER micro-batches (and within one batch)
    are dropped against the persistent survivor store; the final output
    must equal process_simhash_batch replayed over the same ordered
    slices — the same seam contract as the MinHash filter."""
    import os
    import time

    from pyspark.sql import functions as F

    from algorithmproject_spark_spark.streaming.simhashstream import (
        process_simhash_batch,
        simhash_filter_stream,
    )

    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 60)
    )
    slices = [
        docs.filter(F.col("doc_id") < 20),
        # batch 2 carries an exact copy of doc 3 (cross-batch dup) and
        # two copies of doc 7 (cross-batch + within-batch dup pair)
        docs.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 40)).unionAll(
            docs.filter(F.col("doc_id") == 3).select(
                F.lit(1003).alias("doc_id"), "text"
            )
        ).unionAll(
            docs.filter(F.col("doc_id") == 7).select(
                F.lit(1007).alias("doc_id"), "text"
            )
        ).unionAll(
            docs.filter(F.col("doc_id") == 7).select(
                F.lit(2007).alias("doc_id"), "text"
            )
        ),
        docs.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 60)).unionAll(
            docs.filter(F.col("doc_id") == 41).select(
                F.lit(3041).alias("doc_id"), "text"
            )
        ),
    ]
    src = scratch / "simhash_in"
    src.mkdir(parents=True, exist_ok=True)
    for i, sl in enumerate(slices):
        part = scratch / f"simhash_part{i}"
        sl.coalesce(1).write.mode("overwrite").parquet(str(part))
        pq = next(p for p in os.listdir(part) if p.endswith(".parquet"))
        target = src / f"batch{i}.parquet"
        os.rename(part / pq, target)
        os.utime(target, (time.time() + i, time.time() + i))

    from algorithmproject_spark_spark.streaming import stream_read_parquet

    schema = spark.read.parquet(str(src)).schema
    stream = stream_read_parquet(spark, str(src), schema, max_files_per_trigger=1)
    state, out, chk = (
        str(scratch / "sh_state"),
        str(scratch / "sh_out"),
        str(scratch / "sh_chk"),
    )
    q = simhash_filter_stream(stream, state, out, chk)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
    assert {1003, 1007, 2007, 3041}.isdisjoint(got)  # planted dups dropped
    assert len(got) >= 50
    assert 0 in got and 3 in got and 7 in got and 41 in got

    # batch twin: replaying the same slices through the batch function
    # yields the identical survivor set
    state2, out2 = str(scratch / "sh_state2"), str(scratch / "sh_out2")
    for i in range(3):
        batch = spark.read.parquet(str(src / f"batch{i}.parquet"))
        process_simhash_batch(spark, batch, state2, out2)
    twin = {r.doc_id for r in spark.read.parquet(out2).select("doc_id").collect()}
    assert twin == got


def test_fp124_kernel_trailing_empty_and_null_tokens(spark):
    """ADVICE r10: a trailing empty token array put len(flat) into the
    reduceat index vector (out-of-bounds crash) and a NULL array broke
    np.asarray. Both must fingerprint as all-zero votes — identical to
    a mid-batch empty — and must not disturb neighbours."""
    import pandas as pd

    from algorithmproject_spark_spark.queries.dedup import _fp124_batches

    def run(th_lists):
        pdf = pd.DataFrame(
            {"doc_id": list(range(len(th_lists))), "th": th_lists}
        )
        out = pd.concat(list(_fp124_batches(iter([pdf]))), ignore_index=True)
        return {
            int(r.doc_id): (int(r.fp_lo), int(r.fp_hi))
            for r in out.itertuples()
        }

    toks = [17, 99, 17]
    # trailing empty, mid empty, NULL, and a trailing NULL batch
    got = run([toks, [], toks, []])
    assert got[1] == (0, 0) and got[3] == (0, 0)
    assert got[0] == got[2] and got[0] != (0, 0)
    ref = got[0]
    got = run([None, toks, None])
    assert got[0] == (0, 0) and got[2] == (0, 0) and got[1] == ref
    # all-empty batch (lens.sum() == 0 path)
    got = run([[], None])
    assert got == {0: (0, 0), 1: (0, 0)}


def test_streaming_filters_idempotent_batch_retry(spark, scratch):
    """ADVICE r10: foreachBatch retries must not double-append. With a
    batch_id both filters write partition directories idempotently —
    replaying a batch (including after a simulated partial failure
    where only the survivor write landed) leaves output and state
    identical to a single clean run."""
    from pyspark.sql import functions as F

    from algorithmproject_spark_spark.streaming.neardup import (
        process_near_dup_batch,
    )
    from algorithmproject_spark_spark.streaming.simhashstream import (
        process_simhash_batch,
        simhash_band_state,
    )

    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 40)
    )
    b0 = docs.filter(F.col("doc_id") < 20)
    b1 = docs.filter(F.col("doc_id") >= 20).unionAll(
        docs.filter(F.col("doc_id") == 3).select(
            F.lit(1003).alias("doc_id"), "text"
        )
    )

    for name, proc in (
        ("sh", lambda b, s, o, i: process_simhash_batch(spark, b, s, o, batch_id=i)),
        ("mh", lambda b, s, o, i: process_near_dup_batch(spark, b, s, o, batch_id=i)),
    ):
        # clean single run — the ground truth the retried run must match
        state_c = str(scratch / f"idem_{name}_state_clean")
        out_c = str(scratch / f"idem_{name}_out_clean")
        proc(b0, state_c, out_c, 0)
        proc(b1, state_c, out_c, 1)
        clean = sorted(
            r.doc_id
            for r in spark.read.parquet(out_c).select("doc_id").collect()
        )

        state = str(scratch / f"idem_{name}_state")
        out = str(scratch / f"idem_{name}_out")
        proc(b0, state, out, 0)
        # simulate a partial batch-1 failure: survivors landed, state
        # write crashed — mimic by writing batch 1 then deleting its
        # state partition
        proc(b1, state, out, 1)
        import shutil

        shutil.rmtree(f"{state}/batch_id=1")
        # retry batch 1 — and then retry it AGAIN fully-committed
        proc(b1, state, out, 1)
        proc(b1, state, out, 1)

        ids = sorted(
            r.doc_id
            for r in spark.read.parquet(out).select("doc_id").collect()
        )
        assert len(ids) == len(set(ids)), f"{name}: duplicated survivors"
        assert 1003 not in ids and 3 in ids
        assert ids == clean, f"{name}: retried run diverges from clean run"
        # state holds exactly the survivors' rows, once each, matching
        # the clean run's store
        st = spark.read.parquet(state).drop("batch_id")
        st_c = spark.read.parquet(state_c).drop("batch_id")
        assert st.exceptAll(st_c).count() == 0
        assert st_c.exceptAll(st).count() == 0

    # empty-batch retry: a batch_id partition holding only _SUCCESS
    # must not break the next batch's store read
    state = str(scratch / "idem_empty_state")
    out = str(scratch / "idem_empty_out")
    empty = b0.filter(F.lit(False))
    process_simhash_batch(spark, empty, state, out, batch_id=0)
    process_simhash_batch(spark, b0, state, out, batch_id=1)
    assert spark.read.parquet(out).count() > 0
    _ = simhash_band_state  # referenced for import-coverage clarity


def test_pca_moment_sketch_stream_equals_batch(spark, scratch):
    """16th stateful twin (VERDICT r11 #6): the streaming PCA moment
    sketch accumulated over ordered micro-batch slices — including an
    idempotent RETRY of a batch after a simulated partial failure —
    snapshots to EXACTLY the batch embedding_moments relation, cell by
    cell (integer moments are additive, so no seam may lose or double
    a batch). Also drives a real file-stream through foreachBatch."""
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    from algorithmproject_spark_spark.operators.pca import (
        embedding_moments,
    )
    from algorithmproject_spark_spark.streaming import stream_read_parquet
    from algorithmproject_spark_spark.streaming.pcastream import (
        moment_sketch_stream,
        moment_snapshot,
        process_moment_batch,
    )

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    batch = {
        (r.i, r.j): r.v for r in embedding_moments(spark, sf).collect()
    }
    assert batch[(-1, -1)] > 0  # corpus non-empty

    # --- replay seam: 3 slices + a retry of the middle one ---
    state = str(scratch / "pca_state")
    slices = [
        emb.filter(F.col("vec_id") % 3 == k).select("embedding")
        for k in range(3)
    ]
    process_moment_batch(spark, slices[0], state, batch_id=0)
    process_moment_batch(spark, slices[1], state, batch_id=1)
    # simulated partial failure: batch 1's partition is lost mid-write,
    # then the batch is retried twice — overwrite semantics must leave
    # exactly one copy of its contribution
    shutil.rmtree(f"{state}/batch_id=1")
    process_moment_batch(spark, slices[1], state, batch_id=1)
    process_moment_batch(spark, slices[1], state, batch_id=1)
    process_moment_batch(spark, slices[2], state, batch_id=2)
    snap = {
        (r.i, r.j): r.v for r in moment_snapshot(spark, state).collect()
    }
    assert snap == batch

    # --- real file-stream through foreachBatch ---
    src = scratch / "pca_in"
    src.mkdir(parents=True, exist_ok=True)
    for k, sl in enumerate(slices):
        part = scratch / f"pca_part{k}"
        sl.coalesce(1).write.mode("overwrite").parquet(str(part))
        pq = next(p for p in os.listdir(part) if p.endswith(".parquet"))
        target = src / f"batch{k}.parquet"
        os.rename(part / pq, target)
        os.utime(target, (time.time() + k, time.time() + k))
    schema = spark.read.parquet(str(src)).schema
    stream = stream_read_parquet(
        spark, str(src), schema, max_files_per_trigger=1
    )
    state2, chk = str(scratch / "pca_state2"), str(scratch / "pca_chk")
    q = moment_sketch_stream(stream, state2, chk)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    snap2 = {
        (r.i, r.j): r.v for r in moment_snapshot(spark, state2).collect()
    }
    assert snap2 == batch

    # empty store snapshots to zero rows (grid totalization is the
    # registered twin's job, not the store's)
    assert moment_snapshot(spark, str(scratch / "pca_nostate")).count() == 0
