"""Streaming HDR quantile sketch (streaming/hdrstream.py) — the
Python kernel's bucket/representative twins are pinned against the
Spark expressions AND DuckDB SQL, and the stateful stream is driven
across a real micro-batch seam and compared to the batch twin.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import Row, functions as F

from algorithmproject_spark_spark.queries import REGISTRY
from algorithmproject_spark_spark.queries.hdr import (
    PCTS,
    hdr_bucket,
    sql_hdr_bucket,
    sql_hdr_rep,
    ss_hdr_rep,
)
from algorithmproject_spark_spark.sources.catalog import load_table
from algorithmproject_spark_spark.streaming.hdrstream import (
    hdr_sketch_batch,
    py_hdr_bucket,
    py_hdr_rep,
)

SF = "/root/testdata/sf0.001"

# octave boundaries and interior points for B_BITS=4 (SUB=16)
BATTERY = [0, 1, 7, 15, 16, 17, 31, 32, 33, 63, 64, 255, 256, 1000,
           65535, 65536, 10**6, 5 * 10**8, 2**40 + 12345]


def test_bucket_and_rep_three_engine_battery(spark):
    df = spark.createDataFrame([Row(v=v) for v in BATTERY])
    got = df.select(
        "v", hdr_bucket(F.col("v")).alias("b")
    ).withColumn("r", F.expr(ss_hdr_rep("b"))).collect()
    con = duckdb.connect()
    for row in got:
        v = row["v"]
        pb = py_hdr_bucket(v)
        assert row["b"] == pb, f"spark bucket({v})"
        assert row["r"] == py_hdr_rep(pb), f"spark rep({v})"
        db, dr = con.execute(
            f"SELECT {sql_hdr_bucket(str(v))}, "
            f"{sql_hdr_rep(sql_hdr_bucket(str(v)))}"
        ).fetchone()
        assert db == pb, f"duckdb bucket({v})"
        assert dr == py_hdr_rep(pb), f"duckdb rep({v})"
        # the sketch's defining invariant: v <= rep(bucket(v)), with
        # bounded relative error above the exact range
        assert v <= py_hdr_rep(pb)


def test_python_bucket_rejects_negative():
    with pytest.raises(ValueError):
        py_hdr_bucket(-1)


def test_batch_twin_estimates_match_native_hdr_query(spark):
    native = {
        r["event_type"]: tuple(r[f"est_p{p}_e6"] for p in PCTS)
        for r in REGISTRY["events_hdr_value_quantiles"].fn(spark, SF).collect()
    }
    twin = {
        r["event_type"]: tuple(r[f"est_p{p}_e6"] for p in PCTS)
        for r in REGISTRY["stream_hdr_batch_twin"].fn(spark, SF).collect()
    }
    assert twin == native


def test_hdr_stream_equals_batch_across_seam(spark, tmp_path):
    """Final snapshot per type (max n_events — counts only add) after a
    2-file stream equals the batch fold of the full history."""
    from algorithmproject_spark_spark.streaming.facade import (
        stream_read_parquet,
        stream_write_memory,
    )
    from algorithmproject_spark_spark.streaming.hdrstream import (
        hdr_sketch_stateful,
    )

    ev = load_table(spark, SF, "events").select("event_id", "event_type", "value")
    expected = {
        r["event_type"]: tuple(
            [r["n_events"]] + [r[f"est_p{p}_e6"] for p in PCTS]
        )
        for r in hdr_sketch_batch(ev).collect()
    }
    assert expected

    src = tmp_path / "hdr_in"
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src))
    stream = stream_read_parquet(
        spark, str(src), ev.schema, max_files_per_trigger=1
    )
    q = stream_write_memory(
        hdr_sketch_stateful(stream), "hdr_snapshots", output_mode="append"
    )
    try:
        q.processAllAvailable()
        ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM hdr_snapshots").collect()
    finally:
        q.stop()
    final: dict[str, tuple] = {}
    for r in rows:
        cur = final.get(r["event_type"])
        if cur is None or r["n_events"] > cur[0]:
            final[r["event_type"]] = tuple(
                [r["n_events"]] + [r[f"est_p{p}_e6"] for p in PCTS]
            )
    assert final == expected
    # the seam was real: at least one type snapshotted more than once
    assert len(rows) > len(final)
