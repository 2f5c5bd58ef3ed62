"""Morton-code layout (operators/zorder.py): bit math, rank scaling,
and the range-partitioned writer's file-level locality guarantee."""

from __future__ import annotations

from pyspark.sql import functions as F

from algorithmproject_spark_spark.operators.zorder import (
    ss_rank16,
    ss_spread_bits16,
    ss_zvalue16,
    write_zordered,
)


def _spread_ref(x: int) -> int:
    return sum(((x >> i) & 1) << (2 * i) for i in range(16))


def test_spread_bits_matches_reference(spark):
    vals = [0, 1, 2, 3, 0xFF, 0x100, 0xAAAA, 0x5555, 0xFFFF]
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    out = {r.x: r.s for r in
           df.select("x", F.expr(ss_spread_bits16("x")).alias("s")).collect()}
    assert out == {v: _spread_ref(v) for v in vals}


def test_zvalue_orders_locality(spark):
    # neighboring (a, b) cells must get closer z than distant ones,
    # and the interleave must be exact: z(a, b) = spread(a)|spread(b)<<1
    df = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4)], ["a", "b"]
    )
    out = {(r.a, r.b): r.z for r in
           df.select("a", "b", F.expr(ss_zvalue16("a", "b")).alias("z")).collect()}
    for (a, b), z in out.items():
        assert z == _spread_ref(a) | (_spread_ref(b) << 1)
    # the 2x2 block (0..1)x(0..1) occupies z 0..3 — a contiguous run
    assert sorted(out[(a, b)] for a in range(2) for b in range(2)) == [0, 1, 2, 3]


def test_rank16_endpoints_and_floor(spark):
    df = spark.createDataFrame([(0,), (50,), (100,)], ["x"])
    out = sorted(
        r.rk for r in df.select(
            F.expr(ss_rank16("x", "0", "100")).alias("rk")
        ).collect()
    )
    assert out[0] == 0 and out[-1] == 65535
    assert out[1] == 50 * 65535 // 100
    # degenerate range maps to 0 instead of dividing by zero
    z = df.select(F.expr(ss_rank16("x", "7", "7")).alias("rk"))
    assert {r.rk for r in z.collect()} == {0}


def test_write_zordered_files_have_disjoint_z_ranges(spark, tmp_path):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("tsec")
    )
    path = str(tmp_path / "zo")
    write_zordered(ev, path, "user_id", "tsec", n_files=4)
    back = spark.read.parquet(path)
    assert back.count() == ev.count()
    # re-derive z from the written rows: per-file z-intervals must be
    # pairwise disjoint (the repartitionByRange guarantee the layout
    # rests on)
    mm = back.agg(
        F.min("user_id").alias("a_min"), F.max("user_id").alias("a_max"),
        F.min("tsec").alias("b_min"), F.max("tsec").alias("b_max"),
    )
    z = F.expr(
        ss_zvalue16(
            ss_rank16("user_id", "a_min", "a_max"), ss_rank16("tsec", "b_min", "b_max")
        )
    )
    # tag the source file BEFORE the broadcast join — input_file_name()
    # refuses multi-source expressions
    tagged = back.select(F.input_file_name().alias("f"), "user_id", "tsec")
    ranges = (
        tagged.crossJoin(F.broadcast(mm))
        .select("f", z.alias("z"))
        .groupBy("f")
        .agg(F.min("z").alias("lo"), F.max("z").alias("hi"))
        .collect()
    )
    spans = sorted((r.lo, r.hi) for r in ranges)
    assert len(spans) >= 2
    for (lo1, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 <= lo2
