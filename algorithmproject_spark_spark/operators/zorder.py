"""Z-order (Morton curve) multi-dimensional data layout.

At 100 TB the dominant cost of most queries is the SCAN, and the only
scan optimization that works for MORE THAN ONE predicate column is
interleaved-bit clustering: sort the table by the Morton code of its
hot filter dimensions, write range-partitioned files, and parquet
min/max row-group statistics become tight for EVERY interleaved
dimension at once (a plain sort helps only its leading column). This
is the layout strategy behind Delta/Iceberg `OPTIMIZE ZORDER BY`,
re-expressed as engine-portable integer bit math:

1. scale each dimension to a 16-bit rank:
   ``(x - min) * 65535 div (max - min)`` — exact BIGINT ops, the
   min/max scalars come from ONE 1-row aggregate broadcast back
   (never a driver-side action);
2. spread each 16-bit rank to even bit positions with the classic
   shift-or-mask ladder (4 shifts + 4 masks, whole-stage codegen'd);
3. ``z = spread(a) | spread(b) << 1`` — a 32-bit Morton code;
4. ``repartitionByRange(z).sortWithinPartitions(z)`` + write: every
   output file covers a z-range ⇒ a compact rectangle in (a, b)
   space ⇒ both dimensions' file-level min/max are narrow.

Everything is exact BIGINT (shifts, masks, ors exist in Spark and
DuckDB with identical semantics), so layout decisions are
oracle-checkable — the registered query proves the pruning win as a
checked RESULT, not a claim: it counts how many z-buckets a
single-dimension predicate would scan under z-order vs under a
worst-case layout.

Reference parity: none — the reference writes unsorted output
(nlp/PrepData.scala emits RDD scan order); this is a
beyond-reference storage-layout operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

_SPREAD = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def ss_spread_bits16(expr: str) -> str:
    """Spread a 16-bit value's bits to the even positions of a 32-bit
    word (Morton interleave half): b15..b0 → b15 at bit 30, …, b0 at
    bit 0. Pure shift/mask ladder — codegen'd, exact, portable."""
    x = f"(({expr}) & 65535)"
    for shift, mask in _SPREAD:
        x = f"(({x} | shiftleft({x}, {shift})) & {mask})"
    return x


def ss_zvalue16(a_expr: str, b_expr: str) -> str:
    """32-bit Morton code of two 16-bit ranks (``a`` gets the even
    bits, ``b`` the odd)."""
    return f"({ss_spread_bits16(a_expr)} | shiftleft({ss_spread_bits16(b_expr)}, 1))"


def sql_spread_bits16(expr: str) -> str:
    """DuckDB twin of :func:`ss_spread_bits16` (same ladder)."""
    x = f"(({expr}) & 65535)"
    for shift, mask in _SPREAD:
        x = f"(({x} | ({x} << {shift})) & {mask})"
    return x


def sql_zvalue16(a_expr: str, b_expr: str) -> str:
    return f"({sql_spread_bits16(a_expr)} | ({sql_spread_bits16(b_expr)} << 1))"


# ONE exact-div implementation repo-wide: a local (num - num%den)/den
# copy would silently go inexact past 2^53 (double `/` + cast).
from algorithmproject_spark_spark.functions.numeric import ss_floordiv  # noqa: E402


def ss_rank16(expr: str, vmin: str, vmax: str) -> str:
    """Scale a BIGINT dimension to 0..65535 with exact integer math:
    ``(x - min) * 65535 div (max - min)`` (the degenerate max==min
    case maps everything to 0).

    Overflow contract: ``(max - min) * 65535`` must stay below 2^63 —
    i.e. the dimension's RANGE below ~1.4e14. Timestamps therefore
    enter as epoch SECONDS (range ~3e7/year), never micros."""
    rng = f"(({vmax}) - ({vmin}))"
    return (
        f"CASE WHEN {rng} <= 0 THEN CAST(0 AS BIGINT) "
        f"ELSE {ss_floordiv(f'(({expr}) - ({vmin})) * 65535', rng)} END"
    )


def sql_rank16(expr: str, vmin: str, vmax: str) -> str:
    return (
        f"CASE WHEN ({vmax} - {vmin}) <= 0 THEN CAST(0 AS BIGINT) "
        f"ELSE (({expr} - {vmin}) * 65535) // ({vmax} - {vmin}) END"
    )


def write_zordered(
    df: DataFrame,
    path: str,
    a_col: str,
    b_col: str,
    n_files: int = 16,
) -> None:
    """Write ``df`` as parquet laid out along the Morton curve of two
    BIGINT columns: range-partition by z (each file owns a disjoint
    z-interval) and sort within partitions (tight row-group min/max
    inside each file). One extra shuffle versus a plain write — the
    one-time cost that makes every later 2-dim predicate scan
    ``O(files matching)`` instead of ``O(all files)``."""
    mm = df.agg(
        F.min(a_col).alias("a_min"), F.max(a_col).alias("a_max"),
        F.min(b_col).alias("b_min"), F.max(b_col).alias("b_max"),
    )
    z = F.expr(
        ss_zvalue16(
            ss_rank16(a_col, "a_min", "a_max"), ss_rank16(b_col, "b_min", "b_max")
        )
    )
    (
        df.crossJoin(F.broadcast(mm))
        .withColumn("__z", z)
        .drop("a_min", "a_max", "b_min", "b_max")
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


N_BUCKETS_LOG2 = 24  # 32-bit z div 2^24 → ≤256 coarse layout buckets


def _register() -> None:
    @register(
        "zorder_pruning_stats",
        plan=("scalar_cross",),
        oracle=f"""
        WITH zo_ev AS (
            -- epoch_us // 1e6 floors exactly like Spark's
            -- unix_timestamp; epoch(ts)::BIGINT would ROUND half-even
            SELECT user_id, epoch_us(ts) // 1000000 AS tsec FROM events
        ),
        zo_mm AS (
            SELECT MIN(user_id) AS a_min, MAX(user_id) AS a_max,
                   MIN(tsec) AS b_min, MAX(tsec) AS b_max
            FROM zo_ev
        ),
        zo_z AS (
            SELECT user_id, tsec,
                   {sql_zvalue16(
                       sql_rank16('user_id', 'a_min', 'a_max'),
                       sql_rank16('tsec', 'b_min', 'b_max'),
                   )} // {1 << N_BUCKETS_LOG2} AS bkt
            FROM zo_ev, zo_mm
        ),
        zo_b AS (
            SELECT bkt, COUNT(*) AS n,
                   MIN(user_id) AS u_lo, MAX(user_id) AS u_hi,
                   MIN(tsec) AS t_lo, MAX(tsec) AS t_hi
            FROM zo_z GROUP BY bkt
        ),
        zo_pred AS (
            SELECT (SELECT a_min + (a_max - a_min) // 4 FROM zo_mm) AS u_a,
                   (SELECT a_min + (a_max - a_min) // 2 FROM zo_mm) AS u_b,
                   (SELECT b_min + (b_max - b_min) // 4 FROM zo_mm) AS t_a,
                   (SELECT b_min + (b_max - b_min) // 2 FROM zo_mm) AS t_b
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
               CAST(SUM(n) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN u_hi >= u_a AND u_lo <= u_b
                    THEN 1 ELSE 0 END) AS BIGINT) AS scan_user_pred,
               CAST(SUM(CASE WHEN t_hi >= t_a AND t_lo <= t_b
                    THEN 1 ELSE 0 END) AS BIGINT) AS scan_ts_pred,
               CAST(SUM(CASE WHEN u_hi >= u_a AND u_lo <= u_b
                         AND t_hi >= t_a AND t_lo <= t_b
                    THEN 1 ELSE 0 END) AS BIGINT) AS scan_both_pred
        FROM zo_b, zo_pred
        """,
        doc="Z-order layout effectiveness as a CHECKED RESULT: events "
        "bucketed by Morton(z(user_id, ts_seconds)) div 2^24; per-"
        "bucket min/max envelopes, then the bucket counts a mid-range "
        "user predicate, a mid-range time predicate, and their "
        "conjunction would scan — interleaving keeps BOTH dimensions' "
        "envelopes tight, which is the whole point of the layout",
    )
    def zorder_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
        # one-parse text glue (r13): identical shift/mask ladder
        ev = load_table(spark, sf_dir, "events").selectExpr(
            "user_id", "unix_timestamp(ts) AS tsec"
        )
        mm = ev.agg(
            F.expr("min(user_id) AS a_min"),
            F.expr("max(user_id) AS a_max"),
            F.expr("min(tsec) AS b_min"),
            F.expr("max(tsec) AS b_max"),
        )
        z = ss_zvalue16(
            ss_rank16("user_id", "a_min", "a_max"),
            ss_rank16("tsec", "b_min", "b_max"),
        )
        bkt = ev.crossJoin(F.broadcast(mm)).selectExpr(
            "user_id",
            "tsec",
            f"({z}) div {1 << N_BUCKETS_LOG2} AS bkt",
            # thread the predicate bounds through (exact integer mids)
            "a_min + (a_max - a_min) div 4 AS u_a",
            "a_min + (a_max - a_min) div 2 AS u_b",
            "b_min + (b_max - b_min) div 4 AS t_a",
            "b_min + (b_max - b_min) div 2 AS t_b",
        )
        per_bucket = bkt.groupBy("bkt", "u_a", "u_b", "t_a", "t_b").agg(
            F.expr("count(1) AS n"),
            F.expr("min(user_id) AS u_lo"),
            F.expr("max(user_id) AS u_hi"),
            F.expr("min(tsec) AS t_lo"),
            F.expr("max(tsec) AS t_hi"),
        )
        hit_u = "(u_hi >= u_a AND u_lo <= u_b)"
        hit_t = "(t_hi >= t_a AND t_lo <= t_b)"
        return per_bucket.agg(
            F.expr("count(1) AS n_buckets"),
            F.expr("sum(n) AS n_rows"),
            F.expr(f"sum(CAST({hit_u} AS BIGINT)) AS scan_user_pred"),
            F.expr(f"sum(CAST({hit_t} AS BIGINT)) AS scan_ts_pred"),
            F.expr(
                f"sum(CAST({hit_u} AND {hit_t} AS BIGINT))"
                " AS scan_both_pred"
            ),
        )


_register()
