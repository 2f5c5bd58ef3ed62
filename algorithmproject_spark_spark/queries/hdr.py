"""HDR-histogram quantile sketch — the quantile member of the sketch
family (KMV: cardinality, Count-Min: frequency, HLL: cardinality
envelope; this: quantiles with bounded relative error).

HdrHistogram (Gil Tene) buckets non-negative integers by (octave,
sub-bucket): values below 2^B_BITS are exact; above, the top B_BITS+1
bits of the value pick one of 2^B_BITS sub-buckets inside the value's
power-of-two octave — relative error ≤ 2^-B_BITS (6.25% here), bucket
count logarithmic in the value range (~430 buckets for micros of
values up to ~5.6e8). Unlike t-digest/GK summaries the bucket function
is a PURE INTEGER expression — no merge heuristics, no randomness — so
the sketch is order-insensitive, trivially mergeable (counts add), and
its estimates hash-match cross-engine, the same property that makes
KMV the exactly-checkable cardinality sketch.

The bit-length (floor(log2)+1) is computed by formatting the integer
in base 2 and taking the string length — Spark ``conv(v, 10, 2)`` and
DuckDB ``printf('%b', v)`` — because neither engine exposes an integer
count-leading-zeros, and float ``log2`` near octave boundaries can
land one ulp apart across engines (exactly the divergence class the
integer formulation exists to avoid).

Scale shape: one map-side-combined groupBy to ≤ types×430 bucket rows;
the cumulative walk and quantile selection run on that tiny relation.
The EXACT quantiles computed alongside for calibration are the
anti-pattern the sketch replaces (a full per-type sort) — kept here
for the same reason the KMV query carries n_exact: the sketch-vs-truth
gap IS the product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window as W

from algorithmproject_spark_spark.cacheutil import tracked_cache
from algorithmproject_spark_spark.functions.numeric import ss_floordiv, ss_micros
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

B_BITS = 4
SUB = 1 << B_BITS  # 16 sub-buckets per octave
PCTS = (50, 90, 99)


def _bitlen(v):
    """floor(log2(v)) + 1 for v >= 1 (1 for v = 0) — integer-exact via
    base-2 string length."""
    return F.length(F.conv(v, 10, 2))


def _sql_bitlen(v: str) -> str:
    return f"length(printf('%b', {v}))"


def hdr_bucket(v):
    """HDR bucket index of a non-negative BIGINT column."""
    m = _bitlen(v)
    shift = (m - F.lit(B_BITS + 1)).cast("int")
    mant = F.call_function("shiftright", v, shift)
    return F.when(v < SUB, v).otherwise(
        (m - F.lit(B_BITS + 1)) * SUB + mant
    )


def sql_hdr_bucket(v: str) -> str:
    m = _sql_bitlen(v)
    return (
        f"CASE WHEN {v} < {SUB} THEN {v} "
        f"ELSE ({m} - {B_BITS + 1}) * {SUB} "
        f"+ ({v} >> ({m} - {B_BITS + 1})) END"
    )


def ss_hdr_rep(idx: str) -> str:
    """Upper-bound representative value of bucket ``idx`` (the
    estimate the sketch reports): exact for the sub-{SUB} buckets,
    ((SUB + sub + 1) << octave) - 1 above."""
    octave = ss_floordiv(f"{idx} - {SUB}", str(SUB))
    return (
        f"CASE WHEN {idx} < {SUB} THEN {idx} "
        f"ELSE shiftleft(({idx} - {SUB}) % {SUB} + {SUB + 1}, "
        f"CAST({octave} AS INT)) - 1 END"
    )


def sql_hdr_rep(idx: str) -> str:
    return (
        f"CASE WHEN {idx} < {SUB} THEN {idx} "
        f"ELSE ((({idx} - {SUB}) % {SUB} + {SUB + 1}) "
        f"<< (({idx} - {SUB}) // {SUB})) - 1 END"
    )


@register(
    "events_hdr_value_quantiles",
    oracle=f"""
    WITH hq_raw AS (
        SELECT event_type,
               CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v
        FROM events
    ),
    hq_v AS MATERIALIZED (
        -- WHEN v >= 0 so a NULL value falls into the error branch,
        -- matching Spark where assert_true THROWS on a NULL condition
        -- (a CASE WHEN v < 0 guard would pass NULL through silently —
        -- round-9 review finding)
        SELECT event_type,
               CASE WHEN v >= 0 THEN v
                    ELSE CAST(error(
                        'HDR bucket function requires non-negative values'
                    ) AS BIGINT) END AS v
        FROM hq_raw
    ),
    hq_h AS (
        SELECT event_type, {sql_hdr_bucket('v')} AS idx,
               CAST(count(*) AS BIGINT) AS c
        FROM hq_v GROUP BY event_type, {sql_hdr_bucket('v')}
    ),
    hq_cum AS (
        SELECT event_type, idx, c,
               CAST(sum(c) OVER (
                   PARTITION BY event_type ORDER BY idx
               ) AS BIGINT) AS cum,
               CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM hq_h
    ),
    hq_est AS (
        SELECT event_type, max(n) AS n_events,
               {", ".join(
                   f"CAST(min(CASE WHEN cum * 100 >= n * {p} "
                   f"THEN {sql_hdr_rep('idx')} END) AS BIGINT)"
                   f" AS est_p{p}_e6"
                   for p in PCTS
               )}
        FROM hq_cum GROUP BY event_type
    ),
    hq_rk AS (
        SELECT event_type, v,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY v
               ) AS rn,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM hq_v
    ),
    hq_exact AS (
        SELECT event_type,
               {", ".join(
                   f"CAST(min(CASE WHEN rn * 100 >= n * {p} THEN v END) "
                   f"AS BIGINT) AS exact_p{p}_e6"
                   for p in PCTS
               )}
        FROM hq_rk GROUP BY event_type
    )
    SELECT e.event_type, e.n_events,
           {", ".join(
               f"e.est_p{p}_e6, x.exact_p{p}_e6" for p in PCTS
           )}
    FROM hq_est e JOIN hq_exact x USING (event_type)
    """,
    doc=(
        "HDR-histogram quantile sketch per event type: pure-integer "
        "(octave, sub-bucket) bucketing with <=6.25% relative error, "
        "p50/p90/p99 read off the ~430-bucket cumulative histogram, "
        "exact quantiles alongside for calibration — the quantile "
        "member of the sketch family, order-insensitive and mergeable "
        "(counts add), estimates hash-matched cross-engine"
    ),
)
def events_hdr_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # The (octave, sub-bucket) function is only defined for v >= 0, and
    # the engines' base-2 formatters DIVERGE on negatives (Spark conv
    # emits 64-char two's-complement, DuckDB printf('%b') 32 chars) —
    # so a negative value must fail the JOB loudly in BOTH engines, not
    # silently split them (ADVICE r8). assert_true returns NULL on
    # success; coalesce folds the always-0 guard into v.
    raw_v = F.expr(ss_micros("value"))
    guard = F.coalesce(
        F.assert_true(
            raw_v >= 0,
            F.lit("HDR bucket function requires non-negative values"),
        ).cast("long"),
        F.lit(0),
    )
    v = ev.select("event_type", (raw_v + guard).alias("v"))
    # r12 (guide §2.3, VERDICT's vocab_coverage_curve discipline):
    # compact to per-(type, value) counts FIRST — the exact-quantile
    # rank window then runs over the value-distribution relation
    # (distinct values per type), not one row per event, so the
    # single-partition-per-type sort is bounded by value cardinality
    # at any corpus size; the bucket histogram re-aggregates the same
    # compacted relation instead of re-scanning raw events (one scan,
    # two consumers — cached).
    vc = tracked_cache(
        v.groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("c"))
    )
    hist = (
        vc.select("event_type", hdr_bucket(F.col("v")).alias("idx"), "c")
        .groupBy("event_type", "idx")
        .agg(F.sum("c").alias("c"))
    )
    wc = W.partitionBy("event_type").orderBy("idx")
    wn = W.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "idx",
        F.sum("c").over(wc).alias("cum"),
        F.sum("c").over(
            wn.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        ).alias("n"),
    )
    est = cum.groupBy("event_type").agg(
        F.max("n").alias("n_events"),
        *[
            F.min(
                F.when(
                    F.col("cum") * 100 >= F.col("n") * p,
                    F.expr(ss_hdr_rep("idx")),
                )
            )
            .cast("long")
            .alias(f"est_p{p}_e6")
            for p in PCTS
        ],
    )
    # exact rank threshold over the compacted counts: the rank-t row's
    # value (t = ceil(n·p/100), row_number dense 1..n) is the smallest
    # v whose cumulative count reaches t — cum ≥ n·p/100 ⟺ cum·100 ≥
    # n·p for integer cum, so this is bit-identical to the per-row
    # row_number form it replaces (r12)
    wr = W.partitionBy("event_type").orderBy("v")
    rk = vc.select(
        "event_type",
        "v",
        F.sum("c").over(wr).alias("cum"),
        F.sum("c")
        .over(wn.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .alias("n"),
    )
    exact = rk.groupBy("event_type").agg(
        *[
            F.min(F.when(F.col("cum") * 100 >= F.col("n") * p, F.col("v")))
            .cast("long")
            .alias(f"exact_p{p}_e6")
            for p in PCTS
        ]
    )
    cols = ["event_type", "n_events"]
    for p in PCTS:
        cols += [f"est_p{p}_e6", f"exact_p{p}_e6"]
    return est.join(exact, "event_type").select(*cols)
