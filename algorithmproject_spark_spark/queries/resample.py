"""Deterministic bootstrap inference — resampling as a first-class
distributed operation.

The bootstrap (Efron 1979) is the standard nonparametric way to put a
confidence interval on any statistic: resample the data with
replacement B times, recompute the statistic per replicate, read the
CI off the replicate distribution's quantiles.  At corpus scale the
blocker is determinism, not volume: ``rand()`` draws differ per run,
partitioning, and engine, so a naive bootstrap can never be
oracle-checked or reproduced.  Here the resample indices come from a
QUADRATIC congruential hash of (replicate, row-index) — affine LCG
draws are useless for this (for a fixed replicate an affine pick
``(c + i·M) mod n`` visits every row exactly once, i.e. sampling
WITHOUT replacement, and every replicate mean collapses to the true
mean; squaring breaks the affinity so picks collide and omit like a
true with-replacement draw).

Scale shape: the resample is a generator (``explode(sequence(1, B))``
— no cross join) followed by ONE equi-join back on (group, pick) and a
5×B-group aggregate with map-side partial combine; total volume is
B·n rows, linear with constant B.  Row indices come from a per-group
``row_number`` over the unique event id.  The quadratic hash reduces
indices mod the prime 1000003, so draws are well-mixed for groups up
to ~1e6 rows; for larger groups resample a deterministic subsample
first (``deterministic_sample_10pct``) — same contract as the other
1e6-unit fixed-point designs in this engine.

No reference analogue (the reference has no statistical-inference ops);
north-star extension in the drift/diagnostics family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

from algorithmproject_spark_spark.cacheutil import tracked_cache
from algorithmproject_spark_spark.functions.numeric import (
    sql_micros,
    ss_floordiv,
    ss_micros,
)
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

#: bootstrap replicates; 64 gives exact rank positions for a ~95% CI
#: (ranks 2 and 63 ≈ the 2.5th / 97.5th percentiles)
B_REPS = 64
CI_LO_RANK = 2
CI_HI_RANK = 63
#: prime modulus of the quadratic mixer — caps the well-mixed range at
#: ~1e6 rows per group (see module docstring)
P_MIX = 1000003
#: LCG multipliers feeding the quadratic step (Knuth / glibc constants)
A_MIX = 1103515245
B_MIX = 12345
M_MIX = 2654435761


def _pick(i: Column, b: Column, n: Column) -> Column:
    """Deterministic with-replacement draw: row index in [1, n] for
    replicate ``b``'s ``i``-th draw.  Fully parenthesized — ``*`` and
    ``%`` share precedence, a one-sided paren slip diverges silently."""
    h1 = ((i * A_MIX) + (b * B_MIX)) % P_MIX
    h2 = ((h1 * h1) + b) % P_MIX
    return (((h2 * M_MIX) % P_MIX) % n) + 1


def _sql_pick(i: str, b: str, n: str) -> str:
    """DuckDB twin of :func:`_pick` — keep textually in lockstep."""
    h1 = f"((({i}) * {A_MIX}) + (({b}) * {B_MIX})) % {P_MIX}"
    h2 = f"((({h1}) * ({h1})) + ({b})) % {P_MIX}"
    return f"(((({h2}) * {M_MIX}) % {P_MIX}) % ({n})) + 1"


@register(
    "events_bootstrap_ci_mean",
    oracle=f"""
    WITH idx AS MATERIALIZED (
        SELECT event_type,
               {sql_micros('value')} AS x,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY event_id
               ) AS i,
               CASE WHEN count(*) OVER (PARTITION BY event_type)
                         > {P_MIX}
                    THEN CAST(error(
                        'bootstrap group exceeds the {P_MIX}-row '
                        'well-mixed bound — subsample first') AS BIGINT)
                    ELSE CAST(count(*) OVER (PARTITION BY event_type)
                              AS BIGINT)
               END AS n
        FROM events
    ),
    draws AS (
        SELECT d.event_type, r.b,
               {_sql_pick('d.i', 'r.b', 'd.n')} AS pick
        FROM idx d
        CROSS JOIN (SELECT unnest(range(1, {B_REPS + 1})) AS b) r
    ),
    reps AS (
        SELECT dr.event_type, dr.b,
               CAST(sum(v.x) AS BIGINT) // CAST(count(*) AS BIGINT)
                   AS rep_mean
        FROM draws dr
        JOIN idx v
          ON v.event_type = dr.event_type AND v.i = dr.pick
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT event_type, rep_mean,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY rep_mean, b
               ) AS rk
        FROM reps
    ),
    ci AS (
        SELECT event_type,
               max(CASE WHEN rk = {CI_LO_RANK} THEN rep_mean END)
                   AS ci_lo_micros,
               max(CASE WHEN rk = {CI_HI_RANK} THEN rep_mean END)
                   AS ci_hi_micros
        FROM ranked GROUP BY event_type
    ),
    pt AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) // CAST(count(*) AS BIGINT)
                   AS mean_micros
        FROM idx GROUP BY event_type
    )
    SELECT pt.event_type, pt.n, pt.mean_micros,
           ci.ci_lo_micros, ci.ci_hi_micros
    FROM pt JOIN ci USING (event_type)
    """,
    doc=(
        "deterministic bootstrap 95% CI for the mean event value per "
        "type: 64 hash-resampled replicates (quadratic congruential "
        "draws — reproducible across runs, partitionings, and "
        "engines), replicate floor-means ranked, CI = ranks 2 and 63"
    ),
)
def events_bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    wt = W.partitionBy("event_type")
    # assert_true returns NULL on success — coalesce folds the
    # (always-0) guard into n, and a group past the well-mixed bound
    # fails the JOB instead of silently resampling a 1e6-row prefix
    # (picks can never exceed P_MIX; see module docstring)
    n_raw = F.count(F.lit(1)).over(wt).cast("long")
    guard = F.coalesce(
        F.assert_true(
            n_raw <= F.lit(P_MIX),
            F.lit(
                f"bootstrap group exceeds the {P_MIX}-row well-mixed "
                "bound — subsample first"
            ),
        ).cast("long"),
        F.lit(0),
    )
    # pin idx: draws, the resample join, and the point estimate all
    # consume it — uncached, the events scan and both windows run
    # three times (Catalyst does not dedupe shared subtrees)
    idx = tracked_cache(
        ev.select(
            "event_type",
            F.expr(ss_micros("value")).alias("x"),
            F.row_number().over(wt.orderBy("event_id")).alias("i"),
            (n_raw + guard).alias("n"),
        )
    )
    draws = idx.select(
        "event_type",
        "i",
        "n",
        F.explode(F.sequence(F.lit(1), F.lit(B_REPS))).alias("b"),
    ).select(
        "event_type",
        "b",
        _pick(F.col("i").cast("long"), F.col("b").cast("long"), F.col("n"))
        .alias("pick"),
    )
    reps = (
        # both sides are O(n) — Spark's post-window size estimate can
        # misjudge idx as broadcastable (it OOMed the sf1 broadcast
        # build); a shuffled hash join on (event_type, pick) is the
        # only shape that survives scale
        draws.join(
            idx.select("event_type", F.col("i").alias("pick"), "x").hint(
                "shuffle_hash"
            ),
            ["event_type", "pick"],
        )
        .groupBy("event_type", "b")
        .agg(
            F.expr(ss_floordiv("sum(x)", "count(1)")).alias("rep_mean")
        )
    )
    ranked = reps.select(
        "event_type",
        "rep_mean",
        F.row_number()
        .over(wt.orderBy("rep_mean", "b"))
        .alias("rk"),
    )
    ci = ranked.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rk") == CI_LO_RANK, F.col("rep_mean"))
        ).alias("ci_lo_micros"),
        F.max(
            F.when(F.col("rk") == CI_HI_RANK, F.col("rep_mean"))
        ).alias("ci_hi_micros"),
    )
    pt = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr(ss_floordiv("sum(x)", "count(1)")).alias("mean_micros"),
    )
    return pt.join(F.broadcast(ci), "event_type").select(
        "event_type", "n", "mean_micros", "ci_lo_micros", "ci_hi_micros"
    )
