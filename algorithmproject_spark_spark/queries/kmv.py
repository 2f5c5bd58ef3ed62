"""KMV (k-minimum-values) distinct-count sketch — the deterministic
sketch, exactly oracle-checkable INCLUDING its estimate.

HLL's estimate depends on implementation-specific hashing, so the HLL
query (events.py) can only oracle-pin an accuracy envelope. KMV has no
such gap: the sketch is the k smallest values of one fixed integer
hash, and the estimator

    D̂ = (k - 1) * M / h_k      (h_k = k-th smallest hash, M = hash space)

is a pure function of the data (Bar-Yossef et al. 2002). Both engines
compute the identical k-minima and the identical integer-division
estimate — a *sketch* whose output hash-matches cross-engine.

Sketches merge by unioning and re-taking k minima, which is how a
100 TB scan builds it: per-partition k-minima (map-side), one k-row
combine per group — the registered query's per-type sketch costs one
keyed aggregate of ≤k-element arrays, never a distinct.

Spark shape: per-type ``slice(array_sort(collect_set(hash)), 1, k)``.
collect_set is bounded here by the value domain (user ids, ≤150 at
sf0.01); the true 100 TB form keeps only k minima per partition via
partial aggregation — documented trade, same result.

Reference parity: none (the reference has no sketches); extends the
sketch family: Count-Min (frequency), HLL (cardinality envelope), KMV
(cardinality, exact-checkable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.functions.numeric import sql_hash_mod, ss_hash_mod
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

KMV_K = 32
KMV_MOD = 2_147_483_647  # hash space M (2^31 - 1, matches hashing.py)


def kmv_distinct_per_group(
    df: DataFrame, group_col: str, key_col: str, k: int = KMV_K
) -> DataFrame:
    """Per-group KMV sketch + estimate + exact count for comparison:
    ``(group, n_exact, kmv_size, kth_min, est_distinct)``. When the
    group has < k distinct keys the sketch IS the exact set and the
    estimate falls back to its size."""
    h = F.expr(ss_hash_mod(f"CAST({key_col} AS BIGINT)", KMV_MOD))
    sk = df.select(
        F.col(group_col).alias("g"), h.alias("h"), key_col
    ).groupBy("g").agg(
        F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("mins"),
        F.countDistinct(key_col).alias("n_exact"),
    )
    size = F.size("mins")
    kth = F.element_at("mins", size)
    # `div` (integer division) on both sides: float `/` + cast would
    # round in DuckDB but truncate in Spark — a silent off-by-one class
    est = F.when(size < F.lit(k), size.cast("long")).otherwise(
        F.expr(
            f"CAST({k - 1} AS BIGINT) * {KMV_MOD} div element_at(mins, size(mins))"
        )
    )
    return sk.select(
        F.col("g").alias(group_col),
        "n_exact",
        size.cast("long").alias("kmv_size"),
        kth.cast("long").alias("kth_min"),
        est.alias("est_distinct"),
    )


def _sql_kmv(group_col: str, key_col: str, table: str, k: int = KMV_K) -> str:
    h = sql_hash_mod(f"CAST({key_col} AS BIGINT)", KMV_MOD)
    return f"""
    WITH sk AS (
        SELECT {group_col} AS g,
               list_slice(list_sort(list(DISTINCT {h})), 1, {k}) AS mins,
               CAST(COUNT(DISTINCT {key_col}) AS BIGINT) AS n_exact
        FROM {table} GROUP BY {group_col}
    )
    SELECT g AS {group_col}, n_exact,
           CAST(len(mins) AS BIGINT) AS kmv_size,
           CAST(mins[len(mins)] AS BIGINT) AS kth_min,
           CASE WHEN len(mins) < {k} THEN CAST(len(mins) AS BIGINT)
                ELSE CAST({k - 1} AS BIGINT) * {KMV_MOD} // mins[len(mins)]
           END AS est_distinct
    FROM sk
    """


@register(
    "events_kmv_distinct_users",
    oracle=_sql_kmv("event_type", "user_id", "events"),
    doc="KMV distinct-user sketch per event type: k=32 minima of a "
    "fixed multiplicative hash + the (k-1)M/h_k estimator — the "
    "deterministic sketch, estimate hash-matched cross-engine "
    "(exact-set fallback below k distinct keys)",
)
def events_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kmv_distinct_per_group(
        load_table(spark, sf_dir, "events"), "event_type", "user_id"
    )


def kmv_merge(sketches: DataFrame, k: int = KMV_K) -> DataFrame:
    """Merge per-group sketches into ONE corpus sketch: union the
    minima multisets (distinct — the same key hashes identically in
    every group), re-take the k smallest, re-apply the estimator.

    This is the ALGEBRA that makes sketches the 100 TB answer: a
    per-partition/per-day/per-source sketch is k BIGINTs, merges are
    associative and lossless w.r.t. the sketch contract, so a global
    cardinality never needs a global distinct — just a union of
    k-element arrays. Input: any DataFrame with a ``mins`` array
    column; output: 1 row (kmv_size, kth_min, est_distinct)."""
    mins = sketches.select(F.explode("mins").alias("h")).distinct()
    merged = mins.agg(
        F.slice(F.array_sort(F.collect_list("h")), 1, k).alias("mins")
    )
    size = F.size("mins")
    # Empty input yields one row with mins=[]: element_at(mins, 0) is an
    # ERROR in Spark (INVALID_INDEX_OF_ZERO) while DuckDB's
    # mins[len(mins)] returns NULL — guard so both engines agree on a
    # (0, NULL, 0) row for an empty events table.
    kth = F.when(size > 0, F.element_at("mins", size)).otherwise(
        F.lit(None)
    )
    est = F.when(size < F.lit(k), size.cast("long")).otherwise(
        F.expr(
            f"CAST({k - 1} AS BIGINT) * {KMV_MOD} div element_at(mins, size(mins))"
        )
    )
    return merged.select(
        size.cast("long").alias("kmv_size"),
        kth.cast("long").alias("kth_min"),
        est.alias("est_distinct"),
    )


@register(
    "events_kmv_merged_global",
    oracle=f"""
    WITH mg_h AS (
        SELECT event_type AS g,
               {sql_hash_mod('CAST(user_id AS BIGINT)', KMV_MOD)} AS h
        FROM events
    ),
    mg_sk AS (
        SELECT g, list_slice(list_sort(list(DISTINCT h)), 1, {KMV_K}) AS mins
        FROM mg_h GROUP BY g
    ),
    mg_u AS (SELECT DISTINCT unnest(mins) AS h FROM mg_sk),
    -- list(h) over ZERO rows is NULL in DuckDB while Spark's
    -- collect_list is [] — coalesce so an empty events table yields
    -- the same (0, NULL, 0) row in both engines (edge-sweep finding)
    mg_m AS (SELECT list_slice(list_sort(coalesce(list(h),
                    CAST([] AS BIGINT[]))), 1, {KMV_K}) AS mins FROM mg_u)
    SELECT CAST(len(mins) AS BIGINT) AS kmv_size,
           CAST(mins[len(mins)] AS BIGINT) AS kth_min,
           CASE WHEN len(mins) < {KMV_K} THEN CAST(len(mins) AS BIGINT)
                ELSE CAST({KMV_K - 1} AS BIGINT) * {KMV_MOD} // mins[len(mins)]
           END AS est_distinct
    FROM mg_m
    """,
    doc="KMV sketch MERGE: per-type sketches unioned and re-cut to k "
    "minima, estimator re-applied - the associative merge algebra "
    "that gives a global cardinality from per-source/per-day sketches "
    "without any global distinct; merged estimate hash-matched "
    "cross-engine",
)
def events_kmv_merged_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    h = F.expr(ss_hash_mod("CAST(user_id AS BIGINT)", KMV_MOD))
    per_type = (
        ev.select(F.col("event_type").alias("g"), h.alias("h"))
        .groupBy("g")
        .agg(F.slice(F.array_sort(F.collect_set("h")), 1, KMV_K).alias("mins"))
    )
    return kmv_merge(per_type)


# --------------------------------------------------------------------------
# Sketch INTERSECTION algebra: inclusion-exclusion over three KMV
# estimates — |A∩B| ≈ D̂(A) + D̂(B) − D̂(A∪B), clamped at 0. With the
# union estimate from the lossless merge (union minima, re-cut to k),
# the whole pipeline is integer-exact given the fixed hash, so the
# ESTIMATE itself hash-matches cross-engine — same property as the
# merge query. At 100 TB: both per-type sketches and their union are
# k BIGINTs; the overlap of two user populations never needs a
# distinct-join of the populations (the exact twin computed alongside
# here for calibration DOES — sketch vs exact is the point of the
# query). Bar-Yossef et al. 2002; ratio estimators (count shared among
# union minima) trade variance differently — inclusion-exclusion keeps
# every term an already-pinned estimator.
# --------------------------------------------------------------------------
def _sql_est(mins: str, k: int = KMV_K) -> str:
    return (
        f"CASE WHEN len({mins}) < {k} THEN CAST(len({mins}) AS BIGINT) "
        f"ELSE CAST({k - 1} AS BIGINT) * {KMV_MOD} // {mins}[len({mins})] END"
    )


@register(
    "events_kmv_type_intersection",
    plan=("scalar_cross",),
    oracle=f"""
    WITH ki_h AS (
        SELECT event_type,
               {sql_hash_mod('CAST(user_id AS BIGINT)', KMV_MOD)} AS h,
               user_id
        FROM events WHERE event_type IN ('view', 'purchase')
    ),
    -- coalesce to a typed empty list: DuckDB's list() over zero rows
    -- is NULL while Spark's collect_set is [] (edge-sweep finding;
    -- same fix as the merge query)
    ki_a AS (
        SELECT list_slice(list_sort(coalesce(list(DISTINCT h),
               CAST([] AS BIGINT[]))), 1, {KMV_K}) AS mins
        FROM ki_h WHERE event_type = 'view'
    ),
    ki_b AS (
        SELECT list_slice(list_sort(coalesce(list(DISTINCT h),
               CAST([] AS BIGINT[]))), 1, {KMV_K}) AS mins
        FROM ki_h WHERE event_type = 'purchase'
    ),
    ki_u AS (
        SELECT list_slice(list_sort(coalesce(list(h),
               CAST([] AS BIGINT[]))), 1, {KMV_K}) AS mins
        FROM (SELECT DISTINCT unnest(mins) AS h
              FROM (SELECT mins FROM ki_a UNION ALL SELECT mins FROM ki_b))
    ),
    ki_x AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersection FROM (
            SELECT DISTINCT user_id FROM ki_h WHERE event_type = 'view'
            INTERSECT
            SELECT DISTINCT user_id FROM ki_h WHERE event_type = 'purchase'
        )
    )
    SELECT {_sql_est('ki_a.mins')} AS est_a,
           {_sql_est('ki_b.mins')} AS est_b,
           {_sql_est('ki_u.mins')} AS est_union,
           GREATEST({_sql_est('ki_a.mins')} + {_sql_est('ki_b.mins')}
                    - {_sql_est('ki_u.mins')}, 0) AS est_intersection,
           ki_x.exact_intersection
    FROM ki_a, ki_b, ki_u, ki_x
    """,
    doc="KMV sketch INTERSECTION: inclusion-exclusion over the per-"
    "type and merged-union estimators (all integer-exact given the "
    "fixed hash, so the estimate hash-matches cross-engine), with the "
    "exact viewer∩purchaser overlap alongside for calibration — "
    "completes the sketch algebra: union (merge query) + intersection",
)
def events_kmv_type_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    h = F.expr(ss_hash_mod("CAST(user_id AS BIGINT)", KMV_MOD))
    sel = ev.filter(F.col("event_type").isin("view", "purchase")).select(
        "event_type", h.alias("h"), "user_id"
    )

    def sketch(t: str) -> DataFrame:
        return (
            sel.filter(F.col("event_type") == t)
            .agg(
                F.slice(
                    F.array_sort(F.collect_set("h")), 1, KMV_K
                ).alias("mins")
            )
        )

    def est(mins: str):
        size = F.size(mins)
        return F.when(size < F.lit(KMV_K), size.cast("long")).otherwise(
            F.expr(
                f"CAST({KMV_K - 1} AS BIGINT) * {KMV_MOD}"
                f" div element_at({mins}, size({mins}))"
            )
        )

    a = sketch("view").select(F.col("mins").alias("mins_a"))
    b = sketch("purchase").select(F.col("mins").alias("mins_b"))
    u = (
        a.crossJoin(F.broadcast(b))
        .select(
            F.slice(
                F.array_sort(
                    F.array_distinct(F.concat("mins_a", "mins_b"))
                ),
                1,
                KMV_K,
            ).alias("mins_u"),
            "mins_a",
            "mins_b",
        )
    )
    exact = (
        sel.filter(F.col("event_type") == "view")
        .select("user_id")
        .intersect(
            sel.filter(F.col("event_type") == "purchase").select("user_id")
        )
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    ea, eb, eu = est("mins_a"), est("mins_b"), est("mins_u")
    return u.crossJoin(F.broadcast(exact)).select(
        ea.alias("est_a"),
        eb.alias("est_b"),
        eu.alias("est_union"),
        F.greatest(ea + eb - eu, F.lit(0).cast("long")).alias(
            "est_intersection"
        ),
        "exact_intersection",
    )
