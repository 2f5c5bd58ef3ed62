"""KMV sketch determinism + accuracy (queries/kmv.py)."""

from __future__ import annotations

from algorithmproject_spark_spark.queries.kmv import (
    KMV_K,
    kmv_distinct_per_group,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, ["g", "k"])


def test_below_k_is_exact(spark):
    rows = [("a", i % 7) for i in range(100)]  # 7 distinct < k
    (r,) = kmv_distinct_per_group(_df(spark, rows), "g", "k").collect()
    assert r.kmv_size == 7
    assert r.est_distinct == r.n_exact == 7


def test_estimator_is_deterministic_and_close(spark):
    n = 5000
    rows = [("a", i) for i in range(n)] + [("a", i) for i in range(n)]
    out1 = kmv_distinct_per_group(
        _df(spark, rows).repartition(8), "g", "k"
    ).collect()[0]
    out2 = kmv_distinct_per_group(
        _df(spark, rows).repartition(3), "g", "k"
    ).collect()[0]
    # partitioning-invariant (a pure function of the value set)
    assert (out1.kth_min, out1.est_distinct) == (
        out2.kth_min, out2.est_distinct
    )
    assert out1.n_exact == n
    assert out1.kmv_size == KMV_K
    # standard KMV error ~ 1/sqrt(k) ≈ 18% at k=32; allow 3σ
    assert abs(out1.est_distinct - n) < 0.54 * n


def test_duplicates_do_not_shift_the_sketch(spark):
    base = [("a", i * 17) for i in range(500)]
    heavy = base + [("a", 17)] * 2000  # one value repeated massively
    r1 = kmv_distinct_per_group(_df(spark, base), "g", "k").collect()[0]
    r2 = kmv_distinct_per_group(_df(spark, heavy), "g", "k").collect()[0]
    assert (r1.kth_min, r1.est_distinct) == (r2.kth_min, r2.est_distinct)


def test_merge_equals_direct_global_sketch(spark):
    """Merging per-group sketches must give the SAME sketch as
    sketching the whole relation at once (the associativity contract
    that makes per-source/per-day sketches sufficient at scale)."""
    from pyspark.sql import functions as F

    from algorithmproject_spark_spark.functions.numeric import ss_hash_mod
    from algorithmproject_spark_spark.queries.kmv import (
        KMV_K,
        KMV_MOD,
        kmv_merge,
    )

    rows = [(i % 7, (i * 37) % 500) for i in range(3000)]
    df = spark.createDataFrame(rows, ["g", "key"])
    h = F.expr(ss_hash_mod("CAST(key AS BIGINT)", KMV_MOD))
    per_group = (
        df.select("g", h.alias("h"))
        .groupBy("g")
        .agg(F.slice(F.array_sort(F.collect_set("h")), 1, KMV_K).alias("mins"))
    )
    merged = kmv_merge(per_group).first()
    direct = (
        df.select(h.alias("h"))
        .distinct()
        .agg(F.slice(F.array_sort(F.collect_list("h")), 1, KMV_K).alias("mins"))
        .select(F.element_at("mins", F.size("mins")).alias("kth"))
        .first()
    )
    assert merged.kth_min == direct.kth
    assert merged.kmv_size == KMV_K
    # estimate within a loose band of the true 500 distinct keys
    assert 250 <= merged.est_distinct <= 1000


def test_kmv_merge_empty_input_yields_null_row(spark):
    """ADVICE r6: empty sketch input must yield (0, NULL, 0) — not
    INVALID_INDEX_OF_ZERO from element_at(mins, 0). DuckDB's
    mins[len(mins)] returns NULL on an empty list; both engines now
    agree on the empty-events behavior."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    from algorithmproject_spark_spark.queries.kmv import kmv_merge

    empty = spark.createDataFrame(
        [], StructType([StructField("mins", ArrayType(LongType()))])
    )
    row = kmv_merge(empty).first()
    assert row.kmv_size == 0
    assert row.kth_min is None
    assert row.est_distinct == 0
