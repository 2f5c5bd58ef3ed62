"""Composable relational operators — the reusable library behind the
registered queries (SURVEY.md §7: "composable operator functions,
DataFrame → DataFrame, one module per §2 family" replacing the
reference's 79 copy-pasted mains).

Each function names a reference idiom and implements it the
Spark-native way; the registered queries and pipelines call these, and
external users compose them directly.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window as W, functions as F, types as T

from algorithmproject_spark_spark.cacheutil import tracked_local_checkpoint


def anti_join_ids(df: DataFrame, ids: DataFrame, key: str | Sequence[str]) -> DataFrame:
    """J3: remove rows whose key appears in ``ids``.

    The reference's dominant pattern is ``join(dup, key, "left")
    .filter("dupmark is null")`` (``ArticleInfoProcess.scala:191``,
    ``mark/NewsMarchMarkPreProcess.scala:46-56``); native ``left_anti``
    skips materializing the marker column and lets Catalyst pick
    broadcast-anti when ``ids`` is small.
    """
    keys = [key] if isinstance(key, str) else list(key)
    return df.join(ids.select(*keys).distinct(), keys, "left_anti")


def semi_join_ids(df: DataFrame, ids: DataFrame, key: str | Sequence[str]) -> DataFrame:
    """Keep only rows whose key appears in ``ids`` (left_semi)."""
    keys = [key] if isinstance(key, str) else list(key)
    return df.join(ids.select(*keys).distinct(), keys, "left_semi")


def zip_with_index(
    df: DataFrame, order_by: str | Column, index_col: str = "idx"
) -> DataFrame:
    """W1: global 0-based row index, deterministic via explicit ordering.

    Replaces the reference's 20-line ``dfZipWithIndex`` RDD rebuild
    (copied 4×: ``ArticleInfoProcess.scala:17-36`` et al). NOTE: a
    global ``row_number`` funnels through ONE partition — correct but a
    scale bottleneck; when ids only need uniqueness (not density), use
    ``monotonically_increasing_id`` instead (same caveat the reference's
    zipWithIndex has re: extra job).
    """
    w = W.orderBy(order_by)
    return df.withColumn(index_col, (F.row_number().over(w) - 1).cast("long"))


def zip_with_global_index(
    df: DataFrame,
    order_by: str | Column | Sequence[str | Column],
    index_col: str = "idx",
    num_partitions: int | None = None,
) -> DataFrame:
    """W1 at scale: dense 0-based global index WITHOUT the
    all-rows-to-one-task funnel of an unpartitioned window
    (``WindowExec: No Partition Defined`` → single partition).

    Same two-phase shape as RDD ``zipWithIndex`` (the reference's
    ``dfZipWithIndex``, ``ArticleInfoProcess.scala:17-36``), but
    DataFrame/Arrow-native:

    1. range-partition + sort by the key — the global sort any dense
       index needs, kept N-way parallel (range exchange, not a funnel);
    2. per-partition row counts → driver (one long per partition — a
       bounded collect, fine at any scale) → prefix-sum offsets;
    3. one narrow Arrow pass adds ``offset + local position``. No
       second shuffle, no Python-per-row cost.

    Deterministic when ``order_by`` is a unique key (ties spanning a
    range boundary are partition-dependent — the same caveat
    zipWithIndex has). Use :func:`zip_with_index` only for
    dimension-sized inputs where a single-task sort is cheaper than two
    jobs.
    """
    spark = df.sparkSession
    cols = (
        [order_by]
        if isinstance(order_by, (str, Column))
        else list(order_by)
    )
    # Default width follows the INPUT's partitioning (≈ bytes /
    # maxPartitionBytes, so it grows with data volume) capped at 4×
    # cluster parallelism — a small table gets 2 partitions instead of
    # paying 2×N Python-worker spin-ups, a 100 TB table still sorts
    # wide. Callers with better knowledge pass num_partitions.
    n = num_partitions or max(
        2,
        min(
            df.rdd.getNumPartitions(),
            spark.sparkContext.defaultParallelism * 4,
        ),
    )
    # localCheckpoint PINS the range partitioning: repartitionByRange
    # derives its boundaries from job-time SAMPLING, so the counts job
    # and the output job would otherwise re-sample different
    # boundaries and the prefix-sum offsets would not correspond to
    # the partitions the Arrow pass actually sees — observed at sf0.1
    # as a non-dense index (gaps; max rn 5178 over 5000 rows), caught
    # by the full-registry oracle sweep at 10× the driver's scale.
    # RDD zipWithIndex never had this hazard (hash lineage, no
    # sampling); the checkpoint is built from one physical plan and its
    # blocks are written by the counts job, which restores its
    # one-snapshot semantics.
    sdf = (
        df.repartitionByRange(n, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("__pid", F.spark_partition_id())
        .transform(tracked_local_checkpoint)
    )
    counts = {
        r["__pid"]: r["cnt"]
        for r in sdf.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(index_col, T.LongType(), False)]
    )

    def attach(batches):
        import numpy as np

        pos = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pos is None:
                pos = offsets.get(int(pdf["__pid"].iloc[0]), 0)
            out = pdf.drop(columns="__pid")
            out[index_col] = np.arange(pos, pos + len(pdf), dtype="int64")
            pos += len(pdf)
            yield out

    return sdf.mapInPandas(attach, schema=out_schema)


def topk_per_group(
    df: DataFrame,
    partition: str | Sequence[str],
    order: Column | Sequence[Column],
    k: int,
    rank_col: str = "rk",
) -> DataFrame:
    """W2: per-entity top-N — the window form of the reference's
    sort-and-``take(N)`` inside UDFs (``TextRank.scala:90``,
    ``UserTextLabelCalc.scala:80-81``)."""
    parts = [partition] if isinstance(partition, str) else list(partition)
    orders = [order] if isinstance(order, Column) else list(order)
    w = W.partitionBy(*parts).orderBy(*orders)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )


def quota_per_class(
    df: DataFrame, cls: str, order_by: str | Column, quota: int
) -> DataFrame:
    """W3: per-class quota sampling in ONE pass — replaces the
    reference's filter(class).limit(q) repeated per class then unioned
    (``NewsMarchSubCategoryTrainProcess.scala:67-73``), which scans the
    input once per class and is nondeterministic under limit()."""
    w = W.partitionBy(cls).orderBy(order_by)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= quota)
        .drop("__rk")
    )


def dedup_exact(
    df: DataFrame, subset: str | Sequence[str], keep_min_of: str | None = None
) -> DataFrame:
    """E3: exact dedup. With ``keep_min_of`` the survivor is
    deterministic (min of that column per group) — dropDuplicates keeps
    an arbitrary row, which is fine operationally
    (``ArticleInfoProcess.scala:66,68``) but unreproducible."""
    keys = [subset] if isinstance(subset, str) else list(subset)
    if keep_min_of is None:
        return df.dropDuplicates(keys)
    w = W.partitionBy(*keys).orderBy(F.asc(keep_min_of))
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )


def outer_coalesce_join(
    a: DataFrame, b: DataFrame, keys: Sequence[str], how: str = "outer"
) -> DataFrame:
    """J4: outer join where the key columns are coalesced into single
    output columns (``keywordextractor/LabelCombine.scala:19-36`` does
    this with a 2-arg UDF; ``F.coalesce`` is native). Non-key columns
    pass through from both sides."""
    al, bl = a.alias("__a"), b.alias("__b")
    cond = None
    for k in keys:
        c = F.col(f"__a.{k}") == F.col(f"__b.{k}")
        cond = c if cond is None else (cond & c)
    joined = al.join(bl, cond, how)
    coalesced = [
        F.coalesce(F.col(f"__a.{k}"), F.col(f"__b.{k}")).alias(k) for k in keys
    ]
    rest = [
        F.col(f"__a.{c}") for c in a.columns if c not in keys
    ] + [F.col(f"__b.{c}") for c in b.columns if c not in keys]
    return joined.select(*coalesced, *rest)


def union_all(frames: Sequence[DataFrame]) -> DataFrame:
    """E1: n-way union by name (the reference chains up to 8 unionAll
    calls — ``NewsSubCategoryTrainCheck.scala:67``)."""
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def approx_percentile_threshold(
    df: DataFrame, col: str, p: float
) -> float:
    """A6: scalar percentile threshold (``TFIDF.scala:177-191`` runs a
    Percentile_approx SQL then collects). Returns a driver-side float —
    bounded size, legitimate collect."""
    return df.agg(F.percentile_approx(col, p).alias("t")).first()["t"]


def frequency_topk(
    df: DataFrame, col: str, k: int, count_col: str = "count"
) -> DataFrame:
    """A2: frequency histogram top-k, deterministic tie-break on the
    value (``YoutubeTimeStat.scala:47-53`` sorts desc and show()s)."""
    return (
        df.groupBy(col)
        .agg(F.count(F.lit(1)).alias(count_col))
        .orderBy(F.desc(count_col), F.asc(col))
        .limit(k)
    )


def positional_split(
    df: DataFrame,
    value_col: str,
    names: Sequence[str],
    sep: str = "",
) -> DataFrame:
    """S6: delimited-line parsing — ``split(value, sep).getItem(i)``
    per field (``article/ReadPushData.scala:18-32`` up to item 181)."""
    parts = F.split(F.col(value_col), sep)
    return df.select(
        *[parts.getItem(i).alias(n) for i, n in enumerate(names)]
    )


def min_max_normalize(df: DataFrame, col: str, out_col: str) -> DataFrame:
    """F10: corpus-wide min-max normalization via a broadcast 1-row
    bounds join (``UserTextLabelCalc.scala:148-159`` collects min/max
    to the driver; this keeps it in-plan)."""
    bounds = df.agg(
        F.min(col).alias("__mn"), F.max(col).alias("__mx")
    )
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(
            out_col,
            F.when(F.col("__mx") == F.col("__mn"), F.lit(1.0)).otherwise(
                (F.col(col).cast("double") - F.col("__mn"))
                / (F.col("__mx") - F.col("__mn"))
            ),
        )
        .drop("__mn", "__mx")
    )
