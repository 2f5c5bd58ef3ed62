"""Batch writer facade — SURVEY.md §2.1 S2/S4/S5/S12 + the LDA-corpus
interchange formats (T16: UCI triples, libsvm text, vocab dict).

Scale posture: the reference controls output file counts with
``coalesce(1)``/``repartition(1)`` (ReadMongodb.scala:47,
ReadDitingData.scala:69) — a single-writer bottleneck at scale. Here
``max_records_per_file`` + optional ``partition_by`` shape files
without collapsing parallelism; callers that truly need one file pass
``single_file=True`` explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _shape(df: DataFrame, single_file: bool) -> DataFrame:
    return df.coalesce(1) if single_file else df


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
    max_records_per_file: int | None = None,
    single_file: bool = False,
) -> None:
    """S4: partitioned parquet write. ``partitionBy('dt')`` replaces the
    reference's hand-built ``path + '/dt=%s'`` strings
    (ArticleInfoProcess.scala:182)."""
    writer = _shape(df, single_file).write.mode(mode)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_json(
    df: DataFrame, path: str, mode: str = "overwrite", single_file: bool = False
) -> None:
    """S5 (dedup-export JSON, ArticleInfoProcess.scala:185 coalesce(1))."""
    _shape(df, single_file).write.mode(mode).json(path)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
    sep: str = ",",
    single_file: bool = False,
) -> None:
    _shape(df, single_file).write.mode(mode).option(
        "header", str(header).lower()
    ).option("sep", sep).csv(path)


def write_text(
    df: DataFrame, path: str, mode: str = "overwrite", single_file: bool = False
) -> None:
    """S12: single string column → text lines (vocab files,
    PrepData.scala:131,159,221)."""
    _shape(df, single_file).write.mode(mode).text(path)


def write_uci_triples(
    df: DataFrame,
    path: str,
    doc_col: str = "doc_id",
    word_col: str = "word_id",
    tf_col: str = "tf",
    mode: str = "overwrite",
) -> None:
    """T16: UCI bag-of-words `docID|wordID|tf` lines, the LightLDA
    interchange format (LightldaPreProcess.scala:119-127). Sorted by
    (doc, word) via range partitioning so files are globally ordered
    without a single-task sort."""
    (
        df.repartitionByRange(F.col(doc_col), F.col(word_col))
        .sortWithinPartitions(doc_col, word_col)
        .select(
            F.concat_ws(
                "|",
                F.col(doc_col).cast("string"),
                F.col(word_col).cast("string"),
                F.col(tf_col).cast("string"),
            ).alias("value")
        )
        .write.mode(mode)
        .text(path)
    )


def write_libsvm_text(
    df: DataFrame,
    path: str,
    label_col: str,
    pairs_col: str,
    mode: str = "overwrite",
) -> None:
    """T16: libsvm lines ``label idx:val idx:val ...`` from a column of
    pre-sorted (idx, val) structs — pure column expressions, no UDF."""
    line = F.concat_ws(
        " ",
        F.col(label_col).cast("string"),
        F.array_join(
            F.transform(
                F.col(pairs_col),
                lambda p: F.concat_ws(
                    ":", p["idx"].cast("string"), p["val"].cast("string")
                ),
            ),
            " ",
        ),
    )
    df.select(line.alias("value")).write.mode(mode).text(path)


def mongo_write_options(uri: str, database: str, collection: str) -> dict[str, str]:
    """S2 option contract (WriteMongodb.scala:39-43); tests pin this
    shape without a connector jar."""
    return {
        "connection.uri": uri,
        "database": database,
        "collection": collection,
    }


def write_mongo(df: DataFrame, uri: str, database: str, collection: str) -> None:
    """S2: append-mode Mongo write (WriteMongodb.scala:39-43). Connector
    not present here — raises with the production shape documented."""
    try:
        (
            df.write.format("mongodb")
            .mode("append")
            .options(**mongo_write_options(uri, database, collection))
            .save()
        )
    except Exception as exc:  # pragma: no cover - connector not installed
        raise NotImplementedError(
            "MongoDB connector jar not available; write parquet and bulk-load instead"
        ) from exc


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (+ optionally sorted) managed table — the
    co-located-join primitive. Two tables bucketed on the same key with
    the same bucket count join WITHOUT a shuffle exchange on either
    side (verified by plan assertion in tests/test_plans.py); at 100 TB
    that converts the nightly fact-to-fact join from the dominant
    shuffle into a local zip of pre-sorted buckets.

    The reference has no bucketing anywhere — it re-shuffles the same
    5M-article join inputs in every one of its 79 jobs.
    """
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(name)


def write_clustered_parquet(
    df: DataFrame,
    path: str,
    cluster_by: tuple[str, ...],
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-clustered parquet layout for data skipping.

    ``repartitionByRange`` + ``sortWithinPartitions`` on the cluster
    key gives every output file (and every parquet row group inside
    it) a tight, nearly-disjoint min/max span on that key, so a later
    filtered scan prunes whole row groups from the parquet footer
    statistics alone — at 100 TB this is the difference between
    reading one file and reading the table. The global range exchange
    is a deliberate one-time layout cost (sampling-based, N-way
    parallel — this is a WRITER utility, not a registered query, which
    is why plan-lint's no-global-sort rule doesn't apply).

    The skipping effect is measured, not assumed:
    tests/test_sources.py asserts via parquet footer metadata that a
    point predicate overlaps ~1 row-group span in this layout vs ~all
    of them in the natural layout.
    """
    shaped = (
        df.repartitionByRange(num_files, *cluster_by)
        if num_files
        else df.repartitionByRange(*cluster_by)
    )
    shaped.sortWithinPartitions(*cluster_by).write.mode(mode).parquet(path)


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    cluster_by: tuple[str, ...] = (),
) -> int:
    """Small-file compaction (the OPTIMIZE maintenance job): rewrite a
    parquet directory into ~``total_bytes / target_file_bytes`` files,
    optionally re-clustering on a key while at it.

    Streaming sinks and incremental batch appends accrete small files;
    at 100 TB the resulting per-file open/footer overhead dominates
    scan time long before data volume does. Sizing from the files'
    actual on-disk bytes (driver-side listing of the directory — file
    COUNT work, not data work) instead of a row count keeps the
    planning cost O(files). The rewrite is one narrow repartition (or
    a range exchange when re-clustering) and replaces the directory
    atomically via a temp-dir rename. Returns the new file count.
    """
    import math
    import os as _os
    import shutil as _shutil

    total = sum(
        _os.path.getsize(_os.path.join(root, f))
        for root, _, files in _os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "__compact_tmp"
    if cluster_by:
        shaped = df.repartitionByRange(n_files, *cluster_by).sortWithinPartitions(
            *cluster_by
        )
    else:
        shaped = df.repartition(n_files)
    shaped.write.mode("overwrite").parquet(tmp)
    _shutil.rmtree(path)
    _os.rename(tmp, path)
    return n_files
