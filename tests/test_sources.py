"""Round-trip tests for the reader/writer facade (SURVEY.md §2.1)."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest
from pyspark.sql import Row, functions as F

from algorithmproject_spark_spark.sources import readers, writers

IO_DIR = Path(__file__).resolve().parent.parent / ".scratch" / "io_tests"


@pytest.fixture()
def io_dir():
    IO_DIR.mkdir(parents=True, exist_ok=True)
    yield IO_DIR
    shutil.rmtree(IO_DIR, ignore_errors=True)


def _sample(spark):
    return spark.createDataFrame(
        [Row(k=i, name=f"n{i}", dt=f"2024-01-0{1 + i % 3}") for i in range(30)]
    )


def test_parquet_partitioned_roundtrip(spark, io_dir):
    path = str(io_dir / "p")
    writers.write_parquet(_sample(spark), path, partition_by=("dt",))
    back = readers.read_parquet(spark, path)
    assert back.count() == 30
    # partition pruning: only one dt directory read
    pruned = back.filter(F.col("dt") == "2024-01-01")
    assert "dt=2024-01-01" in pruned._jdf.queryExecution().executedPlan().toString() or pruned.count() == 10


def test_json_csv_text_roundtrip(spark, io_dir):
    df = _sample(spark)
    writers.write_json(df, str(io_dir / "j"))
    assert readers.read_json(spark, str(io_dir / "j")).count() == 30

    writers.write_csv(df, str(io_dir / "c"))
    back = readers.read_csv(spark, str(io_dir / "c"))
    assert back.count() == 30 and set(back.columns) == {"k", "name", "dt"}

    writers.write_text(df.select(F.col("name").alias("value")), str(io_dir / "t"))
    assert readers.read_text(spark, str(io_dir / "t")).count() == 30


def test_orc_roundtrip(spark, io_dir):
    _sample(spark).write.mode("overwrite").orc(str(io_dir / "o"))
    assert readers.read_orc(spark, str(io_dir / "o")).count() == 30


def test_delimited_positional(spark, io_dir):
    """S6: \\u0001-separated positional log lines."""
    lines = spark.createDataFrame(
        [Row(value="".join([str(i), f"title{i}", f"content{i}", "news"])) for i in range(5)]
    )
    writers.write_text(lines, str(io_dir / "d"))
    back = readers.read_delimited(
        spark, str(io_dir / "d"), fields=["id", "title", "content", "rtype"], sep=""
    )
    rows = {r["id"]: r for r in back.collect()}
    assert rows["3"]["title"] == "title3" and rows["3"]["rtype"] == "news"


def test_uci_triples_writer(spark, io_dir):
    df = spark.createDataFrame(
        [Row(doc_id=d, word_id=w, tf=d + w) for d in range(3) for w in range(4)]
    )
    writers.write_uci_triples(df, str(io_dir / "uci"))
    lines = [r["value"] for r in spark.read.text(str(io_dir / "uci")).collect()]
    assert "0|0|0" in lines and "2|3|5" in lines and len(lines) == 12


def test_libsvm_text_writer_and_reader(spark, io_dir):
    df = spark.createDataFrame(
        [
            Row(label=1, pairs=[Row(idx=1, val=2.0), Row(idx=3, val=0.5)]),
            Row(label=0, pairs=[Row(idx=2, val=1.0)]),
        ]
    )
    writers.write_libsvm_text(df, str(io_dir / "svm"), "label", "pairs")
    lines = sorted(r["value"] for r in spark.read.text(str(io_dir / "svm")).collect())
    assert lines == ["0 2:1.0", "1 1:2.0 3:0.5"]
    back = readers.read_libsvm(spark, str(io_dir / "svm"), num_features=4)
    assert back.count() == 2 and set(back.columns) == {"label", "features"}


def test_read_sql(spark):
    from algorithmproject_spark_spark.sources.catalog import register_views

    register_views(spark, "/root/testdata/sf0.001", tables=("nation",))
    assert readers.read_sql(spark, "SELECT count(*) AS n FROM nation").first()["n"] == 25


def test_mongo_raises_without_connector(spark):
    with pytest.raises(NotImplementedError):
        readers.read_mongo(spark, "mongodb://x", "db", "coll")


def test_events_ts_normalized_across_physical_forms(spark, io_dir):
    """events.ts has shipped as TIMESTAMP(NANOS) and TIMESTAMP(MICROS,
    isAdjustedToUTC=false) across testdata generations; load_table must
    normalize every form to session-UTC TimestampType with identical
    values (catalog.py)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from algorithmproject_spark_spark.sources.catalog import load_table

    vals = [
        datetime.datetime(2024, 1, 1, 12, 0, 0, 123456),
        datetime.datetime(2024, 6, 30, 23, 59, 59, 999999),
    ]
    base = {
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([10, 20], pa.int64()),
    }
    for unit in ("ns", "us"):
        d = str(io_dir / f"events_{unit}")
        Path(d).mkdir(parents=True, exist_ok=True)
        tbl = pa.table({**base, "ts": pa.array(vals, pa.timestamp(unit))})
        pq.write_table(tbl, f"{d}/events.parquet")
        df = load_table(spark, d, "events")
        assert df.schema["ts"].dataType.typeName() == "timestamp", unit
        got = sorted(r.ts for r in df.select("ts").collect())
        assert got == vals, unit


def test_clustered_write_enables_row_group_skipping(spark, tmp_path):
    """write_clustered_parquet must produce row groups whose min/max
    spans on the cluster key are tight: a point predicate overlaps
    far fewer row groups than in the natural (arrival-order) layout —
    the measurable property data skipping at 100 TB depends on."""
    import glob

    import pyarrow.parquet as pq

    from algorithmproject_spark_spark.sources.writers import (
        write_clustered_parquet,
    )

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet").select(
        "l_orderkey", "l_shipdate", "l_quantity"
    )
    natural = str(tmp_path / "natural")
    clustered = str(tmp_path / "clustered")
    li.repartition(8).write.parquet(natural)
    write_clustered_parquet(li, clustered, ("l_shipdate",), num_files=8)

    def covering_row_groups(path: str, probe) -> tuple[int, int]:
        total, cover = 0, 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                col = next(
                    md.row_group(rg).column(i)
                    for i in range(md.row_group(rg).num_columns)
                    if md.row_group(rg).column(i).path_in_schema
                    == "l_shipdate"
                )
                total += 1
                st = col.statistics
                if st.min <= probe <= st.max:
                    cover += 1
        return total, cover

    import datetime

    probe = datetime.datetime(1997, 6, 1)
    nat_total, nat_cover = covering_row_groups(natural, probe)
    clu_total, clu_cover = covering_row_groups(clustered, probe)
    # natural layout: every row group spans ~the full date range
    assert nat_cover == nat_total
    # clustered: a point lands in ~1 of the 8 range partitions
    assert clu_cover * 4 <= clu_total
    # same data round-trips
    assert (
        spark.read.parquet(clustered).count()
        == spark.read.parquet(natural).count()
    )


def test_idempotent_foreach_batch_replay_is_noop(spark, tmp_path):
    """Replaying a micro-batch id must not duplicate rows (the
    exactly-once contract), and read_upserted must resolve each key to
    its latest batch."""
    from algorithmproject_spark_spark.streaming.exactly_once import (
        idempotent_batch_writer,
        read_upserted,
    )

    target = str(tmp_path / "upsert")
    write = idempotent_batch_writer(target)
    b0 = spark.createDataFrame(
        [(1, "a"), (2, "b")], ["user_id", "state"]
    )
    b1 = spark.createDataFrame(
        [(2, "b2"), (3, "c")], ["user_id", "state"]
    )
    write(b0, 0)
    write(b1, 1)
    write(b1, 1)  # replay of batch 1 — must be a structural no-op
    raw = spark.read.parquet(target)
    assert raw.count() == 4  # 2 + 2, not 2 + 2 + 2
    cur = {
        r["user_id"]: r["state"]
        for r in read_upserted(spark, target, ["user_id"]).collect()
    }
    assert cur == {1: "a", 2: "b2", 3: "c"}


def test_zorder_write_skips_on_both_columns(spark, tmp_path):
    """Z-order clustering must make row-group stats simultaneously
    tight on BOTH interleaved keys: single-column range clustering is
    perfect on its key and blind on the other; the Morton layout skips
    a majority of row groups on each."""
    import glob

    import pyarrow.parquet as pq

    from algorithmproject_spark_spark.operators.zorder import write_zordered
    from algorithmproject_spark_spark.sources.writers import (
        write_clustered_parquet,
    )

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    single = str(tmp_path / "single")
    zord = str(tmp_path / "zorder")
    write_clustered_parquet(li, single, ("l_orderkey",), num_files=16)
    write_zordered(li, zord, "l_orderkey", "l_partkey", n_files=16)

    def covering(path: str, col: str, probe) -> tuple[int, int]:
        total, cover = 0, 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                c = next(
                    g.column(i)
                    for i in range(g.num_columns)
                    if g.column(i).path_in_schema == col
                )
                total += 1
                st = c.statistics
                if st.min <= probe <= st.max:
                    cover += 1
        return total, cover

    # single-column layout: blind on the non-clustered key
    tot, cov = covering(single, "l_partkey", 1000)
    assert cov == tot
    # z-order: majority of row groups skipped on EACH key
    for col, probe in (("l_orderkey", 7500), ("l_partkey", 1000)):
        tot, cov = covering(zord, col, probe)
        assert cov * 3 <= tot * 2, (col, cov, tot)
    assert spark.read.parquet(zord).count() == li.count()


def test_compact_parquet_merges_small_files(spark, tmp_path):
    """Compaction must collapse a many-small-file directory to the
    byte-budgeted count and preserve the exact row multiset."""
    from algorithmproject_spark_spark.sources.writers import compact_parquet

    path = str(tmp_path / "smallfiles")
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    li.repartition(64).write.parquet(path)  # simulate accreted appends
    import glob

    assert len(glob.glob(f"{path}/*.parquet")) >= 32
    before = li.count()
    n = compact_parquet(spark, path, target_file_bytes=8 * 1024 * 1024)
    files = glob.glob(f"{path}/*.parquet")
    assert len(files) == n and n <= 4
    assert spark.read.parquet(path).count() == before


def test_file_metadata_provenance_column(spark, tmp_path):
    """The hidden _metadata struct gives per-row file provenance with
    no extra scan — the lineage primitive for tracing a bad record
    back to its source file in a multi-million-file lake."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "prov")
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    li.repartition(4).write.parquet(path)
    prov = (
        spark.read.parquet(path)
        .select(
            "l_orderkey",
            F.col("_metadata.file_path").alias("src"),
            F.col("_metadata.file_size").alias("sz"),
        )
        .groupBy("src", "sz")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rows = prov.collect()
    assert len(rows) == 4  # one provenance group per physical file
    assert sum(r["n"] for r in rows) == li.count()
    assert all(r["sz"] > 0 and r["src"].endswith(".parquet") for r in rows)


def test_json_corrupt_record_quarantine(spark, tmp_path):
    """PERMISSIVE + columnNameOfCorruptRecord: malformed crawl lines
    land raw in the quarantine column, well-formed rows parse — no
    row is silently lost, FAILFAST raises, DROPMALFORMED drops."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from algorithmproject_spark_spark.sources.readers import read_json

    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"id": 1, "txt": "ok"}\n'
        "{broken json!!\n"
        '{"id": 3, "txt": "fine"}\n'
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("txt", StringType()),
            StructField("_bad", StringType()),
        ]
    )
    df = read_json(spark, str(p), schema=schema, corrupt_col="_bad").cache()
    assert df.count() == 3
    good = {r.id for r in df.filter("_bad IS NULL").collect()}
    assert good == {1, 3}
    bad = [r._bad for r in df.filter("_bad IS NOT NULL").collect()]
    assert bad == ["{broken json!!"]

    dropped = read_json(
        spark,
        str(p),
        schema=StructType(schema.fields[:2]),
        mode="DROPMALFORMED",
    )
    assert {r.id for r in dropped.collect()} == {1, 3}

    import pytest

    with pytest.raises(Exception):
        read_json(
            spark,
            str(p),
            schema=StructType(schema.fields[:2]),
            mode="FAILFAST",
        ).count()


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Production corpora evolve columns across batches; reading with
    mergeSchema must union the schemas (absent columns null), and the
    default read must still work pinned to one batch's schema."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "evolving")
    spark.range(3).select(
        F.col("id").alias("doc_id"), F.lit("a").alias("text")
    ).write.parquet(base + "/batch=1")
    spark.range(3, 6).select(
        F.col("id").alias("doc_id"),
        F.lit("b").alias("text"),
        F.lit("en").alias("lang"),  # new column in the later batch
    ).write.parquet(base + "/batch=2")

    merged = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(merged.columns) == {"doc_id", "text", "lang", "batch"}
    assert merged.count() == 6
    assert merged.filter("lang IS NULL").count() == 3  # old batch rows

    # partition pruning still reaches the scan under the merged schema
    plan = merged.filter(F.col("batch") == 2)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan
    assert merged.filter(F.col("batch") == 2).count() == 3
