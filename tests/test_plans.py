"""Physical-plan assertions — the 100 TB posture, checked in CI.

Correctness tests say the operators compute the right answer; these say
Catalyst compiles them to the plans we designed for scale: pushed
filters, pruned scans, broadcast/anti joins where intended, partial
aggregation, no Python nodes in relational paths, shuffle-free
bucketed joins.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from algorithmproject_spark_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_filter_pushdown_and_column_pruning_q1(spark):
    p = plan_of(REGISTRY["q1_pricing_summary"].fn(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in p
    # projection reaches the parquet scan: a 7-column read, not SELECT *
    read_schema = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_comment" not in read_schema


def test_broadcast_join_chosen_for_dimensions(spark):
    p = plan_of(REGISTRY["q5_local_supplier_volume"].fn(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_native_anti_join(spark):
    p = plan_of(REGISTRY["join_anti_customers_without_orders"].fn(spark, SF))
    assert "LeftAnti" in p  # native anti-join, not left+null-filter


def test_wordcount_partial_aggregation_no_python(spark):
    p = plan_of(REGISTRY["doc_wordcount_topk"].fn(spark, SF))
    # map-side partial agg before the exchange, final agg after
    assert p.count("HashAggregate") >= 2
    assert "Exchange" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_relational_queries_have_no_python_nodes(spark):
    """Every oracle-checked relational/text query must stay JVM-side —
    Python appears only in declared Arrow kernels (multimodal, global
    index)."""
    # declared Arrow kernels (pandas_udf/mapInPandas by design): RAKE,
    # multimodal decode, two-phase global index
    for name in [
        "q3_shipping_priority",
        "tfidf_top_terms",
        "doc_pos_bigrams",
        "minhash_lsh_candidates",
        "ann_ivf_topk",
        "lang_doc_ids_salted",
        "curation_pipeline",
    ]:
        p = plan_of(REGISTRY[name].fn(spark, SF))
        assert "EvalPython" not in p, f"{name} fell off the JVM path"


def test_salted_collect_list_two_phase(spark):
    p = plan_of(REGISTRY["lang_doc_ids_salted"].fn(spark, SF))
    # phase 1 groups on (lang, salt), phase 2 on lang → two exchanges
    assert p.count("Exchange") >= 2


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    from algorithmproject_spark_spark.sources.writers import write_bucketed_table

    left = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b")
    )
    write_bucketed_table(left, "bk_left", ["k"], n_buckets=8, sort_cols=["k"])
    write_bucketed_table(right, "bk_right", ["k"], n_buckets=8, sort_cols=["k"])
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bk_left").join(spark.table("bk_right"), "k")
        p = plan_of(joined)
        assert "SortMergeJoin" in p
        assert "Exchange hashpartitioning" not in p  # co-located: no shuffle
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bk_left")
        spark.sql("DROP TABLE IF EXISTS bk_right")


def test_range_join_is_equi_not_nested_loop(spark):
    p = plan_of(REGISTRY["range_join_type_windows"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in p  # bucketed equi-join shape
    assert "Join" in p


def test_llmprep_map_only_operators_have_no_exchange(spark):
    """SCALE.md claims: repetition signals and int8 quantization are
    map-only; simhash is too. CI-enforce zero Exchange nodes."""
    for name in ("doc_repetition_signals", "embedding_int8_quant",
                 "simhash_fingerprints"):
        p = plan_of(REGISTRY[name].fn(spark, SF))
        assert "Exchange" not in p, name


def test_pack_sequences_single_pershard_window(spark):
    import re

    p = plan_of(REGISTRY["doc_pack_sequences"].fn(spark, SF))
    # exactly one shuffle: the hash partition on the shard key
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "No Partition Defined" not in p  # never a global window


def test_llmprep_reads_prune_columns(spark):
    p = plan_of(REGISTRY["embedding_int8_quant"].fn(spark, SF))
    assert "ReadSchema: struct<vec_id:bigint,embedding:array<float>>" in p


def test_stream_batch_twins_shuffle_posture(spark):
    """Session twin: exactly one Exchange (the session aggregation);
    profile twin: one Catalyst aggregate with no Python node — its
    distinct type count plans as the usual two Exchanges, the partial
    aggregate keyed by (user, type) and the final one by user."""
    p = plan_of(REGISTRY["stream_session_windows_batch_twin"].fn(spark, SF))
    # "Exchange (" counts tree nodes once (formatted mode repeats each
    # node in the details section)
    assert p.count("Exchange (") == 1
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p

    p = plan_of(REGISTRY["stream_user_profile_batch_twin"].fn(spark, SF))
    assert p.count("Exchange (") == 2
    assert "Python" not in p and "InPandas" not in p


def test_lloyd_assignment_is_map_only_plus_broadcast_probe(spark):
    """The learned-quantizer query's final plan: cell assignment is a
    map-only projection (centroid literals are in-plan, no side join),
    the probe side is broadcast, and the only wide shuffle is the
    top-k window."""
    p = plan_of(REGISTRY["ann_ivf_kmeans_topk"].fn(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_near_dup_twin_is_equi_join_only(spark):
    """The near-dup survivor rule must stay banded equi-joins — no
    cartesian/nested-loop pairing anywhere in the plan."""
    p = plan_of(REGISTRY["stream_near_dup_batch_twin"].fn(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_chunk_dedup_posture(spark):
    """Chunk boilerplate dedup: equi-joins only (the boilerplate set is
    NOT broadcast by hint — at 100 TB it is large), no Python eval, and
    the generator runs once (a single Generate node feeding the cached
    chunk relation)."""
    p = plan_of(REGISTRY["doc_chunk_dedup"].fn(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_semantic_dedup_pairs_on_cell_key(spark):
    """SemDeDup: the pair generator must be an equi-join on the cell
    key — never an all-pairs nested loop — and the exact-cosine filter
    stays JVM-side."""
    p = plan_of(REGISTRY["embedding_semantic_dedup"].fn(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_corpus_shard_shuffle_no_global_sort(spark):
    """The training shuffle must be ONE hash exchange on the shard key
    with per-partition sorts — a rangepartitioning exchange would mean
    Catalyst planned a global sort, the exact 100 TB cliff the operator
    exists to avoid."""
    import re

    p = plan_of(REGISTRY["corpus_shard_shuffle"].fn(spark, SF))
    assert "rangepartitioning" not in p.lower()
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 1
    assert "hashpartitioning" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_q18_aggregates_before_joins(spark):
    """Q18's HAVING aggregate must run on lineitem BEFORE the
    orders/customer joins — aggregate-then-join is the shape that keeps
    only qualifying orders in the join shuffle at scale."""
    import re

    p = plan_of(REGISTRY["q18_large_volume_orders"].fn(spark, SF))
    # the lineitem aggregate's output feeds a join build/probe side:
    # every HashAggregate node id must be smaller (deeper in the tree)
    # than every join node id in the formatted plan's numbering
    aggs = [int(m) for m in re.findall(r"^\((\d+)\) HashAggregate", p, re.M)]
    joins = [
        int(m)
        for m in re.findall(r"^\((\d+)\) (?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", p, re.M)
    ]
    assert aggs and joins
    assert min(aggs) < min(joins)


def test_stream_attribution_twin_is_hash_join_not_nested_loop(spark):
    """The interval predicate rides on a user equi-key: Catalyst must
    plan a hash/sort-merge join with the time bound as a filter — a
    BroadcastNestedLoopJoin here would be the O(views x clicks) cliff."""
    p = plan_of(REGISTRY["stream_click_attribution_batch_twin"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_salted_join_spreads_hot_key(spark):
    """salted_join: result equals the plain join, and the physical join
    keys include the salt column."""
    from pyspark.sql import Row

    from algorithmproject_spark_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [Row(k=1 if i < 90 else 2, v=i) for i in range(100)]
    )
    small = spark.createDataFrame([Row(k=1, name="hot"), Row(k=2, name="cold")])
    out = salted_join(big, small, "k")
    plain = big.join(small, "k")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, plain.collect()))
    p = plan_of(salted_join(big, small, "k"))
    assert "__salt" in p


def test_q6_predicates_push_to_scan(spark):
    """Q6: every predicate must reach the parquet scan as a pushed
    filter, and the read schema must be the 4 referenced columns."""
    p = plan_of(REGISTRY["q6_forecast_revenue"].fn(spark, SF))
    pushed = next(l for l in p.splitlines() if "PushedFilters" in l)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, col
    read_schema = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_extendedprice" in read_schema and "l_orderkey" not in read_schema


def test_q4_exists_is_semi_join(spark):
    p = plan_of(REGISTRY["q4_priority_with_big_lines"].fn(spark, SF))
    assert "LeftSemi" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_ngram_jaccard_filters_both_posting_sides(spark):
    """Both children of the candidate self-join must consume the
    df-capped posting relation — shuffling the unfiltered posting
    table on either side would dominate the query at 100 TB. The
    relation is pinned once (localCheckpoint: Catalyst does not dedupe
    identical subtrees), so the optimized plan shows the pinned scan
    on BOTH join children and the df filter runs exactly once,
    upstream of the pin — not zero times, and not once per side."""
    import re

    df = REGISTRY["ngram_jaccard_index_pairs"].fn(spark, SF)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    # pinned (pre-filtered) relation on both self-join sides
    assert opt.count("LogicalRDD") >= 2
    # the df filter itself no longer appears downstream of the pin
    assert len(re.findall(r"df#\d+L? >= 2", opt)) == 0


def test_q2_correlated_min_is_reaggregation_not_subquery(spark):
    """Q2's `= (SELECT min ...)` must compile to a per-part min
    re-aggregation joined back on the group key — two HashAggregates
    over the same grouped relation and only hash/broadcast joins, never
    a per-row nested-loop subquery execution."""
    p = plan_of(REGISTRY["q2_min_cost_supplier"].fn(spark, SF))
    assert p.count("HashAggregate") >= 4  # partial+final × (spc, min_per_part)
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_q17_avg_threshold_joins_on_group_key(spark):
    """Q17's `< 0.2*avg(...)` correlated subquery must become a keyed
    join against the per-part aggregate (SortMergeJoin/ShuffledHashJoin
    on l_partkey), with the threshold as a plain integer filter."""
    p = plan_of(REGISTRY["q17_small_quantity_revenue"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "HashAggregate" in p


def test_q21_exists_chain_is_one_aggregate_one_scan(spark):
    """Q21's EXISTS/NOT-EXISTS pair compiles to ONE per-order aggregate
    over a SINGLE lineitem scan (max(when(R, suppkey)) recovers the
    sole R-supplier, so nothing joins back to the fact) — the textbook
    triple self-join would scan it three times. The distinct-pair
    pre-aggregate must be a plain groupBy (map-side combine), never a
    countDistinct whose Expand node would triple the shuffle volume."""
    p = plan_of(REGISTRY["q21_sole_returned_supplier"].fn(spark, SF))
    assert p.count("lineitem.parquet") == 1
    assert "Expand" not in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_q16_not_in_is_native_anti_join(spark):
    p = plan_of(REGISTRY["q16_parts_supplier_relationship"].fn(spark, SF))
    assert "LeftAnti" in p
    # count(DISTINCT) partial-aggregates before the final exchange
    assert p.count("HashAggregate") >= 2


def test_q20_nested_aggregate_is_semi_join(spark):
    p = plan_of(REGISTRY["q20_excess_stock_suppliers"].fn(spark, SF))
    assert "LeftSemi" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_q22_anti_join_date_filter_pushes_to_scan(spark):
    """Q22's NOT EXISTS becomes a native anti-join whose date
    restriction reaches the orders parquet scan as a pushed filter."""
    p = plan_of(REGISTRY["q22_global_sales_opportunity"].fn(spark, SF))
    assert "LeftAnti" in p
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert any("o_orderdate" in l and "GreaterThanOrEqual" in l for l in pushed)


def test_incremental_ingest_probes_split_sides_only(spark):
    """Incremental dedup must join the NEW band slice against the
    HISTORICAL band slice — both children of the candidate join carry
    the hash-split filter, so the per-batch cost is O(batch × bands),
    never the full-corpus self-join."""
    import re

    df = REGISTRY["incremental_near_dup_ingest"].fn(spark, SF)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r">= 8", opt)) >= 2  # new side + final slice
    assert len(re.findall(r"< 8", opt)) >= 1   # historical side
    p = plan_of(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_runtime_bloom_filter_prunes_shuffle_join_probe(spark):
    """At 100 TB scale Spark injects a runtime bloom filter on the
    probe side of a shuffle join whose build side is selectively
    filtered (default thresholds: build ≤ 10 MB after filter, probe
    scan ≥ 10 GB — i.e. exactly the big-fact × filtered-dim case).
    The testdata never crosses 10 GB, so pin the machinery by lowering
    the application-side threshold and asserting the injected
    might_contain probe appears in the physical plan."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        p = plan_of(j)
        assert "might_contain" in p, "runtime bloom filter not injected"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_fuzzy_edit1_is_blocked_equi_join(spark):
    """The edit-distance join must be an equi-join on deletion keys
    (linear key volume) — never a nested-loop all-pairs levenshtein."""
    p = plan_of(REGISTRY["fuzzy_name_edit1_pairs"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "levenshtein" in p  # verify runs on candidates only


def test_sql_udf_inlines_no_python(spark):
    """The SQL UDF must be Catalyst-inlined — its plan is identical in
    kind to hand-written expressions: partial aggregation, no Python
    eval node anywhere."""
    p = plan_of(REGISTRY["sql_udf_net_revenue"].fn(spark, SF))
    assert "EvalPython" not in p and "BatchEval" not in p
    assert p.count("HashAggregate") >= 2  # map-side partial + final


def test_variant_parse_stays_jvm_side(spark):
    p = plan_of(REGISTRY["variant_props_stats"].fn(spark, SF))
    assert "EvalPython" not in p
    assert "variant_get" in p or "from_json" in p  # typed access in-plan


def test_join_strategy_hints_are_honored(spark):
    """Join-strategy hints: users migrating hand-tuned jobs need
    explicit control when stats mislead — merge and shuffle_hash hints
    must survive into the physical plan."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    p = plan_of(li.join(orders.hint("merge"), li.l_orderkey == orders.o_orderkey))
    assert "SortMergeJoin" in p
    p = plan_of(
        li.join(orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey)
    )
    assert "ShuffledHashJoin" in p


def test_observation_metrics_single_pass(spark):
    """df.observe: pipeline health counters (rows, nulls, revenue sum)
    captured DURING the job — no second scan, the aggregate rides the
    same plan."""
    from pyspark.sql import Observation, functions as F

    obs = Observation("health")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    out = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").isNull().cast("int")).alias("null_qty"),
    ).filter(F.col("l_quantity") > 10)
    n_filtered = out.count()
    got = obs.get
    assert got["n_rows"] == li.count()
    assert got["null_qty"] == 0
    assert 0 < n_filtered < got["n_rows"]


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join must split the hot partition at runtime: a join
    where one key carries 75% of the big side finishes as
    SortMergeJoin(skew=true) in the final adaptive plan — the runtime
    remedy (alongside operators/skew.py's explicit salting) that keeps
    a 1000-executor cluster from serializing on one straggler task.
    Thresholds are lowered to make test-sized data register as skewed;
    production defaults (256 MB) express the same mechanism."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.range(0, 400_000).select(
            F.when(F.col("id") < 300_000, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        small = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("attr")
        )
        j = big.join(small, "k")
        assert len(j.collect()) == 400_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sparse_posting_join_filters_both_sides(spark):
    """sparse_tfidf_topk_pairs: the df band (2..MAX_DF) must reach BOTH
    children of the posting self-join — the same both-sides contract
    the ngram_jaccard test pins (an unfiltered b-side re-shuffles the
    full posting relation for nothing at 100 TB)."""
    import re

    df = REGISTRY["sparse_tfidf_topk_pairs"].fn(spark, SF)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"df#\d+L? >= 2", opt)) >= 2


def test_anomaly_twin_is_two_window_passes_one_shuffle_key(spark):
    """The anomaly twin must be window passes over the user key plus
    one aggregation — no joins at all."""
    p = plan_of(REGISTRY["stream_anomaly_batch_twin"].fn(spark, SF))
    assert "Join" not in p
    assert "Window" in p


def test_cep_pattern_has_no_joins(spark):
    """The CEP compilation's whole point: lead/min-over-frame window
    passes instead of per-candidate correlated probes — zero joins."""
    p = plan_of(REGISTRY["events_error_burst_recovery"].fn(spark, SF))
    assert "Join" not in p
    assert "Window" in p


def test_calibration_cut_window_is_distribution_sized(spark):
    """quality_dup_calibration must compute its quartile cuts over the
    compacted ratio distribution (HashAggregate BELOW the single-
    partition window), never sort the doc relation globally."""
    p = plan_of(REGISTRY["quality_dup_calibration"].fn(spark, SF))
    assert "rangepartitioning" not in p.lower()
    assert "ntile" not in p.lower()
