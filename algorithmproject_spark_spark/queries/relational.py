"""Relational core queries — SURVEY.md §2.2 (P), §2.3 (J), §2.4 (A),
§2.7 (E): projections, filters, join family (inner / left / anti /
semi / full-outer-coalesce), aggregation, set ops, exact dedup.

Aggregates over money columns go through exact scaled-integer sums
(functions.numeric) so results are partition-order independent and
hash-match the DuckDB oracle — the property that also makes them stable
on a 1000-executor cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.functions.numeric import ss_scaled_long
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table


# --------------------------------------------------------------------------
# q1_pricing_summary — TPC-H Q1 shape: wide agg after a pushed-down filter.
# Reference parity: groupBy+count/sum stats (SURVEY §2.4 A1/A2);
# filter-after-read predicate pushdown (§4).
# --------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(floor(l_quantity * 1.0 + 0.5) AS BIGINT)) AS BIGINT)                       AS sum_qty,
           CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)               AS sum_base_cents,
           CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT)
                                                                                                   AS sum_disc_price_e4,
           CAST(sum(CAST(floor(((l_extendedprice * (1 - l_discount)) * (1 + l_tax)) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
                                                                                                   AS sum_charge_e6,
           count(*)                                                                                AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-style pricing summary with exact fixed-point sums",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = "l_extendedprice * (1 - l_discount)"
    charge = f"({disc_price}) * (1 + l_tax)"
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(f"sum({ss_scaled_long('l_quantity', 1)})").alias("sum_qty"),
            F.expr(f"sum({ss_scaled_long('l_extendedprice', 100)})").alias(
                "sum_base_cents"
            ),
            F.expr(f"sum({ss_scaled_long(disc_price, 10000)})").alias(
                "sum_disc_price_e4"
            ),
            F.expr(f"sum({ss_scaled_long(charge, 1000000)})").alias("sum_charge_e6"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# q3_shipping_priority — 3-way join + agg + deterministic top-k.
# Reference parity: inner equi-join chains (J1, ArticleInfoProcess.scala:104).
# --------------------------------------------------------------------------
@register(
    "q3_shipping_priority",
    oracle="""
    SELECT o.o_orderkey AS orderkey,
           CAST(sum(CAST(floor((l.l_extendedprice * (1 - l.l_discount)) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_e4,
           o.o_orderdate AS orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue_e4 DESC, orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3-style: customer⨝orders⨝lineitem, group, deterministic top-10",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    disc_price = "l_extendedprice * (1 - l_discount)"
    return (
        # orders/customer scale with the fact table → shuffle joins
        # (AQE may still downgrade to broadcast at small SF); only true
        # dimension tables get explicit broadcast hints in this file.
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("o_orderkey").alias("orderkey"), F.col("o_orderdate").alias("orderdate"))
        .agg(F.expr(f"sum({ss_scaled_long(disc_price, 10000)})").alias("revenue_e4"))
        .select("orderkey", "revenue_e4", "orderdate")
        .orderBy(F.desc("revenue_e4"), F.asc("orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# q5_local_supplier_volume — 6-way join through region/nation dims.
# --------------------------------------------------------------------------
@register(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(sum(CAST(floor((l.l_extendedprice * (1 - l.l_discount)) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_e4
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
    doc="TPC-H Q5-style multi-join with broadcast dims",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    disc_price = "l_extendedprice * (1 - l_discount)"
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.expr(f"sum({ss_scaled_long(disc_price, 10000)})").alias("revenue_e4"))
    )


# --------------------------------------------------------------------------
# join_anti — native left_anti replacing the reference's left-join +
# null-marker-filter idiom (J3: ArticleInfoProcess.scala:191,
# mark/NewsMarchMarkPreProcess.scala:46-56).
# --------------------------------------------------------------------------
@register(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="left_anti join (reference emulates via left join + 'is null' filter)",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# --------------------------------------------------------------------------
# join_semi — EXISTS without duplicating the left side.
# --------------------------------------------------------------------------
@register(
    "join_semi_big_spenders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) > 30000000
    )
    """,
    doc="left_semi join: customers with at least one order > 300k",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.expr(f"{ss_scaled_long('o_totalprice', 100)} > 30000000")
    )
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


# --------------------------------------------------------------------------
# join_outer_coalesce — full outer join + key coalescing, the
# LabelCombine pattern (J4: keywordextractor/LabelCombine.scala:19-36
# outer-joins TF-IDF / TextRank / RAKE outputs and coalesces keys with
# a two-arg UDF; here F.coalesce does it natively).
# --------------------------------------------------------------------------
@register(
    "join_outer_coalesce_order_status",
    oracle="""
    WITH open_o AS (
        SELECT o_custkey AS k, count(*) AS open_cnt FROM orders
        WHERE o_orderstatus = 'O' GROUP BY o_custkey
    ), closed_o AS (
        SELECT o_custkey AS k, count(*) AS closed_cnt FROM orders
        WHERE o_orderstatus = 'F' GROUP BY o_custkey
    )
    SELECT coalesce(open_o.k, closed_o.k) AS custkey,
           coalesce(open_cnt, 0) AS open_cnt,
           coalesce(closed_cnt, 0) AS closed_cnt
    FROM open_o FULL OUTER JOIN closed_o ON open_o.k = closed_o.k
    """,
    doc="full outer join of two aggregates + coalesced keys (LabelCombine shape)",
)
def join_outer_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    open_o = (
        orders.filter(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("k_open"))
        .agg(F.count(F.lit(1)).alias("open_cnt"))
    )
    closed_o = (
        orders.filter(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("k_closed"))
        .agg(F.count(F.lit(1)).alias("closed_cnt"))
    )
    return (
        open_o.join(closed_o, open_o.k_open == closed_o.k_closed, "outer")
        .select(
            F.coalesce("k_open", "k_closed").alias("custkey"),
            F.coalesce("open_cnt", F.lit(0)).alias("open_cnt"),
            F.coalesce("closed_cnt", F.lit(0)).alias("closed_cnt"),
        )
    )


# --------------------------------------------------------------------------
# agg_median / percentile — A6/A8: the reference computes an IDF cutoff
# with Percentile_approx SQL (TFIDF.scala:177-191) and a driver-side
# median (TextRank.scala:121-125). Exact interpolated percentile here.
# --------------------------------------------------------------------------
@register(
    "agg_median_quantity",
    oracle="""
    SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS median_qty,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="exact median per group (reference: percentile_approx / driver median)",
)
def agg_median_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("median_qty"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# agg_count_distinct — A7-style distinct counting, exact.
# --------------------------------------------------------------------------
@register(
    "agg_count_distinct_custs",
    oracle="""
    SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_custs, count(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
    doc="exact countDistinct per group",
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_custs"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# --------------------------------------------------------------------------
# setop_except_intersect — E1/E2/E6: union/distinct/intersect/except.
# --------------------------------------------------------------------------
@register(
    "setop_brand_except_intersect",
    oracle="""
    SELECT p_brand, 'only_large' AS tag FROM (
        SELECT p_brand FROM part WHERE p_type = 'LARGE'
        EXCEPT
        SELECT p_brand FROM part WHERE p_type = 'PROMO'
    )
    UNION ALL
    SELECT p_brand, 'both_std_econ' AS tag FROM (
        SELECT p_brand FROM part WHERE p_type = 'STANDARD'
        INTERSECT
        SELECT p_brand FROM part WHERE p_type = 'ECONOMY'
    )
    """,
    doc="EXCEPT + INTERSECT + UNION ALL over projections",
)
def setop_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")

    def brands(ptype: str) -> DataFrame:
        return part.filter(F.col("p_type") == ptype).select("p_brand")

    # subtract == EXCEPT DISTINCT (exceptAll would keep rows whose
    # multiplicity exceeds the right side — different semantics).
    only_large = brands("LARGE").subtract(brands("PROMO"))
    both = brands("STANDARD").intersect(brands("ECONOMY"))
    return only_large.withColumn("tag", F.lit("only_large")).unionByName(
        both.withColumn("tag", F.lit("both_std_econ"))
    )


# --------------------------------------------------------------------------
# scalar_string_funcs — F1/F2/F6/F8 string surface on documents.
# --------------------------------------------------------------------------
@register(
    "scalar_string_funcs",
    oracle="""
    SELECT doc_id,
           upper(lang) AS lang_upper,
           concat_ws('|', lang, source) AS lang_source,
           string_split(text, ' ')[1] AS first_token,
           length(text) AS text_len,
           length(regexp_replace(text, 'data', 'DATA', 'g')) AS replaced_len,
           substring(text, 1, 12) AS prefix12
    FROM documents
    """,
    doc="concat_ws / split.getItem / length / regexp_replace / substring",
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.upper("lang").alias("lang_upper"),
        F.concat_ws("|", "lang", "source").alias("lang_source"),
        F.split(F.col("text"), " ").getItem(0).alias("first_token"),
        F.length("text").alias("text_len"),
        F.length(F.regexp_replace("text", "data", "DATA")).alias("replaced_len"),
        F.substring("text", 1, 12).alias("prefix12"),
    )


# --------------------------------------------------------------------------
# scalar_date_funcs — F9 date surface on orders (reference does epoch-ms
# SimpleDateFormat UDFs, video/YoutubeTimeStat.scala:23-24 — native here).
# --------------------------------------------------------------------------
@register(
    "scalar_date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mo,
           CAST(day(o_orderdate) AS INT) AS dy,
           CAST(quarter(o_orderdate) AS INT) AS qtr,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(date_diff('day', o_orderdate, TIMESTAMP '2002-01-01 00:00:00') AS INT) AS days_to_2002
    FROM orders
    """,
    doc="year/month/day/quarter/date_trunc/datediff",
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dy"),
        F.quarter("o_orderdate").alias("qtr"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "days_to_2002"
        ),
    )


# --------------------------------------------------------------------------
# dedup_exact — E3 dropDuplicates, made deterministic: keep min key per
# group instead of "whichever row the shuffle delivered first"
# (ArticleInfoProcess.scala:66,68 relies on arbitrary-row semantics).
# --------------------------------------------------------------------------
@register(
    "dedup_exact_docs",
    oracle="""
    SELECT text, min(doc_id) AS keep_doc_id, count(*) AS n_copies
    FROM documents GROUP BY text
    """,
    doc="exact dedup with deterministic survivor (min key)",
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@register(
    "q10_returned_item_customers",
    oracle="""
    SELECT c.c_custkey,
           c.c_name,
           CAST(sum(CAST(floor((l.l_extendedprice * (1 - l.l_discount)) * 100.0 + 0.5)
                        AS BIGINT)) AS BIGINT) AS lost_revenue_cents,
           count(*) AS n_items
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name
    ORDER BY lost_revenue_cents DESC, c.c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape: revenue lost to returned items per customer, "
    "top 20 — two fact joins, returnflag filter pushed to the lineitem "
    "scan, scaled-integer revenue",
)
def q10_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    disc_price = "l_extendedprice * (1 - l_discount)"
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.expr(f"sum({ss_scaled_long(disc_price, 100)})").alias(
                "lost_revenue_cents"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("lost_revenue_cents"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q18_large_volume_orders",
    oracle="""
    WITH big AS (
        SELECT l_orderkey,
               CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
                   AS total_qty_c2
        FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) > 9000
    )
    SELECT c.c_custkey, o.o_orderkey, o.o_orderdate, big.total_qty_c2
    FROM big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY big.total_qty_c2 DESC, o.o_orderkey
    LIMIT 100
    """,
    doc="TPC-H Q18 shape: large-volume orders (HAVING over a pre-join "
    "aggregate) — the agg runs BEFORE the joins so only qualifying "
    "orders shuffle into the customer join",
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.expr(f"sum({ss_scaled_long('l_quantity', 100)})").alias("total_qty_c2"))
        .filter(F.col("total_qty_c2") > 9000)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "o_orderkey", "o_orderdate", "total_qty_c2")
        .orderBy(F.desc("total_qty_c2"), F.asc("o_orderkey"))
        .limit(100)
    )


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(sum(CAST(floor((l_extendedprice * l_discount) * 10000.0 + 0.5)
                        AS BIGINT)) AS BIGINT) AS revenue_e4,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate <  TIMESTAMP '1996-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape: single-scan forecast-revenue aggregate — every "
    "predicate pushes to the parquet scan, zero shuffles past the "
    "2-column partial agg",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    flt = li.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    rev = ss_scaled_long("l_extendedprice * l_discount", 10000)
    return flt.agg(
        F.expr(f"sum({rev})").alias("revenue_e4"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "q4_priority_with_big_lines",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
    )
    GROUP BY o.o_orderpriority
    """,
    doc="TPC-H Q4 shape: EXISTS as a native left-semi join (orders with "
    "at least one 45+-quantity line, counted per priority) — the "
    "correlated subquery compiles to one keyed semi-join shuffle",
)
def q4_priority_with_big_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = li.filter(F.col("l_quantity") > 45).select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    return (
        orders.join(big, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# --------------------------------------------------------------------------
# Deeper TPC-H shapes, round 5: Q14 (join + conditional aggregate),
# Q19 (OR-of-ANDs disjunctive pushdown), Q8 (6-way join tree). Each
# returns exact scaled-integer components instead of float ratios so
# the oracle hash-matches bit-for-bit.
# --------------------------------------------------------------------------
@register(
    "q14_promo_revenue",
    oracle="""
    SELECT CAST(sum(CASE WHEN p.p_type LIKE 'PROMO%'
                    THEN CAST(floor((l.l_extendedprice * (1 - l.l_discount)) * 10000.0 + 0.5) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS promo_rev_e4,
           CAST(sum(CAST(floor((l.l_extendedprice * (1 - l.l_discount)) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_rev_e4,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-09-01'
      AND l.l_shipdate <  TIMESTAMP '1995-10-01'
    """,
    doc="TPC-H Q14 shape: one-month lineitem slice joined to part, "
    "promo-vs-total revenue as exact e4 components (the float ratio is "
    "the caller's division) — date predicates push to the scan, part "
    "side broadcasts",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    flt = li.filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1995-10-01").cast("timestamp_ntz"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    rev = F.expr(ss_scaled_long("l_extendedprice * (1 - l_discount)", 10000))
    return (
        flt.join(F.broadcast(part), flt.l_partkey == part.p_partkey)
        .agg(
            F.sum(
                F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(
                    F.lit(0)
                )
            ).alias("promo_rev_e4"),
            F.sum(rev).alias("total_rev_e4"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q19_disjunctive_filter",
    oracle="""
    SELECT CAST(sum(CAST(floor((l.l_extendedprice * (1 - l.l_discount)) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS revenue_e4,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 shape: OR-of-ANDs across both join sides — Catalyst "
    "must push the derivable conjuncts (quantity range union to the "
    "lineitem scan, brand/size union to the part scan) and keep the "
    "residual disjunction above the broadcast join",
)
def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    qty, brand, size = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((brand == "Brand#1") & size.between(1, 15) & qty.between(1, 11))
        | ((brand == "Brand#2") & size.between(1, 25) & qty.between(10, 20))
        | ((brand == "Brand#3") & size.between(1, 35) & qty.between(20, 30))
    )
    rev = F.expr(ss_scaled_long("l_extendedprice * (1 - l_discount)", 10000))
    return j.filter(cond).agg(
        F.sum(rev).alias("revenue_e4"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "q8_market_share",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
                    THEN CAST(floor((l.l_extendedprice * (1 - l.l_discount)) * 10000.0 + 0.5) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS nation_volume_e4,
           CAST(sum(CAST(floor((l.l_extendedprice * (1 - l.l_discount)) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_volume_e4
    FROM lineitem l
    JOIN orders o    ON o.o_orderkey = l.l_orderkey
    JOIN customer c  ON c.c_custkey  = o.o_custkey
    JOIN nation n1   ON n1.n_nationkey = c.c_nationkey
    JOIN region r    ON r.r_regionkey  = n1.n_regionkey AND r.r_name = 'ASIA'
    JOIN supplier s  ON s.s_suppkey  = l.l_suppkey
    JOIN nation n2   ON n2.n_nationkey = s.s_nationkey
    GROUP BY year(o.o_orderdate)
    """,
    doc="TPC-H Q8 shape: 6-way join tree (lineitem-orders-customer-"
    "nation-region x supplier-nation) with per-year supplier-nation "
    "market share as exact e4 components — dimensions broadcast, the "
    "two fact joins shuffle on their keys once each",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", "n_name"
    )
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    cust_in_region = (
        cust.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    nation.n_regionkey == region.r_regionkey,
                ).select("n_nationkey")
            ),
            cust.c_nationkey == F.col("n_nationkey"),
        ).select("c_custkey")
    )
    supp_nation = supp.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        supp.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    rev = F.expr(ss_scaled_long("l_extendedprice * (1 - l_discount)", 10000))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_in_region, orders.o_custkey == F.col("c_custkey"))
        .join(
            F.broadcast(supp_nation),
            li.l_suppkey == supp_nation.s_suppkey,
        )
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(
                    F.lit(0)
                )
            ).alias("nation_volume_e4"),
            F.sum(rev).alias("total_volume_e4"),
        )
    )
