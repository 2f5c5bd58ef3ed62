"""Pareto-frontier (skyline) extraction — multi-objective top-set.

The skyline operator (Börzsönyi et al., ICDE'01): return the rows not
dominated by any other row, here over parts with two objectives —
MINIMIZE retail price, MAXIMIZE size. A part is dominated iff some
other part is no worse on both objectives and strictly better on one.
The reference's ranking jobs (video/*.scala top-N rollups) only ever
rank on ONE key; the skyline is the standard multi-objective
generalization every catalog/pricing pipeline eventually needs.

Scale design: the naive formulation is an all-pairs dominance test
(O(n²) — banned). For a 2-D skyline there is an exact
aggregate-then-prefix-max form:

1. collapse to one candidate per distinct price: ``max(size)`` per
   ``price_c`` — one keyed shuffle over the full table, output
   bounded by |distinct prices| (money values: bounded and tiny
   relative to row count at any SF);
2. a candidate survives iff its size strictly exceeds the running max
   size over all strictly-cheaper candidates — ONE ordered window
   over the compacted per-price relation (declared ``global_sort``:
   the total order over distinct prices IS the semantics, and the
   window input is dimension-sized, not fact-sized);
3. join the surviving (price_c, msize) points back to the part table
   to recover every part sitting on a frontier point (ties on both
   objectives are mutually non-dominating — classic skyline keeps
   them all).

No self-join, no cartesian anything; the fact-table cost is one
groupBy plus one equi-join back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from algorithmproject_spark_spark.functions.numeric import sql_scaled_long, ss_scaled_long
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table


@register(
    "part_pareto_frontier",
    oracle=f"""
    WITH pts AS (
        SELECT p_partkey,
               {sql_scaled_long('p_retailprice')} AS price_c,
               CAST(p_size AS BIGINT) AS size
        FROM part
    ),
    cand AS (
        SELECT price_c, CAST(max(size) AS BIGINT) AS msize
        FROM pts GROUP BY price_c
    ),
    fr AS (
        SELECT price_c, msize,
               max(msize) OVER (
                   ORDER BY price_c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prevmax
        FROM cand
    ),
    frontier AS (
        SELECT price_c, msize FROM fr
        WHERE prevmax IS NULL OR msize > prevmax
    )
    SELECT p.p_partkey, p.price_c, p.size AS p_size
    FROM pts p JOIN frontier f
      ON p.price_c = f.price_c AND p.size = f.msize
    ORDER BY p.price_c, p.p_partkey
    """,
    doc=(
        "2-D Pareto skyline of parts (min price, max size) via "
        "aggregate-then-prefix-max — no all-pairs dominance test"
    ),
    plan=("global_sort",),
)
def part_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.expr(ss_scaled_long("p_retailprice")).alias("price_c"),
        F.col("p_size").cast("long").alias("size"),
    )
    # one candidate point per distinct price — the window below rides
    # this dimension-sized relation, never the fact table
    # distinct output names (f_price, msize) — frontier shares lineage
    # with pts, and a same-name join key trips the ambiguous-self-join
    # analyzer check
    cand = pts.groupBy(F.col("price_c").alias("f_price")).agg(
        F.max("size").alias("msize")
    )
    w = W.orderBy("f_price").rowsBetween(W.unboundedPreceding, -1)
    frontier = cand.withColumn("prevmax", F.max("msize").over(w)).filter(
        F.col("prevmax").isNull() | (F.col("msize") > F.col("prevmax"))
    )
    # recover every part on a frontier point; the frontier side is
    # tiny (prefix-max survivors) — AQE broadcasts it
    return (
        pts.join(
            frontier,
            (F.col("price_c") == F.col("f_price"))
            & (F.col("size") == F.col("msize")),
        )
        .select("p_partkey", "price_c", F.col("size").alias("p_size"))
        .orderBy("price_c", "p_partkey")
    )
