"""Advanced operators beyond the reference's inventory: as-of join,
rollup/cube/pivot (SURVEY.md §2.4 notes the reference has none), plus
the HTML kernels T1/T13 exercised as oracle-checked queries.

The as-of join is the canonical "operator Spark lacks natively"
(pyspark guide: bucketize or merge_asof); implemented here as the
union-and-carry-forward window trick — one shuffle, no Python — and
oracle-checked against DuckDB's NATIVE ``ASOF JOIN``, which is the
strongest parity evidence available for it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from algorithmproject_spark_spark.functions.htmlops import (
    html_to_text,
    sql_html_to_text,
    sql_tag_entity_words,
    tag_entity_words,
)
from algorithmproject_spark_spark.functions.numeric import ss_scaled_long
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table


# --------------------------------------------------------------------------
# As-of join: for every click, the most recent view by the same user at
# or before it. Union trick: tag views 0 / clicks 1, order by (ts, tag,
# event_id), carry the last view timestamp forward per user.
# --------------------------------------------------------------------------
@register(
    "asof_click_to_view",
    oracle="""
    SELECT c.event_id AS click_id, c.user_id AS user_id,
           epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
    doc="as-of join via union + carry-forward window; oracle uses DuckDB native ASOF JOIN",
)
def asof_click_to_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.lit(0).alias("tag"),
        F.col("event_id"),
        F.col("ts").alias("view_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(1).alias("tag"),
        F.col("event_id"),
        F.lit(None).cast("timestamp").alias("view_ts"),
    )
    # Views sort before clicks at equal ts (tag 0 < 1) → "at or before"
    # semantics match ASOF's >=.
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    merged = views.unionByName(clicks).withColumn(
        "last_view_ts", F.last("view_ts", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("tag") == 1).select(
        F.col("event_id").alias("click_id"),
        "user_id",
        (F.unix_micros("ts") - F.unix_micros("last_view_ts")).alias("gap_us"),
    )


# --------------------------------------------------------------------------
# ROLLUP / CUBE — hierarchical and full grouping-set aggregates.
# --------------------------------------------------------------------------
@register(
    "rollup_returnflag_status",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           CAST(sum(CAST(floor(l_quantity * 1.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    -- Spark emits ZERO rows for grouping sets over an empty input,
    -- DuckDB emits the SQL-standard grand-total row; on any non-empty
    -- table every rollup group contains >=1 row, so this HAVING only
    -- pins the empty-input behavior to Spark's (edge-sweep finding)
    HAVING count(*) > 0
    """,
    doc="ROLLUP aggregate (reference has no grouping sets at all)",
)
def rollup_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"sum({ss_scaled_long('l_quantity', 1)})").alias("sum_qty"),
    )


@register(
    "cube_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    HAVING count(*) > 0  -- pin Spark's empty-input grouping-set
                         -- semantics (see rollup twin)
    """,
    doc="CUBE aggregate over two dimensions",
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )


# --------------------------------------------------------------------------
# PIVOT — wide conditional aggregation (portable oracle via CASE sums).
# --------------------------------------------------------------------------
@register(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_full,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS n_partial
    FROM orders GROUP BY o_orderpriority
    """,
    doc="pivot with pinned value set (Catalyst rewrites to one-pass conditional agg)",
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # Pinned pivot values: with an unpinned pivot Spark runs an extra
    # distinct-scan job to discover them — never do that at scale.
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("O", F.lit(0)).alias("n_open"),
            F.coalesce("F", F.lit(0)).alias("n_full"),
            F.coalesce("P", F.lit(0)).alias("n_partial"),
        )
    )


# --------------------------------------------------------------------------
# T1: html → text, exercised by wrapping the corpus in markup in-plan
# (the testdata has no html column) and stripping it back.
# --------------------------------------------------------------------------
_HTML_WRAP_SPARK = (
    "concat('<html><body><div id=\"a\">', text, "
    "'</div><script>var x=1;</script><a href=\"http://e.com\">link &amp; more</a></body></html>')"
)
_HTML_WRAP_DUCK = (
    "'<html><body><div id=\"a\">' || text || "
    "'</div><script>var x=1;</script><a href=\"http://e.com\">link &amp; more</a></body></html>'"
)


@register(
    "html_strip_roundtrip",
    oracle=f"""
    SELECT doc_id,
           {sql_html_to_text(_HTML_WRAP_DUCK)} AS stripped,
           CASE WHEN {sql_html_to_text(_HTML_WRAP_DUCK)} = text || ' link & more' THEN 1 ELSE 0 END AS clean_roundtrip
    FROM documents
    """,
    doc="T1: html→text as a Catalyst regexp chain (reference: Jsoup UDF)",
)
def html_strip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    wrapped = F.expr(_HTML_WRAP_SPARK)
    stripped = html_to_text(wrapped)
    return docs.select(
        "doc_id",
        stripped.alias("stripped"),
        F.when(stripped == F.concat(F.col("text"), F.lit(" link & more")), 1)
        .otherwise(0)
        .alias("clean_roundtrip"),
    )


# --------------------------------------------------------------------------
# T13: entity-keyword tagging.
# --------------------------------------------------------------------------
_TAG_WORDS = ("spark", "shuffle", "join")
_TAG_LIST_SQL = "[" + ", ".join(f"'{w}'" for w in _TAG_WORDS) + "]"


@register(
    "entity_word_tagging",
    oracle=f"""
    SELECT doc_id,
           length({sql_tag_entity_words("text", _TAG_LIST_SQL)}) AS tagged_len,
           (length({sql_tag_entity_words("text", _TAG_LIST_SQL)}) - length(text))
               / length('<i class="apus-entity-words"></i>') AS n_tags
    FROM documents
    """,
    doc="T13: wrap entity keywords in <i class=\"apus-entity-words\"> (ArticleInfoProcess.scala:130-164)",
)
def entity_word_tagging(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    kw = F.array(*[F.lit(w) for w in _TAG_WORDS])
    tagged = tag_entity_words(F.col("text"), kw)
    marker_len = len('<i class="apus-entity-words"></i>')
    return docs.select(
        "doc_id",
        F.length(tagged).alias("tagged_len"),
        ((F.length(tagged) - F.length("text")) / F.lit(marker_len)).alias("n_tags"),
    )


# --------------------------------------------------------------------------
# argmax/argmin aggregates (max_by / min_by, SQL-standard arg_max):
# "which row attains the extreme" without a join-back or a window —
# one keyed aggregation. Determinism under ties is the whole game:
# max_by's choice between equal ordering values is engine-defined, so
# the ordering value is made UNIQUE by composing (cents, orderkey)
# into one BIGINT: cents * 2^31 + orderkey. The cents factor overflows
# LOUDLY past 4.3e9 cents (ANSI), but an orderkey >= 2^31 would NOT
# raise — it silently bleeds into the cents field and corrupts the
# ordering (adversarial-review finding). Both sides therefore guard
# the orderkey bound explicitly: Spark with assert_true, DuckDB with
# error() — loud failure, never a silent wrong argmax.
# --------------------------------------------------------------------------
_ARGMAX_SHIFT = 1 << 31


@register(
    "orders_argmax_by_priority",
    oracle=f"""
    WITH guarded AS (
        SELECT o_orderpriority,
               CASE WHEN o_orderkey >= {_ARGMAX_SHIFT}
                    THEN CAST(error(
                        'orderkey exceeds argmax composite bound 2^31'
                    ) AS BIGINT)
                    ELSE o_orderkey END AS o_orderkey,
               CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        FROM orders
    )
    SELECT o_orderpriority,
           arg_max(o_orderkey,
                   cents * {_ARGMAX_SHIFT} + o_orderkey) AS top_orderkey,
           CAST(max(cents) AS BIGINT) AS top_cents,
           arg_min(o_orderkey,
                   cents * {_ARGMAX_SHIFT} + o_orderkey) AS bottom_orderkey,
           CAST(min(cents) AS BIGINT) AS bottom_cents,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM guarded GROUP BY o_orderpriority
    """,
    doc=(
        "argmax/argmin per priority class via max_by/min_by with a "
        "tie-proof composite ordering key — no join-back, no window"
    ),
)
def orders_argmax_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderkey",
        F.expr(ss_scaled_long("o_totalprice")).alias("cents"),
    )
    # assert_true returns NULL on success — route it through coalesce
    # so the (always-0) guard term joins the composite without NULLing
    # it, and a violating orderkey fails the JOB, not the ordering
    guard = F.coalesce(
        F.assert_true(
            F.col("o_orderkey") < F.lit(_ARGMAX_SHIFT),
            F.lit("orderkey exceeds argmax composite bound 2^31"),
        ).cast("long"),
        F.lit(0),
    )
    combo = (
        F.col("cents") * F.lit(_ARGMAX_SHIFT) + F.col("o_orderkey") + guard
    )
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", combo).alias("top_orderkey"),
        F.max("cents").alias("top_cents"),
        F.min_by("o_orderkey", combo).alias("bottom_orderkey"),
        F.min("cents").alias("bottom_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# --------------------------------------------------------------------------
# Nearest-event temporal alignment: for each error, the CLOSEST view of
# the same user in either direction (the sensor-alignment asof variant;
# asof_click_to_view above is backward-only). One user-timeline window
# pass: last preceding view via an IGNORE NULLS running last_value,
# first following view via its mirror — no self-join, no time-bucket
# blow-up. Ties (equidistant before/after) bind to the EARLIER view,
# pinned by the oracle. Distances in exact microseconds.
# --------------------------------------------------------------------------
@register(
    "events_nearest_view_per_error",
    oracle="""
    WITH tl AS (
        SELECT user_id, event_id, event_type,
               CAST(epoch_us(ts) AS BIGINT) AS us,
               last_value(CASE WHEN event_type = 'view'
                               THEN CAST(epoch_us(ts) AS BIGINT) END
                          IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS prev_view_us,
               first_value(CASE WHEN event_type = 'view'
                                THEN CAST(epoch_us(ts) AS BIGINT) END
                           IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ) AS next_view_us
        FROM events
    )
    SELECT user_id, event_id AS error_event_id, us AS error_us,
           CASE WHEN next_view_us IS NULL THEN prev_view_us
                WHEN prev_view_us IS NULL THEN next_view_us
                WHEN us - prev_view_us <= next_view_us - us
                    THEN prev_view_us
                ELSE next_view_us END AS nearest_view_us,
           CASE WHEN next_view_us IS NULL THEN us - prev_view_us
                WHEN prev_view_us IS NULL THEN next_view_us - us
                WHEN us - prev_view_us <= next_view_us - us
                    THEN us - prev_view_us
                ELSE next_view_us - us END AS dist_us
    FROM tl
    WHERE event_type = 'error'
      AND (prev_view_us IS NOT NULL OR next_view_us IS NOT NULL)
    """,
    doc=(
        "nearest-view alignment per error event (either direction, "
        "ties to the earlier view) — one IGNORE NULLS window pass "
        "per direction, zero self-joins"
    ),
)
def events_nearest_view_per_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us"), "ts"
    )
    view_us = F.when(F.col("event_type") == "view", F.col("us"))
    back = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    fwd = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    tl = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "us",
        F.last(view_us, ignorenulls=True).over(back).alias("prev_view_us"),
        F.first(view_us, ignorenulls=True).over(fwd).alias("next_view_us"),
    )
    prev_d = F.col("us") - F.col("prev_view_us")
    next_d = F.col("next_view_us") - F.col("us")
    nearest = (
        F.when(F.col("next_view_us").isNull(), F.col("prev_view_us"))
        .when(F.col("prev_view_us").isNull(), F.col("next_view_us"))
        .when(prev_d <= next_d, F.col("prev_view_us"))
        .otherwise(F.col("next_view_us"))
    )
    dist = (
        F.when(F.col("next_view_us").isNull(), prev_d)
        .when(F.col("prev_view_us").isNull(), next_d)
        .when(prev_d <= next_d, prev_d)
        .otherwise(next_d)
    )
    return tl.filter(
        (F.col("event_type") == "error")
        & (
            F.col("prev_view_us").isNotNull()
            | F.col("next_view_us").isNotNull()
        )
    ).select(
        "user_id",
        F.col("event_id").alias("error_event_id"),
        F.col("us").alias("error_us"),
        nearest.alias("nearest_view_us"),
        dist.alias("dist_us"),
    )
