"""Behavioral sequence statistics + numeric forensics over events.

Three analytics the reference's event jobs (video/*.scala rollup
pipelines) stop short of, all in the exact-integer discipline of
functions/numeric.py so every byte hash-matches the single-threaded
DuckDB oracle under any partitioning:

- **Markov transition matrix** (``events_markov_transitions``): the
  first-order behavior model P(next event type | event type), the
  input to next-action prediction and anomaly scoring. One window
  (lead over user timeline) + one keyed agg; probabilities as exact
  ``c·10⁶ // n`` micro-units.
- **Per-user behavioral entropy** (``user_event_entropy``): Shannon
  entropy of each user's event-type mix — the bot/monoculture signal
  (H≈0: single-action scripts; high H: diverse organic use).
  H = ln n − (Σ c·ln c)/n with each c·ln c term rounded to micro-nats
  per row BEFORE the sum (float sums are partition-order dependent;
  integer sums are not — the lm.py discipline).
- **Benford first-digit audit** (``events_benford_digits``): leading
  significant digit distribution of event values vs Benford's law —
  the classic fabricated-data detector. The digit comes from the
  STRING of the exact cents integer (functions/numeric.py::
  ss_scaled_long), never from float→string (Spark renders 1e4 as
  "10000.0", DuckDB as "10000.0" only sometimes — engine float
  formatting is not a contract; BIGINT formatting is).

Scale: each query is one shuffle over compact keys (the window
partitions by user — the same user-timeline shuffle every
sessionization query in the engine already pays; transition/digit
state is O(|types|²) / O(9) rows). Nothing quadratic, nothing
driver-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from algorithmproject_spark_spark.functions.numeric import ss_floordiv, ss_scaled_long
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table
from algorithmproject_spark_spark.streaming.markov import adjacent_pairs

TOPK_ENTROPY = 20
TOPK_ISLANDS = 25
TOPK_TRIGRAMS = 25


@register(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS nxt
        FROM events
    ),
    t AS (
        SELECT event_type AS src, nxt AS dst,
               CAST(count(*) AS BIGINT) AS cnt
        FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT src, CAST(sum(cnt) AS BIGINT) AS n FROM t GROUP BY src)
    SELECT t.src, t.dst, t.cnt, (t.cnt * 1000000) // tot.n AS p_e6
    FROM t JOIN tot USING (src)
    """,
    doc=(
        "first-order Markov model of user behavior: event-type "
        "transition counts + exact micro-unit probabilities"
    ),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    t = (
        adjacent_pairs(ev)
        .groupBy(F.col("event_type").alias("src"), "dst")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = t.groupBy("src").agg(F.sum("cnt").alias("n"))
    # per-src totals are |event types| rows → broadcast back
    return (
        t.join(F.broadcast(tot), "src")
        .select(
            "src",
            "dst",
            "cnt",
            F.expr(ss_floordiv("cnt * 1000000", "n")).alias("p_e6"),
        )
    )


@register(
    "user_event_entropy",
    oracle=f"""
    WITH c AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    terms AS (
        SELECT user_id,
               CAST(floor(c * ln(c) * 1000000.0 + 0.5) AS BIGINT)
                   AS clnc_e6,
               c
        FROM c
    ),
    peruser AS (
        SELECT user_id,
               CAST(sum(clnc_e6) AS BIGINT) AS s_e6,
               CAST(sum(c) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_types
        FROM terms GROUP BY user_id
    )
    SELECT user_id, n AS n_events, n_types,
           CAST(floor(ln(n) * 1000000.0 + 0.5) AS BIGINT) - s_e6 // n
               AS entropy_e6
    FROM peruser
    ORDER BY entropy_e6 DESC, user_id LIMIT {TOPK_ENTROPY}
    """,
    doc=(
        "Shannon entropy of each user's event-type mix in exact "
        "micro-nats — top-20 most behaviorally diverse users"
    ),
)
def user_event_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    # H = ln n − (Σ c·ln c)/n, the one-pass entropy identity: no
    # second join to fetch per-user totals, both sums ride the same
    # user_id agg. ln(c)·c rounded to µnats per row, summed exactly.
    terms = c.withColumn(
        "clnc_e6",
        F.floor(
            F.col("c").cast("double") * F.log(F.col("c")) * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long"),
    )
    peruser = terms.groupBy("user_id").agg(
        F.sum("clnc_e6").alias("s_e6"),
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("n_types"),
    )
    return (
        peruser.select(
            "user_id",
            F.col("n").alias("n_events"),
            "n_types",
            (
                F.floor(F.log(F.col("n")) * F.lit(1e6) + F.lit(0.5)).cast(
                    "long"
                )
                - F.expr(ss_floordiv("s_e6", "n"))
            ).alias("entropy_e6"),
        )
        .orderBy(F.desc("entropy_e6"), F.asc("user_id"))
        .limit(TOPK_ENTROPY)
    )


@register(
    "events_state_islands",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev
        FROM events
    ),
    flagged AS (
        SELECT user_id, event_type, ts,
               CASE WHEN prev IS NULL OR prev <> event_type
                    THEN 1 ELSE 0 END AS chg,
               event_id
        FROM seq
    ),
    islands AS (
        SELECT user_id, event_type, ts,
               CAST(sum(chg) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS isl
        FROM flagged
    )
    SELECT user_id, event_type,
           CAST(epoch_us(min(ts)) AS BIGINT) AS start_us,
           CAST(epoch_us(max(ts)) AS BIGINT) AS end_us,
           CAST(count(*) AS BIGINT) AS n_events
    FROM islands GROUP BY user_id, event_type, isl
    ORDER BY n_events DESC, user_id, start_us, end_us
    LIMIT {TOPK_ISLANDS}
    """,
    doc=(
        "gaps-and-islands: collapse each user's consecutive same-type "
        "event runs into intervals — top-25 longest streaks"
    ),
)
def events_state_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    # both windows share one (user_id; ts, event_id) sort — Catalyst
    # plans a single exchange for the pair
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    run = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    flagged = ev.withColumn(
        "chg",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    islands = flagged.withColumn(
        "isl", F.sum("chg").over(run).cast("long")
    )
    return (
        islands.groupBy("user_id", "event_type", "isl")
        .agg(
            F.min(F.unix_micros("ts")).alias("start_us"),
            F.max(F.unix_micros("ts")).alias("end_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("isl")
        # end_us completes the tiebreak: same-timestamp event bursts
        # can yield two same-user islands sharing (n_events, start_us)
        # but different end_us (adversarial-review finding); with
        # end_us included, remaining ties are full-row-identical and
        # therefore multiset-safe at the LIMIT boundary
        .orderBy(
            F.desc("n_events"),
            F.asc("user_id"),
            F.asc("start_us"),
            F.asc("end_us"),
        )
        .limit(TOPK_ISLANDS)
        .select("user_id", "event_type", "start_us", "end_us", "n_events")
    )


@register(
    "events_trigram_sequences",
    oracle=f"""
    WITH seq AS (
        SELECT event_type AS t1,
               lead(event_type, 1) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS t2,
               lead(event_type, 2) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS t3
        FROM events
    )
    SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS cnt
    FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY cnt DESC, t1, t2, t3 LIMIT {TOPK_TRIGRAMS}
    """,
    doc=(
        "contiguous 3-step behavior sequences per user timeline — "
        "the Markov model's order-2 sibling, top-25 paths"
    ),
)
def events_trigram_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            F.col("event_type").alias("t1"),
            F.lead("event_type", 1).over(w).alias("t2"),
            F.lead("event_type", 2).over(w).alias("t3"),
        )
        .filter(F.col("t2").isNotNull() & F.col("t3").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "t1", "t2", "t3")
        .limit(TOPK_TRIGRAMS)
    )


# Benford expectation log10(1 + 1/d) in permille, d = 1..9 — computed
# once in Python (module constant, not per-row float math).
import math as _math

_BENFORD_PERMILLE = {
    d: _math.floor(_math.log10(1 + 1 / d) * 1000 + 0.5) for d in range(1, 10)
}


@register(
    "events_benford_digits",
    oracle=f"""
    WITH v AS (
        SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
        FROM events WHERE value > 0
    ),
    d AS (
        SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
                   AS digit
        FROM v WHERE cents > 0
    ),
    obs AS (
        SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
        FROM d GROUP BY digit
    ),
    tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs)
    SELECT digit, n_obs,
           (n_obs * 1000) // n AS obs_permille,
           CASE digit
               {' '.join(f'WHEN {d} THEN {p}' for d, p in _BENFORD_PERMILLE.items())}
           END AS benford_permille
    FROM obs CROSS JOIN tot
    """,
    doc=(
        "Benford first-digit audit of event values — fabricated-data "
        "forensics; digit from the exact cents integer's string"
    ),
    plan=("scalar_cross",),
)
def events_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("value")
    cents = ev.filter(F.col("value") > 0).select(
        F.expr(ss_scaled_long("value")).alias("cents")
    )
    digits = cents.filter(F.col("cents") > 0).select(
        F.substring(F.col("cents").cast("string"), 1, 1)
        .cast("long")
        .alias("digit")
    )
    obs = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    tot = obs.agg(F.sum("n_obs").alias("n"))
    benford = F.create_map(
        *[
            x
            for d, p in _BENFORD_PERMILLE.items()
            for x in (F.lit(d), F.lit(p))
        ]
    )
    return obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n_obs",
        F.expr(ss_floordiv("n_obs * 1000", "n")).alias("obs_permille"),
        benford[F.col("digit")].cast("long").alias("benford_permille"),
    )


TOPK_FLOWS = 25


@register(
    "user_first_last_flows",
    oracle=f"""
    WITH ranked AS (
        SELECT user_id, event_type,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS rn_a,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn_d
        FROM events
    ),
    f AS (SELECT user_id, event_type AS first_type FROM ranked WHERE rn_a = 1),
    l AS (SELECT user_id, event_type AS last_type FROM ranked WHERE rn_d = 1)
    SELECT first_type, last_type, CAST(count(*) AS BIGINT) AS n_users
    FROM f JOIN l USING (user_id)
    GROUP BY 1, 2
    ORDER BY n_users DESC, first_type, last_type LIMIT {TOPK_FLOWS}
    """,
    doc=(
        "entry-to-exit flow matrix (Sankey endpoints): each user's "
        "first and last event type on the deterministic timeline — "
        "both ranks ride ONE user-partitioned exchange"
    ),
)
def user_first_last_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    asc = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    dsc = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    ranked = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(asc).alias("rn_a"),
        F.row_number().over(dsc).alias("rn_d"),
    )
    f = ranked.filter(F.col("rn_a") == 1).select(
        "user_id", F.col("event_type").alias("first_type")
    )
    l = ranked.filter(F.col("rn_d") == 1).select(
        "user_id", F.col("event_type").alias("last_type")
    )
    return (
        f.join(l, "user_id")
        .groupBy("first_type", "last_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), "first_type", "last_type")
        .limit(TOPK_FLOWS)
    )


# --------------------------------------------------------------------------
# Position-based (U-shaped) multi-touch attribution. The streaming
# twins cover last-touch click attribution; batch marketing pipelines
# want the position-based model: for each purchase, the view/click
# touches since the user's previous purchase share the credit
# 40% first / 40% last / 20% split across the middles — exact 1e6
# units with the documented floor on the middle split (k=1 → 1e6,
# k=2 → 500k/500k).
#
# Scale shape: one user-timeline window pass attaches every touch to
# its next purchase (the reverse-first trick — no touch×purchase
# join), then per-(user, conversion) windows rank positions; both ride
# the same per-user shuffle every sessionization query pays. Touches
# with no following purchase are excluded (the batch analog of the
# stream_unattributed_views twin).
# --------------------------------------------------------------------------
@register(
    "events_position_attribution",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id, event_type, ts
        FROM events
        WHERE event_type IN ('view', 'click', 'purchase')
    ),
    seg AS (
        -- reverse-running purchase count: every touch shares its value
        -- with the NEXT purchase in (ts, event_id) timeline order —
        -- purchase ids need not be timeline-monotone, so a min-id
        -- trick would attach touches to the wrong conversion
        SELECT user_id, event_id, event_type, ts,
               count(CASE WHEN event_type = 'purchase' THEN 1 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN CURRENT ROW
                         AND UNBOUNDED FOLLOWING) AS seg_id
        FROM ordered
    ),
    convs AS (
        SELECT user_id, seg_id, event_id AS conv_id
        FROM seg WHERE event_type = 'purchase'
    ),
    touches AS (
        SELECT s.user_id, c.conv_id, s.event_id AS touch_id,
               s.event_type AS touch_type,
               row_number() OVER (PARTITION BY s.user_id, s.seg_id
                                  ORDER BY s.ts, s.event_id) AS pos,
               count(*) OVER (PARTITION BY s.user_id, s.seg_id) AS k
        FROM seg s JOIN convs c
          ON c.user_id = s.user_id AND c.seg_id = s.seg_id
        WHERE s.event_type <> 'purchase'
    )
    SELECT user_id, conv_id, touch_id, touch_type,
           CAST(pos AS BIGINT) AS pos, CAST(k AS BIGINT) AS k_touches,
           CAST(CASE
             WHEN k = 1 THEN 1000000
             WHEN k = 2 THEN 500000
             WHEN pos = 1 OR pos = k THEN 400000
             ELSE 200000 // (k - 2)
           END AS BIGINT) AS credit_e6
    FROM touches
    """,
    doc=(
        "U-shaped multi-touch attribution: each purchase's preceding "
        "view/click touches (since the user's prior purchase) share "
        "credit 40/20/40 in exact 1e6 units — one user-timeline window "
        "attaches touches to conversions, no touch-to-purchase join"
    ),
)
def events_position_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    tl = W.partitionBy("user_id").orderBy("ts", "event_id")
    # Reverse-running purchase count: a touch and the NEXT purchase in
    # (ts, event_id) timeline order share the same seg_id. Purchase ids
    # are not guaranteed timeline-monotone, so "min future purchase id"
    # would attach touches to the wrong conversion — the segment key is
    # order-derived, never id-derived. The conv-id lookup is then a
    # compact (user, seg) equi-join against the purchase rows only.
    seg_id = F.count(
        F.when(F.col("event_type") == "purchase", F.lit(1))
    ).over(tl.rowsBetween(W.currentRow, W.unboundedFollowing))
    seg = ev.select(
        "user_id", "event_id", "event_type", "ts", seg_id.alias("seg_id")
    )
    convs = seg.filter(F.col("event_type") == "purchase").select(
        "user_id", "seg_id", F.col("event_id").alias("conv_id")
    )
    touches = seg.filter(F.col("event_type") != "purchase").join(
        convs, ["user_id", "seg_id"]
    )
    per = W.partitionBy("user_id", "seg_id")
    ranked = touches.select(
        "user_id",
        "conv_id",
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("touch_type"),
        F.row_number().over(per.orderBy("ts", "event_id")).alias("pos"),
        F.count(F.lit(1)).over(per).alias("k"),
    )
    credit = (
        F.when(F.col("k") == 1, F.lit(1_000_000))
        .when(F.col("k") == 2, F.lit(500_000))
        .when(
            (F.col("pos") == 1) | (F.col("pos") == F.col("k")),
            F.lit(400_000),
        )
        .otherwise(
            F.expr(
                ss_floordiv("CAST(200000 AS BIGINT)", "CAST(k - 2 AS BIGINT)")
            )
        )
    )
    return ranked.select(
        "user_id",
        "conv_id",
        "touch_id",
        "touch_type",
        F.col("pos").cast("long").alias("pos"),
        F.col("k").cast("long").alias("k_touches"),
        credit.cast("long").alias("credit_e6"),
    )


# --------------------------------------------------------------------------
# Bit-packed per-user activity calendar + streak stats. Retention
# infrastructure trick: the last 63 days of activity packed into ONE
# BIGINT per user (bit i = active on max_day − i), so streaks, recency
# and frequency all become integer bit arithmetic — no window over the
# user's timeline, no per-day rows retained after the first agg. The
# longest-streak fold runs over the 63 bit POSITIONS (a constant-size
# HOF, map-only), with the (cur, best) pair packed into one integer
# (cur·128 + best — both < 128) so the identical fold runs in Spark's
# aggregate() and DuckDB's list_reduce() without struct accumulators.
# Current streak = trailing ones via the mask & ~(mask+1) identity.
# --------------------------------------------------------------------------
ACTIVITY_WINDOW = 63  # days; bits fit one signed BIGINT with room


@register(
    "user_activity_bitmask",
    plan=("scalar_cross",),
    oracle=f"""
    WITH days AS (
        SELECT user_id,
               CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
                   AS day
        FROM events
    ),
    mx AS (SELECT max(day) AS max_day FROM days),
    masks AS (
        SELECT user_id,
               bit_or(CAST(1 AS BIGINT) << CAST(mx.max_day - day AS INT))
                   AS mask
        FROM days CROSS JOIN mx
        WHERE mx.max_day - day < {ACTIVITY_WINDOW}
        GROUP BY user_id
    )
    SELECT user_id, mask,
           CAST(bit_count(mask) AS BIGINT) AS n_active,
           CAST(list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                            list_transform(range(0, {ACTIVITY_WINDOW}),
                                           i_ -> CAST(i_ AS BIGINT))),
               (acc_, i_) -> CASE
                   WHEN (mask >> CAST(i_ AS INT)) & 1 = 1
                   THEN (acc_ // 128 + 1) * 128
                        + greatest(acc_ % 128, acc_ // 128 + 1)
                   ELSE acc_ % 128
               END
           ) % 128 AS BIGINT) AS longest_streak,
           -- all-63-days mask is BIGINT max: mask+1 would overflow
           -- (loudly, in both engines) — handle the full window as its
           -- own case
           CAST(CASE WHEN mask = 9223372036854775807
                     THEN {ACTIVITY_WINDOW}
                     ELSE bit_count(mask & ~(mask + 1)) END
                AS BIGINT) AS current_streak
    FROM masks
    """,
    doc=(
        "per-user 63-day activity calendar packed into one BIGINT "
        "(bit i = active max_day−i): active-day count, longest streak "
        "(constant-size fold over bit positions, integer-packed "
        "accumulator), current streak (trailing-ones bit identity) — "
        "retention stats with no per-user timeline window"
    ),
)
def user_activity_bitmask(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    )
    mx = ev.agg(F.max("day").alias("max_day"))
    masks = (
        ev.crossJoin(F.broadcast(mx))
        .filter(F.col("max_day") - F.col("day") < ACTIVITY_WINDOW)
        .groupBy("user_id")
        .agg(
            F.bit_or(
                F.expr("shiftleft(1L, cast(max_day - day as int))")
            ).alias("mask")
        )
    )
    # (cur, best) packed as cur·128 + best: both bounded by the 63-bit
    # window, and the fold is branch-identical to the DuckDB twin.
    # Built with expr() because PySpark's F.shiftright only takes a
    # Python-int shift amount while the fold needs the lambda's `i`;
    # the underlying SQL function accepts a column. `div` (never `/`,
    # which is double division) keeps the unpack exact.
    masks = masks.withColumn(
        "longest_streak",
        F.expr(
            f"""
            CAST(aggregate(
                sequence(0, {ACTIVITY_WINDOW - 1}),
                CAST(0 AS BIGINT),
                (acc, i) -> CASE
                    WHEN (shiftright(mask, i) & 1) = 1
                    THEN (acc div 128 + 1) * 128
                         + greatest(acc % 128, acc div 128 + 1)
                    ELSE acc % 128
                END
            ) % 128 AS BIGINT)
            """
        ),
    )
    # The all-63-days mask is BIGINT max; mask+1 would raise on ANSI
    # overflow in both engines, so the full window is its own case.
    full = F.lit((1 << ACTIVITY_WINDOW) - 1).cast("long")
    return masks.select(
        "user_id",
        "mask",
        F.bit_count("mask").cast("long").alias("n_active"),
        "longest_streak",
        F.when(F.col("mask") == full, F.lit(ACTIVITY_WINDOW))
        .otherwise(
            F.bit_count(
                F.col("mask").bitwiseAND(
                    F.bitwise_not(F.col("mask") + 1)
                )
            )
        )
        .cast("long")
        .alias("current_streak"),
    )


# --------------------------------------------------------------------------
# Session metrics: gap-based sessionization (30-min inactivity) rolled
# up per user — the batch form of the streaming session window, with
# bounce rate and depth/duration stats. Everything rides user-
# partitioned windows (fully parallel) and one groupBy chain.
# --------------------------------------------------------------------------
SESSION_GAP_US_B = 30 * 60 * 1_000_000


@register(
    "events_session_metrics",
    oracle=f"""
    WITH sm_g AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                    ) > {SESSION_GAP_US_B}
                     OR lag(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                    ) IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
    ),
    sm_s AS (
        SELECT user_id, us,
               SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY us, event_id
               ) AS sess_id
        FROM sm_g
    ),
    sm_per AS (
        SELECT user_id, sess_id,
               CAST(count(*) AS BIGINT) AS n_ev,
               CAST(max(us) - min(us) AS BIGINT) AS dur_us
        FROM sm_s GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(n_ev) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounce,
           CAST(max(n_ev) AS BIGINT) AS max_session_events,
           CAST(max(dur_us) AS BIGINT) AS max_session_dur_us,
           CAST(sum(n_ev) * 1000000 // count(*) AS BIGINT)
               AS events_per_session_e6
    FROM sm_per GROUP BY user_id
    """,
    doc=(
        "per-user session metrics from 30-min-gap sessionization "
        "(batch form of the streaming session window): session count, "
        "bounce (1-event) sessions, depth and duration maxima, mean "
        "events/session in ppm — two user-partitioned windows + one "
        "groupBy chain, fully parallel"
    ),
)
def events_session_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us"), "ts"
    )
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    lag_us = F.lag("us").over(wo)
    g = ev.select(
        "user_id",
        "event_id",
        "us",
        F.when(
            lag_us.isNull() | (F.col("us") - lag_us > SESSION_GAP_US_B), 1
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    ws = (
        W.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    s = g.select("user_id", "us", F.sum("new_sess").over(ws).alias("sess_id"))
    per = s.groupBy("user_id", "sess_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_ev"),
        (F.max("us") - F.min("us")).cast("long").alias("dur_us"),
    )
    n_sessions = "CAST(count(1) AS BIGINT)"
    return per.groupBy("user_id").agg(
        F.expr(n_sessions).alias("n_sessions"),
        F.sum("n_ev").cast("long").alias("n_events"),
        F.sum(F.when(F.col("n_ev") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_bounce"),
        F.max("n_ev").cast("long").alias("max_session_events"),
        F.max("dur_us").cast("long").alias("max_session_dur_us"),
        F.expr(ss_floordiv("sum(n_ev) * 1000000", n_sessions)).alias(
            "events_per_session_e6"
        ),
    )
