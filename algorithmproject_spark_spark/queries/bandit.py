"""Offline bandit policy evaluation by replay (Li et al. WSDM 2011) —
counterfactual "what would this policy have earned" over logged events.

A product team proposing a new arm-selection policy cannot A/B it
before shipping; the replay method evaluates it OFFLINE on logs from a
uniform-random logging policy: keep exactly the events where the
candidate policy's choice matches the logged arm, and the mean reward
over the kept events is an unbiased estimate of the policy's value.
At 100 TB of logs this is a first-class distributed computation — one
scan, per-policy match flags, one aggregation.

Determinism stand-ins (the engine-portable hash, as everywhere):
- the logged arm is ``hash_mod(event_id, K)`` — a uniform logging
  policy that is reproducible across engines, unlike the production
  log's real RNG (swap in a logged-arm column without touching the
  plan);
- rewards are the event value in exact micros.

Candidate policies evaluated side by side (one row each):
``always_0`` (degenerate baseline), ``user_hash`` (per-user sticky
assignment), ``value_band`` (context-dependent: the event's value band
picks the arm — a stand-in for any feature-based policy).

Scale shape: the policy list is a 3-element in-plan literal exploded
per event (linear ×|policies|), match filter + one map-side-combined
groupBy(policy). Zero joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.functions.numeric import (
    sql_hash_mod,
    sql_micros,
    sql_ppm,
    ss_floordiv,
    ss_hash_mod,
    ss_micros,
    ss_ppm,
)
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

N_ARMS = 4


def _sql_policy_arm(name: str) -> str:
    if name == "always_0":
        return "0"
    if name == "user_hash":
        return sql_hash_mod("user_id", N_ARMS)
    # value_band: the value's 100-unit band picks the arm. pmod-style
    # double-% (r9 advice): trunc division + sign-preserving % made the
    # band NEGATIVE for value <= -100, an arm id no logged arm (always
    # in [0, N_ARMS)) could ever match — those events were silently
    # excluded from the replay estimate. ((x % K) + K) % K lands every
    # value in [0, K) in both engines.
    return (
        f"(((CAST(floor(value) AS BIGINT) // 100) % {N_ARMS})"
        f" + {N_ARMS}) % {N_ARMS}"
    )


def _policy_arm(name: str):
    if name == "always_0":
        return F.lit(0).cast("long")
    if name == "user_hash":
        return F.expr(ss_hash_mod("user_id", N_ARMS)).cast("long")
    # pmod-style double-% — see _sql_policy_arm's note (negative values
    # must land in [0, N_ARMS) or they can never match a logged arm)
    band = F.call_function(
        "div", F.floor(F.col("value")).cast("long"), F.lit(100)
    )
    return (((band % N_ARMS) + N_ARMS) % N_ARMS).cast("long")


POLICIES = ("always_0", "user_hash", "value_band")


@register(
    "events_bandit_replay_eval",
    oracle=f"""
    WITH br_base AS (
        SELECT event_id, user_id, value,
               {sql_hash_mod('event_id', N_ARMS)} AS logged_arm,
               {sql_micros('value')} AS reward_micros
        FROM events
    ),
    br_flags AS (
        SELECT p.policy, b.logged_arm, b.reward_micros,
               CASE p.policy
                   WHEN 'always_0' THEN {_sql_policy_arm('always_0')}
                   WHEN 'user_hash' THEN {_sql_policy_arm('user_hash')}
                   ELSE {_sql_policy_arm('value_band')}
               END AS pol_arm
        FROM br_base b
        CROSS JOIN (VALUES ('always_0'), ('user_hash'), ('value_band'))
            p(policy)
    )
    SELECT policy,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN pol_arm = logged_arm THEN 1 ELSE 0 END)
               AS BIGINT) AS n_matched,
           {sql_ppm(
               'sum(CASE WHEN pol_arm = logged_arm THEN 1 ELSE 0 END)',
               'count(*)')} AS match_ppm,
           CASE WHEN sum(CASE WHEN pol_arm = logged_arm THEN 1 ELSE 0 END) > 0
                THEN CAST(sum(CASE WHEN pol_arm = logged_arm
                                   THEN reward_micros ELSE 0 END)
                     // sum(CASE WHEN pol_arm = logged_arm THEN 1 ELSE 0 END)
                     AS BIGINT)
                ELSE NULL END AS value_micros
    FROM br_flags GROUP BY policy
    """,
    doc=(
        "offline bandit policy evaluation by replay (Li et al. 2011): "
        "per candidate policy, the events whose logged (uniform-hash) "
        "arm matches the policy's choice and their mean reward in "
        "exact micros — the unbiased counterfactual value estimate; "
        "one scan, 3x literal policy explode, one groupBy, zero joins"
    ),
)
def events_bandit_replay_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "value",
        F.expr(ss_hash_mod("event_id", N_ARMS)).cast("long").alias("logged_arm"),
        F.expr(ss_micros("value")).alias("reward_micros"),
    )
    pol_structs = F.array(
        *[
            F.struct(
                F.lit(p).alias("policy"), _policy_arm(p).alias("pol_arm")
            )
            for p in POLICIES
        ]
    )
    flags = ev.select(
        "logged_arm", "reward_micros", F.explode(pol_structs).alias("p")
    ).select("logged_arm", "reward_micros", "p.policy", "p.pol_arm")
    matched = (
        "CAST(sum(CASE WHEN pol_arm = logged_arm THEN 1 ELSE 0 END) AS BIGINT)"
    )
    matched_reward = (
        "sum(CASE WHEN pol_arm = logged_arm THEN reward_micros ELSE 0 END)"
    )
    return flags.groupBy("policy").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.expr(matched).alias("n_matched"),
        F.expr(ss_ppm(matched, "count(1)")).alias("match_ppm"),
        F.when(F.expr(matched) > 0, F.expr(ss_floordiv(matched_reward, matched)))
        .otherwise(F.lit(None).cast("long"))
        .alias("value_micros"),
    )
