"""Bloom-filter join prefilter — the runtime-filter primitive, fully
relational and oracle-exact.

At 100 TB the expensive side of a selective join is SHUFFLING big-side
rows that will never match. Engines solve this with runtime filters:
build a Bloom filter over the small side's join keys, push it into the
big side's scan, and only survivors shuffle. Spark's own
`spark.sql.optimizer.runtime.bloomFilter.enabled` does this opaquely
(its bits are engine-internal and unverifiable); this operator builds
the SAME structure out of portable primitives so the filter itself is
an oracle-checkable relation:

1. k affine hash positions per small-side key (the fixed MinHash
   constants — deterministic, engine-portable);
2. bitmap as ONE aggregation: group positions by 62-bit word,
   ``bit_or`` the masks, then assemble the dense word array in a
   1-row aggregate — broadcast back as a scalar (the sanctioned
   crossJoin-broadcast pattern, no driver-side action);
3. big side tests membership with pure expressions: all k bits set →
   candidate; the exact join afterwards removes false positives.

The prefilter is SEMANTICS-FREE (never drops a true match — every
inserted key sets all its bits) and the false-positive rate is a
measured, oracle-pinned RESULT here, not a probability claim.

Scale shape: bitmap build is one keyed agg over the SMALL side; the
big side's test is map-only; sized m = O(small keys) the broadcast is
a few KB..MB. The big-side shuffle then carries only
``true + fp`` rows instead of everything — exactly what the measured
``n_pass_bloom`` row quantifies.

Reference parity: none — the reference joins full relations
(label/UserLabelMerge.scala does whole-table joins); this is a
beyond-reference scale operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.cacheutil import tracked_cache
from algorithmproject_spark_spark.functions.hashing import (
    MINHASH_PARAMS,
    MOD,
)
from algorithmproject_spark_spark.functions.numeric import HASH_REDUCE
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

WORD_BITS = 62  # masks stay strictly positive BIGINTs
M_BITS = 1024  # bitmap size; sized small so the fp accounting is visible
K_HASHES = 3

#: Powers-of-two lookup TEXT: Spark's F.shiftleft only takes a LITERAL
#: shift amount; a column-indexed lookup is the exact portable
#: substitute. L-suffixed literals are the same LongType values
#: F.lit(1 << i).cast('long') shipped (r13 one-parse conversion — the
#: Column tower cost ~190 py4j round-trips per reference).
_POW2_TXT = "array(" + ", ".join(f"{1 << i}L" for i in range(WORD_BITS)) + ")"


def _ss_bit_mask(p: str) -> str:
    """2^(p % WORD_BITS) via array lookup (column-valued shifts)."""
    return f"element_at({_POW2_TXT}, CAST(({p}) % {WORD_BITS} AS INT) + 1)"


def _ss_word_idx(p: str) -> str:
    """p div WORD_BITS — the shared exact integer division (never
    double `/` + cast, which goes inexact past 2^53)."""
    return f"(({p}) div {WORD_BITS})"


def ss_positions(key_expr: str, m_bits: int, k: int) -> list[str]:
    """k deterministic bit positions of a BIGINT key: affine hashes
    with the fixed MinHash constants over the overflow-reduced key
    ((key % HASH_REDUCE) * a + b stays < 2^62).

    Contract (same as numeric.ss_hash_mod): keys must be NON-NEGATIVE —
    both engines' % follows the dividend's sign, so a negative key
    would yield a negative bit position. Map signed keys through
    pmod/abs before filtering."""
    return [
        f"((((({key_expr}) % {HASH_REDUCE}) * {a} + {b}) % {MOD}) % {m_bits})"
        for (a, b) in MINHASH_PARAMS[:k]
    ]


def sql_positions(key_expr: str, m_bits: int, k: int) -> list[str]:
    return [
        f"(((({key_expr}) % {HASH_REDUCE}) * {a} + {b}) % {MOD}) % {m_bits}"
        for (a, b) in MINHASH_PARAMS[:k]
    ]


def bloom_bitmap(
    keys: DataFrame, key_col: str, m_bits: int = M_BITS, k: int = K_HASHES
) -> DataFrame:
    """1-row DataFrame ``(bm: array<bigint>)``: the dense
    ``m_bits/WORD_BITS``-word Bloom bitmap of the key column.

    One explode + one keyed ``bit_or`` agg + one 1-row assembly —
    never a driver-side collect; the single row broadcasts into the
    probe expression like any scalar."""
    n_words = (m_bits + WORD_BITS - 1) // WORD_BITS
    pos_arr = "array(" + ", ".join(ss_positions(key_col, m_bits, k)) + ")"
    pos = keys.select(F.explode(F.expr(pos_arr)).alias("p"))
    words = pos.groupBy(F.expr(_ss_word_idx("p")).alias("w")).agg(
        F.expr(f"bit_or({_ss_bit_mask('p')})").alias("mask")
    )
    # dense array: position w+1 holds word w, absent words are 0
    return words.agg(
        F.expr("map_from_entries(collect_list(struct(w, mask)))").alias("m")
    ).selectExpr(
        f"transform(sequence(CAST(0 AS BIGINT), CAST({n_words - 1} AS BIGINT)), "
        f"w -> coalesce(element_at(m, w), CAST(0 AS BIGINT))) AS bm"
    )


def ss_bloom_might_contain(
    key: str, bm: str, m_bits: int = M_BITS, k: int = K_HASHES
) -> str:
    """True iff every one of the key's k bits is set in the bitmap —
    pure expressions, evaluated map-side on the big relation."""
    cond = "true"
    for p in ss_positions(key, m_bits, k):
        word = f"element_at({bm}, CAST({_ss_word_idx(p)} + 1 AS INT))"
        cond = f"({cond} AND (({word} & {_ss_bit_mask(p)}) != 0))"
    return cond


def bloom_might_contain(
    key: str, bm: str, m_bits: int = M_BITS, k: int = K_HASHES
) -> Column:
    """Column wrapper over :func:`ss_bloom_might_contain` — takes the
    column NAMES so the whole probe predicate is one F.expr parse."""
    return F.expr(ss_bloom_might_contain(key, bm, m_bits, k))


def bloom_prefilter(
    big: DataFrame,
    small_keys: DataFrame,
    big_key: str,
    small_key: str,
    m_bits: int = M_BITS,
    k: int = K_HASHES,
) -> DataFrame:
    """``big`` restricted to rows whose key MIGHT be in
    ``small_keys`` — a superset of the true semi-join, map-only on the
    big side after a broadcast of the 1-row bitmap."""
    bm = bloom_bitmap(small_keys, small_key, m_bits, k)
    return (
        big.crossJoin(F.broadcast(bm))
        .filter(bloom_might_contain(big_key, "bm", m_bits, k))
        .drop("bm")
    )


def _register() -> None:
    # small side: BUILDING-segment customers with high balance (~4% of
    # customers) — the selective dimension a runtime filter exists for
    _SMALL_PRED = "c_mktsegment = 'BUILDING' AND c_acctbal > 9000.0"

    pos_sql = sql_positions("o_custkey", M_BITS, K_HASHES)
    n_words = (M_BITS + WORD_BITS - 1) // WORD_BITS
    probe = " AND ".join(
        f"(COALESCE((SELECT mask FROM bl_words WHERE w = ({p}) // {WORD_BITS}),"
        f" CAST(0 AS BIGINT)) & (CAST(1 AS BIGINT) << (({p}) % {WORD_BITS}))) <> 0"
        for p in pos_sql
    )

    @register(
        "bloom_prefilter_join_stats",
        plan=("scalar_cross",),
        oracle=f"""
        WITH bl_small AS (
            SELECT DISTINCT c_custkey FROM customer WHERE {_SMALL_PRED}
        ),
        bl_pos AS (
            {" UNION ALL ".join(f"SELECT ({p.replace('o_custkey', 'c_custkey')}) AS p FROM bl_small" for p in pos_sql)}
        ),
        bl_words AS (
            SELECT p // {WORD_BITS} AS w,
                   bit_or(CAST(1 AS BIGINT) << (p % {WORD_BITS})) AS mask
            FROM bl_pos GROUP BY p // {WORD_BITS}
        ),
        bl_pass AS (
            SELECT o.o_orderkey, o.o_custkey FROM orders o WHERE {probe}
        ),
        bl_true AS (
            SELECT p.o_orderkey FROM bl_pass p
            JOIN bl_small s ON p.o_custkey = s.c_custkey
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_big,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM bl_small) AS n_keys,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM bl_pass) AS n_pass_bloom,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM bl_true) AS n_true_match,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM bl_pass)
                 - (SELECT CAST(COUNT(*) AS BIGINT) FROM bl_true) AS n_false_pos
        """,
        doc="Runtime-filter accounting: portable-hash Bloom bitmap "
        f"({M_BITS} bits, {K_HASHES} hashes, one bit_or agg + 1-row "
        "broadcast) built over high-balance BUILDING customers, probed "
        "map-side by every order; rows = big-side size, key count, "
        "bloom survivors, true semi-join matches, and the exact "
        "false-positive count the downstream join absorbs — proves "
        "the prefilter never loses a match AND measures what it saves",
    )
    def bloom_prefilter_join_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
        cust = load_table(spark, sf_dir, "customer")
        orders = load_table(spark, sf_dir, "orders")
        small = (
            cust.filter(
                "c_mktsegment = 'BUILDING' AND c_acctbal > 9000.0D"
            )
            .select("c_custkey")
            .distinct()
        )
        passed = tracked_cache(
            bloom_prefilter(orders, small, "o_custkey", "c_custkey")
        )
        true_m = passed.join(
            F.broadcast(small), passed["o_custkey"] == small["c_custkey"], "left_semi"
        )
        return (
            orders.agg(F.expr("count(1) AS n_big"))
            .crossJoin(F.broadcast(small.agg(F.expr("count(1) AS n_keys"))))
            .crossJoin(
                F.broadcast(passed.agg(F.expr("count(1) AS n_pass_bloom")))
            )
            .crossJoin(
                F.broadcast(true_m.agg(F.expr("count(1) AS n_true_match")))
            )
            .selectExpr(
                "n_big",
                "n_keys",
                "n_pass_bloom",
                "n_true_match",
                "n_pass_bloom - n_true_match AS n_false_pos",
            )
        )


_register()
