"""Engine-portable integer hashing for dedup / fingerprint operators.

Spark's built-in ``hash``/``xxhash64`` have no DuckDB equivalent, so the
dedup family (MinHash, SimHash, fingerprints) is built on an explicit
polynomial rolling hash over code points:

    h = fold(chars, 0, (acc, c) -> (acc * MULT + codepoint(c)) % MOD)

All arithmetic stays in BIGINT (Spark 4 runs ANSI mode: int overflow
raises), is exact, and therefore hash-comparable against a DuckDB
oracle computing the same fold — which is what makes MinHash-LSH a
*correctness-gated* operator here rather than a trust-me one.

MOD = 2^31 - 1 (Mersenne prime): keeps a*h + b products under 2^62, no
BIGINT overflow for any multiplier < 2^31.
"""

from __future__ import annotations

MOD = 2_147_483_647  # 2^31 - 1
MULT = 31
GRAM_MULT = 1_000_003  # combines token hashes into n-gram hashes

# Every kernel has two forms: ``ss_*`` renders Spark-SQL text, ``sql_*``
# the DuckDB oracle's text. The Spark form is text, not Column-API
# calls, because the Column API costs one py4j round-trip per nested
# F.* call — for the text-hash pipelines seconds of DRIVER time per
# query build — while one F.expr()/selectExpr parse of the same
# expression is milliseconds.


def ss_bind(expr: str, var: str, body: str) -> str:
    """Evaluate ``expr`` ONCE per row and bind the value to lambda
    variable ``var`` inside ``body``.

    Why this exists: Catalyst's CollapseProject inlines a projected
    expression into every downstream reference, and
    InferFiltersFromGenerate copies a generator's child into a Filter
    — an expression referenced k times is EVALUATED k times. For the
    interpreted HOF hash pipelines here that multiplies the per-char
    fold ~30× (measured: doc_dup_span_stats gram build 5.6 s → 0.6 s
    at sf0.1 after binding). ``transform`` over a 1-element array
    binds the value to a lambda VARIABLE — references inside ``body``
    are O(1) variable lookups, not subtree re-evaluations — making this
    a zero-shuffle, engine-side common-subexpression barrier."""
    return f"element_at(transform(array({expr}), {var} -> {body}), 1)"


def ss_char_fold_hash(expr: str, mult: int = MULT, mod: int = MOD) -> str:
    """Polynomial hash of a string expression, computed as a sequential
    fold — identical left-to-right order in any engine. ``ascii('')``
    is 0 in Spark, so no empty-token CASE is needed here (that guard is
    DuckDB-side only, see :func:`sql_char_fold_hash`)."""
    return (
        f"aggregate(transform(split({expr}, ''), "
        f"c_ -> CAST(ascii(c_) AS BIGINT)), CAST(0 AS BIGINT), "
        f"(acc_, c_) -> (acc_ * {mult} + c_) % {mod})"
    )


def sql_char_fold_hash(expr: str, mult: int = MULT, mod: int = MOD) -> str:
    """DuckDB twin of :func:`ss_char_fold_hash`.

    Empty-string edge (round-9 review finding): both engines split ''
    into [''], but Spark ``ascii('')`` is 0 while DuckDB ``unicode('')``
    is -1 — so an EMPTY TOKEN (double space, leading/trailing space,
    empty text) hashed -1 here vs 0 in Spark, a latent cross-engine
    split for every consumer (the fixtures are single-space-joined,
    which is why sweeps stayed green). The CASE pins '' to 0, matching
    Spark; non-empty characters are unaffected."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), "
        f"c_ -> CAST(CASE WHEN c_ = '' THEN 0 ELSE unicode(c_) END AS BIGINT))), "
        f"(acc_, c_) -> (acc_ * {mult} + c_) % {mod})"
    )


def ss_token_hash_array(tokens: str, mult: int = MULT, mod: int = MOD) -> str:
    """Hash every token of an array expression (nested HOF — no UDF)."""
    return f"transform({tokens}, t_ -> {ss_char_fold_hash('t_', mult, mod)})"


def sql_token_hash_array(tokens_expr: str, mult: int = MULT, mod: int = MOD) -> str:
    return f"list_transform({tokens_expr}, t_ -> {sql_char_fold_hash('t_', mult, mod)})"


def ss_gram_hash_array(
    th: str, n: int, mult: int = GRAM_MULT, mod: int = MOD
) -> str:
    """n-gram hashes composed from token hashes.

    Formulated as n-1 ``zip_with`` passes over shifted slices rather
    than an ``aggregate`` per window: HOF lambdas are interpreted (not
    codegen'd), so per-window aggregates cost ~50 expression
    evaluations each — the zip_with form does 3 array ops per ROW and
    measured ~30× faster at sf0.1. Fold math is identical:
    ((h0*G + h1) % M * G + h2) % M.

    ``th`` must be an already-bound variable (see :func:`ss_bind`): the
    composition references it 2(n-1) times, and inlined, Catalyst would
    re-run the full upstream token-hash fold per reference. The
    count/slice expressions are textually repeated; they are O(1)
    array-length reads.

    ``greatest(count, 0)`` makes short docs yield empty arrays instead
    of tripping ANSI slice errors (and avoids Spark's descending
    ``sequence(1, 0)`` trap)."""
    count = f"greatest(size({th}) - {n - 1}, 0)"
    acc = f"slice({th}, 1, {count})"
    for k in range(1, n):
        acc = (
            f"zip_with({acc}, slice({th}, {k + 1}, {count}), "
            f"(ga_, gb_) -> (ga_ * {mult} + gb_) % {mod})"
        )
    return acc


def sql_gram_hash_array(
    th_expr: str, n: int, mult: int = GRAM_MULT, mod: int = MOD
) -> str:
    """DuckDB twin of :func:`ss_gram_hash_array`."""
    return (
        f"list_transform(range(1, len({th_expr}) - {n} + 2), "
        f"i__ -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice({th_expr}, i__, i__ + {n - 1})), "
        f"(acc__, h__) -> (acc__ * {mult} + h__) % {mod}))"
    )


# Deterministic MinHash permutation parameters (a, b): h_i(x) = (a*x + b) % MOD.
# Fixed constants (NOT runtime-random) so signatures are reproducible and
# oracle-checkable. Generated once from a seeded PRNG.
MINHASH_PARAMS: tuple[tuple[int, int], ...] = (
    (1203114875, 313271125), (586051417, 1334709013), (927339815, 661025455),
    (1723272425, 1211247084), (394017903, 1790285155), (805280921, 446701739),
    (1677512451, 541007709), (239686741, 1094953913), (1454158265, 1719577103),
    (676943413, 320617327), (1851981399, 1252716025), (113917025, 1790055257),
    (1549515967, 849514053), (482105297, 1285211813), (1941871225, 206090445),
    (866745923, 1634032507),
)


def ss_minhash_value(hashes: str, a: int, b: int, mod: int = MOD) -> str:
    """min over the token-hash array of one affine permutation."""
    return f"array_min(transform({hashes}, h_ -> ({a} * h_ + {b}) % {mod}))"


def sql_minhash_value(hashes_expr: str, a: int, b: int, mod: int = MOD) -> str:
    return f"list_min(list_transform({hashes_expr}, h_ -> ({a} * h_ + {b}) % {mod}))"
