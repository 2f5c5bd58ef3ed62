"""Deterministic numeric helpers for oracle-exact aggregation.

Floating-point sums in Spark are combined in partition order, which is
nondeterministic across runs and never matches a single-threaded oracle
bit-for-bit. The reference never cared (its jobs log counts, not sums);
we do, because every aggregate is hash-compared against DuckDB.

Contract: money-like columns in the testdata are fixed-2-decimal values
stored as doubles (verified: max |x*100 - round(x*100)| < 1e-9 across
all tables). We convert per-row to scaled integers with
``floor(x * scale + 0.5)`` — floor and one IEEE multiply/add are
bit-identical in any engine — then aggregate exact BIGINTs, so the
result is independent of partitioning AND matches DuckDB exactly at any
scale factor. Never use double→decimal casts for this: Spark casts via
the shortest decimal string (HALF_UP) while DuckDB rounds the true
binary value, so they disagree on e.g. 1.115.

Every kernel has two forms: ``ss_*`` renders Spark-SQL text (callers
wrap it in ``F.expr`` or inline it into ``selectExpr`` — one parse in
the JVM instead of one py4j round-trip per nested ``F.*`` call) and
``sql_*`` renders the DuckDB oracle's text. Arguments are SQL
expression strings; each is parenthesized where it is substituted.
"""

from __future__ import annotations

#: Knuth's multiplicative-hash constant (2^32 / golden ratio).
HASH_MULT = 2654435761
#: Pre-multiply modulus: (HASH_REDUCE-1) * HASH_MULT ≈ 2.65e15 stays far
#: below the BIGINT max, so the product can never overflow — without the
#: reduction, doc_id > ~3.47e9 wraps silently in (non-ANSI) Spark while
#: DuckDB raises out-of-range, and the engines diverge exactly at scale.
HASH_REDUCE = 1000003  # prime


def ss_scaled_long(expr: str, scale: int = 100) -> str:
    """Per-row fixed-point conversion: double → exact BIGINT at `scale`.

    floor(x*scale + 0.5) instead of round(): Spark's round() goes
    through BigDecimal.valueOf (shortest string repr, HALF_UP) and can
    disagree with a C implementation on boundary representations;
    floor(+0.5) is pure IEEE and engine-independent. The D-suffixed
    literals keep the multiply/add in DOUBLE."""
    return f"CAST(floor(({expr}) * {float(scale)!r}D + 0.5D) AS BIGINT)"


def sql_scaled_long(expr: str, scale: int = 100) -> str:
    """DuckDB twin of :func:`ss_scaled_long` (same IEEE ops)."""
    return f"CAST(floor(({expr}) * {scale}.0 + 0.5) AS BIGINT)"


def ss_micros(expr: str) -> str:
    """Deterministic 6-decimal fixed-point of an already-deterministic
    double expression (e.g. a sequential fold): BIGINT micro-units.
    floor(double) already returns BIGINT in Spark; the CAST states the
    result type."""
    return f"CAST(floor(({expr}) * 1000000.0D + 0.5D) AS BIGINT)"


def sql_micros(expr: str) -> str:
    """DuckDB twin of :func:`ss_micros`."""
    return f"CAST(floor(({expr}) * 1000000.0 + 0.5) AS BIGINT)"


def ss_hash_mod(expr: str, mod: int) -> str:
    """Deterministic, overflow-safe multiplicative hash bucket of a
    BIGINT key: ((key % HASH_REDUCE) * HASH_MULT) % mod.

    The engine-portable sampler primitive: stable under re-runs,
    repartitioning, and engine changes (what a training split needs;
    ``sample()`` is none of those). The multiplier exceeds INT32, so
    the SQL literal parses as BIGINT."""
    return f"(((({expr}) % {HASH_REDUCE}) * {HASH_MULT}) % {mod})"


def sql_hash_mod(expr: str, mod: int) -> str:
    """DuckDB twin of :func:`ss_hash_mod`."""
    return f"((({expr}) % {HASH_REDUCE}) * {HASH_MULT}) % {mod}"


def ss_floordiv(num: str, den: str) -> str:
    """BIGINT floor division of non-negative operands — SQL's exact
    ``div`` (IntegralDivide).

    NEVER write this as ``CAST((num - num % den) / den AS BIGINT)``:
    Spark's ``/`` on longs is DOUBLE division, and once the (exactly
    divisible) numerator exceeds 2^53 the quotient can land one ulp
    low and truncate to q-1 — found by adversarial review with the
    counterexample ppm(148511503890311, 166822422712862) = 889237
    instead of the exact 890237, a silent cross-engine divergence
    against DuckDB's exact ``//`` (pinned in tests/test_numeric_div.py)."""
    return f"(({num}) div ({den}))"


def tdiv(a: int, b: int) -> int:
    """Python-int twin of Spark ``div`` / DuckDB BIGINT ``//``: the
    quotient truncated toward zero, for either operand's sign. Python's
    own ``//`` floors, which diverges by 1 whenever the signs differ
    (−7 // 8 = −1 vs trunc 0; 7 // −2 = −4 vs trunc −3) — nonnegative
    fixtures mask it, but a negative value (a refund, a falling trend)
    must not silently split the engines."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def ss_ppm(count_expr: str, total_expr: str) -> str:
    """EXACT floor(count * 1e6 / total) with bounded intermediates.

    The naive ``count * 1000000`` wraps BIGINT once count exceeds
    ~9.2e12 — real for per-token counts over a 100 TB corpus, and the
    worst cross-engine class (non-ANSI Spark wraps silently, DuckDB
    raises). Split the scale into 1000×1000: with
    q = (count*1000) div total and r = (count*1000) % total,

        floor(count*1e6/total) = q*1000 + (r*1000) div total

    exactly (substitute count*1000 = q*total + r).

    PRECONDITION: ``count <= total`` (ppm is a PROPORTION — every
    caller passes a subset count over its population). Under it
    q ≤ 1000 and r < total, so every intermediate is ≤ total*1000 —
    safe for totals up to ~9.2e15, three orders of magnitude past a
    100 TB corpus's token count (~2.5e13). Without the precondition
    (count >> total) the q*1000 step can wrap — caught by the
    hypothesis property test."""
    c1k, t = f"(({count_expr}) * 1000)", f"({total_expr})"
    return f"(({c1k} div {t}) * 1000 + (({c1k} % {t}) * 1000) div {t})"


def sql_ppm(count_expr: str, total_expr: str) -> str:
    """DuckDB twin of :func:`ss_ppm` (same two-step exact scaling).

    The result is CAST to BIGINT: DuckDB promotes arithmetic over
    SUM()-derived operands to HUGEINT, which the driver's hash
    canonicalizer rejects (the schema lint class killed in round 4)."""
    c, t = f"(({count_expr}) * 1000)", f"({total_expr})"
    return f"CAST(({c} // {t}) * 1000 + (({c} % {t}) * 1000) // {t} AS BIGINT)"


def ss_ratio_e6(num_expr: str, den_expr: str) -> str:
    """EXACT floor(num * 1e6 / den) for RATIOS — num may exceed den
    (ss_ppm's precondition is count ≤ total; a per-token tf/df
    burstiness ratio violates it by definition, r9 advice).

    Split off the integer part first — q = num div den, r = num % den —
    then scale the sub-1 remainder with ss_ppm's 1000×1000 split:

        floor(num*1e6/den) = q*1e6
                           + ((r*1000) div den)*1000
                           + (((r*1000) % den)*1000) div den

    exactly. Every intermediate is ≤ max(num, den*1000): safe for
    num, den up to ~9.2e15 — at the 100 TB design point per-token
    totals are ~2.5e13 and the naive num*1000000 (which wraps at
    ~9.2e12) is exactly the overflow this replaces. q*1e6 still needs
    the final ratio < ~9.2e12 — a burstiness (mean repeats per doc)
    that large is not a real corpus."""
    n, d = f"({num_expr})", f"({den_expr})"
    r1k = f"(({n} % {d}) * 1000)"
    return (
        f"(({n} div {d}) * 1000000 + ({r1k} div {d}) * 1000 "
        f"+ (({r1k} % {d}) * 1000) div {d})"
    )


def sql_ratio_e6(num_expr: str, den_expr: str) -> str:
    """DuckDB twin of :func:`ss_ratio_e6` (same q/r + 1000×1000 split).

    Operands are widened to BIGINT here rather than at every call site:
    DuckDB types small-integer expressions INT32, and the q*1e6 term
    overflows INT32 already at q = 2148 — the documented ~9.2e15 bound
    assumes 64-bit intermediates."""
    n = f"CAST(({num_expr}) AS BIGINT)"
    d = f"CAST(({den_expr}) AS BIGINT)"
    r1k = f"(({n} % {d}) * 1000)"
    return (
        f"CAST(({n} // {d}) * 1000000 + ({r1k} // {d}) * 1000 "
        f"+ (({r1k} % {d}) * 1000) // {d} AS BIGINT)"
    )


def ss_ppm_wide(count_expr: str, total_expr: str) -> str:
    """EXACT floor(count * 1e6 / total) for totals ss_ppm cannot reach.

    ss_ppm's 1000×1000 split needs total ≤ 9.2e15; quadratic-in-scale
    denominators (Gini's n·Σv, any count×sum product) breach that at
    sf1 already — found by the multi-scale oracle gate, not reasoned
    post-hoc. Six ×10 long-division steps keep every intermediate
    ≤ total·10, so this is exact for total ≤ 9.2e17 (100× further);
    beyond that ANSI raises loudly and the caller promotes to
    DECIMAL(38).

    PRECONDITION: 0 ≤ count < total (a strict proportion — each digit
    is then ≤ 9 and the accumulator ≤ 999999)."""
    t = f"({total_expr})"
    r = f"({count_expr})"
    acc = "CAST(0 AS BIGINT)"
    for _ in range(6):
        acc = f"(({acc}) * 10 + ((({r}) * 10) div {t}))"
        r = f"((({r}) * 10) % {t})"
    return acc


def sql_ppm_wide(count_expr: str, total_expr: str) -> str:
    """DuckDB twin of :func:`ss_ppm_wide` (same six ×10 steps; remainder
    chains are nested textually — each level references the previous
    remainder once, so the expression stays linear in depth)."""
    t = f"({total_expr})"
    r = f"({count_expr})"
    digits = []
    for _ in range(6):
        digits.append(f"((({r}) * 10) // {t})")
        r = f"((({r}) * 10) % {t})"
    acc = digits[0]
    for d in digits[1:]:
        acc = f"(({acc}) * 10 + {d})"
    return f"CAST({acc} AS BIGINT)"
