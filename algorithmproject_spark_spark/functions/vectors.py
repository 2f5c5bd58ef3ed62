"""Vector expressions over array<float|double> embedding columns.

Similarity search primitives (north-star extension; the reference has no
vector ops — its nearest analogue is mllib sparse vectors,
``nlp/PrepData.scala:60``). Dot products are computed as SEQUENTIAL
folds (``zip_with`` + ``aggregate``), not exploded group-sums: a fold
adds left-to-right, so the result is bit-identical across engines and
partitionings, which makes cosine similarity oracle-checkable without
tolerance hacks. EMB_DIM-wide vectors keep the fold cheap; for very
wide vectors swap in a pandas_udf without changing call sites.
"""

from __future__ import annotations

#: dimensionality of the ``embeddings.embedding`` fixture column —
#: single source of truth for every ANN/prototype module (the round-7
#: notes record a real 64-vs-16 confusion from per-module copies).
EMB_DIM = 64


# --------------------------------------------------------------------------
# Spark-SQL text kernels (ss_*), each with a DuckDB twin (sql_*).
#
# Building the fold kernels through the Column API costs one py4j
# round-trip per nested F.* call — thousands per ANN-family query,
# measured at 4-12 s of DRIVER time per query at sf0.1 (more than the
# queries' execution; on a cluster the driver pays it before any task
# can launch). Emitting the expression as ONE Spark-SQL string parsed
# by F.expr()/selectExpr moves construction into the JVM parser: one
# round-trip, milliseconds: the Python boundary is the cost, so cross
# it once.
# --------------------------------------------------------------------------


def ss_fmt(x: float) -> str:
    """Shortest-repr double literal with Spark's D suffix. Python repr
    round-trips the exact IEEE double, and the JVM parses the same
    shortest decimal back to the same bits — identical to what
    F.lit(x) ships."""
    return repr(float(x)) + "D"


def ss_arr(vals) -> str:
    """array(...) of double literals (constant-folds to one Literal)."""
    return "array(" + ", ".join(ss_fmt(v) for v in vals) + ")"


def ss_to_double(expr: str) -> str:
    """array<float> → array<double>; per-element widening is exact."""
    return f"transform({expr}, x -> CAST(x AS DOUBLE))"


def ss_dot(a: str, b: str) -> str:
    """Dot product of two already-widened arrays (sequential fold)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
        f"(acc, v) -> acc + v)"
    )


def ss_norm(a: str) -> str:
    """L2 norm of an already-widened array (sequential fold)."""
    return f"sqrt(aggregate({a}, 0.0D, (acc, x) -> acc + x * x))"


def ss_cosine(a: str, b: str) -> str:
    """dot/(|a||b|) with each vector widened ONCE via lambda binding —
    naive composition would inline the widening into the dot fold and
    both norm folds (CollapseProject duplicates aliases per reference);
    the binding changes no arithmetic and no fold order."""
    return (
        f"element_at(transform(array({ss_to_double(a)}), va -> "
        f"element_at(transform(array({ss_to_double(b)}), vb -> "
        f"({ss_dot('va', 'vb')}) / (({ss_norm('va')}) * ({ss_norm('vb')}))"
        f"), 1)), 1)"
    )


def ss_l2sq(a: str, b: str) -> str:
    """Squared L2 distance between two vectors, sequential fold over
    once-widened arrays (same binding discipline as :func:`ss_cosine`)."""
    return (
        f"element_at(transform(array({ss_to_double(a)}), va -> "
        f"element_at(transform(array({ss_to_double(b)}), vb -> "
        f"aggregate(zip_with(va, vb, (x, y) -> (x - y) * (x - y)), 0.0D, "
        f"(acc, d) -> acc + d)), 1)), 1)"
    )


def sql_to_double(expr: str) -> str:
    return f"list_transform({expr}, x_ -> CAST(x_ AS DOUBLE))"


def sql_dot(a: str, b: str) -> str:
    # zip via index: DuckDB lists are 1-based like Spark's element_at.
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, len({a}) + 1), "
        f"i_ -> CAST({a}[i_] AS DOUBLE) * CAST({b}[i_] AS DOUBLE))), "
        f"(acc_, v_) -> acc_ + v_)"
    )


def sql_norm(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform({a}, x_ -> CAST(x_ AS DOUBLE) * CAST(x_ AS DOUBLE))), "
        f"(acc_, v_) -> acc_ + v_))"
    )


def sql_cosine(a: str, b: str) -> str:
    return f"({sql_dot(a, b)}) / (({sql_norm(a)}) * ({sql_norm(b)}))"


def sql_l2sq(a: str, b: str) -> str:
    """DuckDB twin of :func:`ss_l2sq` (same sequential fold order)."""
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, len({a}) + 1), "
        f"i_ -> (CAST({a}[i_] AS DOUBLE) - CAST({b}[i_] AS DOUBLE)) "
        f"* (CAST({a}[i_] AS DOUBLE) - CAST({b}[i_] AS DOUBLE)))), "
        f"(acc_, v_) -> acc_ + v_)"
    )
