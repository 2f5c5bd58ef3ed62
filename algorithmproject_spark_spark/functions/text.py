"""Text column expressions — tokenize / clean / n-grams / quality.

Re-expresses the reference's text kernels as pure Catalyst column
expressions wherever the semantics allow (SURVEY.md §2.8-2.9):

- string cleaning chains (``nlp/CleanHtml.scala:20-37``,
  ``nlp/PrepProcess.scala:24-37``) → chained ``regexp_replace`` — no UDF;
- n-gram generation 1..4 (``nlp/NewsNgrams.scala:17-32``) →
  higher-order functions over the token array (``transform`` +
  ``sequence`` + ``slice``) — stays inside whole-stage codegen, no
  Python worker, no shuffle;
- stopword filtering (``NewsNgrams.scala:60-72`` broadcast list) →
  in-plan array literal / ``array_except`` for small lists, join for
  big dictionaries;
- language-ID / quality scoring / token counting are the training-data
  extensions layered on the same primitives.

Everything here is deterministic and engine-portable: the matching
DuckDB oracle SQL is generated by ``sql_*`` twins so Spark results can
be hash-compared exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Small English-ish stopword list (reference loads ~120 words from HDFS
# and broadcasts them — NewsNgrams.scala:63; we inline a deterministic
# subset so oracles are self-contained).
STOPWORDS: tuple[str, ...] = (
    "a", "an", "and", "are", "as", "at", "be", "by", "for", "from",
    "has", "he", "in", "is", "it", "its", "of", "on", "that", "the",
    "to", "was", "were", "will", "with",
)


def tokenize(col: str) -> Column:
    """Whitespace tokenizer (the testdata corpus is space-joined) over
    SQL text — a column name or any string expression."""
    return F.expr(f"split({col}, ' ')")


def clean_text(col: Column | str) -> Column:
    """Reference cleaning chain (CleanHtml.scala:20-37) as pure
    Catalyst: strip URLs, emails, control chars, collapse whitespace,
    lowercase. regexp_replace chains stay in codegen."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, r"https?://\S+", " ")
    c = F.regexp_replace(c, r"\S+@\S+\.\S+", " ")
    c = F.regexp_replace(c, r"[\r\n\t]", " ")
    c = F.regexp_replace(c, r" +", " ")
    return F.lower(F.trim(c))


def ngrams(tokens: Column, n: int, sep: str = " ") -> Column:
    """n-grams of a token array via HOFs (no shuffle, no UDF).

    Guarded with ``when`` because Spark's ``sequence(1, 0)`` produces a
    DESCENDING range rather than an empty one.
    """
    count = F.size(tokens) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.concat_ws(sep, F.slice(tokens, i, n)),
    )
    return F.when(count >= 1, grams).otherwise(F.array().cast("array<string>"))


def sql_ngrams(tokens_expr: str, n: int, sep: str = " ") -> str:
    """DuckDB twin of :func:`ngrams` (1-based list_slice, empty range)."""
    return (
        f"list_transform(range(1, len({tokens_expr}) - {n} + 2), "
        f"i -> array_to_string(list_slice({tokens_expr}, i, i + {n - 1}), '{sep}'))"
    )


def stopword_array() -> Column:
    # one F.expr parse instead of one py4j lit per word (r13): the
    # parsed CreateArray(Literal...) tree is identical
    return F.expr(ss_stopword_array())


def sql_stopword_list() -> str:
    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


def ss_stopword_array() -> str:
    """Spark-SQL text twin of :func:`stopword_array` (one parse instead
    of one py4j lit per word — see functions/hashing.py ss_*)."""
    return "array(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"


def stopword_count(tokens: Column) -> Column:
    """How many tokens are stopwords (duplicates counted) — via filter,
    not array_intersect, to keep multiplicity."""
    return F.size(F.filter(tokens, lambda t: F.array_contains(stopword_array(), t)))


def longest_match_filter(arr: Column) -> Column:
    """取长不取短 — keep only candidates NOT space-bounded-contained in a
    longer candidate (reference ``nlp/NewsNgrams.scala:34-41``
    ``getLonger``: pad every phrase with spaces, drop any phrase another
    padded phrase contains). Applied over distinct non-empty values; the
    reference's ``Seq.diff`` variant incidentally deletes exact
    duplicates outright, which is an artifact, not a semantic.

    Pure array HOFs — per-row arithmetic stays inside the row, no
    explode/join at any scale.
    """
    a = F.array_distinct(F.filter(arr, lambda x: x.isNotNull() & (x != F.lit(""))))

    def pad(c: Column) -> Column:
        return F.concat(F.lit(" "), c, F.lit(" "))

    return F.filter(
        a, lambda w: ~F.exists(a, lambda o: (o != w) & pad(o).contains(pad(w)))
    )


def sql_longest_match_filter(arr: str) -> str:
    """DuckDB twin of :func:`longest_match_filter` (nested list lambdas)."""
    a = f"list_distinct(list_filter({arr}, x_ -> x_ IS NOT NULL AND x_ <> ''))"
    return (
        f"list_filter({a}, w_ -> len(list_filter({a}, "
        f"o_ -> o_ <> w_ AND contains(' ' || o_ || ' ', ' ' || w_ || ' '))) = 0)"
    )
