"""Unit tests for the expression library (closed-form fixtures,
SURVEY.md §5 point 2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from algorithmproject_spark_spark.functions.hashing import (
    MOD,
    MULT,
    ss_char_fold_hash,
    ss_minhash_value,
    ss_token_hash_array,
)
from algorithmproject_spark_spark.functions.numeric import ss_micros, ss_scaled_long
from algorithmproject_spark_spark.functions.text import (
    clean_text,
    ngrams,
    stopword_count,
    tokenize,
)
from algorithmproject_spark_spark.functions.vectors import (
    ss_cosine,
    ss_dot,
    ss_norm,
    ss_to_double,
)


def _one(spark, col):
    return spark.range(1).select(col.alias("x")).first()["x"]


def _py_fold(s: str) -> int:
    h = 0
    for ch in s:
        h = (h * MULT + ord(ch)) % MOD
    return h


def test_char_fold_hash_matches_python(spark):
    for s in ["abc", "hello world", "x", ""]:
        assert _one(spark, F.expr(ss_char_fold_hash(f"'{s}'"))) == _py_fold(s)


def test_token_hash_array(spark):
    got = _one(spark, F.expr(ss_token_hash_array("array('ab', 'cd')")))
    assert got == [_py_fold("ab"), _py_fold("cd")]


def test_minhash_is_min_of_affine(spark):
    hashes = [_py_fold(t) for t in ["ab", "cd", "ef"]]
    a, b = 17, 91
    expected = min((a * h + b) % MOD for h in hashes)
    got = _one(
        spark,
        F.expr(
            ss_minhash_value(ss_token_hash_array("array('ab', 'cd', 'ef')"), a, b)
        ),
    )
    assert got == expected


def test_ngrams_basic_and_short(spark):
    toks = F.lit(["a", "b", "c", "d"])
    assert _one(spark, ngrams(toks, 2)) == ["a b", "b c", "c d"]
    assert _one(spark, ngrams(toks, 4)) == ["a b c d"]
    assert _one(spark, ngrams(F.lit(["a"]), 3)) == []  # not a descending sequence()


def test_scaled_long_exact_cents(spark):
    assert _one(spark, F.expr(ss_scaled_long("1.15D", 100))) == 115
    assert _one(spark, F.expr(ss_scaled_long("0.07D", 100))) == 7
    assert _one(spark, F.expr(ss_micros("0.5D"))) == 500000


def test_clean_text(spark):
    raw = "  Hello\tWORLD https://x.io/a b@c.de  done  "
    assert _one(spark, clean_text(F.lit(raw))) == "hello world done"


def test_tokenize_and_stopwords(spark):
    assert _one(spark, stopword_count(tokenize(F.lit("the cat the dog")))) == 2


def test_vector_ops(spark):
    a, b = "array(1.0D, 2.0D, 2.0D)", "array(2.0D, 0.0D, 0.0D)"
    assert _one(spark, F.expr(ss_dot(ss_to_double(a), ss_to_double(b)))) == 2.0
    assert _one(spark, F.expr(ss_norm(ss_to_double(a)))) == 3.0
    got = _one(spark, F.expr(ss_cosine(a, b)))
    assert abs(got - 2.0 / (3.0 * 2.0)) < 1e-12


def test_longest_match_filter_drops_subsumed(spark):
    from algorithmproject_spark_spark.functions.text import longest_match_filter

    arr = F.array(*[F.lit(w) for w in [
        "pump", "pump it up", "it", "marvel", "marvel studios", "", "studios x",
    ]])
    got = sorted(_one(spark, longest_match_filter(arr)))
    # "pump"/"it" subsumed by "pump it up"; "marvel" by "marvel studios";
    # "studios x" survives — "studios" alone appears only space-bounded.
    assert got == ["marvel studios", "pump it up", "studios x"]


def test_longest_match_filter_partial_word_not_subsumed(spark):
    from algorithmproject_spark_spark.functions.text import longest_match_filter

    # interior words ARE space-bounded ("art" in "...the art form") and
    # get pruned; a partial word ("artful") is not and survives.
    arr = F.array(F.lit("art"), F.lit("state of the art form"), F.lit("artful"))
    got = sorted(_one(spark, longest_match_filter(arr)))
    assert got == ["artful", "state of the art form"]


def test_longest_match_filter_duplicates_kept_once(spark):
    from algorithmproject_spark_spark.functions.text import longest_match_filter

    arr = F.array(F.lit("solo"), F.lit("solo"))
    assert _one(spark, longest_match_filter(arr)) == ["solo"]


def test_hash_mod_overflow_safe_and_cross_engine(spark):
    """Keys past ~3.47e9 would overflow (key * HASH_MULT) as BIGINT —
    non-ANSI Spark wraps silently while DuckDB raises, so the sampler
    must reduce before multiplying. Assert Spark == DuckDB on keys
    straddling that boundary."""
    import duckdb

    from algorithmproject_spark_spark.functions.numeric import (
        sql_hash_mod,
        ss_hash_mod,
    )

    keys = [0, 1, 3_470_000_000, 2**40, 2**62, 9_223_372_036_854_775_807]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {
        r.k: r.b
        for r in df.select("k", F.expr(ss_hash_mod("k", 10)).alias("b")).collect()
    }
    con = duckdb.connect()
    for k in keys:
        (want,) = con.execute(
            f"SELECT {sql_hash_mod('CAST(? AS BIGINT)', 10)}", [k]
        ).fetchone()
        assert got[k] == want, k
        assert 0 <= got[k] < 10
