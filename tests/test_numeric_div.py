"""Exact integer division (functions/numeric.ss_floordiv) — the
adversarial-review counterexample class: double `/` + cast goes one
ulp low past 2^53, silently diverging from DuckDB's exact `//`."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from algorithmproject_spark_spark.functions.numeric import (
    sql_ppm,
    ss_floordiv,
    ss_ppm,
)

# (num, den) pairs chosen so num > 2^53 and the double quotient lands
# one ulp below the true integer — the first is the review's found
# counterexample for ppm (double path returned 889237, exact 890237)
CASES = [
    (148_511_503_890_311 * 1000, 166_822_422_712_862),
    (9_007_199_254_740_993, 3),
    (2**62 - 1, 7),
    (2**53 + 1, 2**53 - 1),
    (999_999_999_999_999_999, 1_000_003),
]


def test_floordiv_matches_python_int_division(spark):
    df = spark.createDataFrame(CASES, ["a", "b"])
    got = sorted(
        r.q for r in df.select(F.expr(ss_floordiv("a", "b")).alias("q")).collect()
    )
    assert got == sorted(a // b for a, b in CASES)


def test_ppm_counterexample_matches_duckdb(spark):
    c, n = 148_511_503_890_311, 166_822_422_712_862
    df = spark.createDataFrame([(c, n)], ["c", "n"])
    got = df.select(F.expr(ss_ppm("c", "n")).alias("p")).first().p
    want = duckdb.connect().execute(
        f"SELECT {sql_ppm(str(c), str(n))}"
    ).fetchone()[0]
    assert got == want == c * 1_000_000 // n == 890_237
