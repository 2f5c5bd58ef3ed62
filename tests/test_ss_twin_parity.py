"""Cross-dialect value parity of the kernel twins.

Every numeric, hash and vector kernel in ``functions/`` has one Spark
body (``ss_*``, Spark-SQL text) and one DuckDB oracle body (``sql_*``).
The two are written by hand in different dialects, so this file pins
them to each other by VALUE: one table of edge rows, each rendered in
both dialects over the same literal inputs and evaluated in both
engines. Where a closed form exists the row also carries the Python
value both engines must return. Doubles are compared exactly — the
kernels are sequential folds, bit-identical by construction.
"""

from __future__ import annotations

import math

import duckdb

from algorithmproject_spark_spark.functions import hashing as H
from algorithmproject_spark_spark.functions import numeric as N
from algorithmproject_spark_spark.functions import vectors as V
from algorithmproject_spark_spark.operators import pca

_A, _B = H.MINHASH_PARAMS[0]
_SMALL = ([0.5, -0.25, 2.0], [0.125, 1.0, -3.0])
_UNIT = ([1.0, 2.0, 2.0], [2.0, 0.0, 0.0])


def _lit(v, dialect: str) -> str:
    """Literal input in the given dialect: BIGINT ints, exactly parsed
    doubles, strings, and (non-empty) arrays of those."""
    if isinstance(v, int):
        return f"CAST({v} AS BIGINT)"
    if isinstance(v, float):
        return f"{v!r}D" if dialect == "spark" else f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    items = ", ".join(_lit(x, dialect) for x in v)
    return f"array({items})" if dialect == "spark" else f"[{items}]"


def _hash(s: str, mult: int = H.MULT, mod: int = H.MOD) -> int:
    h = 0
    for ch in s:
        h = (h * mult + ord(ch)) % mod
    return h


def _grams(th: list[int], n: int) -> list[int]:
    out = []
    for i in range(len(th) - n + 1):
        h = 0
        for x in th[i : i + n]:
            h = (h * H.GRAM_MULT + x) % H.MOD
        out.append(h)
    return out


#: (kernel, ss form, sql form, literal inputs, extra params, expected).
#: ``expected`` None = the two engines must agree with each other only.
CASES = [
    # numeric — fixed-point conversion and exact integer division
    *[
        ("scaled_long", N.ss_scaled_long, N.sql_scaled_long, (x,), (scale,),
         math.floor(x * scale + 0.5))
        for x, scale in ((1.115, 100), (0.07, 100), (-2.5, 1))
    ],
    ("micros", N.ss_micros, N.sql_micros, (0.5,), (), 500_000),
    ("micros", N.ss_micros, N.sql_micros, (-0.25,), (), -250_000),
    *[
        ("hash_mod", N.ss_hash_mod, N.sql_hash_mod, (k,), (10,),
         ((k % N.HASH_REDUCE) * N.HASH_MULT) % 10)
        for k in (0, 3_470_000_000, 2**62, 2**63 - 1)
    ],
    # the 2^53 double-division counterexample: exact is 890237
    ("ppm", N.ss_ppm, N.sql_ppm, (148_511_503_890_311, 166_822_422_712_862),
     (), 890_237),
    ("ppm", N.ss_ppm, N.sql_ppm, (0, 5), (), 0),
    ("ppm", N.ss_ppm, N.sql_ppm, (5, 5), (), 1_000_000),
    ("ratio_e6", N.ss_ratio_e6, N.sql_ratio_e6, (7, 3), (), 2_333_333),
    ("ratio_e6", N.ss_ratio_e6, N.sql_ratio_e6,
     (9_000_000_000_000_000, 1_000_003), (),
     9_000_000_000_000_000 * 10**6 // 1_000_003),
    *[
        ("ppm_wide", N.ss_ppm_wide, N.sql_ppm_wide, (c, t), (), c * 10**6 // t)
        for c, t in (
            (1, 3),
            (919_999_999_999_999_999, 920_000_000_000_000_000),
            (123_456_789_012_345, 920_000_000_000_000_000),
        )
    ],
    # hashing — the empty token hashes to 0 in both engines
    *[
        ("char_fold_hash", H.ss_char_fold_hash, H.sql_char_fold_hash, (s,), (),
         _hash(s))
        for s in ("", "ab", "hello world")
    ],
    ("token_hash_array", H.ss_token_hash_array, H.sql_token_hash_array,
     (["", "ab", ""],), (), [0, _hash("ab"), 0]),
    ("token_hash_array", H.ss_token_hash_array, H.sql_token_hash_array,
     (["x", "hello"],), (), [_hash("x"), _hash("hello")]),
    ("gram_hash_array", H.ss_gram_hash_array, H.sql_gram_hash_array,
     ([11, 22, 33, 44],), (2,), _grams([11, 22, 33, 44], 2)),
    ("gram_hash_array", H.ss_gram_hash_array, H.sql_gram_hash_array,
     ([11, 22, 33, 44],), (3,), _grams([11, 22, 33, 44], 3)),
    # a doc shorter than n yields no grams, not an error
    ("gram_hash_array", H.ss_gram_hash_array, H.sql_gram_hash_array,
     ([5],), (3,), []),
    ("minhash_value", H.ss_minhash_value, H.sql_minhash_value,
     ([3, 1, 2_147_483_646],), (_A, _B),
     min((_A * h + _B) % H.MOD for h in (3, 1, 2_147_483_646))),
    # vectors — sequential folds over small arrays
    ("to_double", V.ss_to_double, V.sql_to_double, (_SMALL[0],), (),
     _SMALL[0]),
    ("dot", V.ss_dot, V.sql_dot, _UNIT, (), 2.0),
    ("dot", V.ss_dot, V.sql_dot, _SMALL, (), None),
    ("norm", V.ss_norm, V.sql_norm, (_UNIT[0],), (), 3.0),
    ("norm", V.ss_norm, V.sql_norm, (_SMALL[1],), (), None),
    ("cosine", V.ss_cosine, V.sql_cosine, _UNIT, (), None),
    ("cosine", V.ss_cosine, V.sql_cosine, _SMALL, (), None),
    ("l2sq", V.ss_l2sq, V.sql_l2sq, _UNIT, (), 9.0),
    ("l2sq", V.ss_l2sq, V.sql_l2sq, _SMALL, (), None),
    ("pca_quant", pca.ss_quant, pca.sql_quant, ([0.5, -0.25, 0.0015],), (),
     [math.floor(x * pca.Q_SCALE + 0.5) for x in (0.5, -0.25, 0.0015)]),
]

_FAMILIES = {
    "numeric": {"scaled_long", "micros", "hash_mod", "ppm", "ratio_e6",
                "ppm_wide"},
    "vectors": {"to_double", "dot", "norm", "cosine", "l2sq"},
}


def _assert_dialects_agree(spark, kernels: set[str]) -> None:
    rows = [c for c in CASES if c[0] in kernels]
    assert {c[0] for c in rows} == kernels
    spark_sql, duck_sql = [], []
    for i, (_, ss, sql, inputs, params, _) in enumerate(rows):
        spark_sql.append(f"{ss(*[_lit(v, 'spark') for v in inputs], *params)} AS c{i}")
        duck_sql.append(f"{sql(*[_lit(v, 'duckdb') for v in inputs], *params)} AS c{i}")
    got_spark = list(spark.sql("SELECT " + ", ".join(spark_sql)).first())
    got_duck = list(duckdb.sql("SELECT " + ", ".join(duck_sql)).fetchone())
    for (kernel, _, _, inputs, params, want), s, d in zip(rows, got_spark, got_duck):
        where = f"{kernel}{inputs}{params}"
        assert s == d, f"{where}: spark {s!r} != duckdb {d!r}"
        if want is not None:
            assert s == want, f"{where}: {s!r} != expected {want!r}"


def test_every_twin_pair_is_tabled():
    """Each ss_* kernel with a sql_* twin in the three kernel modules
    appears in the table, so a new kernel cannot skip the check."""
    tabled = {c[1].__name__ for c in CASES}
    for mod in (N, H, V):
        names = {n for n in vars(mod) if n.startswith("ss_")}
        twins = {n for n in names if hasattr(mod, "sql_" + n[3:])}
        assert twins <= tabled, sorted(twins - tabled)


def test_numeric_twins(spark):
    _assert_dialects_agree(spark, _FAMILIES["numeric"])


def test_char_fold_hash(spark):
    _assert_dialects_agree(spark, {"char_fold_hash"})


def test_token_hash_array(spark):
    _assert_dialects_agree(spark, {"token_hash_array"})


def test_minhash_value(spark):
    _assert_dialects_agree(spark, {"minhash_value"})


def test_vector_twins(spark):
    _assert_dialects_agree(spark, _FAMILIES["vectors"])


def test_pca_quant_twin(spark):
    _assert_dialects_agree(spark, {"pca_quant"})


def test_gram_hash_array_values(spark):
    """Value pin of the n-gram hashes over a bound token-hash array, the
    form every caller uses: ss_bind of ss_token_hash_array into
    ss_gram_hash_array must equal the Python fold and the DuckDB twin."""
    _assert_dialects_agree(spark, {"gram_hash_array"})
    toks = ["a", "b", "c"]
    txt = H.ss_bind(
        H.ss_token_hash_array(_lit(toks, "spark")),
        "th_",
        H.ss_gram_hash_array("th_", 3),
    )
    got = spark.sql(f"SELECT {txt} AS g").first()["g"]
    assert got == _grams([_hash(t) for t in toks], 3)
    assert got  # non-empty grams
