"""Model-based quality scoring (queries/qualitymodel.py) — the frozen
fastText/CCNet-style linear head over hashed unigram+bigram features."""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from algorithmproject_spark_spark.functions.hashing import GRAM_MULT, MOD, MULT
from algorithmproject_spark_spark.queries import REGISTRY
from algorithmproject_spark_spark.queries.qualitymodel import (
    QM_BIAS_PPM,
    QM_DIM,
    QM_KEEP_PPM,
    QM_W_PPM,
    quality_logit_cols,
)

SF = "/root/testdata/sf0.001"


def _py_score(text: str) -> tuple[int, int, int, int]:
    """Reference implementation of the scored columns in plain Python —
    the same fold/mod/trunc-div arithmetic, independently coded."""
    toks = text.split(" ")
    th = []
    for t in toks:
        h = 0
        for ch in t:
            h = (h * MULT + ord(ch)) % MOD
        th.append(h)
    feats = [h % QM_DIM for h in th]
    for a, b in zip(th, th[1:]):
        feats.append(((a * GRAM_MULT + b) % MOD) % QM_DIM)
    n_feats = len(toks) + max(len(toks) - 1, 0)
    sum_w = sum(QM_W_PPM[f] for f in feats)
    q = abs(sum_w) // n_feats
    score = (q if sum_w >= 0 else -q) + QM_BIAS_PPM  # trunc toward zero
    return n_feats, sum_w, score, 1 if score >= QM_KEEP_PPM else 0


def test_scored_columns_match_python_reference(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "spam spam spam buy now click here",
        "x",
        "data quality filters decide what a model ever sees",
    ]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", *quality_logit_cols("text")
        ).collect()
    }
    for i, t in enumerate(texts):
        n_feats, sum_w, score, keep = _py_score(t)
        r = rows[i]
        assert (r["n_feats"], r["sum_w_ppm"], r["score_ppm"], r["keep"]) == (
            n_feats,
            sum_w,
            score,
            keep,
        ), f"doc {i!r}"


def test_registered_query_shape_and_flag_consistency(spark):
    out = REGISTRY["doc_quality_model_score"].fn(spark, SF)
    assert out.columns == ["doc_id", "n_feats", "sum_w_ppm", "score_ppm", "keep"]
    rows = out.collect()
    assert len(rows) > 0
    for r in rows:
        assert r["keep"] == (1 if r["score_ppm"] >= QM_KEEP_PPM else 0)
        assert r["n_feats"] >= 1  # split() never yields an empty array


def test_lang_report_consistent_with_per_doc_scores(spark):
    report = {
        r["lang"]: r
        for r in REGISTRY["quality_model_lang_report"].fn(spark, SF).collect()
    }
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "lang")
    scored = REGISTRY["doc_quality_model_score"].fn(spark, SF).join(docs, "doc_id")
    agg = {
        r["lang"]: r
        for r in scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("keep").alias("n_keep"),
            F.min("score_ppm").alias("mn"),
            F.max("score_ppm").alias("mx"),
        )
        .collect()
    }
    assert set(report) == set(agg)
    for lang, r in report.items():
        a = agg[lang]
        assert (r["n_docs"], r["n_keep"]) == (a["n_docs"], a["n_keep"])
        assert (r["min_score_ppm"], r["max_score_ppm"]) == (a["mn"], a["mx"])
        assert r["keep_ppm"] == a["n_keep"] * 1_000_000 // a["n_docs"]


def test_oracle_matches_python_on_irregular_whitespace():
    """Round-9 review regression: DuckDB unicode('') is -1 while Spark
    ascii('') is 0, so EMPTY TOKENS (double space, leading/trailing
    space, empty text) silently split the engines before the
    sql_char_fold_hash CASE fix. The oracle prefix must reproduce
    _py_score on texts full of empty tokens."""
    import duckdb

    from algorithmproject_spark_spark.queries.qualitymodel import (
        _sql_quality_prefix,
    )

    texts = ["a  b", " leading", "trailing ", "", "  ", "x"]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, lang VARCHAR, text VARCHAR)")
    for i, t in enumerate(texts):
        con.execute("INSERT INTO documents VALUES (?, 'en', ?)", [i, t])
    rows = con.execute(
        f"WITH {_sql_quality_prefix()} "
        "SELECT doc_id, n_feats, sum_w_ppm, score_ppm, keep "
        "FROM qscore ORDER BY doc_id"
    ).fetchall()
    for (doc_id, n_feats, sum_w, score, keep), t in zip(rows, texts):
        exp = _py_score(t)
        assert (n_feats, sum_w, score, keep) == exp, f"text {t!r}"


def test_spark_matches_python_on_irregular_whitespace(spark):
    from pyspark.sql import Row

    texts = ["a  b", " leading", "trailing ", "", "  ", "x"]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", *quality_logit_cols("text")
        ).collect()
    }
    for i, t in enumerate(texts):
        exp = _py_score(t)
        r = rows[i]
        assert (r["n_feats"], r["sum_w_ppm"], r["score_ppm"], r["keep"]) == exp, (
            f"text {t!r}"
        )


def test_bcast_variant_plan_has_no_embedded_weight_vector(spark):
    """VERDICT r9 #4: the D=65536 variant must carry its weights as a
    broadcast-joined relation, not a plan literal — the form that
    survives fastText's D=1e6+ and accepts trained weights as data."""
    from algorithmproject_spark_spark.queries import REGISTRY

    df = REGISTRY["quality_model_score_bcast"].fn(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the literal form's plan embeds QM_DIM integers; this plan must
    # stay small — a 65536-element literal would be ~400 kB of text
    assert len(plan) < 100_000


def test_bcast_variant_agrees_with_literal_head_shape(spark):
    """Same scoring semantics, different weight tables: per-doc
    n_feats must be identical to the literal head's (both count
    unigrams + bigrams of the same tokenization)."""
    from pyspark.sql import functions as F

    from algorithmproject_spark_spark.queries import REGISTRY
    from algorithmproject_spark_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    lit_nf = {
        r["doc_id"]: r["n_feats"]
        for r in load_table(spark, sf, "documents")
        .select("doc_id", *quality_logit_cols("text"))
        .collect()
    }
    bc = {
        r["doc_id"]: r["n_feats"]
        for r in REGISTRY["quality_model_score_bcast"].fn(spark, sf).collect()
    }
    assert bc == lit_nf
