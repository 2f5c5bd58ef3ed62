"""Model-evaluation & calibration suite for the learned quality head —
ROC AUC, PR curve, conformal thresholds, Gini feature ranking, and
isotonic calibration, all integer-exact and oracle-checkable.

Before a curation pipeline swaps its shipped heuristic gate
(``doc_quality_score``, queries/text.py:129) for the learned head
(``doc_quality_model_score``, queries/qualitymodel.py), it needs the
standard evaluation battery AS DISTRIBUTED COMPUTATIONS: at 100 TB the
ROC curve is a big aggregation over the corpus, not a sklearn call on
a driver sample (the same argument as evalmetrics.py's lang-ID suite).
The binary target throughout is the heuristic gate's ``keep`` — "does
the new model reproduce the filter we already trust" is exactly the
question a replacement decision asks — and the oracle REUSES the
registered ``doc_quality_score`` SQL verbatim, so any drift between
this module's inlined label expression and the canonical heuristic
turns into an immediate hash mismatch.

Exactness discipline (the kappa/EWMA lessons):
- Rates/ratios are ppm via non-negative BIGINT floor division
  (Spark ``div`` == DuckDB ``//``, both truncate). SIGNED columns in
  this module: ``score_ppm`` (the quality logit is a signed score),
  anything derived from it by subtraction (``ncf`` cumulative-false
  offsets, score deltas), and the band index. Divisions touching any
  of those MUST stay on trunc-division helpers (``ss_floordiv`` /
  Spark ``div`` / DuckDB ``//``), whose trunc-vs-floor
  agreement for negatives is verified in tests. Do NOT reach for
  ``ss_ppm`` / ``sql_ppm`` on score-derived quantities — those helpers
  carry a ``0 <= count <= total`` precondition and their 1000×1000
  split wraps differently for negative operands; the existing ppm
  call sites here divide pure COUNTS (always >= 0), which is why they
  are safe.
- The one double op (final AUC ratio) is a SINGLE IEEE division of
  exact integers + ``ss_micros`` — bit-identical cross-engine. Overflow
  contract: the exact pair count 2·P·N must fit BIGINT, i.e.
  n_docs < ~4.3e9; beyond that, rank-sum AUC needs sampling anyway.

Scale shapes:
- score+label come from ONE map-only pass over documents (no join:
  both derive from ``text`` on the same row).
- AUC / PR windows run over the COMPACTED (score_ppm -> counts)
  relation, whose size is bounded by the score DOMAIN (mean-pooled
  weights in ±50000 ppm + bias => <= ~100k distinct values) — never
  by the corpus. Same pattern as quality_dup_calibration's cut points.
- conformal thresholds: one window PARTITIONED by lang — fully
  parallel, one shuffle.
- Gini ranking: one explode + one map-side-combined groupBy + a
  broadcast 1-row totals frame (declared scalar_cross).
- isotonic fit: the O(B³) minimax runs over the CLAMPED band relation
  (<= 51 rows by construction), so the nested-loop joins are constant
  work at any corpus size (declared scalar_cross).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from algorithmproject_spark_spark.cacheutil import tracked_cache
from algorithmproject_spark_spark.functions.numeric import ss_floordiv, ss_micros
from algorithmproject_spark_spark.functions.text import tokenize
from algorithmproject_spark_spark.queries.qualitymodel import (
    _sql_quality_prefix,
    quality_logit_cols,
)
from algorithmproject_spark_spark.registry import REGISTRY, register
from algorithmproject_spark_spark.sources.catalog import load_table

#: the canonical heuristic-gate SQL — label lockstep by construction
_LBL_SQL = REGISTRY["doc_quality_score"].oracle

E6 = 1_000_000


def ss_label_from_toks(toks: str) -> str:
    """Heuristic ``keep`` (0/1 long) from an already-bound token-array
    variable — the EXACT rule of ``doc_quality_score``
    (queries/text.py:129); the oracle uses the registered SQL, so this
    inline copy is hash-policed against the canonical definition.
    Taking a bound variable (see ``ss_bind``) lets callers deriving
    several quantities from one tokenization share the bound value."""
    from algorithmproject_spark_spark.functions.text import (
        ss_stopword_array,
    )

    n_tokens = f"size({toks})"
    sw = (
        f"size(filter({toks}, swt_ -> "
        f"array_contains({ss_stopword_array()}, swt_)))"
    )
    sw_ratio = ss_micros(f"CAST({sw} AS DOUBLE) / {n_tokens}")
    rep_ratio = ss_micros(
        f"CAST(size(array_distinct({toks})) AS DOUBLE) / {n_tokens}"
    )
    return (
        f"CAST(CASE WHEN ({n_tokens} BETWEEN 20 AND 200) "
        f"AND ({sw_ratio} < 500000) AND ({rep_ratio} > 300000) "
        f"THEN 1 ELSE 0 END AS BIGINT)"
    )


def _label_col() -> F.Column:
    """:func:`ss_label_from_toks` over ``text``, tokenized ONCE per row —
    as ONE F.expr parse (r12): the Column-API build of the stopword
    literal + HOF chain cost ~0.5 s of driver time per reference."""
    from algorithmproject_spark_spark.functions.hashing import ss_bind

    return F.expr(
        ss_bind("split(text, ' ')", "lt_", ss_label_from_toks("lt_"))
    )


def scored_labeled(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, score_ppm, label) in ONE map-only pass."""
    score_ppm = quality_logit_cols("text")[2]  # aliased score_ppm
    return docs.select(
        "doc_id", "lang", score_ppm, _label_col().alias("label")
    )


def _sl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE shared scored+labeled relation of the modeleval family
    (VERDICT r10 #3): tracked-cached, so the expensive quality-logit +
    heuristic-ratio map pass runs once per session across the six
    evaluation queries (and once within any plan that references it
    twice). Kept as the one-pass form rather than a join against
    qualitymodel.scored_docs — the label column needs its own text
    pass anyway, and a doc_id join of two data-scale relations would
    trade a map-only pass for a shuffle."""
    return tracked_cache(scored_labeled(load_table(spark, sf_dir, "documents")))


def _sql_sl_prefix() -> str:
    """CTE prefix ending in ``sl(doc_id, lang, score_ppm, label)`` —
    score via qualitymodel's shared prefix, label via the registered
    heuristic SQL (oracle joins are fine; the Spark side is one scan)."""
    return f"""{_sql_quality_prefix()},
    sl_lbl AS (SELECT doc_id, keep AS label FROM ({_LBL_SQL})),
    sl AS (
        SELECT q.doc_id, q.lang, q.score_ppm, l.label
        FROM qscore q JOIN sl_lbl l USING (doc_id)
    )"""


_SQL_BY_SCORE = """
    by_s AS (
        SELECT score_ppm,
               CAST(SUM(label) AS BIGINT) AS n_pos,
               CAST(COUNT(*) - SUM(label) AS BIGINT) AS n_neg
        FROM sl GROUP BY score_ppm
    )"""


def _by_score(sl: DataFrame) -> DataFrame:
    """Compacted (score_ppm, n_pos, n_neg) — size bounded by the score
    DOMAIN (qualitymodel weights ±50000 ppm, mean-pooled), not by n."""
    return sl.groupBy("score_ppm").agg(
        F.sum("label").cast("long").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("label")).cast("long").alias("n_neg"),
    )


@register(
    "quality_model_auc",
    oracle=f"""
    WITH {_sql_sl_prefix()},
    {_SQL_BY_SCORE},
    cum AS (
        SELECT n_pos, n_neg,
               COALESCE(SUM(n_neg) OVER (ORDER BY score_ppm
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS neg_below
        FROM by_s
    )
    SELECT CAST(SUM(n_pos) AS BIGINT) AS n_pos,
           CAST(SUM(n_neg) AS BIGINT) AS n_neg,
           CAST(COUNT(*) AS BIGINT) AS n_scores,
           CASE WHEN SUM(n_pos) > 0 AND SUM(n_neg) > 0 THEN
             CAST(floor(
               CAST(SUM(n_pos * (2 * neg_below + n_neg)) AS DOUBLE)
                 / (2.0 * CAST(SUM(n_pos) AS DOUBLE)
                        * CAST(SUM(n_neg) AS DOUBLE))
                 * 1000000.0 + 0.5) AS BIGINT)
           ELSE NULL END AS auc_e6
    FROM cum
    """,
    doc=(
        "ROC AUC of the learned quality head against the shipped "
        "heuristic gate, via the exact Mann-Whitney rank-sum with tie "
        "midpoints (2x-scaled integer numerator, one final IEEE "
        "division + micros) — windows run over the score-DOMAIN-"
        "bounded compacted relation, never the corpus"
    ),
)
def quality_model_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    sl = _sl(spark, sf_dir)
    by_s = _by_score(sl)
    w = Window.orderBy("score_ppm").rowsBetween(Window.unboundedPreceding, -1)
    cum = by_s.select(
        "n_pos",
        "n_neg",
        F.coalesce(F.sum("n_neg").over(w), F.lit(0)).alias("neg_below"),
    )
    p = F.sum("n_pos")
    n = F.sum("n_neg")
    # AUC = [sum over scores s of pos_s*(neg_below_s + neg_s/2)] / (P*N);
    # kept integer by scaling the numerator 2x. The ONE double division
    # is of exact BIGINTs — deterministic cross-engine (micros contract)
    num2 = "sum(n_pos * (neg_below * 2 + n_neg))"
    auc = ss_micros(
        f"CAST({num2} AS DOUBLE) / (2.0D * CAST(sum(n_pos) AS DOUBLE)"
        " * CAST(sum(n_neg) AS DOUBLE))"
    )
    return cum.agg(
        p.cast("long").alias("n_pos"),
        n.cast("long").alias("n_neg"),
        F.count(F.lit(1)).cast("long").alias("n_scores"),
        F.when((p > 0) & (n > 0), F.expr(auc))
        .otherwise(F.lit(None).cast("long"))
        .alias("auc_e6"),
    )


@register(
    "quality_model_pr_points",
    oracle=f"""
    WITH {_sql_sl_prefix()},
    {_SQL_BY_SCORE},
    cum AS (
        SELECT score_ppm,
               SUM(n_pos) OVER (ORDER BY score_ppm DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
               SUM(n_neg) OVER (ORDER BY score_ppm DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
               SUM(n_pos) OVER () AS p_total
        FROM by_s
    )
    SELECT CAST(score_ppm AS BIGINT) AS thr_ppm,
           CAST(tp AS BIGINT) AS tp,
           CAST(fp AS BIGINT) AS fp,
           CAST(tp * 1000000 // (tp + fp) AS BIGINT) AS precision_e6,
           CASE WHEN p_total > 0
                THEN CAST(tp * 1000000 // p_total AS BIGINT)
                ELSE NULL END AS recall_e6
    FROM cum
    """,
    doc=(
        "precision/recall operating points of the learned quality head "
        "vs the heuristic gate, one point per distinct score threshold "
        "(descending cumulative tp/fp over the domain-bounded compacted "
        "relation) — the table a threshold decision actually reads"
    ),
)
def quality_model_pr_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    sl = _sl(spark, sf_dir)
    by_s = _by_score(sl)
    wd = Window.orderBy(F.col("score_ppm").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.orderBy(F.col("score_ppm").desc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = by_s.select(
        "score_ppm",
        F.sum("n_pos").over(wd).alias("tp"),
        F.sum("n_neg").over(wd).alias("fp"),
        F.sum("n_pos").over(wall).alias("p_total"),
    )
    return cum.select(
        F.col("score_ppm").cast("long").alias("thr_ppm"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.expr(ss_floordiv(f"tp * {E6}", "tp + fp")).alias("precision_e6"),
        F.when(
            F.col("p_total") > 0, F.expr(ss_floordiv(f"tp * {E6}", "p_total"))
        )
        .otherwise(F.lit(None).cast("long"))
        .alias("recall_e6"),
    )


#: split-conformal miscoverage level (alpha = 0.1 -> 90% coverage)
CONF_ALPHA_NUM, CONF_ALPHA_DEN = 1, 10

#: shared CTE chain ending in the selected per-lang order statistic —
#: used by the thresholds query and the coverage companion
_SQL_CONF_THR = f"""cal AS (
        SELECT lang, doc_id, -score_ppm AS ncf FROM sl WHERE label = 1
    ),
    rk AS (
        SELECT lang, ncf,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY ncf, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS n_cal
        FROM cal
    ),
    thr AS (
        SELECT lang,
               CAST(n_cal AS BIGINT) AS n_cal,
               CAST(rn AS BIGINT) AS k_order,
               CAST(ncf AS BIGINT) AS qhat_ncf_ppm,
               CAST(-ncf AS BIGINT) AS thr_score_ppm
        FROM rk
        WHERE rn = least((9 * (n_cal + 1) + 9) // 10, n_cal)
    )"""


@register(
    "quality_conformal_thresholds",
    oracle=f"""
    WITH {_sql_sl_prefix()},
    {_SQL_CONF_THR}
    SELECT lang, n_cal, k_order, qhat_ncf_ppm, thr_score_ppm FROM thr
    """,
    doc=(
        "per-language split-conformal acceptance thresholds at 90% "
        "coverage: nonconformity = -score over the heuristic-kept "
        "calibration docs, qhat = the ceil((n+1)(1-alpha))-th smallest "
        "(exact order statistic, clamped to n for tiny groups; beyond-n "
        "means the finite-sample guarantee needs more calibration data) "
        "— one lang-partitioned window, fully parallel"
    ),
)
def quality_conformal_thresholds(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    sl = _sl(spark, sf_dir)
    return _conformal_thresholds(sl)


def _conformal_thresholds(sl: DataFrame) -> DataFrame:
    """Per-lang conformal threshold frame — shared by the thresholds
    query and the coverage companion (ONE definition, like the SQL's
    _SQL_CONF_THR)."""
    cal = sl.filter(F.col("label") == 1).select(
        "lang", "doc_id", (-F.col("score_ppm")).alias("ncf")
    )
    wp = Window.partitionBy("lang")
    rk = cal.select(
        "lang",
        "ncf",
        F.row_number().over(wp.orderBy("ncf", "doc_id")).alias("rn"),
        F.count(F.lit(1))
        .over(
            wp.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        .alias("n_cal"),
    )
    # k = ceil((n+1)*(1-alpha)) = ceil(9(n+1)/10), via (a + den-1) div den
    k = F.expr(ss_floordiv("9 * (n_cal + 1) + 9", "10"))
    return rk.filter(F.col("rn") == F.least(k, F.col("n_cal"))).select(
        "lang",
        F.col("n_cal").cast("long").alias("n_cal"),
        F.col("rn").cast("long").alias("k_order"),
        F.col("ncf").cast("long").alias("qhat_ncf_ppm"),
        (-F.col("ncf")).cast("long").alias("thr_score_ppm"),
    )


@register(
    "quality_conformal_coverage",
    oracle=f"""
    WITH {_sql_sl_prefix()},
    {_SQL_CONF_THR}
    SELECT s.lang,
           t.thr_score_ppm,
           CAST(SUM(s.label) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN s.label = 1
                          AND s.score_ppm >= t.thr_score_ppm
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_accepted,
           CAST(SUM(CASE WHEN s.label = 1
                          AND s.score_ppm >= t.thr_score_ppm
                         THEN 1 ELSE 0 END) * 1000000
                // SUM(s.label) AS BIGINT) AS coverage_ppm,
           CAST(COUNT(*) - SUM(s.label) AS BIGINT) AS n_other,
           CAST(SUM(CASE WHEN s.label = 0
                          AND s.score_ppm >= t.thr_score_ppm
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_other_accepted
    FROM sl s JOIN thr t USING (lang)
    GROUP BY s.lang, t.thr_score_ppm
    """,
    doc=(
        "empirical coverage audit of the conformal thresholds: per "
        "language, how many heuristic-kept docs the score threshold "
        "accepts (in-sample coverage_ppm >= ~900000 by the order-"
        "statistic construction — property-tested) and how many non-"
        "kept docs slip above it (the false-accept load); thresholds "
        "are a <=|langs|-row broadcast against the one-scan scored "
        "relation, so the audit is map-only + one groupBy"
    ),
)
def quality_conformal_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # the shared cached relation feeds BOTH the threshold derivation
    # and the coverage join — uncached, the expensive quality-logit +
    # heuristic-ratio map pass runs twice (measured 14.0 -> ~8 s solo
    # at sf1; the cached relation is 4 narrow columns)
    sl = _sl(spark, sf_dir)
    thr = _conformal_thresholds(sl).select("lang", "thr_score_ppm")
    j = sl.join(F.broadcast(thr), "lang")
    acc = F.col("score_ppm") >= F.col("thr_score_ppm")
    kept_acc = (
        "CAST(sum(CASE WHEN label = 1 AND score_ppm >= thr_score_ppm"
        " THEN 1 ELSE 0 END) AS BIGINT)"
    )
    return j.groupBy("lang", "thr_score_ppm").agg(
        F.sum("label").cast("long").alias("n_kept"),
        F.expr(kept_acc).alias("n_kept_accepted"),
        F.expr(ss_floordiv(f"{kept_acc} * {E6}", "sum(label)")).alias(
            "coverage_ppm"
        ),
        (F.count(F.lit(1)) - F.sum("label")).cast("long").alias("n_other"),
        F.sum(F.when((F.col("label") == 0) & acc, 1).otherwise(0))
        .cast("long")
        .alias("n_other_accepted"),
    )


GINI_TOPK = 50

#: ppm gini impurity of a (x, y) split of n — floor-composed from ppm
#: rates so every intermediate is bounded by 1e12 REGARDLESS of corpus
#: size (the N-independence trick: rate first, then square); the Spark
#: form is :func:`_ss_gini`
_SQL_GINI = (
    "1000000 - (({x} * 1000000 // {n}) * ({x} * 1000000 // {n})) // 1000000"
    " - (({y} * 1000000 // {n}) * ({y} * 1000000 // {n})) // 1000000"
)


def _ss_gini(x: str, y: str, n: str) -> str:
    """ppm gini impurity of a (x, y) split of n (see ``_SQL_GINI``)."""
    px = f"(({x}) * {E6} div ({n}))"
    py = f"(({y}) * {E6} div ({n}))"
    return f"({E6} - ({px} * {px}) div {E6} - ({py} * {py}) div {E6})"


@register(
    "token_label_gini_topk",
    plan=("scalar_cross",),
    oracle=f"""
    WITH lbl AS (SELECT doc_id, keep AS label FROM ({_LBL_SQL})),
    tls AS (
        SELECT unnest(list_distinct(string_split(d.text, ' '))) AS token,
               l.label
        FROM documents d JOIN lbl l USING (doc_id)
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
               CAST(SUM(label) AS BIGINT) AS p_all
        FROM lbl
    ),
    per_tok AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS n1,
               CAST(SUM(label) AS BIGINT) AS a
        FROM tls GROUP BY token
    ),
    g AS (
        SELECT token, n1, a, n_all, p_all,
               n_all - n1 AS n0, n1 - a AS b, p_all - a AS c,
               (n_all - n1) - (p_all - a) AS d
        FROM per_tok, tot
    ),
    gg AS (
        SELECT token, n1, a, n0, n_all,
               {_SQL_GINI.format(x='p_all', y='(n_all - p_all)', n='n_all')}
                   AS g_parent,
               {_SQL_GINI.format(x='a', y='b', n='n1')} AS g1,
               CASE WHEN n0 > 0
                    THEN {_SQL_GINI.format(x='c', y='d', n='n0')}
                    ELSE 0 END AS g0
        FROM g
    )
    SELECT token,
           CAST(n1 AS BIGINT) AS n_docs_with,
           CAST(a AS BIGINT) AS n_pos_with,
           CAST(g_parent - (n1 * g1 + n0 * g0) // n_all AS BIGINT)
               AS gini_gain_e6
    FROM gg
    ORDER BY gini_gain_e6 DESC, token
    LIMIT {GINI_TOPK}
    """,
    doc=(
        "decision-stump feature ranking: top tokens by exact ppm Gini "
        "gain of doc-level token presence predicting the heuristic keep "
        "label — impurities floor-composed from ppm RATES so every "
        "intermediate is corpus-size-independent (no chi2-style N*(ad-"
        "bc)^2 overflow); one explode + map-side-combined groupBy + "
        "broadcast 1-row totals, top-k via TakeOrderedAndProject"
    ),
)
def token_label_gini_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        _label_col().alias("label"),
        F.array_distinct(tokenize("text")).alias("dtoks"),
    )
    tls = base.select("label", F.explode("dtoks").alias("token"))
    per_tok = tls.groupBy("token").agg(
        F.expr("CAST(count(1) AS BIGINT) AS n1"),
        F.expr("CAST(sum(label) AS BIGINT) AS a"),
    )
    tot = docs.select(_label_col().alias("label")).agg(
        F.expr("CAST(count(1) AS BIGINT) AS n_all"),
        F.expr("CAST(sum(label) AS BIGINT) AS p_all"),
    )
    g = per_tok.crossJoin(F.broadcast(tot)).selectExpr(
        "token",
        "n1",
        "a",
        "n_all",
        "p_all",
        "n_all - n1 AS n0",
        "n1 - a AS b",
        "p_all - a AS c",
        "(n_all - n1) - (p_all - a) AS d",
    )
    g_parent = _ss_gini("p_all", "n_all - p_all", "n_all")
    g1 = _ss_gini("a", "b", "n1")
    g0 = (
        f"CASE WHEN n0 > 0 THEN {_ss_gini('c', 'd', 'n0')}"
        f" ELSE CAST(0 AS BIGINT) END"
    )
    gain = f"{g_parent} - (n1 * {g1} + n0 * ({g0})) div n_all"
    return (
        g.selectExpr(
            "token",
            "n1 AS n_docs_with",
            "a AS n_pos_with",
            f"{gain} AS gini_gain_e6",
        )
        .orderBy(F.col("gini_gain_e6").desc(), "token")
        .limit(GINI_TOPK)
    )


#: isotonic band width (ppm of model score) and clamp — <= 51 bands by
#: construction, so the O(B^3) minimax below is CONSTANT work at any n
ISO_BAND_PPM = 2_000
ISO_CLAMP = 25


@register(
    "quality_isotonic_calibration",
    plan=("scalar_cross",),
    oracle=f"""
    WITH {_sql_sl_prefix()},
    b AS (
        SELECT least(greatest(score_ppm // {ISO_BAND_PPM}, -{ISO_CLAMP}),
                     {ISO_CLAMP}) AS band,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(label) AS BIGINT) AS pos
        FROM sl GROUP BY 1
    ),
    pre AS (
        SELECT band, n, pos,
               SUM(n) OVER (ORDER BY band) AS cn,
               SUM(pos) OVER (ORDER BY band) AS cp
        FROM b
    ),
    seg AS (
        SELECT j.band AS jb, k.band AS kb,
               (k.cp - (j.cp - j.pos)) * 1000000
                   // (k.cn - (j.cn - j.n)) AS rate_e6
        FROM pre j JOIN pre k ON j.band <= k.band
    ),
    mm AS (
        SELECT i.band AS band, s.jb, MIN(s.rate_e6) AS min_rate
        FROM pre i JOIN seg s ON s.jb <= i.band AND s.kb >= i.band
        GROUP BY i.band, s.jb
    ),
    fit AS (SELECT band, MAX(min_rate) AS iso FROM mm GROUP BY band)
    SELECT CAST(b.band AS BIGINT) AS band,
           CAST(b.n AS BIGINT) AS n_docs,
           CAST(b.pos AS BIGINT) AS n_pos,
           CAST(b.pos * 1000000 // b.n AS BIGINT) AS raw_rate_e6,
           CAST(f.iso AS BIGINT) AS iso_rate_e6
    FROM b JOIN fit f USING (band)
    """,
    doc=(
        "isotonic (PAVA) calibration of the learned quality score "
        "against the heuristic keep rate, computed via the closed-form "
        "minimax fitted(i) = max_(j<=i) min_(k>=i) rate(j..k) over "
        "CLAMPED score bands (<= 51 rows), so the sequential pool-"
        "adjacent-violators algorithm becomes three bounded joins with "
        "no driver loop; trunc-ppm rates commute with min/max, so the "
        "output is exactly trunc(rational PAVA fit) and provably "
        "monotone (property-tested)"
    ),
)
def quality_isotonic_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    sl = _sl(spark, sf_dir)
    band = F.least(
        F.greatest(
            F.call_function("div", F.col("score_ppm"), F.lit(ISO_BAND_PPM)),
            F.lit(-ISO_CLAMP).cast("long"),
        ),
        F.lit(ISO_CLAMP).cast("long"),
    )
    b = sl.groupBy(band.alias("band")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("label").cast("long").alias("pos"),
    )
    w = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, 0)
    pre = b.select(
        "band",
        "n",
        "pos",
        F.sum("n").over(w).alias("cn"),
        F.sum("pos").over(w).alias("cp"),
    )
    j, k, i = pre.alias("j"), pre.alias("k"), pre.alias("i")
    seg = j.join(k, F.col("j.band") <= F.col("k.band")).select(
        F.col("j.band").alias("jb"),
        F.col("k.band").alias("kb"),
        F.expr(
            ss_floordiv(
                f"(k.cp - (j.cp - j.pos)) * {E6}", "k.cn - (j.cn - j.n)"
            )
        ).alias("rate_e6"),
    )
    mm = (
        i.join(
            seg,
            (F.col("jb") <= F.col("i.band")) & (F.col("kb") >= F.col("i.band")),
        )
        .groupBy(F.col("i.band").alias("band"), "jb")
        .agg(F.min("rate_e6").alias("min_rate"))
    )
    fit = mm.groupBy("band").agg(F.max("min_rate").alias("iso"))
    return b.join(fit, "band").select(
        F.col("band").cast("long").alias("band"),
        F.col("n").alias("n_docs"),
        F.col("pos").alias("n_pos"),
        F.expr(ss_floordiv(f"pos * {E6}", "n")).alias("raw_rate_e6"),
        F.col("iso").cast("long").alias("iso_rate_e6"),
    )


@register(
    "quality_model_pr_auc",
    oracle=f"""
    WITH {_sql_sl_prefix()},
    {_SQL_BY_SCORE},
    cum AS (
        SELECT score_ppm,
               SUM(n_pos) OVER (ORDER BY score_ppm DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
               SUM(n_neg) OVER (ORDER BY score_ppm DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
               SUM(n_pos) OVER () AS p_total
        FROM by_s
    ),
    pts AS (
        SELECT tp, fp, p_total,
               tp * 1000000 // (tp + fp) AS precision_e6,
               tp - COALESCE(lag(tp) OVER (ORDER BY score_ppm DESC), 0)
                   AS d_tp
        FROM cum
    )
    SELECT CAST(max(p_total) AS BIGINT) AS n_pos,
           CASE WHEN max(p_total) > 0 THEN
               CAST(sum(d_tp * precision_e6) // max(p_total) AS BIGINT)
           ELSE NULL END AS ap_e6
    FROM pts
    """,
    doc=(
        "average precision (PR-AUC) of the learned quality head vs the "
        "heuristic gate: AP = sum over descending thresholds of "
        "(delta recall x precision), composed exactly as "
        "sum(d_tp * precision_ppm) div P — one more window over the "
        "score-DOMAIN-bounded compacted relation; the threshold-free "
        "companion to quality_model_auc for the class-imbalanced case"
    ),
)
def quality_model_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    sl = _sl(spark, sf_dir)
    by_s = _by_score(sl)
    wd = Window.orderBy(F.col("score_ppm").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.orderBy(F.col("score_ppm").desc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = by_s.select(
        "score_ppm",
        F.sum("n_pos").over(wd).alias("tp"),
        F.sum("n_neg").over(wd).alias("fp"),
        F.sum("n_pos").over(wall).alias("p_total"),
    )
    wl = Window.orderBy(F.col("score_ppm").desc())
    pts = cum.select(
        "tp",
        "p_total",
        F.expr(ss_floordiv(f"tp * {E6}", "tp + fp")).alias("precision_e6"),
        (F.col("tp") - F.coalesce(F.lag("tp").over(wl), F.lit(0))).alias(
            "d_tp"
        ),
    )
    p = F.max("p_total")
    return pts.agg(
        p.cast("long").alias("n_pos"),
        F.when(
            p > 0,
            F.expr(ss_floordiv("sum(d_tp * precision_e6)", "max(p_total)")),
        )
        .otherwise(F.lit(None).cast("long"))
        .alias("ap_e6"),
    )
