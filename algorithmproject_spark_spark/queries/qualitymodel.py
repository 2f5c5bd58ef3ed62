"""Model-based document quality scoring — the CCNet/fastText-style
learned quality filter, the standard LLM-curation stage that the
heuristic ``doc_quality_score`` (length/punct/stopword ratios)
approximates by hand.

CCNet (Wenzek et al. 2020) and most production pipelines score every
document with a frozen linear classifier over hashed token features
(fastText: mean of feature-bucket weights + bias, sign of the logit
decides keep/drop). The model here is exactly that shape with a
seeded frozen weight vector standing in for trained values — swapping
in real trained weights changes ONE literal, not the plan — scored as
an integer-ppm dot product so the result is oracle-checkable
bit-exactly (no float logit, no sigmoid: the decision only needs the
logit's sign/threshold, which is monotone in the integer score).

Features, fastText-style:
- unigram buckets: portable char-fold hash of each token mod D
- bigram buckets: the gram-composed hash mod D (word bigrams are what
  lift fastText over bag-of-words on quality tasks)
- one shared D-entry weight table for both (fastText shares its
  bucket matrix across n-gram orders)
- score = trunc(sum_of_weights / n_features) + bias — the mean-pooled
  linear layer in ppm units; trunc division matches Spark ``div`` and
  DuckDB BIGINT ``//`` (both toward zero; sums can be negative, so
  floor semantics would diverge — the tdiv lesson from the EWMA
  family).

Scale shape: MAP-ONLY. The weight vector is an in-plan literal (a
broadcast variable in spirit, a ``element_at(lit(...))`` lookup in
form — the same pattern as the PQ codebooks); tokens are hashed once
per row (``ss_bind`` — referenced by both the unigram sum and the
bigram composition); no explode, no join, no shuffle of any kind. At
100 TB this is a single pass over the corpus that scales embarrassingly
with executors. The plan-lint shuffle class is the map-only 0.05
bucket.

Reference parity: the reference's quality gate is keyword/dictionary
based (its label pipeline); this is the north-star extension VERDICT
r8 #6 asked for — the one standard curation stage the registry lacked.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.functions.hashing import (
    GRAM_MULT,
    MOD,
    MULT,
    sql_char_fold_hash,
    sql_gram_hash_array,
)
from algorithmproject_spark_spark.cacheutil import tracked_cache
from algorithmproject_spark_spark.functions.numeric import (
    sql_micros,
    ss_floordiv,
    ss_micros,
)
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

#: hashed feature buckets (fastText uses 1e6-1e7 for word n-grams; the
#: demo table is 1024 so the SQL literal stays readable — the plan is
#: identical at any D, only the literal grows)
QM_DIM = 1024
#: frozen "trained" weights in ppm, seeded so both engines and every
#: round see the same model. Range ±50000 ppm = logit contributions in
#: [-0.05, 0.05] per feature, the magnitude a trained fastText quality
#: head actually produces.
_qm_rng = random.Random(93)
QM_W_PPM: tuple[int, ...] = tuple(
    _qm_rng.randint(-50_000, 50_000) for _ in range(QM_DIM)
)
#: bias + keep threshold of the frozen head (ppm logit units)
QM_BIAS_PPM = 1_500
QM_KEEP_PPM = 0


def _sql_w_lit() -> str:
    return "[" + ", ".join(str(w) for w in QM_W_PPM) + "]"


#: Spark-SQL text of the frozen weight vector (constant-folds to one
#: Literal: a feature bucket's weight is one literal-array lookup, the
#: in-plan form of a broadcast weight vector; PQ codebook pattern)
_SS_W_LIT = "array(" + ", ".join(str(w) for w in QM_W_PPM) + ")"


def ss_quality_struct_from_th(th: str) -> str:
    """:func:`quality_struct` from an ALREADY-BOUND token-hash array
    variable — the fused-scan entry point (r12): a caller that has
    ``th`` bound for other features (trainedhead's evaluation rows)
    scores the frozen head from the same binding instead of re-hashing
    the text. One F.expr parse instead of ~3·D py4j calls (see
    functions/hashing.py). Mean-pool + bias use trunc division (Spark
    ``div``), NOT float ``/`` — sums are signed and both engines must
    truncate toward zero."""
    from algorithmproject_spark_spark.functions.hashing import (
        ss_bind,
        ss_gram_hash_array,
    )

    lookup = (
        f"(acc_, h_) -> acc_ + element_at({_SS_W_LIT}, "
        f"CAST(h_ % {QM_DIM} + 1 AS INT))"
    )
    uni = f"aggregate({th}, CAST(0 AS BIGINT), {lookup})"
    bi = (
        f"aggregate({ss_gram_hash_array(th, 2)}, CAST(0 AS BIGINT), {lookup})"
    )
    n_feats = f"CAST(size({th}) + greatest(size({th}) - 1, 0) AS BIGINT)"
    score = f"(sw_ div {n_feats}) + {QM_BIAS_PPM}"
    body = (
        f"named_struct("
        f"'n_feats', {n_feats}, "
        f"'sum_w_ppm', sw_, "
        f"'score_ppm', {score}, "
        f"'keep', CAST(CASE WHEN {score} >= {QM_KEEP_PPM} THEN 1 ELSE 0 END "
        f"AS BIGINT))"
    )
    return ss_bind(f"({uni}) + ({bi})", "sw_", body)


def ss_quality_struct(text: str) -> str:
    """Text of :func:`quality_struct` for a text COLUMN NAME."""
    from algorithmproject_spark_spark.functions.hashing import (
        ss_bind,
        ss_token_hash_array,
    )

    return ss_bind(
        ss_token_hash_array(f"split({text}, ' ')"),
        "qth_",
        ss_quality_struct_from_th("qth_"),
    )


def quality_struct(text: str) -> Column:
    """``struct(n_feats, sum_w_ppm, score_ppm, keep)`` for a text
    column, with every field derived INSIDE the bound lambda so one
    evaluation of the struct runs the hashed logit map exactly once.

    Consumers that need several of the fields must route the struct
    through a generator (``F.inline(F.array(struct))``) rather than
    projecting struct fields: generator outputs are real attributes,
    while CollapseProject inlines a projected struct's subtree into
    every field reference and re-runs the weight-lookup aggregates per
    column (r12 — scored_docs paid the map 4× per row that way).

    Built as one F.expr parse (r12 — the Column-API build cost ~2 s
    of driver time per query)."""
    return F.expr(ss_quality_struct(text))


def quality_logit_cols(text: str) -> list[Column]:
    """(n_feats, sum_w_ppm, score_ppm, keep) columns for a text column —
    shared by the batch query and the streaming twin. Each returned
    column carries its own copy of the scoring subtree: fine for
    callers that select ONE of them; callers selecting several must use
    :func:`quality_struct` + ``F.inline`` (see its docstring)."""
    s = quality_struct(text)
    return [
        s["n_feats"].alias("n_feats"),
        s["sum_w_ppm"].alias("sum_w_ppm"),
        s["score_ppm"].alias("score_ppm"),
        s["keep"].alias("keep"),
    ]


def _sql_quality_prefix() -> str:
    """Shared CTE prefix (qh/qs/qscore) for the batch oracle and every
    downstream composer (lang report, bands twin, funnel, the modeleval
    sl-prefix, quantnorm) — one definition keeps them all in lockstep
    with quality_logit_cols.

    Formulated as explode-features → JOIN the (bucket, weight)
    dictionary → re-aggregate, NOT as a per-token list-literal lookup:
    DuckDB evaluates ``(lit_list)[i]`` by materializing the {QM_DIM}-
    element literal PER LOOKUP, which made the oracle O(D·tokens) —
    439 s for one sf1 query (round-9b sweep finding) vs a few seconds
    for this relational form. The sum is identical: each feature row
    matches exactly one dictionary row."""
    return f"""qm_w AS (
        SELECT unnest(range(0, {QM_DIM})) AS b,
               unnest({_sql_w_lit()}) AS wt
    ),
    qh AS (
        SELECT doc_id, lang,
               list_transform(string_split(text, ' '),
                              t_ -> {sql_char_fold_hash('t_', MULT, MOD)}) AS th
        FROM documents
    ),
    qf AS (
        SELECT doc_id, lang,
               CAST(len(th) + greatest(len(th) - 1, 0) AS BIGINT) AS n_feats,
               unnest(list_concat(
                   list_transform(th, h_ -> h_ % {QM_DIM}),
                   list_transform({sql_gram_hash_array('th', 2, GRAM_MULT, MOD)},
                                  h_ -> h_ % {QM_DIM}))) AS b
        FROM qh
    ),
    qs AS (
        SELECT qf.doc_id, qf.lang,
               CAST(max(qf.n_feats) AS BIGINT) AS n_feats,
               CAST(sum(w.wt) AS BIGINT) AS sum_w_ppm
        FROM qf JOIN qm_w w USING (b)
        GROUP BY qf.doc_id, qf.lang
    ),
    qscore AS (
        SELECT doc_id, lang, n_feats, sum_w_ppm,
               sum_w_ppm // n_feats + {QM_BIAS_PPM} AS score_ppm,
               CASE WHEN sum_w_ppm // n_feats + {QM_BIAS_PPM} >= {QM_KEEP_PPM}
                    THEN 1 ELSE 0 END AS keep
        FROM qs
    )"""


@register(
    "doc_quality_model_score",
    oracle=f"""
    WITH {_sql_quality_prefix()}
    SELECT doc_id, n_feats, sum_w_ppm,
           CAST(score_ppm AS BIGINT) AS score_ppm,
           CAST(keep AS BIGINT) AS keep
    FROM qscore
    """,
    doc=(
        "model-based quality scoring (CCNet/fastText-style): frozen "
        "linear head over hashed unigram+bigram token features, "
        "integer-ppm mean-pooled logit + bias, keep = logit >= 0 — "
        "map-only, zero shuffle, weight vector as an in-plan literal "
        "(swap for trained weights without touching the plan)"
    ),
)
def doc_quality_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scored_docs(spark, sf_dir).select(
        "doc_id", "n_feats", "sum_w_ppm", "score_ppm", "keep"
    )


def scored_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE shared scored relation (VERDICT r10 #3): one tracked-cached
    (doc_id, source, lang, n_chars, n_feats, sum_w_ppm, score_ppm,
    keep) superset every quality-score consumer (this module, kstest,
    quantnorm, modeleval) selects from, so the hashed-feature logit map
    pass — the dominant per-query cost of the family — runs ONCE per
    session instead of once per consumer, and plans that reference the
    scored relation several times (the KS grid references its
    compaction three times) hit memory instead of re-scoring.

    Cache footprint: 4 BIGINTs + 2 short strings + 1 small int per doc
    (~1-2% of corpus text bytes) under MEMORY_AND_DISK — spillable,
    never an OOM risk at scale."""
    docs = load_table(spark, sf_dir, "documents")
    return tracked_cache(
        docs.select(
            "doc_id",
            "source",
            "lang",
            "n_chars",
            # inline-through-generator: ONE evaluation of the scoring
            # struct per row emits all four columns (see quality_struct)
            F.inline(F.array(quality_struct("text"))),
        )
    )


@register(
    "quality_model_lang_report",
    oracle=f"""
    WITH {_sql_quality_prefix()}
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(keep) AS BIGINT) AS n_keep,
           CAST(sum(keep) * 1000000 // count(*) AS BIGINT) AS keep_ppm,
           CAST(min(score_ppm) AS BIGINT) AS min_score_ppm,
           CAST(max(score_ppm) AS BIGINT) AS max_score_ppm,
           CAST(sum(score_ppm) // count(*) AS BIGINT) AS mean_score_ppm
    FROM qscore GROUP BY lang
    """,
    doc=(
        "per-language acceptance report of the model-based quality "
        "filter: docs, keeps, keep rate (ppm), score min/max/mean — "
        "the calibration table a curation run reads before committing "
        "to a threshold; one map-side-combined groupBy on the map-only "
        "score pass"
    ),
)
def quality_model_lang_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = scored_docs(spark, sf_dir)
    n = F.count(F.lit(1)).cast("long")
    return scored.groupBy("lang").agg(
        n.alias("n_docs"),
        F.sum("keep").cast("long").alias("n_keep"),
        F.call_function("div", F.sum("keep") * F.lit(1_000_000), n).alias(
            "keep_ppm"
        ),
        F.min("score_ppm").cast("long").alias("min_score_ppm"),
        F.max("score_ppm").cast("long").alias("max_score_ppm"),
        F.call_function("div", F.sum("score_ppm"), n).alias("mean_score_ppm"),
    )


# --------------------------------------------------------------------------
# Broadcast-weight-table variant at fastText-scale D (VERDICT r9 #4):
# the literal-array form above embeds the weight vector in the Catalyst
# plan — readable at the demo D=1024, but at fastText's real D (1e6–1e7)
# a plan-embedded literal means a multi-MB plan per query. The
# production form is weights as DATA: a (bucket, w_ppm) relation —
# loaded from wherever training wrote it — broadcast-joined on the
# bucket id. Here the fixture table is GENERATED deterministically
# (Lehmer step mod 2^31-1, mapped into ±50000 ppm) so both engines
# derive identical weights from nothing but the bucket id; swapping in
# trained weights = pointing the DataFrame at a parquet file, zero plan
# changes.
#
# Scale shape: one explode of the per-doc feature buckets (linear,
# ×~2 tokens), ONE BroadcastHashJoin against the D-row weight table
# (65536 rows × 16 B ≈ 1 MB broadcast; 1e7 rows ≈ 160 MB — still a
# broadcast on production executors), then a map-side-combined
# groupBy(doc_id) whose exchange carries ONE row per doc. That single
# narrow shuffle is the price of weights-as-data; the literal form
# stays registered as the zero-shuffle alternative.
# --------------------------------------------------------------------------
QMB_DIM = 65_536
_QMB_A = 48_271  # Lehmer/Park-Miller multiplier (public constant)
_QMB_C = 11_213
_QMB_SPAN = 100_001  # maps the hash into [-50000, 50000] ppm


def qmb_weight_table(spark: SparkSession) -> DataFrame:
    """The (b, wt) weight fixture: w_ppm(b) = ((b·A + C) mod 2³¹-1)
    mod 100001 − 50000. Generated, not stored — the deterministic
    stand-in for a trained-weights parquet; every value in ±50000 ppm
    like the literal table's."""
    return spark.range(QMB_DIM).select(
        F.col("id").alias("b"),
        (
            ((F.col("id") * F.lit(_QMB_A) + F.lit(_QMB_C)) % F.lit(MOD))
            % F.lit(_QMB_SPAN)
            - F.lit(50_000)
        )
        .cast("long")
        .alias("wt"),
    )


@register(
    "quality_model_score_bcast",
    oracle=f"""
    WITH qmb_w AS (
        SELECT b, ((b * {_QMB_A} + {_QMB_C}) % {MOD}) % {_QMB_SPAN} - 50000
                   AS wt
        FROM (SELECT unnest(range(0, {QMB_DIM})) AS b)
    ),
    qmb_h AS (
        SELECT doc_id,
               list_transform(string_split(text, ' '),
                              t_ -> {sql_char_fold_hash('t_', MULT, MOD)}) AS th
        FROM documents
    ),
    qmb_f AS (
        SELECT doc_id,
               CAST(len(th) + greatest(len(th) - 1, 0) AS BIGINT) AS n_feats,
               unnest(list_concat(
                   list_transform(th, h_ -> h_ % {QMB_DIM}),
                   list_transform({sql_gram_hash_array('th', 2, GRAM_MULT, MOD)},
                                  h_ -> h_ % {QMB_DIM}))) AS b
        FROM qmb_h
    ),
    qmb_s AS (
        SELECT f.doc_id,
               CAST(max(f.n_feats) AS BIGINT) AS n_feats,
               CAST(sum(w.wt) AS BIGINT) AS sum_w_ppm
        FROM qmb_f f JOIN qmb_w w USING (b)
        GROUP BY f.doc_id
    )
    SELECT doc_id, n_feats, sum_w_ppm,
           CAST(sum_w_ppm // n_feats + {QM_BIAS_PPM} AS BIGINT) AS score_ppm,
           CAST(CASE WHEN sum_w_ppm // n_feats + {QM_BIAS_PPM}
                          >= {QM_KEEP_PPM}
                     THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM qmb_s
    """,
    doc=(
        "model-based quality scoring with the weight table as "
        "broadcast DATA at D=65536 (the fastText-scale form of "
        "doc_quality_model_score): explode hashed uni+bigram buckets, "
        "ONE BroadcastHashJoin against the generated (bucket, w_ppm) "
        "fixture relation, map-side-combined per-doc re-aggregation — "
        "the plan embeds no weight vector, so D=1e7 and real trained "
        "weights are a data swap, not a plan change"
    ),
)
def quality_model_score_bcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the generic weights-as-data scoring plan over the generated
    # fixture relation — trainedhead.score_with_weights is the SAME
    # function the trained-parquet swap runs, so "swap the weight
    # table" is exercised end-to-end, not just claimed (the left join
    # there equals this query's historical inner join because the
    # fixture table is dense over all QMB_DIM buckets)
    from algorithmproject_spark_spark.queries.trainedhead import (
        score_with_weights,
    )

    docs = load_table(spark, sf_dir, "documents")
    return score_with_weights(
        docs,
        qmb_weight_table(spark),
        bias_ppm=QM_BIAS_PPM,
        keep_ppm=QM_KEEP_PPM,
        with_bands=False,  # fixture is token-only; historical schema
    )


# --------------------------------------------------------------------------
# Score-band histogram + streaming twin: monitoring the live score
# distribution of an ingest stream. Bands are score_ppm div 10000
# clamped to [-5, 5] — 11 fixed buckets, so the streaming aggregation
# state is bounded at |langs| x 11 rows no matter the volume.
# --------------------------------------------------------------------------
QM_BAND_PPM = 10_000
QM_BAND_CLAMP = 5


def quality_bands(docs: DataFrame) -> DataFrame:
    """(lang, band, n_docs, n_keep) — ONE definition feeding the batch
    twin query, its oracle, and streaming/qualitystream.py."""
    scored = docs.select(
        "lang", F.inline(F.array(quality_struct("text")))
    )
    band = F.least(
        F.greatest(
            F.call_function("div", F.col("score_ppm"), F.lit(QM_BAND_PPM)),
            F.lit(-QM_BAND_CLAMP).cast("long"),
        ),
        F.lit(QM_BAND_CLAMP).cast("long"),
    )
    return scored.groupBy("lang", band.alias("band")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("keep").cast("long").alias("n_keep"),
    )


@register(
    "stream_quality_bands_batch_twin",
    oracle=f"""
    WITH {_sql_quality_prefix()}
    SELECT lang,
           least(greatest(score_ppm // {QM_BAND_PPM}, -{QM_BAND_CLAMP}),
                 {QM_BAND_CLAMP}) AS band,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(keep) AS BIGINT) AS n_keep
    FROM qscore GROUP BY 1, 2
    """,
    doc=(
        "batch twin of the streaming quality-score band histogram "
        "(streaming/qualitystream.py): per-(lang, band) doc/keep "
        "counts from the frozen quality head, bands clamped to 11 "
        "fixed buckets so the streaming state is bounded — the "
        "complete-mode snapshot converges to exactly this relation"
    ),
)
def stream_quality_bands_batch_twin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from algorithmproject_spark_spark.streaming.qualitystream import (
        quality_bands_batch,
    )

    return quality_bands_batch(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Curation funnel report: the stage-by-stage survivor counts of a
# filter cascade (the FineWeb/CCNet observability table). Each stage
# is cumulative (a doc must pass every earlier stage), so the columns
# read as a funnel; per-source grouping is how a crawl batch gets
# blamed. Single map-only pass + one map-side-combined groupBy.
# --------------------------------------------------------------------------
FUNNEL_MIN_CHARS = 100
FUNNEL_TOK_MIN = 20
FUNNEL_TOK_MAX = 1_000
FUNNEL_LANG = "en"


@register(
    "curation_funnel_report",
    oracle=f"""
    WITH {_sql_quality_prefix()},
    fl AS (
        SELECT d.source,
               CASE WHEN d.n_chars >= {FUNNEL_MIN_CHARS} THEN 1 ELSE 0 END
                   AS len_ok,
               CASE WHEN d.n_chars >= {FUNNEL_MIN_CHARS}
                     AND (q.n_feats + 1) // 2
                         BETWEEN {FUNNEL_TOK_MIN} AND {FUNNEL_TOK_MAX}
                    THEN 1 ELSE 0 END AS tok_ok,
               CASE WHEN d.n_chars >= {FUNNEL_MIN_CHARS}
                     AND (q.n_feats + 1) // 2
                         BETWEEN {FUNNEL_TOK_MIN} AND {FUNNEL_TOK_MAX}
                     AND d.lang = '{FUNNEL_LANG}'
                    THEN 1 ELSE 0 END AS lang_ok,
               CASE WHEN d.n_chars >= {FUNNEL_MIN_CHARS}
                     AND (q.n_feats + 1) // 2
                         BETWEEN {FUNNEL_TOK_MIN} AND {FUNNEL_TOK_MAX}
                     AND d.lang = '{FUNNEL_LANG}'
                     AND q.keep = 1
                    THEN 1 ELSE 0 END AS keep_ok
        FROM documents d JOIN qscore q ON d.doc_id = q.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len_ok) AS BIGINT) AS n_len_ok,
           CAST(sum(tok_ok) AS BIGINT) AS n_tok_ok,
           CAST(sum(lang_ok) AS BIGINT) AS n_lang_ok,
           CAST(sum(keep_ok) AS BIGINT) AS n_keep,
           CAST(sum(keep_ok) * 1000000 // count(*) AS BIGINT)
               AS survival_ppm
    FROM fl GROUP BY source
    """,
    doc=(
        "curation funnel report (FineWeb/CCNet observability): "
        "cumulative survivor counts per source through the cascade "
        "length -> token-count -> language -> model-quality, plus the "
        "end-to-end survival rate in ppm — one map-only scored pass "
        "and one map-side-combined groupBy, no joins of data-scale "
        "relations (the quality columns ride the same row)"
    ),
)
def curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = scored_docs(spark, sf_dir)
    # token count is exactly derivable from the scored pass: n_feats =
    # 2n-1 for n tokens, so (n_feats + 1) div 2 = n — no re-tokenize
    # (an un-bound split expression would be re-evaluated in every
    # cumulative flag after CollapseProject inlining; round-9 review)
    n_toks = F.call_function("div", F.col("n_feats") + F.lit(1), F.lit(2))
    len_ok = F.col("n_chars") >= FUNNEL_MIN_CHARS
    tok_ok = len_ok & n_toks.between(FUNNEL_TOK_MIN, FUNNEL_TOK_MAX)
    lang_ok = tok_ok & (F.col("lang") == FUNNEL_LANG)
    keep_ok = lang_ok & (F.col("keep") == 1)
    as_i = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    n = F.count(F.lit(1)).cast("long")
    return scored.groupBy("source").agg(
        n.alias("n_docs"),
        F.sum(as_i(len_ok)).cast("long").alias("n_len_ok"),
        F.sum(as_i(tok_ok)).cast("long").alias("n_tok_ok"),
        F.sum(as_i(lang_ok)).cast("long").alias("n_lang_ok"),
        F.sum(as_i(keep_ok)).cast("long").alias("n_keep"),
        F.call_function(
            "div", F.sum(as_i(keep_ok)) * F.lit(1_000_000), n
        ).alias("survival_ppm"),
    )


# --------------------------------------------------------------------------
# Wilson score interval for the per-language keep rate: the CI that
# stays honest at small n and extreme rates (a 0/12 language reads
# [0, 24%], not the Wald interval's degenerate [0, 0]). Decides
# whether a language's keep-rate delta is evidence or noise before
# retuning the filter threshold.
#
# Exactness: every operation in the Wilson formula is +, −, ×, ÷ or
# sqrt — ALL correctly rounded under IEEE 754 — so two engines
# evaluating the IDENTICAL expression tree produce the identical
# double, and the final micros() quantization is hash-stable. The
# Spark and SQL forms below are kept token-for-token parallel (same
# literals, same association); 1.96 parses to the same double in both.
# --------------------------------------------------------------------------
WILSON_Z = "1.96"  # 95% two-sided


def _sql_wilson(k: str, n: str, d: str = "") -> tuple[str, str]:
    """(lower, upper) Wilson bounds of k successes in n BIGINT trials.
    ``d=""`` renders DuckDB text; ``d="D"`` renders Spark text, whose
    unsuffixed decimals would parse as DECIMAL instead of DOUBLE."""
    z = f"{WILSON_Z}{d}"
    nn = f"CAST({n} AS DOUBLE)"
    p = f"(CAST({k} AS DOUBLE) / {nn})"
    z2 = f"({z} * {z})"
    denom = f"(1.0{d} + {z2} / {nn})"
    center = f"({p} + {z2} / (2.0{d} * {nn}))"
    half = (
        f"({z} * sqrt(({p} * (1.0{d} - {p}) + {z2} / (4.0{d} * {nn}))"
        f" / {nn}))"
    )
    return (
        f"(({center} - {half}) / {denom})",
        f"(({center} + {half}) / {denom})",
    )


@register(
    "quality_keep_wilson_ci",
    oracle=f"""
    WITH {_sql_quality_prefix()},
    wl AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(keep) AS BIGINT) AS n_keep
        FROM qscore GROUP BY lang
    )
    SELECT lang, n_docs, n_keep,
           CAST(n_keep * 1000000 // n_docs AS BIGINT) AS keep_ppm,
           {sql_micros(_sql_wilson('n_keep', 'n_docs')[0])} AS wilson_lo_ppm,
           {sql_micros(_sql_wilson('n_keep', 'n_docs')[1])} AS wilson_hi_ppm
    FROM wl
    """,
    doc=(
        "Wilson 95% score interval on the per-language keep rate of "
        "the quality filter — small-n-honest CI in exact micros (the "
        "whole formula is correctly-rounded IEEE ops, so both engines "
        "agree bit-for-bit); one map-side-combined groupBy"
    ),
)
def quality_keep_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = scored_docs(spark, sf_dir)
    agg = scored.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("keep").cast("long").alias("n_keep"),
    )
    lo, hi = _sql_wilson("n_keep", "n_docs", d="D")
    return agg.select(
        "lang",
        "n_docs",
        "n_keep",
        F.expr(ss_floordiv("n_keep * 1000000", "n_docs")).alias("keep_ppm"),
        F.expr(ss_micros(lo)).alias("wilson_lo_ppm"),
        F.expr(ss_micros(hi)).alias("wilson_hi_ppm"),
    )
