"""Second text-operator batch — SURVEY.md §2.9 T4/T5/T7/T9/T19, §2.4 A10.

All native column expressions (no UDFs): the reference implements these
as Scala RDD maps / 36-120-line UDF bodies; every one reduces to
explode + window + regexp once expressed relationally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from algorithmproject_spark_spark.functions.text import (
    longest_match_filter,
    sql_longest_match_filter,
    sql_stopword_list,
    stopword_array,
    tokenize,
)
from algorithmproject_spark_spark.functions.numeric import sql_hash_mod, ss_hash_mod
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table


@register(
    "stopword_masked_bigrams",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(ts) AS w, generate_subscripts(ts, 1) AS pos
        FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
    ),
    pairs AS (
        SELECT a.doc_id, a.w || ' ' || b.w AS bigram
        FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        WHERE NOT list_contains({sql_stopword_list()}, a.w)
          AND NOT list_contains({sql_stopword_list()}, b.w)
    )
    SELECT bigram, count(*) AS n FROM pairs GROUP BY bigram
    HAVING count(*) >= 20
    """,
    doc="T4: stopword-aware bigrams — windows break at stopword positions "
    "(AppsTextCoreNLPTokens.scala:180-216's 36-line mask loop as one "
    "filter over adjacent pairs)",
)
def stopword_masked_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(tokenize("text")).alias("pos", "w")
    )
    sw = stopword_array()
    nxt = tok.select(
        "doc_id", (F.col("pos") - 1).alias("pos"), F.col("w").alias("w2")
    )
    pairs = (
        tok.join(nxt, ["doc_id", "pos"])
        .filter(
            ~F.array_contains(sw, F.col("w")) & ~F.array_contains(sw, F.col("w2"))
        )
        .select(F.concat_ws(" ", "w", "w2").alias("bigram"))
    )
    return (
        pairs.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 20)
    )


# T5/T7: the reference's candidate-phrase regex battery
# (NewsNgrams.scala:220-309) mines quoted spans, ALL-CAPS abbreviations,
# and parentheticals; T7 (SearchWordCoreNLPTokens.scala:224-253) flags
# capitalized tokens as potential NEs. Two further parity pieces from
# NewsNgrams: possessive-'s forms spawn a stripped noun candidate
# (NewsNgrams.scala:255-262 — "电影名是带's的,构造一个不带's的新词"), and
# the candidate set is subsumption-filtered 取长不取短 by getLonger
# (NewsNgrams.scala:34-41; functions/text.py longest_match_filter). The
# corpus is lowercase prose, so the query first derives a marked-up
# rendering from real columns (the regexes then have genuine structure
# to hit), keeping every value oracle-derivable: the leading unigram is
# always subsumed by the leading bigram and must be pruned.
_CAND_LIST = "[quoted, parenthetical, abbrev, poss_noun, tok1, lead_bigram]"
_CAND_NONEMPTY = (
    f"list_distinct(list_filter({_CAND_LIST}, x_ -> x_ IS NOT NULL AND x_ <> ''))"
)


@register(
    "candidate_phrase_mining",
    oracle=f"""
    WITH marked AS (
        SELECT doc_id,
               '"' || source || '" says ' || upper(lang) || ' (' ||
               CAST(n_chars AS VARCHAR) || ' chars): ' || upper(lang) ||
               '''s corpus. ' || text AS mt,
               string_split(text, ' ') AS toks
        FROM documents
    ),
    cands AS (
        SELECT doc_id, mt,
               regexp_extract(mt, '"([^"]+)"', 1) AS quoted,
               regexp_extract(mt, '\\(([^)]+)\\)', 1) AS parenthetical,
               COALESCE(regexp_extract_all(mt, '\\b[A-Z]{{2,}}\\b')[1], '') AS abbrev,
               regexp_extract(mt, '([A-Z]+)''s', 1) AS poss_noun,
               COALESCE(toks[1], '') AS tok1,
               COALESCE(toks[1] || ' ' || toks[2], '') AS lead_bigram
        FROM marked
    ),
    pruned AS (
        SELECT *, {sql_longest_match_filter(_CAND_LIST)} AS kept_list,
               len({_CAND_NONEMPTY}) AS n_cand
        FROM cands
    )
    SELECT doc_id, quoted, parenthetical, abbrev, poss_noun,
           array_to_string(list_sort(kept_list), '|') AS kept,
           CAST(n_cand - len(kept_list) AS BIGINT) AS n_pruned,
           len(regexp_extract_all(mt, '\\b[A-Z][a-z]*\\b')) AS n_capitalized
    FROM pruned
    """,
    doc="T5/T7: candidate-phrase regex battery — quoted spans, "
    "parentheticals, ALL-CAPS abbreviations, possessive-'s noun forms, "
    "capitalized-token NER heuristic — then getLonger subsumption "
    "pruning, all native regexp/array exprs",
)
def candidate_phrase_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    mt = F.concat(
        F.lit('"'), F.col("source"), F.lit('" says '), F.upper("lang"),
        F.lit(" ("), F.col("n_chars").cast("string"), F.lit(" chars): "),
        F.upper("lang"), F.lit("'s corpus. "), F.col("text"),
    )
    toks = F.split(F.col("text"), " ")
    marked = docs.select("doc_id", mt.alias("mt"), toks.alias("toks"))
    caps = F.regexp_extract_all(F.col("mt"), F.lit(r"\b[A-Z]{2,}\b"), 0)
    cands = marked.select(
        "doc_id",
        "mt",
        F.regexp_extract("mt", r'"([^"]+)"', 1).alias("quoted"),
        F.regexp_extract("mt", r"\(([^)]+)\)", 1).alias("parenthetical"),
        F.coalesce(F.try_element_at(caps, F.lit(1)), F.lit("")).alias("abbrev"),
        F.regexp_extract("mt", r"([A-Z]+)'s", 1).alias("poss_noun"),
        F.coalesce(F.try_element_at("toks", F.lit(1)), F.lit("")).alias("tok1"),
        F.coalesce(
            F.concat(
                F.try_element_at("toks", F.lit(1)),
                F.lit(" "),
                F.try_element_at("toks", F.lit(2)),
            ),
            F.lit(""),
        ).alias("lead_bigram"),
    )
    cand_arr = F.array(
        "quoted", "parenthetical", "abbrev", "poss_noun", "tok1", "lead_bigram"
    )
    nonempty = F.array_distinct(
        F.filter(cand_arr, lambda x: x.isNotNull() & (x != F.lit("")))
    )
    pruned = cands.select(
        "doc_id",
        "mt",
        "quoted",
        "parenthetical",
        "abbrev",
        "poss_noun",
        longest_match_filter(cand_arr).alias("kept_list"),
        F.size(nonempty).alias("n_cand"),
    )
    return pruned.select(
        "doc_id",
        "quoted",
        "parenthetical",
        "abbrev",
        "poss_noun",
        F.array_join(F.array_sort("kept_list"), "|").alias("kept"),
        (F.col("n_cand") - F.size("kept_list")).cast("long").alias("n_pruned"),
        F.size(
            F.regexp_extract_all(F.col("mt"), F.lit(r"\b[A-Z][a-z]*\b"), 0)
        ).alias("n_capitalized"),
    )


# T9: per-user tag TF-IDF with min-max normalized tf and idf
# (UserTextLabelCalc.scala:42-159 — HashingTF + manual min-max loops).
# Events stand in for the user→tag bag: tags = event types per user.
@register(
    "user_tag_tfidf_norm",
    plan=("scalar_cross",),
    oracle="""
    WITH tf AS (
        SELECT user_id, event_type AS tag, count(*) AS tf
        FROM events GROUP BY user_id, event_type
    ),
    idf AS (
        SELECT tag, ln((CAST((SELECT count(DISTINCT user_id) FROM events) AS DOUBLE) + 1.0)
                      / (CAST(count(*) AS DOUBLE) + 1.0)) AS idf
        FROM tf GROUP BY tag
    ),
    bounds AS (
        SELECT min(tf) AS tf_min, max(tf) AS tf_max FROM tf
    ),
    ibounds AS (
        SELECT min(idf) AS i_min, max(idf) AS i_max FROM idf
    ),
    scored AS (
        SELECT t.user_id, t.tag,
               CAST(floor(
                   (CASE WHEN b.tf_max = b.tf_min THEN 1.0
                         ELSE (CAST(t.tf AS DOUBLE) - b.tf_min) / (b.tf_max - b.tf_min) END)
                 * (CASE WHEN ib.i_max = ib.i_min THEN 1.0
                         ELSE (i.idf - ib.i_min) / (ib.i_max - ib.i_min) END)
                 * 1000000.0 + 0.5) AS BIGINT) AS score_e6
        FROM tf t JOIN idf i USING (tag)
        CROSS JOIN bounds b CROSS JOIN ibounds ib
    )
    SELECT user_id, tag, score_e6, CAST(rk AS BIGINT) AS rk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY score_e6 DESC, tag) AS rk
        FROM scored
    ) WHERE rk <= 3
    """,
    doc="T9: user tag tf·idf, each factor min-max normalized corpus-wide, "
    "top-3 tags per user (window replaces the reference's driver loops)",
)
def user_tag_tfidf_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    tf = ev.groupBy("user_id", F.col("event_type").alias("tag")).agg(
        F.count(F.lit(1)).alias("tf")
    )
    # Corpus size folds in as a broadcast 1-row aggregate (the
    # min_max_normalize pattern, operators/core.py) — one Spark job, no
    # driver action splitting the plan.
    n_users = ev.agg(F.countDistinct("user_id").cast("double").alias("n_users"))
    idf = (
        tf.groupBy("tag")
        .agg(F.count(F.lit(1)).alias("df_count"))
        .crossJoin(F.broadcast(n_users))
        .select(
            "tag",
            F.log(
                (F.col("n_users") + 1.0) / (F.col("df_count").cast("double") + 1.0)
            ).alias("idf"),
        )
    )
    bounds = tf.agg(
        F.min("tf").alias("tf_min"), F.max("tf").alias("tf_max")
    )
    ibounds = idf.agg(F.min("idf").alias("i_min"), F.max("idf").alias("i_max"))
    tf_n = F.when(F.col("tf_max") == F.col("tf_min"), F.lit(1.0)).otherwise(
        (F.col("tf").cast("double") - F.col("tf_min"))
        / (F.col("tf_max") - F.col("tf_min"))
    )
    idf_n = F.when(F.col("i_max") == F.col("i_min"), F.lit(1.0)).otherwise(
        (F.col("idf") - F.col("i_min")) / (F.col("i_max") - F.col("i_min"))
    )
    scored = (
        tf.join(F.broadcast(idf), "tag")
        .crossJoin(F.broadcast(bounds))
        .crossJoin(F.broadcast(ibounds))
        .select(
            "user_id",
            "tag",
            F.floor(tf_n * idf_n * F.lit(1000000.0) + F.lit(0.5))
            .cast("long")
            .alias("score_e6"),
        )
    )
    w = W.partitionBy("user_id").orderBy(F.desc("score_e6"), F.asc("tag"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
    )


# T19: classifier-feedback corpus cleaning
# (NewsSubCategoryTrainCheck.scala:102-118): drop rows the classifier
# disagrees with confidently or agrees with unconfidently. pred/proba
# are derived deterministically from data columns (no model here — the
# operator under test is the union + anti-join cleanup).
@register(
    "train_check_clean",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang,
               doc_id % 5 AS label,
               n_chars % 5 AS pred,
               CAST((doc_id * 37) % 100 AS DOUBLE) / 100.0 AS proba
        FROM documents
    ),
    bad AS (
        SELECT doc_id FROM scored WHERE pred = label AND proba < 0.7
        UNION ALL
        SELECT doc_id FROM scored WHERE pred <> label AND proba > 0.5
    )
    SELECT s.doc_id, s.label, s.pred FROM scored s
    WHERE s.doc_id NOT IN (SELECT doc_id FROM bad)
    """,
    doc="T19: feedback cleaning — union of low-confidence-agree + "
    "high-confidence-disagree ids, removed via native left_anti (the "
    "reference emulates anti-join with left join + null filter, J3)",
)
def train_check_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        (F.col("doc_id") % 5).alias("label"),
        (F.col("n_chars") % 5).alias("pred"),
        ((F.col("doc_id") * 37) % 100).cast("double").alias("proba100"),
    ).withColumn("proba", F.col("proba100") / 100.0)
    bad = scored.filter(
        (F.col("pred") == F.col("label")) & (F.col("proba") < 0.7)
    ).unionByName(
        scored.filter((F.col("pred") != F.col("label")) & (F.col("proba") > 0.5))
    ).select("doc_id")
    return scored.join(bad, "doc_id", "left_anti").select("doc_id", "label", "pred")


# A10: product-of-counts scoring (LabelCombine.scala:59-77 folds a
# HashMap with seqop/combop on the driver). Π counts = exp(Σ ln count),
# but a float Σ is partition-order dependent — so each ln is snapped to
# 1e6 fixed-point FIRST and summed as integers, which is associative
# and therefore deterministic under any partitioning. The score stays
# monotonic in the true product, which is all ranking needs.
@register(
    "product_score_per_class",
    oracle=f"""
    WITH tf AS (
        SELECT lang, word, count(*) AS c
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE NOT list_contains({sql_stopword_list()}, word)
        GROUP BY lang, word
    )
    SELECT lang,
           count(*) AS n_words,
           CAST(sum(CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000.0) AS BIGINT)) AS BIGINT) AS log_product_e6
    FROM tf GROUP BY lang
    """,
    doc="A10: product-of-counts via integer-snapped Σln — associative, "
    "deterministic under any partitioning (raw FP Σ is not)",
)
def product_score_per_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("lang", F.explode(tokenize("text")).alias("word"))
        .filter(~F.array_contains(stopword_array(), F.col("word")))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return tf.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(
            F.floor(F.log(F.col("c").cast("double")) * F.lit(1000000.0)).cast("long")
        ).alias("log_product_e6"),
    )


# O4: sampling — the reference's sample(false, 0.1) is seed-dependent
# and not reproducible across engines; the scale-correct substitute is
# a deterministic hash-mod filter (stable under re-runs, re-partitioning
# and engine changes — what you actually want for training splits).
@register(
    "deterministic_sample_10pct",
    oracle=f"""
    SELECT doc_id, lang FROM documents WHERE {sql_hash_mod('doc_id', 10)} = 3
    """,
    doc="O4: deterministic 10% sample via overflow-safe multiplicative "
    "hash-mod on the key (reproducible train/holdout splits; sample() is not)",
)
def deterministic_sample_10pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(F.expr(ss_hash_mod("doc_id", 10)) == 3).select("doc_id", "lang")


# O4 stratified variant: per-class sampling fractions (the balanced
# train-split builder — mark/ jobs emulate this with filter+limit per
# class). The hash-mod threshold varies by stratum, so each class keeps
# a different deterministic fraction in ONE map-only pass — no
# sampleBy() seed nondeterminism, no per-class job loop.
_STRATA = {"en": 5, "de": 2, "zh": 2, "fr": 1, "es": 1}  # keep k of 10


@register(
    "stratified_sample_by_lang",
    oracle=f"""
    SELECT doc_id, lang FROM documents
    WHERE {sql_hash_mod('doc_id', 10)} < CASE lang
        {" ".join(f"WHEN '{k}' THEN {v}" for k, v in _STRATA.items())}
        ELSE 0 END
    """,
    doc="O4 stratified: per-class deterministic hash-mod sampling "
    "fractions in one map-only pass (reference: filter+limit per class)",
)
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    keep = F.lit(0)
    for lang, k in _STRATA.items():
        keep = F.when(F.col("lang") == lang, F.lit(k)).otherwise(keep)
    return docs.filter(F.expr(ss_hash_mod("doc_id", 10)) < keep).select(
        "doc_id", "lang"
    )


# T6: lemmatize + POS tag + POS-pattern n-gram admission. The reference
# needs a per-partition CoreNLP processor (NewsNgrams.scala:110-130);
# here the deterministic rule tagger is a pure Catalyst transform, so
# the whole pass is narrow per-row work inside codegen — at 100 TB it
# scales with input splits and the only shuffle is the final count.
@register(
    "doc_pos_bigrams",
    plan=("arrow",),
    oracle=None,  # set below after import to avoid circular fstring clutter
    doc="T6: rule-based lemma+POS tagging, NN+NN/JJ+NN/VB+NN bigram "
    "admission (NewsNgrams.scala:110-130), corpus top-40",
)
def doc_pos_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from algorithmproject_spark_spark.functions.pos import (
        lemmas,
        pos_pattern_bigrams,
        pos_tags,
    )

    docs = load_table(spark, sf_dir, "documents")
    lemmed = docs.select(
        "doc_id", lemmas(tokenize("text")).alias("lem")
    ).withColumn("tag", pos_tags(F.col("lem")))
    grams = lemmed.select(
        F.explode(pos_pattern_bigrams(F.col("lem"), F.col("tag"))).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("gram"))
        .limit(40)
    )


def _install_pos_oracle() -> None:
    from algorithmproject_spark_spark.functions.pos import sql_pos_bigram_cte
    from algorithmproject_spark_spark.registry import REGISTRY, QuerySpec

    spec = REGISTRY["doc_pos_bigrams"]
    sql = (
        sql_pos_bigram_cte("documents")
        + """
    SELECT gram, n FROM (
        SELECT gram, count(*) AS n FROM grams GROUP BY gram
    )
    ORDER BY n DESC, gram
    LIMIT 40
    """
    )
    # dataclasses.replace, NOT a field-by-field rebuild: keeps every
    # other spec field (e.g. the declared plan traits) intact
    from dataclasses import replace

    REGISTRY["doc_pos_bigrams"] = replace(spec, oracle=sql)


_install_pos_oracle()


# T6 unigram branch: the reference's n-gram output ALSO emits single
# lemmas, admitted when tagged NN/JJ only (VB deliberately excluded —
# AppsTextCoreNLPTokens.scala:154, PrepProcess.scala:288). Round 12
# wires ALLOWED_POS_UNI into this runtime consumer (ADVICE r11: the
# list was parity-tested but never applied by any engine query).
@register(
    "doc_pos_unigrams",
    oracle=None,  # installed below (shares the pos-module CTE builder)
    doc="T6 unigram admission: rule-based lemma+POS tagging, NN/JJ "
    "unigram filter (AppsTextCoreNLPTokens.scala:154), corpus top-40",
)
def doc_pos_unigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from algorithmproject_spark_spark.functions.pos import (
        lemmas,
        pos_pattern_unigrams,
        pos_tags,
    )

    docs = load_table(spark, sf_dir, "documents")
    lemmed = docs.select(
        "doc_id", lemmas(tokenize("text")).alias("lem")
    ).withColumn("tag", pos_tags(F.col("lem")))
    unis = lemmed.select(
        F.explode(
            pos_pattern_unigrams(F.col("lem"), F.col("tag"))
        ).alias("lem")
    )
    return (
        unis.groupBy("lem")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("lem"))
        .limit(40)
    )


def _install_pos_uni_oracle() -> None:
    from dataclasses import replace

    from algorithmproject_spark_spark.functions.pos import (
        sql_pos_unigram_cte,
    )
    from algorithmproject_spark_spark.registry import REGISTRY

    sql = (
        sql_pos_unigram_cte("documents")
        + """
    SELECT lem, n FROM (
        SELECT lem, count(*) AS n FROM u_unis GROUP BY lem
    )
    ORDER BY n DESC, lem
    LIMIT 40
    """
    )
    REGISTRY["doc_pos_unigrams"] = replace(
        REGISTRY["doc_pos_unigrams"], oracle=sql
    )


_install_pos_uni_oracle()
