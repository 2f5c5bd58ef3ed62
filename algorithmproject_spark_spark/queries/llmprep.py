"""LLM training-corpus preparation operators (north-star extensions —
no reference analogue; the reference's nearest neighbors are the corpus
cost filters, ``nlp/PrepData.scala:184-188``, and the curation jobs in
``mark/``).

Operator families a 100 TB pretraining pipeline runs after dedup:

- **Repetition signals** (Gopher-style filters, Rae et al. 2021
  "Scaling Language Models", Appendix A1.1): top-n-gram mass fraction,
  immediate token repeats, duplicate-token fraction, mean word length.
  All per-row array HOFs — map-only, zero shuffle at any scale.
- **Sequence packing**: concatenate documents into fixed-size training
  windows (GPT-style document packing). Per-shard running token count →
  each doc's first/last window index and straddle flag. One window
  shuffle keyed on the shard column; exact BIGINT arithmetic.
- **Embedding quantization**: symmetric per-vector int8 quantization
  with reconstruction-error metrics — the storage/serving path for the
  ANN family. Sequential folds keep every float bit-identical
  cross-engine (see functions/vectors.py).
- **Benchmark decontamination**: n-gram overlap against a held-out
  evaluation set (broadcast gram join).
- **PII masking**: email/IP/digit-run scrubbing as codegen'd
  regexp_replace chains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from algorithmproject_spark_spark.cacheutil import tracked_cache
from algorithmproject_spark_spark.functions.numeric import (
    sql_hash_mod,
    sql_micros,
    ss_hash_mod,
    ss_micros,
)
from algorithmproject_spark_spark.functions.text import ngrams, sql_ngrams, tokenize
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

SEQ_LEN = 512  # packing window, tokens


# --------------------------------------------------------------------------
# Repetition signals. The top-bigram fraction is the mode count of the
# bigram array over its size; the mode is computed with nested HOFs
# (distinct × membership count). The bigram array is bound through a
# 1-element transform lambda so CollapseProject cannot re-evaluate the
# n-gram construction per reference (the simhash lesson, dedup.py).
# --------------------------------------------------------------------------
@register(
    "doc_repetition_signals",
    oracle=f"""
    SELECT doc_id,
           n_tokens,
           CASE WHEN n_tokens >= 2
                THEN len(list_filter(range(1, n_tokens), i_ -> toks[i_] = toks[i_ + 1]))
                ELSE 0 END AS n_immediate_repeats,
           top_bigram_n,
           CASE WHEN n_bigrams > 0
                THEN {sql_micros("CAST(top_bigram_n AS DOUBLE) / n_bigrams")}
                ELSE 0 END AS top_bigram_frac_e6,
           {sql_micros("1.0 - CAST(n_distinct AS DOUBLE) / n_tokens")} AS dup_token_frac_e6,
           {sql_micros("CAST(sum_len AS DOUBLE) / n_tokens")} AS mean_word_len_e6
    FROM (
        SELECT doc_id, toks,
               len(toks) AS n_tokens,
               len(list_distinct(toks)) AS n_distinct,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(toks, t_ -> CAST(length(t_) AS BIGINT))),
                   (a_, b_) -> a_ + b_) AS sum_len,
               len(bg) AS n_bigrams,
               COALESCE(list_max(list_transform(list_distinct(bg),
                   x_ -> len(list_filter(bg, y_ -> y_ = x_)))), 0) AS top_bigram_n
        FROM (SELECT doc_id, toks, {sql_ngrams('toks', 2)} AS bg
              FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
    )
    """,
    doc="Gopher-style repetition filters: top-bigram mass, immediate "
    "repeats, duplicate-token fraction, mean word length — map-only HOFs",
)
def doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    base = docs.select("doc_id", toks.alias("toks"))

    n_tokens = F.size("toks")
    # bind bg once; mode count = max membership count over distinct grams
    top_bigram_n = F.element_at(
        F.transform(
            F.array(ngrams(F.col("toks"), 2)),
            lambda bg: F.coalesce(
                F.array_max(
                    F.transform(
                        F.array_distinct(bg),
                        lambda x: F.size(F.filter(bg, lambda y: y == x)),
                    )
                ),
                F.lit(0),
            ),
        ),
        1,
    )
    n_bigrams = F.greatest(n_tokens - 1, F.lit(0))
    sum_len = F.aggregate(
        F.transform(F.col("toks"), lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )
    repeats = F.when(
        n_tokens >= 2,
        F.size(
            F.filter(
                F.sequence(F.lit(1), n_tokens - 1),
                lambda i: F.element_at("toks", i) == F.element_at("toks", i + 1),
            )
        ),
    ).otherwise(F.lit(0))

    stats = base.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        repeats.alias("n_immediate_repeats"),
        top_bigram_n.alias("top_bigram_n"),
        n_bigrams.alias("n_bigrams"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
        sum_len.alias("sum_len"),
    )
    return stats.select(
        "doc_id",
        "n_tokens",
        "n_immediate_repeats",
        "top_bigram_n",
        F.when(
            F.col("n_bigrams") > 0,
            F.expr(ss_micros("CAST(top_bigram_n AS DOUBLE) / n_bigrams")),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("top_bigram_frac_e6"),
        F.expr(
            ss_micros("1.0D - CAST(n_distinct AS DOUBLE) / n_tokens")
        ).alias("dup_token_frac_e6"),
        F.expr(ss_micros("CAST(sum_len AS DOUBLE) / n_tokens")).alias(
            "mean_word_len_e6"
        ),
    )


# --------------------------------------------------------------------------
# Sequence packing: GPT-style document concatenation into fixed windows.
# Per shard (lang), docs concatenate in doc_id order; a doc occupying
# token offsets [cum_before, cum_before + n) lands in windows
# [cum_before div L, (cum_before + n - 1) div L]. The scan is one
# running sum partitioned on the shard key — scale-safe (never a global
# unpartitioned window), and a 100 TB run shards the same way.
# --------------------------------------------------------------------------
@register(
    "doc_pack_sequences",
    oracle=f"""
    SELECT doc_id, lang, n_tokens,
           tok_before,
           tok_before // {SEQ_LEN} AS seq_first,
           (tok_before + n_tokens - 1) // {SEQ_LEN} AS seq_last,
           CASE WHEN tok_before // {SEQ_LEN}
                     <> (tok_before + n_tokens - 1) // {SEQ_LEN}
                THEN 1 ELSE 0 END AS straddles
    FROM (
        SELECT doc_id, lang, n_tokens,
               CAST(COALESCE(sum(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS tok_before
        FROM (SELECT doc_id, lang,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
              FROM documents)
    )
    WHERE n_tokens > 0
    """,
    doc="sequence packing: per-shard running token offsets → first/last "
    "training-window index per doc + straddle flag (window length 512)",
)
def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(tokenize("text")).cast("long")
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    base = docs.select("doc_id", "lang", n_tokens.alias("n_tokens")).withColumn(
        "tok_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    )
    seq_first = F.expr(f"tok_before div {SEQ_LEN}")
    seq_last = F.expr(f"(tok_before + n_tokens - 1) div {SEQ_LEN}")
    return base.filter(F.col("n_tokens") > 0).select(
        "doc_id",
        "lang",
        "n_tokens",
        "tok_before",
        seq_first.alias("seq_first"),
        seq_last.alias("seq_last"),
        F.when(seq_first != seq_last, F.lit(1)).otherwise(F.lit(0)).alias("straddles"),
    )


# --------------------------------------------------------------------------
# Symmetric int8 quantization. q_i = floor(x_i * 127 / max_abs + 0.5)
# (round-half-up on exact IEEE doubles — both engines agree bit-for-bit
# because the expression tree is identical and association is explicit).
# Error metrics come back from the dequantized vector via sequential
# folds.
# --------------------------------------------------------------------------
def _sql_q(i: str) -> str:
    return f"floor((CAST(embedding[{i}] AS DOUBLE) * 127.0) / m + 0.5)"


@register(
    "embedding_int8_quant",
    oracle=f"""
    SELECT vec_id,
           {sql_micros("m")} AS max_abs_e6,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, 65),
                   i_ -> CASE WHEN abs({_sql_q('i_')}) >= 127 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
               (a_, b_) -> a_ + b_) AS BIGINT) AS n_saturated,
           CAST(floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, 65),
                   i_ -> (CAST(embedding[i_] AS DOUBLE) - ({_sql_q('i_')} * m) / 127.0)
                       * (CAST(embedding[i_] AS DOUBLE) - ({_sql_q('i_')} * m) / 127.0))),
               (a_, b_) -> a_ + b_) * 1000000000.0 + 0.5) AS BIGINT) AS sse_e9
    FROM (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding, x_ -> abs(CAST(x_ AS DOUBLE)))) AS m
        FROM embeddings
    )
    WHERE m > 0
    """,
    doc="symmetric per-vector int8 quantization: scale, saturation "
    "count, reconstruction SSE — the ANN storage path's compression stage",
)
def embedding_int8_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    m = F.array_max(F.transform(v, lambda x: F.abs(x)))
    base = emb.select("vec_id", v.alias("v"), m.alias("m")).filter(F.col("m") > 0)

    def q(x):  # noqa: ANN001 — Column-in, Column-out
        return F.floor((x * F.lit(127.0)) / F.col("m") + F.lit(0.5))

    n_sat = F.aggregate(
        F.col("v"),
        F.lit(0).cast("long"),
        lambda a, x: a
        + F.when(F.abs(q(x)) >= 127, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )
    err = lambda x: x - (q(x) * F.col("m")) / F.lit(127.0)  # noqa: E731
    sse = F.aggregate(
        F.col("v"), F.lit(0.0), lambda a, x: a + err(x) * err(x)
    )
    return base.select(
        "vec_id",
        F.expr(ss_micros("m")).alias("max_abs_e6"),
        n_sat.alias("n_saturated"),
        F.floor(sse * F.lit(1000000000.0) + F.lit(0.5)).cast("long").alias("sse_e9"),
    )


# --------------------------------------------------------------------------
# Benchmark decontamination: flag corpus docs sharing n-gram shingles
# with a held-out evaluation set (the standard pretraining hygiene step;
# e.g. GPT-3's 13-gram dedup against benchmarks, Brown et al. 2020
# §App. C — here 3-gram to match the dedup family's shingle width on the
# short synthetic docs). The benchmark gram set is tiny by nature →
# broadcast equi-join against exploded corpus grams: linear, no O(n·m).
# --------------------------------------------------------------------------
CONTAM_N = 3
BENCH_DOCS = 5  # doc_id < 5 stand in for the held-out benchmark


def contamination_hits(
    docs: DataFrame,
    bench_docs: DataFrame,
    n: int = CONTAM_N,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_contaminated_grams) for corpus docs sharing any n-gram
    with the benchmark set."""
    from algorithmproject_spark_spark.functions.hashing import (
        ss_bind,
        ss_gram_hash_array,
        ss_token_hash_array,
    )

    def grams(df: DataFrame) -> DataFrame:
        # one-parse text twin (r12): token fold bound once, same grams
        g = F.expr(
            ss_bind(
                ss_token_hash_array(f"split({text_col}, ' ')"),
                "th_",
                f"array_distinct({ss_gram_hash_array('th_', n)})",
            )
        )
        return df.select(id_col, F.explode(g).alias("gh"))

    bench = grams(bench_docs).select("gh").distinct()
    return (
        grams(docs)
        .join(F.broadcast(bench), "gh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )


def _sql_contam_grams() -> str:
    from algorithmproject_spark_spark.functions.hashing import (
        sql_gram_hash_array,
        sql_token_hash_array,
    )

    g = sql_gram_hash_array(
        sql_token_hash_array("string_split(text, ' ')"), CONTAM_N
    )
    return f"SELECT doc_id, list_distinct({g}) AS gh FROM documents"


@register(
    "doc_benchmark_contamination",
    oracle=f"""
    WITH g AS ({_sql_contam_grams()}),
    bench AS (SELECT DISTINCT unnest(gh) AS gh FROM g WHERE doc_id < {BENCH_DOCS}),
    corpus AS (SELECT doc_id, unnest(gh) AS gh FROM g WHERE doc_id >= {BENCH_DOCS})
    SELECT doc_id, count(*) AS n_contaminated_grams
    FROM corpus JOIN bench USING (gh)
    GROUP BY doc_id
    """,
    doc="benchmark decontamination: corpus docs sharing 3-gram shingles "
    "with the held-out set (broadcast gram join, linear)",
)
def doc_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return contamination_hits(
        docs.filter(F.col("doc_id") >= BENCH_DOCS),
        docs.filter(F.col("doc_id") < BENCH_DOCS),
    )


# --------------------------------------------------------------------------
# PII masking: regexp_replace chains for emails / IPv4 / long digit runs
# (phone-ish). Pure Catalyst — codegen'd, map-only. The corpus is clean
# synthetic prose, so the query first derives a PII-bearing rendering
# from real columns (same technique as candidate_phrase_mining), then
# masks it; both derivation and mask are oracle-replayed. Patterns stay
# in the Java∩RE2 regex subset so Spark and DuckDB agree.
# --------------------------------------------------------------------------
PII_EMAIL = "[a-z0-9]+@[a-z0-9]+[.][a-z]+"
PII_IPV4 = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
PII_DIGITS = "[0-9]{7,}"


def mask_pii(col: F.Column) -> F.Column:
    """Email → <EMAIL>, IPv4 → <IP>, 7+ digit runs → <NUM> (order
    matters: IPs before digit runs so octets don't half-match)."""
    c = F.regexp_replace(col, PII_EMAIL, "<EMAIL>")
    c = F.regexp_replace(c, PII_IPV4, "<IP>")
    return F.regexp_replace(c, PII_DIGITS, "<NUM>")


@register(
    "doc_pii_masked",
    oracle=f"""
    WITH rendered AS (
        SELECT doc_id,
               'contact ' || source || '@example.com from 10.0.' ||
               CAST(doc_id % 256 AS VARCHAR) || '.7 ref ' ||
               CAST(1000000 + doc_id * 137 AS VARCHAR) || ': ' || text AS raw
        FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(raw,
               '{PII_EMAIL}', '<EMAIL>', 'g'),
               '{PII_IPV4}', '<IP>', 'g'),
               '{PII_DIGITS}', '<NUM>', 'g') AS masked,
           len(regexp_extract_all(raw, '{PII_EMAIL}')) AS n_emails,
           len(regexp_extract_all(raw, '{PII_IPV4}')) AS n_ips
    FROM rendered
    """,
    doc="PII masking: email/IPv4/digit-run scrubbing as codegen'd "
    "regexp_replace chains (map-only), with per-doc redaction counts",
)
def doc_pii_masked(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("contact "), F.col("source"), F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"), F.lit(".7 ref "),
        (F.lit(1000000) + F.col("doc_id") * 137).cast("string"),
        F.lit(": "), F.col("text"),
    )
    rendered = docs.select("doc_id", raw.alias("raw"))
    return rendered.select(
        "doc_id",
        mask_pii(F.col("raw")).alias("masked"),
        F.size(F.regexp_extract_all("raw", F.lit(PII_EMAIL), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all("raw", F.lit(PII_IPV4), F.lit(0))).alias("n_ips"),
    )


from algorithmproject_spark_spark.functions.vectors import (  # noqa: E402
    sql_dot,
    sql_norm,
    sql_to_double,
    ss_norm,
    ss_to_double,
)
from algorithmproject_spark_spark.operators.annivf import (  # noqa: E402
    K_CELLS,
    ss_cell,
    sql_cell,
)

# --------------------------------------------------------------------------
# Chunk-level boilerplate dedup (CCNet/RefinedWeb line-dedup generalized:
# Wenzek et al. 2019 dedup paragraphs by hash; the unit here is a fixed
# W-token chunk since the synthetic corpus has no newlines). Any chunk
# whose corpus document-frequency reaches CHUNK_BOILER_DF is boilerplate
# (headers, navigation, repeated disclaimers at web scale) and is removed
# from every document; per-doc text is reassembled in chunk order.
#
# Scale shape: tokenize+chunk is map-only; the df count is one shuffle on
# the chunk string with map-side partial aggregation; the removal is an
# equi-join on chunk (NOT a broadcast — the boilerplate set at 100 TB is
# itself large). Reassembly groups by doc_id with a bounded per-doc
# buffer. Nothing is quadratic, nothing collects. At 100 TB, key the df
# count and the join on xxhash64(chunk) instead of the raw string
# (8-byte shuffle keys; ~n²/2⁶⁵ false-boilerplate odds) — the oracle
# keeps the string key because DuckDB has no xxhash64 twin.
# --------------------------------------------------------------------------
CHUNK_W = 8  # tokens per chunk
CHUNK_BOILER_DF = 2  # distinct-doc frequency at which a chunk is boilerplate


@register(
    "doc_chunk_dedup",
    oracle=f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    chunks AS MATERIALIZED (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               array_to_string(w[(i*{CHUNK_W}+1):((i+1)*{CHUNK_W})], ' ') AS chunk
        FROM toks, unnest(range(0, greatest(
            CAST(ceil(len(w) / {CHUNK_W}.0) AS BIGINT), 1))) AS t(i)
    ),
    boiler AS (
        SELECT chunk FROM chunks
        GROUP BY chunk HAVING count(DISTINCT doc_id) >= {CHUNK_BOILER_DF}
    )
    SELECT c.doc_id,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN b.chunk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           COALESCE(string_agg(c.chunk, ' ' ORDER BY c.pos)
                    FILTER (WHERE b.chunk IS NULL), '') AS clean_text
    FROM chunks c LEFT JOIN boiler b ON c.chunk = b.chunk
    GROUP BY c.doc_id
    """,
    doc="chunk-level boilerplate dedup (CCNet-style paragraph dedup over "
    "fixed 8-token chunks): corpus df count, boilerplate equi-join, "
    "order-preserving reassembly in ONE grouped pass over the cached "
    "chunk relation — one shuffle + one equi-join, linear at any scale",
)
def doc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_dedup(load_table(spark, sf_dir, "documents"))


def chunk_dedup(
    docs: DataFrame, chunk_w: int = CHUNK_W, boiler_df: int = CHUNK_BOILER_DF
) -> DataFrame:
    """(doc_id, text) → (doc_id, n_chunks, n_kept, clean_text) with
    corpus-frequent chunks removed; see the register() docstring."""
    # The token array is bound through a 1-element transform lambda so the
    # split runs once per row, not once per chunk reference; the slice
    # pass and the concat pass are separate transforms (measured 5×
    # cheaper than concat-inside-slice-lambda at sf0.1). greatest(…, 1)
    # gives an empty doc one '' chunk on both engines — sequence(0,-1)
    # would be DESCENDING in Spark, not empty.
    slices = F.element_at(
        F.transform(
            F.array(tokenize("text")),
            lambda w: F.transform(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.greatest(
                        F.ceil(F.size(w) / F.lit(float(chunk_w))).cast("long"),
                        F.lit(1).cast("long"),
                    )
                    - 1,
                ),
                lambda i: F.slice(w, (i * chunk_w + 1).cast("int"), chunk_w),
            ),
        ),
        1,
    )
    chunks = docs.select(
        "doc_id",
        F.posexplode(F.transform(slices, lambda s: F.concat_ws(" ", s))).alias(
            "pos", "chunk"
        ),
    )
    chunks = tracked_cache(chunks)  # referenced by the df count AND the marked join
    boiler = (
        chunks.groupBy("chunk")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= boiler_df)
        .select("chunk")
    )
    marked = chunks.join(boiler.withColumn("__b", F.lit(1)), "chunk", "left")
    keep = F.when(F.col("__b").isNull(), F.lit(1)).otherwise(F.lit(0))
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(keep).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "chunk", keep.alias("keep")))
                    ),
                    lambda s: s["keep"] == 1,
                ),
                lambda s: s["chunk"],
            ),
        ).alias("clean_text"),
    )


# --------------------------------------------------------------------------
# Semantic dedup (SemDeDup, Abbas et al. 2023): cluster embeddings with
# the IVF coarse quantizer, then inside each cluster drop every vector
# that has a higher-priority (here: smaller vec_id) neighbor above a
# cosine threshold — removing semantically redundant documents that
# lexical MinHash/SimHash cannot see.
#
# Scale shape: the pair generation is a self-equi-join ON THE CELL KEY —
# never all-pairs. In production the number of cells grows with the
# corpus (n_cells ~ n / target_cell_size, exactly K in the SemDeDup
# paper), so per-cell work is bounded and the join output is
# O(n * cell_size). The greedy smaller-id survivor rule is deterministic
# and engine-portable (true SemDeDup keeps one per cluster-component;
# the greedy rule over-drops chains identically in both engines).
# --------------------------------------------------------------------------
SEMDEDUP_COS_E6 = 430_000  # cosine threshold in micros (demo-scaled; prod ~0.95+)

# Oversized-cell split: a cell larger than this is refined into
# ceil(size / CAP) sub-cells by a quantized-residual parity code, so the within-cell
# pair join is bounded per GROUP regardless of how skewed the embedding
# distribution is w.r.t. the coarse centroids (cells_for bounds the
# AVERAGE cell, not the max). 512 keeps the split inactive at sf0.1
# (cells ~250) and engaged at sf1 (cells ~2500 -> ~5 sub-cells each);
# comparisons across sub-cells are skipped — the same
# cluster-restricted approximation SemDeDup already makes, one level
# deeper, and the oracle mirrors the identical split so the drop set
# stays bit-exact cross-engine. Residual: a mass of IDENTICAL vectors
# shares every content-derived code and cannot be split without
# changing semantics — exact-duplicate removal (hash-groupBy dedup)
# is the operator for that mass and runs first in a real pipeline.
SEMDEDUP_CELL_CAP = 512
_CODE_BITS = 8     # sub-code bits (dims 1..8) -> codes 0..255
_CODE_SCALE = 1024  # residual quantization step = 1/1024 per dim


def _ss_residual_code(we: str, bits: int = _CODE_BITS) -> str:
    """Quantized-residual code of a double-array column: bit d is
    the parity of floor(we[d] * 1024). Unlike an axis-SIGN code, the
    parity of the fine-grained quantization varies even inside a tight
    cluster (any per-dim spread over ~1/1024 flips bits), which is
    exactly the regime the oversized-cell split must break up.
    Engine-portable: IEEE double multiply + floor + % are bit-identical
    in Spark and DuckDB (both % truncate toward zero; the +2)%2 fold
    maps negative parities into {0,1})."""
    terms = " + ".join(
        f"(((CAST(floor(element_at({we}, {d + 1}) * {_CODE_SCALE}.0D) "
        f"AS BIGINT) % 2) + 2) % 2) * {1 << d}"
        for d in range(bits)
    )
    return f"CAST(0 + {terms} AS BIGINT)"


def _sql_residual_code(we: str, bits: int = _CODE_BITS) -> str:
    terms = " + ".join(
        f"(((CAST(floor({we}[{d + 1}] * {_CODE_SCALE}) AS BIGINT) % 2) + 2) % 2)"
        f" * {1 << d}"
        for d in range(bits)
    )
    return f"CAST({terms} AS BIGINT)"


def semdedup_subcells(
    cn: DataFrame, cell_cap: int, code_bits: int = _CODE_BITS
) -> DataFrame:
    """Attach the oversized-cell ``subcell`` id: quantized-residual
    parity code modulo ceil(cell_size / cell_cap). Cells at or under the cap collapse to
    subcell 0 (code % 1) — the split is a no-op until needed. The
    cell-size relation is cell-count-sized, so it broadcasts.

    ``code_bits`` bounds the maximum split factor at 2**code_bits:
    past that the modulo saturates and group sizes grow to
    cell_size / 2**code_bits instead of cell_cap. Callers whose
    cell_size/cell_cap ratio can exceed 256 (e.g. knn_label_noise's
    tight cap) pass a wider code; needs DIM >= code_bits."""
    sizes = cn.groupBy("cell").agg(F.expr("count(1) AS __c"))
    return (
        cn.join(F.broadcast(sizes), "cell")
        .withColumn(
            "subcell",
            F.expr(
                f"({_ss_residual_code('we', code_bits)})"
                f" % ((__c + {cell_cap - 1}) div {cell_cap})"
            ),
        )
        .drop("__c")
    )


_SEMDEDUP_GRAM_BLOCK = 1024


def _semdedup_drop_ids(pdf):
    """Within-group drop set via a blocked exact gram matrix — the
    Arrow-vectorized twin of the pair-join + per-pair fold form.

    Bit-exactness with the DuckDB oracle's sequential fold: the
    accumulation is DIM-sequential (one ``acc += outer(X[:, d], X[:, d])``
    per dimension), so every pair's dot product performs the identical
    IEEE add/multiply sequence as ``F.aggregate(zip_with(...))`` /
    ``list_reduce`` — vectorized across PAIRS, ordered across DIMS.
    The cosine micros conversion mirrors functions/numeric.ss_micros
    exactly: floor(dot / (na*nb) * 1e6 + 0.5).

    Blocked rows bound peak memory at BLOCK x n even for the one group
    shape the residual-parity split cannot break (a mass of IDENTICAL
    vectors shares every content-derived code; exact-dup removal is the
    operator for that mass and runs first in a real pipeline)."""
    import numpy as np
    import pandas as pd

    n = len(pdf)
    if n < 2:
        return pd.DataFrame({"vec_id": np.empty(0, dtype="int64")})
    ids = pdf["vec_id"].to_numpy().astype("int64")
    X = np.stack(pdf["we"].to_numpy())
    nrm = pdf["nrm"].to_numpy()
    dropped = np.zeros(n, dtype=bool)
    for lo in range(0, n, _SEMDEDUP_GRAM_BLOCK):
        hi = min(lo + _SEMDEDUP_GRAM_BLOCK, n)
        acc = np.zeros((hi - lo, n))
        for d in range(X.shape[1]):
            acc += np.multiply.outer(X[lo:hi, d], X[:, d])
        cos_e6 = np.floor(
            acc / np.multiply.outer(nrm[lo:hi], nrm) * 1000000.0 + 0.5
        )
        hit = (cos_e6 >= SEMDEDUP_COS_E6) & (ids[lo:hi, None] < ids[None, :])
        dropped |= hit.any(axis=0)
    return pd.DataFrame({"vec_id": ids[dropped]})


@register(
    "embedding_semantic_dedup",
    plan=("arrow",),
    oracle=f"""
    WITH cn AS MATERIALIZED (
        SELECT vec_id, {sql_cell('embedding')} AS cell,
               {sql_to_double('embedding')} AS we,
               {sql_norm('embedding')} AS nrm
        FROM embeddings
    ),
    sz AS (
        SELECT cell, CAST(count(*) AS BIGINT) AS c FROM cn GROUP BY cell
    ),
    cs AS MATERIALIZED (
        SELECT cn.vec_id, cn.cell, cn.we, cn.nrm,
               {_sql_residual_code('cn.we')}
                   % ((sz.c + {SEMDEDUP_CELL_CAP - 1}) // {SEMDEDUP_CELL_CAP})
                   AS subcell
        FROM cn JOIN sz USING (cell)
    ),
    dropped AS (
        SELECT DISTINCT b.vec_id
        FROM cs a JOIN cs b
          ON a.cell = b.cell AND a.subcell = b.subcell
         AND a.vec_id < b.vec_id
        WHERE {sql_micros(f"({sql_dot('a.we', 'b.we')}) / (a.nrm * b.nrm)")}
              >= {SEMDEDUP_COS_E6}
    )
    SELECT cn.vec_id, cn.cell,
           CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS kept
    FROM cn LEFT JOIN dropped d ON cn.vec_id = d.vec_id
    """,
    doc="SemDeDup: IVF-cell clustering + within-cell cosine threshold, "
    "greedy smaller-id survivor — cell equi-join (never all-pairs); "
    "oversized cells split into ceil(size/512) residual-parity sub-cells so "
    "per-group pair work stays bounded under embedding skew; "
    "per-vector norms precomputed once (cosine = dot/(na*nb) is the "
    "identical fold either way), integer-micros threshold so the drop "
    "set is bit-exact cross-engine",
)
def embedding_semantic_dedup(
    spark: SparkSession,
    sf_dir: str,
    n_cells: int | None = None,
    cell_cap: int = SEMDEDUP_CELL_CAP,
) -> DataFrame:
    # n_cells=cells_for(catalog_rowcount) is the production path (cell
    # sizes stay bounded as the corpus grows — see annivf.cells_for);
    # the registered query leaves it None -> pinned K_CELLS so the
    # static oracle's centroid set matches. cell_cap bounds the pair
    # join per (cell, subcell) group even when the coarse quantizer
    # is skewed.
    emb = load_table(spark, sf_dir, "embeddings")
    k = n_cells or K_CELLS
    cn = (
        emb.select(
            "vec_id",
            F.expr(ss_cell("embedding", k)).alias("cell"),
            F.expr(ss_to_double("embedding")).alias("we"),
        )
        .withColumn("nrm", F.expr(ss_norm("we")))
    )
    cn = tracked_cache(cn)  # encode+norm once: the group input and the output
    cs = semdedup_subcells(cn, cell_cap)
    # Within-group pairs never exist as Spark rows: ONE shuffle of the
    # O(n) vector relation to (cell, subcell) groups, then the blocked
    # exact gram inside an Arrow kernel. The former pair-join form
    # generated and expression-evaluated cap·n rows with an interpreted
    # 64-element fold per pair — 38 s solo at sf1 vs ~4 s for this plan
    # (round-9 measurement), identical drop set (the kernel replays the
    # fold's IEEE operation sequence; oracle SQL unchanged). A PQ-ADC
    # prefilter was considered and rejected: dedup is a THRESHOLD query
    # — the prefilter must keep every pair above the threshold, and
    # with the seeded random codebooks the sound Cauchy-Schwarz
    # residual bound admits essentially everything (the ranking trick
    # that works for knn_label_noise's top-k has no lossless analogue
    # here).
    dropped = (
        cs.select("vec_id", "we", "nrm", "cell", "subcell")
        .groupBy("cell", "subcell")
        .applyInPandas(_semdedup_drop_ids, schema="vec_id long")
    )
    # no distinct needed: the kernel emits each id at most once and a
    # vector lives in exactly one (cell, subcell) group
    return cn.join(dropped.withColumn("__d", F.lit(1)), "vec_id", "left").select(
        "vec_id",
        "cell",
        F.when(F.col("__d").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("kept"),
    )


# ---------------------------------------------------------------------------
# Deterministic corpus shard + shuffle: the "global shuffle" step of a
# training-data build. Epoch-order randomization must be reproducible
# (resume a crashed run, audit which shard held a document) and must
# never be a global sort of 100 TB: assign shard = hash(key) mod S, and
# order WITHIN each shard by an independent second hash — one shuffle
# partitioned by shard, each window sorts ~N/S rows, no global ordering
# stage. The reference's corpora are emitted in arbitrary scan order
# (nlp/PrepData.scala writes whatever the RDD yields); this operator is
# the scale-correct replacement.
# ---------------------------------------------------------------------------

_SHARDS = 16
_ORD_MULT = 2246822519  # independent of hash_mod's multiplier


@register(
    "corpus_shard_shuffle",
    oracle=f"""
    SELECT doc_id,
           {sql_hash_mod('doc_id', _SHARDS)} AS shard,
           CAST(row_number() OVER (
               PARTITION BY {sql_hash_mod('doc_id', _SHARDS)}
               ORDER BY ((doc_id % 999983) * {_ORD_MULT}) % 1000000007, doc_id
           ) AS BIGINT) AS pos
    FROM documents
    """,
    doc="deterministic training shuffle: shard = hash-mod(key), position "
    "= rank of an independent second hash within the shard — reproducible "
    "epoch order with one shard-keyed shuffle, never a global sort",
)
def corpus_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    shard = F.expr(ss_hash_mod("doc_id", _SHARDS))
    ordkey = ((F.col("doc_id") % F.lit(999983)) * F.lit(_ORD_MULT)) % F.lit(1000000007)
    w = W.partitionBy(shard).orderBy(ordkey, "doc_id")
    return docs.select(
        "doc_id",
        shard.alias("shard"),
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


# --------------------------------------------------------------------------
# Deterministic weighted sampling + mixture sampling — the data-mixing
# half of a training pipeline: pick documents with probability ∝ a
# per-row weight (quality/length), and compose a corpus from per-source
# quotas. Both engine-portable: priorities are integer rationals
# (hash·SCALE div weight), never float pow/log, so Spark and DuckDB
# rank identically and a re-run on different partitioning returns the
# same sample — the property sample() and rand() cannot give.
# --------------------------------------------------------------------------
WSAMPLE_K = 100
WSAMPLE_SCALE = 1_000_000


@register(
    "weighted_sample_topk",
    oracle=f"""
    SELECT doc_id, n_chars,
           CAST(({sql_hash_mod('doc_id', 1000003)} * {WSAMPLE_SCALE}) // n_chars AS BIGINT)
               AS priority
    FROM documents
    ORDER BY priority, doc_id
    LIMIT {WSAMPLE_K}
    """,
    doc="Deterministic weighted sampling (probability ∝ n_chars): "
    "priority = hash(doc)·SCALE div weight, take the k smallest — the "
    "integer-rational analogue of the A-ES exponential-clock sampler. "
    "Longer documents get proportionally smaller priorities, the "
    "ranking is exact in both engines, and the k-limit compiles to "
    "TakeOrderedAndProject (per-partition heaps, no global sort)",
)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from algorithmproject_spark_spark.functions.numeric import sql_hash_mod as _shm

    docs = load_table(spark, sf_dir, "documents")
    # SQL `div` (exact integer division; PySpark Columns have no
    # integer-div operator, and floor(a/b) rounds through a double)
    priority = F.expr(
        f"CAST(({_shm('doc_id', 1000003)}) * {WSAMPLE_SCALE}"
        f" div n_chars AS BIGINT)"
    )
    return (
        docs.select("doc_id", "n_chars", priority.alias("priority"))
        .orderBy("priority", "doc_id")
        .limit(WSAMPLE_K)
    )


# Per-source quotas: heads get more, the rest a long-tail allowance —
# the literal mixture recipe a training run pins in its config.
MIXTURE_QUOTAS = {"src0": 15, "src1": 12, "src2": 10, "src3": 8}
MIXTURE_DEFAULT_QUOTA = 4


@register(
    "corpus_mixture_sample",
    oracle=f"""
    WITH quota AS (
        SELECT * FROM (VALUES {", ".join(f"('{s}', {q})" for s, q in MIXTURE_QUOTAS.items())}) AS q(source, quota)
    ),
    ranked AS (
        SELECT d.source, d.doc_id,
               coalesce(q.quota, {MIXTURE_DEFAULT_QUOTA}) AS quota,
               row_number() OVER (
                   PARTITION BY d.source
                   ORDER BY {sql_hash_mod('d.doc_id', 1000003)}, d.doc_id
               ) AS rn
        FROM documents d LEFT JOIN quota q ON q.source = d.source
    )
    SELECT source, count(*) AS n_sampled,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM ranked WHERE rn <= quota
    GROUP BY source
    """,
    doc="Corpus mixture sampling: each source contributes its quota of "
    "documents (heads oversampled, long tail capped), members chosen "
    "by deterministic hash order so the mixture is reproducible "
    "across runs, partitionings, and engines. One per-source window "
    "+ one broadcast quota join; the output checksums the sampled id "
    "set per source so the oracle verifies membership, not just "
    "counts",
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    quota = F.create_map(
        *[F.lit(x) for kv in MIXTURE_QUOTAS.items() for x in kv]
    )
    w = W.partitionBy("source").orderBy(
        F.expr(ss_hash_mod("doc_id", 1000003)), F.col("doc_id")
    )
    return (
        docs.select(
            "source",
            "doc_id",
            F.coalesce(quota[F.col("source")], F.lit(MIXTURE_DEFAULT_QUOTA)).alias(
                "quota"
            ),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= F.col("quota"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("doc_id").alias("id_checksum"),
        )
    )


SPLIT_MOD = 100  # permille-free: hash buckets 0..99
SPLIT_TRAIN_LT = 80  # [0,80) train
SPLIT_VAL_LT = 90    # [80,90) val, [90,100) test


@register(
    "corpus_train_val_test_split",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, lang,
               CASE WHEN {sql_hash_mod('doc_id', SPLIT_MOD)} < {SPLIT_TRAIN_LT}
                    THEN 'train'
                    WHEN {sql_hash_mod('doc_id', SPLIT_MOD)} < {SPLIT_VAL_LT}
                    THEN 'val' ELSE 'test' END AS split
        FROM documents
    )
    SELECT split, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM s GROUP BY split, lang
    """,
    doc="Deterministic stratified train/val/test split (80/10/10 by "
    "multiplicative doc_id hash — stable under re-runs, "
    "repartitioning, and engine changes, disjoint and exhaustive by "
    "construction); per-(split, lang) counts + id checksums certify "
    "the partition",
)
def corpus_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(ss_hash_mod("doc_id", SPLIT_MOD))
    split = (
        F.when(bucket < SPLIT_TRAIN_LT, F.lit("train"))
        .when(bucket < SPLIT_VAL_LT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select(split.alias("split"), "lang", "doc_id")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("id_checksum"),
        )
    )


# --------------------------------------------------------------------------
# Split leakage audit: near-duplicate pairs that straddle the
# train/val/test split. The reason dedup must run BEFORE splitting —
# a test doc whose near-dup sits in train inflates eval (Lee et al.
# 2022 measured the effect; every serious pipeline audits it). This
# composes the verified near-dup pair relation with the deterministic
# hash split: one broadcast-sized join per side (pairs are ~dup-rate ×
# corpus), counts per canonicalized split combination.
# --------------------------------------------------------------------------
@register(
    "split_leakage_audit",
    oracle=None,  # installed below (needs dedup's pair CTE)
    doc=(
        "near-dup split leakage audit: verified near-dup pairs whose "
        "endpoints land in different train/val/test splits, counted "
        "per canonical (split_lo, split_hi) combination with a "
        "cross-split flag — the eval-contamination check run before "
        "freezing a split; composes the cached verified-pair relation "
        "with the deterministic hash split (two equi-joins on doc_id)"
    ),
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from algorithmproject_spark_spark.queries.dedup import (
        jaccard_pairs_above,
    )

    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(ss_hash_mod("doc_id", SPLIT_MOD))
    split = (
        F.when(bucket < SPLIT_TRAIN_LT, F.lit("train"))
        .when(bucket < SPLIT_VAL_LT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    s = docs.select("doc_id", split.alias("split"))
    pairs = jaccard_pairs_above(spark, sf_dir).select("doc_a", "doc_b")
    tagged = (
        pairs.join(
            s.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")),
            "doc_a",
        )
        .join(
            s.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")),
            "doc_b",
        )
    )
    return (
        tagged.groupBy(
            F.least("sa", "sb").alias("split_lo"),
            F.greatest("sa", "sb").alias("split_hi"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .select(
            "split_lo",
            "split_hi",
            "n_pairs",
            (F.col("split_lo") != F.col("split_hi"))
            .cast("long")
            .alias("is_cross_split"),
        )
    )


def _install_split_leakage_oracle() -> None:
    from dataclasses import replace

    from algorithmproject_spark_spark.queries.dedup import sql_dup_pairs_cte
    from algorithmproject_spark_spark.registry import REGISTRY as _REG

    oracle = f"""
    WITH {sql_dup_pairs_cte()},
    sl_split AS (
        SELECT doc_id,
               CASE WHEN {sql_hash_mod('doc_id', SPLIT_MOD)} < {SPLIT_TRAIN_LT}
                    THEN 'train'
                    WHEN {sql_hash_mod('doc_id', SPLIT_MOD)} < {SPLIT_VAL_LT}
                    THEN 'val' ELSE 'test' END AS split
        FROM documents
    ),
    sl_tagged AS (
        SELECT least(a.split, b.split) AS split_lo,
               greatest(a.split, b.split) AS split_hi
        FROM dup_pairs p
        JOIN sl_split a ON p.doc_a = a.doc_id
        JOIN sl_split b ON p.doc_b = b.doc_id
    )
    SELECT split_lo, split_hi,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(CASE WHEN split_lo <> split_hi THEN 1 ELSE 0 END AS BIGINT)
               AS is_cross_split
    FROM sl_tagged GROUP BY split_lo, split_hi
    """
    _REG["split_leakage_audit"] = replace(
        _REG["split_leakage_audit"], oracle=oracle
    )


_install_split_leakage_oracle()
