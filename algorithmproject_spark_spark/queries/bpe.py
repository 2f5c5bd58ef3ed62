"""BPE merge induction — learning byte-pair-encoding merges from the
corpus, fully relationally, oracle-exact.

Tokenizer training is the canonical "needs a framework" job; this
shows the merge-learning loop is plain DataFrame algebra. Each round:

1. count adjacent token pairs corpus-wide (explode + groupBy — one
   keyed shuffle, partial-aggregated map-side),
2. pick the most frequent pair (count desc, then lexicographic — a
   broadcast 1-row aggregate, not a driver-side collect),
3. merge every occurrence corpus-wide with an index-aware array
   transform (codegen'd HOF, zero shuffle).

The merge is restricted to pairs with a ≠ b, which makes left-to-right
non-overlapping BPE merging PURELY RELATIONAL: matches at i and i+1
would need t[i+1] = a = b, so for a ≠ b no two matches overlap and
every position can decide locally from (t[i-1], t[i], t[i+1]) — no
sequential scan, no UDF. (Equal-pair merges "a a" need greedy
left-to-right state; production tokenizers hit them rarely and a
per-row Arrow kernel would cover that corner.)

Round count is FIXED (R=4) so the DuckDB oracle unrolls one CTE block
per round — the same pattern as connected components / LPA / fixed-
point PageRank. ``localCheckpoint`` per round cuts the exponential
lineage nesting (each round references the previous corpus twice: the
pair counts and the merge).

Scale: per round one O(tokens) shuffle of tab-joined pair strings +
one map-only merge pass; the learned state that crosses rounds is ONE
row. At 100 TB this is exactly the Spark job you would run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.cacheutil import tracked_local_checkpoint

from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

BPE_ROUNDS = 4


def _pair_best(tok: DataFrame) -> DataFrame:
    """1-row frame (a, b, c): most frequent adjacent pair with a != b,
    ties broken lexicographically."""
    pairs = (
        tok.filter(F.size("t") >= 2)  # sequence(1, 0) would DESCEND
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "i -> struct(element_at(t, i) AS a, element_at(t, i + 1) AS b))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
    )
    return (
        pairs.filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "a", "b")
        .limit(1)
    )


def _merge_round(tok: DataFrame, best: DataFrame) -> DataFrame:
    """Merge every (a, b) adjacency in one index-aware transform; the
    pair arrives as broadcast columns, so the plan stays data-driven."""
    # try_element_at: ANSI element_at raises on the out-of-range i+1 /
    # i-1 probes at the array ends (AND does not short-circuit in SQL)
    merged = F.expr(
        """
        filter(
            transform(sequence(1, size(t)), i ->
                CASE
                    WHEN i < size(t) AND element_at(t, i) = a
                         AND try_element_at(t, i + 1) = b
                        THEN concat(a, '_', b)
                    WHEN i > 1 AND try_element_at(t, i - 1) = a
                         AND element_at(t, i) = b
                        THEN NULL
                    ELSE element_at(t, i)
                END),
            x -> x IS NOT NULL)
        """
    )
    return tok.crossJoin(F.broadcast(best)).select(
        "doc_id", merged.alias("t")
    )


def bpe_learn_merges(
    docs: DataFrame, rounds: int = BPE_ROUNDS
) -> DataFrame:
    """(round, a, b, c): the learned merge table after `rounds`."""
    tok = docs.select("doc_id", F.split("text", " ").alias("t"))
    out = None
    for r in range(1, rounds + 1):
        best = _pair_best(tok).transform(tracked_local_checkpoint)
        row = best.select(
            F.lit(r).alias("round"), "a", "b", F.col("c").cast("long").alias("c")
        )
        out = row if out is None else out.unionAll(row)
        if r < rounds:
            # the merged corpus's blocks are written inside the next
            # round's pair-count job, with no job of their own: the
            # build runs 7 Spark jobs for its 7 checkpoints at sf0.1
            tok = _merge_round(tok, best).transform(tracked_local_checkpoint)
    return out


def _sql_round(r: int) -> str:
    """DuckDB twin of one round: pair counts + best + merged corpus."""
    return f"""pair{r} AS (
        SELECT split_part(p, chr(9), 1) AS a,
               split_part(p, chr(9), 2) AS b,
               count(*) AS c
        FROM (
            SELECT unnest(list_transform(
                range(1, greatest(len(t), 1)),
                i -> t[i] || chr(9) || t[i + 1])) AS p
            FROM tok{r - 1}
        )
        WHERE p IS NOT NULL
          AND split_part(p, chr(9), 1) <> split_part(p, chr(9), 2)
        GROUP BY 1, 2
    ),
    best{r} AS (SELECT a, b, c FROM pair{r} ORDER BY c DESC, a, b LIMIT 1),
    tok{r} AS (
        SELECT doc_id, list_filter(list_transform(
            range(1, len(t) + 1),
            i -> CASE
                WHEN i < len(t) AND t[i] = best{r}.a AND t[i + 1] = best{r}.b
                    THEN a || '_' || b
                WHEN i > 1 AND t[i - 1] = best{r}.a AND t[i] = best{r}.b
                    THEN NULL
                ELSE t[i]
            END), x -> x IS NOT NULL) AS t
        FROM tok{r - 1}, best{r}
    )"""


@register(
    "bpe_merge_induction",
    oracle=f"""
    WITH tok0 AS (
        SELECT doc_id, string_split(text, chr(32)) AS t FROM documents
    ),
    {", ".join(_sql_round(r) for r in range(1, BPE_ROUNDS + 1))}
    {" UNION ALL ".join(f"SELECT {r} AS round, a, b, CAST(c AS BIGINT) AS c FROM best{r}" for r in range(1, BPE_ROUNDS + 1))}
    """,
    doc="BPE merge induction: 4 rounds of most-frequent-adjacent-pair "
    "learning, each one keyed pair-count shuffle + a broadcast 1-row "
    "argmax + a map-only corpus-wide merge (index-aware array HOF). "
    "The a != b restriction makes left-to-right merging overlap-free "
    "and hence purely relational. DuckDB unrolls one CTE per round "
    "and the learned merge table hash-matches exactly",
)
def bpe_merge_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return bpe_learn_merges(docs)


@register(
    "bpe_encode_stats",
    oracle=f"""
    WITH tok0 AS (
        SELECT doc_id, string_split(text, chr(32)) AS t FROM documents
    ),
    {", ".join(_sql_round(r) for r in range(1, BPE_ROUNDS + 1))}
    SELECT t0.doc_id,
           CAST(len(t0.t) AS BIGINT) AS n_tokens_raw,
           CAST(len(t4.t) AS BIGINT) AS n_tokens_bpe,
           CAST(len(t0.t) - len(t4.t) AS BIGINT) AS n_merged
    FROM tok0 t0 JOIN tok{BPE_ROUNDS} t4 ON t4.doc_id = t0.doc_id
    """,
    doc="BPE encode step: apply the 4 learned merges to every document "
    "and report raw-vs-encoded token counts — the inference half of "
    "the tokenizer loop, 4 chained map-only HOF passes over the "
    "corpus (the training rounds' broadcast pairs drive the same "
    "merge expression)",
)
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok0 = docs.select("doc_id", F.split("text", " ").alias("t"))
    tok = tok0
    for _ in range(BPE_ROUNDS):
        best = _pair_best(tok).transform(tracked_local_checkpoint)
        tok = _merge_round(tok, best).transform(tracked_local_checkpoint)
    raw = tok0.select("doc_id", F.size("t").cast("long").alias("n_tokens_raw"))
    enc = tok.select("doc_id", F.size("t").cast("long").alias("n_tokens_bpe"))
    return raw.join(enc, "doc_id").select(
        "doc_id",
        "n_tokens_raw",
        "n_tokens_bpe",
        (F.col("n_tokens_raw") - F.col("n_tokens_bpe")).alias("n_merged"),
    )
