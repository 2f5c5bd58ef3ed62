"""k-NN label-noise detection over the embedding table — the
confident-learning-style curation op that flags probable mislabels.

A labeled embedding corpus (classifier training data, dedup-cluster
exemplars, retrieval gold sets) always carries label errors; the
standard scalable detector is neighborhood disagreement: a vector whose
nearest neighbors mostly carry a DIFFERENT label is a suspect (Northcutt
et al., "Confident Learning", JAIR 2021 — this is the k-NN agreement
variant, the form that needs no model probabilities).

Scale shape — SemDeDup grouping + PQ symmetric prefilter:

1. Candidates come from the vector's IVF cell REFINED by the
   oversized-cell residual-parity split, so the candidate join is an
   equi-join on (cell, subcell) whose per-group pair work is capped at
   ~KNN_CELL_CAP² regardless of corpus size or embedding skew — never
   all-pairs (the first sf1 sweep caught the unsplit form: 50k vectors
   × 8 pinned cells is ~300M candidate pairs). The cap here is 128,
   not SemDeDup's 512: a k=5 NN vote needs a ~25·k candidate pool,
   and total pair volume — the rows GENERATED and SORTED, the true
   sf1 wall-clock driver — is cap·n. A 16-bit residual code keeps the
   split factor real past the 8-bit ceiling (2^8 subcells saturates
   exactly when cells exceed 256·cap vectors, as at sf1).
2. Within a group, pairs are first scored by the PQ RECONSTRUCTED dot
   product — M_SUB literal-table lookups per pair (operators/annpq.py
   ``ss_recon_dot``) instead of a DIM-element fold — and only the top
   ``PQ_PREFILTER_C`` (= 4·k) candidates per vector by that proxy get
   the exact cosine. The exact-cosine volume drops from ~cap per
   vector to 4·k per vector (~25× here), which is what made the sf1
   run 13× the sf0.1 time before this stage (round-7 verdict hotspot).
   The oracle applies the IDENTICAL prefilter, so the result — an
   ADC-prefiltered approximate k-NN, the standard production trade —
   stays bit-exact cross-engine.

Per-vector norms are computed once and carried as scalars; cosine is
dot/(na·nb) in integer micros, ties break by neighbor id at BOTH
ranking stages, and singleton-group vectors still emit a
(0, 0, not-suspect) row via the spine left join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window as W

from algorithmproject_spark_spark.cacheutil import tracked_local_checkpoint

from algorithmproject_spark_spark.functions.numeric import sql_micros, ss_micros
from algorithmproject_spark_spark.functions.vectors import (
    sql_dot,
    sql_norm,
    sql_to_double,
    ss_dot,
    ss_norm,
    ss_to_double,
)
from algorithmproject_spark_spark.operators.annivf import (
    K_CELLS,
    ss_cell,
    sql_cell,
)
from algorithmproject_spark_spark.operators.annpq import (
    sql_pq_code_array,
    sql_recon_dot,
    ss_pq_code_array,
    ss_recon_dot,
)
from algorithmproject_spark_spark.queries.llmprep import (
    _sql_residual_code,
    semdedup_subcells,
)
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

KNN_K = 5
#: exact-cosine survivors per vector from the PQ proxy ranking — 4·k
#: keeps the true top-k with high probability (recall measured by the
#: ann_pq_recall query family) while cutting exact-fold volume ~cap/4k.
PQ_PREFILTER_C = 4 * KNN_K
#: candidate-group cap for THIS query: k-NN needs a ~25·k candidate
#: pool, not SemDeDup's 512-wide redundancy scan — pair volume (the
#: sf1 wall-clock driver: cap²·n_groups rows generated AND sorted) is
#: linear in the cap, so 128 cuts it 4× while still giving every
#: vector ~25× KNN_K candidates.
KNN_CELL_CAP = 128
#: 16-bit residual code (vs the default 8): the split factor needed at
#: a tight cap exceeds the 8-bit code's 256-subcell ceiling as soon as
#: a cell holds > 256·cap vectors (true already at sf1), which would
#: silently let group sizes grow past the cap again.
KNN_CODE_BITS = 16


def _sql_prefilter_prefix(nid: str, nlabel: str, keep: str, pre_c: int) -> str:
    """DuckDB twin of ``_prefiltered_exact_pairs``: the shared
    cn/sz/cs/cand/pre CTE prefix (ends without a trailing comma — embed
    as ``WITH {prefix}, <query-specific CTEs...>``). ``nid``/``nlabel``
    name the b-side columns, ``keep`` is the pair-admission predicate,
    ``pre_c`` the proxy-survivor width. One definition keeps the two
    registered oracles in lockstep with the Python helper — a cap/code
    change edits exactly one SQL block."""
    return f"""cn AS MATERIALIZED (
        SELECT vec_id, label, {sql_cell('embedding')} AS cell,
               {sql_to_double('embedding')} AS we,
               {sql_norm('embedding')} AS nrm,
               {sql_pq_code_array('embedding')} AS codes
        FROM embeddings
    ),
    sz AS (
        SELECT cell, CAST(count(*) AS BIGINT) AS c FROM cn GROUP BY cell
    ),
    cs AS MATERIALIZED (
        SELECT cn.vec_id, cn.label, cn.cell, cn.nrm, cn.codes,
               {_sql_residual_code('cn.we', KNN_CODE_BITS)}
                   % ((sz.c + {KNN_CELL_CAP - 1}) // {KNN_CELL_CAP})
                   AS subcell
        FROM cn JOIN sz USING (cell)
    ),
    cand AS (
        SELECT a.vec_id, a.label, b.vec_id AS {nid}, b.label AS {nlabel},
               a.nrm AS a_n, b.nrm AS b_n,
               {sql_micros(f"({sql_recon_dot('a.codes', 'b.codes')})"
                           " / (a.nrm * b.nrm)")} AS approx_e6
        FROM cs a JOIN cs b
          ON a.cell = b.cell AND a.subcell = b.subcell
         AND {keep}
    ),
    pre AS (
        SELECT vec_id, label, {nid}, {nlabel}, a_n, b_n FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY approx_e6 DESC, {nid}
            ) AS prk FROM cand
        ) WHERE prk <= {pre_c}
    )"""


def _prefiltered_exact_pairs(
    emb: DataFrame,
    n_cells: int,
    cell_cap: int,
    pre_c: int,
    diff_label_only: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Shared two-stage candidate machinery: (cell, subcell)-grouped
    pair join scored by the PQ reconstructed dot, top ``pre_c`` proxy
    survivors per vector, exact cosine on survivors only. Returns
    (cn, scored) where scored = (vec_id, label, nlabel, n_id, cos_e6).
    ``diff_label_only`` restricts candidates to other-label vectors
    BEFORE the proxy ranking (the hard-negative-mining form)."""
    cn = emb.select(
        "vec_id",
        "label",
        F.expr(ss_cell("embedding", n_cells)).alias("cell"),
        F.expr(ss_to_double("embedding")).alias("we"),
        F.expr(ss_pq_code_array("embedding")).alias("codes"),
    ).withColumn("nrm", F.expr(ss_norm("we")))
    # Pin the coded relation: Catalyst does not dedupe identical
    # self-join subtrees, so without this both pair-join sides re-run
    # the 128-fold PQ encode and the cell argmin over the full corpus.
    # The pinned projection is narrow (ids, labels, cell keys, 8-int
    # codes, one double) — O(n) small-row storage, same trade the
    # iterative HITS/PageRank loops make.
    cs = semdedup_subcells(cn, cell_cap, code_bits=KNN_CODE_BITS).select(
        "vec_id", "label", "cell", "subcell", "codes", "nrm"
    ).transform(tracked_local_checkpoint)
    # Stage 1 — proxy scoring: the pair join carries 8-int code arrays
    # and a scalar norm, never the 64-double widened vector, and scores
    # each pair with M literal-table lookups (ss_recon_dot)
    a = cs.selectExpr(
        "vec_id",
        "label",
        "codes AS a_cd",
        "nrm AS a_n",
        "cell",
        "subcell",
    )
    b = cs.selectExpr(
        "vec_id AS n_id",
        "label AS nlabel",
        "codes AS b_cd",
        "nrm AS b_n",
        "cell",
        "subcell",
    )
    keep = "label != nlabel" if diff_label_only else "vec_id != n_id"
    cand = (
        a.join(b, ["cell", "subcell"])
        .filter(keep)
        .selectExpr(
            "cell",
            "subcell",
            "vec_id",
            "label",
            "n_id",
            "nlabel",
            "a_n",
            "b_n",
            ss_micros(
                "(" + ss_recon_dot("a_cd", "b_cd") + ") / (a_n * b_n)"
            )
            + " AS approx_e6",
        )
    )
    # Partitioning trick: a vector lives in exactly ONE (cell, subcell)
    # group, so ranking within (cell, subcell, vec_id) is identical to
    # ranking within vec_id — but HashPartitioning(cell, subcell) from
    # the join already SATISFIES this window's ClusteredDistribution,
    # so the cap·n-row candidate relation is ranked in place, never
    # re-shuffled (the pre-trick plan exchanged ~250M rows here at sf1)
    wp = W.partitionBy("cell", "subcell", "vec_id").orderBy(
        F.desc("approx_e6"), F.asc("n_id")
    )
    pre = (
        cand.withColumn("prk", F.row_number().over(wp))
        .filter(F.col("prk") <= pre_c)
        .select("vec_id", "label", "n_id", "nlabel", "a_n", "b_n")
    )
    # Stage 2 — exact cosine on the pre_c survivors only: join the
    # widened vectors back by id (column-pruned re-scan, 64 doubles
    # per row travel through a C·n-row join, not the cap·n pair join)
    we_rel = cn.select("vec_id", "we")
    scored = (
        pre.join(we_rel.selectExpr("vec_id", "we AS a_we"), "vec_id")
        .join(we_rel.selectExpr("vec_id AS n_id", "we AS b_we"), "n_id")
        .selectExpr(
            "vec_id",
            "label",
            "nlabel",
            "n_id",
            ss_micros("(" + ss_dot("a_we", "b_we") + ") / (a_n * b_n)")
            + " AS cos_e6",
        )
    )
    return cn, scored


@register(
    "knn_label_noise",
    oracle=f"""
    WITH {_sql_prefilter_prefix('n_id', 'nlabel',
                                'a.vec_id <> b.vec_id', PQ_PREFILTER_C)},
    scored AS (
        SELECT p.vec_id, p.label, p.nlabel, p.n_id,
               {sql_micros(f"({sql_dot('ea.we', 'eb.we')}) / (p.a_n * p.b_n)")}
                   AS cos_e6
        FROM pre p
        JOIN cn ea ON ea.vec_id = p.vec_id
        JOIN cn eb ON eb.vec_id = p.n_id
    ),
    ranked AS (
        SELECT vec_id, label, nlabel,
               row_number() OVER (
                   PARTITION BY vec_id ORDER BY cos_e6 DESC, n_id
               ) AS rk
        FROM scored
    ),
    votes AS (
        SELECT vec_id,
               CAST(sum(CASE WHEN nlabel = label THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_same,
               CAST(count(*) AS BIGINT) AS k_eff
        FROM ranked WHERE rk <= {KNN_K} GROUP BY vec_id
    )
    SELECT e.vec_id, e.label,
           coalesce(v.n_same, 0) AS n_same,
           coalesce(v.k_eff, 0) AS k_eff,
           CASE WHEN coalesce(v.k_eff, 0) > 0
                 AND 2 * coalesce(v.n_same, 0) < coalesce(v.k_eff, 0)
                THEN 1 ELSE 0 END AS suspect
    FROM embeddings e LEFT JOIN votes v ON e.vec_id = v.vec_id
    """,
    doc=(
        "k-NN label-noise detection (confident-learning agreement "
        "variant): per vector, the share of its 5 nearest "
        "same-(cell, subcell) neighbors carrying its own label; "
        "minority-label vectors flagged suspect — SemDeDup-capped "
        "candidate groups with a PQ reconstructed-dot prefilter "
        "(exact cosine only on the top 4·k proxy survivors), "
        "never all-pairs, bounded under skew"
    ),
)
def knn_label_noise(
    spark: SparkSession,
    sf_dir: str,
    n_cells: int | None = None,
    cell_cap: int = KNN_CELL_CAP,
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cn, scored = _prefiltered_exact_pairs(
        emb, n_cells or K_CELLS, cell_cap, PQ_PREFILTER_C
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("cos_e6"), F.asc("n_id"))
    votes = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(f"rk <= {KNN_K}")
        .groupBy("vec_id")
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN nlabel = label THEN 1 ELSE 0 END)"
                " AS BIGINT) AS n_same"
            ),
            F.expr("CAST(count(1) AS BIGINT) AS k_eff"),
        )
    )
    spine = cn.select("vec_id", "label")
    j = spine.join(votes, "vec_id", "left")
    ns = "coalesce(n_same, CAST(0 AS BIGINT))"
    ke = "coalesce(k_eff, CAST(0 AS BIGINT))"
    return j.selectExpr(
        "vec_id",
        "label",
        f"{ns} AS n_same",
        f"{ke} AS k_eff",
        f"CASE WHEN {ke} > 0 AND 2 * {ns} < {ke} THEN 1 ELSE 0 END"
        " AS suspect",
    )


#: negatives returned per anchor and the proxy-survivor width for the
#: mining query (4x, same recall rationale as PQ_PREFILTER_C)
HN_K = 10
HN_PRE_C = 4 * HN_K


@register(
    "hard_negative_mining_grouped",
    oracle=f"""
    WITH {_sql_prefilter_prefix('neg_id', 'neg_label',
                                'a.label <> b.label', HN_PRE_C)}
    SELECT vec_id, label, neg_id, neg_label, cos_e6, CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT p.vec_id, p.label, p.neg_id, p.neg_label,
               {sql_micros(f"({sql_dot('ea.we', 'eb.we')}) / (p.a_n * p.b_n)")}
                   AS cos_e6,
               row_number() OVER (
                   PARTITION BY p.vec_id ORDER BY
                   {sql_micros(f"({sql_dot('ea.we', 'eb.we')}) / (p.a_n * p.b_n)")}
                       DESC, p.neg_id
               ) AS rk
        FROM pre p
        JOIN cn ea ON ea.vec_id = p.vec_id
        JOIN cn eb ON eb.vec_id = p.neg_id
    ) WHERE rk <= {HN_K}
    """,
    doc=(
        "Corpus-wide hard-negative mining for contrastive training "
        "(ANCE, Xiong et al. 2021): for EVERY anchor (not the probe-"
        "query subset of the brute-force ann_hard_negatives), the 10 "
        "highest-cosine "
        "OTHER-label vectors from its (cell, subcell) candidate group "
        "— PQ reconstructed-dot proxy ranks the group, exact cosine "
        "only on the top 4·k survivors, identical machinery to "
        "knn_label_noise with the label filter pushed before the "
        "proxy window"
    ),
)
def hard_negative_mining_grouped(
    spark: SparkSession,
    sf_dir: str,
    n_cells: int | None = None,
    cell_cap: int = KNN_CELL_CAP,
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    _, scored = _prefiltered_exact_pairs(
        emb, n_cells or K_CELLS, cell_cap, HN_PRE_C, diff_label_only=True
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("cos_e6"), F.asc("n_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(f"rk <= {HN_K}")
        .selectExpr(
            "vec_id",
            "label",
            "n_id AS neg_id",
            "nlabel AS neg_label",
            "cos_e6",
            "rk",
        )
    )
