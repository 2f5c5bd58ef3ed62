"""Product quantization (PQ) — the compression half of large-scale ANN,
completing the engine's similarity-search quartet (brute force →
hyperplane LSH → IVF → PQ). Reference has no vector ops at all;
north-star extension.

PQ splits each 64-dim vector into M=8 subvectors of 8 dims and encodes
every subvector as its nearest of K=16 per-subspace codebook entries:
a 4-bit code per subspace, 32 bits per vector — 64× smaller than the
float64 embedding. Queries rank candidates by ASYMMETRIC distance
(ADC): the query stays exact, each candidate contributes the sum of its
8 code-cell distances, looked up from a tiny per-query table.

Scale shape — everything is the idiomatic Spark formulation:

- Encoding is map-only (in-plan codebook literals, no side join).
- ADC is an equi-join: corpus codes explode to (vec_id, subspace,
  code) rows — 8 tiny rows per vector — and join the BROADCAST
  per-query lookup table (q_id, subspace, code, dist) on (subspace,
  code), then partial-sum per (q_id, vec_id). No cross product, no
  per-pair recomputation; the scan reads the 64×-compressed codes, not
  the embeddings.
- At 100 TB the codes table for 1e11 vectors is ~0.4 TB — the reason
  PQ exists; the lookup table is 5 queries × 128 rows here, and
  q_batches × 128 in general, always broadcastable.

Exactness: codebooks are seeded fixed literals (both engines parse the
same decimal text), subspace distances are sequential folds scaled to
BIGINT micros, and the argmin uses the dist·K + code integer encoding —
bit-exact cross-engine, so all three queries are value-checked, not
rows-only (same discipline as operators/annivf.py).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from algorithmproject_spark_spark.functions.numeric import sql_micros, ss_micros
from algorithmproject_spark_spark.functions.vectors import (
    EMB_DIM,
    sql_l2sq,
    ss_arr,
    ss_l2sq,
    ss_to_double,
)
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

DIM = EMB_DIM
M_SUB = 8  # subspaces
SUB_DIM = DIM // M_SUB
K_PQ = 16  # codes per subspace → 4-bit codes, 32-bit packed vector
N_QUERIES = 5
TOP_K = 3

_pq_rng = random.Random(17)
CODEBOOKS: tuple[tuple[tuple[float, ...], ...], ...] = tuple(
    tuple(
        tuple(round(_pq_rng.uniform(-1.0, 1.0), 6) for _ in range(SUB_DIM))
        for _ in range(K_PQ)
    )
    for _ in range(M_SUB)
)


# Spark-SQL TEXT kernels (see functions/vectors.py ss_* rationale: the
# Column-API form of these kernels cost thousands of py4j round-trips —
# the measured bulk of this family's bench time at sf0.1; the text
# parses once in the JVM).


def _ss_cb(j: int) -> str:
    """Codebook j as ONE nested array<array<double>> — constant-folds to
    a single Literal node feeding a single-lambda transform, instead of
    K separate fold subtrees over K·SUB_DIM CreateArray nodes.
    Expression tree (and task-binary/codegen) size drops ~16×; the
    per-code fold copies cost ~13 s of plan overhead at sf0.1 before
    compaction."""
    return "array(" + ", ".join(ss_arr(cvec) for cvec in CODEBOOKS[j]) + ")"


def _ss_fold_l2(sub: str, cb: str) -> str:
    return (
        f"aggregate(zip_with({sub}, {cb}, (x, y) -> (x - y) * (x - y)), "
        f"0.0D, (acc, d) -> acc + d)"
    )


def _ss_dists_2d(v: str) -> str:
    """array[j][c] of micros(subspace distance) for a bound widened
    vector — the shared PQ kernel: M transform-lambdas, one fold each.
    The subvector slices are bound once through the inner lambda."""
    subs = "array(" + ", ".join(
        f"slice({v}, {j * SUB_DIM + 1}, {SUB_DIM})" for j in range(M_SUB)
    ) + ")"
    inner = ", ".join(
        f"transform({_ss_cb(j)}, "
        f"cb -> {ss_micros(_ss_fold_l2(f'element_at(s, {j + 1})', 'cb'))})"
        for j in range(M_SUB)
    )
    return f"element_at(transform(array({subs}), s -> array({inner})), 1)"


def _ss_enc_from_dists(dists: str) -> str:
    """array of M argmin encodings d·K + c from the 2-D distance array
    (two-arg transform lambda supplies the code index)."""
    return (
        f"transform({dists}, dj -> array_min("
        f"transform(dj, (d, i) -> d * {K_PQ} + CAST(i AS BIGINT))))"
    )


def ss_d2(emb: str) -> str:
    """The bound 2-D distance array for a raw embedding column — the
    per-query lookup-table source in the ADC/IVFPQ queries."""
    return (
        f"element_at(transform(array({ss_to_double(emb)}), "
        f"v -> {_ss_dists_2d('v')}), 1)"
    )


def ss_pq_code_array(emb: str) -> str:
    """array<int> of the M per-subspace PQ codes for one embedding —
    the map-only encoding kernel, kept as one compact column for
    symmetric (all-pairs) consumers like the knn_label_noise
    prefilter."""
    return (
        f"element_at(transform(array({ss_to_double(emb)}), "
        f"v -> transform({_ss_enc_from_dists(_ss_dists_2d('v'))}, "
        f"e -> CAST(e % {K_PQ} AS INT))), 1)"
    )


def ss_pq_pack(emb: str) -> str:
    """struct(packed_code, recon_err_e6): the 32-bit packed code and the
    total squared reconstruction error in micros.

    Double lambda binding: the widened vector feeds M×K folds once, and
    the 8-element enc array feeds the 16 pack/err references once.
    enc % K is the code; enc >> 4 recovers micros(dist) exactly (enc is
    nonnegative and K is a power of two)."""
    enc_arr = (
        f"element_at(transform(array({ss_to_double(emb)}), "
        f"v -> {_ss_enc_from_dists(_ss_dists_2d('v'))}), 1)"
    )
    packed = "CAST(0 AS BIGINT) + " + " + ".join(
        f"(element_at(e, {j + 1}) % {K_PQ}) * {K_PQ**j}" for j in range(M_SUB)
    )
    err = "CAST(0 AS BIGINT) + " + " + ".join(
        f"shiftright(element_at(e, {j + 1}), 4)" for j in range(M_SUB)
    )
    return (
        f"element_at(transform(array({enc_arr}), e -> "
        f"named_struct('packed_code', {packed}, "
        f"'recon_err_e6', {err})), 1)"
    )


def ss_recon_dot(codes_a: str, codes_b: str) -> str:
    """Reconstructed dot product of two PQ-coded vectors:
    Σ_j DOT_TABS[j][code_a[j]·K + code_b[j]]. Left-associated addition
    of table literals — bit-exact cross-engine because both engines
    only LOOK UP doubles that were computed once in Python (the SQL
    twin parses the same shortest-repr decimal strings)."""
    terms = " + ".join(
        f"element_at({ss_arr(DOT_TABS[j])}, "
        f"element_at({codes_a}, {j + 1}) * {K_PQ} "
        f"+ element_at({codes_b}, {j + 1}) + 1)"
        for j in range(M_SUB)
    )
    return f"({terms})"


def _sql_sub_l2sq(emb: str, j: int, cvec: tuple[float, ...]) -> str:
    lit = "[" + ", ".join(repr(x) for x in cvec) + "]"
    base = j * SUB_DIM
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {SUB_DIM} + 1), "
        f"i_ -> (CAST({emb}[{base} + i_] AS DOUBLE) - ({lit})[i_]) "
        f"* (CAST({emb}[{base} + i_] AS DOUBLE) - ({lit})[i_]))), "
        f"(a_, b_) -> a_ + b_)"
    )


def _sql_enc_j(emb: str, j: int) -> str:
    parts = ", ".join(
        f"{sql_micros(_sql_sub_l2sq(emb, j, cvec))} * {K_PQ} + {c}"
        for c, cvec in enumerate(CODEBOOKS[j])
    )
    return f"list_min([{parts}])"


def sql_pq_code_array(emb: str) -> str:
    """DuckDB twin of :func:`ss_pq_code_array`."""
    return (
        f"list_transform({_sql_enc_array(emb)}, "
        f"e_ -> CAST(e_ % {K_PQ} AS INT))"
    )


def pq_codes_exploded(emb_df: DataFrame) -> DataFrame:
    """(vec_id, j, code) — one row per subspace, the join-ready form of
    the codes table (8 small rows per vector, 64× lighter than the
    embedding)."""
    return emb_df.select(
        "vec_id",
        F.posexplode(F.expr(ss_pq_code_array("embedding"))).alias("j", "code"),
    )


# Symmetric-distance (SDC) dot table: DOT_TABS[j][a*K + b] is the exact
# Python-double dot product of codebook entries a and b in subspace j —
# M flat 256-double literals, 2 KB each, always in-plan. A pair's
# reconstructed dot product is then M literal-array lookups instead of
# a DIM-element fold: the prefilter currency for all-pairs consumers
# (Jégou et al., "Product Quantization for Nearest Neighbor Search",
# TPAMI 2011 — the symmetric variant).
DOT_TABS: tuple[tuple[float, ...], ...] = tuple(
    tuple(
        sum(x * y for x, y in zip(CODEBOOKS[j][a], CODEBOOKS[j][b]))
        for a in range(K_PQ)
        for b in range(K_PQ)
    )
    for j in range(M_SUB)
)


def sql_recon_dot(codes_a: str, codes_b: str) -> str:
    """DuckDB twin of :func:`ss_recon_dot` (same association order)."""
    terms = " + ".join(
        f"([{', '.join(repr(x) for x in DOT_TABS[j])}])"
        f"[{codes_a}[{j + 1}] * {K_PQ} + {codes_b}[{j + 1}] + 1]"
        for j in range(M_SUB)
    )
    return f"({terms})"


def _sql_enc_array(emb: str) -> str:
    return "[" + ", ".join(_sql_enc_j(emb, j) for j in range(M_SUB)) + "]"


@register(
    "ann_pq_codes",
    oracle=f"""
    WITH e AS MATERIALIZED (
        SELECT vec_id, {_sql_enc_array('embedding')} AS enc FROM embeddings
    )
    SELECT vec_id,
           {" + ".join(f"(enc[{j + 1}] % {K_PQ}) * {K_PQ**j}" for j in range(M_SUB))}
               AS packed_code,
           {" + ".join(f"(enc[{j + 1}] // {K_PQ})" for j in range(M_SUB))}
               AS recon_err_e6
    FROM e
    """,
    doc="PQ encoding: 8×4-bit per-subspace argmin codes packed into one "
    "BIGINT (64× compression) + exact integer reconstruction error — "
    "map-only, in-plan codebook literals",
)
def ann_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # two-step select: CollapseProject keeps the (expensive, twice-
    # referenced) pack struct in its own project instead of inlining it
    return emb.select("vec_id", F.expr(ss_pq_pack("embedding")).alias("s")).select(
        "vec_id", "s.packed_code", "s.recon_err_e6"
    )


def _sql_qtab() -> str:
    """Per-query ADC lookup table: 128 (j, code, dist) rows per query,
    unnested from one in-plan struct list."""
    cells = ", ".join(
        f"struct_pack(j := {j}, code := {c}, "
        f"d := {sql_micros(_sql_sub_l2sq('embedding', j, cvec))})"
        for j in range(M_SUB)
        for c, cvec in enumerate(CODEBOOKS[j])
    )
    return (
        f"SELECT vec_id AS q_id, unnest([{cells}], recursive := true) "
        f"FROM embeddings WHERE vec_id < {N_QUERIES}"
    )


def _sql_codes_rows() -> str:
    cells = ", ".join(
        f"struct_pack(j := {j}, code := CAST(enc[{j + 1}] % {K_PQ} AS INT))"
        for j in range(M_SUB)
    )
    return (
        f"SELECT vec_id, unnest([{cells}], recursive := true) FROM "
        f"(SELECT vec_id, {_sql_enc_array('embedding')} AS enc FROM embeddings)"
    )


@register(
    "ann_pq_adc_topk",
    oracle=f"""
    WITH codes AS MATERIALIZED ({_sql_codes_rows()}),
    qtab AS MATERIALIZED ({_sql_qtab()}),
    adc AS (
        SELECT t.q_id, c.vec_id AS neighbor_id,
               CAST(sum(t.d) AS BIGINT) AS adc_e6
        FROM codes c JOIN qtab t USING (j, code)
        WHERE c.vec_id <> t.q_id
        GROUP BY t.q_id, c.vec_id
    )
    SELECT q_id, neighbor_id, adc_e6, rk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY adc_e6, neighbor_id
        ) AS rk FROM adc
    ) WHERE rk <= {TOP_K}
    """,
    doc="PQ asymmetric-distance top-k: corpus codes (8 rows/vector) "
    "equi-join the broadcast per-query lookup table on (subspace, "
    "code), partial-sum per candidate — linear in corpus size over the "
    "64×-compressed representation, no embedding read on the scan side",
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    codes = pq_codes_exploded(emb.select("vec_id", "embedding"))
    d2 = F.expr(ss_d2("embedding"))
    qtab = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("q_id"), F.posexplode(d2).alias("j", "dj"))
        .select("q_id", "j", F.posexplode("dj").alias("code", "d"))
    )
    adc = (
        codes.join(F.broadcast(qtab), ["j", "code"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d").alias("adc_e6"))
    )
    w = W.partitionBy("q_id").orderBy(F.asc("adc_e6"), F.asc("neighbor_id"))
    return (
        adc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("q_id", "neighbor_id", "adc_e6", "rk")
    )


@register(
    "ann_pq_recall",
    plan=("scalar_cross",),
    oracle=f"""
    WITH codes AS MATERIALIZED ({_sql_codes_rows()}),
    qtab AS MATERIALIZED ({_sql_qtab()}),
    adc AS (
        SELECT t.q_id, c.vec_id AS neighbor_id,
               CAST(sum(t.d) AS BIGINT) AS adc_e6
        FROM codes c JOIN qtab t USING (j, code)
        WHERE c.vec_id <> t.q_id
        GROUP BY t.q_id, c.vec_id
    ),
    pq AS (
        SELECT q_id, neighbor_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY q_id ORDER BY adc_e6, neighbor_id
            ) AS rk FROM adc
        ) WHERE rk <= {TOP_K}
    ),
    bf AS (
        SELECT q_id, neighbor_id FROM (
            SELECT q.vec_id AS q_id, x.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {sql_micros(sql_l2sq("q.embedding", "x.embedding"))},
                                x.vec_id
                   ) AS rk
            FROM embeddings q JOIN embeddings x ON q.vec_id <> x.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ) WHERE rk <= {TOP_K}
    )
    SELECT bf.q_id, count(pq.neighbor_id) AS n_hits, count(*) AS k
    FROM bf LEFT JOIN pq
      ON bf.q_id = pq.q_id AND bf.neighbor_id = pq.neighbor_id
    GROUP BY bf.q_id
    """,
    doc="recall@k of PQ-ADC vs exact L2 top-k (the metric PQ "
    "approximates) — the approximate path ships with its own "
    "oracle-checked quality number, like ann_lsh_recall/ann_ivf_recall",
)
def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pq = ann_pq_adc_topk(spark, sf_dir).select(
        "q_id", F.col("neighbor_id").alias("pq_neighbor")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    scored = (
        emb.join(F.broadcast(q), emb.vec_id != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(ss_micros(ss_l2sq("q_emb", "embedding"))).alias("l2_e6"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.asc("l2_e6"), F.asc("neighbor_id"))
    bf = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("q_id", "neighbor_id")
    )
    hit = bf.join(
        pq,
        (bf.q_id == pq.q_id) & (bf.neighbor_id == pq.pq_neighbor),
        "left",
    ).select(bf.q_id, pq.pq_neighbor)
    return hit.groupBy("q_id").agg(
        F.count("pq_neighbor").alias("n_hits"),
        F.count(F.lit(1)).alias("k"),
    )


# --------------------------------------------------------------------------
# IVF-PQ: the production composition — IVF's coarse quantizer prunes the
# corpus to NPROBE cells, PQ's ADC ranks only those candidates from the
# compressed codes. This is the architecture real 1e11-vector ANN
# serving uses (FAISS IVFPQ): the scan touches cell-pruned code rows
# only, never a full embedding.
# --------------------------------------------------------------------------
from algorithmproject_spark_spark.operators.annivf import (  # noqa: E402
    cells as _ivf_cells,
    ss_probe_cells as _ivf_ss_probe_cells,
    sql_cell as _sql_ivf_cell,
    sql_probe_cells as _sql_ivf_probe_cells,
)


@register(
    "ann_ivfpq_topk",
    oracle=f"""
    WITH cellsT AS MATERIALIZED (
        SELECT vec_id, {{cell}} AS cell FROM embeddings
    ),
    qp AS (
        SELECT vec_id AS q_id, unnest({{probe}}) AS cell
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    cand AS (
        SELECT qp.q_id, c.vec_id FROM qp JOIN cellsT c USING (cell)
        WHERE c.vec_id <> qp.q_id
    ),
    codes AS MATERIALIZED ({{codes}}),
    qtab AS MATERIALIZED ({{qtab}}),
    adc AS (
        SELECT k.q_id, k.vec_id AS neighbor_id,
               CAST(sum(t.d) AS BIGINT) AS adc_e6
        FROM cand k
        JOIN codes c2 ON k.vec_id = c2.vec_id
        JOIN qtab t ON t.q_id = k.q_id AND t.j = c2.j AND t.code = c2.code
        GROUP BY k.q_id, k.vec_id
    )
    SELECT q_id, neighbor_id, adc_e6, rk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY adc_e6, neighbor_id
        ) AS rk FROM adc
    ) WHERE rk <= {TOP_K}
    """.format(
        cell="__CELL__", probe="__PROBE__", codes="__CODES__", qtab="__QTAB__"
    )
    .replace("__CELL__", _sql_ivf_cell("embedding"))
    .replace("__PROBE__", _sql_ivf_probe_cells("embedding"))
    .replace("__CODES__", _sql_codes_rows())
    .replace("__QTAB__", _sql_qtab()),
    doc="IVF-PQ (the FAISS-style production composition): coarse cells "
    "prune candidates to NPROBE partitions, PQ-ADC ranks them from "
    "4-bit codes — cell equi-join + code equi-join + broadcast lookup "
    "table, everything linear and embedding-free past the encode step",
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    b = _ivf_cells(spark, sf_dir).select("vec_id", "cell")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.explode(F.expr(_ivf_ss_probe_cells("embedding"))).alias("cell"),
    )
    cand = (
        b.join(F.broadcast(q), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
    )
    codes = pq_codes_exploded(emb.select("vec_id", "embedding"))
    d2 = F.expr(ss_d2("embedding"))
    qtab = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("q_id"), F.posexplode(d2).alias("j", "dj"))
        .select("q_id", "j", F.posexplode("dj").alias("code", "d"))
    )
    adc = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(qtab), ["q_id", "j", "code"])
        .groupBy("q_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d").alias("adc_e6"))
    )
    w = W.partitionBy("q_id").orderBy(F.asc("adc_e6"), F.asc("neighbor_id"))
    return (
        adc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("q_id", "neighbor_id", "adc_e6", "rk")
    )
