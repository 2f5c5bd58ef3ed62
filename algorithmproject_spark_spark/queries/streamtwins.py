"""Driver-checkable BATCH TWINS of the streaming operators.

The streaming family (streaming/*.py) is pytest-verified by driving
real file-streams, but the oracle correctness gate
(``__spark_entry__.py``) runs batch queries only. Structured Streaming's core guarantee — a
streaming query computes the same answer as the batch query over the
same (finite) input — makes the batch-degenerate form of each operator
an oracle-checkable stand-in. A twin is one of two kinds:

- it runs the stream's OWN kernel on a batch frame (KMV, HDR, and the
  closed-day EWMA/Holt twins in queries/spc.py and queries/holt.py,
  whose walk folds the same step function the stream calls), so a
  green row certifies that kernel;
- or it is the relational query tests/test_streaming.py holds the
  stream to (Markov transitions, user profile): a Catalyst window or
  aggregate whose answer the stream's state fold must reproduce, with
  no separate Python fold of its own.

Reference has no stateful streaming at all (SURVEY.md §3.4); this
family is engine extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.cacheutil import tracked_cache
from algorithmproject_spark_spark.functions.numeric import sql_hash_mod
from algorithmproject_spark_spark.queries.kmv import KMV_K, KMV_MOD
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table
from algorithmproject_spark_spark.streaming.dedup import dedup_stream
from algorithmproject_spark_spark.streaming.markov import (
    transition_counts_batch,
)
from algorithmproject_spark_spark.streaming.stateful import user_profile_batch
from algorithmproject_spark_spark.streaming.windows import sessionized_counts

SESSION_GAP = "30 minutes"
SESSION_GAP_US = 30 * 60 * 1_000_000


@register(
    "stream_dedup_batch_twin",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
    doc="batch twin of watermark-bounded streaming exact dedup "
    "(dropDuplicatesWithinWatermark): the key set that survives "
    "first-arrival-wins dedup, projected to the (deterministic) keys",
)
def stream_dedup_batch_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # Project to the dedup keys: WHICH row survives per key is
    # arbitrary in the batch degenerate (and timing-dependent in the
    # stream), but the surviving KEY SET is exact and deterministic.
    return dedup_stream(ev, key_cols=("user_id", "event_type")).select(
        "user_id", "event_type"
    )


@register(
    "stream_session_windows_batch_twin",
    oracle=f"""
    WITH m AS (
        SELECT user_id, ts,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts
                    ) >= {SESSION_GAP_US} THEN 1 ELSE 0 END AS brk
        FROM events
    ),
    s AS (
        SELECT user_id, ts,
               sum(brk) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING
               ) AS sid
        FROM m
    )
    SELECT user_id,
           epoch_us(min(ts)) AS session_start_us,
           epoch_us(max(ts)) + {SESSION_GAP_US} AS session_end_us,
           count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
    doc="batch twin of gap-based session windows (session_window agg): "
    "oracle re-derives sessions via the lag-gap islands idiom — "
    "[first_event, last_event + gap) with a strict-< gap merge, "
    "matching session_window's half-open semantics",
)
def stream_session_windows_batch_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return sessionized_counts(ev, gap=SESSION_GAP).select(
        "user_id",
        F.unix_micros(F.col("session_start")).alias("session_start_us"),
        F.unix_micros(F.col("session_end")).alias("session_end_us"),
        "n_events",
    )


@register(
    "stream_user_profile_batch_twin",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS value_cents,
           count(DISTINCT event_type) AS n_types
    FROM events GROUP BY user_id
    """,
    doc="batch twin of the applyInPandasWithState per-user profile: the "
    "per-user aggregate the drained stream's last update per key must "
    "equal, as one Catalyst groupBy (exact integer cents, so state "
    "merge order can never perturb the streaming result either)",
)
def stream_user_profile_batch_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return user_profile_batch(ev.select("user_id", "event_type", "value"))


@register(
    "stream_markov_batch_twin",
    oracle="""
    WITH seq AS (
        SELECT event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS nxt
        FROM events
    )
    SELECT event_type AS src, nxt AS dst, CAST(count(*) AS BIGINT) AS cnt
    FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    """,
    doc="batch twin of the applyInPandasWithState Markov transition "
    "counter (streaming/markov.py): the per-user lead-window counts the "
    "stream's summed increments must equal, summed per (src, dst) — a "
    "Catalyst window and two aggregates, no Python fold",
)
def stream_markov_batch_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    return (
        transition_counts_batch(ev)
        .groupBy("src", "dst")
        .agg(F.sum("cnt").alias("cnt"))
    )


def _sql_near_dup_twin() -> str:
    from algorithmproject_spark_spark.functions.hashing import (
        MINHASH_PARAMS,
        sql_minhash_value,
    )
    from algorithmproject_spark_spark.queries.dedup import _sql_shingle_hashes
    from algorithmproject_spark_spark.streaming.neardup import (
        _BAND_P,
        BAND_ROWS,
        MIN_AGREE,
        N_HASHES,
    )

    mh = ", ".join(
        f"{sql_minhash_value('sh', a, b)}"
        for (a, b) in MINHASH_PARAMS[:N_HASHES]
    )
    n_bands = N_HASHES // BAND_ROWS
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, sig, {b} AS band_idx, "
        f"sig[{b * BAND_ROWS + 1}] * {_BAND_P} + sig[{b * BAND_ROWS + 2}] AS band_key "
        f"FROM sig"
        for b in range(n_bands)
    )
    agree = (
        f"list_sum(list_transform(range(1, {N_HASHES} + 1), "
        f"i_ -> CASE WHEN a.sig[i_] = b.sig[i_] THEN 1 ELSE 0 END))"
    )
    return f"""
    WITH sh AS MATERIALIZED ({_sql_shingle_hashes()}),
    sig AS MATERIALIZED (SELECT doc_id, [{mh}] AS sig FROM sh),
    bands AS MATERIALIZED ({band_rows}),
    drops AS (
        SELECT DISTINCT b.doc_id
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
        WHERE {agree} >= {MIN_AGREE}
    )
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM drops)
    """


@register(
    "stream_near_dup_batch_twin",
    oracle=_sql_near_dup_twin(),
    doc="batch twin of the incremental MinHash-LSH near-dup filter "
    "(streaming/neardup.py): one micro-batch with an empty store — the "
    "local-minima survivor rule (drop on a verified smaller-id match) "
    "over banded signatures, the same kernel foreachBatch replays "
    "incrementally against the persistent survivor store",
)
def stream_near_dup_batch_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from algorithmproject_spark_spark.streaming.neardup import (
        doc_band_state,
        within_batch_drop_ids,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # cache: the local-minima rule self-joins the band relation, and
    # without materialization both join inputs re-fold shingles +
    # signatures (same reuse pattern as the batch dedup family's
    # cached shingle table)
    bands = tracked_cache(doc_band_state(docs))
    drops = within_batch_drop_ids(bands)
    return docs.join(drops, "doc_id", "left_anti").select("doc_id")


def _sql_simhash_twin() -> str:
    from algorithmproject_spark_spark.queries.dedup import (
        _SQL_BAND_KEY,
        _sql_fp124,
        SIMHASH_K,
    )

    return f"""
    WITH {_sql_fp124()},
    st_bands AS (
        SELECT doc_id, fp_lo, fp_hi, i.band_idx AS band_idx,
               {_SQL_BAND_KEY} AS band_key
        FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS band_idx) i
    ),
    st_drops AS (
        SELECT DISTINCT b.doc_id
        FROM st_bands a JOIN st_bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.fp_lo, b.fp_lo))
            + bit_count(xor(a.fp_hi, b.fp_hi)) <= {SIMHASH_K}
    )
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM st_drops)
    """


@register(
    "stream_simhash_dedup_batch_twin",
    plan=("arrow",),  # the shared fp124 fingerprint kernel
    oracle=_sql_simhash_twin(),
    doc="batch twin of the incremental SimHash near-dup filter "
    "(streaming/simhashstream.py, 15th stateful twin): one micro-batch "
    "with an empty store — the local-minima survivor rule (drop on a "
    "Hamming <= K match against a smaller id) over 31-bit-banded "
    "124-bit fingerprints, the same kernel foreachBatch replays "
    "incrementally against the persistent survivor store",
)
def stream_simhash_dedup_batch_twin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from algorithmproject_spark_spark.streaming.simhashstream import (
        simhash_band_state,
        within_batch_drop_ids,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # cache: the local-minima rule self-joins the band relation; the
    # fingerprint kernel must not run once per join side
    bands = tracked_cache(simhash_band_state(docs))
    drops = within_batch_drop_ids(bands)
    return docs.join(drops, "doc_id", "left_anti").select("doc_id")


@register(
    "stream_anomaly_batch_twin",
    oracle="""
    WITH an_v AS (
        SELECT user_id, event_id, ts,
               CAST(floor(value + 0.5) AS BIGINT) AS v
        FROM events
    ),
    an_p AS (
        SELECT user_id, event_id, v,
               COUNT(*) OVER w AS n_prior,
               COALESCE(SUM(v) OVER w, 0) AS s,
               COALESCE(SUM(v * v) OVER w, 0) AS q
        FROM an_v
        WINDOW w AS (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        )
    ),
    an_f AS (
        SELECT user_id, v,
               CASE WHEN n_prior >= 5 THEN 1 ELSE 0 END AS checked,
               CASE WHEN n_prior >= 5
                     AND (v * n_prior - s) * (v * n_prior - s)
                         > 9 * (n_prior * q - s * s)
                    THEN 1 ELSE 0 END AS anomaly
        FROM an_p
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(checked) AS BIGINT) AS n_checked,
           CAST(SUM(anomaly) AS BIGINT) AS n_anomalies,
           CAST(MAX(CASE WHEN anomaly = 1 THEN v END) AS BIGINT)
               AS max_anomaly_v
    FROM an_f GROUP BY user_id
    """,
    doc="batch twin of streaming z-score anomaly detection "
    "(streaming/anomaly.py): exact integer variance test "
    "(v·n−S)² > K²(nQ−S²) over prior-event prefix sums — no sqrt, "
    "no floats, so the stateful (n,S,Q) stream fold, this window "
    "form, and the DuckDB oracle are bit-identical; per-user "
    "event/checked/anomaly counts",
)
def stream_anomaly_batch_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from algorithmproject_spark_spark.streaming.anomaly import (
        user_anomaly_summary,
    )

    return user_anomaly_summary(load_table(spark, sf_dir, "events"))


@register(
    "stream_kmv_batch_twin",
    plan=("arrow",),
    oracle=f"""
    WITH sk AS (
        SELECT event_type AS g,
               list_slice(list_sort(list(DISTINCT
                   {sql_hash_mod('CAST(user_id AS BIGINT)', KMV_MOD)}
               )), 1, {KMV_K}) AS mins
        FROM events GROUP BY event_type
    )
    SELECT g AS event_type,
           CAST(len(mins) AS BIGINT) AS kmv_size,
           CAST(mins[len(mins)] AS BIGINT) AS kth_min,
           CASE WHEN len(mins) < {KMV_K} THEN CAST(len(mins) AS BIGINT)
                ELSE CAST({KMV_K - 1} AS BIGINT) * {KMV_MOD}
                     // mins[len(mins)]
           END AS est_distinct
    FROM sk
    """,
    doc="batch twin of the applyInPandasWithState KMV sketch "
    "(streaming/kmvstream.py): state IS the sketch (bounded k-minima "
    "array), and the same Python merge/estimate kernel folds each "
    "type's full history in one applyInPandas pass — output equals "
    "the native batch KMV query's sketch columns exactly",
)
def stream_kmv_batch_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from algorithmproject_spark_spark.streaming.kmvstream import (
        kmv_sketch_batch,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id"
    )
    return kmv_sketch_batch(ev)


def _sql_hdr_twin() -> str:
    from algorithmproject_spark_spark.queries.hdr import (
        PCTS,
        sql_hdr_bucket,
        sql_hdr_rep,
    )

    ests = ", ".join(
        f"CAST(min(CASE WHEN cum * 100 >= n * {p} "
        f"THEN {sql_hdr_rep('idx')} END) AS BIGINT) AS est_p{p}_e6"
        for p in PCTS
    )
    return f"""
    WITH hs_raw AS (
        SELECT event_type,
               CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v
        FROM events
    ),
    hs_v AS MATERIALIZED (
        -- WHEN v >= 0 so a NULL falls into the error branch (the
        -- Python kernel raises ValueError on negatives likewise)
        SELECT event_type,
               CASE WHEN v >= 0 THEN v
                    ELSE CAST(error(
                        'HDR bucket function requires non-negative values'
                    ) AS BIGINT) END AS v
        FROM hs_raw
    ),
    hs_h AS (
        SELECT event_type, {sql_hdr_bucket('v')} AS idx,
               CAST(count(*) AS BIGINT) AS c
        FROM hs_v GROUP BY event_type, {sql_hdr_bucket('v')}
    ),
    hs_cum AS (
        SELECT event_type, idx, c,
               CAST(sum(c) OVER (
                   PARTITION BY event_type ORDER BY idx
               ) AS BIGINT) AS cum,
               CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM hs_h
    )
    SELECT event_type, CAST(max(n) AS BIGINT) AS n_events, {ests}
    FROM hs_cum GROUP BY event_type
    """


@register(
    "stream_hdr_batch_twin",
    plan=("arrow",),
    oracle=_sql_hdr_twin(),
    doc="batch twin of the applyInPandasWithState HDR quantile sketch "
    "(streaming/hdrstream.py, 13th stateful twin): state IS the "
    "~430-bucket (octave, sub-bucket) histogram — counts only add, so "
    "the stream's final snapshot equals this one-pass fold of each "
    "type's full history through the SAME Python kernel; p50/p90/p99 "
    "estimates match the native batch HDR query's sketch columns",
)
def stream_hdr_batch_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from algorithmproject_spark_spark.streaming.hdrstream import (
        hdr_sketch_batch,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    return hdr_sketch_batch(ev)


def _sql_pca_moments_twin() -> str:
    """Relational re-derivation of the Arrow Gram kernel's (i, j, v)
    moment relation (operators/pca.py::_moment_batches): explode the
    quantized components, self-join for the second moments, grid-
    totalize so every cell exists even at zero — the same fixed
    4161-row shape the kernel emits (EMB_DIM² cells + EMB_DIM sums +
    the count row)."""
    from algorithmproject_spark_spark.functions.vectors import EMB_DIM
    from algorithmproject_spark_spark.operators.pca import sql_quant

    d = EMB_DIM
    return f"""
    WITH pm_q AS MATERIALIZED (
        SELECT vec_id, {sql_quant('embedding')} AS vq FROM embeddings
    ),
    pm_f AS MATERIALIZED (
        SELECT vec_id, f.i AS i, f.v AS v FROM (
            SELECT vec_id,
                   unnest(list_transform(range(1, {d} + 1),
                          i_ -> struct_pack(i := i_ - 1, v := vq[i_]))) AS f
            FROM pm_q
        )
    ),
    pm_m AS (
        SELECT a.i AS i, b.i AS j, CAST(SUM(a.v * b.v) AS BIGINT) AS v
        FROM pm_f a JOIN pm_f b USING (vec_id) GROUP BY a.i, b.i
    ),
    pm_s AS (SELECT i, CAST(SUM(v) AS BIGINT) AS v FROM pm_f GROUP BY i),
    pm_r AS (SELECT CAST(unnest(range(0, {d})) AS INTEGER) AS r)
    SELECT g.i AS i, g.j AS j, CAST(COALESCE(m.v, 0) AS BIGINT) AS v
    FROM (SELECT a.r AS i, b.r AS j FROM pm_r a, pm_r b) g
    LEFT JOIN pm_m m ON m.i = g.i AND m.j = g.j
    UNION ALL
    SELECT q.r AS i, CAST(-1 AS INTEGER) AS j,
           CAST(COALESCE(s.v, 0) AS BIGINT) AS v
    FROM pm_r q LEFT JOIN pm_s s ON s.i = q.r
    UNION ALL
    SELECT CAST(-1 AS INTEGER) AS i, CAST(-1 AS INTEGER) AS j,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pm_q) AS v
    """


@register(
    "stream_pca_moments_batch_twin",
    plan=("arrow", "scalar_cross"),  # Gram kernel + the 64×64 grid cross
    oracle=_sql_pca_moments_twin(),
    doc="batch twin of the streaming PCA moment sketch "
    "(streaming/pcastream.py, 16th stateful twin): the embedding "
    "corpus as one micro-batch through the SAME Arrow Gram kernel the "
    "stream accumulates per batch_id partition — moments are additive "
    "integers, so any slicing replays to exactly this relation (the "
    "cross-batch seam test pins it); grid-totalized so all EMB_DIM² "
    "cells + component sums + the count row exist even at zero",
)
def stream_pca_moments_batch_twin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from algorithmproject_spark_spark.functions.vectors import EMB_DIM
    from algorithmproject_spark_spark.streaming.pcastream import (
        moment_partials,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    acc = moment_partials(emb)
    d = EMB_DIM
    rng = spark.range(d).select(F.col("id").cast("int").alias("r"))
    cells = rng.select(F.col("r").alias("i")).crossJoin(
        rng.select(F.col("r").alias("j"))
    )
    grid = cells.unionAll(
        rng.select(F.col("r").alias("i"), F.lit(-1).cast("int").alias("j"))
    ).unionAll(
        spark.range(1).select(
            F.lit(-1).cast("int").alias("i"),
            F.lit(-1).cast("int").alias("j"),
        )
    )
    return grid.join(F.broadcast(acc), ["i", "j"], "left").select(
        "i",
        "j",
        F.coalesce("v", F.lit(0).cast("long")).alias("v"),
    )
