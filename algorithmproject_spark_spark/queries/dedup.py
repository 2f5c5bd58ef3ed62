"""Near-duplicate detection — the one capability the reference
OUTSOURCES (SURVEY.md §2.7 E4: ``ArticleInfoProcess.scala:184-191``
exports ``article_id, content`` JSON for an external dedup tool, then
anti-joins the returned ids). Here it is native, deterministic, and —
unusually for MinHash — oracle-checked: signatures use fixed affine
permutations over an explicit polynomial token hash, so DuckDB computes
bit-identical integers.

Scale design: the LSH self-join is a shuffle on (band_idx, band_key) —
candidate generation is linear in docs × bands, never O(n²); the exact
Jaccard verify runs only on LSH candidates. At 100 TB the same plan
holds: band keys partition evenly because they are hashes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from algorithmproject_spark_spark.cacheutil import (
    tracked_cache,
    tracked_local_checkpoint,
)
from algorithmproject_spark_spark.functions.hashing import (
    MINHASH_PARAMS,
    sql_gram_hash_array,
    sql_minhash_value,
    sql_token_hash_array,
    ss_gram_hash_array,
    ss_minhash_value,
    ss_token_hash_array,
)
from algorithmproject_spark_spark.functions.numeric import (
    sql_hash_mod,
    ss_hash_mod,
    ss_micros,
)
from algorithmproject_spark_spark.registry import register
from algorithmproject_spark_spark.sources.catalog import load_table

N_HASHES = 8  # first 8 of MINHASH_PARAMS
BAND_ROWS = 2  # 4 bands × 2 rows
SHINGLE_N = 3


def _token_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, th): the char-folded token-hash array — the ONE
    expensive text pass every near-dup flavor shares.

    MinHash derives shingle hashes from it, SimHash derives its four
    bit-vote arrays from it (cheap affine re-hashes). Caching HERE —
    one level below the per-flavor derived relations — means a session
    (or one query, like ``neardup_flavor_agreement``) that runs both
    flavors char-folds the corpus once instead of once per flavor
    (round-9 verdict #3: under cache isolation the agreement report
    paid two independent tokenizations, ~half its 36 s sf1 cost).
    ~8 B × tokens per doc, comparable to the text itself — at cluster
    scale tracked_cache's default MEMORY_AND_DISK spills rather than
    evicts.
    """
    docs = load_table(spark, sf_dir, "documents")
    # one-parse text twin (r12): the nested fold tower cost hundreds of
    # py4j round-trips per consumer query build; F.expr parses the
    # identical expression in one trip (same fold order, bit-identical)
    th = F.expr(ss_token_hash_array("split(text, ' ')"))
    return tracked_cache(docs.select("doc_id", th.alias("th")))


def _shingle_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id + array of distinct 3-shingle hashes (exact integers).

    Tokens are char-folded ONCE (in the shared cached
    :func:`_token_hashes` relation), then shingle hashes are integer
    folds over token-hash windows — O(chars + tokens) instead of
    O(chars × shingle_width) per doc.
    """
    tok = _token_hashes(spark, sf_dir)
    # one-parse text twin (r12); `th` is a bare column reference so the
    # textual repetition inside the gram composition is O(1) reads, not
    # upstream fold re-evaluation (the ss_bind concern does not apply
    # to a materialized column)
    sh = tok.select(
        "doc_id",
        F.expr(
            f"array_distinct({ss_gram_hash_array('th', SHINGLE_N)})"
        ).alias("sh"),
    )
    # The shingle table is the compact derived representation every
    # near-dup query builds on (~8 B × shingles per doc, far smaller
    # than the text). cache() keys on the canonicalized plan, so the
    # signature/band/verify stages — and sibling queries in the same
    # session — all reuse one materialization instead of re-folding
    # the corpus.
    return tracked_cache(sh)


def _sql_shingle_hashes() -> str:
    th = sql_token_hash_array("string_split(text, chr(32))")
    return (
        f"SELECT doc_id, list_distinct({sql_gram_hash_array('th', SHINGLE_N)}) AS sh "
        f"FROM (SELECT doc_id, {th} AS th FROM documents)"
    )


@register(
    "minhash_signatures",
    oracle=f"""
    WITH sh AS ({_sql_shingle_hashes()})
    SELECT doc_id, {", ".join(f"{sql_minhash_value('sh', a, b)} AS mh{i}" for i, (a, b) in enumerate(MINHASH_PARAMS[:N_HASHES]))}
    FROM sh
    """,
    doc="MinHash signatures (8 fixed affine permutations over 3-shingles)",
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingle_hashes(spark, sf_dir)
    # one selectExpr parse per permutation (r12) — 8 strings instead of
    # ~8×10 py4j Column round-trips; same affine map + array_min
    return sh.selectExpr(
        "doc_id",
        *[
            f"{ss_minhash_value('sh', a, b)} AS mh{i}"
            for i, (a, b) in enumerate(MINHASH_PARAMS[:N_HASHES])
        ],
    )


def _band_key_sql(band: int) -> str:
    """Combine BAND_ROWS signature values into one band key (exact)."""
    lo, hi = band * BAND_ROWS, band * BAND_ROWS + 1
    return f"(mh{lo} * 2147483659 + mh{hi})"


@register(
    "minhash_lsh_candidates",
    oracle=f"""
    WITH sh AS ({_sql_shingle_hashes()}),
    sig AS (
        SELECT doc_id, {", ".join(f"{sql_minhash_value('sh', a, b)} AS mh{i}" for i, (a, b) in enumerate(MINHASH_PARAMS[:N_HASHES]))}
        FROM sh
    ),
    bands AS (
        {" UNION ALL ".join(f"SELECT doc_id, {b} AS band_idx, {_band_key_sql(b)} AS band_key FROM sig" for b in range(N_HASHES // BAND_ROWS))}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    """,
    doc="MinHash-LSH candidate pairs: band → bucket-join (linear, no O(n²))",
)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = minhash_signatures(spark, sf_dir)
    n_bands = N_HASHES // BAND_ROWS
    # One pass: posexplode an array of band keys instead of unioning
    # n_bands re-reads of the signature relation (a union would
    # recompute the whole signature lineage per band).
    # one-parse text (r12): 2147483659 is out of INT range so the SQL
    # literal parses as BIGINT, matching F.lit's LongType exactly
    band_keys = F.expr(
        "array("
        + ", ".join(
            f"mh{b * BAND_ROWS} * 2147483659 + mh{b * BAND_ROWS + 1}"
            for b in range(n_bands)
        )
        + ")"
    )
    bands = sig.select(
        "doc_id", F.posexplode(band_keys).alias("band_idx", "band_key")
    )
    a = bands.alias("a")
    b = bands.alias("b")
    # one-parse join condition + projection (r13): same expressions,
    # ~180 fewer py4j trips per consumer build
    return (
        a.join(
            b,
            F.expr(
                "a.band_idx = b.band_idx AND a.band_key = b.band_key"
                " AND a.doc_id < b.doc_id"
            ),
        )
        .selectExpr("a.doc_id AS doc_a", "b.doc_id AS doc_b")
        .distinct()
    )


@register(
    "jaccard_verified_pairs",
    oracle=f"""
    WITH sh AS ({_sql_shingle_hashes()}),
    sig AS (
        SELECT doc_id, {", ".join(f"{sql_minhash_value('sh', a, b)} AS mh{i}" for i, (a, b) in enumerate(MINHASH_PARAMS[:N_HASHES]))}
        FROM sh
    ),
    bands AS (
        {" UNION ALL ".join(f"SELECT doc_id, {b} AS band_idx, {_band_key_sql(b)} AS band_key FROM sig" for b in range(N_HASHES // BAND_ROWS))}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           len(list_intersect(x.sh, y.sh)) AS n_common,
           len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) AS n_union,
           CAST(floor((CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))) * 1000000.0 + 0.5) AS BIGINT)
               AS jaccard_e6
    FROM cand c
    JOIN sh x ON c.doc_a = x.doc_id
    JOIN sh y ON c.doc_b = y.doc_id
    WHERE len(list_intersect(x.sh, y.sh)) * 2 >= (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))
    """,
    doc="n-gram Jaccard ≥ 0.5 verification of LSH candidates (full near-dup pipeline)",
)
def jaccard_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_pairs_above(spark, sf_dir, JACCARD_THRESHOLD_E6)


JACCARD_THRESHOLD_E6 = 500_000  # default near-dup bar: Jaccard ≥ 0.5


def jaccard_pairs_above(
    spark: SparkSession, sf_dir: str, threshold_e6: int = JACCARD_THRESHOLD_E6
) -> DataFrame:
    """LSH candidates verified at a parameterized Jaccard threshold.

    The cut is exact rational arithmetic — ``n_common * 1e6 >= n_union *
    threshold_e6`` — never a comparison on the rounded ``jaccard_e6``
    column, so a pair sits on the same side of the bar in every engine
    and at every partitioning (and threshold monotonicity is exact:
    raising the bar can only shrink the result).
    """
    cand = minhash_lsh_candidates(spark, sf_dir)
    sh = _shingle_hashes(spark, sf_dir)
    x = sh.selectExpr("doc_id AS doc_a", "sh AS sh_a")
    y = sh.selectExpr("doc_id AS doc_b", "sh AS sh_b")
    joined = cand.join(x, "doc_a").join(y, "doc_b")
    # one-parse text twins of the Column exprs (r12): same coercions —
    # int/double division, D-suffixed double literals matching F.lit's
    # bits, floor(double)→BIGINT — so results are bit-identical
    inter_s = "size(array_intersect(sh_a, sh_b))"
    union_s = f"(size(sh_a) + size(sh_b) - {inter_s})"
    jac_s = (
        f"CAST(floor(CAST({inter_s} AS DOUBLE) / {union_s} "
        f"* 1000000.0D + 0.5D) AS BIGINT)"
    )
    out = joined.selectExpr(
        "doc_a",
        "doc_b",
        f"{inter_s} AS n_common",
        f"{union_s} AS n_union",
        f"{jac_s} AS jaccard_e6",
    ).filter(
        F.expr(
            "CAST(n_common AS BIGINT) * 1000000 "
            f">= CAST(n_union AS BIGINT) * {threshold_e6}"
        )
    )
    if threshold_e6 == JACCARD_THRESHOLD_E6:
        # The default-threshold pair relation feeds SEVEN downstream
        # consumers (components/reps, golden records, triangles,
        # k-core, label propagation, source matrix, threshold
        # histogram) — cache it like the shingle relation so the band
        # self-join + verify runs once per session, not once per
        # query. CacheManager keys on the canonicalized plan, so every
        # caller's identical build hits the same entry. Pair volume is
        # ~(dup rate × corpus) rows of 5 scalars — far smaller than
        # the corpus at any scale. Non-default thresholds (parameter
        # sweeps) stay uncached to avoid accumulating one entry per
        # threshold value.
        out = tracked_cache(out)
    return out


def sql_dup_pairs_cte(threshold_e6: int = JACCARD_THRESHOLD_E6) -> str:
    """CTE chain producing near-dup pairs (doc_a < doc_b) at a
    parameterized exact-rational Jaccard threshold, with the rounded
    ``jaccard_e6`` exposed — the single SQL twin of
    :func:`jaccard_pairs_above` every graph/matrix/histogram oracle
    composes (no per-oracle copies of the LSH candidate SQL)."""
    sig_cols = ", ".join(
        f"{sql_minhash_value('sh', a, b)} AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_PARAMS[:N_HASHES])
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, {_band_key_sql(b)} AS band_key FROM sig"
        for b in range(N_HASHES // BAND_ROWS)
    )
    return f"""
    sh AS ({_sql_shingle_hashes()}),
    sig AS (SELECT doc_id, {sig_cols} FROM sh),
    bands AS ({bands}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    dup_pairs AS (
        SELECT c.doc_a, c.doc_b,
               CAST(floor(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                   / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))
                   * 1000000.0 + 0.5) AS BIGINT) AS jaccard_e6
        FROM cand c JOIN sh x ON c.doc_a = x.doc_id JOIN sh y ON c.doc_b = y.doc_id
        WHERE len(list_intersect(x.sh, y.sh)) * 1000000
              >= (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) * {threshold_e6}
    )
    """


@register(
    "simhash_fingerprints",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, {sql_token_hash_array("string_split(text, chr(32))")} AS th
        FROM documents
    ),
    bits AS (
        SELECT doc_id, b.bit AS bit,
               sum(CASE WHEN (t.h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS w
        FROM (SELECT doc_id, unnest(th) AS h FROM tok) t
        CROSS JOIN (SELECT unnest(range(0, 31)) AS bit) b
        GROUP BY doc_id, b.bit
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN w > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
    doc="SimHash-31 fingerprints from token hashes (map-only per-doc bit vote)",
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole bit-vote is per-doc arithmetic, so it stays inside one
    row: for each bit 0..30 fold the token-hash array into a ±1 vote
    sum, then fold the set bits into the fingerprint. Zero shuffles —
    an explode + 31-bit crossJoin + two groupBys would move 31× the
    token count through two wide exchanges for what is a map-only job.
    Integer votes are order-independent, so the fold matches the
    oracle's group-sum exactly.

    The token-hash array is bound through a 1-element ``transform``
    lambda, NOT a projected column: CollapseProject would inline a
    projected alias into each of the 31 bit folds and re-run the
    char-fold per bit (measured 10.5 s vs 1.6 s at sf0.1). A lambda
    variable is evaluated once by construction.
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = F.expr(
        "element_at(transform(array(th0), th -> "
        "aggregate(sequence(0, 30), cast(0 as bigint), (acc, bit) -> acc + "
        "if(aggregate(th, cast(0 as bigint), "
        "(a, h) -> a + if((shiftright(h, bit) & 1) = 1, 1, -1)) > 0, "
        "shiftleft(cast(1 as bigint), bit), cast(0 as bigint)))), 1)"
    )
    return docs.select(
        "doc_id",
        F.expr(ss_token_hash_array("split(text, ' ')")).alias("th0"),
    ).select("doc_id", fp.alias("simhash"))


# --------------------------------------------------------------------------
# SimHash near-dup pairs — the banded-pigeonhole Hamming join that turns
# fingerprints into a dedup operator (Manku/Jain/Sarma, WWW'07 "Detecting
# Near-Duplicates for Web Crawling"). Reference context: the Scala repo
# outsources near-dup entirely (ArticleInfoProcess.scala:184-191); this is
# the second native flavor next to MinHash-LSH, catching the
# "few-bits-differ" regime MinHash's set semantics miss (e.g. one token
# swapped in a long doc barely moves Jaccard bands but flips ≤2-3 vote
# bits).
#
# Scale design (round-10 rewrite of the round-9 62-bit/16-bit-band
# scheme, whose fixed 2^16 band-key entropy made accidental candidate
# volume grow as n²/2^16 — ~76M verify rows at sf1, a wall at 10^7+
# docs): the fingerprint is 124 bits — FOUR independent 31-bit bit-vote
# blocks, each voted over a cheap affine re-hash (aᵢ·h + bᵢ) mod M of
# the ONE char-folded token hash (the same universal-family trick the
# MinHash signatures use) — packed into two BIGINT columns. Each band
# IS one full 31-bit block, so band-key entropy is 2^31: accidental
# bucket occupancy is n/2^31 per band and expected accidental candidate
# volume is 4·n²/2^32 — ~0.6 pairs at sf1's 50k docs, ~23k pairs at
# 10^7 docs, still ~2×10^8 (one shuffle's worth) at 10^9 docs. The
# pigeonhole guarantee is unchanged: any pair with Hamming(fp124) ≤ 3
# differs in at most 3 of the 4 blocks, so at least one band matches
# exactly. More corpus → more+wider blocks remains the dial, but the
# default now survives the 100-TB design point.
# --------------------------------------------------------------------------
SIMHASH_K = 3  # max Hamming distance admitted as a near-dup
# Four affine (a, b) maps over MOD = 2^31-1 deriving the four
# independent 31-bit vote inputs from the shared token hash. a < 2^31
# keeps a·h + b under 2^62 (no BIGINT overflow, ANSI-safe). Block 0 is
# the identity so fp_lo's low 31 bits equal simhash_fingerprints'
# 31-bit value.
SIMHASH_AFFINE = ((1, 0), (131, 911), (1009, 5417), (7919, 10007))
_SH_MOD = 2_147_483_647  # 2^31 - 1 (hashing.MOD, inlined into SQL text)


def _fp124_batches(it):
    """Arrow kernel: 124-bit SimHash fingerprints from token-hash
    arrays — the vectorized twin of the 31-bit HOF vote in
    :func:`simhash_fingerprints`, ×4 blocks.

    Exactness: every quantity is int64 (affine products < 2^44, bit
    counts < 2^20) — the kernel computes the same integers as the
    oracle's per-bit group-sum, just batched. Why Python here when the
    31-bit query stays a pure HOF: the vote is O(bits × tokens) and
    interpreted lambda evaluation priced the 124-fold form at ~17 s sf1
    versus ~2 s for this kernel (round-10 measurement) — same trade the
    SemDeDup gram kernel makes, declared via plan=("arrow",) at the
    register site.
    """
    import numpy as np
    import pandas as pd

    bit_w = np.int64(1) << np.arange(31, dtype="int64")
    for pdf in it:
        n = len(pdf)
        if n == 0:
            continue
        # NULL token arrays (arbitrary frames via simhash_band_state)
        # vote exactly like empty ones
        arrs = [
            np.asarray(a if a is not None else (), dtype="int64")
            for a in pdf["th"]
        ]
        lens = np.array([len(a) for a in arrs], dtype="int64")
        fp = np.zeros((n, 2), dtype="int64")
        if lens.sum() > 0:
            flat = np.concatenate(arrs)
            # reduceat runs over NON-EMPTY segments only: an empty
            # segment's start index would alias into a neighbour (a
            # TRAILING empty even indexes past the end — ADVICE r10
            # crash); empty/NULL token lists simply vote all-zero
            nz = lens > 0
            lens_nz = lens[nz]
            starts = np.zeros(len(lens_nz), dtype="int64")
            np.cumsum(lens_nz[:-1], out=starts[1:])
            for i, (a, b) in enumerate(SIMHASH_AFFINE):
                hh = flat if (a, b) == (1, 0) else (flat * a + b) % _SH_MOD
                # little-endian byte view → per-position bit matrix;
                # one reduceat sums all 31 bit columns per doc segment
                bits = np.unpackbits(
                    hh.astype("<u8").view("u1").reshape(-1, 8),
                    axis=1,
                    bitorder="little",
                )[:, :31]
                cnt = np.add.reduceat(bits.astype("int64"), starts, axis=0)
                votes = np.zeros((n, 31), dtype=bool)
                # sign of the ±1 vote sum, scattered back to batch rows
                votes[nz] = cnt * 2 > lens_nz[:, None]
                block = (votes * bit_w).sum(axis=1)
                fp[:, i // 2] |= block << (31 * (i % 2))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].to_numpy(),
                "fp_lo": fp[:, 0],
                "fp_hi": fp[:, 1],
            }
        )


def simhash124_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fp_lo, fp_hi): four independent 31-bit votes packed
    into two 62-bit BIGINT halves (124-bit fingerprint).

    Built on the shared cached :func:`_token_hashes` relation — the
    char-fold runs once and the four vote blocks are one Arrow pass
    (:func:`_fp124_batches`). Cached because the band relation is
    self-joined (Spark does NOT ReuseExchange a shared projection
    subtree — the uncached plan would run the kernel twice).
    """
    tok = _token_hashes(spark, sf_dir)
    fps = tok.mapInPandas(
        _fp124_batches, schema="doc_id long, fp_lo long, fp_hi long"
    )
    return tracked_cache(fps)


def _sql_fp124() -> str:
    """DuckDB CTE prefix computing (doc_id, fp_lo, fp_hi) — exact twin
    of :func:`simhash124_fingerprints`: one char-folded token hash,
    four affine re-hashes, 31-bit vote per block."""
    th = sql_token_hash_array("string_split(text, chr(32))")
    votes = []
    for i, (a, b) in enumerate(SIMHASH_AFFINE):
        hexp = "t.h" if (a, b) == (1, 0) else f"((t.h * {a} + {b}) % {_SH_MOD})"
        votes.append(
            f"sum(CASE WHEN ({hexp} >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS w{i}"
        )
    return f"""
    tok AS (
        SELECT doc_id, {th} AS th FROM documents
    ),
    bits AS (
        SELECT doc_id, b.bit AS bit,
               {", ".join(votes)}
        FROM (SELECT doc_id, unnest(th) AS h FROM tok) t
        CROSS JOIN (SELECT unnest(range(0, 31)) AS bit) b
        GROUP BY doc_id, b.bit
    ),
    fp AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN w0 > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
                  + sum(CASE WHEN w1 > 0 THEN (CAST(1 AS BIGINT) << (bit + 31)) ELSE 0 END)
                    AS BIGINT) AS fp_lo,
               CAST(sum(CASE WHEN w2 > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
                  + sum(CASE WHEN w3 > 0 THEN (CAST(1 AS BIGINT) << (bit + 31)) ELSE 0 END)
                    AS BIGINT) AS fp_hi
        FROM bits GROUP BY doc_id
    )
    """


# Band key i = 31-bit vote block i, extracted from the packed halves.
_SQL_BAND_KEY = """CASE i.band_idx WHEN 0 THEN fp_lo & 2147483647
                    WHEN 1 THEN fp_lo >> 31
                    WHEN 2 THEN fp_hi & 2147483647
                    ELSE fp_hi >> 31 END"""


def fp124_bands(fps: DataFrame) -> DataFrame:
    """(doc_id, fp_lo, fp_hi, band_idx, band_key): the join-ready
    banded form of a (doc_id, fp_lo, fp_hi) fingerprint relation —
    shared by the batch pair query and the streaming probe
    (streaming/simhashstream.py), so batch and stream band identically
    by construction."""
    band_arr = F.expr(
        "array(fp_lo & 2147483647, shiftright(fp_lo, 31), "
        "fp_hi & 2147483647, shiftright(fp_hi, 31))"
    )
    return fps.select(
        "doc_id",
        "fp_lo",
        "fp_hi",
        F.posexplode(band_arr).alias("band_idx", "band_key"),
    )


@register(
    "simhash_hamming_pairs",
    plan=("arrow",),  # the fp124 Arrow kernel (see _fp124_batches)
    oracle=f"""
    WITH {_sql_fp124()},
    bands AS (
        SELECT doc_id, fp_lo, fp_hi, i.band_idx AS band_idx,
               {_SQL_BAND_KEY} AS band_key
        FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS band_idx) i
    )
    SELECT DISTINCT doc_a, doc_b, hamming FROM (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
               CAST(bit_count(xor(x.fp_lo, y.fp_lo))
                  + bit_count(xor(x.fp_hi, y.fp_hi)) AS BIGINT) AS hamming
        FROM bands x JOIN bands y
          ON x.band_idx = y.band_idx AND x.band_key = y.band_key
         AND x.doc_id < y.doc_id
    ) v WHERE hamming <= {SIMHASH_K}
    """,
    doc="SimHash near-dup pairs: 124-bit fingerprint, 4×31-bit-band "
    "pigeonhole bucket-join, exact Hamming ≤ 3 verify (Manku et al. WWW'07)",
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate generation is an equi-join on (band_idx, band_key) —
    linear in docs × 4 bands, never O(n²); any pair within Hamming
    ``SIMHASH_K`` of each other on the 124-bit fingerprint shares at
    least one exact 31-bit band (pigeonhole: 3 differing bits can spoil
    at most 3 of 4 blocks). Band keys carry 31 bits of entropy, so
    accidental collisions are n/2³¹ per bucket — the candidate set
    stays ~linear past 10⁹ docs. Verification is one integer
    ``bit_count(xor)`` per half per candidate — no second join back to
    the corpus because the band rows carry the (cached, 16-byte)
    fingerprint with them.
    """
    fps = simhash124_fingerprints(spark, sf_dir)
    bands = fp124_bands(fps)
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("fp_lo").alias("lo_a"),
        F.col("fp_hi").alias("hi_a"),
        "band_idx",
        "band_key",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("fp_lo").alias("lo_b"),
        F.col("fp_hi").alias("hi_b"),
        "band_idx",
        "band_key",
    )
    ham = F.expr("bit_count(lo_a ^ lo_b) + bit_count(hi_a ^ hi_b)").cast("long")
    return (
        a.join(b, ["band_idx", "band_key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(ham <= F.lit(SIMHASH_K))
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .distinct()
    )


# --------------------------------------------------------------------------
# Cluster resolution: pairwise verdicts → connected components → one
# canonical survivor per cluster. A pairwise drop-doc_b anti-join
# handles A~B but not transitive A~B~C chains; min-label propagation
# does (operators/components.py), and the fixed round count lets DuckDB
# re-derive the labels exactly via unrolled CTEs.
# --------------------------------------------------------------------------
@register(
    "dedup_cluster_reps",
    oracle=None,  # set below — needs sql_dup_pairs_cte defined first
    doc="near-dup clusters: connected components over verified pairs, "
    "component-min survivor per doc (transitive chains collapse to one)",
)
def dedup_cluster_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from algorithmproject_spark_spark.operators.components import (
        connected_components_min_label,
    )

    pairs = jaccard_verified_pairs(spark, sf_dir)
    labels = connected_components_min_label(pairs)
    return labels.select(
        F.col("v").alias("doc_id"),
        F.col("lbl").alias("cluster_rep"),
        F.when(F.col("v") == F.col("lbl"), 1).otherwise(0).alias("is_survivor"),
    )


def _install_cluster_oracle() -> None:
    from dataclasses import replace

    from algorithmproject_spark_spark.operators.components import (
        CC_ITERS,
        sql_connected_components,
    )
    from algorithmproject_spark_spark.registry import REGISTRY

    oracle = f"""
    WITH {sql_dup_pairs_cte()},
    {sql_connected_components('dup_pairs')}
    SELECT v AS doc_id, lbl AS cluster_rep,
           CASE WHEN v = lbl THEN 1 ELSE 0 END AS is_survivor
    FROM cc{CC_ITERS}
    """
    REGISTRY["dedup_cluster_reps"] = replace(
        REGISTRY["dedup_cluster_reps"], oracle=oracle
    )


_install_cluster_oracle()


# Soft dedup: instead of DROPPING near-duplicates, downweight every
# member of a near-dup cluster by 1/|cluster| (ppm) so the cluster
# contributes ONE document's worth of training mass in expectation —
# the standard softer alternative to hard dedup (sampling weights in
# data-mixture builds; SemDeDup ablations report it as the
# quality-preserving variant). Singletons keep weight 1e6. Scale
# shape: the component labels cover only docs that appear in a
# verified pair (tiny vs the corpus), sizes are cluster-count-sized
# (broadcast); the corpus-side cost is ONE left equi-join on doc_id.
@register(
    "dedup_soft_weights",
    oracle=None,  # set below — shares the dup_pairs + components CTEs
    doc=(
        "soft near-dup weights: every member of a verified near-dup "
        "cluster gets weight 1e6/|cluster| ppm (cluster contributes "
        "one doc of training mass in expectation), singletons keep "
        "1e6 — connected components over verified pairs + one "
        "corpus-side left join, no drops"
    ),
)
def dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from algorithmproject_spark_spark.operators.components import (
        connected_components_min_label,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    labels = connected_components_min_label(
        jaccard_verified_pairs(spark, sf_dir)
    )
    sizes = labels.groupBy("lbl").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    clustered = labels.join(F.broadcast(sizes), "lbl").select(
        F.col("v").alias("doc_id"),
        F.col("lbl").alias("cluster_rep"),
        "cluster_size",
    )
    j = docs.join(clustered, "doc_id", "left")
    size = F.coalesce(F.col("cluster_size"), F.lit(1).cast("long"))
    return j.select(
        "doc_id",
        F.coalesce(F.col("cluster_rep"), F.col("doc_id")).alias("cluster_rep"),
        size.alias("cluster_size"),
        F.call_function("div", F.lit(1_000_000), size).alias("w_ppm"),
    )


def _install_soft_weights_oracle() -> None:
    from dataclasses import replace

    from algorithmproject_spark_spark.operators.components import (
        CC_ITERS,
        sql_connected_components,
    )
    from algorithmproject_spark_spark.registry import REGISTRY

    oracle = f"""
    WITH {sql_dup_pairs_cte()},
    {sql_connected_components('dup_pairs')},
    sw_sizes AS (
        SELECT lbl, CAST(count(*) AS BIGINT) AS cluster_size
        FROM cc{CC_ITERS} GROUP BY lbl
    ),
    sw_clustered AS (
        SELECT c.v AS doc_id, c.lbl AS cluster_rep, s.cluster_size
        FROM cc{CC_ITERS} c JOIN sw_sizes s USING (lbl)
    )
    SELECT d.doc_id,
           coalesce(c.cluster_rep, d.doc_id) AS cluster_rep,
           coalesce(c.cluster_size, 1) AS cluster_size,
           1000000 // coalesce(c.cluster_size, 1) AS w_ppm
    FROM documents d LEFT JOIN sw_clustered c ON d.doc_id = c.doc_id
    """
    REGISTRY["dedup_soft_weights"] = replace(
        REGISTRY["dedup_soft_weights"], oracle=oracle
    )


_install_soft_weights_oracle()


# Inverted-index n-gram Jaccard — the EXACT candidate generator, the
# deterministic alternative to MinHash banding. Build the shingle
# posting list, keep only rare shingles (2 <= df <= MAX_POSTING_DF),
# self-join postings on the shingle — candidate cost is Σ df² over
# rare shingles, capped at MAX_POSTING_DF × postings — then run the
# same exact-rational Jaccard verify as the LSH path. Recall contract
# (documented, not probabilistic): a near-dup pair is found iff it
# shares at least one rare shingle; boilerplate-free near-dups always
# do, while MinHash-LSH covers the corpus-wide-common-shingle corner
# with uniform probabilistic recall. Running both and unioning is the
# belt-and-braces production setup.
MAX_POSTING_DF = 10


@register(
    "ngram_jaccard_index_pairs",
    oracle=f"""
    WITH sh AS ({_sql_shingle_hashes()}),
    posts AS (SELECT doc_id, unnest(sh) AS g FROM sh),
    rare AS (
        SELECT g FROM posts GROUP BY g
        HAVING count(*) BETWEEN 2 AND {MAX_POSTING_DF}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM posts a
        JOIN rare r ON r.g = a.g
        JOIN posts b ON b.g = a.g AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           len(list_intersect(x.sh, y.sh)) AS n_common,
           len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) AS n_union
    FROM cand c
    JOIN sh x ON c.doc_a = x.doc_id
    JOIN sh y ON c.doc_b = y.doc_id
    WHERE len(list_intersect(x.sh, y.sh)) * 2
          >= (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))
    """,
    doc="exact n-gram Jaccard near-dup pairs via a rare-shingle "
    "inverted-index posting join (df-capped, deterministic recall "
    "contract) — the non-probabilistic sibling of the MinHash-LSH path",
)
def ngram_jaccard_index_pairs(
    spark: SparkSession, sf_dir: str, max_posting_df: int = MAX_POSTING_DF
) -> DataFrame:
    # max_posting_df is THE recall/cost knob at scale: candidate cost is
    # bounded by max_posting_df × |rare postings| while the recall
    # contract covers any pair sharing at least one shingle with
    # df ≤ cap. tools/scale_sweep.py sweeps its sensitivity.
    sh = _shingle_hashes(spark, sf_dir)
    posts = sh.select("doc_id", F.explode("sh").alias("g"))
    rare = (
        posts.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= max_posting_df))
        .select("g")
    )
    # Both sides of the candidate self-join are restricted to rare
    # shingles: a.g == b.g and a.g is rare implies b.g is rare, so
    # joining rare_posts to rare_posts is semantically identical to
    # joining against the full posting table while shuffling only the
    # df-capped subset on BOTH sides — at 100 TB the b-side shuffle of
    # the unfiltered posting relation would dominate this query's cost.
    # Pinned once: Catalyst does not dedupe the identical a/b subtrees,
    # so unpinned the explode + rare-df filter executes twice — a
    # data-scale duplicate at 100 TB (the sf0.1 reading moves ~10%
    # because the corpus is small there; the avoided work grows with
    # the posting table). The pinned relation is the df-capped posting
    # subset, tiny relative to the corpus by construction.
    rare_posts = posts.join(rare, "g").transform(tracked_local_checkpoint)
    cand = (
        rare_posts.alias("a")
        .join(
            rare_posts.alias("b"),
            (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    x = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    y = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    joined = cand.join(x, "doc_a").join(y, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return joined.select(
        "doc_a",
        "doc_b",
        inter.alias("n_common"),
        union.alias("n_union"),
    ).filter(F.col("n_common") * 2 >= F.col("n_union"))


# --------------------------------------------------------------------------
# Incremental ingest dedup — the production shape for a continuously
# growing corpus: dedup a NEW batch against the HISTORICAL corpus
# without ever re-running the full self-join. At 100 TB the historical
# band index is a maintained table; here both sides derive from the
# documents table via a deterministic hash split (80% historical / 20%
# new) so the whole pipeline stays oracle-checkable.
# --------------------------------------------------------------------------
INCR_SPLIT_MOD = 10
INCR_NEW_FROM = 8  # hash_mod(doc_id, 10) >= 8 → the "new batch" (~20%)


@register(
    "incremental_near_dup_ingest",
    oracle=f"""
    WITH sh AS ({_sql_shingle_hashes()}),
    sig AS (
        SELECT doc_id, {", ".join(f"{sql_minhash_value('sh', a, b)} AS mh{i}" for i, (a, b) in enumerate(MINHASH_PARAMS[:N_HASHES]))}
        FROM sh
    ),
    bands AS (
        {" UNION ALL ".join(f"SELECT doc_id, {b} AS band_idx, {_band_key_sql(b)} AS band_key FROM sig" for b in range(N_HASHES // BAND_ROWS))}
    ),
    cand AS (
        SELECT DISTINCT n.doc_id AS new_id, h.doc_id AS hist_id
        FROM bands n JOIN bands h
          ON n.band_idx = h.band_idx AND n.band_key = h.band_key
        WHERE {sql_hash_mod('n.doc_id', INCR_SPLIT_MOD)} >= {INCR_NEW_FROM}
          AND {sql_hash_mod('h.doc_id', INCR_SPLIT_MOD)} < {INCR_NEW_FROM}
    ),
    hits AS (
        SELECT c.new_id,
               count(*) AS n_hist_matches,
               CAST(max(CAST(floor((CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                    / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
                   AS max_jaccard_e6
        FROM cand c
        JOIN sh x ON c.new_id = x.doc_id
        JOIN sh y ON c.hist_id = y.doc_id
        WHERE len(list_intersect(x.sh, y.sh)) * 2
              >= (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))
        GROUP BY c.new_id
    )
    SELECT s.doc_id, coalesce(t.n_hist_matches, 0) AS n_hist_matches,
           t.max_jaccard_e6,
           (t.new_id IS NULL) AS admitted
    FROM sh s LEFT JOIN hits t ON t.new_id = s.doc_id
    WHERE {sql_hash_mod('s.doc_id', INCR_SPLIT_MOD)} >= {INCR_NEW_FROM}
    """,
    doc="Incremental ingest dedup: each new-batch doc LSH-probed "
    "against the historical corpus only (bands join bands across the "
    "split, never a full self-join), exact-Jaccard verified at 0.5, "
    "then every new doc labeled admitted/duplicate. The historical "
    "side is what a production pipeline keeps as a maintained band "
    "index: per-batch cost is O(batch × bands), independent of corpus "
    "size at equal bucket occupancy",
)
def incremental_near_dup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from algorithmproject_spark_spark.functions.numeric import ss_hash_mod

    sig = minhash_signatures(spark, sf_dir)
    sh = _shingle_hashes(spark, sf_dir)
    n_bands = N_HASHES // BAND_ROWS
    band_keys = F.array(
        *[
            (
                F.col(f"mh{b * BAND_ROWS}") * F.lit(2147483659)
                + F.col(f"mh{b * BAND_ROWS + 1}")
            )
            for b in range(n_bands)
        ]
    )
    bands = sig.select(
        "doc_id", F.posexplode(band_keys).alias("band_idx", "band_key")
    )
    is_new = F.expr(ss_hash_mod("doc_id", INCR_SPLIT_MOD)) >= INCR_NEW_FROM
    new_bands = bands.filter(is_new).select(
        F.col("doc_id").alias("new_id"), "band_idx", "band_key"
    )
    hist_bands = bands.filter(~is_new).select(
        F.col("doc_id").alias("hist_id"), "band_idx", "band_key"
    )
    cand = (
        new_bands.join(hist_bands, ["band_idx", "band_key"])
        .select("new_id", "hist_id")
        .distinct()
    )
    x = sh.select(F.col("doc_id").alias("new_id"), F.col("sh").alias("sh_a"))
    y = sh.select(F.col("doc_id").alias("hist_id"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.floor(
        inter.cast("double") / union * F.lit(1000000.0) + F.lit(0.5)
    ).cast("long")
    hits = (
        cand.join(x, "new_id")
        .join(y, "hist_id")
        .filter(inter * 2 >= union)
        .groupBy("new_id")
        .agg(
            F.count(F.lit(1)).alias("n_hist_matches"),
            F.max(jac).alias("max_jaccard_e6"),
        )
    )
    new_docs = sh.filter(is_new).select("doc_id")
    return (
        new_docs.join(hits, new_docs.doc_id == hits.new_id, "left_outer")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hist_matches"), F.lit(0)).alias(
                "n_hist_matches"
            ),
            "max_jaccard_e6",
            F.col("new_id").isNull().alias("admitted"),
        )
    )


@register(
    "dedup_label_prop_communities",
    oracle=None,  # installed below (needs the dup-pairs CTE + LPA unroll)
    doc="Label-propagation communities over the verified near-dup "
    "graph: synchronous LPA, most-frequent-neighbor label with min "
    "tie-break, 3 fixed rounds — splits weakly-bridged components "
    "into tight clusters (finer than connected components). Each "
    "round is one O(edges) equi-join + a per-vertex top-1 window; "
    "the DuckDB oracle unrolls one CTE per round",
)
def dedup_label_prop_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from algorithmproject_spark_spark.operators.labelprop import (
        label_propagation,
    )

    pairs = jaccard_pairs_above(spark, sf_dir).select("doc_a", "doc_b")
    return label_propagation(pairs).select(
        F.col("v").alias("doc_id"), "community"
    )


def _install_lpa_oracle() -> None:
    from dataclasses import replace

    from algorithmproject_spark_spark.operators.labelprop import (
        LPA_ITERS,
        sql_label_propagation,
    )
    from algorithmproject_spark_spark.registry import REGISTRY

    oracle = f"""
    WITH {sql_dup_pairs_cte()},
    lp_edges AS (
        SELECT doc_a AS s, doc_b AS d FROM dup_pairs
        UNION ALL
        SELECT doc_b AS s, doc_a AS d FROM dup_pairs
    ),
    {sql_label_propagation('lp_edges', LPA_ITERS)}
    SELECT v AS doc_id, lbl AS community FROM lp{LPA_ITERS}
    """
    REGISTRY["dedup_label_prop_communities"] = replace(
        REGISTRY["dedup_label_prop_communities"], oracle=oracle
    )


_install_lpa_oracle()


@register(
    "dedup_triangle_counts",
    oracle=None,  # installed below (needs the dup-pairs CTE)
    doc="Per-doc triangle participation over the verified near-dup "
    "graph (degree-ordered wedge joins — each triangle generated "
    "once from its minimum-(degree,id) vertex, hot-vertex wedge "
    "blowup eliminated). Dense triangle clusters flag template spam",
)
def dedup_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from algorithmproject_spark_spark.operators.triangles import (
        vertex_triangle_counts,
    )

    edges = jaccard_pairs_above(spark, sf_dir).select("doc_a", "doc_b")
    return vertex_triangle_counts(edges).select(
        F.col("v").alias("doc_id"), "n_triangles"
    )


def _install_triangle_oracle() -> None:
    from dataclasses import replace

    from algorithmproject_spark_spark.operators.triangles import (
        sql_vertex_triangle_counts,
    )
    from algorithmproject_spark_spark.registry import REGISTRY

    oracle = f"""
    WITH {sql_dup_pairs_cte()},
    tc_edges AS (SELECT doc_a AS a, doc_b AS b FROM dup_pairs),
    {sql_vertex_triangle_counts('tc_edges')}
    SELECT v AS doc_id, n_triangles FROM tc_counts
    """
    REGISTRY["dedup_triangle_counts"] = replace(
        REGISTRY["dedup_triangle_counts"], oracle=oracle
    )


_install_triangle_oracle()


@register(
    "cross_source_dup_matrix",
    oracle=None,  # installed below (needs the dup-pairs CTE)
    doc="Cross-source duplication matrix: verified near-dup pairs "
    "bucketed by their docs' (source_a, source_b) — the data-lineage "
    "leakage report that tells a curation run which feeds copy from "
    "which. Two broadcast dim joins over the pair relation",
)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = jaccard_pairs_above(spark, sf_dir).select("doc_a", "doc_b")
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    labeled = (
        pairs.join(
            F.broadcast(
                src.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("source").alias("sa"),
                )
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                src.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("source").alias("sb"),
                )
            ),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    return labeled.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_dup_pairs")
    )


@register(
    "near_dup_threshold_histogram",
    oracle=None,  # installed below
    doc="Near-dup threshold tuning curve in ONE pass: LSH candidates "
    "verified once, pair counts bucketed per Jaccard decile — the "
    "curve a curation run reads to place its dedup bar, without "
    "re-running the pipeline per candidate threshold",
)
def near_dup_threshold_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # threshold 0: keep every verified candidate, then bucket
    pairs = jaccard_pairs_above(spark, sf_dir, threshold_e6=0)
    return (
        pairs.select(
            F.expr("jaccard_e6 * 10 div 1000000").alias("decile")
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def _install_source_matrix_oracles() -> None:
    from dataclasses import replace

    from algorithmproject_spark_spark.registry import REGISTRY

    matrix = f"""
    WITH {sql_dup_pairs_cte()}
    SELECT LEAST(da.source, db.source) AS source_a,
           GREATEST(da.source, db.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
    FROM dup_pairs p
    JOIN documents da ON p.doc_a = da.doc_id
    JOIN documents db ON p.doc_b = db.doc_id
    GROUP BY 1, 2
    """
    REGISTRY["cross_source_dup_matrix"] = replace(
        REGISTRY["cross_source_dup_matrix"], oracle=matrix
    )

    hist = f"""
    WITH {sql_dup_pairs_cte(threshold_e6=0)}
    SELECT jaccard_e6 * 10 // 1000000 AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM dup_pairs GROUP BY 1
    """
    REGISTRY["near_dup_threshold_histogram"] = replace(
        REGISTRY["near_dup_threshold_histogram"], oracle=hist
    )


_install_source_matrix_oracles()


# --------------------------------------------------------------------------
# Asymmetric containment — excerpt/quote detection. Symmetric Jaccard
# misses the "small doc wholly inside a big doc" case (|A∩B|/|A∪B| is
# tiny when |B| >> |A|), and MinHash banding misses it for the same
# reason (band-collision probability IS the Jaccard). Containment
# |A∩B| / min(|A|,|B|) is the right measure, and the rare-shingle
# posting index is the right candidate generator: an excerpt shares
# its (df-capped) shingles with its container by construction, so the
# deterministic recall contract carries over unchanged.
# --------------------------------------------------------------------------
CONTAIN_E6 = 800_000  # smaller side ≥80% contained in the larger


@register(
    "excerpt_containment_pairs",
    oracle=f"""
    WITH sh AS ({_sql_shingle_hashes()}),
    ec_posts AS (SELECT doc_id, unnest(sh) AS g FROM sh),
    ec_rare AS (
        SELECT g FROM ec_posts GROUP BY g
        HAVING count(*) BETWEEN 2 AND {MAX_POSTING_DF}
    ),
    ec_rp AS (SELECT p.doc_id, p.g FROM ec_posts p JOIN ec_rare r ON r.g = p.g),
    ec_cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM ec_rp a JOIN ec_rp b ON b.g = a.g AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) AS n_common,
           CAST(least(len(x.sh), len(y.sh)) AS BIGINT) AS n_small,
           CAST(floor(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                / least(len(x.sh), len(y.sh)) * 1000000.0 + 0.5) AS BIGINT)
               AS containment_e6
    FROM ec_cand c
    JOIN sh x ON c.doc_a = x.doc_id
    JOIN sh y ON c.doc_b = y.doc_id
    WHERE CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) * 1000000
          >= CAST(least(len(x.sh), len(y.sh)) AS BIGINT) * {CONTAIN_E6}
    """,
    doc="excerpt/quote detection via asymmetric containment "
    "|A∩B|/min(|A|,|B|) ≥ 0.8 over the rare-shingle posting "
    "candidates — catches small-doc-inside-big-doc pairs that "
    "symmetric Jaccard (and therefore MinHash banding) structurally "
    "misses; exact-rational cut, both posting sides df-filtered",
)
def excerpt_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingle_hashes(spark, sf_dir)
    posts = sh.select("doc_id", F.explode("sh").alias("g"))
    rare = (
        posts.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= MAX_POSTING_DF))
        .select("g")
    )
    # pin the df-capped posting subset: the candidate self-join reads it
    # on BOTH sides and Catalyst does not dedupe the identical explode +
    # rare-df subtrees — same fix ngram_jaccard_index_pairs carries
    # (a cache, not a checkpoint: under AQE building a checkpoint runs
    # its upstream shuffle stages at build time; the cache fills inside
    # the one final job)
    rare_posts = tracked_cache(posts.join(rare, "g"))
    cand = (
        rare_posts.alias("a")
        .join(
            rare_posts.alias("b"),
            (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    x = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    y = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    joined = cand.join(x, "doc_a").join(y, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    small = F.least(F.size("sh_a"), F.size("sh_b")).cast("long")
    return (
        joined.select(
            "doc_a",
            "doc_b",
            inter.alias("n_common"),
            small.alias("n_small"),
            F.floor(
                inter.cast("double") / small * F.lit(1000000.0) + F.lit(0.5)
            ).cast("long").alias("containment_e6"),
        )
        .filter(F.col("n_common") * F.lit(1_000_000) >= F.col("n_small") * F.lit(CONTAIN_E6))
    )


# --------------------------------------------------------------------------
# Quality × duplication calibration — the cross-family report a
# curation pipeline uses to SET its thresholds: if low-quality docs
# duplicate at much higher rates (boilerplate, templates), quality
# filtering before dedup shrinks the expensive pair join; if not, the
# dedup pass must run first. Composes the quality family's repetition
# ratio with the verified near-dup membership — per quality quartile,
# the exact ppm of docs that sit in at least one verified pair.
#
# Quartiles are VALUE quartiles from exact order-statistic cut points
# computed over the COMPACTED (ratio -> count) distribution, not an
# ntile — ntile's global sort of the doc relation is exactly the
# 100 TB anti-pattern the exact-quantile family exists to avoid; the
# single-partition window here runs over distinct ratio values only,
# and tied docs land in one quartile in every engine.
# --------------------------------------------------------------------------
_QD_REP = (
    "CAST(floor(CAST(len(list_distinct(string_split(text, chr(32)))) AS DOUBLE)"
    " / len(string_split(text, chr(32))) * 1000000.0 + 0.5) AS BIGINT)"
)


@register(
    "quality_dup_calibration",
    plan=("scalar_cross",),
    oracle=f"""
    WITH {sql_dup_pairs_cte()},
    qd_m AS (
        SELECT doc_a AS doc_id FROM dup_pairs
        UNION SELECT doc_b FROM dup_pairs
    ),
    qd_q AS (SELECT doc_id, {_QD_REP} AS rep_ratio_e6 FROM documents),
    qd_d AS (SELECT rep_ratio_e6 AS v, COUNT(*) AS c FROM qd_q GROUP BY v),
    qd_c AS (
        SELECT v, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS n
        FROM qd_d
    ),
    qd_cuts AS (
        SELECT MIN(CASE WHEN cum * 4 >= n THEN v END) AS p25,
               MIN(CASE WHEN cum * 2 >= n THEN v END) AS p50,
               MIN(CASE WHEN cum * 4 >= n * 3 THEN v END) AS p75
        FROM qd_c
    ),
    qd_t AS (
        SELECT q.doc_id, q.rep_ratio_e6,
               1 + CASE WHEN q.rep_ratio_e6 > p25 THEN 1 ELSE 0 END
                 + CASE WHEN q.rep_ratio_e6 > p50 THEN 1 ELSE 0 END
                 + CASE WHEN q.rep_ratio_e6 > p75 THEN 1 ELSE 0 END AS quartile
        FROM qd_q q, qd_cuts
    )
    SELECT CAST(quartile AS INTEGER) AS quartile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(rep_ratio_e6) AS BIGINT) AS min_rep_e6,
           CAST(MAX(rep_ratio_e6) AS BIGINT) AS max_rep_e6,
           CAST(SUM(CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_members,
           CAST((SUM(CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000)
               // COUNT(*) AS BIGINT) AS dup_rate_ppm
    FROM qd_t t LEFT JOIN qd_m m USING (doc_id)
    GROUP BY quartile
    """,
    doc="curation-threshold calibration: per repetition-ratio VALUE "
    "quartile (exact order-statistic cuts from the compacted ratio "
    "distribution — no global doc sort), the exact ppm of docs "
    "belonging to at least one verified near-dup pair — decides "
    "whether quality filtering runs before or after the expensive "
    "dedup join",
)
def quality_dup_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from algorithmproject_spark_spark.functions.numeric import ss_ppm

    docs = load_table(spark, sf_dir, "documents")
    # cache(): the ratio relation feeds BOTH the cut-point aggregation
    # and the quartile assignment — uncached, the full-corpus tokenize
    # + array_distinct projection runs twice (the same recompute
    # diamond the shingle/doc-token caches close)
    q = docs.selectExpr(
        "doc_id",
        ss_micros(
            "CAST(size(array_distinct(split(text, ' '))) AS DOUBLE)"
            " / size(split(text, ' '))"
        )
        + " AS rep_ratio_e6",
    )
    q = tracked_cache(q)
    # exact quartile cut points over the compacted distribution: the
    # single-partition window covers DISTINCT ratio values (bounded by
    # the e6 value domain), never the doc relation
    dist = q.groupBy(F.col("rep_ratio_e6").alias("v")).agg(
        F.expr("count(1) AS c")
    )
    cum = dist.selectExpr(
        "v",
        "sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND"
        " CURRENT ROW) AS cum",
        "sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND"
        " UNBOUNDED FOLLOWING) AS n",
    )
    cuts = cum.agg(
        F.expr("min(CASE WHEN cum * 4 >= n THEN v END) AS p25"),
        F.expr("min(CASE WHEN cum * 2 >= n THEN v END) AS p50"),
        F.expr("min(CASE WHEN cum * 4 >= n * 3 THEN v END) AS p75"),
    )
    tiled = q.crossJoin(F.broadcast(cuts)).selectExpr(
        "doc_id",
        "rep_ratio_e6",
        "1 + CAST(rep_ratio_e6 > p25 AS INT)"
        " + CAST(rep_ratio_e6 > p50 AS INT)"
        " + CAST(rep_ratio_e6 > p75 AS INT) AS quartile",
    )
    pairs = jaccard_verified_pairs(spark, sf_dir)
    members = (
        pairs.selectExpr("doc_a AS doc_id")
        .union(pairs.select("doc_b"))
        .distinct()
        .withColumn("__m", F.lit(1))
    )
    return (
        tiled.join(members, "doc_id", "left")
        .groupBy("quartile")
        .agg(
            F.expr("count(1) AS n_docs"),
            F.expr("min(rep_ratio_e6) AS min_rep_e6"),
            F.expr("max(rep_ratio_e6) AS max_rep_e6"),
            F.expr(
                "sum(CAST(__m IS NOT NULL AS BIGINT)) AS n_dup_members"
            ),
        )
        .selectExpr(
            "quartile",
            "n_docs",
            "min_rep_e6",
            "max_rep_e6",
            "n_dup_members",
            ss_ppm("n_dup_members", "n_docs") + " AS dup_rate_ppm",
        )
    )


# --------------------------------------------------------------------------
# Near-dup flavor agreement: the engine ships TWO native near-dup
# detectors (banded MinHash-Jaccard, banded SimHash-Hamming) with
# different geometry (set overlap vs bit-vote cosine). Before choosing
# one at 100 TB you measure how much they agree ON THIS CORPUS — the
# confusion report between the two pair sets.
# --------------------------------------------------------------------------
@register(
    "neardup_flavor_agreement",
    plan=("arrow",),  # composes simhash_hamming_pairs' fp124 kernel
    oracle=None,  # installed below (composes both pair CTE chains)
    doc=(
        "agreement report between the two native near-dup flavors: "
        "pairs found by banded MinHash-Jaccard vs banded SimHash-"
        "Hamming — counts of both/minhash-only/simhash-only and the "
        "pair-set Jaccard in ppm; one full-outer join of two bounded "
        "candidate-verified pair relations"
    ),
)
def neardup_flavor_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    mh = jaccard_pairs_above(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("in_mh")
    )
    sh_p = simhash_hamming_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("in_sh")
    )
    j = mh.join(sh_p, ["doc_a", "doc_b"], "full_outer")
    both = "sum(CAST(in_mh IS NOT NULL AND in_sh IS NOT NULL AS BIGINT))"
    only_mh = F.sum(
        (F.col("in_mh").isNotNull() & F.col("in_sh").isNull()).cast("long")
    )
    only_sh = F.sum(
        (F.col("in_mh").isNull() & F.col("in_sh").isNotNull()).cast("long")
    )
    n_union = F.count(F.lit(1))
    from algorithmproject_spark_spark.functions.numeric import ss_ppm

    return j.agg(
        F.expr(both).alias("n_both"),
        only_mh.alias("n_minhash_only"),
        only_sh.alias("n_simhash_only"),
        n_union.cast("long").alias("n_union"),
        F.when(n_union > 0, F.expr(ss_ppm(both, "count(1)")))
        .otherwise(F.lit(None).cast("long"))
        .alias("agreement_ppm"),
    )


def _install_flavor_agreement_oracle() -> None:
    from dataclasses import replace

    from algorithmproject_spark_spark.functions.numeric import sql_ppm
    from algorithmproject_spark_spark.registry import REGISTRY

    # NOTE: sql_dup_pairs_cte already claims the names sh/sig/bands/
    # cand/dup_pairs, so the SimHash chain here uses fa_-prefixed names
    oracle = f"""
    WITH {sql_dup_pairs_cte()},
    {_sql_fp124()},
    fa_bands AS (
        SELECT doc_id, fp_lo, fp_hi, i.band_idx AS band_idx,
               {_SQL_BAND_KEY} AS band_key
        FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS band_idx) i
    ),
    fa_sh AS (
        SELECT DISTINCT doc_a, doc_b FROM (
            SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
                   bit_count(xor(x.fp_lo, y.fp_lo))
                 + bit_count(xor(x.fp_hi, y.fp_hi)) AS hamming
            FROM fa_bands x JOIN fa_bands y
              ON x.band_idx = y.band_idx AND x.band_key = y.band_key
             AND x.doc_id < y.doc_id
        ) v WHERE hamming <= {SIMHASH_K}
    ),
    fa_mh AS (SELECT doc_a, doc_b FROM dup_pairs),
    fa_j AS (
        SELECT COALESCE(m.doc_a, s.doc_a) AS doc_a,
               m.doc_a IS NOT NULL AS in_mh,
               s.doc_a IS NOT NULL AS in_sh
        FROM fa_mh m FULL OUTER JOIN fa_sh s
          ON m.doc_a = s.doc_a AND m.doc_b = s.doc_b
    )
    SELECT CAST(SUM(CASE WHEN in_mh AND in_sh THEN 1 ELSE 0 END) AS BIGINT)
               AS n_both,
           CAST(SUM(CASE WHEN in_mh AND NOT in_sh THEN 1 ELSE 0 END)
               AS BIGINT) AS n_minhash_only,
           CAST(SUM(CASE WHEN NOT in_mh AND in_sh THEN 1 ELSE 0 END)
               AS BIGINT) AS n_simhash_only,
           CAST(COUNT(*) AS BIGINT) AS n_union,
           CASE WHEN COUNT(*) > 0 THEN
               {sql_ppm('SUM(CASE WHEN in_mh AND in_sh THEN 1 ELSE 0 END)',
                        'COUNT(*)')}
           ELSE NULL END AS agreement_ppm
    FROM fa_j
    """
    REGISTRY["neardup_flavor_agreement"] = replace(
        REGISTRY["neardup_flavor_agreement"], oracle=oracle
    )


_install_flavor_agreement_oracle()
