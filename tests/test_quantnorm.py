"""Cross-source quantile normalization (queries/quantnorm.py)."""

from __future__ import annotations

from algorithmproject_spark_spark.queries import REGISTRY
from algorithmproject_spark_spark.queries.quantnorm import BAND_PPM, N_PCT

SF = "/root/testdata/sf0.001"


def _ppm(count: int, total: int) -> int:
    q, r = divmod(count * 1000, total)
    return q * 1000 + r * 1000 // total


def test_quantile_norm_matches_python(spark):
    from pyspark.sql import functions as F

    from algorithmproject_spark_spark.queries.qualitymodel import (
        quality_logit_cols,
    )
    from algorithmproject_spark_spark.sources.catalog import load_table

    docs = load_table(spark, SF, "documents")
    sc = [
        (r["source"], r["score_ppm"])
        for r in docs.select(
            "source", quality_logit_cols("text")[2]
        ).collect()
    ]
    # pooled band -> cut score (step function with reverse fill)
    pooled = sorted(s for _, s in sc)
    n_pool = len(pooled)
    band_min: dict[int, int] = {}
    cum = 0
    for v in sorted(set(pooled)):
        cum += pooled.count(v)
        b = max((_ppm(cum, n_pool) + BAND_PPM - 1) // BAND_PPM, 1)
        band_min.setdefault(b, v)
    cuts: dict[int, int | None] = {}
    run = None
    for b in range(N_PCT, 0, -1):
        if b in band_min:
            run = band_min[b] if run is None else min(run, band_min[b])
        cuts[b] = run
    # per-source ranked table
    want = {}
    sources = {s for s, _ in sc}
    for src in sources:
        vals = sorted(v for s, v in sc if s == src)
        n = len(vals)
        cum = 0
        for v in sorted(set(vals)):
            c = vals.count(v)
            cum += c
            rank = _ppm(cum, n)
            band = max((rank + BAND_PPM - 1) // BAND_PPM, 1)
            want[(src, v)] = (c, rank, band, cuts[band])
    out = REGISTRY["source_score_quantile_norm"].fn(spark, SF).collect()
    got = {
        (r["source"], r["score_ppm"]): (
            r["n_docs"],
            r["rank_ppm"],
            r["pct_band"],
            r["norm_score_ppm"],
        )
        for r in out
    }
    assert got == want
    # invariants: rank is right-closed (max rank = 1e6 per source), and
    # normalization is monotone within a source
    for src in sources:
        rows = sorted(
            (s, r) for (s0, s), (_, r, _, _) in want.items() if s0 == src
        )
        assert max(r for _, r in rows) == 1_000_000
        norms = [
            got[(src, s)][3] for s, _ in rows
        ]
        assert norms == sorted(norms)


def test_no_rows_dropped_at_million_doc_source(spark, tmp_path):
    """r9 advice (medium): a source with > 1e6 docs floors its lowest
    ranks to rank_ppm = 0, whose unclamped ceiling band is 0 — the
    inner join to the 1..100 band grid silently dropped those
    (source, score) normalization rows in BOTH engines, so the oracle
    sweep could not catch it. The GREATEST(band, 1) clamp must keep
    the output row-complete: one row per compacted (source, score).
    """
    from pyspark.sql import functions as F

    from algorithmproject_spark_spark.queries.qualitymodel import (
        quality_logit_cols,
    )

    # Pick distinct short texts and find the one the quality head
    # scores LOWEST — that text gets exactly ONE doc, so its group has
    # cum = 1 and rank_ppm = floor(1e6 / n) = 0 at n > 1e6.
    texts = ["aa bb", "cc dd ee", "ff", "gg hh ii jj", "kk ll"]
    scored = (
        spark.createDataFrame([(t,) for t in texts], "text string")
        .select("text", quality_logit_cols("text")[2])
        .collect()
    )
    low = min(scored, key=lambda r: r["score_ppm"])["text"]
    mass = next(t for t in texts if t != low)
    n_mass = 1_100_000

    fixture = str(tmp_path / "million")
    (
        spark.range(n_mass + 1)
        .select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") == 0, F.lit(low))
            .otherwise(F.lit(mass))
            .alias("text"),
            F.lit("xx").alias("lang"),
            F.lit("bigsource").alias("source"),
            F.lit(5).cast("long").alias("n_chars"),
        )
        .coalesce(4)
        .write.mode("overwrite")
        .parquet(f"{fixture}/documents.parquet")
    )
    out = REGISTRY["source_score_quantile_norm"].fn(spark, fixture).collect()
    # compacted relation has exactly 2 (source, score) groups; both
    # must survive the band join
    assert len(out) == 2
    by_score = sorted(out, key=lambda r: r["score_ppm"])
    lowest = by_score[0]
    assert lowest["n_docs"] == 1
    assert lowest["rank_ppm"] == 0  # the regime that used to vanish
    assert lowest["pct_band"] == 1  # clamped into the grid
    assert lowest["norm_score_ppm"] is not None
