"""KS drift matrix (queries/kstest.py) and Wilson keep-rate CI
(queries/qualitymodel.py)."""

from __future__ import annotations

import math

from algorithmproject_spark_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def _ppm(count: int, total: int) -> int:
    q, r = divmod(count * 1000, total)
    return q * 1000 + r * 1000 // total


def test_ks_matrix_matches_python(spark):
    from algorithmproject_spark_spark.queries.qualitymodel import (
        quality_logit_cols,
    )
    from algorithmproject_spark_spark.sources.catalog import load_table

    rows = (
        load_table(spark, SF, "documents")
        .select("source", quality_logit_cols("text")[2])
        .collect()
    )
    per_src: dict[str, list[int]] = {}
    for r in rows:
        per_src.setdefault(r["source"], []).append(r["score_ppm"])
    domain = sorted({s for v in per_src.values() for s in v})
    cdf = {}
    for src, vals in per_src.items():
        vals.sort()
        n = len(vals)
        cum = 0
        i = 0
        out = {}
        for s in domain:
            while i < n and vals[i] <= s:
                cum += 1
                i += 1
            out[s] = _ppm(cum, n)
        cdf[src] = out
    want = {}
    srcs = sorted(per_src)
    for i, a in enumerate(srcs):
        for b in srcs[i + 1 :]:
            d = max(abs(cdf[a][s] - cdf[b][s]) for s in domain)
            want[(a, b)] = (len(per_src[a]), len(per_src[b]), d)
    got = {
        (r["source_a"], r["source_b"]): (r["n_a"], r["n_b"], r["ks_ppm"])
        for r in REGISTRY["source_score_ks_matrix"].fn(spark, SF).collect()
    }
    assert got == want
    # KS is a metric-bounded statistic and identical distributions give 0
    assert all(0 <= v[2] <= 1_000_000 for v in got.values())


def test_wilson_ci_matches_python(spark):
    got = {
        r["lang"]: r
        for r in REGISTRY["quality_keep_wilson_ci"].fn(spark, SF).collect()
    }
    assert got
    z = 1.96
    for lang, r in got.items():
        k, n = r["n_keep"], r["n_docs"]
        p = k / n
        z2 = z * z
        denom = 1.0 + z2 / n
        center = p + z2 / (2.0 * n)
        half = z * math.sqrt((p * (1.0 - p) + z2 / (4.0 * n)) / n)
        lo = math.floor((center - half) / denom * 1_000_000.0 + 0.5)
        hi = math.floor((center + half) / denom * 1_000_000.0 + 0.5)
        assert r["wilson_lo_ppm"] == lo, lang
        assert r["wilson_hi_ppm"] == hi, lang
        # the interval brackets the point estimate and stays in [0, 1e6]
        assert 0 <= r["wilson_lo_ppm"] <= r["keep_ppm"] <= r["wilson_hi_ppm"]
        assert r["wilson_hi_ppm"] <= 1_000_000
