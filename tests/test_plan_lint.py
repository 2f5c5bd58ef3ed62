"""Registry-wide plan lint: every registered query's physical plan is
free of unbounded joins, undeclared Python nodes, and undesigned global
sorts. The allowlists in tools/plan_lint.py carry per-query
justifications; a new query that trips this test either fixes its plan
or documents why it belongs on a list."""

from __future__ import annotations

import os
import sys

import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(__file__), os.pardir, "tools"))

from plan_lint import lint_registry  # noqa: E402


def test_every_registered_plan_is_scale_clean(spark):
    violations = lint_registry(spark)
    assert violations == []


def test_undeclared_python_node_still_fails(spark):
    """The allow-lists are derived from register(plan=...) traits; a
    query with a Python eval node but NO 'arrow' trait must still be a
    violation (the derivation didn't silently allow everything). Two
    probes: a row-at-a-time UDF, and a grouped-agg pandas UDF, which
    Spark 4 plans as ``ArrowAggregatePython``."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from algorithmproject_spark_spark.registry import REGISTRY, register

    @register("_lint_probe_py", oracle=None, doc="test-only")
    def _probe(s, sf_dir):
        udf = F.udf(lambda x: x + 1, LongType())
        return s.range(10).select(udf(F.col("id")).alias("v"))

    @F.pandas_udf("double")
    def _median(v: pd.Series) -> float:
        return float(v.median())

    @register("_lint_probe_agg", oracle=None, doc="test-only")
    def _probe_agg(s, sf_dir):
        return s.range(10).groupBy((F.col("id") % 2).alias("k")).agg(
            _median(F.col("id")).alias("med")
        )

    probes = ["_lint_probe_py", "_lint_probe_agg"]
    try:
        v = lint_registry(spark, names=probes)
        assert v == [f"{n}: undeclared Python eval node" for n in probes]
    finally:
        for n in probes:
            del REGISTRY[n]


def test_unknown_plan_trait_rejected():
    import pytest

    from algorithmproject_spark_spark.registry import register

    with pytest.raises(ValueError, match="unknown plan traits"):
        register("_bad_trait", oracle=None, plan=("nonsense",))


def test_declared_traits_cover_the_old_allowlists():
    """The r6 hand-kept names must all carry the matching trait now
    (regression against losing an annotation in the migration)."""
    from algorithmproject_spark_spark.queries import REGISTRY

    assert "arrow" in REGISTRY["rake_topk"].plan
    assert "arrow" in REGISTRY["curation_pipeline"].plan
    assert "arrow" in REGISTRY["doc_pos_bigrams"].plan  # survives the
    # oracle re-install (dataclasses.replace, not a field rebuild)
    assert "scalar_cross" in REGISTRY["tfidf_top_terms"].plan
    assert "scalar_cross" in REGISTRY["customer_rfm_segments"].plan
    assert "global_sort" in REGISTRY["window_global_rownum"].plan
    assert "global_sort" in REGISTRY["seqlen_bucket_waste"].plan
