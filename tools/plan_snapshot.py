"""Snapshot every registered query's OPTIMIZED logical plan and its
DuckDB oracle SQL to files.

Equivalence gate for the r13 one-parse conversions: converting a
Column-API tower to SQL text must leave the optimized plan IDENTICAL
(modulo expression ids, which differ per session). Snapshot before the
edit, snapshot after, diff the normalized texts — any real semantic
drift (literal type change, different cast, lost alias) shows up as a
plan diff long before an oracle run would catch it. Beside each
``<name>.txt`` plan the tool writes ``<name>.oracle.sql`` (the
registered oracle string, or ``None``), so one ``diff -r`` of two
snapshots also proves the reference SQL unchanged.

Usage: python tools/plan_snapshot.py <outdir> [query ...]
(no queries = whole registry). $SPARK_GRAFT_SF_DIR picks the data
(default sf0.001 — plan shape only, so the smallest fixture is right).

A query whose build raises is written as ``BUILD FAILED: …`` and the
run exits 1 after listing the failed names, so a before/after diff in
which both sides failed to build can never pass as "identical".
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from algorithmproject_spark_spark.queries import REGISTRY
from algorithmproject_spark_spark.session import get_spark


def normalize(plan: str) -> str:
    """Strip session-dependent tokens: expression ids (#123), lambda
    variable ids (x_1 -> x_), cache-build run ids inside InMemoryRelation
    output, and parquet scan paths' temp fragments."""
    plan = re.sub(r"#\d+", "#", plan)
    plan = re.sub(r"\b(lambda )?([a-zA-Z]\w*)_\d+\b", r"\1\2_", plan)
    plan = re.sub(r"LocalTableScan \[.*", "LocalTableScan [...]", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    plan = re.sub(r"lambda [A-Za-z_]\w*#", "lambda v#", plan)
    return plan


def main() -> int:
    outdir = sys.argv[1]
    names = sys.argv[2:] or sorted(REGISTRY)
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    spark = get_spark("plan-snapshot")
    spark.sparkContext.setLogLevel("ERROR")

    from algorithmproject_spark_spark.cacheutil import release_caches
    from algorithmproject_spark_spark.queries.itemsets import clear_itemset_cache

    failed = []
    for name in names:
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            plan = str(df._jdf.queryExecution().optimizedPlan())
        except Exception as exc:
            plan = f"BUILD FAILED: {exc}"
            failed.append(name)
        with open(os.path.join(outdir, f"{name}.txt"), "w", encoding="utf-8") as fh:
            fh.write(normalize(plan))
        with open(os.path.join(outdir, f"{name}.oracle.sql"), "w", encoding="utf-8") as fh:
            fh.write(str(REGISTRY[name].oracle))
        release_caches()
        clear_itemset_cache()
        print(name, flush=True)
    spark.stop()
    if failed:
        print(f"BUILD FAILED ({len(failed)}): {' '.join(failed)}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
