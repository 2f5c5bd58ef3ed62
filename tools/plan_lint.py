"""Registry-wide physical-plan linter — the 100 TB posture as one gate.

Per-query plan tests (tests/test_plans.py) pin the designed shapes of
individual operators; this linter sweeps EVERY registered query's
physical plan and fails on the classes of node that do not survive a
100× scale-up:

- ``CartesianProduct`` / ``BroadcastNestedLoopJoin``: O(n·m) joins. A
  tiny allowlist covers intentional bounded uses (a literal 1-row
  frame, a braodcast of a constant grid) — currently empty.
- a Python exec node outside the declared Arrow-kernel allowlist:
  Python in a hot path that was designed JVM-side is a regression, not
  a choice. Spark 4 names these ``BatchEvalPython``, ``Arrow*Python``
  (eval, grouped-agg, window), ``*InPandas`` and ``*InArrow`` (map,
  grouped and cogrouped maps, the stateful stream forms) and
  ``TransformWithStateIn*``.
- ``Exchange rangepartitioning`` outside the allowlist: a global sort
  where one wasn't designed (top-k LIMIT queries keep theirs — Spark
  plans ORDER BY+LIMIT as TakeOrderedAndProject, which never global-
  sorts, so a surviving rangepartitioning means an unbounded sort).

Usage: python tools/plan_lint.py   (prints violations, exit 1 on any)
Import surface: ``lint_registry(spark)`` for the pytest gate.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from algorithmproject_spark_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"

# Allow-lists are DERIVED from registry metadata (the `plan=` traits
# declared at each register() site) — r6 advice: a hand-kept name set
# here rots; a trait declared next to the query travels with it. The
# per-query justifications live as comments at the register sites.
def _trait(trait: str) -> set[str]:
    return {n for n, s in REGISTRY.items() if trait in s.plan}


# Queries whose Python nodes are the declared design (Arrow kernels,
# Python Data Sources, pyspark.ml fit paths).
ARROW_KERNELS = _trait("arrow")

# Queries with a designed rangepartitioning exchange. Every plain
# ORDER BY in the registry is LIMIT-bounded (TakeOrderedAndProject,
# never a global sort); declared entries are designed total orders or
# driver-sized outputs.
GLOBAL_SORT_OK = _trait("global_sort")

# BroadcastNestedLoopJoin allowed ONLY where the build side is bounded
# by construction — a broadcast 1-row aggregate or a ≤k-row literal
# query set — so the "nested loop" is a map-side constant lookup.
NESTED_LOOP_OK = _trait("scalar_cross")

PY_NODES = re.compile(
    r"BatchEvalPython|Arrow\w*Python|\w*In(?:Pandas|Arrow)|TransformWithStateIn"
)


def lint_registry(spark, names=None) -> list[str]:
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    violations: list[str] = []
    for name in names or REGISTRY:
        try:
            df = REGISTRY[name].fn(spark, SF)
        except Exception as exc:  # plan construction itself failed
            violations.append(f"{name}: plan build error: {exc}")
            continue
        p = df._jdf.queryExecution().explainString(mode)
        if name not in NESTED_LOOP_OK and (
            "CartesianProduct" in p or "BroadcastNestedLoopJoin" in p
        ):
            violations.append(f"{name}: unbounded join (cartesian/nested-loop)")
        if name not in ARROW_KERNELS and PY_NODES.search(p):
            violations.append(f"{name}: undeclared Python eval node")
        if name not in GLOBAL_SORT_OK and "rangepartitioning" in p.lower():
            violations.append(f"{name}: global sort (rangepartitioning)")
    return violations


def main() -> int:
    from algorithmproject_spark_spark.session import get_spark

    spark = get_spark("plan-lint")
    spark.sparkContext.setLogLevel("ERROR")
    bad = lint_registry(spark)
    for v in bad:
        print("VIOLATION", v)
    print(f"{len(REGISTRY) - len(bad)}/{len(REGISTRY)} plans clean")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
