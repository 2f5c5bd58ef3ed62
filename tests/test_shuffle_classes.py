"""Shuffle-volume class gate (r7): every registered query's measured
shuffle/input ratio must stay within its recorded class.

tools/measure.py measures real bytes (status-store stage totals, build
plus exec stages) for the FULL registry on the engine session and
writes SHUFFLE_AUDIT_r{N}.json per round;
SHUFFLE_CLASSES.json records each query's allowed ratio (measured with
2x + 0.5 headroom, floored at 1.0). This test pins the contract both
ways:

- a NEW query without a class entry fails -> the audit must be re-run
  (full coverage can't silently rot back to a sample);
- a query whose latest audited ratio exceeds its class fails -> a plan
  regression (lost partial agg, new unnecessary shuffle, broadcast
  fell back to shuffle join) shows up as BYTES, not vibes.

Regenerate after an intentional plan change:
  SHUFFLE_AUDIT_JSON=SHUFFLE_AUDIT_r{N}.json \
  SHUFFLE_CLASSES_OUT=SHUFFLE_CLASSES.json python tools/measure.py <sf_dir>
and let the git diff document the new class.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


def _latest_audit() -> Path:
    arts = sorted(
        REPO.glob("SHUFFLE_AUDIT_r*.json"),
        key=lambda p: int(re.search(r"r(\d+)", p.name).group(1)),
    )
    assert arts, "no SHUFFLE_AUDIT_r*.json artifact committed"
    return arts[-1]


@pytest.fixture(scope="module")
def classes():
    return json.loads((REPO / "SHUFFLE_CLASSES.json").read_text())["max_ratio"]


@pytest.fixture(scope="module")
def audit():
    return json.loads(_latest_audit().read_text())["queries"]


def test_every_registered_query_has_a_shuffle_class(classes):
    from algorithmproject_spark_spark.queries import REGISTRY

    missing = sorted(set(REGISTRY) - set(classes))
    assert not missing, (
        f"queries without a shuffle class (re-run tools/measure.py "
        f"with SHUFFLE_CLASSES_OUT): {missing}"
    )


def test_latest_audit_covers_the_registry(audit):
    from algorithmproject_spark_spark.queries import REGISTRY

    missing = sorted(set(REGISTRY) - set(audit))
    assert not missing, f"latest audit artifact is missing: {missing}"


def test_no_audited_query_exceeds_its_class(classes, audit):
    bad = []
    for name, rec in audit.items():
        if "ratio" not in rec or name not in classes:
            continue
        if rec["ratio"] > classes[name]:
            bad.append((name, rec["ratio"], classes[name]))
    assert not bad, f"shuffle ratio regressions (measured, allowed): {bad}"


def test_no_audit_errors(audit):
    errs = {n: r["error"] for n, r in audit.items() if "error" in r}
    assert not errs, f"audit failed to run: {errs}"
