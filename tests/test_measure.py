"""tools/measure.py: the one per-query measurement loop (bench.py's sweep
runs it too).

The loop runs in-process on the test session at SF_SMOKE with two reps,
so the counts (taken from the last rep) are steady state: a table's
first parquet read runs a schema job at build time, later reads hit the
table memo.
"""

from __future__ import annotations

import subprocess
import sys

import pytest

from tests.conftest import REPO, SF_SMOKE
from tools.measure import Probe, measure_query

FIELDS = {
    "build_s",
    "exec_s",
    "plan_s",
    "median",
    "spread",
    "samples",
    "build_py4j",
    "build_jobs",
    "exec_jobs",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "input_bytes",
}
QUERIES = ("q3_shipping_priority", "bpe_merge_induction", "doc_pii_masked")


@pytest.fixture(scope="module")
def records(spark):
    probe = Probe(spark)
    try:
        yield {q: measure_query(spark, probe, SF_SMOKE, q, 2) for q in QUERIES}
    finally:
        probe.close()


def test_every_field_is_recorded(records):
    for q, rec in records.items():
        assert FIELDS <= set(rec), (q, FIELDS - set(rec))
        assert rec["build_py4j"] > 0, q
        assert rec["exec_jobs"] >= 1, q
        assert len(rec["samples"]) == 2, q


def test_checkpoint_loop_runs_jobs_at_build(records):
    # cacheutil.tracked_local_checkpoint: under AQE even a lazy
    # checkpoint runs its upstream shuffle stages when the query is built
    assert records["bpe_merge_induction"]["build_jobs"] >= 1


def test_sql_query_build_runs_no_jobs(records):
    assert records["q3_shipping_priority"]["build_jobs"] == 0


def test_map_only_query_writes_no_shuffle(records):
    rec = records["doc_pii_masked"]
    assert rec["input_bytes"] > 0
    assert rec["shuffle_write_bytes"] == 0


def test_unknown_query_fails(spark):
    probe = Probe(spark)
    try:
        with pytest.raises(KeyError):
            measure_query(spark, probe, SF_SMOKE, "no_such_query")
    finally:
        probe.close()
    # the command line rejects it before starting a session
    run = subprocess.run(
        [sys.executable, str(REPO / "tools" / "measure.py"), SF_SMOKE, "no_such_query"],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert run.returncode == 2
    assert "no_such_query" in run.stdout
