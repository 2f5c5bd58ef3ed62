"""Self-tests of the benchmark (about three minutes on 4 cores).

    python3 -m pytest perfbench/test_perfbench.py -q

Each workload runs once at the shortest window; the traced runs check
the per-layer names and the layer predictions the workloads exist for;
injected faults check that a query that raises or misses its pin is
counted as failed and left out of the timings.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(workload: str, trace: int = 0, env: dict | None = None, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd,
        env=dict(os.environ, **(env or {})),
        capture_output=True,
        text=True,
        timeout=180,
    )
    return proc


def last_json(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def assert_metrics(out: dict, section: str, stdout: str) -> None:
    expected = {m["name"]: m["unit"] for m in SPEC[section]}
    assert set(out["metrics"]) == set(expected)
    for name, unit in expected.items():
        m = out["metrics"][name]
        assert m["unit"] == unit
        assert isinstance(m["value"], (int, float))
        assert name in stdout.rsplit("\n", 2)[0]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_smoke(workload):
    proc = bench(workload)
    out = last_json(proc)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    assert_metrics(out, "end_to_end", proc.stdout)
    assert "failed_frac=0/" in proc.stdout
    assert "wall_over_task=" in proc.stdout


def test_traced_content_batch_launches_build_jobs_and_python_workers():
    proc = bench("content_batch", trace=1)
    out = last_json(proc)
    assert_metrics(out, "per_layer", proc.stdout)
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["queries.build_jobs"] > 0 and m["cacheutil.checkpoints"] > 0
    assert m["pyworker.cpu_s"] > 0


def test_traced_relational_export_bypasses_build_jobs_and_python():
    proc = bench("relational_export", trace=1)
    out = last_json(proc)
    assert_metrics(out, "per_layer", proc.stdout)
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["queries.build_jobs"] == 0
    assert m["pyworker.cpu_s"] < 0.05
    assert m["sources.write_files"] > 0 and m["sources.write_bytes"] > 0


def test_raise_and_pin_miss_count_as_failed_not_timed():
    from workloads import WORKLOADS

    queries = WORKLOADS["relational_export"].queries
    raised, missed = queries[0], queries[-1]
    proc = bench(
        "relational_export",
        env={"PERFBENCH_FAULTS": f"raise:{raised},miss:{missed}"},
    )
    out = last_json(proc)
    assert not out["correct"]
    # every query runs equally often, so two of them are this share
    assert out["failed"] * len(queries) == 2 * out["attempted"]
    assert f"FAILED {raised}: RuntimeError" in proc.stdout
    assert f"FAILED {missed}: pin mismatch" in proc.stdout
    with open(os.path.join(HERE, ".work", "runs.jsonl")) as f:
        record = json.loads(f.read().splitlines()[-1])
    assert set(record["query_s"]) == set(queries) - {raised, missed}


def test_fails_without_the_program():
    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        proc = bench("content_batch", cwd=bare)
    finally:
        shutil.rmtree(bare)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
