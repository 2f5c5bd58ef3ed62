"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload in a fresh benchmark process (perfbench/worker.py)
and prints, as its last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. Metric names and units come
from BENCHMARK.json: with ``--trace 0`` every ``end_to_end`` metric,
with ``--trace 1`` every ``per_layer`` metric. The lines before it give
the same figures for a reader, with ``failed_frac`` and the contention
figures of the run. Each run is also appended to
``perfbench/.work/runs.jsonl`` for perfbench/summary.py.

Everything the run writes stays under ``perfbench/.work``; every
process it starts is gone before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

from tiles import tiled_dir
from workloads import DATA_DIR, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PINS = os.path.join(HERE, "pins.json")
PACKAGE = os.path.join(ROOT, "algorithmproject_spark_spark", "__init__.py")
TIMEOUT_S = 140
MARKER = "PERFBENCH_RUN"


def metric_specs(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def _marked_pids(token: str) -> list[int]:
    """Processes started by this run: they inherit its marker variable
    (the PySpark daemon leaves the process group, so a group kill would
    miss it)."""
    needle = f"{MARKER}={token}".encode()
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/environ", "rb") as f:
                env = f.read().split(b"\0")
        except OSError:
            continue
        if needle in env:
            pids.append(int(pid))
    return pids


def reap(token: str, grace_s: float = 20.0) -> None:
    """Wait for every process of this run to end; kill what outlives
    the grace period."""
    deadline = time.monotonic() + grace_s
    while _marked_pids(token) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in _marked_pids(token):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while _marked_pids(token):
        time.sleep(0.1)


def run_worker(args, run_dir: str, extra: list[str] = ()) -> dict | None:
    """One benchmark process; its result, or None if it failed."""
    wl = WORKLOADS[args.workload]
    data_dir = DATA_DIR if wl.copies == 1 else tiled_dir(WORK, wl.tables, wl.copies)
    token = uuid.uuid4().hex
    result_path = os.path.join(run_dir, "result.json")
    for sub in ("tmp", "spark-local", "out"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    env = dict(
        os.environ,
        # Python workers import the package from the checkout root
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        # every JVM of the run (launcher and driver) keeps its temp files
        # in the run directory and writes no perf data under /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        SPARK_GRAFT_DRIVER_MEM="2g",
        **{MARKER: token},
    )
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--result", result_path,
        "--pins", PINS,
        "--data-dir", data_dir,
        *extra,
    ]
    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "w") as log:
        spawned_at = time.monotonic()
        proc = subprocess.Popen(
            [*cmd, "--spawned-at", repr(spawned_at)],
            env=env,
            cwd=run_dir,
            stdout=log,
            stderr=subprocess.STDOUT,
        )
        try:
            rc = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            rc = proc.wait()
        finally:
            reap(token)
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        print(f"benchmark process failed (exit {rc}):\n{tail}", file=sys.stderr)
        return None
    with open(result_path) as f:
        return json.load(f)


def report(res: dict, trace: int) -> dict:
    """Print the readable lines and return the final JSON object."""
    attempted, failed = res["attempted"], res["failed"]
    print(
        f"{res['workload']} seed={res['seed']}: "
        f"setup_s={res['setup_s']:.4f} s  cold_pass_s={res['cold_pass_s']:.4f} s  "
        f"pass_s={res['pass_s']:.4f} s over {len(res['timed_passes'])} passes  "
        f"failed_frac={failed}/{attempted}={failed / attempted:.4f} (fraction)"
    )
    for q, why in res["failed_queries"].items():
        print(f"  FAILED {q}: {why}")
    print(
        f"host: steal_s={res['host.steal_s']:.3f} s  "
        f"wall_over_task={res['host.wall_over_task']:.3f} (ratio)"
    )
    if trace:
        values = res["layers"]
        specs = metric_specs("per_layer")
        for name, unit in specs.items():
            print(f"  {name} = {values[name]} {unit}")
        print("  self time by span: " + ", ".join(
            f"{k}={v:.3f} s" for k, v in sorted(res["self_s"].items())
        ))
        print(f"  spans written to {os.path.relpath(res['trace_file'], ROOT)}")
    else:
        values = res
        specs = metric_specs("end_to_end")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in specs.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    if not os.path.exists(PACKAGE):
        print(f"program not found: {os.path.relpath(PACKAGE, ROOT)}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        res = run_worker(args, run_dir)
        if res is None:
            return 1
        if "trace_file" in res:
            kept = os.path.join(WORK, os.path.basename(res["trace_file"]))
            shutil.move(res["trace_file"], kept)
            res["trace_file"] = kept
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    out = report(res, args.trace)
    res.pop("fingerprints")
    res["seconds"] = args.seconds
    res["time"] = time.strftime("%Y-%m-%dT%H:%M:%S")
    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps(res) + "\n")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
