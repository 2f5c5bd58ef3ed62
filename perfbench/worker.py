"""One benchmark process: set-up, a cold pass, untimed warm-up passes,
then timed warm passes. Started by run.py, which owns its environment
and lifetime; writes one result JSON and exits.

A pass runs every query of the workload once, in an order drawn from the
seed. A query execution is build (``REGISTRY[name].fn``), the sink
action, for the files sink a read-back, and ``release_caches``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import time

from probes import (
    NullTracer,
    Py4jCounter,
    StatusStore,
    Tracer,
    persistent_rdds,
    pyworker_cpu_s,
    steal_s,
)
from workloads import WORKLOADS

SLOTS = 4


def spark_conf(work: str) -> dict[str, str]:
    return {
        # keep every stage of a run in the status store: the default
        # 1,000 is overrun within a few passes of the checkpointing loops
        "spark.ui.retainedStages": "1000000",
        "spark.ui.retainedJobs": "1000000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def fingerprint(df) -> dict:
    """Row count plus operators.checksum.table_checksum over all columns
    (renamed positionally so duplicate names cannot collide)."""
    from algorithmproject_spark_spark.operators.checksum import table_checksum

    cols = [f"c{i}" for i in range(len(df.columns))]
    row = table_checksum(df.toDF(*cols), cols).collect()[0]
    return {
        "rows": row["n_rows"],
        "checksum": [
            row["n_distinct_rows"],
            row["xor_hash"],
            row["min_hash"],
            row["max_hash"],
        ],
    }


def pin_matches(pin: dict | None, fp: dict) -> bool:
    if pin is None or pin["rows"] != fp["rows"]:
        return False
    return pin["checksum"] is None or pin["checksum"] == fp["checksum"]


def _dir_files(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _, files in os.walk(path):
        for name in files:
            if not name.startswith(("_", ".")):
                n += 1
                size += os.path.getsize(os.path.join(root, name))
    return n, size


class Bench:
    def __init__(self, args) -> None:
        self.wl = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.seconds = args.seconds
        self.data_dir = args.data_dir
        self.trace = bool(args.trace)
        self.work = os.path.dirname(os.path.abspath(args.result))
        self.out_dir = os.path.join(self.work, "out")
        self.tracer = Tracer() if self.trace else NullTracer()
        self.pins = self._load_pins(args.pins)
        self.record_pins = args.record_pins
        faults = os.environ.get("PERFBENCH_FAULTS", "")
        self.faults = dict(f.split(":", 1)[::-1] for f in faults.split(",") if f)
        for q, kind in self.faults.items():
            if kind == "miss":
                self.pins[q] = dict(self.pins[q], rows=self.pins[q]["rows"] + 1)
        self.executions = {q: 0 for q in self.wl.queries}
        self.failed: dict[str, str] = {}
        self.fingerprints: dict[str, dict] = {}
        self.setup: dict[str, float] = {}

    def _load_pins(self, path: str) -> dict:
        with open(path) as f:
            return json.load(f).get(self.wl.name, {})

    # -- set-up -------------------------------------------------------
    def start(self, spawned_at: float) -> float:
        t = time.perf_counter()
        with self.tracer.span("session"):
            from algorithmproject_spark_spark.session import get_spark

            self.spark = get_spark(
                f"perfbench-{self.wl.name}",
                master=f"local[{SLOTS}]",
                extra_conf=spark_conf(self.work),
            )
        t1 = time.perf_counter()
        with self.tracer.span("registry"):
            from algorithmproject_spark_spark.cacheutil import release_caches
            from algorithmproject_spark_spark.queries import REGISTRY
            from algorithmproject_spark_spark.queries.itemsets import (
                clear_itemset_cache,
            )
            from algorithmproject_spark_spark.sources import readers, writers
            from algorithmproject_spark_spark.sources.catalog import load_table
        t2 = time.perf_counter()
        with self.tracer.span("load"):
            for name in self.wl.tables:
                load_table(self.spark, self.data_dir, name)
        t3 = time.perf_counter()
        setup_s = time.monotonic() - spawned_at
        self.setup = {
            "session.start_s": t1 - t,
            "queries.import_s": t2 - t1,
            "sources.load_s": t3 - t2,
        }
        self.registry = REGISTRY
        self.readers, self.writers = readers, writers
        self._release = lambda: (release_caches(), clear_itemset_cache())
        self.store = StatusStore(self.spark)
        self.py4j = Py4jCounter() if self.trace else None
        return setup_s

    # -- one query execution -------------------------------------------
    def execute(self, q: str, check: bool, layers: dict | None) -> float | None:
        """Run query ``q`` once; return its wall time, or None if it
        raised. ``check`` fingerprints the output instead of the plain
        sink action; ``layers`` (traced passes only) accumulates
        per-layer counters."""
        self.executions[q] += 1
        span = self.tracer.span
        t0 = time.perf_counter()
        with span("query", query=q):
            try:
                df = self._build(q, layers)
                if layers is not None:
                    with span("plan"):
                        p0 = time.perf_counter()
                        df._jdf.queryExecution().executedPlan()
                        layers["catalyst.plan_s"] += time.perf_counter() - p0
                out = self._sink(q, df, check, layers)
            except Exception as exc:  # a failing query is counted, not fatal
                self.failed.setdefault(q, f"{type(exc).__name__}: {exc}"[:500])
                return None
            finally:
                with span("release"):
                    r0 = time.perf_counter()
                    self._release()
                    if layers is not None:
                        layers["cacheutil.release_s"] += time.perf_counter() - r0
        if check:
            self.fingerprints[q] = out
            if not self.record_pins and not pin_matches(self.pins.get(q), out):
                self.failed.setdefault(q, f"pin mismatch: {out}")
        return time.perf_counter() - t0

    def _build(self, q: str, layers: dict | None):
        fn = self.registry[q].fn
        if self.faults.get(q) == "raise":
            raise RuntimeError(f"injected failure in {q}")
        with self.tracer.span("build"):
            if layers is None:
                return fn(self.spark, self.data_dir)
            cp0 = persistent_rdds(self.spark)
            b0 = time.perf_counter()
            with self.py4j.window():
                df = fn(self.spark, self.data_dir)
            layers["queries.build_s"] += time.perf_counter() - b0
            layers["queries.build_py4j_calls"] += self.py4j.last
        st = self.store.take()
        layers["queries.build_jobs"] += st["jobs"]
        layers["queries.build_stages"] += st["stages"]
        layers["queries.build_task_s"] += st["task_run_s"]
        layers["cacheutil.checkpoints"] += persistent_rdds(self.spark) - cp0
        return df

    def _sink(self, q: str, df, check: bool, layers: dict | None):
        span = self.tracer.span
        e0 = time.perf_counter()
        if self.wl.sink == "noop":
            with span("exec"):
                out = fingerprint(df) if check else _noop(df)
            self._exec_layers(layers, time.perf_counter() - e0)
            return out
        path = os.path.join(self.out_dir, q)
        json_out = q in self.wl.json_queries
        with span("exec", sink="json" if json_out else "parquet"):
            if json_out:
                self.writers.write_json(df, path)
            else:
                self.writers.write_parquet(df, path)
        write_s = time.perf_counter() - e0
        self._exec_layers(layers, write_s)
        with span("readback"):
            r0 = time.perf_counter()
            if json_out:
                back = self.readers.read_json(self.spark, path, schema=df.schema)
            else:
                back = self.readers.read_parquet(self.spark, path)
            out = fingerprint(back) if check else _noop(back)
            readback_s = time.perf_counter() - r0
        if layers is not None:
            self.store.take()  # read-back stages are not the sink's
            n, size = _dir_files(path)
            layers["sources.write_s"] += write_s
            layers["sources.write_files"] += n
            layers["sources.write_bytes"] += size
            layers["sources.readback_s"] += readback_s
        return out

    def _exec_layers(self, layers: dict | None, exec_s: float) -> None:
        if layers is None:
            return
        st = self.store.take()
        layers["exec.s"] += exec_s
        for key in EXEC_SUMS:
            layers[f"exec.{key}"] += st[key]
        layers["exec.peak_exec_mem_bytes"] = max(
            layers["exec.peak_exec_mem_bytes"], st["peak_exec_mem_bytes"]
        )

    # -- passes ---------------------------------------------------------
    def run_pass(self, kind: str, check: bool = False, traced: bool = False):
        order = list(self.wl.queries)
        self.rng.shuffle(order)
        layers = _zero_layers() if traced else None
        cpu0 = pyworker_cpu_s(os.getpid()) if traced else 0.0
        with self.tracer.span("pass", kind=kind):
            times = {q: self.execute(q, check, layers) for q in order}
        if traced:
            layers["pyworker.cpu_s"] = pyworker_cpu_s(os.getpid()) - cpu0
        return times, layers

    def window(self, kind: str, traced: bool = False) -> dict:
        """Passes started until ``seconds`` have elapsed, with the host
        figures for the window."""
        self.store.take()
        task0 = self.store.task_run_s
        steal0 = steal_s()
        t0 = time.perf_counter()
        passes = []
        while time.perf_counter() - t0 < self.seconds:
            passes.append(self.run_pass(kind, traced=traced))
        wall = time.perf_counter() - t0
        self.store.take()
        task_s = self.store.task_run_s - task0
        return {
            "passes": passes,
            "host.steal_s": steal_s() - steal0,
            # pass wall ÷ (task time / slots): ~1 when every slot is busy
            # with tasks; grows with driver-side work and with contention
            "host.wall_over_task": wall / (task_s / SLOTS) if task_s else None,
        }

    def timed_sum(self, times: dict) -> float:
        return sum(t for q, t in times.items() if q not in self.failed)


# status-store totals summed into exec.<key> per pass
EXEC_SUMS = (
    "jobs",
    "stages",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "failed_tasks",
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


PASS_LAYERS = (
    "queries.build_s",
    "queries.build_py4j_calls",
    "queries.build_jobs",
    "queries.build_stages",
    "queries.build_task_s",
    "cacheutil.checkpoints",
    "cacheutil.release_s",
    "catalyst.plan_s",
    "exec.s",
    *(f"exec.{key}" for key in EXEC_SUMS),
    "exec.peak_exec_mem_bytes",
    "sources.write_s",
    "sources.write_bytes",
    "sources.write_files",
    "sources.readback_s",
    "pyworker.cpu_s",
)


def _zero_layers() -> dict:
    return dict.fromkeys(PASS_LAYERS, 0)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--pins", required=True)
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--record-pins", action="store_true")
    args = ap.parse_args()

    bench = Bench(args)
    with bench.tracer.span("run", workload=bench.wl.name, seed=args.seed):
        with bench.tracer.span("setup"):
            setup_s = bench.start(args.spawned_at)
        cold, _ = bench.run_pass("cold")
        # Untimed warm-up as long as the timed window, so the JIT curve
        # has flattened before timing; its first pass is the pin check.
        t0 = time.perf_counter()
        bench.run_pass("check", check=True)
        while time.perf_counter() - t0 < bench.seconds:
            bench.run_pass("warmup")
        timed = bench.window("timed")
        traced = bench.window("traced", traced=True) if bench.trace else None

    timed_passes = [bench.timed_sum(t) for t, _ in timed["passes"]]
    result = {
        "workload": bench.wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "setup_s": setup_s,
        "cold_pass_s": bench.timed_sum(cold),
        "pass_s": statistics.median(timed_passes),
        "timed_passes": timed_passes,
        "query_s": {
            q: statistics.median(t[q] for t, _ in timed["passes"])
            for q in bench.wl.queries
            if q not in bench.failed
        },
        "attempted": sum(bench.executions.values()),
        "failed": sum(bench.executions[q] for q in bench.failed),
        "failed_queries": bench.failed,
        "host.steal_s": timed["host.steal_s"],
        "host.wall_over_task": timed["host.wall_over_task"],
        "fingerprints": bench.fingerprints,
    }
    if traced is not None:
        layer_passes = [layers for _, layers in traced["passes"]]
        layers = {
            k: statistics.median(p[k] for p in layer_passes) for k in PASS_LAYERS
        }
        traced_pass_s = statistics.median(
            bench.timed_sum(t) for t, _ in traced["passes"]
        )
        layers.update(bench.setup)
        layers["host.steal_s"] = traced["host.steal_s"]
        layers["host.wall_over_task"] = traced["host.wall_over_task"]
        layers["trace.pass_s"] = traced_pass_s
        layers["trace.overhead_s"] = traced_pass_s - result["pass_s"]
        result["layers"] = layers
        trace_path = os.path.join(
            bench.work, f"trace-{bench.wl.name}-{args.seed}.json"
        )
        bench.tracer.dump(trace_path)
        result["trace_file"] = trace_path
        result["self_s"] = bench.tracer.self_times()
        bench.py4j.close()

    with open(args.result, "w") as f:
        json.dump(result, f)
    bench.spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
