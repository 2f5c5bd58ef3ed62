"""Per-query measurement on the engine session.

Every per-query number this repo records comes from one loop,
:func:`measure_query`: bench.py's HEADLINE sweep calls it, and this
script runs it over named queries (no names = the whole registry).
Per query and rep it builds (``REGISTRY[name].fn``), runs the noop
write and releases caches; the timed quantity is the build plus the
write, exactly bench.py's. Each record carries

- ``build_s``, ``exec_s``: medians over the reps; ``median`` and
  ``spread`` ([min, max]) of their per-rep sum, and the sorted
  ``samples``;
- ``build_py4j``: py4j ``send_command`` trips the build makes, counted
  on the measuring thread only. Garbage is collected before the window,
  and py4j's finalizer thread, which sends the release commands of dead
  objects whenever it wakes, is not counted, so the figure does not
  depend on timing;
- ``build_jobs``, ``exec_jobs`` and the shuffle write, shuffle read and
  input bytes of build plus exec stages, from the in-process status
  store;
- ``plan_s``: ``executedPlan()`` on the last rep's DataFrame, after its
  write and before the release, outside every timed window.

Counts and bytes are the last rep's.

Usage: python tools/measure.py [--attr] sf_dir [query ...]

--attr also charges each build send to its innermost repo frame
(module:function) and prints the histogram: a shared helper charged
20k sends across the registry is worth more than one 3k-send query.

Env: SPARK_GRAFT_BENCH_REPS (default 1). SHUFFLE_AUDIT_JSON=<path>
writes ``{"sf_dir", "queries": {name: record}}``; each record adds
``shuffle_write_mb``, ``shuffle_read_mb``, ``input_mb``, ``ratio`` and
``sec``, or is ``{"error": ...}``. It is committed as
SHUFFLE_AUDIT_r{N}.json, which tests/test_shuffle_classes.py reads.
SHUFFLE_CLASSES_OUT=<path> (re)writes the per-query allowed
shuffle/input ratio classes that test gates future runs against.

Exits 2 on a usage error or an unknown query name (before any session
starts), and 1 after naming the queries that raised.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import threading
import time
import traceback
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from py4j.clientserver import ClientServerConnection

from algorithmproject_spark_spark.cacheutil import release_caches
from algorithmproject_spark_spark.queries import REGISTRY
from algorithmproject_spark_spark.queries.itemsets import clear_itemset_cache
from algorithmproject_spark_spark.session import get_spark

# A full-registry run is several stages per query x ~300 queries; keep
# them all in the status store so none is evicted before it is read.
RETAIN = {"spark.ui.retainedStages": "100000", "spark.ui.retainedJobs": "50000"}


def reps() -> int:
    return max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "1")))


def start_session(sf_dir: str):
    """The engine session, warmed up."""
    spark = get_spark("measure", extra_conf=RETAIN)
    spark.sparkContext.setLogLevel("ERROR")
    # Steady-state warmup: one trivial job + one tiny parquet read
    # (region, ~5 rows) amortizes JVM/codegen/parquet-footer init that a
    # long-running cluster pays once, not per query. No benchmarked
    # fact table is touched.
    spark.range(100).count()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    # Python Data Source worker pre-warm: the first pyds read pays
    # ~2.8 s of Python worker pool spin-up that a long-running cluster
    # pays once. A 64-row single-partition read through the connector
    # amortizes it so the benched pyds query records steady-state
    # connector cost, not process-fork overhead.
    from algorithmproject_spark_spark.sources.pydatasource import (
        register_datasource,
    )

    register_datasource(spark)
    (
        spark.read.format("synthetic_events")
        .option("n_rows", 64)
        .option("n_partitions", 1)
        .load()
        .count()
    )
    return spark


def _site(frame) -> str:
    """The innermost frame in repo code outside tools/, as
    ``path:function``."""
    while frame is not None:
        path = frame.f_code.co_filename
        if path.startswith(REPO) and "/tools/" not in path:
            return f"{os.path.relpath(path, REPO)}:{frame.f_code.co_name}"
        frame = frame.f_back
    return "<other>"


class Probe:
    """One session's py4j send hook and status-store cursor. The hook
    counts the creating thread's sends while ``on`` is set; ``close``
    restores py4j."""

    def __init__(self, spark, attr: bool = False) -> None:
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jvm = sc._jvm
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._no_tasks = jvm.java.util.ArrayList()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala, "MODULE$"))
        self._mapper = mapper
        self._last = {"jobId": -1, "stageId": -1}

        self.on = False
        self.sends = 0
        self.sites: Counter | None = Counter() if attr else None
        orig = self._orig = ClientServerConnection.send_command
        thread = threading.get_ident()

        def send(conn, *a, **kw):
            if self.on and threading.get_ident() == thread:
                self.sends += 1
                if self.sites is not None:
                    self.sites[_site(sys._getframe(1))] += 1
            return orig(conn, *a, **kw)

        ClientServerConnection.send_command = send
        self.take()

    def close(self) -> None:
        ClientServerConnection.send_command = self._orig

    def _newer(self, seq, key: str) -> list[dict]:
        """Entries of a newest-first status-store list whose id is above
        the last one seen. Ids only grow, so they are its head; counting
        by id, not by list length, stays exact if old entries are
        evicted."""
        if seq.isEmpty():
            return []
        last = self._last[key]
        head = json.loads(
            self._mapper.writeValueAsString(
                seq.take(max(0, getattr(seq.head(), key)() - last))
            )
        )
        new = [e for e in head if e[key] > last]
        if new:
            self._last[key] = max(e[key] for e in new)
        return new

    def take(self) -> dict:
        """Jobs and stage bytes added since the previous call, read after
        the listener bus has drained."""
        self._bus.waitUntilEmpty(60_000)
        jobs = self._newer(self._store.jobsList(None), "jobId")
        stages = self._newer(
            self._store.stageList(
                None, False, False, self._no_quantiles, self._no_tasks
            ),
            "stageId",
        )
        return {
            "jobs": len(jobs),
            **{
                f: sum(s.get(k, 0) for s in stages)
                for f, k in (
                    ("shuffle_write_bytes", "shuffleWriteBytes"),
                    ("shuffle_read_bytes", "shuffleReadBytes"),
                    ("input_bytes", "inputBytes"),
                )
            },
        }


def measure_query(spark, probe: Probe, sf_dir: str, name: str, n_reps: int = 1) -> dict:
    """Build, noop-write and release ``name`` ``n_reps`` times; return
    its record (module docstring). Raises what the query raises, after
    releasing its caches."""
    fn = REGISTRY[name].fn
    builds, execs, samples = [], [], []
    for rep in range(n_reps):
        try:
            probe.take()  # skip jobs run since the last read
            gc.collect()
            n0 = probe.sends
            probe.on = True
            t0 = time.perf_counter()
            try:
                df = fn(spark, sf_dir)
            finally:
                probe.on = False
            t1 = time.perf_counter()
            built = probe.take()  # between the two timed windows
            t2 = time.perf_counter()
            # Materialize every row without collecting any.
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            ran = probe.take()
            if rep == n_reps - 1:
                p0 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                plan_s = time.perf_counter() - p0
        finally:
            # Cache-isolate every query: without this, Spark's
            # CacheManager substitutes any matching cached subtree built
            # by an EARLIER query, so per-query numbers (time and bytes)
            # would depend on run order. The release is outside the timed
            # window — it charges each query its true standalone cost.
            release_caches()
            clear_itemset_cache()
        builds.append(t1 - t0)
        execs.append(t3 - t2)
        samples.append(round(t1 - t0 + t3 - t2, 3))
    samples.sort()
    return {
        "build_s": round(statistics.median(builds), 3),
        "exec_s": round(statistics.median(execs), 3),
        "plan_s": round(plan_s, 3),
        "median": round(statistics.median(samples), 3),
        "spread": [samples[0], samples[-1]],
        "samples": samples,
        "build_py4j": probe.sends - n0,
        "build_jobs": built["jobs"],
        "exec_jobs": ran["jobs"],
        **{k: built[k] + ran[k] for k in built if k != "jobs"},
    }


def audit_fields(rec: dict) -> dict:
    """The shuffle-audit view of a record."""
    write_mb = round(rec["shuffle_write_bytes"] / 1e6, 3)
    input_mb = round(rec["input_bytes"] / 1e6, 3)
    return {
        "shuffle_write_mb": write_mb,
        "shuffle_read_mb": round(rec["shuffle_read_bytes"] / 1e6, 3),
        "input_mb": input_mb,
        # shuffle/input ratio, the scale-posture number: >1 means the
        # plan moves more than it reads. Iterative fixed-point plans
        # legitimately exceed 1 (bounded iteration count); their class
        # records that. Tiny inputs floor at 0.05 MB so the ratio
        # stays meaningful for dimension tables.
        "ratio": round(write_mb / max(input_mb, 0.05), 3),
        "sec": round(rec["median"], 2),
    }


def write_classes(dest: str, sf_dir: str, out: dict) -> None:
    # Two classes: MAP-ONLY queries (measured ratio <= 0.01) are
    # pinned at 0.05 — a narrow plan that gains any real shuffle
    # (lost pushdown, new exchange) fails the gate. Everything
    # else gets measured*2 + 0.5 headroom, floored at 1.0 so
    # byte-level noise on near-zero shuffles never flakes.
    classes = {
        n: (0.05 if v["ratio"] <= 0.01 else round(max(v["ratio"] * 2 + 0.5, 1.0), 3))
        for n, v in out.items()
        if "ratio" in v
    }
    # Carry forward per-query rationale notes (why a high class is
    # acceptable) across regenerations.
    notes = {}
    if os.path.exists(dest):
        try:
            with open(dest) as fh:
                notes = json.load(fh).get("notes", {})
        except ValueError:  # corrupt file, start clean
            notes = {}
    with open(dest, "w") as fh:
        json.dump(
            {"sf_dir": sf_dir, "max_ratio": classes, "notes": notes},
            fh,
            indent=1,
            sort_keys=True,
        )


def main(argv: list[str]) -> int:
    attr = "--attr" in argv
    args = [a for a in argv if a != "--attr"]
    if not args or not os.path.isdir(args[0]):
        print("usage: measure.py [--attr] sf_dir [query ...]")
        return 2
    sf_dir, names = args[0], args[1:] or list(REGISTRY)
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2

    spark = start_session(sf_dir)
    probe = Probe(spark, attr=attr)
    n_reps = reps()
    out: dict[str, dict] = {}
    for name in names:
        try:
            rec = measure_query(spark, probe, sf_dir, name, n_reps)
        except Exception as exc:  # noqa: BLE001 - record it, keep sweeping
            traceback.print_exc()
            rec = {"error": f"{type(exc).__name__}: {exc}"[:200]}
        else:
            rec.update(audit_fields(rec))
        out[name] = rec
        print(json.dumps({"query": name, **rec}), flush=True)
    probe.close()

    ok = [r for r in out.values() if "error" not in r]
    print(
        "TOTAL "
        + " ".join(
            f"{k}={sum(r[k] for r in ok):.6g}"
            for k in ("build_s", "plan_s", "exec_s", "build_py4j", "build_jobs", "exec_jobs")
        )
        + f" over {len(ok)} queries"
    )
    if probe.sites is not None:
        for site, n in probe.sites.most_common(80):
            print(f"{n:8d}  {site}")
        print(json.dumps(dict(probe.sites.most_common())))

    dest = os.environ.get("SHUFFLE_AUDIT_JSON")
    if dest:
        with open(dest, "w") as fh:
            json.dump({"sf_dir": sf_dir, "queries": out}, fh, indent=1, sort_keys=True)
        print(f"wrote {dest}")
    cls_dest = os.environ.get("SHUFFLE_CLASSES_OUT")
    if cls_dest:
        write_classes(cls_dest, sf_dir, out)
        print(f"wrote {cls_dest}")
    spark.stop()

    failed = [n for n, r in out.items() if "error" in r]
    if failed:
        print(f"FAILED ({len(failed)}): {' '.join(failed)}")
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
