"""Layer probes read from outside the program: spans, the Spark status
store, py4j round-trips and /proc.

Nothing here is imported by the program; the benchmark calls these
around each call into a layer.
"""

from __future__ import annotations

import contextlib
import gc
import json
import os
import time

from py4j.clientserver import ClientServerConnection

_TICK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory spans nested run → pass → query → {build, plan, exec,
    readback, release}; written out once, at exit."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part its children
        cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            d = s["end"] - s["start"] - child[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + d
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)


class NullTracer:
    """Untraced runs: spans cost nothing."""

    def span(self, name: str, **attrs):
        return contextlib.nullcontext({})


class Py4jCounter:
    """Counts py4j ``send_command`` round-trips inside :meth:`window`,
    as tools/py4j_count.py does. Garbage is collected before the window
    and automatic collection is paused inside it, so finalizer traffic
    from earlier objects is never charged to the window."""

    def __init__(self) -> None:
        self.n = 0
        self._on = False
        orig = ClientServerConnection.send_command
        counter = self

        def counting(conn, *a, **kw):
            if counter._on:
                counter.n += 1
            return orig(conn, *a, **kw)

        self._orig = orig
        ClientServerConnection.send_command = counting

    @contextlib.contextmanager
    def window(self):
        gc.collect()
        gc.disable()
        start = self.n
        self._on = True
        try:
            yield
        finally:
            self._on = False
            gc.enable()
            self.last = self.n - start

    def close(self) -> None:
        ClientServerConnection.send_command = self._orig


class StatusStore:
    """Stage and job metrics from the in-process status store (works with
    ``spark.ui.enabled=false``). :meth:`take` returns what was added
    since the previous call, after the listener bus has drained, so each
    phase's stages are attributed to that phase. Stage ids only grow and
    ``stageList`` lists them newest first, so the new stages are its
    head; the benchmark raises stage retention so that no stage is
    evicted and the count stays exact."""

    def __init__(self, spark) -> None:
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
        self._stages = 0
        self._jobs = 0
        self.task_run_s = 0.0  # running total over every take()
        self.take()

    def take(self) -> dict:
        """Totals over the jobs and stages added since the last call."""
        self._bus.waitUntilEmpty(60_000)
        stages = self._store.stageList(
            None, False, False, self._no_quantiles, self._no_tasks
        )
        n_stages = stages.size()
        new = json.loads(
            self._mapper.writeValueAsString(stages.take(n_stages - self._stages))
        )
        self._stages = n_stages
        n_jobs = self._store.jobsList(None).size()
        jobs = n_jobs - self._jobs
        self._jobs = n_jobs
        ran = [s for s in new if s.get("status") != "SKIPPED"]

        def total(field: str) -> int:
            return sum(s.get(field, 0) for s in ran)

        out = {
            "jobs": jobs,
            "stages": len(ran),
            # executorRunTime and jvmGcTime are ms, executorCpuTime is ns
            "task_run_s": total("executorRunTime") / 1e3,
            "task_cpu_s": total("executorCpuTime") / 1e9,
            "gc_s": total("jvmGcTime") / 1e3,
            "shuffle_read_bytes": total("shuffleReadBytes"),
            "shuffle_write_bytes": total("shuffleWriteBytes"),
            "spill_bytes": total("memoryBytesSpilled") + total("diskBytesSpilled"),
            "input_bytes": total("inputBytes"),
            "failed_tasks": total("numFailedTasks"),
            "peak_exec_mem_bytes": max(
                (s.get("peakExecutionMemory", 0) for s in ran), default=0
            ),
        }
        self.task_run_s += out["task_run_s"]
        return out


def persistent_rdds(spark) -> int:
    """Live persisted RDDs (cache entries and checkpoint block sets)."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces; split after its closing paren
    return raw[raw.rindex(")") + 2 :].split()


def pyworker_cpu_s(root_pid: int) -> float:
    """utime+stime of the PySpark daemon and its workers under
    ``root_pid``, including children they have reaped. Workers are
    forks of the daemon, so both show the daemon's command line."""
    parent: dict[str, str] = {}
    fields: dict[str, list[str]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        st = _stat(pid)
        if st is None:
            continue
        parent[pid] = st[1]
        fields[pid] = st
    total = 0
    for pid, st in fields.items():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
            continue
        p, hops = pid, 0
        while p in parent and p != str(root_pid) and hops < 64:
            p, hops = parent[p], hops + 1
        if p != str(root_pid):
            continue
        # fields 14-17 of stat: utime stime cutime cstime (index 11-14
        # after the comm split)
        total += sum(int(x) for x in st[11:15])
    return total / _TICK


def steal_s() -> float:
    """Host CPU steal time so far, summed over CPUs (/proc/stat)."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / _TICK
