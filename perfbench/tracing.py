"""Tracing for the benchmark: spans around calls into each package layer,
Spark's own stage and plan-node counters, and process memory.

Spans are recorded from the benchmark's files only (the package is not
instrumented) and kept in memory until the run ends.
"""

from __future__ import annotations

import hashlib
import re
import time
from contextlib import contextmanager

# plan-node (SQL) metrics summed over a job's query executions, by the
# name Spark gives them
ARROW_METRICS = {
    "arrow.bytes_to_python": ("data sent to Python workers",),
    "arrow.bytes_from_python": ("data returned from Python workers",),
    "arrow.worker_boot_s": ("time to start Python workers",
                            "time to initialize Python workers"),
}


class Spans:
    """In-memory span log: (name, parent, start_s, end_s) relative to the
    run's start."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.rows: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.rows.append({"name": name, "parent": parent,
                              "start_s": round(start - self.t0, 6),
                              "end_s": round(end - self.t0, 6)})


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?) ?([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A plan-node metric as Spark formats it ('832.7 KiB', '704 ms', or
    'total (min, med, max ...)\n1.4 s (...)') in bytes or seconds, as
    precise as the formatted text (one decimal of its unit)."""
    line = text.split("\n")[-1]
    m = _VALUE.match(line.strip())
    if not m:
        raise ValueError(f"unparsable metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class StageCounters:
    """Sums Spark's task metrics over the stages, and plan-node metrics
    over the SQL executions, that completed between :meth:`mark` and
    :meth:`collect`. Both come from the Spark driver's status stores,
    which are populated with the UI off."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.seen: set[tuple[int, int]] = set()
        self.last_exec = -1

    def _executions(self) -> list[int]:
        seq = self.sql.executionsList()
        return [seq.apply(i).executionId() for i in range(seq.size())]

    def _stages(self):
        jvm = self.sc._jvm
        lst = jvm.java.util.ArrayList
        seq = self.store.stageList(
            lst(), False, False, self.sc._gateway.new_array(jvm.double, 0), lst())
        return [seq.apply(i) for i in range(seq.size())]

    def mark(self) -> None:
        self.seen = {(s.stageId(), s.attemptId()) for s in self._stages()}
        self.last_exec = max(self._executions(), default=-1)

    def collect(self) -> dict:
        # the status stores are fed by the async listener bus: let it drain
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        out = {
            "exchange.shuffle_write_bytes": 0, "exchange.fetch_wait_s": 0.0,
            "jvm.run_s": 0.0, "jvm.cpu_s": 0.0, "jvm.gc_s": 0.0,
            "jvm.spill_bytes": 0, "jvm.tasks": 0, "jvm.max_task_input_records": 0,
            "sources.scan_bytes": 0,
            **{k: 0.0 for k in ARROW_METRICS},
        }
        for s in self._stages():
            key = (s.stageId(), s.attemptId())
            if key in self.seen or str(s.status()) != "COMPLETE":
                continue
            out["exchange.shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["exchange.fetch_wait_s"] += s.shuffleFetchWaitTime() / 1e3
            out["jvm.run_s"] += s.executorRunTime() / 1e3
            out["jvm.cpu_s"] += s.executorCpuTime() / 1e9
            out["jvm.gc_s"] += s.jvmGcTime() / 1e3
            out["jvm.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["jvm.tasks"] += s.numTasks()
            out["sources.scan_bytes"] += s.inputBytes()
            tasks = self.store.taskList(s.stageId(), s.attemptId(), 1 << 30)
            for i in range(tasks.size()):
                m = tasks.apply(i).taskMetrics()
                if m.isDefined():
                    m = m.get()
                    recs = (m.inputMetrics().recordsRead()
                            + m.shuffleReadMetrics().recordsRead())
                    out["jvm.max_task_input_records"] = max(
                        out["jvm.max_task_input_records"], recs)
        by_name = {n: k for k, names in ARROW_METRICS.items() for n in names}
        for eid in self._executions():
            if eid <= self.last_exec:
                continue
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                ms = nodes.apply(i).metrics()
                for j in range(ms.size()):
                    m = ms.apply(j)
                    k = by_name.get(m.name())
                    v = values.get(m.accumulatorId()) if k else None
                    if v is not None and v.isDefined():
                        out[k] += parse_metric(v.get())
        self.mark()
        return out


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Kernel high-water mark of a process's resident set, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_control_s(rounds: int = 2_000_000) -> float:
    """A fixed pure-CPU job (chained sha256). It does the same work on every
    run, so a move in its time marks a slower host, not a regression."""
    t0 = time.perf_counter()
    h = b"perfbench"
    for _ in range(rounds):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t0
