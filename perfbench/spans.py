"""Measurement from outside the program: spans around calls into a layer,
Spark's own counters for each call, and peak memory from ``/proc``.

Spans are kept in memory. Each records its layer call name, wall
time, parent span and -- under a job group the tracer sets around the
call -- the jobs, stages, tasks and failed tasks Spark ran for it.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """With ``enabled`` false a span costs two clock reads and sets no
    job group, so the untraced run measures the program alone."""

    def __init__(self, spark, enabled: bool):
        self.spark, self.enabled = spark, enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._groups = 0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        if not self.enabled:
            try:
                yield s
            finally:
                s.end = time.perf_counter()
                self._stack.pop()
            return
        sc = self.spark.sparkContext
        self._groups += 1
        s.group = f"perfbench-{self._groups}"
        sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            # the status store is fed asynchronously; let it see the job ends
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            s.counts.update(job_counts(sc, s.group))
            # job groups do not nest: give the enclosing span its group back
            outer = self.spans[self._stack[-1]].group if self._stack else None
            if outer:
                sc.setJobGroup(outer, "")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)


def job_counts(sc, group: str) -> dict:
    tracker = sc.statusTracker()
    jobs = stages = tasks = failed = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue  # skipped: its shuffle output was reused
            stages += 1
            tasks += st.numCompletedTasks
            failed += st.numFailedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}


# --- SQL metrics of the executed (AQE final) plan ---------------------------

_PYTHON_NODES = ("InPandas", "InArrow", "EvalPython", "PythonUDTF", "ArrowEvalPython")


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _metrics(node) -> dict:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def plan_metrics(df) -> dict:
    """Walk the executed plan of ``df``'s last action, descending into AQE
    query stages and subqueries, and sum the counters a layer owns."""
    totals = {
        "exchanges": 0, "shuffle_bytes": 0, "scan_files": 0, "scan_bytes": 0,
        "python_crossings": 0, "python_boot_s": 0.0, "python_init_s": 0.0,
        "python_compute_s": 0.0, "python_bytes_sent": 0, "python_bytes_received": 0,
    }
    seen: set[int] = set()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.finalPhysicalPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue  # its work is counted once, at the exchange it reuses
        key = node.id()
        if key in seen:
            continue
        seen.add(key)
        m = _metrics(node)
        if cls == "ShuffleExchangeExec":
            totals["exchanges"] += 1
            totals["shuffle_bytes"] += int(m.get("shuffleBytesWritten", 0))
        elif cls in ("FileSourceScanExec", "BatchScanExec"):
            totals["scan_files"] += int(m.get("numFiles", 0))
            totals["scan_bytes"] += int(m.get("filesSize", 0))
        elif any(p in cls for p in _PYTHON_NODES):
            totals["python_crossings"] += 1
            totals["python_boot_s"] += m.get("pythonBootTime", 0) / 1e3
            totals["python_init_s"] += m.get("pythonInitTime", 0) / 1e3
            totals["python_compute_s"] += m.get("pythonTotalTime", 0) / 1e3
            totals["python_bytes_sent"] += int(m.get("pythonDataSent", 0))
            totals["python_bytes_received"] += int(m.get("pythonDataReceived", 0))
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))
    return totals


# --- peak RSS of the benchmark's process tree ---------------------------------


class RssSampler:
    """One thread summing the resident set of this process and all its
    descendants (the JVM and its Python workers) from ``/proc``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.peak_bytes = max(self.peak_bytes, self.sample())
        self.peak_bytes = max(self.peak_bytes, self.sample())

    def sample(self) -> int:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        return total


def descendants(root: int) -> list[int]:
    """Every live process below ``root``, from the ppid links in ``/proc``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we listed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out
