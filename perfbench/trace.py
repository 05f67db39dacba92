"""Tracing from outside the package: spans around every call the
benchmark makes into a layer, Spark's status stores read per call, and
a peak-RSS sampler over the benchmark's process tree. Nothing inside
the package is instrumented."""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans ``(name, start, end, parent, run_id)``. Disabled,
    :meth:`span` records nothing, so untraced passes pay no cost."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Seconds per layer (the span name up to the first ``:``) not
        covered by the span's children."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, covered in zip(self.spans, child_time):
            if s["end"] is None:
                continue
            layer = s["name"].split(":")[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
        return out


_UNITS = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
          "B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def sql_metric_value(text: str) -> float:
    """A SQL-metric string as a number of ms (times) or bytes (sizes):
    ``'534 ms'``, ``'3.8 MiB'``, or the ``'total (min, med, max ...)'``
    form, whose second line starts with the total."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([-\d.,]+)\s*(\w+)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


class SparkStatus:
    """Per-call readings from the app and SQL status stores (both kept
    with ``spark.ui.enabled=false``): jobs are tagged by job group."""

    PYTHON_METRICS = {"data sent to Python workers": "python_in_bytes",
                      "data returned from Python workers": "python_out_bytes"}
    SCAN_METRICS = {"scan time": "scan_ms", "size of files read": "read_bytes"}

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._exec_mark = -1

    def mark(self) -> None:
        """Remember the newest SQL execution: :meth:`sql_metrics` reads
        only executions started after it."""
        execs = self.spark._jsparkSession.sharedState().statusStore().executionsList()
        self._exec_mark = max((execs.apply(i).executionId() for i in range(execs.size())),
                              default=-1)

    def jobs(self, group: str) -> dict:
        from py4j.protocol import Py4JJavaError

        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "task_ms": 0, "cpu_ns": 0,
               "gc_ms": 0, "shuffle_write_bytes": 0, "spill_bytes": 0, "max_task_ms": 0}
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for stage_id in info.stageIds:
                try:
                    st = store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # NoSuchElementException: a skipped stage
                    continue
                if st.numCompleteTasks() == 0:
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["task_ms"] += st.executorRunTime()
                out["cpu_ns"] += st.executorCpuTime()
                out["gc_ms"] += st.jvmGcTime()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.diskBytesSpilled()
                tasks = store.taskList(stage_id, st.attemptId(), 100_000)
                for i in range(tasks.size()):
                    d = tasks.apply(i).duration()
                    if d.isDefined():
                        out["max_task_ms"] = max(out["max_task_ms"], d.get())
        return out

    def sql_metrics(self) -> dict:
        """Scan and Python-transfer totals over the SQL executions
        started since :meth:`mark`."""
        sstore = self.spark._jsparkSession.sharedState().statusStore()
        execs = sstore.executionsList()
        names = {**self.SCAN_METRICS, **self.PYTHON_METRICS}
        out = {v: 0.0 for v in names.values()}
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            if eid <= self._exec_mark:
                continue
            values = sstore.executionMetrics(eid)
            nodes = sstore.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                metrics = nodes.apply(n).metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    key = names.get(m.name())
                    if key is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[key] += sql_metric_value(v.get())
        return out


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(p) for p in f.read().split())
    except OSError:
        pass
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (this process by default) and all its descendants."""
    todo, seen = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def tree_rss_bytes() -> dict[str, int]:
    """Resident bytes of the JVM and Python processes of the tree, by
    command name. Helpers the JVM forks (``chmod``, ``jspawnhelper``)
    are left out: between fork and exec such a child reports the JVM's
    whole RSS under a thread's name and would count the JVM twice."""
    page = os.sysconf("SC_PAGE_SIZE")
    out: dict[str, int] = {}
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            if comm != "java" and not comm.startswith("python"):
                continue
            with open(f"/proc/{pid}/statm") as f:
                out[comm] = out.get(comm, 0) + int(f.read().split()[1]) * page
        except OSError:
            pass
    return out


class RssSampler:
    """Samples the summed RSS of the process tree (driver JVM plus
    Python workers) on a background thread; ``peak`` is the maximum,
    ``peak_by_command`` the maximum per command name."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak = 0
        self.peak_by_command: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        by = tree_rss_bytes()
        self.peak = max(self.peak, sum(by.values()))
        for k, v in by.items():
            self.peak_by_command[k] = max(self.peak_by_command.get(k, 0), v)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


def median(values):
    vals = sorted(values)
    if not vals:
        return 0.0
    mid = len(vals) // 2
    return float(vals[mid]) if len(vals) % 2 else (vals[mid - 1] + vals[mid]) / 2.0


def tail(values) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples above it:
    ``(value, percentile, sample count)``. With ten samples or fewer it
    is the maximum, reported at percentile 100."""
    vals = sorted(values)
    n = len(vals)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 10:
        return float(vals[-1]), 100.0, n
    idx = n - 11
    return float(vals[idx]), round(100.0 * (idx + 1) / n, 1), n
