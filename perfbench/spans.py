"""Tracing from outside the program: spans around calls into the
library's public functions, Spark job groups per span, and a reader for
the per-stage and per-operator numbers Spark's status stores keep.

Nothing here edits the library. ``Tracer.wrap`` replaces a module or
class attribute at run time and ``Tracer.close`` puts the original
back, so between a close and the next wrap the library runs untouched.
A traced run alternates such untraced stretches with traced ones and
compares the two; ``SparkProfile`` counts only the Spark jobs submitted
inside the traced stretches.
"""

from __future__ import annotations

import functools
import itertools
import math
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# SQL metric names of the Python-boundary operators (MapInPandas,
# ArrowEvalPython, ...); values come back as formatted strings
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
_UNITS = {"ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
          "TiB": 1024.0 ** 4}
_METRIC_RE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_sql_metric(text: str) -> float:
    """The total of a SQL metric string such as ``"783.3 KiB"`` or, for
    metrics summed over several tasks, ``"total (min, med, max ...)\n9.3 s
    (2.2 s, ...)"``; in ms for times and bytes for sizes."""
    text = (text or "").rsplit("\n", 1)[-1]
    m = _METRIC_RE.match(text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


class Tracer:
    """Spans kept in memory: name, start, end, parent and span id."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple] = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Record a span; with ``group``, Spark jobs submitted from this
        thread inside the span carry that job group."""
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else 0
        prev_group = None
        if group is not None and self.sc is not None:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(group, name, False)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            if group is not None and self.sc is not None:
                if prev_group is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(prev_group, name, False)
            with self._lock:
                self.spans.append((name, start, end, parent, sid))

    def wrap(self, owner, attr: str, name: str, group: str | None = None) -> None:
        """Replace ``owner.attr`` by a function that runs the original
        inside ``span(name, group)``."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        fn = orig.__func__ if isinstance(orig, (staticmethod, classmethod)) else orig

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name, group):
                return fn(*a, **kw)

        if isinstance(orig, staticmethod):
            traced = staticmethod(traced)
        elif isinstance(orig, classmethod):
            traced = classmethod(traced)
        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def patch(self, owner, attr: str, replacement) -> None:
        """Replace ``owner.attr`` until ``close``."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def close(self) -> None:
        """Put every wrapped or patched attribute back."""
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)


def _scala_list(jvm, seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


class SparkProfile:
    """Reads jobs, stages and SQL executions from the live status stores
    (no web UI needed) and sums them per job group, over the jobs
    submitted inside the windows between ``open`` and ``close``."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        # (first, last) epoch ms of each window, the clock Spark stamps
        # job submissions with
        self.windows: list[tuple[int, int]] = []
        self._opened: int | None = None

    def open(self) -> None:
        self._opened = math.floor(time.time() * 1e3)

    def close(self) -> None:
        self.windows.append((self._opened, math.ceil(time.time() * 1e3)))
        self._opened = None

    def _inside(self, ms: int) -> bool:
        return any(lo <= ms <= hi for lo, hi in self.windows)

    def _job_inside(self, job) -> bool:
        t = job.submissionTime()
        return t.isDefined() and self._inside(t.get().getTime())

    def by_group(self, operators: bool = True) -> dict[str | None, dict]:
        """Per job group (None for jobs without one): jobs, stages,
        tasks, executor run/CPU/GC/deserialize ms, shuffle write bytes,
        spill bytes, and, with ``operators``, the Python-boundary
        operator totals (one status-store read per plan node, the slow
        part)."""
        jvm = self.jvm
        jobs = [j for j in _scala_list(jvm, self._store.jobsList(None)) if self._job_inside(j)]
        group_of_job: dict[int, str | None] = {}
        stage_group: dict[int, str | None] = {}
        out: dict[str | None, dict] = defaultdict(lambda: defaultdict(float))
        for j in jobs:
            g = j.jobGroup()
            group = g.get() if g.isDefined() else None
            group_of_job[j.jobId()] = group
            out[group]["jobs"] += 1
            for sid in _scala_list(jvm, j.stageIds()):
                stage_group[sid] = group
        if stage_group:
            empty = jvm.java.util.Collections.emptyList()
            quantiles = self.sc._gateway.new_array(jvm.double, 0)
            for s in _scala_list(jvm, self._store.stageList(empty, False, False, quantiles, empty)):
                sid = s.stageId()
                if sid not in stage_group or s.numCompleteTasks() == 0:
                    continue
                acc = out[stage_group[sid]]
                acc["stages"] += 1
                acc["tasks"] += s.numCompleteTasks()
                acc["executor_run_ms"] += s.executorRunTime()
                acc["executor_cpu_ms"] += s.executorCpuTime() / 1e6
                acc["gc_ms"] += s.jvmGcTime()
                acc["deserialize_ms"] += s.executorDeserializeTime()
                acc["shuffle_write_bytes"] += s.shuffleWriteBytes()
                acc["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        executions = _scala_list(jvm, self._sql.executionsList()) if operators else []
        for e in executions:
            if not self._inside(e.submissionTime()):
                continue
            eid = e.executionId()
            job_ids = [int(j) for j in _scala_list(jvm, e.jobs().keys().toSeq())]
            if not job_ids or any(j not in group_of_job for j in job_ids):
                continue
            groups = {group_of_job[j] for j in job_ids}
            if len(groups) != 1:
                continue
            acc = out[groups.pop()]
            values = self._sql.executionMetrics(eid)
            for node in _scala_list(jvm, self._sql.planGraph(eid).allNodes()):
                for m in _scala_list(jvm, node.metrics()):
                    key = {PY_RUN: "python_worker_ms", PY_SENT: "arrow_bytes_sent",
                           PY_RETURNED: "arrow_bytes_returned"}.get(m.name())
                    if key is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        acc[key] += parse_sql_metric(v.get())
        return {g: dict(v) for g, v in out.items()}


def persisted(spark) -> tuple[int, int]:
    """(persisted RDD count, bytes they hold in memory and on disk)."""
    jsc = spark.sparkContext._jsc
    n = len(jsc.getPersistentRDDs())
    size = 0
    for info in jsc.sc().getRDDStorageInfo():
        size += info.memSize() + info.diskSize()
    return n, size
