"""Spans around the engine's public calls, attributed through Spark.

A span is a named wall-clock interval. When tracing is on, each span
also sets a Spark job group, so after the run the status tracker maps
the span to the jobs it fired, the core status store to their stages
(tasks, shuffle write, spill, input bytes) and the SQL status store to
the per-operator metrics of those jobs (scan time, bytes through the
Python/Arrow exec nodes). Spans live in memory until the run ends; the
status stores are only read then, so attribution adds nothing to the
timed work beyond the job-group property writes.

With tracing off, :meth:`Tracer.span` is a bare timer.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_NUM = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Numeric value of one formatted SQL metric string.

    Multi-task metrics read ``total (min, med, max ...)\\n<total> (...)``;
    the total is the first figure on the second line. Sizes come back in
    bytes, timings in seconds, sums as plain numbers.
    """
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME:
        return value * _TIME[unit]
    return value


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str | None = None
    tags: dict = field(default_factory=dict)
    children_s: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_seconds(self) -> float:
        return self.seconds - self.children_s


class Tracer:
    """Collects spans; when ``enabled``, tags each as a Spark job group."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, **tags):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name=name, start=time.perf_counter(), parent=parent, tags=tags)
        idx = len(self.spans)
        self.spans.append(sp)
        self._stack.append(idx)
        if self.enabled and self._sc is not None:
            sp.group = f"perfbench-{idx}"
            self._sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.spans[parent].children_s += sp.seconds
            if sp.group is not None:
                if parent is not None and self.spans[parent].group:
                    self._sc.setJobGroup(self.spans[parent].group, self.spans[parent].name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)

    def find(self, name: str, **tags) -> list[Span]:
        return [
            s for s in self.spans
            if s.name == name and all(s.tags.get(k) == v for k, v in tags.items())
        ]


@dataclass
class SparkCost:
    """What Spark recorded for the jobs of one span."""

    jobs: int = 0
    tasks: int = 0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    input_bytes: float = 0.0
    scan_time_s: float = 0.0
    py_bytes_sent: float = 0.0
    py_bytes_returned: float = 0.0
    py_rows: float = 0.0
    py_run_s: float = 0.0


_PY_NODE = re.compile(r"Python|Pandas|Arrow", re.IGNORECASE)


def attribute(spark, tracer: Tracer) -> dict[int, SparkCost]:
    """Span index -> Spark cost, for every traced span (self jobs only:
    a job belongs to the innermost span that was open when it ran)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    no_tasks = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    job_span: dict[int, int] = {}
    out: dict[int, SparkCost] = {}
    for idx, sp in enumerate(tracer.spans):
        if sp.group is None:
            continue
        cost = out.setdefault(idx, SparkCost())
        for jid in tracker.getJobIdsForGroup(sp.group):
            job_span[jid] = idx
            cost.jobs += 1
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in list(info.stageIds):
                data = store.stageData(sid, False, no_tasks, False, no_quantiles)
                if data.size() == 0:
                    continue
                st = data.head()
                cost.tasks += st.numCompleteTasks()
                cost.shuffle_write_bytes += st.shuffleWriteBytes()
                cost.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                cost.input_bytes += st.inputBytes()
    sql = spark._jsparkSession.sharedState().statusStore()
    execs = sql.executionsList().iterator()
    while execs.hasNext():
        ex = execs.next()
        jobs = ex.jobs().keySet().iterator()
        owner = None
        while jobs.hasNext():
            owner = job_span.get(int(jobs.next()), owner)
        if owner is None:
            continue
        _add_sql_metrics(sql, ex.executionId(), out[owner])
    return out


def _add_sql_metrics(sql, execution_id: int, cost: SparkCost) -> None:
    values = sql.executionMetrics(execution_id)
    graph = sql.planGraph(execution_id)
    seen: set[int] = set()
    nodes = graph.allNodes().iterator()
    while nodes.hasNext():
        node = nodes.next()
        is_py = bool(_PY_NODE.search(node.name()))
        metrics = node.metrics().iterator()
        while metrics.hasNext():
            m = metrics.next()
            acc = m.accumulatorId()
            if acc in seen:
                continue
            seen.add(acc)
            v = values.get(acc)
            if not v.isDefined():
                continue
            name = m.name()
            if name == "scan time":
                cost.scan_time_s += parse_metric(v.get())
            elif "sent to Python" in name:
                cost.py_bytes_sent += parse_metric(v.get())
            elif "returned from Python" in name:
                cost.py_bytes_returned += parse_metric(v.get())
            elif "time to run Python" in name:
                cost.py_run_s += parse_metric(v.get())
            elif is_py and name == "number of output rows":
                cost.py_rows += parse_metric(v.get())
