"""Spans around calls into sparkval, with Spark's own accounting.

A span is one call into a layer (a sparkval module's public function)
plus the action that forces its result. Every span runs its Spark jobs
under a job group of its own, so after the run the jobs, stages and SQL
executions it caused are read back from Spark's status stores, which
Spark keeps in memory even with ``spark.ui.enabled=false``:

- ``AppStatusStore`` (jobs, stages): job count and time, executor run
  and CPU time, GC, shuffle bytes, spill and input bytes;
- ``SQLAppStatusStore`` (SQL executions): the Python UDF metrics
  ``time to run Python workers``, ``data sent to Python workers`` and
  ``data returned from Python workers``. Spark stores these only as
  display strings, so they are parsed back at display resolution
  (0.1 s for times over 1 s, 0.1 of a KiB/MiB/GiB unit for bytes).

Spans are kept in memory and read out once, after the last one ends.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: SQL plan metric name -> span field
PYTHON_METRICS = {
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}

#: fields a span reports, in table order
FIELDS = [
    "wall_s", "self_s", "plan_s", "driver_gap_s", "jobs", "executor_run_s",
    "executor_cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "input_bytes", "python_run_s", "python_bytes_sent",
    "python_bytes_returned",
]

_UNIT = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30, "TiB": 2.0 ** 40,
}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """Value of a SQL metric display string, in seconds or bytes.

    Spark renders a metric either as one value (``31 ms``) or as
    ``total (min, med, max ...)`` followed by a line that starts with
    the total (``6.6 s (1.6 s, ...)``)."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparseable SQL metric value: {text!r}")
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2) or "B", 1.0)


def _iter(java_collection):
    it = java_collection.iterator()
    while it.hasNext():
        yield it.next()


def _opt(scala_option):
    return scala_option.get() if scala_option.isDefined() else None


class StatusReader:
    """Reads what a job group cost from the Spark driver's status stores."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._spark = spark

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores hold all jobs that have ended."""
        self._jsc.listenerBus().waitUntilEmpty()

    def group_metrics(self, groups: set) -> dict:
        """Per job group: task-metric sums over the stages of its jobs,
        the jobs' [start, end] intervals in epoch ms, and the Python
        UDF metrics of the SQL executions those jobs belong to."""
        store = self._jsc.statusStore()
        out: dict = {}
        job_group: dict = {}
        for job in _iter(store.jobsList(None)):
            g = _opt(job.jobGroup())
            if g not in groups:
                continue
            rec = out.setdefault(g, _empty_group())
            job_group[job.jobId()] = g
            rec["jobs"] += 1
            start, end = _opt(job.submissionTime()), _opt(job.completionTime())
            if start is not None and end is not None:
                rec["intervals"].append((start.getTime(), end.getTime()))
            for sid in _iter(job.stageIds()):
                if sid in rec["_stages"]:
                    continue
                rec["_stages"].add(sid)
                st = store.lastStageAttempt(sid)
                rec["executor_run_s"] += st.executorRunTime() / 1e3
                rec["executor_cpu_s"] += st.executorCpuTime() / 1e9
                rec["gc_s"] += st.jvmGcTime() / 1e3
                rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
                rec["shuffle_read_bytes"] += st.shuffleReadBytes()
                rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                rec["input_bytes"] += st.inputBytes()
        if not job_group:
            return out
        sql = self._spark._jsparkSession.sharedState().statusStore()
        for ex in _iter(sql.executionsList()):
            groups_hit = {job_group[j] for j in _iter(ex.jobs().keySet()) if j in job_group}
            if not groups_hit:
                continue
            g = groups_hit.pop()
            values = {t._1(): t._2() for t in _iter(sql.executionMetrics(ex.executionId()))}
            for node in _iter(sql.planGraph(ex.executionId()).allNodes()):
                for m in _iter(node.metrics()):
                    key = PYTHON_METRICS.get(m.name())
                    text = values.get(m.accumulatorId()) if key else None
                    if text is not None:
                        out[g][key] += parse_metric(text)
        return out


def _empty_group() -> dict:
    rec = {f: 0.0 for f in FIELDS if f not in ("wall_s", "self_s", "plan_s", "driver_gap_s")}
    rec["jobs"] = 0
    rec["intervals"] = []
    rec["_stages"] = set()
    return rec


def covered_s(intervals: list, lo_ms: float, hi_ms: float) -> float:
    """Seconds of [lo, hi] covered by the union of job intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo_ms), min(b, hi_ms)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1e3


@dataclass
class Span:
    name: str
    op: str
    group: str
    parent: "Span | None" = None
    t0: float = 0.0
    t1: float = 0.0
    t_called: float | None = None
    epoch0_ms: float = 0.0
    epoch1_ms: float = 0.0
    children_s: float = 0.0
    counts: dict = field(default_factory=dict)
    metrics: dict = field(default_factory=dict)

    def called(self) -> None:
        """Mark the moment the library call returned (end of plan_s)."""
        self.t_called = time.perf_counter()

    def count(self, **kv) -> None:
        """Attach counts measured from outside (pairs, rows, recall)."""
        self.counts.update(kv)


class Tracer:
    """Collects spans; each span's jobs run under their own job group."""

    def __init__(self, spark, prefix: str = "perfbench"):
        self._sc = spark.sparkContext
        self._reader = StatusReader(spark)
        self._prefix = prefix
        self._stack: list[Span] = []
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, op: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, op, f"{self._prefix}-{len(self.spans)}", parent)
        self.spans.append(sp)
        self._stack.append(sp)
        self._sc.setJobGroup(sp.group, name)
        sp.epoch0_ms = time.time() * 1e3
        sp.t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            sp.epoch1_ms = time.time() * 1e3
            self._stack.pop()
            if parent is not None:
                parent.children_s += sp.t1 - sp.t0
                self._sc.setJobGroup(parent.group, parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def finish(self) -> list[Span]:
        """Read every span's Spark accounting; call once, after the run."""
        self._reader.drain()
        by_group = self._reader.group_metrics({s.group for s in self.spans})
        intervals: dict = {}
        for sp in self.spans:
            own = (by_group.get(sp.group) or _empty_group())["intervals"]
            node = sp
            while node is not None:
                intervals.setdefault(node.group, []).extend(own)
                node = node.parent
        for sp in self.spans:
            rec = by_group.get(sp.group) or _empty_group()
            wall = sp.t1 - sp.t0
            m = {k: v for k, v in rec.items() if not k.startswith("_") and k != "intervals"}
            m["wall_s"] = wall
            m["self_s"] = wall - sp.children_s
            m["plan_s"] = (sp.t_called - sp.t0) if sp.t_called is not None else 0.0
            # time no job of this span (or of spans inside it) was running
            m["driver_gap_s"] = wall - covered_s(
                intervals.get(sp.group, []), sp.epoch0_ms, sp.epoch1_ms)
            sp.metrics = m
        return self.spans
