"""Tracing from outside the engine, for the per-layer split.

Three sources, all in-process, with the Spark UI left disabled:

* spans the benchmark records around its calls into the engine —
  query builders, forcing the executed plan, the fetch or write
  action, each ``orchestrate.Stage.run`` — with each span's parent;
* Spark's status stores: the application store for jobs, stages and
  tasks, and the SQL store for per-operator metrics;
* a ``StreamingQueryListener`` for micro-batches and state commits.

Jobs are attributed to spans by their submission time: a job
submitted inside a builder span is an eager job, run before the
builder returned its DataFrame.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with Spark's job timestamps
    end: float
    parent: int | None  # index of the parent span, None for a root


class Tracer:
    """Spans kept in memory; ``span`` nests by the call stack."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0,
                               self._stack[-1] if self._stack else None))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name, the summed self time: each span's duration minus
    the part of its interval that its child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(i, []) if c.end > s.start and c.start < s.end)
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
    return out


def totals(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + s.end - s.start
    return out


def innermost(spans: list[Span], t: float) -> Span | None:
    """The deepest span open at time ``t`` (the last one opened)."""
    hit = None
    for s in spans:
        if s.start <= t <= s.end:
            hit = s
    return hit


# --- Spark's formatted SQL metric strings -----------------------------------

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "PiB": 2**50, "EiB": 2**60,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """The total of one SQL-store metric string, in bytes, seconds or a
    plain count. Spark formats a metric with several task values as
    ``total (min, med, max (stageId: taskId))\\n<total> (<min>, ...)``
    and one with a single value as that value alone: sums as ``1,234``,
    sizes as ``12.5 KiB``, times as ``850 ms`` / ``1.2 s`` / ``3.0 m``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparsable SQL metric: {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return value
    if unit not in _UNITS:
        raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")
    return value * _UNITS[unit]


# --- streaming -----------------------------------------------------------------

class StreamStats(StreamingQueryListener):
    """Counts micro-batches and sums state-store commit time."""

    def __init__(self):
        self.batches = 0
        self.state_commit_ms = 0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.batches += 1
        for op in event.progress.stateOperators:
            self.state_commit_ms += op.commitTimeMs

    def onQueryTerminated(self, event):
        pass


# --- status stores -----------------------------------------------------------------

@dataclass
class Job:
    name: str  # Spark's call-site name, e.g. "count at ..." or "parquet at ..."
    submitted: float  # epoch seconds
    completed: float
    stage_ids: list[int]


def jvm_converters(spark):
    """Scala's collection converters, looked up once: each step of a
    py4j package path is a round trip."""
    return spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters


def jobs_since(spark, since: float) -> list[Job]:
    """Finished jobs submitted at or after ``since`` (epoch seconds)."""
    conv = jvm_converters(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for j in conv.asJava(store.jobsList(None)):
        sub, done = j.submissionTime(), j.completionTime()
        if sub.isEmpty() or done.isEmpty():
            continue
        t = sub.get().getTime() / 1000.0
        if t >= since:
            out.append(Job(j.name(), t, done.get().getTime() / 1000.0,
                           list(conv.asJava(j.stageIds()))))
    return out


_STAGE_FIELDS = {
    "tasks": "numCompleteTasks", "task_run_ms": "executorRunTime",
    "task_cpu_ns": "executorCpuTime", "gc_ms": "jvmGcTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
}


def stage_totals(spark, stage_ids: set[int]) -> dict[str, float]:
    """Summed task metrics over every attempt of ``stage_ids``."""
    jvm = spark.sparkContext._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    stages = store.stageList(jvm.java.util.ArrayList(), False, False,
                             spark.sparkContext._gateway.new_array(jvm.double, 0),
                             jvm.java.util.ArrayList())
    out = dict.fromkeys(_STAGE_FIELDS, 0.0)
    out["stages"] = 0.0
    for s in jvm_converters(spark).asJava(stages):
        if s.stageId() in stage_ids and s.numCompleteTasks() > 0:  # not skipped
            out["stages"] += 1
            for key, getter in _STAGE_FIELDS.items():
                out[key] += getattr(s, getter)()
    return out


@dataclass
class PlanNode:
    name: str
    metrics: dict[str, float]


def sql_plan_nodes(spark, windows: list[tuple[float, float]],
                   wanted: set[str]) -> list[PlanNode]:
    """The final plan nodes, with the ``wanted`` metrics parsed, of every
    SQL execution submitted inside one of ``windows`` (epoch-second
    intervals). Every py4j call is a round trip, so only the wanted
    metrics' values are fetched, and only for executions in a window."""
    conv = jvm_converters(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for ex in conv.asJava(store.executionsList()):
        submitted = ex.submissionTime() / 1000.0
        if not any(lo <= submitted <= hi for lo, hi in windows):
            continue
        values = store.executionMetrics(ex.executionId())  # accumulator id -> text
        for node in conv.asJava(store.planGraph(ex.executionId()).allNodes()):
            metrics = {}
            for name, acc_id in plan_metrics(node.metrics().mkString(_SEP)):
                if name in wanted:
                    text = values.get(acc_id)
                    if text.isDefined():
                        metrics[name] = parse_metric(text.get())
            out.append(PlanNode(node.name(), metrics))
    return out


_SEP = "\x01"
_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.*),(\d+),([^,]*)\)", re.S)


def plan_metrics(text: str) -> list[tuple[str, int]]:
    """(name, accumulator id) of each of a plan node's metrics, from
    their ``_SEP``-joined ``SQLPlanMetric(name,accumulatorId,type)``
    forms: one round trip for all of a node's metrics."""
    return [(m.group(1), int(m.group(2)))
            for m in map(_PLAN_METRIC.fullmatch, text.split(_SEP)) if m]


def memo_footprint(spark) -> tuple[int, int]:
    """(persisted RDDs, bytes they hold in memory and on disk)."""
    sc = spark.sparkContext._jsc.sc()
    rdds = spark.sparkContext._jsc.getPersistentRDDs().size()
    held = sum(r.memoryUsed() + r.diskUsed()
               for r in jvm_converters(spark).asJava(sc.statusStore().rddList(True)))
    return rdds, held


GC_ROUNDS = 3


def heap_live_mb(spark) -> float:
    """Used JVM heap after forced full collections. Spark's context
    cleaner frees broadcast and shuffle blocks only after a collection
    has found their handles unreachable, so the heap is collected
    ``GC_ROUNDS`` times with a pause for the cleaner between them."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    for i in range(GC_ROUNDS):
        if i:
            time.sleep(0.5)
        mx.gc()
    return mx.getHeapMemoryUsage().getUsed() / 2**20
