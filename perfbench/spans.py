"""Spans around the benchmark's calls into the engine, and the Spark
metrics each span triggered.

A span records name, start, end, parent and the workload operation it
belongs to. Spark runs the work lazily, often after the library call
that built the plan has returned, so a span is charged with every SQL
execution and job *submitted* while it was the innermost open span.
The benchmark runs one operation at a time, so submission time alone
decides the owner; no Spark property is set, and the engine may set its
own job groups and descriptions freely.

When the run ends, ``harvest`` reads the executions and jobs back from
the session's status stores (``sharedState().statusStore()`` for SQL,
the application status store for jobs), which are kept with
``spark.ui.enabled=false``, and sums their plan-node metrics and
plan-shape counts per span. Nothing is read while spans are open, so a
traced operation pays only the Python bookkeeping.
"""

from __future__ import annotations

import contextlib
import re
import time
from dataclasses import dataclass, field

# Plan-node counters: (counter, node-name pattern). ``exchanges`` counts
# shuffles only, not BroadcastExchange.
PLAN_COUNTERS = (
    ("exchanges", re.compile(r"^Exchange$")),
    ("sorts", re.compile(r"^Sort$")),
    ("sort_aggregates", re.compile(r"^SortAggregate$")),
    ("python_evals", re.compile(r"Python|Pandas|InArrow")),
)
# Leaf nodes whose output rows are the rows a plan scanned.
SCAN_NODE = re.compile(r"^(Scan |LocalTableScan|InMemoryTableScan|Range$|BatchScan)")

# Node metric name -> (span metric, how it combines across nodes).
NODE_METRICS = {
    "shuffle bytes written": ("shuffle_bytes", "sum"),
    "spill size": ("spill_bytes", "sum"),
    "sort time": ("sort_s", "sum"),
    "peak memory": ("peak_mem_bytes", "max"),
}

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")
_NODE = re.compile(r'label="(.*?)" tooltip=')
_TOTAL = "total (min, med, max (stageId: taskId))"


def parse_value(text: str) -> float | None:
    """One formatted SQL metric value -> bytes, seconds or a count."""
    m = _VALUE.match(text)
    if not m:
        return None
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit and unit not in _UNITS:
        return None
    return num * _UNITS.get(unit, 1)


def parse_plan_graph(dot: str) -> list[tuple[str, dict[str, float]]]:
    """The plan graph's DOT text -> [(node name, {metric: value})].

    Each node label is ``<b>Name</b><br><br>metric: value<br>...``; a
    metric aggregated over tasks spans two items, ``metric total (min,
    med, max ...)`` then ``total (min, med, max)``, of which the total is
    kept.
    """
    nodes = []
    for label in _NODE.findall(dot):
        name_m = re.search(r"<b>(.*?)</b>", label)
        if not name_m:
            continue
        items = label[name_m.end():].split("<br>")
        metrics: dict[str, float] = {}
        i = 0
        while i < len(items):
            item = items[i]
            if item.endswith(_TOTAL) and i + 1 < len(items):
                key, text = item[: -len(_TOTAL)].strip(), items[i + 1]
                i += 2
            elif ": " in item:
                key, text = item.split(": ", 1)
                i += 1
            else:
                i += 1
                continue
            value = parse_value(text)
            if value is not None:
                metrics[key.strip()] = value
        nodes.append((name_m.group(1).strip(), metrics))
    return nodes


def empty_counts() -> dict[str, float]:
    counts = {"jobs": 0, "executions": 0, "scan_rows": 0.0}
    for name, _ in PLAN_COUNTERS:
        counts[name] = 0
    for metric, _ in NODE_METRICS.values():
        counts[metric] = 0.0
    return counts


def add_nodes(counts: dict[str, float], nodes: list[tuple[str, dict[str, float]]]) -> None:
    for name, metrics in nodes:
        for counter, pattern in PLAN_COUNTERS:
            if pattern.search(name):
                counts[counter] += 1
        if SCAN_NODE.search(name):
            counts["scan_rows"] += metrics.get("number of output rows", 0.0)
        for key, (metric, how) in NODE_METRICS.items():
            if key in metrics:
                if how == "max":
                    counts[metric] = max(counts[metric], metrics[key])
                else:
                    counts[metric] += metrics[key]


@dataclass
class Span:
    idx: int
    name: str
    parent: int | None
    op_id: int | None
    start: float  # perf_counter seconds, for durations
    wall_start_ms: float  # epoch milliseconds, to match Spark's submission times
    end: float = 0.0
    wall_end_ms: float = 0.0
    counts: dict[str, float] = field(default_factory=empty_counts)


class Tracer:
    """Collects spans when enabled; a no-op context otherwise."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, op_id: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = parent.op_id
        sp = Span(
            len(self.spans), name, parent.idx if parent else None, op_id,
            time.perf_counter(), time.time() * 1000,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.wall_end_ms = time.time() * 1000
            self._stack.pop()

    def owner(self, t_ms: float) -> Span | None:
        """The innermost span open at epoch millisecond ``t_ms``."""
        best = None
        for sp in self.spans:
            if sp.wall_start_ms <= t_ms <= sp.wall_end_ms and (
                best is None or sp.wall_start_ms >= best.wall_start_ms
            ):
                best = sp
        return best

    def harvest(self) -> int:
        """Charge every SQL execution and job to the span open when it was
        submitted. Returns the number of executions charged."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = self.spark._jsparkSession.sharedState().statusStore()
        n = 0
        it = store.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            sp = self.owner(ex.submissionTime())
            if sp is None:
                continue
            eid = ex.executionId()
            dot = store.planGraph(eid).makeDotFile(store.executionMetrics(eid))
            add_nodes(sp.counts, parse_plan_graph(dot))
            sp.counts["executions"] += 1
            n += 1
        jobs = jsc.statusStore().jobsList(None).iterator()
        while jobs.hasNext():
            submitted = jobs.next().submissionTime()
            if submitted.isDefined():
                sp = self.owner(submitted.get().getTime())
                if sp is not None:
                    sp.counts["jobs"] += 1
        return n
