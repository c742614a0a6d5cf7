"""Read the SQL executions a block of work caused from Spark's status store.

``spark._jsparkSession.sharedState().statusStore()`` records every SQL
execution with its final (AQE-updated) plan graph and the value of every
node metric, also with ``spark.ui.enabled=false``.  This module turns those
records into plain Python: one :class:`Execution` per SQL execution, holding
its wall interval and a :class:`Node` per plan operator with parsed metrics.

Metric strings come in a few shapes::

    1,000                                             (sum metric)
    731 ms / 17.8 KiB                                 (one task, or no stats)
    total (min, med, max (stageId: taskId))
    12.9 MiB (1.0 MiB, 1.2 MiB, 2.0 MiB (stage 3.0: task 5))
    (min, med, max (stageId: taskId)):
    (1, 1, 1 (stage 168.0: task 498))                 (average metric)

:func:`parse_metric` handles all of them.  Sizes and durations are rounded by
Spark to three or four significant digits, so byte and time values read from
here are approximate; row and file counts are exact.
"""
from __future__ import annotations

import re
from dataclasses import dataclass, field

_UNITS = {
    "B": 1.0,
    "KiB": 1024.0,
    "MiB": 1024.0**2,
    "GiB": 1024.0**3,
    "TiB": 1024.0**4,
    "ns": 1e-9,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "min": 60.0,
    "h": 3600.0,
}
_VALUE = r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?"
_STATS = re.compile(
    _VALUE + r"\s*\(\s*" + _VALUE + r"\s*,\s*" + _VALUE + r"\s*,\s*" + _VALUE
    + r"\s*\(stage\s+(\d+)\.\d+:\s*task\s+\d+\)\s*\)"
)
_STATS_ONLY = re.compile(
    r"^\s*\(\s*" + _VALUE + r"\s*,\s*" + _VALUE + r"\s*,\s*" + _VALUE
    + r"\s*\(stage\s+(\d+)\.\d+:\s*task\s+\d+\)\s*\)\s*$"
)
_SINGLE = re.compile(r"^\s*" + _VALUE + r"\s*$")


@dataclass(frozen=True)
class Metric:
    """A parsed metric value in base units (rows, bytes or seconds).

    ``min``/``med``/``max`` are per-task statistics and ``stage`` the stage of
    the max task; they are None when Spark printed a bare total."""

    total: float
    min: float | None = None
    med: float | None = None
    max: float | None = None
    stage: int | None = None


def _num(value: str, unit: str | None) -> float:
    x = float(value.replace(",", ""))
    if unit is None:
        return x
    try:
        return x * _UNITS[unit]
    except KeyError:
        raise ValueError(f"unknown metric unit {unit!r}") from None


def parse_metric(text: str | None) -> Metric | None:
    """Parse one formatted metric value; None for a metric with no value."""
    if text is None:
        return None
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _STATS.search(body)
    if m:
        g = m.groups()
        return Metric(
            total=_num(g[0], g[1]),
            min=_num(g[2], g[3]),
            med=_num(g[4], g[5]),
            max=_num(g[6], g[7]),
            stage=int(g[8]),
        )
    m = _STATS_ONLY.match(body)
    if m:
        # average metrics print per-task stats without a total; the median
        # stands in for it
        g = m.groups()
        med = _num(g[2], g[3])
        return Metric(total=med, min=_num(g[0], g[1]), med=med, max=_num(g[4], g[5]), stage=int(g[6]))
    m = _SINGLE.match(body)
    if m:
        return Metric(total=_num(m.group(1), m.group(2)))
    raise ValueError(f"unparseable metric value {text!r}")


@dataclass
class Node:
    name: str
    desc: str
    metrics: dict[str, Metric] = field(default_factory=dict)

    def value(self, metric: str, default: float = 0.0) -> float:
        m = self.metrics.get(metric)
        return m.total if m is not None else default


@dataclass
class Execution:
    id: int
    description: str
    start_s: float
    end_s: float | None
    nodes: list[Node]

    @property
    def wall_s(self) -> float:
        return (self.end_s or self.start_s) - self.start_s

    def find(self, prefix: str) -> list[Node]:
        return [n for n in self.nodes if n.name.startswith(prefix)]


WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"


def layer_of(execution: Execution) -> str:
    """The layer an execution mainly exercises, from its plan nodes:
    ``FlatMapGroupsInPandas`` is the STL grouped map; ``MapInPandas`` is the
    Gorilla sink when the plan writes and the range reader when it only
    reads; a write without either is the catalog sink; a bare scan is the
    scan layer."""
    names = [n.name for n in execution.nodes]

    def has(prefix: str) -> bool:
        return any(n.startswith(prefix) for n in names)

    if has("FlatMapGroupsInPandas"):
        return "stl_udf"
    writes = has(WRITE_NODE)
    if has("MapInPandas"):
        return "compress" if writes else "read_range"
    if writes:
        return "catalog"
    if has("Scan parquet"):
        return "scan"
    return "other"


class StatusStoreReader:
    """Snapshot executions around blocks of work.

    ``mark()`` returns the id the next execution will get; ``since(mark)``
    returns every completed execution with an id at or above it.  Stage task
    counts come from the core status tracker."""

    def __init__(self, spark) -> None:
        self._spark = spark
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def _list(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def _tail(self, mark: int) -> list:
        """Execution records with id >= ``mark``; ids are sequential, so
        only the tail of the list is fetched."""
        n = self._store.executionsCount()
        k = 64
        while True:
            rows = self._list(self._store.executionsList(max(0, n - k), min(k, n)))
            if k >= n or not rows or rows[0].executionId() < mark:
                return [e for e in rows if e.executionId() >= mark]
            k *= 4

    def mark(self) -> int:
        """Id the next execution will get."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        n = self._store.executionsCount()
        if n == 0:
            return 0
        return self._list(self._store.executionsList(n - 1, 1))[0].executionId() + 1

    def since(self, mark: int) -> list[Execution]:
        # the action has returned, but its end events may still be queued
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        out = []
        for e in self._tail(mark):
            eid = e.executionId()
            done = e.completionTime()
            values = self._conv.asJava(self._store.executionMetrics(eid))
            nodes = []
            for n in self._list(self._store.planGraph(eid).allNodes()):
                metrics = {}
                for m in self._list(n.metrics()):
                    parsed = parse_metric(values.get(m.accumulatorId()))
                    if parsed is not None:
                        metrics[m.name()] = parsed
                nodes.append(Node(n.name(), n.desc(), metrics))
            out.append(
                Execution(
                    id=eid,
                    description=e.description(),
                    start_s=e.submissionTime() / 1000.0,
                    end_s=done.get().getTime() / 1000.0 if done.isDefined() else None,
                    nodes=nodes,
                )
            )
        return sorted(out, key=lambda x: x.id)

    def stage_tasks(self, stage_id: int) -> int | None:
        info = self._spark.sparkContext.statusTracker().getStageInfo(stage_id)
        return info.numTasks if info is not None else None


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
