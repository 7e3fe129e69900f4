"""Spark's own SQL and task metrics, read after an action.

The SQL status store keeps, per execution, a plan graph whose nodes carry
metrics as formatted strings: ``"20,000"`` for a sum, ``"70.0 MiB"`` for
a size, and for per-task timing and size metrics the form
``"total (min, med, max (stageId: taskId))\\n1.6 m (12 ms, 212 ms, 1.9 s
(stage 3.0: task 41))"``. ``parse_metric`` turns each into a number in
base units (rows, bytes, seconds); ``metric_stage`` reads the stage of
the per-task form. Task durations come from the application status store.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")
_STAGE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")


def parse_metric(text: str) -> float:
    """Number held by one formatted SQL metric value, in base units.

    For the per-task form only the total (the first number of the value
    line) is returned.
    """
    line = text.strip()
    if line.startswith("total (") and "\n" in line:
        line = line.split("\n", 1)[1]
    m = _VALUE.match(line)
    if m is None:
        raise ValueError(f"not a Spark metric value: {text!r}")
    number, unit = m.groups()
    if unit and unit not in _UNITS:
        raise ValueError(f"unknown unit {unit!r} in {text!r}")
    return float(number.replace(",", "")) * _UNITS.get(unit, 1)


def metric_stage(text: str) -> int | None:
    """Stage id named by the per-task form of a metric value, else None."""
    m = _STAGE.search(text)
    return int(m.group(1)) if m else None


@dataclass
class Execution:
    id: int
    wall_s: float
    jobs: list[int]
    # (node name, metric name, value in base units, stage id or None)
    metrics: list[tuple[str, str, float, int | None]] = field(default_factory=list)


def last_execution_id(spark) -> int:
    """Id of the newest SQL execution, -1 if none ran yet."""
    store = spark._jsparkSession.sharedState().statusStore()
    it = store.executionsList().iterator()
    last = -1
    while it.hasNext():
        last = max(last, it.next().executionId())
    return last


def _scala_ints(collection) -> list[int]:
    it = collection.iterator()
    out = []
    while it.hasNext():
        out.append(int(it.next()))
    return out


def executions_since(spark, after_id: int) -> list[Execution]:
    """Every finished SQL execution with id > ``after_id``.

    The status stores are filled from Spark's listener bus, which runs
    behind the actions; it is drained first, so the last execution of an
    action is complete when read."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    it = store.executionsList().iterator()
    while it.hasNext():
        e = it.next()
        end = e.completionTime()
        if e.executionId() <= after_id or not end.isDefined():
            continue
        ex = Execution(e.executionId(),
                       (end.get().getTime() - e.submissionTime()) / 1000.0,
                       _scala_ints(e.jobs().keys()))
        values = store.executionMetrics(ex.id)
        nodes = store.planGraph(ex.id).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            metrics = node.metrics().iterator()
            while metrics.hasNext():
                metric = metrics.next()
                v = values.get(metric.accumulatorId())
                if v.isDefined():
                    text = v.get()
                    ex.metrics.append((node.name().strip(), metric.name(),
                                       parse_metric(text), metric_stage(text)))
        out.append(ex)
    return sorted(out, key=lambda e: e.id)


def metric_sum(executions: list[Execution], node_prefix: str,
               metric: str) -> float:
    """Sum of ``metric`` over the nodes named ``node_prefix...``."""
    return sum(v for e in executions for n, m, v, _ in e.metrics
               if n.startswith(node_prefix) and m == metric)


def node_stages(executions: list[Execution], node_prefix: str) -> set[int]:
    """Stages in which a node named ``node_prefix...`` ran tasks."""
    return {s for e in executions for n, _, _, s in e.metrics
            if n.startswith(node_prefix) and s is not None}


def task_durations(spark, stages) -> list[float]:
    """Durations in seconds of the finished tasks of ``stages``."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for stage in sorted(stages):
        it = store.taskList(stage, 0, 1 << 30).iterator()
        while it.hasNext():
            d = it.next().duration()
            if d.isDefined():
                out.append(d.get() / 1000.0)
    return out
