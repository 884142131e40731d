"""Spark's SQL metrics, read from outside the program.

The SQL status store (``sharedState().statusStore()``) keeps, for every SQL
execution, its plan graph and the formatted value of every metric, with
the UI turned off. This module parses those strings and flattens an
execution into plain Python records.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40, "PiB": 1 << 50}
_TIME = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
         "min": 60.0, "h": 3600.0}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]*\.?\d+(?:[eE][-+]?\d+)?)\s*([A-Za-z]*)\s*$")
_STATS_RE = re.compile(
    r"^(?P<total>[^()]+?)\s*\((?P<min>[^,()]+),\s*(?P<med>[^,()]+),\s*"
    r"(?P<max>[^,()]+?)\s*(?:\(stage [^)]*\))?\)\s*$")


def parse_value(s: str) -> float:
    """One formatted metric value → float in base units (bytes, seconds,
    plain counts). ``"1,234"`` → 1234.0, ``"1.5 KiB"`` → 1536.0,
    ``"813 ms"`` → 0.813."""
    m = _VALUE_RE.match(s)
    if not m:
        raise ValueError(f"unparseable SQL metric value: {s!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return num
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    raise ValueError(f"unknown SQL metric unit {unit!r} in {s!r}")


def parse_metric(s: str) -> dict:
    """A metric string as the status store formats it → ``{total, min, med,
    max}`` in base units. Per-task metrics read
    ``"total (min, med, max (stageId: taskId))\\n8.5 s (2.1 s, 2.1 s,
    2.2 s (stage 2.0: task 6))"``; a single value (``"0 ms"``, ``"400"``)
    gives ``min``/``med``/``max`` = None."""
    text = s.strip()
    if "\n" in text:
        head, _, text = text.partition("\n")
        if not head.startswith("total"):
            raise ValueError(f"unexpected SQL metric header: {s!r}")
        m = _STATS_RE.match(text.strip())
        if not m:
            raise ValueError(f"unparseable SQL metric stats: {s!r}")
        return {k: parse_value(m.group(k)) for k in ("total", "min", "med", "max")}
    return {"total": parse_value(text), "min": None, "med": None, "max": None}


@dataclass
class Node:
    name: str
    desc: str
    metrics: dict[str, dict] = field(default_factory=dict)

    def total(self, metric: str) -> float:
        m = self.metrics.get(metric)
        return m["total"] if m else 0.0


@dataclass
class Execution:
    id: int
    description: str
    plan: str
    jobs: int
    stages: list[int]
    duration_s: float
    nodes: list[Node]

    def find(self, name: str) -> list[Node]:
        return [n for n in self.nodes if n.name == name]


def _java(jvm, scala_coll):
    return jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_coll)


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    ids = [e.executionId() for e in _java(spark._jvm, store.executionsList())]
    return max(ids, default=-1)


def executions_since(spark, after_id: int) -> list[Execution]:
    """Every SQL execution with id > ``after_id``, oldest first. Waits for
    the listener bus to drain, so executions of finished actions are
    complete."""
    jvm = spark._jvm
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for e in _java(jvm, store.executionsList()):
        eid = e.executionId()
        if eid <= after_id:
            continue
        values = _java(jvm, store.executionMetrics(eid))
        nodes = []
        for n in _java(jvm, store.planGraph(eid).allNodes()):
            metrics = {}
            for m in _java(jvm, n.metrics()):
                raw = values.get(m.accumulatorId())
                if raw is not None:
                    metrics[m.name()] = parse_metric(raw)
            nodes.append(Node(n.name(), n.desc(), metrics))
        done = e.completionTime()
        end_ms = done.get().getTime() if done.isDefined() else e.submissionTime()
        out.append(Execution(
            id=eid, description=e.description() or "",
            plan=e.physicalPlanDescription() or "",
            jobs=e.jobs().size(),
            stages=sorted(int(s) for s in _java(jvm, e.stages())),
            duration_s=(end_ms - e.submissionTime()) / 1000.0,
            nodes=nodes))
    return sorted(out, key=lambda x: x.id)


def stage_totals(spark, stage_ids: list[int]) -> dict:
    """Shuffle write, spill, peak execution memory (max), failed tasks,
    tasks and executor run time summed over the given stages, from the
    application status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    tot = {"shuffle_write_bytes": 0, "spill_bytes": 0, "peak_exec_memory_bytes": 0,
           "failed_tasks": 0, "tasks": 0, "executor_run_s": 0.0}
    for sid in stage_ids:
        for st in _java(spark._jvm, store.stageData(sid, False, None, False, None)):
            tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            tot["peak_exec_memory_bytes"] = max(tot["peak_exec_memory_bytes"],
                                                st.peakExecutionMemory())
            tot["failed_tasks"] += st.numFailedTasks()
            tot["tasks"] += st.numTasks()
            tot["executor_run_s"] += st.executorRunTime() / 1000.0
    return tot
