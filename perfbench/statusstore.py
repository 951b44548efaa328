"""Per-operator metrics of finished SQL executions, read from Spark's
SQL status store (``sharedState().statusStore()``), and the task CPU
time of finished stages, read from the application status store
(``SparkContext.statusStore()``). Both are kept with
``spark.ui.enabled=false`` too.

The store holds each metric as Spark's display string, e.g.
``"total (min, med, max (stageId: taskId))\\n2.1 s (956 ms, 1.1 s, 1.1 s
(stage 107.0: task 160))"``; ``parse_metric`` turns it back into
numbers (seconds, bytes or counts).
"""

from __future__ import annotations

import re

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def _one(text: str) -> float:
    m = _VALUE.match(text.strip())
    if not m:
        raise ValueError(f"unparsed metric value {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return num
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    raise ValueError(f"unknown metric unit {unit!r} in {text!r}")


def parse_metric(text: str) -> dict:
    """``{"total": x}`` plus ``min``/``med``/``max`` over tasks when
    Spark recorded a per-task distribution."""
    lines = text.strip().split("\n")
    if len(lines) == 1:
        return {"total": _one(lines[0])}
    body = lines[1]
    total, _, rest = body.partition(" (")
    out = {"total": _one(total)}
    parts = rest.split(", ")
    if len(parts) >= 3:
        out["min"] = _one(parts[0])
        out["med"] = _one(parts[1])
        out["max"] = _one(parts[2].split(" (")[0])
    return out


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def executions_since(spark, first_id: int) -> list[dict]:
    """Every finished SQL execution with id >= ``first_id``: id,
    description, wall ms, plan nodes (id, name, desc, parsed metrics)
    and plan edges (child id -> parent id)."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for e in _seq(store.executionsList()):
        eid = e.executionId()
        if eid < first_id:
            continue
        done = e.completionTime()
        values = store.executionMetrics(eid)
        graph = store.planGraph(eid)
        nodes = []
        for n in _seq(graph.allNodes()):
            metrics = {}
            for pm in _seq(n.metrics()):
                v = values.get(pm.accumulatorId())
                if v.isDefined() and v.get():
                    metrics[pm.name()] = parse_metric(v.get())
            nodes.append({"id": n.id(), "name": n.name(), "desc": n.desc(), "metrics": metrics})
        edges = [(ed.fromId(), ed.toId()) for ed in _seq(graph.edges())]
        out.append({
            "id": eid,
            "description": e.description(),
            "wall_s": (done.get().getTime() - e.submissionTime()) / 1e3 if done.isDefined() else None,
            "nodes": nodes,
            "edges": edges,
        })
    return sorted(out, key=lambda x: x["id"])


def next_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    ids = [e.executionId() for e in _seq(store.executionsList())]
    return max(ids) + 1 if ids else 0


def stage_task_cpu_s(spark) -> dict[int, float]:
    """Stage id -> CPU seconds its tasks spent on their executor threads
    (``executorCpuTime``: JIT compiler, GC and other runtime threads are
    not in it), for every stage the store retains. Waits for the
    listener bus to drain first, so that finished tasks are counted."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(30_000)
    gw = spark.sparkContext._gateway
    none = gw.jvm.java.util.ArrayList()
    stages = sc.statusStore().stageList(none, False, False, gw.new_array(gw.jvm.double, 0), none)
    out: dict[int, float] = {}
    for st in _seq(stages):  # one entry per stage attempt
        out[st.stageId()] = out.get(st.stageId(), 0.0) + st.executorCpuTime() / 1e9
    return out
