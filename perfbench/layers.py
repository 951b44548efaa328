"""Per-layer metrics of one traced job, from its spans and the
operator metrics of its SQL executions (``statusstore``).

Executions are attributed to the public call that ran them through the
``perfbench:<span>`` job description set by ``job.run_job``. Python UDF
nodes are told apart by their input: the fused content kernel reads
``value``, the post-aggregation gestalt UDF reads ``transform(__vals``
and the pattern/token regex UDFs read ``name``.
"""

from __future__ import annotations

# name -> unit; the order is the report order
PER_LAYER: dict[str, str] = {
    "sources.scan_s": "s",
    "sources.input_bytes": "bytes",
    "runtime.checkpoints.scan_stage_s": "s",
    "runtime.checkpoints.extract_stage_s": "s",
    "runtime.checkpoints.lineage_s": "s",
    "functions.vectorized.python_run_s": "s",
    "functions.vectorized.kernel_run_s": "s",
    "functions.vectorized.gestalt_run_s": "s",
    "functions.vectorized.regex_run_s": "s",
    "functions.vectorized.python_init_s": "s",
    "functions.vectorized.bytes_to_python": "bytes",
    "functions.vectorized.bytes_from_python": "bytes",
    "plans.compiler.construct_s": "s",
    "plans.compiler.agg_build_s": "s",
    "plans.compiler.agg_spill_bytes": "bytes",
    "plans.compiler.agg_peak_mem_bytes": "bytes",
    "plans.compiler.window_spill_bytes": "bytes",
    "plans.compiler.exchange_bytes": "bytes",
    "plans.compiler.exchange_skew": "ratio",
    "plans.compiler.input_scans": "count",
    "plans.assemble.weights_s": "s",
    "sinks.write_s": "s",
    "sinks.bytes_written": "bytes",
    "session.executions": "count",
}

_WRITE = "Execute InsertIntoHadoopFsRelationCommand"


def _total(node: dict, metric: str, key: str = "total") -> float:
    m = node["metrics"].get(metric)
    return m.get(key, m["total"]) if m else 0.0


def _is_write(ex: dict) -> bool:
    return any(n["name"] == _WRITE for n in ex["nodes"])


def _label(ex: dict) -> str:
    return (ex["description"] or "").removeprefix("perfbench:")


def _descendants(ex: dict, node_id: int) -> list[dict]:
    children: dict[int, list[int]] = {}
    for child, parent in ex["edges"]:
        children.setdefault(parent, []).append(child)
    by_id = {n["id"]: n for n in ex["nodes"]}
    out, todo = [], list(children.get(node_id, []))
    while todo:
        i = todo.pop()
        out.append(by_id[i])
        todo.extend(children.get(i, []))
    return out


def _udf_kind(desc: str) -> str:
    if "transform(__vals" in desc:
        return "gestalt"
    if "_udf(name#" in desc:
        return "regex"
    return "kernel"


def layer_metrics(spans: dict[str, float], executions: list[dict]) -> dict[str, float]:
    """``spans``: span name -> seconds for the traced job."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["runtime.checkpoints.scan_stage_s"] = spans["runtime.checkpoints.scan_stage"]
    m["runtime.checkpoints.extract_stage_s"] = spans["runtime.checkpoints.extract_stage"]
    m["plans.compiler.construct_s"] = spans["plans.compiler.construct"]
    m["sinks.write_s"] = spans["sinks.write"]
    m["session.executions"] = float(len(executions))

    for ex in executions:
        label = _label(ex)
        nodes = ex["nodes"]
        if label.startswith("runtime.checkpoints.") and not _is_write(ex):
            m["runtime.checkpoints.lineage_s"] += ex["wall_s"] or 0.0
        if label == "runtime.checkpoints.scan_stage" and _is_write(ex):
            for n in nodes:
                if n["name"].startswith("Scan parquet"):
                    m["sources.scan_s"] += _total(n, "scan time")
                    m["sources.input_bytes"] += _total(n, "size of files read")
        if label == "sinks.write":
            for n in nodes:
                if n["name"] == _WRITE:
                    m["sinks.bytes_written"] += _total(n, "written output")
        if label != "runtime.checkpoints.extract_stage" or not _is_write(ex):
            continue
        # the extract-stage write: the compiled feature plan itself
        by_id = {n["id"]: n for n in nodes}
        parent_of = {c: p for c, p in ex["edges"]}
        entity_xchg = []
        for n in nodes:
            name, desc = n["name"], n["desc"]
            if name.startswith("Scan parquet"):
                m["plans.compiler.input_scans"] += 1
            elif name == "ArrowEvalPython":
                run = _total(n, "time to run Python workers")
                m["functions.vectorized.python_run_s"] += run
                m[f"functions.vectorized.{_udf_kind(desc)}_run_s"] += run
                m["functions.vectorized.python_init_s"] += _total(
                    n, "time to start Python workers"
                ) + _total(n, "time to initialize Python workers")
                m["functions.vectorized.bytes_to_python"] += _total(n, "data sent to Python workers")
                m["functions.vectorized.bytes_from_python"] += _total(
                    n, "data returned from Python workers"
                )
            elif "Aggregate" in name and "keys=[entity_id#" in desc:
                m["plans.compiler.agg_build_s"] += _total(n, "time in aggregation build")
                m["plans.compiler.agg_spill_bytes"] += _total(n, "spill size")
            elif name == "Sort" and desc.startswith("Sort [entity_id#"):
                # the entity SortAggregate/ObjectHashAggregate reports no
                # memory gauge; the Sort feeding window + aggregate does
                # (largest task)
                m["plans.compiler.agg_peak_mem_bytes"] += _total(n, "peak memory", "max")
                m["plans.compiler.agg_spill_bytes"] += _total(n, "spill size")
            elif name == "Window":
                m["plans.compiler.window_spill_bytes"] += _total(n, "spill size")
            elif name == "Exchange" and "hashpartitioning(entity_id#" in desc:
                entity_xchg.append(n)
            elif name == "BroadcastExchange" and any(
                "__cs#" in d["desc"] for d in _descendants(ex, n["id"])
            ):
                m["plans.assemble.weights_s"] += _total(n, "time to collect")
        if entity_xchg:
            # the update-row exchange (the counts branch has its own,
            # smaller one): shuffle bytes, and skew as max/median bytes
            # per reading task from the AQE read above it
            x = max(entity_xchg, key=lambda n: _total(n, "shuffle bytes written"))
            m["plans.compiler.exchange_bytes"] = _total(x, "shuffle bytes written")
            read = by_id.get(parent_of.get(x["id"], -1))
            part = (read or {}).get("metrics", {}).get("partition data size")
            if part and part.get("med"):
                m["plans.compiler.exchange_skew"] = part["max"] / part["med"]
            else:  # a single reading partition: no imbalance to report
                m["plans.compiler.exchange_skew"] = 1.0
    return m
