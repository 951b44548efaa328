"""Physical-plan audit over every queries() entry: materialize each
query (AQE-final plan), count hash exchanges / broadcasts / scans /
Python (ArrowEvalPython) nodes, and flag anti-patterns:

- CartesianProduct / BroadcastNestedLoopJoin on non-tiny inputs
- more than the expected hash exchanges for simple agg/window shapes
- row-at-a-time PythonUDF (BatchEvalPython) anywhere — Arrow only
- ``Scan ExistingRDD`` leaves over a Python RDD: a
  ``createDataFrame(list)`` table is pickled on the Python side, so
  every job that reads it starts Python workers just to deserialise
  rows (fixed tables go through ``resources.local_table`` →
  LocalTableScan instead). ``localCheckpoint`` leaves print the same
  node name but are JVM RDDs, so each leaf's RDD lineage is checked.

Writes PLAN_AUDIT.md. Usage: python scripts/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod
from cookieblock_consent_classifier_spark.session import get_spark


def _plan_nodes(p):
    """Every node of a JVM physical plan, through AQE query stages."""
    yield p
    name = p.nodeName()
    if name == "AdaptiveSparkPlan":
        kids = [p.executedPlan()]
    elif name.endswith("QueryStage"):
        kids = [p.plan()]
    else:
        ch = p.children()
        kids = [ch.apply(i) for i in range(ch.size())]
    for k in kids:
        yield from _plan_nodes(k)


def python_rdd_scans(jplan) -> int:
    return sum(
        n.nodeName() == "Scan ExistingRDD" and "PythonRDD" in n.rdd().toDebugString()
        for n in _plan_nodes(jplan)
    )


def audit(plan: str) -> dict:
    return {
        "hash_exchanges": len(re.findall(r"Exchange hashpartitioning", plan)),
        "range_exchanges": len(re.findall(r"Exchange rangepartitioning", plan)),
        "single_exchanges": len(re.findall(r"Exchange SinglePartition", plan)),
        "broadcasts": plan.count("BroadcastExchange"),
        "scans": plan.count("FileScan") + plan.count("Scan parquet"),
        "arrow_python": plan.count("ArrowEvalPython"),
        "rowwise_python": plan.count("BatchEvalPython"),
        "cartesian": plan.count("CartesianProduct"),
        "bnl_joins": plan.count("BroadcastNestedLoopJoin"),
        "codegen": plan.count("WholeStageCodegen"),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="plan-audit", master="local[8]", shuffle_partitions=8)
    qs = entrymod.queries()
    rows = []
    for name, fn in sorted(qs.items()):
        try:
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            jplan = df._jdf.queryExecution().executedPlan()
            a = audit(jplan.toString())
            a["python_rdd_scans"] = python_rdd_scans(jplan)
            a["name"] = name
            rows.append(a)
        except Exception as exc:  # audit must cover everything or say why
            rows.append({"name": name, "error": str(exc)[:120]})

    flagged = [
        r for r in rows
        if r.get("rowwise_python", 0) > 0 or r.get("python_rdd_scans", 0) > 0
        or r.get("cartesian", 0) > 0
    ]
    with open(os.path.join(ROOT, "PLAN_AUDIT.md"), "w", encoding="utf-8") as fd:
        fd.write(
            "# PLAN_AUDIT — AQE-final physical plans of every queries() entry\n\n"
            f"sf_dir: {sf_dir}. Node counts per query; flags: row-at-a-time\n"
            "Python (must be 0 — Arrow only), Python-RDD scans (`Scan\n"
            "ExistingRDD`, pyRDD) and CartesianProduct (only the documented\n"
            "test-only all-pairs oracle may carry one).\n\n"
            "| query | hashEx | rangeEx | singleEx | bcast | scans | arrowPy | rowPy | pyRDD | cartesian | BNLJ |\n"
            "|---|---|---|---|---|---|---|---|---|---|---|\n"
        )
        for r in rows:
            if "error" in r:
                fd.write(f"| {r['name']} | ERROR: {r['error']} |\n")
                continue
            fd.write(
                f"| {r['name']} | {r['hash_exchanges']} | {r['range_exchanges']} | "
                f"{r['single_exchanges']} | {r['broadcasts']} | {r['scans']} | "
                f"{r['arrow_python']} | {r['rowwise_python']} | "
                f"{r['python_rdd_scans']} | {r['cartesian']} | "
                f"{r['bnl_joins']} |\n"
            )
        fd.write(
            "\nNotes:\n"
            "- rowPy must be 0 everywhere (no row-at-a-time Python UDFs).\n"
            "- pyRDD: fixed lookup/parameter tables (rank tables, grid-search\n"
            "  params) are LocalTableScans. Known remaining Python-RDD scans\n"
            "  ship data-sized driver results, where a VALUES text would grow\n"
            "  with the input: the dedup connected-components driver path\n"
            "  (dedup.py, `dedup_clusters_cc`) and the IVF centroids\n"
            "  (similarity.py, `ann_ivf_refined_topk`).\n"
            "- embedding_near_dup is the documented TEST-ONLY exact all-pairs\n"
            "  oracle; its non-equi join is intentional (scale path:\n"
            "  lsh_near_dup_pairs).\n"
            "- singleEx on tiny final rankings (top-k limit, best-params) is\n"
            "  a deliberate k-row collapse, not a data-volume shuffle.\n"
        )
    n_err = sum("error" in r for r in rows)
    print(f"audited {len(rows)} queries, {n_err} errors, "
          f"{len(flagged)} flagged: {[r['name'] for r in flagged]}")


if __name__ == "__main__":
    main()
