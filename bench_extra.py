"""Round-7 optimization measurement harness (guide §1).

Separate from the FROZEN bench.py: times individual declared queries
with the noop sink (min-of-N, fresh plan per rep, per-rep loadavg),
and dumps .explain("formatted") for each measured query to
plans/r07/<query>_<tag>.txt so plan-shape claims are auditable.

Usage:
  python bench_extra.py [--tag before|after] [--reps 3] [--plans-only]
                        [query ...]
Defaults: all BENCH_QUERIES from bench.py, tag from
$SPARK_GRAFT_TAG or 'probe', sf dir from $SPARK_GRAFT_SF_DIR,
cores from $SPARK_GRAFT_CPUS.

Prints one JSON line: {"tag": ..., "sf_dir": ..., "queries": {name:
{"construct": s, "exec": s, "loadavg": [...]}}}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO_ROOT)

import __spark_entry__ as entrymod
from cookieblock_consent_classifier_spark.session import get_spark


def _loadavg1() -> float:
    with open("/proc/loadavg") as fd:
        return float(fd.read().split()[0])


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--tag", default=os.environ.get("SPARK_GRAFT_TAG", "probe"))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans-only", action="store_true")
    ap.add_argument("--no-plans", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name=f"bench-extra-{args.tag}",
        master=f"local[{cpus}]",
        extra_conf={"spark.sql.shuffle.partitions": str(int(cpus))},
    )
    qs = entrymod.queries()
    names = args.queries or [n for n in __import__("bench").BENCH_QUERIES]
    plans_dir = os.path.join(_REPO_ROOT, "plans", "r07")
    os.makedirs(plans_dir, exist_ok=True)

    # warm the Python worker pool + codegen so rep 1 is comparable
    if not args.plans_only:
        import bench as benchmod

        benchmod._warm(spark, int(cpus), sf_dir)

    out: dict[str, dict] = {}
    for name in names:
        fn = qs[name]
        entrymod._PLAN_CACHE.clear()
        df = fn(spark, sf_dir)
        if not args.no_plans:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w", encoding="utf-8"
            ) as fd:
                fd.write(plan)
        if args.plans_only:
            continue
        spark.sparkContext.setJobDescription(f"{args.tag}:{name}")
        best_c = best_e = float("inf")
        las = []
        for _ in range(args.reps):
            las.append(_loadavg1())
            entrymod._PLAN_CACHE.clear()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            _noop(df)
            t2 = time.perf_counter()
            best_c = min(best_c, t1 - t0)
            best_e = min(best_e, t2 - t1)
        spark.sparkContext.setJobDescription(None)
        out[name] = {
            "construct": round(best_c, 3),
            "exec": round(best_e, 3),
            "loadavg": [round(x, 2) for x in las],
        }
        print(f"  {name}: construct={best_c:.3f}s exec={best_e:.3f}s", file=sys.stderr)

    print(json.dumps({"tag": args.tag, "sf_dir": sf_dir, "queries": out}))


if __name__ == "__main__":
    main()
