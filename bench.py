"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Metric (BASELINE.json): entity-timestamps/sec of feature rows
materialized by the flagship feature pipeline; per-query wall times
for the operator suite. Scaling efficiency (local[1] -> local[4]
speedup) is recorded by `perfbench/run.py --all`.

Measurement protocol (the host is SHARED; identical runs vary up to
3x under external load):
- every suite query runs 3 times, each from a FRESHLY built plan
  (the module-level plan cache is cleared per repetition — re-writing
  the same DataFrame reuses shuffle files and under-reports), and the
  reported construct/exec are the per-phase minima (least-contended
  observation);
- the 1-minute loadavg is recorded per query so a contaminated number
  is identifiable in the artifact itself;
- the Python worker pool is warmed for BOTH pandas-UDF eval types
  (SCALAR and SCALAR_ITER) before timing starts.

The two cookie-pipeline suite entries run on their pinned 1.5k-row
determinism input, where per-action fixed cost (codegen of the wide
selects, broadcast builds, 3 Arrow stage launches) dominates — those
numbers are shape pins, not throughput. Throughput for the same plans
is measured separately in "pipeline_scaled": the identical
compile_features plan over an sf-proportional synthetic input
(500k entities/sf × 3 updates), reported as rows/sec.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO_ROOT)

import __spark_entry__ as entrymod
from cookieblock_consent_classifier_spark.session import get_spark

# the per-round benchmark suite: flagship pipeline + the heaviest
# operator families (temporal window, as-of, dedup, similarity, text)
BENCH_QUERIES = [
    "update_count",  # carries the folded flag_changed columns since r5
    "time_diff_stats",  # carries the folded slot-pivot columns since r6
    "sessionize",
    "asof_join_orders",
    "backfill",
    "phash_delta",
    "levenshtein_stats",
    "content_flags",
    "tpch_q1",
    "dedup_exact",
    "minhash_signatures",
    "embedding_topk",
    "text_quality",
    "doc_chunks",
    "entropy_zlib",
    "gestalt_diff",
    "simhash",
    "grid_search_cv",
    "bayes_decision",
    "rolling_time_sum",
    "dedup_clusters_cc",
    "audio_pipeline",
    "cookie_feature_pipeline",
    "cookie_pipeline_fullwidth",
]

REPEATS = 3
# a 1-min loadavg above this means another tenant is burning cores and
# wall-times are untrustworthy; queries re-run (bounded) and entries
# are FLAGGED in the artifact either way (VERDICT r4 item 1)
LOADAVG_CLEAN = 4.0
EXTRA_REPEATS = 3  # extra contaminated-retry budget per query
IDLE_WAIT_SEC = 90  # max wait for the host to go quiet before a section


def _loadavg1() -> float:
    with open("/proc/loadavg") as fd:
        return float(fd.read().split()[0])


def _wait_idle(max_wait: float = IDLE_WAIT_SEC) -> float:
    """Poll until the 1-min loadavg drops below LOADAVG_CLEAN or the
    budget runs out (the host is shared; waiting a minute routinely
    saves a 3x-inflated measurement). Returns the final loadavg."""
    deadline = time.monotonic() + max_wait
    la = _loadavg1()
    while la > LOADAVG_CLEAN and time.monotonic() < deadline:
        time.sleep(5.0)
        la = _loadavg1()
    return la


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _warm(spark, cpus: int, sf_dir: str) -> None:
    """JIT/codegen warm-up plus the Python worker pool for BOTH
    pandas-UDF eval types: the first pandas-UDF stage spawns one
    worker per core (~10s one-time on 32 cores) and worker reuse is
    keyed per eval mode — warming only SCALAR_ITER would leave the
    first SCALAR query to re-absorb spawn cost."""
    from pyspark.sql import functions as F  # noqa: PLC0415
    from pyspark.sql.functions import PandasUDFType  # noqa: PLC0415

    qs = entrymod.queries()
    _noop(qs["tpch_q1"](spark, sf_dir))

    # (explicit Iterator form: `from __future__ import annotations`
    # stringifies hints, which pandas_udf's type inference rejects)
    def _warm_iter(it):
        for s in it:
            yield s * 1.0

    def _warm_scalar(s):
        return s * 1.0

    for udf in (
        F.pandas_udf(_warm_iter, "double", PandasUDFType.SCALAR_ITER),
        F.pandas_udf(_warm_scalar, "double", PandasUDFType.SCALAR),
    ):
        _noop(
            spark.range(0, 10_000, 1, cpus).select(udf(F.col("id").cast("double")))
        )


def _bench_suite(spark, sf_dir: str):
    """min-of-REPEATS construct/exec per query, fresh plan each run.
    Contention handling (VERDICT r4 item 1): a rep that starts under
    1-min loadavg > LOADAVG_CLEAN doesn't count toward the clean-rep
    quota — up to EXTRA_REPEATS retries chase a quiet window — and the
    per-query artifact records the MINIMUM loadavg any rep saw plus a
    `contaminated` list naming queries that never got a clean rep."""
    qs = entrymod.queries()
    timings: dict[str, float] = {}
    construct: dict[str, float] = {}
    loadavg: dict[str, float] = {}
    contaminated: list[str] = []
    for name in BENCH_QUERIES:
        best_c = best_e = float("inf")
        best_la = float("inf")
        done = waits = hot_runs = 0
        while done < REPEATS:
            la = _loadavg1()
            if la > LOADAVG_CLEAN and waits < EXTRA_REPEATS:
                # hot window: WAIT instead of burning a full execution
                # under contention (which would itself keep the host
                # hot and fold a junk timing into the min)
                waits += 1
                time.sleep(10.0)
                continue
            if la > LOADAVG_CLEAN:
                hot_runs += 1  # wait budget exhausted: run anyway, flag
            best_la = min(best_la, la)
            # fresh plan every run: cached DataFrames reuse shuffle
            # files across writes and under-report exec
            entrymod._PLAN_CACHE.clear()
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            t1 = time.perf_counter()
            _noop(df)
            t2 = time.perf_counter()
            best_c = min(best_c, t1 - t0)
            best_e = min(best_e, t2 - t1)
            done += 1
        if hot_runs == done:
            contaminated.append(name)  # no rep ever saw a quiet window
        construct[name] = round(best_c, 3)
        timings[name] = round(best_e, 3)
        loadavg[name] = round(best_la, 2)
    return timings, construct, loadavg, contaminated


def _scaled_pipeline_plan(spark, sf: float, fullwidth: bool):
    """The SAME compile_features plan as the suite's two pipeline
    entries, over an sf-proportional synthetic input (500k entities at
    sf=1.0, x3 updates each) — exec here measures rows/sec, with the
    per-action fixed cost amortized the way a real-scale run would."""
    from cookieblock_consent_classifier_spark.plans.compiler import (  # noqa: PLC0415
        compile_features, default_schema,
    )
    from cookieblock_consent_classifier_spark.sources.config import (  # noqa: PLC0415
        load_features_config,
    )
    from cookieblock_consent_classifier_spark.sources.resources import (  # noqa: PLC0415
        fixture_resources,
    )
    from cookieblock_consent_classifier_spark.sources.synth import (  # noqa: PLC0415
        synth_cookie_updates,
    )

    n_entities = max(1_000, int(500_000 * sf))
    df = synth_cookie_updates(spark, num_entities=n_entities, updates_per_entity=3)
    if fullwidth:
        schema, res = load_features_config(
            "/root/reference/feature_extraction/features.json",
            base_dir="/root/reference",
        )
    else:
        res = fixture_resources()
        schema = default_schema(res, num_updates=2, num_diffs=1)
    wide, _ = compile_features(df, schema, res)
    return wide, n_entities * 3


def _bench_scaled_pipelines(spark, sf: float, sf_mult: float = 1.0, reps: int = 2):
    """Throughput of the compile_features plans over sf-proportional
    input (x ``sf_mult``). Waits for an idle window per entry and
    flags any entry that ran hot anyway."""
    out = {}
    for label, fullwidth in (
        ("cookie_feature_pipeline", False),
        ("cookie_pipeline_fullwidth", True),
    ):
        la = _wait_idle()
        best = float("inf")
        rows = 0
        for _ in range(reps):
            wide, rows = _scaled_pipeline_plan(spark, sf * sf_mult, fullwidth)
            t0 = time.perf_counter()
            _noop(wide)
            best = min(best, time.perf_counter() - t0)
        # also record the post-run loadavg: it cannot feed the flag
        # (the measured job ITSELF drives it up — a 32-core run reads
        # 30+ regardless of tenants) but lets a reader judge whether a
        # mid-run tenant spike is plausible (own-load ceiling ≈ cpus;
        # readings far above it mean contention)
        la_after = _loadavg1()
        out[label] = {
            "input_rows": rows,
            "sec": round(best, 3),
            "rows_per_sec": round(rows / best, 1) if best > 0 else 0.0,
            "loadavg": round(la, 2),
            "loadavg_after": round(la_after, 2),
            "contaminated": la > LOADAVG_CLEAN,
        }
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark(
        app_name="bench", master=f"local[{cpus}]",
        extra_conf={"spark.sql.shuffle.partitions": str(int(cpus))},
    )
    _warm(spark, int(cpus), sf_dir)

    t_all = time.perf_counter()
    timings, construct, loadavg, contaminated = _bench_suite(spark, sf_dir)
    total_sec = time.perf_counter() - t_all

    # flagship throughput: entity-timestamp rows materialized per sec
    # (the north-rule metric) over the composite feature pipeline.
    # Min of 3 with the plan REBUILT per run (same-DF rewrites reuse
    # shuffle files and measure only post-shuffle stages).
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_entity_ts = ev.count()
    flagship_la = _wait_idle()
    flagship_runs = []
    for _ in range(3):
        flagship = _flagship_at(spark, sf_dir)
        t0 = time.perf_counter()
        _noop(flagship)
        flagship_runs.append(round(time.perf_counter() - t0, 3))
    flagship_sec = min(flagship_runs)
    throughput = n_entity_ts / flagship_sec if flagship_sec > 0 else 0.0

    pipeline_scaled = _bench_scaled_pipelines(spark, sf)
    # one 10x-rows run per round (VERDICT r4 item 7): long runs
    # amortize contention spikes the way the 600k-row scaling runs do
    pipeline_scaled_sf1 = _bench_scaled_pipelines(spark, sf, sf_mult=10.0, reps=1)

    result = {
        "metric": "entity-timestamps/sec (flagship feature pipeline)",
        "value": round(throughput, 1),
        "unit": "rows/sec",
        "queries": timings,
        "construct": construct,
        "loadavg": loadavg,
        "contaminated": contaminated,
        "pipeline_scaled": pipeline_scaled,
        "pipeline_scaled_sf1": pipeline_scaled_sf1,
        "total_sec": round(total_sec, 3),
        "flagship_sec": round(flagship_sec, 3),
        "flagship_runs": flagship_runs,
        "flagship_loadavg": round(flagship_la, 2),
        "input_rows": n_entity_ts,
        "cpus": int(cpus),
        "sf": sf,
        "repeats": REPEATS,
    }
    # the driver artifact keeps only the TAIL of stdout; persist the
    # full suite JSON in-repo so per-query exec times survive the
    # truncation (round-5 VERDICT item 1 — the judge's regression
    # signal). Path is overridable so test runs don't clobber it.
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT", os.path.join(_REPO_ROOT, "BENCH", "suite_latest.json")
    )
    try:
        if os.path.dirname(out_path):  # bare filename → cwd, no mkdir
            os.makedirs(os.path.dirname(out_path), exist_ok=True)
        with open(out_path, "w", encoding="utf-8") as fd:
            json.dump(result, fd, indent=1)
            fd.write("\n")
    except OSError as exc:  # never let artifact persistence kill the bench
        print(f"warn: could not write {out_path}: {exc}", file=sys.stderr)
    print(json.dumps(result))


def _flagship_at(spark, sf_dir):
    from pyspark.sql import Window, functions as F

    from cookieblock_consent_classifier_spark.operators import asof, temporal

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumnRenamed(
        "o_custkey", "user_id"
    )
    enriched = asof.asof_join(
        ev, orders, on="user_id", fact_ts="ts", dim_ts="o_orderdate",
        payload=["o_orderkey"], dim_order=["o_orderkey"],
    )
    enriched = temporal.sessionize(enriched, "user_id", "ts", 1800, order_tiebreak=["event_id"])
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    enriched = enriched.withColumn("lev", F.levenshtein(F.lag("props").over(w), F.col("props")))
    gap = (
        F.unix_micros(F.col("ts").cast("timestamp"))
        - F.lag(F.unix_micros(F.col("ts").cast("timestamp"))).over(w)
    ) / F.lit(1e6)
    enriched = enriched.withColumn("gap_s", gap)
    return enriched.groupBy("user_id").agg(
        F.count("*").alias("n_updates"),
        (F.max("session_id") + 1).alias("n_sessions"),
        F.round(F.coalesce(F.avg("gap_s"), F.lit(-1.0)), 4).alias("gap_mean"),
        F.round(F.coalesce(F.avg("lev"), F.lit(-1.0)), 4).alias("lev_mean"),
        F.coalesce(temporal.flag_changed("event_type", "user_id", ["ts"]), F.lit(0.0)).alias("type_changed"),
        F.max("o_orderkey_asof").alias("last_orderkey_asof"),
    )


if __name__ == "__main__":
    main()
