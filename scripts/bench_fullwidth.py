"""Full-declared-width performance probe (VERDICT round-1 item 4).

Runs the SAME synthetic cookie-update workload through
compile_features twice:

  A. fixture resources (test cardinalities 20/20/10/15/10 → 149 slots)
  B. the reference's REAL resources + features.json widths
     (500/500/50/500/50 → 1,689 slots)

and reports wall times + the B/A ratio. Acceptance (per VERDICT):
full width must cost ≤ 2× fixture width on the same input — the
500-regex name_tokens bank, the 50-term content scan and the 500-rank
broadcast joins are the deltas under test.

Usage: python scripts/bench_fullwidth.py [num_entities] [cpus]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from cookieblock_consent_classifier_spark.plans.compiler import compile_features, default_schema
from cookieblock_consent_classifier_spark.session import get_spark
from cookieblock_consent_classifier_spark.sources.config import load_features_config
from cookieblock_consent_classifier_spark.sources.resources import fixture_resources
from cookieblock_consent_classifier_spark.sources.synth import synth_cookie_updates


def run(spark, df, schema, res, label: str, n_runs: int = 3) -> dict:
    times = []
    for _ in range(n_runs):
        t0 = time.perf_counter()
        wide, names = compile_features(df, schema, res, training=True)
        wide.write.format("noop").mode("overwrite").save()
        times.append(round(time.perf_counter() - t0, 3))
    return {"label": label, "width": schema.total_width, "times": times,
            "best": min(times)}


def main() -> None:
    n_entities = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    cpus = sys.argv[2] if len(sys.argv) > 2 else "32"
    spark = get_spark(app_name="bench-fullwidth", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    df = synth_cookie_updates(spark, n_entities, updates_per_entity=3)
    df = df.localCheckpoint()  # pin the input so both runs read identical data

    res_a = fixture_resources()
    schema_a = default_schema(res_a, num_updates=1, num_diffs=1)
    schema_b, res_b = load_features_config(
        "/root/reference/feature_extraction/features.json", base_dir="/root/reference"
    )

    a = run(spark, df, schema_a, res_a, "fixture_width")
    b = run(spark, df, schema_b, res_b, "full_width_1689")
    ratio = round(b["best"] / a["best"], 3)
    print(json.dumps({
        "metric": "full-width/fixture-width wall ratio",
        "value": ratio,
        "unit": "x",
        "rows": n_entities * 3,
        "entities": n_entities,
        "cpus": int(cpus),
        "fixture": a,
        "full": b,
        "pass_le_2x": ratio <= 2.0,
    }))


if __name__ == "__main__":
    main()
