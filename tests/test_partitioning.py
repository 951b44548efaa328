"""Storage-layout tests: date-partitioned image corpus → partition
pruning; files.maxPartitionBytes honored (scan granularity)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cookieblock_consent_classifier_spark.sources.synth import synth_image_updates


def test_date_partitioned_scan_prunes(spark, tmp_path):
    """The 10^12-image corpus is written partitioned by event date;
    a day-filtered query must only scan that day's partition (pinned
    via PartitionFilters + the input files actually read)."""
    im = synth_image_updates(spark, num_entities=20, updates_per_entity=3,
                             hot_entities=0).drop("bytes")
    path = str(tmp_path / "img_part")
    im.withColumn("dt", F.to_date("ts")).write.partitionBy("dt").parquet(path)

    back = spark.read.parquet(path)
    days = [r["dt"] for r in back.select("dt").distinct().collect()]
    assert len(days) > 3
    one_day = back.filter(F.col("dt") == days[0])

    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(dt" in plan, plan[:1200]

    # the files actually read must all come from the one partition dir
    files = [
        r[0]
        for r in one_day.select(F.input_file_name()).distinct().collect()
    ]
    assert files and all(f"dt={days[0]}" in f for f in files)


def test_scan_split_size_is_configured(spark):
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == "134217728"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_bucketed_input_zero_exchange_feature_pipeline(spark, tmp_path):
    """The repeated-run answer at 100 TB: the entity-update hypertable
    written BUCKETED by entity_id (+ sorted within buckets) feeds a
    NATIVE-ONLY feature schema with ZERO exchanges — the bucketed scan
    reports hashpartitioning(entity_id), and window + groupBy both
    reuse it. (Schemas with the Arrow content kernel still need one
    exchange: ArrowEvalPython nodes don't propagate partitioning —
    the documented pitfall — so the kernel query keeps its single
    shuffle regardless of layout.) Values must equal the unbucketed
    run exactly."""
    from cookieblock_consent_classifier_spark.plans.compiler import compile_features
    from cookieblock_consent_classifier_spark.schema import FeatureSchema, FeatureSpec
    from cookieblock_consent_classifier_spark.sources.resources import fixture_resources
    from cookieblock_consent_classifier_spark.sources.synth import synth_cookie_updates

    df = synth_cookie_updates(spark, num_entities=200, updates_per_entity=3)
    spark.sql("DROP TABLE IF EXISTS bkt_updates")
    import shutil
    shutil.rmtree("spark-warehouse/bkt_updates", ignore_errors=True)
    df.write.mode("overwrite").bucketBy(8, "entity_id").sortBy("entity_id").saveAsTable(
        "bkt_updates"
    )
    bucketed = spark.table("bkt_updates")

    schema = FeatureSchema(
        num_updates=2,
        num_diffs=1,
        per_entity=(
            FeatureSpec("update_count"),
            FeatureSpec("levenshtein_total", vector_size=2),
            FeatureSpec("http_only_changed"),
        ),
        per_update=(FeatureSpec("expiry"), FeatureSpec("http_only")),
        per_diff=(FeatureSpec("time_difference"), FeatureSpec("lev_distance")),
    )
    res = fixture_resources()
    # training=False: the inverse-class-frequency weight join is a
    # tiny LABEL-keyed side computation (per-entity cardinality, ~4
    # rows after its aggregates) whose exchanges are unrelated to the
    # entity shuffle this test pins
    wide_b, names = compile_features(bucketed, schema, res, training=False)

    plan = wide_b._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert "ArrowEvalPython" not in plan, plan  # native-only: kernel pruned
    assert "Bucketed: true" in plan, plan

    wide_u, _ = compile_features(df, schema, res, training=False)
    got = {r["entity_id"]: (list(r["indices"]), [round(v, 9) for v in r["values"]])
           for r in wide_b.collect()}
    want = {r["entity_id"]: (list(r["indices"]), [round(v, 9) for v in r["values"]])
            for r in wide_u.collect()}
    assert got == want
    spark.sql("DROP TABLE IF EXISTS bkt_updates")
