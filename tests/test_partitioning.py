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


def _bucketed_table(spark, df):
    """``df`` written as the table ``bkt_updates``, bucketed (8) and
    sorted by entity_id, read back."""
    import shutil

    spark.sql("DROP TABLE IF EXISTS bkt_updates")
    shutil.rmtree("spark-warehouse/bkt_updates", ignore_errors=True)
    df.write.mode("overwrite").bucketBy(8, "entity_id").sortBy("entity_id").saveAsTable(
        "bkt_updates"
    )
    return spark.table("bkt_updates")


def _sparse_by_entity(wide):
    return {r["entity_id"]: (list(r["indices"]), [round(v, 9) for v in r["values"]])
            for r in wide.collect()}


def test_bucketed_input_zero_exchange_feature_pipeline(spark, tmp_path):
    """The repeated-run answer at 100 TB: the entity-update hypertable
    written BUCKETED by entity_id (+ sorted within buckets) feeds a
    NATIVE-ONLY feature schema with ZERO exchanges — the bucketed scan
    reports hashpartitioning(entity_id), and window + groupBy both
    reuse it. (A schema with Python UDFs keeps its rows unshuffled
    too, since its one ArrowEvalPython node sits after the window:
    test_bucketed_input_kernel_schema_shuffles_no_rows.) Values must
    equal the unbucketed run exactly."""
    from cookieblock_consent_classifier_spark.plans.compiler import compile_features
    from cookieblock_consent_classifier_spark.schema import FeatureSchema, FeatureSpec
    from cookieblock_consent_classifier_spark.sources.resources import fixture_resources
    from cookieblock_consent_classifier_spark.sources.synth import synth_cookie_updates

    df = synth_cookie_updates(spark, num_entities=200, updates_per_entity=3)
    bucketed = _bucketed_table(spark, df)

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
    assert _sparse_by_entity(wide_b) == _sparse_by_entity(wide_u)
    spark.sql("DROP TABLE IF EXISTS bkt_updates")


def test_bucketed_input_kernel_schema_shuffles_no_rows(spark):
    """default_schema (content kernel, value stats, gestalt and regex
    UDFs) over the entity_id-bucketed table: its one ArrowEvalPython
    node sits after the window, so the window reuses the bucketed
    scan's partitioning and no exchange moves rows. The only hash
    exchange left carries the entity aggregate's partial buffers (the
    Python node declares no output partitioning). Values must equal
    the unbucketed run exactly."""
    from cookieblock_consent_classifier_spark.plans.compiler import (
        compile_features,
        default_schema,
    )
    from cookieblock_consent_classifier_spark.sources.resources import fixture_resources
    from cookieblock_consent_classifier_spark.sources.synth import synth_cookie_updates

    res = fixture_resources()
    df = synth_cookie_updates(spark, num_entities=200, updates_per_entity=3)
    bucketed = _bucketed_table(spark, df)
    # training=False: the class-weight branch's label-keyed exchanges
    # are unrelated to the entity rows this test pins
    wide_b, _ = compile_features(bucketed, default_schema(res, 2, 2), res, training=False)

    plan = wide_b._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    lines = [ln.lstrip(" :+-*") for ln in plan.splitlines()]
    exchanges = [(text, lines[i + 1]) for i, text in enumerate(lines)
                 if text.startswith("Exchange hashpartitioning")]
    assert len(exchanges) == 1, plan
    (exchange, child), = exchanges
    assert exchange.startswith("Exchange hashpartitioning(entity_id"), plan
    assert "partial_" in child, plan
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "Bucketed: true" in plan, plan

    wide_u, _ = compile_features(df, default_schema(res, 2, 2), res, training=False)
    assert _sparse_by_entity(wide_b) == _sparse_by_entity(wide_u)
    spark.sql("DROP TABLE IF EXISTS bkt_updates")
