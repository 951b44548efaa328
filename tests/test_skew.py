"""Hot-entity skew: the per-entity aggregation collects the ordered
value sequence into one array cell for the post-agg gestalt kernel
(plans/compiler.py stage 2) — this pins the behavior and memory bound
at update_count ≈ 10^5 (a "hot cookie" 10^4× above the corpus median).

Memory bound: the collected cell is O(updates × avg_value_len) — at
10^5 short values that is single-digit MB per hot entity, well inside
executor memory; truly pathological entities (10^7+ updates × KB
values) belong in the salted two-phase aggregate (operators/skew.py),
which covers every algebraic aggregate but not the order-dependent
gestalt sequence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cookieblock_consent_classifier_spark.plans import compiler
from cookieblock_consent_classifier_spark.plans.compiler import compile_features, default_schema
from cookieblock_consent_classifier_spark.sources.resources import fixture_resources

HOT_UPDATES = 100_000


@pytest.fixture(scope="module")
def hot_entity_df(spark):
    # one entity with 1e5 updates (alternating 2-char values), plus a
    # few normal entities so the plan has real groups
    hot = spark.range(HOT_UPDATES).select(
        F.lit("hot").alias("entity_id"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
        F.lit("hot_cookie").alias("name"),
        F.lit("example.com").alias("domain"),
        F.lit("/").alias("path"),
        F.lit("example.com").alias("first_party_domain"),
        F.lit(1).cast("int").alias("label"),
        F.lit(0).cast("int").alias("cmp_origin"),
        F.col("id").cast("int").alias("update_idx"),
        F.concat(F.lit("v"), (F.col("id") % 2).cast("string")).alias("value"),
        F.col("id").cast("long").alias("expiry"),
        F.lit(False).alias("session"),
        F.lit(False).alias("http_only"),
        F.lit(True).alias("host_only"),
        F.lit(False).alias("secure"),
        F.lit("lax").alias("same_site"),
    )
    cold = spark.range(5).select(
        F.concat(F.lit("cold"), F.col("id")).alias("entity_id"),
        F.timestamp_seconds(F.lit(1700000000)).alias("ts"),
        F.lit("cold_cookie").alias("name"),
        F.lit("example.org").alias("domain"),
        F.lit("/").alias("path"),
        F.lit("example.org").alias("first_party_domain"),
        F.lit(0).cast("int").alias("label"),
        F.lit(0).cast("int").alias("cmp_origin"),
        F.lit(0).cast("int").alias("update_idx"),
        F.lit("x").alias("value"),
        F.lit(100).cast("long").alias("expiry"),
        F.lit(False).alias("session"),
        F.lit(False).alias("http_only"),
        F.lit(True).alias("host_only"),
        F.lit(False).alias("secure"),
        F.lit("lax").alias("same_site"),
    )
    return hot.unionByName(cold)


def test_hot_entity_completes_and_is_exact(spark, hot_entity_df, monkeypatch):
    res = fixture_resources()
    schema = default_schema(res, num_updates=2, num_diffs=1)
    # cap above the sequence length: proves exactness of the
    # UNtruncated gestalt over the full 1e5-update sequence
    monkeypatch.setattr(compiler, "GESTALT_MAX_UPDATES", HOT_UPDATES + 1)
    wide, names = compile_features(hot_entity_df, schema, res, training=True)
    rows = {r["entity_id"]: r for r in wide.collect()}
    assert len(rows) == 6
    hot = rows["hot"]
    got = {names[i]: v for i, v in zip(hot["indices"], hot["values"])}
    # alternating "v0"/"v1": every consecutive gestalt ratio is 0.5
    # (2 of 4 chars match), every levenshtein distance is 1
    assert got["update_count-0"] == HOT_UPDATES
    assert got["gestalt_total-0"] == pytest.approx(0.5)
    assert got["gestalt_total-1"] == pytest.approx(0.0, abs=1e-9)
    assert got["levenshtein_total-0"] == pytest.approx(1.0)
    assert got["levenshtein_total-1"] == pytest.approx(0.0, abs=1e-9)
    assert got["content_changed-0"] == 1.0
    # expiry strictly increases by 1s -> never jumps a day
    assert "expiry_changed-0" not in got
    # per-update slots come from the first updates
    assert got["update_0_expiry-0"] == 0.0
    assert got["update_1_expiry-0"] == 1.0
    assert got["diff_0_lev_distance-0"] == 1.0


def test_pathological_entity_capped_no_oom(spark):
    """10^7 updates on ONE entity through the default
    GESTALT_MAX_UPDATES cap: the collected gestalt cell is bounded at
    the cap (O(cap x value_len) memory, not O(updates)), per-diff
    gestalt slots (slot <= num_diffs) stay exact, and every algebraic
    aggregate is exact over the FULL sequence. Uses a slim schema
    (no kernel-backed features) so the 10^7 rows stay JVM-native."""
    from cookieblock_consent_classifier_spark.schema import FeatureSchema, FeatureSpec

    n = 10_000_000
    df = spark.range(n).select(
        F.lit("mega").alias("entity_id"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
        F.lit("mega_cookie").alias("name"),
        F.lit("example.com").alias("domain"),
        F.lit("/").alias("path"),
        F.lit("example.com").alias("first_party_domain"),
        F.lit(1).cast("int").alias("label"),
        F.lit(0).cast("int").alias("cmp_origin"),
        F.col("id").cast("int").alias("update_idx"),
        F.concat(F.lit("v"), (F.col("id") % 2).cast("string")).alias("value"),
        F.col("id").cast("long").alias("expiry"),
        F.lit(False).alias("session"),
        F.lit(False).alias("http_only"),
        F.lit(True).alias("host_only"),
        F.lit(False).alias("secure"),
        F.lit("lax").alias("same_site"),
    )
    schema = FeatureSchema(
        num_updates=2,
        num_diffs=1,
        per_entity=(
            FeatureSpec("update_count"),
            FeatureSpec("gestalt_total", vector_size=2),
            FeatureSpec("levenshtein_total", vector_size=2),
        ),
        per_update=(FeatureSpec("expiry"),),
        per_diff=(FeatureSpec("gestalt_similarity"),),
    )
    res = fixture_resources()
    wide, names = compile_features(df, schema, res, training=True)
    # the plan must NOT carry the Arrow content kernel: no enabled
    # feature consumes it, so column pruning drops the Python stage
    plan = wide._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan  # gestalt kernel only
    row = wide.collect()[0]
    got = {names[i]: v for i, v in zip(row["indices"], row["values"])}
    assert got["update_count-0"] == n          # exact over ALL updates
    assert got["gestalt_total-0"] == pytest.approx(0.5)   # uniform pattern
    assert got["diff_0_gestalt_similarity-0"] == pytest.approx(0.5)
    assert got["levenshtein_total-0"] == pytest.approx(1.0)  # algebraic, full
