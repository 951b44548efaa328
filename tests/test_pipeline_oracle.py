"""The oracled end-to-end pipeline surface (driver query
``cookie_feature_pipeline``, VERDICT r4 item 1): the real
compile_features + assembler over compiler.native_schema on the
events-derived cookie table, value-pinned against its full DuckDB twin
by the driver gate / scripts/check_oracles.py. These units pin the
pieces the gate can't see directly: adapter determinism, sub-schema
consistency with the full schema, plan shape (zero Python nodes,
window/groupBy sharing ONE entity exchange), and the long-form
(posexplode) output contract.
"""

from __future__ import annotations

import re

import duckdb
import pytest
from pyspark.sql import functions as F

from cookieblock_consent_classifier_spark.plans.compiler import (
    compile_features,
    default_schema,
    native_schema,
)
from cookieblock_consent_classifier_spark.schema import FEATURES
from cookieblock_consent_classifier_spark.sources.readers import (
    cookie_updates_from_events,
)
from cookieblock_consent_classifier_spark.sources.resources import fixture_resources

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def res():
    return fixture_resources()


@pytest.fixture(scope="module")
def pipeline(spark, events, res):
    src = cookie_updates_from_events(events)
    wide, names = compile_features(src, native_schema(res, num_updates=2, num_diffs=2), res)
    return wide.cache(), names


def test_native_schema_is_a_sub_schema(res):
    """Every native_schema spec exists in default_schema with the SAME
    width (same builders compile it) — it is a subset, not a fork."""
    full = default_schema(res, num_updates=2, num_diffs=2)
    sub = native_schema(res, num_updates=2, num_diffs=2)
    full_specs = {
        s.name: s.vector_size
        for fam in (full.per_entity, full.per_update, full.per_diff)
        for s in fam
    }
    for fam in (sub.per_entity, sub.per_update, sub.per_diff):
        for s in fam:
            assert full_specs[s.name] == s.vector_size, s.name
    # and none of its per-update specs REQUIRES the Arrow kernel
    # (shannon_entropy reads the kernel's entropy field in the full
    # schema and native char_entropy here: the same builder)
    kernel_only = {f.name for f in FEATURES if f.path == "kernel" and f.family == "update"}
    assert not any(s.name in kernel_only for s in sub.per_update)


def test_adapter_is_deterministic_and_schema_shaped(spark, events):
    from cookieblock_consent_classifier_spark.schema import COOKIE_UPDATE_SCHEMA

    src = cookie_updates_from_events(events)
    assert [f.name for f in src.schema.fields] == [
        f.name for f in COOKIE_UPDATE_SCHEMA.fields
    ]
    a = sorted(src.limit(50).collect())
    b = sorted(cookie_updates_from_events(events).limit(50).collect())
    assert a == b
    # expiry hits the named boundary values (bucket-overlap probes)
    hit = {
        r.expiry
        for r in src.select("expiry").filter(F.col("expiry").isin(3600, 86400, 46656000)).collect()
    }
    assert hit, "boundary expiry values never generated"


def test_native_pipeline_plan_is_pure_jvm_single_entity_exchange(pipeline):
    wide, names = pipeline
    plan = wide._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, (
        "native sub-schema must compile to zero Python nodes"
    )
    # nor a Python-side RDD leaf: the rank lookup tables are JVM-local
    # (LocalTableScan), so a native job starts no Python worker at all
    assert "Scan ExistingRDD" not in plan, "lookup table built as a Python RDD"
    # the feature path (window -> groupBy -> assembly) reuses ONE
    # entity exchange; the only other entity exchanges allowed are the
    # column-pruned weight side-branches (entity_id+label only).
    ent_ex = re.findall(r"Exchange hashpartitioning\(entity_id#\d+", plan)
    assert 1 <= len(ent_ex) <= 3, plan[:2000]


def test_default_pipeline_python_nodes_are_the_feature_udfs_only(events, res):
    """default_schema's Python boundary is exactly its feature UDFs in
    two nodes: the fused Arrow content kernel (over ``value``) below the
    shuffle, and ONE post-aggregation node holding the gestalt kernel
    (over ``transform(__vals)``) and the two regex-rank UDFs (over
    ``name``) — no other Python node and no ``Scan ExistingRDD`` leaf
    (the rank lookup tables are LocalTableScans)."""
    wide, _ = compile_features(
        cookie_updates_from_events(events), default_schema(res, num_updates=2, num_diffs=2), res
    )
    plan = wide._jdf.queryExecution().executedPlan().toString()
    nodes = re.findall(r"^[\s:+\-*()\d]*([A-Za-z]\w*)", plan, re.M)
    assert [n for n in nodes if re.search(r"Python|Pandas|InArrow", n)] == ["ArrowEvalPython"] * 2
    py_nodes = [line for line in plan.splitlines() if "ArrowEvalPython" in line]
    assert sorted(sorted(re.findall(r"_udf\((\w+)", line)) for line in py_nodes) == [
        ["name", "name", "transform"], ["value"]]
    assert "Scan ExistingRDD" not in plan, "lookup table built as a Python RDD"


def test_sparse_rows_contract(pipeline, res):
    wide, names = pipeline
    schema = native_schema(res, num_updates=2, num_diffs=2)
    assert len(names) == schema.total_width == 120
    rows = wide.limit(20).collect()
    assert rows
    for r in rows:
        assert list(r.indices) == sorted(r.indices), "indices must ascend"
        assert all(0 <= i < len(names) for i in r.indices)
        assert len(r.indices) == len(r.values)
        assert 0 <= r.label <= 3
        assert r.weight > 0


def test_new_native_slots_exercise_both_polarities(spark, res, pipeline):
    """The adapter's value branches (EVENTS_VALUE_ESCAPES + md5-nibble
    19 cases) must make every decoded-content native feature fire BOTH
    ways in the ASSEMBLED slots — otherwise the oracle would only pin
    constant columns. The sf0.001 fixture has just 11 entities (22
    per-update slots), too few to hit every 1-in-16 branch by luck, so
    this builds a deterministic events frame instead: md5() is stable,
    so the event_ids below are KNOWN to select each value branch
    (nibble 19 of md5(event_id): 4→'8' enc, 11→'9' ts, 16→'a' uuid,
    6→'b' url, 1→'c' date, 0→'e' plain), and each user's slot 0 is
    the branch value while slot 1 is raw props."""
    import datetime as dt

    branch_eids = [4, 11, 16, 6, 1]          # one per value branch
    rows = []
    for u, beid in zip((0, 1, 2, 3, 5), branch_eids):  # labels 3,0,0,1,2
        for slot, eid in enumerate((beid, 0)):
            rows.append((
                eid, dt.datetime(2024, 1, 1, 0, slot), u, "click",
                1.0, f'{{"k": {u * 10 + slot}}}',
            ))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    wide, names = compile_features(
        cookie_updates_from_events(ev), native_schema(res, num_updates=2, num_diffs=2), res
    )
    long = wide.select(F.posexplode(F.arrays_zip("indices", "values"))).select(
        F.col("col.indices").alias("f"), F.col("col.values").alias("v")
    )
    long = long.cache()
    for feat in (
        "url_encoding", "timestamp_content", "date_content",
        "url_content", "contains_uuid",
    ):
        idxs = [i for i, nm in enumerate(names) if feat in nm]
        assert idxs, feat
        vals = {r.v for r in long.filter(F.col("f").isin(idxs)).select("v").distinct().collect()}
        assert 1.0 in vals and -1.0 in vals, (feat, vals)
    # entropy variety over the real fixture pipeline (11 entities x 2 slots)
    wide_fx, names_fx = pipeline
    ent_idxs = [i for i, nm in enumerate(names_fx) if "shannon" in nm]
    n_ent = (
        wide_fx.select(F.posexplode(F.arrays_zip("indices", "values")))
        .select(F.col("col.indices").alias("f"), F.col("col.values").alias("v"))
        .filter(F.col("f").isin(ent_idxs)).select("v").distinct().count()
    )
    # 11 entities x 2 slots; '{"k": N}' strings collapse to few distinct
    # entropies, branch values add more — bar: not (near-)constant
    assert n_ent >= 5, "entropy slots should carry varied values"


def test_label_filter_applied(spark, events):
    """training=True drops label-4 entities before any feature work."""
    res = fixture_resources()
    src = cookie_updates_from_events(events)
    n_lab4 = src.filter(F.col("label") == 4).select("entity_id").distinct().count()
    assert n_lab4 > 0, "fixture must contain filtered entities"
    wide, _ = compile_features(src, native_schema(res), res)
    assert wide.filter(F.col("label") == 4).count() == 0


def test_oracle_sql_parses_and_matches_rowcount(spark, events):
    """Smoke the generated DuckDB twin at sf0.001 (the full value-exact
    comparison runs in scripts/check_oracles.py and the driver gate)."""
    import __spark_entry__ as entrymod

    sql = entrymod.oracle_sql()["cookie_feature_pipeline"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF_DIR}/events.parquet'")
    oracle_n = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
    spark_n = entrymod.queries()["cookie_feature_pipeline"](spark, SF_DIR).count()
    assert oracle_n == spark_n > 0
