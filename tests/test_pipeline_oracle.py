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
    # (shannon_entropy reads value_stats' entropy in the full schema
    # and native char_entropy here: the same builder)
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
    ONE node after the window: the gestalt ratio (over
    ``__prev_value, value``), the fused Arrow content kernel over the
    slot rows' values only, the per-value zlib length and entropy
    (over ``value``) and the two regex-rank UDFs (over ``name``). No
    Python node sits below the row-reading entity exchange, so the
    stage before the shuffle is pure JVM; no other Python node and no
    ``Scan ExistingRDD`` leaf (the rank lookup tables are
    LocalTableScans)."""
    schema = default_schema(res, num_updates=2, num_diffs=2)
    wide, _ = compile_features(cookie_updates_from_events(events), schema, res)
    plan = wide._jdf.queryExecution().executedPlan().toString()
    nodes = re.findall(r"^[\s:+\-*()\d]*([A-Za-z]\w*)", plan, re.M)
    assert [n for n in nodes if re.search(r"Python|Pandas|InArrow", n)] == ["ArrowEvalPython"], plan
    lines = [(len(ln) - len(ln.lstrip(" :+-*")), ln.lstrip(" :+-*")) for ln in plan.splitlines()]
    row_exchanges = [i for i, (_, text) in enumerate(lines)
                     if text.startswith("Exchange hashpartitioning(entity_id")
                     and "partial_" not in lines[i + 1][1]]
    assert row_exchanges, plan
    for i in row_exchanges:
        below = []
        for depth, text in lines[i + 1:]:
            if depth <= lines[i][0]:
                break
            below.append(text)
        assert not any("ArrowEvalPython" in t for t in below), plan
    # the node's UDF calls, by name and input
    (node,) = [text for _, text in lines if text.startswith("ArrowEvalPython")]
    calls = re.findall(r"(\w+)\(((?:[^()]|\([^()]*\))*)\)#\d+", node.split("], [")[0])
    assert sorted((fn, re.sub(r"#\d+", "", args)) for fn, args in calls) == [
        ("_udf", f"CASE WHEN (__slot < {schema.num_updates}) THEN value END"),
        ("_udf", "name"),
        ("_udf", "name"),
        ("gestalt_ratio", "__prev_value, value"),
        ("value_stats", "value"),
    ], node
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


def test_duckdb_date_twins_read_day_names_as_python_re():
    """Both DuckDB twins of date_content (the ``content_flags`` oracle
    and the pipeline oracle) agree with the reference's Python ``re``
    on day names whose ``i`` is U+0131 or U+0130: RE2's ``(?i)`` alone
    does not fold them."""
    import __spark_entry__ as entrymod
    from cookieblock_consent_classifier_spark.functions import native

    values = ["frı 7 jan", "FRİ 7 JAN", "fri 7 jan", "ſat 1 feb", "frx 7 jan",
              "Mon only", "2024-01-07", "FRı 7 Dec", "frİday"]

    def py_date(v):
        return (any(re.search(p, v) for p in (native.REF_DATE_YMD, native.REF_DATE_DMY,
                                              native.REF_DATE_MDY))
                or bool(re.search(native.REF_DAYS3, v) and re.search(native.REF_MONTHS3, v)))

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", list(enumerate(values)))
    got = dict(con.execute(
        f"SELECT doc_id, f_date FROM ({entrymod.oracle_sql()['content_flags']})").fetchall())
    assert [got[i] for i in range(len(values))] == [1.0 if py_date(v) else -1.0 for v in values]
    assert py_date("frı 7 jan") and py_date("FRİ 7 JAN")
    # the pipeline twin reads the same predicate over the decoded value
    assert entrymod._duck_date_content("dec") in entrymod._pipeline_oracle_sql()
