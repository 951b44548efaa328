"""GOLDEN PARITY: engine output vs the REAL reference extractor.

The reference (/root/reference/feature_extraction) runs in-process via
exact-semantics shims (tests/ref_shims.py) on its own shipped fixtures
(training_data/test_case.json and
training_data/example_crawl_20210213_153228.json), with its real
resources/*.csv and features.json widths (500/500/50/500/50 → a
1,689-slot vector). The engine compiles the SAME config through
sources/config.load_features_config and must match:

- feature-map lines byte-exact vs retrieve_feature_names_as_list
  (processor.py:276-298);
- every entity × slot numpy-allclose vs the reference dense matrix
  (the north star's literal acceptance test).

The js2py residual (JS-literal values the bounded parser rejects but a
full JS interpreter might accept) is counted per-corpus and asserted
small — the documented waiver.
"""

from __future__ import annotations

import json

import numpy as np
import pytest

import ref_shims
from cookieblock_consent_classifier_spark import sinks
from cookieblock_consent_classifier_spark.plans.compiler import compile_features
from cookieblock_consent_classifier_spark.schema import COOKIE_UPDATE_SCHEMA
from cookieblock_consent_classifier_spark.sources.config import load_features_config
from cookieblock_consent_classifier_spark.sources.readers import cookie_json_to_rows

REF = "/root/reference"
TEST_CASE = f"{REF}/training_data/test_case.json"
CRAWL = f"{REF}/training_data/example_crawl_20210213_153228.json"


@pytest.fixture(scope="module")
def ref_module():
    return ref_shims.load_reference_processor()


@pytest.fixture(scope="module")
def abs_config(tmp_path_factory):
    """The shipped features.json with source paths made absolute (the
    reference resolves them against its own CWD)."""
    with open(f"{REF}/feature_extraction/features.json", encoding="utf-8") as fd:
        cfg = json.load(fd)
    for sec in ("per_cookie_features", "per_update_features", "per_diff_features"):
        for entry in cfg[sec]:
            if "source" in entry:
                entry["source"] = f"{REF}/{entry['source']}"
    p = tmp_path_factory.mktemp("cfg") / "features_abs.json"
    p.write_text(json.dumps(cfg))
    return str(p)


@pytest.fixture(scope="module")
def engine_config(abs_config):
    return load_features_config(abs_config, base_dir=REF)


def _new_processor(ref_module, abs_config):
    return ref_module.CookieFeatureProcessor(abs_config, skip_cmp_cookies=False)


def test_declared_width_1689(ref_module, abs_config, engine_config):
    proc = _new_processor(ref_module, abs_config)
    schema, _ = engine_config
    assert proc.num_features == 1689
    assert schema.total_width == 1689


def test_feature_names_byte_exact(ref_module, abs_config, engine_config, tmp_path):
    proc = _new_processor(ref_module, abs_config)
    schema, _ = engine_config
    fmap = tmp_path / "featmap.txt"
    sinks.write_feature_map(schema.feature_names(), str(fmap))
    assert fmap.read_text(encoding="utf-8").splitlines() == proc.retrieve_feature_names_as_list()


def _engine_dense(spark, data, schema, res):
    rows = cookie_json_to_rows(data)
    df = spark.createDataFrame(rows, COOKIE_UPDATE_SCHEMA)
    wide, names = compile_features(df, schema, res, training=False)
    out = {}
    for r in wide.collect():
        v = np.zeros(len(names))
        v[list(r["indices"])] = r["values"]
        out[r["entity_id"]] = v
    return out, names


def _compare(ref_mat, keys, engine_rows, names, atol=1e-8, rtol=1e-9):
    assert ref_mat.shape[0] == len(keys) == len(engine_rows)
    bad = []
    for i, k in enumerate(keys):
        got = engine_rows[k]
        exp = ref_mat[i]
        mism = np.where(~np.isclose(got, exp, atol=atol, rtol=rtol))[0]
        for j in mism[:5]:
            bad.append((k, names[j], float(exp[j]), float(got[j])))
    assert not bad, f"{len(bad)}+ mismatching slots; first: {bad[:15]}"


@pytest.mark.parametrize("fixture_path", [TEST_CASE, CRAWL],
                         ids=["test_case", "example_crawl"])
def test_golden_values_allclose(spark, ref_module, abs_config, engine_config, fixture_path):
    with open(fixture_path, encoding="utf-8") as fd:
        data = json.load(fd)
    proc = _new_processor(ref_module, abs_config)
    proc.extract_features(data)
    ref_mat = ref_shims.reference_dense_matrix(proc)

    schema, res = engine_config
    engine_rows, names = _engine_dense(spark, data, schema, res)
    _compare(ref_mat, list(data), engine_rows, names)


def test_golden_multi_update_config(spark, ref_module, abs_config, engine_config, tmp_path):
    """Same parity with num_updates=3 / num_diffs=2 — exercises the
    slot-pivot and per-diff machinery beyond the shipped 1/1 config."""
    with open(abs_config, encoding="utf-8") as fd:
        cfg = json.load(fd)
    cfg["num_updates"] = 3
    cfg["num_diffs"] = 2
    p = tmp_path / "features_u3d2.json"
    p.write_text(json.dumps(cfg))

    with open(TEST_CASE, encoding="utf-8") as fd:
        data = json.load(fd)
    proc = ref_module.CookieFeatureProcessor(str(p), skip_cmp_cookies=False)
    proc.extract_features(data)
    ref_mat = ref_shims.reference_dense_matrix(proc)

    schema, res = load_features_config(str(p), base_dir=REF)
    engine_rows, names = _engine_dense(spark, data, schema, res)
    _compare(ref_mat, list(data), engine_rows, names)


def test_golden_training_mode_labels_and_weights(spark, ref_module, abs_config, engine_config):
    """Training-path parity (extract_features_with_labels,
    processor.py:457-586, with skip_cmp_cookies=False so the
    reference's random.random() CMP skip never fires): label list,
    inverse-class-frequency weights (retrieve_label_weights,
    processor.py:263-273) AND the full matrix must match."""
    with open(CRAWL, encoding="utf-8") as fd:
        data = json.load(fd)
    proc = _new_processor(ref_module, abs_config)
    proc.extract_features_with_labels(data)
    ref_mat = ref_shims.reference_dense_matrix(proc)
    ref_labels = proc.retrieve_labels()
    ref_weights = proc.retrieve_label_weights(num_labels=4)
    keys = [k for k in data if 0 <= int(data[k]["label"]) <= 3]
    assert len(keys) == len(ref_labels) == ref_mat.shape[0]

    schema, res = engine_config
    rows = cookie_json_to_rows(data)
    df = spark.createDataFrame(rows, COOKIE_UPDATE_SCHEMA)
    wide, names = compile_features(df, schema, res, training=True)
    got = {r["entity_id"]: r for r in wide.collect()}
    assert set(got) == set(keys)

    engine_rows = {}
    bad_lw = []
    for i, k in enumerate(keys):
        r = got[k]
        v = np.zeros(len(names))
        v[list(r["indices"])] = r["values"]
        engine_rows[k] = v
        if r["label"] != ref_labels[i]:
            bad_lw.append((k, "label", ref_labels[i], r["label"]))
        if abs(r["weight"] - ref_weights[i]) > 1e-9:
            bad_lw.append((k, "weight", ref_weights[i], r["weight"]))
    assert not bad_lw, bad_lw[:10]
    _compare(ref_mat, keys, engine_rows, names)


def test_js2py_waiver_rate(ref_module, abs_config):
    """Measure the bounded-JS-parser residual on the full example
    crawl: of all values that reach the js2py fallback (json.loads
    failed, '{' present), how many does the bounded parser reject?
    Those are the only values where a full JS interpreter COULD
    diverge. Keep the documented bound tight."""
    ref_shims.JS2PY_CALLS.clear()
    with open(CRAWL, encoding="utf-8") as fd:
        data = json.load(fd)
    proc = _new_processor(ref_module, abs_config)
    proc.extract_features(data)
    calls = list(ref_shims.JS2PY_CALLS)
    total_updates = sum(len(e["variable_data"]) for e in data.values())
    rejected = [b for b, st in calls if st == "reject"]
    primitives = [b for b, st in calls if st == "primitive"]
    # documented waiver numbers (COVERAGE.md): fallback reach + residual.
    # "primitive" results are NOT waivers — real js2py deterministically
    # AttributeErrors on .to_dict() for them (shim + engine both match)
    print(f"js2py fallback reached: {len(calls)}/{total_updates} updates; "
          f"bounded parser rejected: {len(rejected)}; "
          f"primitive (to_dict AttributeError, matched): {len(primitives)}")
    # the residual must stay a tiny fraction of the corpus
    assert len(rejected) <= 0.01 * total_updates, rejected[:5]
