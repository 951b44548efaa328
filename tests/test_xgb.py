"""GOLDEN PARITY: xgb.py dump scoring vs the REAL reference predictors.

The reference's pure-Python dump predictors
(classifiers/xgbpredictor_dump.py:30-154 — BinaryTreeNode walk over
dense arrays, missing==0.0→yes, softmax, equal-loss bayesian decision;
classifiers/xgbpredictor_sparsedump.py:55-90 — minimal-format walk
over sparse dicts with recorded default branches, softmax, first-max
argmax) run in-process via ref_shims and must match the engine's
compiled expression path AND the Arrow-kernel path on fuzzed sparse
rows, probability-for-probability and decision-for-decision. The
margin SQL generator is cross-checked against DuckDB locally — the
same construction the driver's correctness gate runs through the
`bayes_decision` oracle query.
"""

from __future__ import annotations

from unittest import mock

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

import ref_shims
from cookieblock_consent_classifier_spark import predict as P, xgb
from cookieblock_consent_classifier_spark.operators.search import argmax_class
from cookieblock_consent_classifier_spark.schema import NUM_CLASSES

N_FEATURES = 10  # rows probe indices 0..9; fixture trees use 0..3


def _fuzz_rows(n: int = 200, seed: int = 7):
    """(indices, values) sparse rows: random subsets, values in
    [-1, 1], a slice of explicit 0.0 values (dense semantics treats a
    present 0.0 as missing; sparse-dict semantics does NOT)."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        k = int(rng.integers(0, N_FEATURES + 1))
        idx = sorted(rng.choice(N_FEATURES, size=k, replace=False).tolist())
        vals = (rng.uniform(-1.0, 1.0, size=k)).round(4).tolist()
        for j in range(len(vals)):
            if rng.random() < 0.15:
                vals[j] = 0.0  # exercise the 0.0==missing full-format path
        rows.append((i, [int(x) for x in idx], [float(v) for v in vals]))
    return rows


def _dense(idx, vals):
    v = np.zeros(N_FEATURES)
    v[idx] = vals
    return v


@pytest.fixture(scope="module")
def rows():
    return _fuzz_rows()


@pytest.fixture(scope="module")
def sparse_df(spark, rows):
    return spark.createDataFrame(
        rows, "entity_id long, indices array<int>, values array<double>"
    ).cache()


def sparse_fixture():
    """Minimal-format per-class forests with both default branches
    ('u' = 'l' and 'r') and a decision-free leaf tree."""
    def leaf(v):
        return {"v": v}

    def node(f, c, u, left, right):
        return {"f": f, "c": c, "u": u, "l": left, "r": right}

    return [
        [node(0, 0.2, "l", leaf(0.4), leaf(-0.1)), leaf(0.03)],
        [node(1, -0.3, "r", leaf(-0.2), node(2, 0.1, "l", leaf(0.11), leaf(0.29)))],
        [node(3, 0.0, "l", leaf(0.17), leaf(-0.23))],
        [node(2, 0.45, "r", node(0, -0.5, "l", leaf(0.02), leaf(0.31)), leaf(-0.07))],
    ]


# -- full JSON dump format -------------------------------------------


def _reference_full(rows):
    fd, _ = ref_shims.load_reference_dump_predictors()
    forests = fd.load_decision_forests(xgb.fixture_dump(), num_classes=4)
    feats = np.vstack([_dense(idx, vals) for _, idx, vals in rows])
    probs, decisions = fd.forest_predict(forests, feats)
    return probs, decisions


def _kernel_score_fn(dump, fmt: str = "full"):
    """dump_score_fn forced onto the Arrow kernel path (no dump is
    small enough for expressions when MAX_EXPR_NODES is 0)."""
    with mock.patch.object(xgb, "MAX_EXPR_NODES", 0):
        return xgb.dump_score_fn(dump, fmt=fmt)


def _engine_scored(sparse_df, score_fn, decision: str = "bayes"):
    """decision="bayes": equal-loss bayesian (full-dump reference,
    xgbpredictor_dump.py:153); "argmax": probs.index(max) (sparse-dump
    reference, xgbpredictor_sparsedump.py:89). The two differ on exact
    probability ties (float sum order), so each format is pinned
    against its own reference semantics."""
    scored = P.predict(sparse_df, score_fn=score_fn, loss=P.EQUAL_LOSS)
    if decision == "argmax":
        first_max = argmax_class([F.element_at("probs", i + 1) for i in range(NUM_CLASSES)])
        scored = scored.withColumn("predicted_label", first_max)
    out = (
        scored.select("entity_id", "probs", "predicted_label")
        .orderBy("entity_id")
        .collect()
    )
    return np.array([r["probs"] for r in out]), np.array(
        [r["predicted_label"] for r in out]
    )


def test_full_dump_expression_path_matches_reference(spark, sparse_df, rows):
    ref_probs, ref_dec = _reference_full(rows)
    probs, dec = _engine_scored(sparse_df, xgb.dump_score_fn(xgb.fixture_dump()))
    np.testing.assert_allclose(probs, ref_probs, rtol=1e-12, atol=1e-15)
    np.testing.assert_array_equal(dec, ref_dec)


def test_full_dump_kernel_path_matches_reference(spark, sparse_df, rows):
    ref_probs, ref_dec = _reference_full(rows)
    probs, dec = _engine_scored(
        sparse_df, _kernel_score_fn(xgb.fixture_dump())
    )
    np.testing.assert_allclose(probs, ref_probs, rtol=1e-12, atol=1e-15)
    np.testing.assert_array_equal(dec, ref_dec)


def test_expression_path_is_pure_jvm(spark, sparse_df):
    """The compiled path is a native column expression — no Python
    eval node, whole plan stays in codegen."""
    scored = P.predict(sparse_df, score_fn=xgb.dump_score_fn(xgb.fixture_dump()))
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


# -- minimal sparse dump format --------------------------------------


def _reference_sparse(rows):
    _, sd = ref_shims.load_reference_dump_predictors()
    forests = sparse_fixture()
    probs, decisions = [], []
    for _, idx, vals in rows:
        fdict = {str(i): v for i, v in zip(idx, vals)}
        p, d = sd.forest_predict(forests, fdict)
        probs.append(p)
        decisions.append(d)
    return np.array(probs), np.array(decisions)


def test_sparse_dump_expression_path_matches_reference(spark, sparse_df, rows):
    ref_probs, ref_dec = _reference_sparse(rows)
    probs, dec = _engine_scored(
        sparse_df, xgb.dump_score_fn(sparse_fixture(), fmt="sparse"), decision="argmax"
    )
    np.testing.assert_allclose(probs, ref_probs, rtol=1e-12, atol=1e-15)
    np.testing.assert_array_equal(dec, ref_dec)


def test_sparse_dump_kernel_path_matches_reference(spark, sparse_df, rows):
    ref_probs, ref_dec = _reference_sparse(rows)
    probs, dec = _engine_scored(
        sparse_df,
        _kernel_score_fn(sparse_fixture(), fmt="sparse"),
        decision="argmax",
    )
    np.testing.assert_allclose(probs, ref_probs, rtol=1e-12, atol=1e-15)
    np.testing.assert_array_equal(dec, ref_dec)


def test_sparse_explicit_zero_is_not_missing(spark):
    """A present 0.0 takes the comparison branch in sparse format
    (xgbpredictor_sparsedump.py:70-75), but counts as missing→yes in
    the full format (xgbpredictor_dump.py:79-83)."""
    _, sd = ref_shims.load_reference_dump_predictors()
    tree = {"f": 0, "c": 0.5, "u": "r", "l": {"v": 1.0}, "r": {"v": 2.0}}
    assert sd.get_score(tree, {"0": 0.0}) == 1.0  # present: 0.0 < 0.5 → left
    assert sd.get_score(tree, {}) == 2.0  # absent: default branch 'r'

    df = (
        _spark_one_row(spark, [0], [0.0])
        .withColumn("s", xgb.tree_expr_sparse(tree, xgb.sparse_feat()))
        .unionByName(
            _spark_one_row(spark, [], []).withColumn(
                "s", xgb.tree_expr_sparse(tree, xgb.sparse_feat())
            )
        )
    )
    assert [r["s"] for r in df.collect()] == [1.0, 2.0]


def _spark_one_row(spark, idx, vals):
    return spark.createDataFrame(
        [(0, idx, vals)], "entity_id long, indices array<int>, values array<double>"
    )


# -- dump validation (reference invariants) ---------------------------


def test_validate_rejects_bad_dumps():
    good = xgb.fixture_dump()
    with pytest.raises(ValueError, match="divisible"):
        xgb.validate_full_dump(good[:3])
    bad_yes = {
        "nodeid": 0, "split": 0, "split_condition": 0.0, "yes": 2, "no": 1,
        "missing": 2, "children": [{"nodeid": 2, "leaf": 1.0}, {"nodeid": 1, "leaf": 2.0}],
    }
    with pytest.raises(ValueError, match="yes path"):
        xgb.validate_full_dump([bad_yes, *good[1:4]])
    bad_missing = {
        "nodeid": 0, "split": 0, "split_condition": 0.0, "yes": 1, "no": 2,
        "missing": 2, "children": [{"nodeid": 1, "leaf": 1.0}, {"nodeid": 2, "leaf": 2.0}],
    }
    with pytest.raises(ValueError, match="missing path"):
        xgb.validate_full_dump([*good[:3], bad_missing])


# -- SQL twin (the oracle-gate construction) --------------------------


def test_margin_sql_matches_spark_exactly(spark, sparse_df, rows):
    """forest_margin_sql's DuckDB text and the Spark expression build
    the same left-associated float sums over the same literals —
    bit-exact margins, no rounding tolerance."""
    forests = xgb.class_forests_full(xgb.fixture_dump())
    margins = xgb.forest_margins(forests, xgb.sparse_feat())
    got = (
        sparse_df.select(
            "entity_id", *[m.alias(f"m{c}") for c, m in enumerate(margins)]
        )
        .orderBy("entity_id")
        .collect()
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE t (entity_id BIGINT, e0 DOUBLE, e1 DOUBLE, e2 DOUBLE, e3 DOUBLE)")
    for i, idx, vals in rows:
        d = _dense(idx, vals)
        con.execute("INSERT INTO t VALUES (?, ?, ?, ?, ?)", [i, *d[:4].tolist()])
    sqls = xgb.forest_margin_sql(forests, lambda i: f"e{i}")
    want = con.execute(
        f"SELECT entity_id, {', '.join(f'{s} AS m{c}' for c, s in enumerate(sqls))} "
        "FROM t ORDER BY entity_id"
    ).fetchall()
    for g, w in zip(got, want):
        assert g["entity_id"] == w[0]
        for c in range(4):
            assert g[f"m{c}"] == w[c + 1], (g, w)


def test_nan_values_route_right_on_all_paths(spark):
    """NaN feature values take the RIGHT (no) branch everywhere — the
    reference's dense walk, the compiled expression path, and the
    Arrow kernel (NaN==0.0 and NaN<cond are both false). The kernel
    used to DROP NaN (treating it as missing→left), a silent
    divergence from the other two paths (round-4 ADVICE item 1)."""
    nan = float("nan")
    rows = [
        (0, [0, 1], [nan, 0.9]),
        (1, [0], [nan]),
        (2, [0, 2], [0.3, nan]),
        (3, [1, 3], [nan, nan]),
    ]
    df = spark.createDataFrame(
        rows, "entity_id long, indices array<int>, values array<double>"
    )
    # full format: engine expr == engine kernel == REAL reference dense walk
    ref_probs, ref_dec = _reference_full(rows)
    expr_probs, expr_dec = _engine_scored(df, xgb.dump_score_fn(xgb.fixture_dump()))
    kern_probs, kern_dec = _engine_scored(
        df, _kernel_score_fn(xgb.fixture_dump())
    )
    np.testing.assert_allclose(expr_probs, ref_probs, rtol=1e-12, atol=1e-15)
    np.testing.assert_allclose(kern_probs, ref_probs, rtol=1e-12, atol=1e-15)
    np.testing.assert_array_equal(expr_dec, ref_dec)
    np.testing.assert_array_equal(kern_dec, ref_dec)
    # sparse format: expr == kernel (NaN fails `v < c` → right branch,
    # NOT the recorded default branch)
    sp = sparse_fixture()
    e_p, _ = _engine_scored(df, xgb.dump_score_fn(sp, fmt="sparse"))
    k_p, _ = _engine_scored(df, _kernel_score_fn(sp, fmt="sparse"))
    np.testing.assert_allclose(k_p, e_p, rtol=1e-12, atol=1e-15)


def test_null_values_expression_missing_kernel_nan_collapse(spark):
    """A genuine NULL element is a MISSING feature on the expression
    path (full: coalesce-0.0→yes; sparse: recorded default branch).
    The Arrow float64 representation COLLAPSES in-array NULL to NaN,
    so the kernel necessarily applies NaN→right semantics to it — a
    documented representational limit, unreachable for engine output
    (assemble_sparse filters NULL values before they enter a row)."""
    null_rows = [
        (0, [0, 1], [None, 0.9]),
        (1, [0], [None]),
        (2, [0, 2], [0.3, None]),
    ]
    missing_rows = [  # same rows with the NULL entry simply absent
        (0, [1], [0.9]),
        (1, [], []),
        (2, [0], [0.3]),
    ]
    nan_rows = [
        (0, [0, 1], [float("nan"), 0.9]),
        (1, [0], [float("nan")]),
        (2, [0, 2], [0.3, float("nan")]),
    ]
    ddl = "entity_id long, indices array<int>, values array<double>"
    df_null = spark.createDataFrame(null_rows, ddl)
    df_missing = spark.createDataFrame(missing_rows, ddl)
    df_nan = spark.createDataFrame(nan_rows, ddl)
    for fmt, dump in (("full", xgb.fixture_dump()), ("sparse", sparse_fixture())):
        expr_null, _ = _engine_scored(df_null, xgb.dump_score_fn(dump, fmt=fmt))
        expr_missing, _ = _engine_scored(df_missing, xgb.dump_score_fn(dump, fmt=fmt))
        np.testing.assert_allclose(expr_null, expr_missing, rtol=1e-12, atol=1e-15)
        kern_null, _ = _engine_scored(
            df_null, _kernel_score_fn(dump, fmt=fmt)
        )
        kern_nan, _ = _engine_scored(
            df_nan, _kernel_score_fn(dump, fmt=fmt)
        )
        np.testing.assert_allclose(kern_null, kern_nan, rtol=1e-12, atol=1e-15)


def test_sparse_format_conversion_scores_identically(spark):
    """xgb.to_sparse_format(full_dump) scores the same as the full
    dump on zero-free sparse rows — through the engine AND the real
    reference sparse predictor (the JS-deployment artifact is
    faithful). Rows avoid explicit 0.0 values: the two reference
    formats legitimately diverge there (see to_sparse_format)."""
    rows = []
    rng = np.random.default_rng(23)
    for i in range(120):
        k = int(rng.integers(0, N_FEATURES + 1))
        idx = sorted(rng.choice(N_FEATURES, size=k, replace=False).tolist())
        vals = [float(v) or 0.001 for v in rng.uniform(-1, 1, size=k)]
        rows.append((i, [int(x) for x in idx], vals))
    df = spark.createDataFrame(
        rows, "entity_id long, indices array<int>, values array<double>"
    )
    full = xgb.fixture_dump()
    sparse = xgb.to_sparse_format(full)

    p_full, _ = _engine_scored(df, xgb.dump_score_fn(full))
    p_conv, _ = _engine_scored(
        df, xgb.dump_score_fn(sparse, fmt="sparse"), decision="argmax"
    )
    np.testing.assert_allclose(p_conv, p_full, rtol=1e-12, atol=1e-15)

    # the real reference sparse predictor agrees on the converted dump
    _, sd = ref_shims.load_reference_dump_predictors()
    for r, (_rid, idx, vals) in enumerate(rows[:40]):
        fdict = {str(i): v for i, v in zip(idx, vals)}
        ref_p, _dec = sd.forest_predict(sparse, fdict)
        np.testing.assert_allclose(p_full[r], ref_p, rtol=1e-12, atol=1e-15)


def test_engine_rows_store_explicit_zeros_where_sparse_conversion_diverges(spark):
    """compile_features stores an explicit 0.0 for the content_length
    of "" and the lev_distance of a repeated value (assemble_sparse
    drops only NULLs). A full dump splitting at c <= 0 on those slots
    sends the 0.0 down the missing (yes) branch, while its
    to_sparse_format conversion compares it and goes right: the
    divergence to_sparse_format documents shows on engine output."""
    from cookieblock_consent_classifier_spark.plans.compiler import (
        compile_features, native_schema,
    )
    from cookieblock_consent_classifier_spark.schema import COOKIE_UPDATE_SCHEMA
    from cookieblock_consent_classifier_spark.sources.resources import fixture_resources
    from test_pipeline import _rows

    res = fixture_resources()
    ups = [("", 3600, False, False, False, False, "lax")] * 2
    df = spark.createDataFrame(
        _rows([("z", "n", "d.com", "/", "d.com", 0, ups)]), COOKIE_UPDATE_SCHEMA
    )
    wide, names = compile_features(df, native_schema(res, 2, 2), res, training=False)
    (row,) = wide.collect()
    stored = dict(zip(row["indices"], row["values"]))
    cl, lev = names.index("update_0_content_length-0"), names.index("diff_0_lev_distance-0")
    assert stored[cl] == 0.0 and stored[lev] == 0.0

    def node(split, cond):
        return {"nodeid": 0, "split": split, "split_condition": cond, "yes": 1, "no": 2,
                "missing": 1, "children": [{"nodeid": 1, "leaf": 1.0},
                                           {"nodeid": 2, "leaf": -1.0}]}

    full = [node(cl, 0.0), node(lev, -0.5), {"nodeid": 0, "leaf": 0.0},
            {"nodeid": 0, "leaf": 0.0}]
    sparse = xgb.to_sparse_format(full)
    rows = wide.select("entity_id", "indices", "values")
    p_full, _ = _engine_scored(rows, xgb.dump_score_fn(full))
    p_conv, _ = _engine_scored(rows, xgb.dump_score_fn(sparse, fmt="sparse"))
    e = np.exp([1.0, 1.0, 0.0, 0.0])
    np.testing.assert_allclose(p_full[0], e / e.sum(), rtol=1e-12)
    e = np.exp([-1.0, -1.0, 0.0, 0.0])
    np.testing.assert_allclose(p_conv[0], e / e.sum(), rtol=1e-12)


def test_kernel_scoring_runs_unchanged_on_a_stream(spark, tmp_path, rows):
    """The Arrow scoring kernel is a plain column over (indices,
    values), so model inference runs under readStream with batch-equal
    values — the streaming-serving story for the dump predictor."""
    src = str(tmp_path / "score_stream")
    df = spark.createDataFrame(
        rows, "entity_id long, indices array<int>, values array<double>"
    )
    df.write.parquet(src)
    score = _kernel_score_fn(xgb.fixture_dump())  # kernel path
    batch = {
        r["entity_id"]: r["probs"]
        for r in P.predict(df, score_fn=score, loss=P.EQUAL_LOSS).collect()
    }
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        P.predict(stream, score_fn=score, loss=P.EQUAL_LOSS)
        .writeStream.format("memory").queryName("xgb_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(180), "streaming scoring query timed out"
    got = {
        r["entity_id"]: r["probs"] for r in spark.table("xgb_stream").collect()
    }
    assert set(got) == set(batch)
    for k in got:
        np.testing.assert_allclose(got[k], batch[k], rtol=1e-12, atol=1e-15)
