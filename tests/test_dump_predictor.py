"""The dump scorer (xgb.dump_score_fn) equals an independent predictor.

The predictor below is a recursive pure-Python tree walk written from
the two dump formats as ``xgb.py``'s docstring states them, and shares
no code with the engine's scorer (not ``xgb._score_batch``):

- full format: a node names its children by ``nodeid`` (``yes``,
  ``no``, ``missing``). Over a dense row, an absent feature is 0.0,
  and 0.0 is missing and follows ``missing``; value < condition
  follows ``yes``; anything else (NaN included) follows ``no``. Tree i
  belongs to class i % NUM_CLASSES.
- minimal sparse format: one forest per class. An absent feature
  follows the default branch ``u``; a present value (0.0 included) <
  ``c`` goes ``l``; anything else (NaN included) goes ``r``.

A class margin is the sum of its trees' leaves in tree order, and the
probabilities are its softmax. Each dump is scored on both sides of
``MAX_EXPR_NODES``: as compiled expressions and in the Arrow kernel.
This checks without the reference predictors what the golden parity
tests in ``test_xgb.py`` and ``test_gbdt.py`` check with them.
"""

from __future__ import annotations

import math
from unittest import mock

import numpy as np
import pytest

from cookieblock_consent_classifier_spark import predict as P, xgb
from cookieblock_consent_classifier_spark.operators import gbdt
from cookieblock_consent_classifier_spark.schema import NUM_CLASSES

N_FEATURES = 8
DDL = "entity_id long, indices array<int>, values array<double>"


def _leaf_full(node: dict, row: dict[int, float]) -> float:
    if "leaf" in node:
        return node["leaf"]
    v = row.get(node["split"], 0.0)
    if v == 0.0:
        nxt = node["missing"]
    elif v < node["split_condition"]:
        nxt = node["yes"]
    else:
        nxt = node["no"]
    (child,) = [c for c in node["children"] if c["nodeid"] == nxt]
    return _leaf_full(child, row)


def _leaf_sparse(node: dict, row: dict[int, float]) -> float:
    if "v" in node:
        return node["v"]
    if node["f"] not in row:
        child = node[node["u"]]
    elif row[node["f"]] < node["c"]:
        child = node["l"]
    else:
        child = node["r"]
    return _leaf_sparse(child, row)


def _softmax(margins: list[float]) -> list[float]:
    exps = [math.exp(m) for m in margins]
    return [e / sum(exps) for e in exps]


def independent_probs(dump, fmt: str, row: dict[int, float]) -> list[float]:
    margins = [0.0] * NUM_CLASSES
    if fmt == "full":
        for i, tree in enumerate(dump):
            margins[i % NUM_CLASSES] += _leaf_full(tree, row)
    else:
        for c, forest in enumerate(dump):
            for tree in forest:
                margins[c] += _leaf_sparse(tree, row)
    return _softmax(margins)


def _conditions(dump, fmt: str) -> list[tuple[int, float]]:
    out = []

    def walk(node):
        if fmt == "full" and "children" in node:
            out.append((node["split"], node["split_condition"]))
            for c in node["children"]:
                walk(c)
        elif fmt == "sparse" and "f" in node:
            out.append((node["f"], node["c"]))
            walk(node["l"])
            walk(node["r"])

    for t in dump if fmt == "full" else [t for f in dump for t in f]:
        walk(t)
    return out


def _rows(dump, fmt: str, n: int = 160, seed: int = 11):
    """Random sparse rows with absent features, explicit 0.0 and NaN,
    plus one row per split sitting exactly on its condition and the
    empty and all-NaN rows."""
    rng = np.random.default_rng(seed)
    rows = [[], [(f, math.nan) for f in range(N_FEATURES)]]
    rows += [[(f, c)] for f, c in _conditions(dump, fmt)]
    for _ in range(n):
        k = int(rng.integers(0, N_FEATURES + 1))
        feats = sorted(rng.choice(N_FEATURES, size=k, replace=False).tolist())
        row = []
        for f in feats:
            u = rng.random()
            v = 0.0 if u < 0.15 else math.nan if u < 0.25 else float(rng.uniform(-1, 1))
            row.append((int(f), v))
        rows.append(row)
    return [(i, [f for f, _ in r], [v for _, v in r]) for i, r in enumerate(rows)]


@pytest.fixture(scope="module")
def trained_dump(spark):
    rng = np.random.default_rng(5)
    rows = []
    for i in range(200):
        f0, f2 = float(rng.uniform(-1, 1)) or 0.5, float(rng.uniform(-1, 1)) or 0.5
        idx, vals = [0, 2], [f0, f2]
        if rng.random() < 0.6:
            idx.append(3)
            vals.append(float(rng.uniform(-1, 1)) or 0.5)
        rows.append((i, idx, vals, (f0 > 0.1) + 2 * (f2 > -0.2)))
    df = spark.createDataFrame(rows, DDL + ", label int")
    return gbdt.train_gbdt(df, gbdt.GBDTParams(num_rounds=2, max_depth=2, n_bins=8))


def _dumps(trained_dump):
    return {
        "fixture": (xgb.fixture_dump(), "full"),
        "gbdt": (trained_dump, "full"),
        "gbdt_sparse": (xgb.to_sparse_format(trained_dump), "sparse"),
    }


@pytest.mark.parametrize("name", ["fixture", "gbdt", "gbdt_sparse"])
@pytest.mark.parametrize("max_expr_nodes", [0, 10**9], ids=["kernel", "expression"])
def test_dump_scorer_matches_independent_predictor(spark, trained_dump, name, max_expr_nodes):
    dump, fmt = _dumps(trained_dump)[name]
    assert _conditions(dump, fmt)  # the dump has splits to walk
    rows = _rows(dump, fmt)
    with mock.patch.object(xgb, "MAX_EXPR_NODES", max_expr_nodes):
        score_fn = xgb.dump_score_fn(dump, fmt=fmt)
    df = spark.createDataFrame(rows, DDL)
    assert isinstance(score_fn(df), tuple) == (max_expr_nodes > 0)  # the path under test
    scored = P.predict(df, score_fn=score_fn)
    got = {r["entity_id"]: r["probs"] for r in scored.collect()}
    assert sorted(got) == [i for i, _, _ in rows]
    for i, idx, vals in rows:
        want = independent_probs(dump, fmt, dict(zip(idx, vals)))
        np.testing.assert_allclose(got[i], want, rtol=1e-12, atol=1e-15, err_msg=str((idx, vals)))
