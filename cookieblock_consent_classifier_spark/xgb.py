"""Dump-based XGBoost tree-ensemble scoring — no xgboost library.

Re-expresses the reference's pure-Python dump predictors as native
Spark expression trees (Catalyst CASE chains, whole-stage codegen)
over the engine's sparse feature rows, with an Arrow-batched kernel
fallback for ensembles too deep to compile as expressions:

- full JSON dump format (classifiers/xgbpredictor_dump.py:30-95):
  node = {"split": fidx, "split_condition": c, "yes": l, "no": r,
  "missing": l, "children": [left, right]}, leaf = {"leaf": v}.
  Semantics over DENSE feature arrays: value == 0.0 counts as
  missing and takes the yes (left) path; value < condition → left;
  else right. Trees are assigned round-robin to classes
  (tree i → class i % NUM_CLASSES, xgbpredictor_dump.py:117-135),
  class margin = Σ leaf weights, probabilities = softmax
  (xgbpredictor_dump.py:148-153), decision = bayesian argmin with
  equal loss weights == first-max argmax (utils.py:107-125).

- minimal sparse dump format (xgbpredictor_sparsedump.py:55-90):
  node = {"f": fidx, "c": cond, "u": "l"|"r", "l": {...}, "r": {...}},
  leaf = {"v": w}. Semantics over SPARSE dicts: a feature ABSENT from
  the dict follows the recorded default branch ``u`` (an explicit 0.0
  is NOT missing); present value < c → left; else right. One forest
  per class (one dump file each), softmax, first-max argmax.

Scale design: the compiled expression path is a pure column
expression — zero shuffle, whole-stage codegen, scan-speed at any
row count. Expression size grows with ensemble size, so
``dump_score_fn`` auto-switches to the Arrow kernel (one pandas UDF,
numpy tree walk per batch) above ``MAX_EXPR_NODES`` total dump nodes;
both paths are pinned equal in tests/test_xgb.py.
"""

from __future__ import annotations

import hashlib
import json
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from cookieblock_consent_classifier_spark.schema import NUM_CLASSES

FeatCol = Callable[[int], Column]
FeatSql = Callable[[int], str]

# per-process parsed-forest cache for the kernel path (see
# probs_kernel_udf) — lives in each Python worker
_FOREST_CACHE: dict[str, list] = {}

# -- dump parsing / validation ----------------------------------------


def validate_full_dump(model_dump: list[dict]) -> None:
    """Enforce the reference's four dump invariants
    (xgbpredictor_dump.py:47-53, 120-127): trees divisible by classes,
    every non-leaf binary, yes-path left (yes < no), missing == yes."""
    if len(model_dump) % NUM_CLASSES != 0:
        raise ValueError(
            f"{len(model_dump)} trees not divisible by {NUM_CLASSES} classes"
        )
    def walk(node: dict) -> None:
        if "leaf" in node:
            return
        children = node.get("children", [])
        if len(children) != 2:
            raise ValueError("tree is not binary")
        if not node["yes"] < node["no"]:
            raise ValueError("yes path is not the left child")
        if node["missing"] != node["yes"]:
            raise ValueError("missing path does not follow the yes path")
        for c in children:
            walk(c)
    for t in model_dump:
        walk(t)


def count_nodes(node: dict) -> int:
    if "leaf" in node or "v" in node:
        return 1
    kids = node["children"] if "children" in node else [node["l"], node["r"]]
    return 1 + sum(count_nodes(k) for k in kids)


def class_forests_full(model_dump: list[dict]) -> list[list[dict]]:
    """Round-robin tree→class assignment (xgbpredictor_dump.py:131-134)."""
    forests: list[list[dict]] = [[] for _ in range(NUM_CLASSES)]
    for i, tree in enumerate(model_dump):
        forests[i % NUM_CLASSES].append(tree)
    return forests


# -- expression compilation (native path) -----------------------------


def tree_expr_full(node: dict, feat: FeatCol) -> Column:
    """Full-format tree → nested CASE. ``feat(idx)`` yields the sparse
    lookup (NULL when absent); dense semantics treat absent as 0.0 and
    0.0 as missing→yes (xgbpredictor_dump.py:79-95)."""
    if "leaf" in node:
        return F.lit(float(node["leaf"]))
    v = F.coalesce(feat(int(node["split"])), F.lit(0.0))
    cond = float(node["split_condition"])
    left, right = node["children"]
    return F.when(
        (v == F.lit(0.0)) | (v < F.lit(cond)),
        tree_expr_full(left, feat),
    ).otherwise(tree_expr_full(right, feat))


def tree_expr_sparse(node: dict, feat: FeatCol) -> Column:
    """Minimal-format tree → nested CASE. Absent feature (NULL lookup)
    follows the recorded default branch ``u``
    (xgbpredictor_sparsedump.py:55-75)."""
    if "v" in node:
        return F.lit(float(node["v"]))
    v = feat(int(node["f"]))
    default_child = node[node["u"]]
    return (
        F.when(v.isNull(), tree_expr_sparse(default_child, feat))
        .when(v < F.lit(float(node["c"])), tree_expr_sparse(node["l"], feat))
        .otherwise(tree_expr_sparse(node["r"], feat))
    )


def forest_margins(
    class_forests: list[list[dict]], feat: FeatCol, fmt: str = "full"
) -> list[Column]:
    """Per-class margin = Σ tree leaf weights, summed in tree order
    (left-to-right, matching the reference's sequential sum — exact
    float reproducibility, no reorder)."""
    tree_expr = tree_expr_full if fmt == "full" else tree_expr_sparse
    out = []
    for forest in class_forests:
        margin: Column = F.lit(0.0)
        for tree in forest:
            margin = margin + tree_expr(tree, feat)
        out.append(margin)
    return out


def softmax_cols(margins: list[Column]) -> Column:
    """array<double> of softmax probabilities
    (xgbpredictor_dump.py:150-152: plain exp, no max-subtraction)."""
    exps = [F.exp(m) for m in margins]
    total = exps[0]
    for e in exps[1:]:
        total = total + e
    return F.array(*[e / total for e in exps])


def sparse_feat() -> FeatCol:
    """Sparse-row lookup over the engine's (indices array<int>,
    values array<double>) columns: one map_from_arrays, then NULL-safe
    per-index probes (try_element_at — ANSI element_at throws)."""
    m = F.map_from_arrays(F.col("indices"), F.col("values"))
    return lambda idx: F.try_element_at(m, F.lit(int(idx)))


# -- Arrow kernel (deep-ensemble path) --------------------------------


def _score_batch(
    idx_arrays, val_arrays, class_forests: list[list[dict]], fmt: str
) -> np.ndarray:
    """Numpy-side batch scorer: per-row dict lookup tree walk (the
    reference's own loop, xgbpredictor_dump.py:139-146 /
    xgbpredictor_sparsedump.py:78-90), iterative to dodge Python
    recursion limits on deep trees."""
    n = len(idx_arrays)
    out = np.zeros((n, len(class_forests)), dtype=np.float64)
    for r in range(n):
        # NaN is KEPT: the reference's dense walk and the compiled
        # expression path both send NaN RIGHT (NaN==0.0 false,
        # NaN<cond false), so dropping it (pre-round-5 behavior) was a
        # silent kernel-vs-expression divergence (round-4 ADVICE item;
        # NaN parity is fuzz-pinned in tests/test_xgb.py). None guards
        # a list-typed row carrying a genuine NULL element — only
        # reachable for hand-built input, since the assembler filters
        # NULL values and the Arrow float64 representation surfaces
        # in-array NULLs as NaN anyway.
        fmap = {
            int(i): v
            for i, v in zip(idx_arrays[r], val_arrays[r])
            if v is not None
        }
        for c, forest in enumerate(class_forests):
            s = 0.0
            for tree in forest:
                node = tree
                if fmt == "full":
                    while "leaf" not in node:
                        v = fmap.get(int(node["split"]), 0.0)
                        left, right = node["children"]
                        node = left if (v == 0.0 or v < node["split_condition"]) else right
                    s += node["leaf"]
                else:
                    while "v" not in node:
                        fidx = int(node["f"])
                        if fidx not in fmap:
                            node = node[node["u"]]
                        elif fmap[fidx] < node["c"]:
                            node = node["l"]
                        else:
                            node = node["r"]
                    s += node["v"]
            out[r, c] = s
    return out


def probs_kernel_udf(class_forests: list[list[dict]], fmt: str = "full"):
    """array<double> softmax probabilities via one Arrow-batched
    pandas UDF (the deep-ensemble path: expression compile cost grows
    with dump size, the kernel is O(depth) per row regardless). The
    softmax runs inside the kernel — Catalyst rejects HOF lambdas
    over a Python-UDF result column — with the same plain-exp formula
    as the reference (xgbpredictor_dump.py:150-152)."""
    # serialize once on the driver; each worker PROCESS parses the
    # blob once (module-level cache keyed by a digest — real dumps are
    # MB-scale and the SCALAR UDF is invoked per ~10k-row Arrow batch,
    # so a per-call json.loads would dominate the kernel at scale)
    blob = json.dumps(class_forests)
    blob_key = hashlib.md5(blob.encode()).hexdigest()

    def _fn(indices: pd.Series, values: pd.Series) -> pd.Series:
        forests = _FOREST_CACHE.get(blob_key)
        if forests is None:
            forests = json.loads(blob)
            _FOREST_CACHE[blob_key] = forests
        m = _score_batch(indices.tolist(), values.tolist(), forests, fmt)
        e = np.exp(m)
        p = e / e.sum(axis=1, keepdims=True)
        return pd.Series(list(p))

    return F.pandas_udf(_fn, "array<double>")


# -- the scorer (predict.py contract) --------------------------------

# Above this many total dump nodes the Arrow kernel wins decisively:
# measured at 100k rows/local[8] (BENCH/BASELINE.md §Round 4), the
# compiled CASE path is ~0.6s exec at 120 nodes (vs kernel 0.9s) but
# 9s at 496 nodes and ~20s at 4k (vs kernel ~1-5s flat) — giant
# nested CaseWhen projections leave codegen's fast path — and driver
# compile grows linearly (~14s at 2k nodes). The expression path is
# for small/fixture models where plan purity (zero Python) matters.
MAX_EXPR_NODES = 256


def forest_features(class_forests: list[list[dict]], fmt: str = "full") -> list[int]:
    """Sorted distinct feature indices referenced by any tree."""
    out: set[int] = set()
    key = "split" if fmt == "full" else "f"
    def walk(node: dict) -> None:
        if "leaf" in node or "v" in node:
            return
        out.add(int(node[key]))
        kids = node["children"] if "children" in node else [node["l"], node["r"]]
        for k in kids:
            walk(k)
    for f in class_forests:
        for t in f:
            walk(t)
    return sorted(out)


def dump_score_fn(
    model_dump: list[dict] | list[list[dict]],
    fmt: str = "full",
) -> Callable[[DataFrame], Column | tuple[DataFrame, Column]]:
    """score_fn for predict.predict(): sparse feature rows →
    array<double> softmax probabilities.

    ``fmt="full"``: model_dump is the flat tree list of an xgboost
    JSON dump (round-robin class assignment). ``fmt="sparse"``:
    model_dump is already a list of per-class forests (one minimal
    dump file per class, xgbpredictor_sparsedump.py:117-128).

    A dump of at most ``MAX_EXPR_NODES`` nodes compiles to expressions;
    a larger one scores in the Arrow kernel.

    The expression path returns (augmented_df, probs): each DISTINCT
    feature the forest references is extracted ONCE into a ``__xf_i``
    column in an unconditional projection, and the tree CASE chains
    reference those plain attributes. Inlining the map lookup at every
    node is catastrophically slower — Spark's subexpression
    elimination skips expressions under conditional (CASE) branches,
    so each of the N tree nodes would rebuild map_from_arrays per row
    (measured 7x at ~500 nodes, BENCH/BASELINE.md §Round 4)."""
    if fmt == "full":
        validate_full_dump(model_dump)
        forests = class_forests_full(model_dump)
    else:
        forests = list(model_dump)
        if len(forests) != NUM_CLASSES:
            raise ValueError(f"expected {NUM_CLASSES} per-class forests, got {len(forests)}")
    as_expr = sum(count_nodes(t) for f in forests for t in f) <= MAX_EXPR_NODES
    feats_used = forest_features(forests, fmt)

    def score(assembled: DataFrame) -> Column | tuple[DataFrame, Column]:
        if as_expr:
            lookup = sparse_feat()
            aug = assembled.select(
                "*", *[lookup(i).alias(f"__xf_{i}") for i in feats_used]
            )
            feat = lambda i: F.col(f"__xf_{i}")  # noqa: E731
            margins = forest_margins(forests, feat, fmt)
            return aug, softmax_cols(margins)
        return probs_kernel_udf(forests, fmt)(F.col("indices"), F.col("values"))

    return score


# -- SQL text generation (DuckDB oracle twin) -------------------------


def tree_sql_full(node: dict, feat_sql: FeatSql) -> str:
    """Full-format tree → ANSI CASE text with identical dense
    semantics; used to build the DuckDB oracle for the correctness
    gate (same tree, same literal floats, same branch order)."""
    if "leaf" in node:
        return repr(float(node["leaf"]))
    v = f"coalesce({feat_sql(int(node['split']))}, 0.0)"
    c = repr(float(node["split_condition"]))
    left, right = node["children"]
    return (
        f"(CASE WHEN {v} = 0.0 OR {v} < {c} THEN {tree_sql_full(left, feat_sql)} "
        f"ELSE {tree_sql_full(right, feat_sql)} END)"
    )


def forest_margin_sql(
    class_forests: list[list[dict]], feat_sql: FeatSql
) -> list[str]:
    """Per-class margin SQL, summed in tree order like the Spark
    expression (0.0 + t0 + t1 ...) so float results match exactly.
    The seed is CAST AS DOUBLE: DuckDB types bare numeric literals as
    DECIMAL, and an all-literal sum would stay (exact) DECIMAL instead
    of reproducing the engine's double arithmetic; seeding with a
    double promotes every subsequent addition, left-to-right, and each
    DECIMAL leaf converts to its nearest double — the same value
    Python's float(literal) / Spark's F.lit produce."""
    out = []
    for forest in class_forests:
        s = "CAST(0.0 AS DOUBLE)"
        for tree in forest:
            s = f"({s} + {tree_sql_full(tree, feat_sql)})"
        out.append(s)
    return out


# -- deterministic fixture dump (tests + oracle) ----------------------


def fixture_dump() -> list[dict]:
    """Hand-built 8-tree full-format dump (4 classes × 2 rounds,
    depth ≤ 2, distinct leaf weights) over feature indices 0-3 with
    split conditions inside the test tables' value range. Tree 4 is a
    bare single-leaf tree — the reference notes the real model
    contains decision-free trees (xgbpredictor_dump.py:35-38) and the
    parser must accept them."""
    def leaf(nodeid: int, v: float) -> dict:
        return {"nodeid": nodeid, "leaf": v}

    def node(nodeid: int, split: int, cond: float, yes: dict, no: dict) -> dict:
        return {
            "nodeid": nodeid, "depth": 0, "split": split,
            "split_condition": cond, "yes": yes["nodeid"],
            "no": no["nodeid"], "missing": yes["nodeid"],
            "children": [yes, no],
        }

    return [
        # round 1, classes 0-3
        node(0, 0, 0.25, node(1, 1, -0.1, leaf(3, 0.31), leaf(4, -0.12)), leaf(2, 0.07)),
        node(0, 1, 0.0, leaf(1, -0.22), node(2, 2, 0.4, leaf(3, 0.18), leaf(4, 0.55))),
        node(0, 2, -0.3, leaf(1, 0.41), node(2, 3, 0.15, leaf(3, -0.08), leaf(4, 0.26))),
        node(0, 3, 0.5, node(1, 0, -0.2, leaf(3, 0.13), leaf(4, -0.31)), leaf(2, 0.44)),
        # round 2: class 0 gets a decision-free single-leaf tree
        {"nodeid": 0, "leaf": 0.05},
        node(0, 2, 0.2, leaf(1, 0.09), leaf(2, -0.17)),
        node(0, 0, 0.6, leaf(1, -0.05), leaf(2, 0.21)),
        node(0, 1, -0.45, leaf(1, 0.33), leaf(2, -0.02)),
    ]


# -- format conversion: full dump → minimal sparse dump ---------------


def to_sparse_format(model_dump: list[dict]) -> list[list[dict]]:
    """Full JSON dump → per-class forests in the reference's MINIMAL
    sparse format (xgbpredictor_sparsedump.py:64: node {"f","c","u",
    "l","r"}, leaf {"v"}) — the artifact the reference exports for its
    JavaScript deployment. The full format's missing==yes invariant
    maps to default branch u="l".

    Semantics caveat (inherent to the two reference formats, not this
    converter): the full format routes an EXPLICIT 0.0 value down the
    missing path, the sparse format compares it (0.0 < c); they
    diverge only for rows carrying explicit zeros against splits with
    c <= 0. The engine's assembled rows DO store explicit zeros:
    assemble_sparse drops only NULL slots, so e.g. the content_length
    of "" and the lev_distance of a repeated value are stored as 0.0.
    On such rows a converted dump can score differently from its full
    dump; both the equivalence on zero-free rows and this divergence
    are pinned in tests/test_xgb.py."""
    validate_full_dump(model_dump)

    def conv(node: dict) -> dict:
        if "leaf" in node:
            return {"v": float(node["leaf"])}
        left, right = node["children"]
        return {
            "f": int(node["split"]),
            "c": float(node["split_condition"]),
            "u": "l",  # missing == yes == left (validated above)
            "l": conv(left),
            "r": conv(right),
        }

    forests = class_forests_full(model_dump)
    return [[conv(t) for t in f] for f in forests]
