"""Distributed gradient-boosted decision trees — no GBDT library.

The reference trains with the xgboost/lightgbm/catboost packages
(train_xgb.py:334-432 etc.); none is installed here, and the LibSVM
sink keeps that contract. This module closes the loop the other way:
a Spark-native histogram-based multiclass GBDT trainer over the
engine's sparse feature rows, emitting trees in the reference's FULL
JSON DUMP FORMAT (xgbpredictor_dump.py:30-95 — nodeid/split/
split_condition/yes/no/missing/children/leaf, missing==yes==left,
round-robin tree→class), so the engine's own native scorer (xgb.py)
serves what it trains. Train → dump → score is one engine.

Algorithm (LightGBM-style histogram splits, softmax objective):
per boosting round, per class c: gradient g_i = p_c(i) - 1[y_i = c],
hessian h_i = p_c(i)(1 - p_c(i)); one depth-wise tree per class.
Per level, ONE distributed aggregation builds the (node, feature,
bin) gradient histograms — explode the sparse row's nnz entries,
groupBy, sum — and the driver picks argmax-gain splits from the
bounded histogram (nodes x features x bins rows, NOT data rows).
Split gain = GL²/(HL+λ) + GR²/(HR+λ) − G²/(H+λ); leaf weight
= −lr·G/(H+λ).

Missing semantics match the dump scorer BY CONSTRUCTION: a feature
absent from the sparse row (or stored 0.0) always takes the left
(yes) branch at scoring (v==0.0 or v<c → left), so the trainer
accumulates the missing mass (node total minus present-value
histogram) on the left side of every candidate split.

Scale design: per level the only data-sized operation is one
explode+groupBy shuffle of nnz entries; node assignment and margin
updates are row-local expression chains (no joins); per-round margins
are localCheckpoint'ed to cut the iterative lineage (the
connected-components pattern). Driver memory holds histograms only:
O(nodes · features · bins). Rounds x classes x depth jobs total —
the standard distributed-GBDT shape.

Determinism (repo discipline, SURVEY §5): training is
RUN-DETERMINISTIC. Every row-local value (softmax margins,
gradients) is a fixed expression of the input row; the only
order-sensitive step — the distributed g/h sums — is made canonical by
aggregating in DECIMAL(38,18) (exact, commutative; double sums vary in
the last ulps with partition order) and converting to float once on
the driver. Split selection then ties off on (gain rounded to 1e-9,
lowest fidx, lowest bin), so two runs over the same input emit
byte-identical dumps (tests/test_gbdt.py pins this). Bin edges are
equal-width over each feature's [min, max] for the same reason: an
approximate-quantile sketch merges in runtime-dependent order.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from cookieblock_consent_classifier_spark import xgb
from cookieblock_consent_classifier_spark.schema import NUM_CLASSES

LEARNING_RATE = 0.3
REG_LAMBDA = 1.0
MIN_CHILD_HESS = 1e-3
MIN_GAIN = 1e-9


@dataclass
class GBDTParams:
    num_rounds: int = 3
    max_depth: int = 3
    n_bins: int = 16


def _feature_bins(df: DataFrame, n_bins: int) -> dict[int, list[float]]:
    """Candidate split edges per feature over its PRESENT values (one
    distributed pass; sparse zero/absent is the dedicated missing
    mass, not a bin): equal-width over [min, max]. Returns fidx →
    ascending [edge_1 ..] — bin(v) = count(edges <= v), split
    condition = the first right-side edge."""
    # explicit 0.0 entries are missing mass everywhere else (histogram
    # filter + scorer routing) — they must not shape bin edges either
    ex = (
        df.select(F.explode(F.arrays_zip("indices", "values")).alias("e"))
        .select(F.col("e.indices").alias("fidx"), F.col("e.values").alias("v"))
        .filter(F.col("v") != 0.0)
    )
    edges: dict[int, list[float]] = {}
    stats = ex.groupBy("fidx").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    ).collect()
    for r in stats:
        lo, hi = float(r["lo"]), float(r["hi"])
        if hi <= lo:
            edges[int(r["fidx"])] = [lo]  # single-valued feature
        else:
            step = (hi - lo) / n_bins
            edges[int(r["fidx"])] = [lo + step * k for k in range(1, n_bins)]
    return edges


def train_gbdt(
    assembled: DataFrame,
    params: GBDTParams | None = None,
) -> list[dict]:
    """(indices array<int>, values array<double>, label int) rows →
    reference-format model dump (flat tree list, tree i → class
    i % NUM_CLASSES). Feed to xgb.dump_score_fn / cli --model-dump."""
    import numpy as np  # noqa: PLC0415

    p = params or GBDTParams()
    k = NUM_CLASSES

    # optional per-row sample weight (the inverse-class-frequency
    # column assemble_sparse attaches): weighted objective g*=w, h*=w,
    # like the reference's weighted training; absent → unweighted
    has_w = "weight" in assembled.columns
    w_col = F.col("weight").cast("double") if has_w else F.lit(1.0)
    rows = assembled.select(
        "indices", "values", F.col("label").cast("int").alias("label"),
        w_col.alias("w"),
        F.array(*[F.lit(0.0) for _ in range(k)]).alias("margins"),
    ).localCheckpoint(eager=True)

    edges = _feature_bins(rows, p.n_bins)
    feats = sorted(edges)
    # hoist: the feature→edges map literal is large (features × bins
    # Column nodes); build it ONCE, not per round × class × level
    bin_col = _bin_from_edges_expr(edges)

    # per-row feature lookup: the SAME sparse lookup the dump scorer
    # compiles against (xgb.sparse_feat), missing/NULL → 0.0 (dense
    # convention) — one implementation, train == score by sharing it
    _lookup = xgb.sparse_feat()

    def feat_val(fidx: int):
        return F.coalesce(_lookup(fidx), F.lit(0.0))

    model_dump: list[dict] = []
    for _ in range(p.num_rounds):
        # softmax probabilities from current margins (row-local)
        exps = F.transform("margins", lambda m: F.exp(m))
        total = F.aggregate(exps, F.lit(0.0), lambda a, x: a + x)
        probs = F.transform(exps, lambda e: e / total)
        rows = rows.withColumn("probs", probs)

        round_trees: list[dict] = []
        new_margin_exprs = []
        for c in range(k):
            pc = F.element_at("probs", c + 1)
            g = (pc - F.when(F.col("label") == c, 1.0).otherwise(0.0)) * F.col("w")
            h = pc * (F.lit(1.0) - pc) * F.col("w")
            # DECIMAL g/h: the distributed sums below must be
            # order-insensitive or split gains flip on near-ties
            # between runs (see module docstring, Determinism)
            tree_df = (
                rows.withColumn("g", g.cast("decimal(38,18)"))
                .withColumn("h", h.cast("decimal(38,18)"))
                .withColumn("node", F.lit(0))
            )

            splits: dict[int, tuple[int, float]] = {}  # node → (fidx, cond)
            frontier = [0]
            for _level in range(p.max_depth):
                if not frontier:
                    break
                # ONE distributed agg: per-(node, fidx, bin) g/h sums
                # over PRESENT values + per-node totals
                # explicit 0.0 entries are EXCLUDED from the present-
                # value histogram: routing (and the dump scorer) send
                # v==0.0 down the left/missing branch unconditionally,
                # so their mass must ride in the missing term
                # (node total − present sums), not a value bin
                ex = tree_df.select(
                    "node", "g", "h",
                    F.explode(F.arrays_zip("indices", "values")).alias("e"),
                ).select(
                    "node", "g", "h",
                    F.col("e.indices").alias("fidx"), F.col("e.values").alias("v"),
                ).filter(F.col("v") != 0.0)
                hist = {
                    (int(r["node"]), int(r["fidx"]), int(r["bin"])): (
                        float(r["sg"]), float(r["sh"])
                    )
                    for r in ex.withColumn("bin", bin_col)
                    .groupBy("node", "fidx", "bin")
                    .agg(F.sum("g").alias("sg"), F.sum("h").alias("sh"))
                    .collect()
                }
                totals = {
                    int(r["node"]): (float(r["sg"]), float(r["sh"]))
                    for r in tree_df.groupBy("node")
                    .agg(F.sum("g").alias("sg"), F.sum("h").alias("sh"))
                    .collect()
                }
                level_splits = _best_splits(
                    frontier, feats, edges, hist, totals, np
                )
                if not level_splits:
                    break
                splits.update(level_splits)
                # nodes that failed to split are leaves; the next
                # frontier is the new children only
                frontier = sorted(
                    c for n in level_splits for c in (2 * n + 1, 2 * n + 2)
                )
                # reassign: node → 2n+1 (left) / 2n+2 (right)
                node_expr = F.col("node")
                for n, (fidx, cond) in level_splits.items():
                    v = feat_val(fidx)
                    left = (v == F.lit(0.0)) | (v < F.lit(cond))
                    node_expr = F.when(
                        F.col("node") == n,
                        F.when(left, F.lit(2 * n + 1)).otherwise(F.lit(2 * n + 2)),
                    ).otherwise(node_expr)
                tree_df = tree_df.withColumn("node", node_expr)

            # leaf weights from final node totals
            totals = {
                int(r["node"]): (float(r["sg"]), float(r["sh"]))
                for r in tree_df.groupBy("node")
                .agg(F.sum("g").alias("sg"), F.sum("h").alias("sh"))
                .collect()
            }
            leaves = {
                n: -LEARNING_RATE * sg / (sh + REG_LAMBDA)
                for n, (sg, sh) in totals.items()
                if n not in splits
            }
            tree = _emit_tree(splits, leaves)
            round_trees.append(tree)

            # margin update for class c: node-indexed when-chain —
            # row-local, mirrors the scorer's walk exactly
            delta = F.lit(0.0)
            for n, wgt in leaves.items():
                cond = _node_path_cond(n, splits, feat_val)
                delta = F.when(cond, F.lit(wgt)).otherwise(delta)
            new_margin_exprs.append(F.element_at("margins", c + 1) + delta)

        model_dump.extend(round_trees)
        rows = rows.select(
            "indices", "values", "label", "w",
            F.array(*new_margin_exprs).alias("margins"),
        ).localCheckpoint(eager=True)

    _assign_nodeids(model_dump)
    return model_dump


def _bin_from_edges_expr(edges: dict[int, list[float]]):
    """bin(v | fidx) = count of this feature's edges <= v, via ONE
    map literal (fidx → edges array) + a HOF aggregate — a per-feature
    CASE chain here would hit the giant-CaseWhen codegen cliff at real
    feature counts (BENCH/BASELINE.md §R4)."""
    if not edges:
        # degenerate input (no nonzero feature values anywhere): every
        # value lands in bin 0 and no split is ever found — an empty
        # F.create_map() would type as map<string,string> and fail
        # try_element_at(map, int) analysis
        return F.lit(0)
    pairs = []
    for fidx, es in edges.items():
        pairs += [F.lit(int(fidx)), F.array(*[F.lit(float(e)) for e in es])]
    edge_map = F.create_map(*pairs)
    es_arr = F.coalesce(
        F.try_element_at(edge_map, F.col("fidx")),
        F.array().cast("array<double>"),
    )
    return F.aggregate(
        es_arr,
        F.lit(0),
        lambda acc, e: acc + F.when(F.col("v") >= e, 1).otherwise(0),
    )


def _best_splits(frontier, feats, edges, hist, totals, np):
    """Argmax-gain split per frontier node from the collected
    histograms; missing mass (node total − present sums) rides LEFT
    (the scorer's missing→yes semantics).

    Stable selection: gains are rounded to 1e-9 before comparison and
    ties resolve to the LOWEST (fidx, bin) — combined with the exact
    decimal histogram sums this makes the chosen split a pure function
    of the input, never of aggregation order."""
    out: dict[int, tuple[int, float]] = {}
    for n in frontier:
        if n not in totals:
            continue
        gt, ht = totals[n]
        if ht < 2 * MIN_CHILD_HESS:
            continue
        base = gt * gt / (ht + REG_LAMBDA)
        best = (MIN_GAIN, None, None)
        for fidx in feats:  # ascending fidx: first strict improvement wins
            es = edges[fidx]
            nb = len(es) + 1
            sg = np.zeros(nb)
            sh = np.zeros(nb)
            for b in range(nb):
                v = hist.get((n, fidx, b))
                if v:
                    sg[b], sh[b] = v
            g_missing = gt - sg.sum()
            h_missing = ht - sh.sum()
            # left at threshold t = missing + bins < t
            gl = g_missing + np.cumsum(sg)[:-1]
            hl = h_missing + np.cumsum(sh)[:-1]
            gr, hr = gt - gl, ht - hl
            ok = (hl >= MIN_CHILD_HESS) & (hr >= MIN_CHILD_HESS)
            if not ok.any():
                continue
            gain = np.where(
                ok,
                gl * gl / (hl + REG_LAMBDA) + gr * gr / (hr + REG_LAMBDA) - base,
                -np.inf,
            )
            gain = np.round(gain, 9)  # tolerance: equal-to-1e-9 is a tie
            t = int(np.argmax(gain))  # argmax → lowest bin among ties
            if gain[t] > best[0]:  # strict → lowest fidx among ties
                # condition = lower edge of the first right-side bin
                best = (float(gain[t]), fidx, float(es[t]))
        if best[1] is not None:
            out[n] = (best[1], best[2])
    return out


def _node_path_cond(leaf: int, splits: dict, feat_val):
    """Conjunction of branch predicates from root to `leaf` (heap
    numbering: parent (n-1)//2, left iff odd)."""
    cond = F.lit(True)
    n = leaf
    while n != 0:
        parent = (n - 1) // 2
        fidx, c = splits[parent]
        v = feat_val(fidx)
        left = (v == F.lit(0.0)) | (v < F.lit(c))
        cond = cond & (left if n % 2 == 1 else ~left)
        n = parent
    return cond


def _emit_tree(splits: dict, leaves: dict) -> dict:
    """Heap-numbered splits/leaves → reference full-dump tree dict."""
    def build(n: int) -> dict:
        if n in splits:
            fidx, c = splits[n]
            return {
                "nodeid": 0, "depth": 0, "split": int(fidx),
                "split_condition": float(c), "yes": 0, "no": 0, "missing": 0,
                "children": [build(2 * n + 1), build(2 * n + 2)],
            }
        return {"nodeid": 0, "leaf": float(leaves.get(n, 0.0))}
    return build(0)


def _assign_nodeids(model_dump: list[dict]) -> None:
    """Preorder nodeids per tree: left subtree before right, so the
    reference invariant yes < no (and missing == yes) holds
    (xgbpredictor_dump.py:50-53 asserts it)."""
    for tree in model_dump:
        counter = [0]

        def walk(node: dict) -> None:
            node["nodeid"] = counter[0]
            counter[0] += 1
            if "children" in node:
                left, right = node["children"]
                walk(left)
                walk(right)
                node["yes"] = left["nodeid"]
                node["no"] = right["nodeid"]
                node["missing"] = left["nodeid"]

        walk(tree)
