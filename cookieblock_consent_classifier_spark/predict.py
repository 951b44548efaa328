"""Inference-side dataflow (predict_class.py:107-161 re-expressed):

  extract (no label filter, no sampling) → score → bayesian decision
  → predictions sink + consent-cookie histogram.

The reference scores with a trained GBDT booster. Here the scorer is
always a tree model: ``score_fn(assembled) -> array<double>`` of
per-class probabilities, compiled from an XGBoost JSON dump by
``xgb.dump_score_fn`` (the dump the engine's own trainer,
operators/gbdt.py, writes, or one exported by the reference).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, functions as F

# 4x4 misclassification loss (predict_class.py:35-53 shape): L[i][j] =
# cost of deciding j when truth is i; distance loss as default.
DEFAULT_LOSS = [
    [0.0, 1.0, 2.0, 3.0],
    [1.0, 0.0, 1.0, 2.0],
    [2.0, 1.0, 0.0, 1.0],
    [3.0, 2.0, 1.0, 0.0],
]

# ones-minus-identity loss == plain argmax with first-max tie-break
# (utils.py:107-112 get_equal_loss_weights; predict_class.py:135 uses
# exactly this matrix for the real inference run)
EQUAL_LOSS = [
    [0.0, 1.0, 1.0, 1.0],
    [1.0, 0.0, 1.0, 1.0],
    [1.0, 1.0, 0.0, 1.0],
    [1.0, 1.0, 1.0, 0.0],
]


def bayesian_decision(probs: Column, loss: list[list[float]] | None = None) -> Column:
    """argmin_j Σ_i probs[i]·L[i][j] (classifiers/utils.py:85-125);
    ties break to the lowest class index."""
    L = loss or DEFAULT_LOSS
    n = len(L)
    d = [
        sum(F.element_at(probs, i + 1) * F.lit(L[i][j]) for i in range(n))
        for j in range(n)
    ]
    decision = None
    for j in range(n - 1, -1, -1):
        if decision is None:
            decision = F.lit(j)
        else:
            cond = None
            for k in range(j + 1, n):
                c = d[j] <= d[k]
                cond = c if cond is None else (cond & c)
            decision = F.when(cond, F.lit(j)).otherwise(decision)
    return decision.cast("int")


def predict(
    assembled: DataFrame,
    score_fn: Callable[[DataFrame], Column | tuple[DataFrame, Column]],
    loss: list[list[float]] | None = None,
) -> DataFrame:
    """(entity_id, indices, values, ...) → (entity_id, probs,
    predicted_label).

    ``score_fn`` may return either a probs Column, or an
    (augmented_df, probs) pair when it needs scratch columns computed
    in an unconditional projection first (the xgb expression path does
    — CASE-branch subexpressions get no elimination); ``__xf_``
    scratch columns are dropped from the output."""
    res = score_fn(assembled)
    if isinstance(res, tuple):
        assembled, probs = res
    else:
        probs = res
    out = assembled.withColumn("probs", probs)
    out = out.drop(*[c for c in out.columns if c.startswith("__xf_")])
    return out.withColumn("predicted_label", bayesian_decision(F.col("probs"), loss))


def write_predictions_json(pred: DataFrame, path: str) -> None:
    """{entity_id, predicted_label} JSON sink (predict_class.py:142-149)."""
    pred.select("entity_id", "predicted_label").write.mode("overwrite").json(path)


def consent_histogram(pred: DataFrame, entities: DataFrame, name_prefix: str) -> DataFrame:
    """prediction histogram for entities whose cookie name starts with
    a CMP prefix (predict_class.py:152-161)."""
    names = entities.select("entity_id", "name").distinct()
    return (
        pred.join(names, "entity_id")
        .filter(F.col("name").startswith(name_prefix))
        .groupBy("predicted_label")
        .agg(F.count("*").alias("n"))
    )
