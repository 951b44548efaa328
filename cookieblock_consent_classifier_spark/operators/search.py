"""Hyperparameter grid / random search dataflow.

The reference trains XGBoost under sklearn GridSearchCV /
RandomizedSearchCV (classifiers/train_xgb.py:460-476: param grids,
n_jobs, CV splits, accuracy selection). The search takes any
``scorer(params) -> per-class score Columns``; what belongs to the
ENGINE is the search dataflow, and that is what this module provides,
Spark-first:

- ONE pass over the data evaluates EVERY parameter combination: each
  combo contributes row-local per-class score expressions; predictions
  for all combos ride in a single select, then one unpivot + one
  aggregation produce (combo, fold) metrics. |combos| scales the
  expression width, never the number of scans or shuffles.
- folds are deterministic hash folds (md5-based, engine-portable —
  the same idiom as the cv_folds oracle query), so the whole search is
  reproducible and resumable.
- random search = a deterministic md5-ranked subsample of the grid
  (RandomizedSearchCV's n_iter, without the nondeterminism).
"""

from __future__ import annotations

import itertools
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, functions as F

from cookieblock_consent_classifier_spark.sources.resources import local_table


def hash_fold(id_col: str | Column, num_folds: int) -> Column:
    """Deterministic fold id in [0, num_folds): md5 of the row id →
    int → mod. Portable across engines (DuckDB twin uses the same
    construction)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("long")
    return F.pmod(h, F.lit(num_folds)).cast("int")


def argmax_class(scores: list[Column]) -> Column:
    """Index of the max score; ties break to the LOWEST class index
    (struct array_max over (score, -idx)) — exactly
    ``list.index(max(...))`` (xgbpredictor_sparsedump.py:89) and the
    equal-loss bayesian argmin (utils.py:107-125). The engine's one
    first-max argmax: the search dataflow and the ``bayes_decision``
    query's margin decision both use it. Spark orders NaN above every
    number, so a NaN score wins; tree margins are finite sums of leaf
    literals and never NaN."""
    arr = F.array(*[
        F.struct(s.cast("double").alias("s"), F.lit(-i).alias("nc"))
        for i, s in enumerate(scores)
    ])
    return (-F.array_max(arr)["nc"]).cast("int")


def expand_grid(param_grid: dict[str, list]) -> list[dict]:
    """All combinations, in deterministic key-sorted order."""
    keys = sorted(param_grid)
    return [dict(zip(keys, vals)) for vals in itertools.product(*(param_grid[k] for k in keys))]


def sample_grid(combos: list[dict], n_iter: int, seed: int = 7) -> list[dict]:
    """Deterministic random-search subset: rank combos by md5 of
    (seed, repr(combo)) and keep the first n_iter — a reproducible
    stand-in for RandomizedSearchCV's sampler."""
    import hashlib

    def key(c: dict) -> str:
        blob = f"{seed}:{sorted(c.items())!r}".encode()
        return hashlib.md5(blob).hexdigest()

    return sorted(combos, key=key)[:n_iter]


def grid_search(
    df: DataFrame,
    scorer: Callable[[dict], list[Column]],
    param_grid: dict[str, list],
    label_col: str = "label",
    id_col: str = "vec_id",
    num_folds: int = 5,
    n_iter: int | None = None,
    seed: int = 7,
) -> DataFrame:
    """Evaluate ``scorer(params) -> per-class score Columns`` for every
    grid combination over deterministic hash folds, in one scan + one
    aggregation. Returns (param_id, params..., fold, n, accuracy),
    one row per (combo, fold).

    ``n_iter`` switches to random search (deterministic subsample).
    """
    combos = expand_grid(param_grid)
    if n_iter is not None:
        combos = sample_grid(combos, n_iter, seed)

    pred_cols = [
        argmax_class(scorer(params)).alias(f"__pred_{i}")
        for i, params in enumerate(combos)
    ]
    staged = df.select(
        F.col(label_col).alias("__label"),
        hash_fold(id_col, num_folds).alias("fold"),
        *pred_cols,
    )
    # unpivot: one row per (input row, combo) — stack is a row-local
    # Expand, no shuffle; the single groupBy(param_id, fold) follows
    stack_args: list[Column] = []
    for i in range(len(combos)):
        stack_args += [F.lit(i), F.col(f"__pred_{i}")]
    long = staged.select(
        "__label", "fold",
        F.stack(F.lit(len(combos)), *stack_args).alias("param_id", "pred"),
    )
    agg = long.groupBy("param_id", "fold").agg(
        F.count("*").alias("n"),
        F.round(F.avg((F.col("pred") == F.col("__label")).cast("double")), 6).alias("accuracy"),
    )
    # attach the param values (tiny broadcast dim)
    keys = sorted(param_grid)
    pdf = local_table(
        df.sparkSession,
        [(i, *[float(c[k]) for k in keys]) for i, c in enumerate(combos)],
        ["param_id", *keys],
    )
    return agg.join(F.broadcast(pdf), "param_id")


def best_params(search_result: DataFrame, param_cols: list[str]) -> DataFrame:
    """Mean accuracy across folds per combo, ranked; row 1 is the
    selected parameter set (GridSearchCV.best_params_ analogue)."""
    from pyspark.sql import Window

    mean_acc = search_result.groupBy("param_id", *param_cols).agg(
        F.round(F.avg("accuracy"), 6).alias("mean_accuracy")
    )
    w = Window.orderBy(F.desc("mean_accuracy"), F.asc("param_id"))
    return mean_acc.withColumn("rank", F.row_number().over(w))
