"""Skew handling for hot entities (north rule: "skew from hot
entities handled via salted repartitioning and AQE").

AQE splits skewed *join* partitions automatically, but Window
partitions do NOT skew-split — a 10^6-update entity serializes one
task. For the per-entity AGGREGATION family (count, any-changed,
mean/stddev) the fix is two-phase salted aggregation:

  phase 1: groupBy(entity, salt) — salt = hash(row) % num_salts —
           computes partial aggregates (count, sum, sum_sq, distinct
           indicator partials) with map-side combine;
  phase 2: groupBy(entity) merges the ≤num_salts partials.

Sequence operators (lag/session) are order-dependent and can't salt;
they rely on the data model bounding updates-per-entity. The engine
exposes `salted_agg` for every algebraic aggregate it uses.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F


def with_salt(df: DataFrame, num_salts: int, cols: Sequence[str]) -> DataFrame:
    """Deterministic salt from row content (NOT rand(): resumable runs
    must reproduce partitioning)."""
    return df.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(num_salts))
    )


def salted_mean_stddev(
    df: DataFrame,
    entity_col: str,
    value_col: str | Column,
    num_salts: int = 16,
    salt_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Two-phase mean + sample-stddev per entity via (n, Σx, Σx²)
    partials — algebraically exact merge, no giant single partition.

    stddev_samp = sqrt((Σx² − (Σx)²/n) / (n−1)), matching Python
    statistics.stdev used by the reference (processor.py:838-841).

    The partials accumulate in DECIMAL(38,12) (the GBDT-trainer
    precedent): double sums are order-dependent, so a float Σx makes
    the result vary with partitioning/salting AND diverge from any
    other engine's sum order — observed as a 4-dp rounding-tie flip
    vs the DuckDB oracle at sf0.1. Decimal addition is exact and
    commutative: the merged sums are bit-identical under any salt
    count, partitioning, or evaluation order (the per-row double→
    decimal cast rounds identically everywhere). The final formula
    then runs in double on identical inputs."""
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    dec = "decimal(38,12)"
    salted = with_salt(df, num_salts, list(salt_cols or [entity_col]))
    partial = salted.groupBy(entity_col, "__salt").agg(
        F.count(v).alias("__n"),
        F.sum(v.cast(dec)).alias("__s1"),
        F.sum((v * v).cast(dec)).alias("__s2"),
    )
    merged = partial.groupBy(entity_col).agg(
        F.sum("__n").alias("__n"),
        F.sum("__s1").cast("double").alias("__s1"),
        F.sum("__s2").cast("double").alias("__s2"),
    )
    n = F.col("__n")
    mean = F.col("__s1") / n
    var = (F.col("__s2") - F.col("__s1") * F.col("__s1") / n) / (n - 1)
    return merged.select(
        entity_col,
        F.when(n >= 1, mean).otherwise(F.lit(-1.0)).alias("mean"),
        F.when(n >= 2, F.sqrt(F.greatest(var, F.lit(0.0))))
        .otherwise(F.lit(-1.0))
        .alias("stddev"),
        n.alias("n"),
    )
