"""Sinks for assembled feature rows (SURVEY §2.1).

- parquet: native columnar sink for (entity_id, indices, values,
  label, weight) — replaces the reference's pickled CSR + sidecar
  files (dump_sparse_matrix, processor.py:320-341).
- libsvm text: trainer-compatible `label idx:val ...` lines with
  0-based ascending indices (dump_libsvm, processor.py:343-356) —
  built as a formatted string column, written via the text sink;
  fully distributed, no driver materialization.
- feature map: one line per column `<idx>\t<name>\tq` for XGBoost
  (dump_feature_map, processor.py:382-391); driver-side metadata.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F


def write_parquet(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def libsvm_lines(df: DataFrame) -> DataFrame:
    """Format (indices, values, label[, weight]) as LibSVM text lines.
    Indices are already ascending (assemble.py sorts)."""
    pairs = F.zip_with(
        "indices", "values",
        lambda i, v: F.concat(i.cast("string"), F.lit(":"), v.cast("string")),
    )
    line = F.concat_ws(" ", F.col("label").cast("string"), F.concat_ws(" ", pairs))
    return df.select(line.alias("value"))


def write_libsvm(df: DataFrame, path: str) -> None:
    libsvm_lines(df).write.mode("overwrite").text(path)


def write_feature_map(feature_names: list[str], path: str) -> None:
    """Byte-exact reference fmap (dump_feature_map, processor.py:
    382-391): each line `{idx} {name}-{i} i` — space-separated, type
    char `i`. feature_names here are FeatureSchema.feature_names()
    (already `-{i}`-suffixed); the index prefix is added per line."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", encoding="utf-8") as fd:
        for i, n in enumerate(feature_names):
            fd.write(f"{i} {n} i\n")
