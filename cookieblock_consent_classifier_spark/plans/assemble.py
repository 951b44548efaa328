"""Ordered sparse assembly: wide feature blocks → (indices, values)
arrays per entity row + label + inverse-class-frequency weight.

The Spark analogue of the reference's COO accumulation → CSR matrix
(processor.py:127-134, 301-304): NULL feature slots are simply not
emitted (sparse zero = absent, SURVEY §1.2), indices are ascending,
and the declared width invariant (every index < total width;
processor.py:197-200 row-width assert) is enforced structurally —
offsets come from the same declaration walk that produced the names.

All array surgery is native (arrays_zip/filter/flatten/transform) —
no Python, no shuffle beyond the compiler's single groupBy.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, functions as F


@dataclass
class Block:
    """One declared feature's contribution to the output vector:
    ``width`` slots starting at a base offset assigned by declaration
    order. Either ``fixed`` (width scalar columns; NULL → absent) or
    ``ranks`` (array<int> of fired offsets, each valued 1.0)."""

    width: int
    kind: str = "fixed"  # "fixed" | "ranks"
    cols: list[Column] = field(default_factory=list)
    ranks: Column | None = None


def class_weights(df: DataFrame) -> DataFrame:
    """(label, n, weight): rows per label of ``df`` and the inverse
    class frequency n_total/n_class (retrieve_label_weights,
    processor.py:263-273).

    A global Window would funnel every row through one partition;
    instead aggregate the tiny per-label counts, and derive the total
    INSIDE that same aggregate: collect the <=#labels count rows into
    one row, sum natively, explode back. A separate
    ``counts.agg(F.sum(...))`` re-executes the entire upstream lineage
    a second time just to add a handful of longs (opt guide §2.4: the
    plan drops 2 Exchanges)."""
    counts = df.groupBy("label").agg(F.count("*").alias("__n"))
    packed = counts.agg(F.collect_list(F.struct("label", "__n")).alias("__cs"))
    return packed.select(
        F.explode("__cs").alias("__c"),
        F.aggregate(
            "__cs", F.lit(0).cast("bigint"), lambda a, x: a + x["__n"]
        ).alias("__total"),
    ).select(
        F.col("__c.label").alias("label"),
        F.col("__c.__n").alias("n"),
        (F.col("__total") / F.col("__c.__n")).alias("weight"),
    )


def assemble_sparse(
    wide: DataFrame,
    blocks: list[Block],
    counts_src: DataFrame,
    with_weights: bool = True,
) -> DataFrame:
    """Returns (entity_id, indices array<int>, values array<double>,
    label[, weight]).

    ``counts_src``: a frame with EXACTLY one row per output row
    carrying ``label`` — the (cheaper) source for the class-frequency
    counts instead of the assembled output itself. compile_features
    passes its pre-join per-entity aggregate: the broadcast rank joins
    are 1:1 (rank_df dedupes its keys), so the label multiset is
    identical (tests/test_pipeline.py pins it with duplicate resource
    keys), while the counts branch of the plan drops the rank joins
    and the name/domain aggregates (opt guide §2.3 — shuffle/aggregate
    only the bytes the decision needs)."""
    pieces = []
    base = 0
    for b in blocks:
        if b.kind == "fixed":
            entries = [
                F.struct(
                    F.lit(base + i).alias("i"),
                    col.cast("double").alias("v"),
                )
                for i, col in enumerate(b.cols)
            ]
            pieces.append(F.array(*entries))
        else:  # ranks: fired offsets within the block, each valued 1.0
            off = F.lit(base)
            pieces.append(
                F.transform(
                    b.ranks,
                    lambda r: F.struct((off + r).alias("i"), F.lit(1.0).alias("v")),
                )
            )
        base += b.width

    coo = F.filter(F.flatten(F.array(*pieces)), lambda e: e["v"].isNotNull())
    coo = F.array_sort(coo)  # structs sort by first field → ascending index
    out = wide.withColumn("__coo", coo).select(
        "entity_id",
        F.transform("__coo", lambda e: e["i"]).alias("indices"),
        F.transform("__coo", lambda e: e["v"]).alias("values"),
        F.col("label").cast("int").alias("label"),
    )
    if with_weights:
        weights = class_weights(
            counts_src.select(F.col("label").cast("int").alias("label"))
        )
        out = out.join(F.broadcast(weights), "label", "left").select(
            "entity_id", "indices", "values", "label", "weight"
        )
    return out
