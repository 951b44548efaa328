"""Point-in-time (as-of) join with zero temporal leakage.

Attaches, to every fact row ``(entity, ts)``, the dimension attributes
from the latest dim row of the same entity with ``dim_ts <= fact.ts``
(the optional strict columns: ``<``). The reference never needs this
because its label is static per cookie (processor.py:473); the north
rule generalizes to time-varying label/metadata state (BASELINE.json
north_rule).

Strategy — union + single window, NOT a range join:
  1. tag fact rows (tag=1) and dim rows (tag=0), union by a shared
     (entity, ts, tag, …) shape;
  2. one Window.partitionBy(entity).orderBy(ts, tag, dim_tiebreak)
     with last(dim_col, ignorenulls=True) over unbounded-preceding
     forward-fills the latest dim state onto every row;
  3. keep only fact rows.

Cost: ONE hash shuffle of |fact|+|dim| rows and one sort — versus the
naive ``fact JOIN dim ON entity AND dim_ts <= ts`` range join, which
explodes to |fact|×|dim-rows-per-entity| intermediates before the
aggregate. At 10^12 facts that difference is the whole game. AQE
coalesces the post-shuffle partitions; hot entities are bounded by
their own update counts (the window state is O(1) per row: running
`last` only).

Tie semantics: at equal timestamps, dim sorts BEFORE fact (tag order),
so a dim update effective exactly at fact.ts IS visible (inclusive);
the ``strict`` columns sort dim after fact for exclusive semantics.
Among multiple dim rows at the same (entity, ts), the one greatest by
``dim_order`` wins (deterministic).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    fact_ts: str = "ts",
    dim_ts: str = "ts",
    payload: Sequence[str] = (),
    dim_order: Sequence[str] = (),
    tolerance_seconds: float | None = None,
    strict: bool = False,
) -> DataFrame:
    """Return ``fact`` with ``<payload>_asof`` columns attached
    point-in-time-correctly. Facts with no prior dim state get nulls.

    ``strict``: additionally attach ``<payload>_strict`` columns with
    STRICT (exclusive) semantics in the same pass. Both modes share
    the one hash exchange; only a second sort order differs
    (dim-after-fact at equal ts), so the plan is Exchange → Sort →
    Window → Sort → Window — still a single shuffle.

    ``tolerance_seconds`` (pandas merge_asof ``tolerance`` analogue):
    additionally attach ``<payload>_tol`` columns, the inclusive match
    or null where the matched dim row is older than the tolerance. The
    staleness check is a row-local predicate on the forward-filled dim
    timestamp, so it adds zero sorts and zero shuffles (inclusive +
    strict + tolerance all come from the ONE exchange). Assumes
    non-null dim payload values (each payload column is forward-filled
    independently, like the base join).
    """
    if not payload:
        raise ValueError("payload columns required")

    fact_cols = fact.columns
    f_side = fact.withColumn("__tag", F.lit(1))
    for p in payload:
        f_side = f_side.withColumn(f"__dim_{p}", F.lit(None).cast(dim.schema[p].dataType))
    f_side = f_side.withColumn("__ets", F.col(fact_ts))
    for i, c in enumerate(dim_order):
        f_side = f_side.withColumn(f"__dimord_{i}", F.lit(None).cast(dim.schema[c].dataType))

    d_side = dim.select(
        F.col(on),
        F.col(dim_ts).alias("__ets"),
        F.lit(0).alias("__tag"),
        *[F.col(p).alias(f"__dim_{p}") for p in payload],
        *[F.col(c).alias(f"__dimord_{i}") for i, c in enumerate(dim_order)],
    )
    # align shapes: dim side lacks the fact columns -> null-fill
    for c in fact_cols:
        if c not in d_side.columns:
            d_side = d_side.withColumn(c, F.lit(None).cast(fact.schema[c].dataType))
    d_side = d_side.select(*f_side.columns)

    unioned = f_side.unionByName(d_side)
    order = ["__ets", "__tag"] + [
        F.col(f"__dimord_{i}").asc_nulls_first() for i in range(len(dim_order))
    ]
    w = (
        Window.partitionBy(on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned
    for p in payload:
        filled = filled.withColumn(
            f"{p}_asof", F.last(f"__dim_{p}", ignorenulls=True).over(w)
        )
    if strict:
        # same partition key, reversed tag order: fact sorts BEFORE a
        # dim update effective at exactly fact.ts, so that dim state
        # is NOT yet visible (exclusive). Catalyst reuses the single
        # exchange; only an extra sort is added.
        strict_order = [F.col("__ets").asc(), F.col("__tag").desc()] + [
            F.col(f"__dimord_{i}").asc_nulls_first() for i in range(len(dim_order))
        ]
        w_strict = (
            Window.partitionBy(on)
            .orderBy(*strict_order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        for p in payload:
            filled = filled.withColumn(
                f"{p}_strict",
                F.last(f"__dim_{p}", ignorenulls=True).over(w_strict),
            )
    if tolerance_seconds is not None:
        dim_ts_marker = F.when(F.col("__tag") == 0, F.col("__ets"))
        filled = filled.withColumn(
            "__asof_ts", F.last(dim_ts_marker, ignorenulls=True).over(w)
        )
        age_ok = (
            F.unix_micros(F.col(fact_ts).cast("timestamp"))
            - F.unix_micros(F.col("__asof_ts").cast("timestamp"))
        ) <= F.lit(int(tolerance_seconds * 1_000_000))
        for p in payload:
            filled = filled.withColumn(f"{p}_tol", F.when(age_ok, F.col(f"{p}_asof")))
    out_cols = fact_cols + [f"{p}_asof" for p in payload]
    if strict:
        out_cols += [f"{p}_strict" for p in payload]
    if tolerance_seconds is not None:
        out_cols += [f"{p}_tol" for p in payload]
    return filled.filter(F.col("__tag") == 1).select(*out_cols)
