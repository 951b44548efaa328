"""Temporal window operators: lag/lead diffs, backfill, gap
sessionization, fixed-slot pivot.

These generalize the reference's per-update-sequence machinery
(consecutive-pair zip at processor.py:438-451,545-560; flag-change
scan at utils.py:59-78) into explicit event-time Window specs. All of
them share ONE logical partitioning — ``partitionBy(entity).orderBy(ts,
tiebreak)`` — so Catalyst schedules a single shuffle + sort and every
window function reuses it (verified in tests via .explain: one
Exchange feeding stacked Window nodes).

Scale notes (100 TB):
- the only shuffle is hash-partition by entity; entity cardinality is
  huge (10^12 images) so partitions balance well by default. Hot
  entities (≥10^3 updates) are handled by operators/skew.py salting for
  the *aggregation* family; sequence ops (lag) are inherently
  per-entity-ordered and bounded by max-updates-per-entity, which the
  north rule's data model keeps modest.
- everything here is whole-stage-codegen-able native expressions — no
  Python in the hot path.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F


def entity_window(entity_col: str, order_cols: Sequence[str | Column]):
    """The canonical per-entity event-time window spec."""
    return Window.partitionBy(entity_col).orderBy(*order_cols)


def ts_seconds(col: str | Column) -> Column:
    """Event-time → epoch seconds (double, keeps sub-second precision).
    Handles TIMESTAMP and TIMESTAMP_NTZ (NTZ is interpreted in the
    session timezone, which the engine pins to UTC — session.py)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp").cast("double")


def with_lag(
    df: DataFrame,
    entity_col: str,
    order_cols: Sequence[str],
    cols: Sequence[str],
) -> DataFrame:
    """Attach ``prev_<col>`` = value at the previous update of the same
    entity (reference per-diff iteration: zip(updates, updates[1:]) at
    processor.py:438-451). First update per entity gets nulls."""
    w = entity_window(entity_col, list(order_cols))
    out = df
    for c in cols:
        out = out.withColumn(f"prev_{c}", F.lag(c).over(w))
    return out


def backfill(
    df: DataFrame,
    entity_col: str,
    order_cols: Sequence[str],
    cols: Sequence[str],
) -> DataFrame:
    """Forward-fill into ``<col>_filled``: latest non-null value
    at-or-before each row within the entity's timeline
    (``last(col, ignorenulls=True)`` over an unbounded-preceding
    frame). This is also the kernel of the as-of join
    (operators/asof.py)."""
    w = (
        entity_window(entity_col, list(order_cols))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df
    for c in cols:
        out = out.withColumn(f"{c}_filled", F.last(c, ignorenulls=True).over(w))
    return out


def sessionize(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    gap_seconds: int,
    order_tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Gap-based sessionization into ``session_id``: a new session
    starts when the time since the entity's previous event exceeds
    ``gap_seconds`` (strictly: delta > gap keeps same-session at
    exactly `gap`).

    Pure Window composition — boundary flag via lag, running sum as
    session index (0-based per entity). Generalizes the reference's
    bounded update-sequence features to unbounded event streams
    (SURVEY.md §2.9). Batch form; streaming/sessionize.py is the
    Structured-Streaming twin (F.session_window).
    """
    order = [ts_col, *order_tiebreak]
    w = entity_window(entity_col, order)
    prev_ts = F.lag(ts_seconds(ts_col)).over(w)
    gap = ts_seconds(ts_col) - prev_ts
    new_session = F.when(prev_ts.isNull() | (gap > float(gap_seconds)), 1).otherwise(0)
    running = Window.partitionBy(entity_col).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn(
        "session_id", (F.sum(new_session).over(running) - F.lit(1)).cast("long")
    )


def slot_pivot_aggs(
    value_cols: Sequence[str], num_slots: int
) -> list[Column]:
    """First-N-updates pivot as aggregate columns ``slot{i}_{col}``
    over a ``__slot`` row_number (0-based) of the entity window, for
    use inside the caller's groupBy(entity).

    Mirrors the reference's fixed ``num_updates`` column blocks where
    entities with fewer updates leave zero-filled (absent) slots
    (processor.py:425-428,448-451): missing slots here are NULL and the
    sparse assembler drops NULLs, reproducing absent-not-false. Slots
    at or past ``num_slots`` match no ``when(slot == i)``, so no rank
    filter is needed, and a caller that already aggregates the entity
    over the same ordered window folds the pivot into that one pass
    (opt guide §2.4) instead of a second scan + exchange + window +
    join; no Spark ``pivot()`` second pass either (slots are static)."""
    return [
        F.max(F.when(F.col("__slot") == i, F.col(c))).alias(f"slot{i}_{c}")
        for i in range(num_slots)
        for c in value_cols
    ]


def flag_changed(col: str | Column, entity_col: str, order_cols: Sequence[str]) -> Column:
    """Aggregate expression: 1.0 if the column's value differs between
    any consecutive updates of the entity, else absent (null).

    Reference semantics check_flag_changed (utils.py:59-78): emitted
    only when changed (sparse 0 otherwise). "Some consecutive pair
    differs" ⇔ "more than one distinct value in the ordered sequence"
    ⇔ min(c) != max(c) for non-null orderable values — plain algebraic
    aggregates with map-side partials. (count_distinct would be
    equivalent but N distinct aggs in one groupBy compile to an Expand
    — N× the shuffle rows plus a SECOND exchange; min/max keep the
    whole agg family on ONE exchange.)

    Use inside groupBy(entity).agg(...).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.min(c) != F.max(c), F.lit(1.0))


def rolling_time_agg(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    agg_col: str,
    window_seconds: float,
) -> DataFrame:
    """Trailing time-RANGE window aggregates ``rolling_sum``,
    ``rolling_count`` and ``rolling_avg``: for every row, aggregate
    ``agg_col`` over the entity's rows with ts in
    [row.ts - window_seconds, row.ts] (both ends inclusive — matching
    SQL RANGE ... PRECEDING AND CURRENT ROW).

    Uses Window.rangeBetween over epoch MICROseconds (rangeBetween
    needs a numeric ordering key; micros keep sub-second precision
    exactly). Same single entity shuffle as every other temporal op —
    the range frame is evaluated inside the sorted partition with a
    sliding two-pointer, O(n) per entity."""
    micros = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = (
        Window.partitionBy(entity_col)
        .orderBy(micros)
        .rangeBetween(-int(window_seconds * 1_000_000), 0)
    )
    out = df
    for name, fn in (("sum", F.sum), ("count", F.count), ("avg", F.avg)):
        out = out.withColumn(f"rolling_{name}", fn(agg_col).over(w))
    return out


def interpolate_linear(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Linear time-interpolation of missing values into
    ``<value_col>_interp``: a NULL at time t
    between the entity's previous known (t0, v0) and next known
    (t1, v1) becomes v0 + (v1 - v0)·(t - t0)/(t1 - t0). Known values
    pass through; leading/trailing NULLs (no bracket on one side) stay
    NULL — use backfill/ffill for edge policy.

    Two frames over the SAME partitioning (one shuffle): trailing
    last-known and leading first-known, both (value, ts) pairs."""
    micros = F.unix_micros(F.col(ts_col).cast("timestamp"))
    known_v = F.when(F.col(value_col).isNotNull(), F.col(value_col))
    known_t = F.when(F.col(value_col).isNotNull(), micros)
    w_prev = (
        Window.partitionBy(entity_col).orderBy(micros)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy(entity_col).orderBy(micros)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    v0 = F.last(known_v, ignorenulls=True).over(w_prev)
    t0 = F.last(known_t, ignorenulls=True).over(w_prev)
    v1 = F.first(known_v, ignorenulls=True).over(w_next)
    t1 = F.first(known_t, ignorenulls=True).over(w_next)
    frac = (micros - t0).cast("double") / (t1 - t0).cast("double")
    interp = v0 + (v1 - v0) * frac
    filled = F.when(F.col(value_col).isNotNull(), F.col(value_col)).otherwise(
        F.when(v0.isNotNull() & v1.isNotNull(), interp)
    )
    return df.withColumn(f"{value_col}_interp", filled)
