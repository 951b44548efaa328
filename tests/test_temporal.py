"""Temporal operator semantics: sessionization boundaries, lag diffs,
backfill, slot pivot (SURVEY.md §5 property tests)."""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from cookieblock_consent_classifier_spark.operators import temporal

T0 = datetime(2024, 1, 1)


def _ts(sec: int) -> datetime:
    return T0 + timedelta(seconds=sec)


def test_sessionize_boundary_exact_gap_stays_in_session(spark):
    # gap=100: delta of exactly 100 must NOT start a new session;
    # 101 must.
    rows = [
        ("e", _ts(0), 0),
        ("e", _ts(100), 1),   # exactly gap -> same session
        ("e", _ts(201), 2),   # 101 later -> new session
        ("e", _ts(300), 3),
    ]
    df = spark.createDataFrame(rows, ["entity", "ts", "i"])
    out = temporal.sessionize(df, "entity", "ts", 100, order_tiebreak=["i"])
    got = {r["i"]: r["session_id"] for r in out.collect()}
    assert got == {0: 0, 1: 0, 2: 1, 3: 1}


def test_sessionize_per_entity_independent(spark):
    rows = [("a", _ts(0), 0), ("a", _ts(5000), 1), ("b", _ts(0), 0)]
    df = spark.createDataFrame(rows, ["entity", "ts", "i"])
    out = temporal.sessionize(df, "entity", "ts", 100, order_tiebreak=["i"]).collect()
    by = {(r["entity"], r["i"]): r["session_id"] for r in out}
    assert by[("a", 0)] == 0 and by[("a", 1)] == 1 and by[("b", 0)] == 0


def test_with_lag_first_row_null(spark):
    df = spark.createDataFrame(
        [("e", _ts(0), "x"), ("e", _ts(10), "y")], ["entity", "ts", "v"]
    )
    out = temporal.with_lag(df, "entity", ["ts"], ["v"]).orderBy("ts").collect()
    assert out[0]["prev_v"] is None and out[1]["prev_v"] == "x"


def test_backfill_last_ignorenulls(spark):
    rows = [("e", _ts(0), "a"), ("e", _ts(1), None), ("e", _ts(2), None), ("e", _ts(3), "b")]
    df = spark.createDataFrame(rows, ["entity", "ts", "v"])
    out = temporal.backfill(df, "entity", ["ts"], ["v"]).orderBy("ts").collect()
    assert [r["v_filled"] for r in out] == ["a", "a", "a", "b"]


def test_slot_pivot_zero_fill_missing_slots(spark):
    # entity with 1 update and num_slots=3: slots 1,2 stay NULL
    # (absent, not false) — reference zero-filled slot semantics
    # (processor.py:425-428).
    rows = [("one", _ts(0), "x"), ("two", _ts(0), "p"), ("two", _ts(1), "q"),
            ("two", _ts(2), "r"), ("two", _ts(3), "s")]
    df = spark.createDataFrame(rows, ["entity", "ts", "v"])
    # the shape time_diff_stats folds into its entity aggregate: a
    # row_number slot over the entity window, then conditional firsts
    ranked = df.withColumn(
        "__slot", F.row_number().over(temporal.entity_window("entity", ["ts"])) - F.lit(1)
    )
    pivot = ranked.groupBy("entity").agg(*temporal.slot_pivot_aggs(["v"], 3))
    out = {r["entity"]: r for r in pivot.collect()}
    assert out["one"]["slot0_v"] == "x" and out["one"]["slot1_v"] is None
    # truncation: 4th update of "two" never appears
    assert (out["two"]["slot0_v"], out["two"]["slot1_v"], out["two"]["slot2_v"]) == ("p", "q", "r")


def test_flag_changed_consecutive_equals_distinct(spark):
    rows = [("chg", 0, True), ("chg", 1, False), ("same", 0, True), ("same", 1, True)]
    df = spark.createDataFrame(rows, ["entity", "i", "flag"])
    out = {
        r["entity"]: r["changed"]
        for r in df.groupBy("entity")
        .agg(temporal.flag_changed("flag", "entity", ["i"]).alias("changed"))
        .collect()
    }
    assert out["chg"] == 1.0 and out["same"] is None


def test_single_shuffle_for_stacked_windows(spark, events):
    # lag + sessionize share partitionBy(user_id).orderBy(ts,...) —
    # the physical plan must contain exactly ONE exchange.
    df = temporal.sessionize(events, "user_id", "ts", 1800, order_tiebreak=["event_id"])
    df = temporal.with_lag(df, "user_id", ["ts", "event_id"], ["value"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
