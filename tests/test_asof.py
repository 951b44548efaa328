"""As-of join: point-in-time correctness + zero-leakage property
(SURVEY.md §5; north_rule)."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from cookieblock_consent_classifier_spark.operators.asof import asof_join

T0 = datetime(2024, 1, 1)


def _ts(sec: int) -> datetime:
    return T0 + timedelta(seconds=sec)


@pytest.fixture(scope="module")
def fact(spark):
    return spark.createDataFrame(
        [("e", _ts(10), 0), ("e", _ts(20), 1), ("e", _ts(30), 2), ("x", _ts(10), 3)],
        ["entity", "ts", "fid"],
    )


@pytest.fixture(scope="module")
def dim(spark):
    # dim states at 5, 20 (== a fact ts), 25, and 99999 (future)
    return spark.createDataFrame(
        [("e", _ts(5), "v5"), ("e", _ts(20), "v20"), ("e", _ts(25), "v25"),
         ("e", _ts(99999), "vFUTURE")],
        ["entity", "ts", "state"],
    )


def _naive(fact, dim, strict=False, tol=None):
    """fid -> state of the latest dim row at or before (strict: before)
    the fact, or None; with ``tol`` seconds, None when that row is
    older than ``tol``."""
    dims = dim.collect()
    out = {}
    for f in fact.collect():
        prior = [d for d in dims if d["entity"] == f["entity"]
                 and (d["ts"] < f["ts"] if strict else d["ts"] <= f["ts"])]
        best = max(prior, key=lambda d: d["ts"], default=None)
        if best is not None and tol is not None and (f["ts"] - best["ts"]).total_seconds() > tol:
            best = None
        out[f["fid"]] = best["state"] if best is not None else None
    return out


def test_asof_inclusive(spark, fact, dim):
    out = {
        r["fid"]: r["state_asof"]
        for r in asof_join(fact, dim, on="entity", payload=["state"]).collect()
    }
    # ts=10 -> v5; ts=20 -> v20 (dim at same instant IS visible);
    # ts=30 -> v25; entity x has no dim -> null
    assert out == {0: "v5", 1: "v20", 2: "v25", 3: None}


def test_asof_strict_excludes_same_instant(spark, fact, dim):
    out = {
        r["fid"]: r["state_strict"]
        for r in asof_join(
            fact, dim, on="entity", payload=["state"], strict=True
        ).collect()
    }
    assert out[1] == "v5"  # v20 at the same instant NOT visible
    assert out == _naive(fact, dim, strict=True)


def test_asof_zero_leakage_property(spark, fact, dim):
    """No output row may carry dim state from the future — checked by
    re-joining the attached state back to its effective_ts."""
    out = asof_join(fact, dim, on="entity", payload=["state"])
    joined = out.join(
        dim.withColumnRenamed("ts", "eff_ts").withColumnRenamed("state", "state_asof"),
        ["entity", "state_asof"],
    )
    leaks = joined.filter(F.col("eff_ts") > F.col("ts")).count()
    assert leaks == 0
    assert out.filter(F.col("state_asof") == "vFUTURE").count() == 0


def test_asof_tie_break_among_same_ts_dims(spark):
    fact = spark.createDataFrame([("e", _ts(10), 0)], ["entity", "ts", "fid"])
    dim = spark.createDataFrame(
        [("e", _ts(5), "a", 1), ("e", _ts(5), "b", 2)], ["entity", "ts", "state", "ver"]
    )
    out = asof_join(
        fact, dim, on="entity", payload=["state"], dim_order=["ver"]
    ).collect()
    assert out[0]["state_asof"] == "b"  # greatest ver wins deterministically


def test_asof_matches_naive_range_join_on_real_data(spark, events, orders):
    """Oracle: naive max-by range join (quadratic but exact) on sf0.001."""
    dim = orders.withColumnRenamed("o_custkey", "user_id")
    fast = asof_join(
        events, dim, on="user_id", fact_ts="ts", dim_ts="o_orderdate",
        payload=["o_orderkey"], dim_order=["o_orderkey"],
    ).select("event_id", "o_orderkey_asof")

    naive = (
        events.alias("f")
        .join(dim.alias("d"), (F.col("f.user_id") == F.col("d.user_id"))
              & (F.col("d.o_orderdate") <= F.col("f.ts")), "left")
        .groupBy("f.event_id")
        .agg(
            F.max_by(
                "d.o_orderkey",
                F.struct(F.col("d.o_orderdate"), F.col("d.o_orderkey")),
            ).alias("naive_key")
        )
    )
    diff = (
        fast.join(naive, "event_id")
        .filter(
            ~(
                (F.col("o_orderkey_asof") == F.col("naive_key"))
                | (F.col("o_orderkey_asof").isNull() & F.col("naive_key").isNull())
            )
        )
        .count()
    )
    assert diff == 0


def test_asof_tolerance_nulls_stale_matches(spark, events, orders):
    """the ``_tol`` columns must null exactly the matches older than
    the bound (verified against the plain as-of + an explicit age
    check), next to unchanged ``_asof`` columns."""
    ords = orders.withColumnRenamed("o_custkey", "user_id")
    plain = asof_join(
        events, ords, on="user_id", fact_ts="ts", dim_ts="o_orderdate",
        payload=["o_orderkey", "o_orderdate"], dim_order=["o_orderkey"],
    )
    tol = 30 * 86400
    with_tol = asof_join(
        events, ords, on="user_id", fact_ts="ts", dim_ts="o_orderdate",
        payload=["o_orderkey"], dim_order=["o_orderkey"],
        tolerance_seconds=tol,
    )
    p = {r["event_id"]: r for r in plain.collect()}
    tol_rows = with_tol.collect()
    t = {r["event_id"]: r["o_orderkey_tol"] for r in tol_rows}
    assert set(p) == set(t)
    assert {r["event_id"]: r["o_orderkey_asof"] for r in tol_rows} == {
        eid: row["o_orderkey_asof"] for eid, row in p.items()
    }
    n_stale = 0
    for eid, row in p.items():
        if row["o_orderkey_asof"] is None:
            assert t[eid] is None
            continue
        age = (row["ts"] - __import__("datetime").datetime.combine(
            row["o_orderdate_asof"], __import__("datetime").time())).total_seconds()
        if age <= tol:
            assert t[eid] == row["o_orderkey_asof"], eid
        else:
            assert t[eid] is None, eid
            n_stale += 1
    assert n_stale > 0, "fixture must exercise the tolerance cut"


def test_asof_also_strict_single_pass(spark, fact, dim):
    """strict=True: inclusive + strict columns from ONE
    union+window pass — values match a separate inclusive run and the
    naive strict oracle, and the plan carries exactly one hash
    exchange (two sorts share it)."""
    both = asof_join(
        fact, dim, on="entity", fact_ts="ts", dim_ts="ts",
        payload=["state"], strict=True,
    )
    incl = asof_join(fact, dim, on="entity", fact_ts="ts", dim_ts="ts", payload=["state"])
    got = {r["fid"]: (r["state_asof"], r["state_strict"]) for r in both.collect()}
    want_incl = {r["fid"]: r["state_asof"] for r in incl.collect()}
    assert {k: v[0] for k, v in got.items()} == want_incl
    assert {k: v[1] for k, v in got.items()} == _naive(fact, dim, strict=True)

    # AQE's executed-plan string repeats the tree under "== Initial
    # Plan ==": count exchanges in the final section only
    plan = both._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange == 1, plan


def test_asof_triple_mode_single_pass(spark, fact, dim):
    """inclusive + strict + tolerance columns from ONE pass
    (strict + tolerance_seconds): values match three separate runs
    (the strict and tolerance ones: the naive oracle too) and the plan
    still carries exactly one exchange."""
    tol = 12.0  # seconds: ts=30 fact vs dim at 25 ok (5s), vs 5 stale
    combo = asof_join(
        fact, dim, on="entity", fact_ts="ts", dim_ts="ts",
        payload=["state"], strict=True, tolerance_seconds=tol,
    )
    incl = asof_join(fact, dim, on="entity", payload=["state"])
    tol_only = asof_join(
        fact, dim, on="entity", payload=["state"], tolerance_seconds=tol
    )
    got = {
        r["fid"]: (r["state_asof"], r["state_strict"], r["state_tol"])
        for r in combo.collect()
    }
    assert {k: v[0] for k, v in got.items()} == {
        r["fid"]: r["state_asof"] for r in incl.collect()
    }
    assert {k: v[1] for k, v in got.items()} == _naive(fact, dim, strict=True)
    assert {k: v[2] for k, v in got.items()} == {
        r["fid"]: r["state_tol"] for r in tol_only.collect()
    } == _naive(fact, dim, tol=tol)
    # the tolerance column must differ from the raw inclusive one
    # somewhere (fid=0: v5 at age 5s <= 12s ok; fid=1: v20 age 0 ok;
    # fid=2: v25 age 5 ok — adjust tol to force a stale cut)
    tight = asof_join(
        fact, dim, on="entity", payload=["state"],
        strict=True, tolerance_seconds=3.0,
    )
    trow = {r["fid"]: (r["state_asof"], r["state_tol"]) for r in tight.collect()}
    assert trow[0] == ("v5", None)      # age 5s > 3s: tol nulls, incl keeps
    assert trow[1] == ("v20", "v20")    # age 0: both keep
    assert {k: v[1] for k, v in trow.items()} == _naive(fact, dim, tol=3.0)

    plan = combo._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1, plan
