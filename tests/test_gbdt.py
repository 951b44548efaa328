"""Spark-native GBDT trainer (operators/gbdt.py): learns, emits a
reference-format dump, and the engine's own scorer serves it —
train → dump → score closes the loop without any GBDT library."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cookieblock_consent_classifier_spark import predict as P, xgb
from cookieblock_consent_classifier_spark.operators import gbdt


@pytest.fixture(scope="module")
def train_df(spark):
    """400 rows, 6 features, 4 classes — label depends on features 0
    and 2 through axis-aligned thresholds (tree-learnable), with a
    deterministic sparse pattern (features 3-5 are noise, feature 4
    often absent)."""
    rng = np.random.default_rng(42)
    rows = []
    for i in range(400):
        f0 = float(rng.uniform(-1, 1)) or 0.001
        f2 = float(rng.uniform(-1, 1)) or 0.001
        label = (1 if f0 > 0.1 else 0) + 2 * (1 if f2 > -0.2 else 0)
        idx, vals = [0, 2], [f0, f2]
        for j in (1, 3, 5):
            if rng.random() < 0.7:
                idx.append(j)
                vals.append(float(rng.uniform(-1, 1)) or 0.001)
        order = np.argsort(idx)
        rows.append(
            (i, [int(idx[o]) for o in order], [vals[o] for o in order], int(label))
        )
    return spark.createDataFrame(
        rows, "row_id long, indices array<int>, values array<double>, label int"
    ).cache()


@pytest.fixture(scope="module")
def trained(train_df):
    return gbdt.train_gbdt(
        train_df,
        gbdt.GBDTParams(num_rounds=3, max_depth=3, n_bins=16),
    )


def test_dump_passes_reference_invariants(trained):
    """The emitted dump satisfies the exact invariants the reference
    parser asserts (binary, yes<no, missing==yes, trees % classes)."""
    assert len(trained) == 12  # 3 rounds x 4 classes
    xgb.validate_full_dump(trained)
    assert any("children" in t for t in trained)  # real splits happened


def test_trained_model_beats_chance_substantially(spark, train_df, trained):
    scored = P.predict(
        train_df, score_fn=xgb.dump_score_fn(trained), loss=P.EQUAL_LOSS
    )
    acc = (
        scored.select(
            F.avg((F.col("predicted_label") == F.col("label")).cast("double")).alias("a")
        ).first()["a"]
    )
    assert acc >= 0.9, acc  # 4-class chance = 0.25; the rule is tree-learnable


def test_loss_decreases_with_more_rounds(spark, train_df):
    """Multiclass log-loss on the training set strictly improves from
    1 round to 3 rounds (boosting actually boosts)."""
    def logloss(dump):
        scored = P.predict(train_df, score_fn=xgb.dump_score_fn(dump))
        return scored.select(
            F.avg(-F.log(F.element_at("probs", F.col("label") + 1))).alias("l")
        ).first()["l"]

    d1 = gbdt.train_gbdt(train_df, gbdt.GBDTParams(num_rounds=1, max_depth=3))
    d3 = gbdt.train_gbdt(train_df, gbdt.GBDTParams(num_rounds=3, max_depth=3))
    assert logloss(d3) < logloss(d1)


def test_scorer_probs_match_reference_predictor_on_trained_dump(train_df, trained):
    """The trained dump scores identically through the engine scorer
    and the REAL reference dump predictor — so a model trained here is
    served byte-for-byte like one trained by xgboost and dumped."""
    import ref_shims

    fd, _ = ref_shims.load_reference_dump_predictors()
    forests = fd.load_decision_forests(trained, num_classes=4)
    sample = train_df.orderBy("row_id").limit(50).collect()
    dense = np.zeros((len(sample), 8))
    for r, row in enumerate(sample):
        dense[r, row["indices"]] = row["values"]
    ref_probs, ref_dec = fd.forest_predict(forests, dense)

    scored = (
        P.predict(
            train_df.orderBy("row_id").limit(50),
            score_fn=xgb.dump_score_fn(trained),
            loss=P.EQUAL_LOSS,
        )
        .orderBy("row_id")
        .collect()
    )
    np.testing.assert_allclose(
        np.array([r["probs"] for r in scored]), ref_probs, rtol=1e-12, atol=1e-15
    )
    np.testing.assert_array_equal(
        np.array([r["predicted_label"] for r in scored]), ref_dec
    )


def test_cli_train_then_predict_roundtrip(spark, tmp_path):
    """--mode train (the fixed 3 rounds x depth 3, 20 % holdout) writes
    a model dump that --mode predict serves."""
    import contextlib
    import io
    import json as J
    import os

    from cookieblock_consent_classifier_spark.cli import main as cli_main

    out = str(tmp_path / "train_out")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cli_main([
            "--input", "synth:80", "--output", out, "--mode", "train",
        ])
    res = J.loads(buf.getvalue().strip().splitlines()[-1])
    assert res["trees"] == 12 and 0.0 <= res["train_accuracy"] <= 1.0
    assert res["holdout_accuracy"] is None or 0.0 <= res["holdout_accuracy"] <= 1.0
    dump_path = res["model_dump"]
    assert os.path.exists(dump_path)
    # the minimal sparse export is a 4-forest list (JS artifact shape)
    with open(res["model_sparse"], encoding="utf-8") as fd:
        sparse = J.load(fd)
    assert len(sparse) == 4 and all(isinstance(f, list) for f in sparse)

    out2 = str(tmp_path / "pred_out")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cli_main([
            "--input", "synth:40", "--output", out2, "--mode", "predict",
            "--model-dump", dump_path,
        ])
    res2 = J.loads(buf.getvalue().strip().splitlines()[-1])
    assert {s["stage"] for s in res2["stages"]} == {"scan", "extract", "predict"}


def test_weight_column_feeds_the_objective(spark, train_df):
    """An all-ones weight column trains the identical model to no
    weight column (g*1.0 bitwise); skewed weights change it. Single
    partition keeps float sum order deterministic for the equality."""
    one_part = train_df.coalesce(1)
    p = gbdt.GBDTParams(num_rounds=1, max_depth=2, n_bins=8)
    d_plain = gbdt.train_gbdt(one_part, p)
    d_ones = gbdt.train_gbdt(one_part.withColumn("weight", F.lit(1.0)), p)
    assert d_plain == d_ones
    d_skew = gbdt.train_gbdt(
        one_part.withColumn(
            "weight", F.when(F.col("label") == 3, 50.0).otherwise(1.0)
        ),
        p,
    )
    assert d_skew != d_plain


def test_training_is_run_deterministic_byte_equal(spark, train_df, trained):
    """VERDICT r4 item 2: two fresh training runs over the same input
    produce BYTE-IDENTICAL dumps. The order-sensitive step — the
    distributed g/h histogram sums — aggregates in DECIMAL(38,18)
    (exact, commutative), and split selection ties off on (gain
    rounded to 1e-9, lowest fidx, lowest bin), so the chosen trees are
    a pure function of the input, never of partition order. The input
    is REPARTITIONED differently per run to force a different
    aggregation order."""
    import json

    p = gbdt.GBDTParams(num_rounds=3, max_depth=3, n_bins=16)
    again = gbdt.train_gbdt(train_df.repartition(7, "row_id"), p)
    third = gbdt.train_gbdt(train_df.repartition(3), p)
    want = json.dumps(trained, sort_keys=True)
    assert json.dumps(again, sort_keys=True) == want
    assert json.dumps(third, sort_keys=True) == want


def test_empty_edges_short_circuits_to_leaf_trees(spark):
    """Advice r4: a training input whose feature values are ALL
    explicit zeros (no nonzero mass anywhere) must not fail analysis
    in the bin expression — it trains to decision-free leaf trees."""
    rows = [(i, [0, 1], [0.0, 0.0], i % 4) for i in range(40)]
    df = spark.createDataFrame(
        rows, "row_id long, indices array<int>, values array<double>, label int"
    )
    dump = gbdt.train_gbdt(df, gbdt.GBDTParams(num_rounds=1, max_depth=2))
    xgb.validate_full_dump(dump)
    assert all("leaf" in t and "children" not in t for t in dump)


def test_sf001_training_reproduces_frozen_oracle_dump(spark):
    """The gbdt_train_score DuckDB oracle scores a FROZEN dump
    artifact (cookieblock_consent_classifier_spark/data/
    gbdt_dump_sf001.json, written by scripts/freeze_gbdt_dump.py);
    the driver query trains LIVE on the same sf0.01 tables. This pin
    is the early-warning twin of that gate: live training must
    reproduce the frozen artifact byte-for-byte. If it fails, either
    the trainer changed (re-freeze deliberately and commit the diff)
    or determinism regressed (fix the trainer)."""
    import json
    import os

    import __spark_entry__ as entrymod

    if not os.path.exists(entrymod._GBDT_DUMP_PATH):
        pytest.skip("frozen dump not yet generated (run scripts/freeze_gbdt_dump.py)")
    with open(entrymod._GBDT_DUMP_PATH, encoding="utf-8") as fd:
        frozen = json.load(fd)
    _, live = entrymod.gbdt_train_rows_and_dump(spark, "/root/testdata/sf0.01")
    assert json.dumps(live, sort_keys=True) == json.dumps(frozen, sort_keys=True)
