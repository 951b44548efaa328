"""Inference dataflow: dump-compiled scorer, bayesian decision,
predictions sink, histogram, libsvm reader, predict-mode CLI."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cookieblock_consent_classifier_spark import predict as P, sinks, xgb
from cookieblock_consent_classifier_spark.plans.compiler import compile_features, default_schema
from cookieblock_consent_classifier_spark.sources.readers import read_libsvm
from cookieblock_consent_classifier_spark.sources.resources import fixture_resources
from cookieblock_consent_classifier_spark.sources.synth import synth_cookie_updates


@pytest.fixture(scope="module")
def assembled(spark):
    res = fixture_resources()
    df = synth_cookie_updates(spark, num_entities=30, updates_per_entity=3)
    wide, names = compile_features(df, default_schema(res), res, training=False)
    return wide.cache(), names, df


def _predict(wide):
    """The fixture tree dump through the production scorer."""
    return P.predict(wide, score_fn=xgb.dump_score_fn(xgb.fixture_dump()))


def test_predict_no_filter_keeps_all_entities(assembled):
    wide, _, df = assembled
    assert wide.count() == df.select("entity_id").distinct().count()


def test_probs_sum_to_one_and_decision_in_range(assembled):
    wide, _, _ = assembled
    pred = _predict(wide)
    rows = pred.select("probs", "predicted_label").collect()
    for r in rows:
        assert sum(r["probs"]) == pytest.approx(1.0)
        assert 0 <= r["predicted_label"] <= 3


def test_bayesian_decision_known_cases(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0, 0.0, 0.0],), ([0.0, 0.0, 0.0, 1.0],), ([0.25, 0.25, 0.25, 0.25],)],
        ["probs"],
    )
    got = [r["d"] for r in df.select(P.bayesian_decision(F.col("probs")).alias("d")).collect()]
    # certain class 0 -> 0; certain class 3 -> 3; uniform -> middle
    # classes minimize distance loss, lowest index on tie -> 1
    assert got == [0, 3, 1]


def test_predictions_json_roundtrip(spark, assembled, tmp_path):
    wide, _, df = assembled
    pred = _predict(wide)
    P.write_predictions_json(pred, str(tmp_path / "preds"))
    back = spark.read.json(str(tmp_path / "preds"))
    assert back.count() == wide.count()
    assert set(back.columns) == {"entity_id", "predicted_label"}


def test_consent_histogram(spark, assembled):
    wide, _, df = assembled
    pred = _predict(wide)
    hist = P.consent_histogram(pred, df, "cookie_1")
    n_matching = df.filter(F.col("name").startswith("cookie_1")) \
        .select("entity_id").distinct().count()
    assert hist.agg(F.sum("n")).first()[0] == n_matching


def test_libsvm_reader_roundtrip(spark, assembled, tmp_path):
    wide, names, _ = assembled
    sinks.write_libsvm(wide, str(tmp_path / "svm"))
    back = read_libsvm(spark, str(tmp_path / "svm"), num_features=len(names))
    assert back.count() == wide.count()
    assert set(back.columns) == {"label", "features"}
    r = back.first()
    assert r["features"].size == len(names)


def test_cli_predict_requires_model_dump(tmp_path):
    """The scorer is always a model: predict mode without --model-dump
    is a usage error, not a silent stand-in scorer."""
    from cookieblock_consent_classifier_spark.cli import main as cli_main

    with pytest.raises(SystemExit) as exc:
        cli_main([
            "--input", "synth:10", "--output", str(tmp_path / "out"),
            "--mode", "predict",
        ])
    assert exc.value.code == 2  # argparse usage error


def test_cli_predict_mode(spark, tmp_path):
    """predict_class.py-analogue CLI: synth input -> no-filter extract
    -> score -> decision -> predictions JSON + consent histogram."""
    import contextlib
    import io
    import json as J
    import os

    from cookieblock_consent_classifier_spark.cli import main as cli_main

    dump_path = str(tmp_path / "model_dump.json")
    with open(dump_path, "w", encoding="utf-8") as fd:
        J.dump(xgb.fixture_dump(), fd)
    out = str(tmp_path / "pred_out")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cli_main([
            "--input", "synth:100", "--output", out, "--mode", "predict",
            "--cmp-prefix", "cookie_", "--model-dump", dump_path,
        ])
    res = J.loads(buf.getvalue().strip().splitlines()[-1])
    assert {s["stage"] for s in res["stages"]} == {"scan", "extract", "predict"}
    assert res["width"] > 0
    # histogram values are counts over entities whose name starts with
    # the prefix; all synth names share shapes, so just sanity-bound it
    assert all(isinstance(v, int) and v > 0 for v in res["consent_histogram"].values()) or res["consent_histogram"] == {}
    # predictions JSON written
    pred_dir = os.path.join(out, "predictions_json")
    assert os.path.isdir(pred_dir)
    rows = []
    for f in os.listdir(pred_dir):
        if f.startswith("part-"):
            with open(os.path.join(pred_dir, f), encoding="utf-8") as fd:
                rows += [J.loads(line) for line in fd if line.strip()]
    assert len(rows) == 100
    assert all(0 <= r["predicted_label"] <= 3 for r in rows)


@pytest.mark.parametrize("layout", ["full", "sparse"])
def test_cli_predict_mode_with_model_dump(spark, tmp_path, layout):
    """--model-dump scores with the dump-compiled native predictor
    (xgbpredictor_dump.py analogue) and the equal-loss decision
    (predict_class.py:135). The dump's layout is read from the JSON's
    shape: the minimal sparse export (per-class forests) must give the
    same labels as the full dump."""
    import contextlib
    import io
    import json as J
    import os

    from cookieblock_consent_classifier_spark.cli import main as cli_main

    dump = xgb.fixture_dump()
    dump_path = str(tmp_path / f"model_{layout}.json")
    with open(dump_path, "w", encoding="utf-8") as fd:
        J.dump(dump if layout == "full" else xgb.to_sparse_format(dump), fd)

    out = str(tmp_path / "pred_dump_out")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cli_main([
            "--input", "synth:60", "--output", out, "--mode", "predict",
            "--cmp-prefix", "cookie_", "--model-dump", dump_path,
        ])
    res = J.loads(buf.getvalue().strip().splitlines()[-1])
    assert {s["stage"] for s in res["stages"]} == {"scan", "extract", "predict"}

    pred_dir = os.path.join(out, "predictions_json")
    rows = []
    for f in os.listdir(pred_dir):
        if f.startswith("part-"):
            with open(os.path.join(pred_dir, f), encoding="utf-8") as fd:
                rows += [J.loads(line) for line in fd if line.strip()]
    assert len(rows) == 60
    assert all(0 <= r["predicted_label"] <= 3 for r in rows)
    # both layouts: the labels of the full dump scored in-process over
    # the run's own extract checkpoint
    feat = spark.read.parquet(os.path.join(out, "_checkpoints", "extract", "data"))
    want = {
        r["entity_id"]: r["predicted_label"]
        for r in P.predict(feat, score_fn=xgb.dump_score_fn(dump), loss=P.EQUAL_LOSS)
        .select("entity_id", "predicted_label").collect()
    }
    assert {r["entity_id"]: r["predicted_label"] for r in rows} == want
