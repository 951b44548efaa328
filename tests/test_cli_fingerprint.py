"""``cli.main`` resume across modes and models: the checkpoint
fingerprint covers the training flag, the feature config and the
predict stage's model dump, so a run at an existing ``--output`` never
reuses a stage another mode or another model wrote."""

from __future__ import annotations

import contextlib
import io
import json
import os
import subprocess
import sys

from cookieblock_consent_classifier_spark import xgb
from cookieblock_consent_classifier_spark.cli import main as cli_main

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
INPUT = "synth:150"  # 150 entities, 120 of them labeled 0-3


def _run(out: str, mode: str, dump: str | None = None) -> dict:
    """Run the CLI; returns {stage name: stage metrics}."""
    argv = ["--input", INPUT, "--output", out, "--mode", mode]
    if dump:
        argv += ["--model-dump", dump]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cli_main(argv)
    res = json.loads(buf.getvalue().strip().splitlines()[-1])
    return {s["stage"]: s for s in res["stages"]}


def _write_dump(path, negate: bool = False) -> str:
    """The fixture dump, or the same trees with every leaf negated (a
    second model that scores differently)."""
    def flip(node):
        if "leaf" in node:
            node["leaf"] = -node["leaf"]
        for child in node.get("children", []):
            flip(child)
        return node

    dump = xgb.fixture_dump()
    if negate:
        dump = [flip(t) for t in dump]
    path.write_text(json.dumps(dump), encoding="utf-8")
    return str(path)


def _probs(spark, out: str) -> dict:
    data = os.path.join(out, "_checkpoints", "predict", "data")
    return {r["entity_id"]: list(r["probs"]) for r in spark.read.parquet(data).collect()}


def test_predict_after_extract_scores_every_entity(spark, tmp_path):
    out, dump = str(tmp_path / "out"), _write_dump(tmp_path / "m.json")
    assert _run(out, "extract")["extract"]["rows"] == 120
    pred = _run(out, "predict", dump)
    # the label-filtered extract checkpoint must not be reused
    assert not pred["extract"]["skipped"]
    assert pred["extract"]["rows"] == pred["predict"]["rows"] == 150


def test_predict_with_another_model_recomputes(spark, tmp_path):
    out = str(tmp_path / "out")
    first_dump = _write_dump(tmp_path / "m1.json")
    second_dump = _write_dump(tmp_path / "m2.json", negate=True)
    _run(out, "predict", first_dump)
    first = _probs(spark, out)

    second = _run(out, "predict", second_dump)
    assert second["extract"]["skipped"]  # same features, new model
    assert not second["predict"]["skipped"]
    got = _probs(spark, out)
    assert got.keys() == first.keys() and got != first

    fresh_out = str(tmp_path / "fresh")
    _run(fresh_out, "predict", second_dump)
    assert got == _probs(spark, fresh_out)

    again = _run(out, "predict", second_dump)  # nothing changed
    assert all(s["skipped"] for s in again.values()), again


def test_extract_after_predict_filters_and_weights(spark, tmp_path):
    out, dump = str(tmp_path / "out"), _write_dump(tmp_path / "m.json")
    _run(out, "predict", dump)
    ext = _run(out, "extract")
    assert not ext["extract"]["skipped"]
    assert ext["extract"]["rows"] == 120
    feats = spark.read.parquet(os.path.join(out, "features_parquet"))
    assert feats.count() == 120
    assert "weight" in feats.columns
    assert feats.filter(feats.weight.isNull()).count() == 0

    again = _run(out, "extract")
    assert all(s["skipped"] for s in again.values()), again


def test_config_token_is_the_same_in_every_process():
    """The token hashes into every fingerprint, so it must not depend
    on the process's string-hash seed (frozenset order does)."""
    code = (
        "import hashlib\n"
        "from cookieblock_consent_classifier_spark.cli import config_token\n"
        "from cookieblock_consent_classifier_spark.plans.compiler import default_schema\n"
        "from cookieblock_consent_classifier_spark.sources.resources import fixture_resources\n"
        "r = fixture_resources()\n"
        "print(hashlib.md5(config_token('x', True, default_schema(r), r).encode()).hexdigest())\n"
    )
    tokens = {
        subprocess.run(
            [sys.executable, "-c", code], check=True, capture_output=True, text=True,
            env={**os.environ, "PYTHONHASHSEED": seed}, cwd=ROOT,
        ).stdout
        for seed in ("1", "2", "3")
    }
    assert len(tokens) == 1, tokens
