"""``cli.main --mode extract`` end to end: resume against a rewritten
input, NULL update values, and empty inputs."""

from __future__ import annotations

import contextlib
import difflib
import io
import json
import os
import statistics

import pytest
from pyspark.sql import functions as F

from cookieblock_consent_classifier_spark.cli import main as cli_main
from cookieblock_consent_classifier_spark.plans.compiler import default_schema
from cookieblock_consent_classifier_spark.schema import NUM_CLASSES
from cookieblock_consent_classifier_spark.sources.resources import fixture_resources
from cookieblock_consent_classifier_spark.sources.synth import synth_cookie_updates


def _extract(inp: str, out: str, fmt: str = "parquet") -> dict:
    """Run the CLI; returns {stage name: stage metrics}."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cli_main(["--input", inp, "--output", out, "--format", fmt])
    res = json.loads(buf.getvalue().strip().splitlines()[-1])
    return {s["stage"]: s for s in res["stages"]}


def _manifest(out: str, stage: str) -> dict:
    with open(os.path.join(out, "_checkpoints", stage, "manifest.json"), encoding="utf-8") as fd:
        return json.load(fd)


def test_cli_resume_recomputes_rewritten_input(spark, tmp_path):
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    synth_cookie_updates(spark, 150).write.parquet(inp)
    first = _extract(inp, out)
    assert not first["scan"]["skipped"] and not first["extract"]["skipped"]
    assert first["extract"]["rows"] == 120

    again = _extract(inp, out)  # unchanged input: both stages resume
    assert again["scan"]["skipped"] and again["extract"]["skipped"]

    # same path, more entities: the listing changed, so both recompute
    synth_cookie_updates(spark, 1200).write.mode("overwrite").parquet(inp)
    changed = _extract(inp, out)
    assert not changed["scan"]["skipped"] and not changed["extract"]["skipped"]
    assert changed["scan"]["rows"] == 3600
    labeled = spark.read.parquet(inp).filter(F.col("label").between(0, NUM_CLASSES - 1))
    expected = labeled.select("entity_id").distinct().count()
    assert expected > 120
    assert changed["extract"]["rows"] == expected
    assert spark.read.parquet(os.path.join(out, "features_parquet")).count() == expected


def test_cli_extract_null_value_and_expiry(spark, tmp_path):
    """A pair with a NULL value side has no gestalt ratio, exactly as it
    has no levenshtein distance: its diff slot is absent and it stays
    out of gestalt_total's mean and std."""
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    salt = F.xxhash64("entity_id", "update_idx")
    (
        synth_cookie_updates(spark, 60, updates_per_entity=4)
        .withColumn("value", F.when(F.pmod(salt, F.lit(3)) != 0, F.col("value")))
        .withColumn("expiry", F.when(F.pmod(salt, F.lit(4)) != 1, F.col("expiry")))
        .write.parquet(inp)
    )
    _extract(inp, out)

    names = default_schema(fixture_resources()).feature_names()
    got = {
        r["entity_id"]: {names[i]: v for i, v in zip(r["indices"], r["values"])}
        for r in spark.read.parquet(os.path.join(out, "features_parquet")).collect()
    }
    seqs: dict[str, list] = {}
    for r in spark.read.parquet(inp).orderBy("ts", "update_idx").collect():
        if 0 <= r["label"] < NUM_CLASSES:
            seqs.setdefault(r["entity_id"], []).append(r["value"])
    assert set(got) == set(seqs)

    present = 0
    for ent, feats in got.items():
        lev = "diff_0_lev_distance-0" in feats
        assert ("diff_0_gestalt_similarity-0" in feats) == lev, ent
        present += lev
        vals = seqs[ent]
        ratios = [
            difflib.SequenceMatcher(None, a, b).ratio()
            for a, b in zip(vals, vals[1:])
            if a is not None and b is not None
        ]
        mean = statistics.mean(ratios) if ratios else -1.0
        std = statistics.stdev(ratios) if len(ratios) > 1 else -1.0
        assert feats["gestalt_total-0"] == pytest.approx(mean), ent
        assert feats["gestalt_total-1"] == pytest.approx(std), ent
    assert 0 < present < len(got)  # both sides of the rule are exercised


@pytest.mark.parametrize("fmt", ["parquet", "libsvm"])
@pytest.mark.parametrize("case", ["no_labeled_entities", "no_rows"])
def test_cli_extract_empty_input(spark, tmp_path, fmt, case):
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    df = synth_cookie_updates(spark, 20)
    if case == "no_labeled_entities":
        df = df.withColumn("label", F.lit(NUM_CLASSES).cast("int"))
    else:
        df = df.limit(0)
    df.write.parquet(inp)
    stages = _extract(inp, out, fmt)

    assert stages["extract"]["rows"] == 0
    man = _manifest(out, "extract")
    assert man["rows"] == 0
    # Spark writes one empty part file to keep the schema
    assert len(man["partitions"]) == 1
    (part,) = man["partitions"].values()
    assert part["rows"] == 0 and len(part["files"]) == 1
    assert _manifest(out, "scan")["rows"] == (60 if case == "no_labeled_entities" else 0)

    sink = os.path.join(out, "features_parquet" if fmt == "parquet" else "features_libsvm")
    reader = spark.read.parquet if fmt == "parquet" else spark.read.text
    assert reader(sink).count() == 0
    with open(os.path.join(out, "feature_map.txt"), encoding="utf-8") as fd:
        fmap = fd.read().splitlines()
    assert len(fmap) == default_schema(fixture_resources()).total_width
