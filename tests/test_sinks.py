"""Sink round-trips: parquet, LibSVM text, feature map."""

from __future__ import annotations

import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from cookieblock_consent_classifier_spark import sinks
from cookieblock_consent_classifier_spark.plans.compiler import compile_features, default_schema
from cookieblock_consent_classifier_spark.sources.resources import fixture_resources
from cookieblock_consent_classifier_spark.sources.synth import synth_cookie_updates


@pytest.fixture(scope="module")
def assembled(spark):
    res = fixture_resources()
    df = synth_cookie_updates(spark, num_entities=40, updates_per_entity=3)
    wide, names = compile_features(df, default_schema(res), res)
    return wide.cache(), names


def test_parquet_roundtrip(spark, assembled):
    wide, names = assembled
    with tempfile.TemporaryDirectory() as d:
        sinks.write_parquet(wide, f"{d}/feat")
        back = spark.read.parquet(f"{d}/feat")
        assert back.count() == wide.count()
        assert set(back.columns) == {"entity_id", "indices", "values", "label", "weight"}
        assert wide.select("entity_id", "indices", "values").exceptAll(
            back.select("entity_id", "indices", "values")
        ).count() == 0


def test_libsvm_format(spark, assembled):
    wide, names = assembled
    with tempfile.TemporaryDirectory() as d:
        sinks.write_libsvm(wide, f"{d}/svm")
        lines = [
            r["value"] for r in spark.read.text(f"{d}/svm").collect()
        ]
        assert len(lines) == wide.count()
        for line in lines[:10]:
            parts = line.split(" ")
            assert parts[0] in {"0", "1", "2", "3"}
            idx = [int(p.split(":")[0]) for p in parts[1:]]
            assert idx == sorted(idx)
            assert all(i >= 0 for i in idx)


def test_debug_json_and_feature_map(assembled, tmp_path: Path):
    wide, names = assembled
    sinks.write_feature_map(names, str(tmp_path / "fmap.txt"))
    fmap = (tmp_path / "fmap.txt").read_text().splitlines()
    assert len(fmap) == len(names)
    # reference format (dump_feature_map, processor.py:382-391):
    # "{idx} {name}-{i} i" — space-separated, type char 'i'
    assert fmap[0] == f"0 {names[0]} i"
    assert all(line.endswith(" i") for line in fmap)


def test_iceberg_read_path_gated(spark):
    """The iceberg format branch: when the iceberg-spark runtime is on
    the classpath this reads a real table; in this parquet-only
    container it must fail with the CLEAN actionable error (not an
    opaque AnalysisException) — the documented limitation."""
    import pytest

    from cookieblock_consent_classifier_spark.sources.readers import read_entity_updates

    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        iceberg_available = True
    except Exception:
        iceberg_available = False

    if iceberg_available:
        pytest.skip("iceberg runtime present: covered by a real catalog read")
    with pytest.raises(RuntimeError, match="Iceberg runtime is not on the classpath"):
        read_entity_updates(spark, ["local.db.some_table"], fmt="iceberg")
    with pytest.raises(ValueError, match="exactly one table identifier"):
        read_entity_updates(spark, ["a", "b"], fmt="iceberg")
