"""Stage commit protocol (runtime/checkpoints.py): a run cut during a
stage rewrite never leaves a manifest next to data it does not
describe, so the next run reads only complete data."""

from __future__ import annotations

import builtins

import pytest
from pyspark.sql import functions as F

from cookieblock_consent_classifier_spark.runtime import checkpoints
from cookieblock_consent_classifier_spark.runtime.checkpoints import CheckpointedPipeline

V1_ROWS = list(range(0, 80, 2))


@pytest.fixture
def stages(spark):
    src = spark.range(0, 40, 1, 4)

    @F.udf("long")
    def fail_on_7(x):
        if x == 7:
            raise ValueError("injected task failure")
        return x

    v1 = lambda _: src.select((F.col("id") * 2).alias("x"))  # noqa: E731
    v2 = lambda _: src.select(fail_on_7("id").alias("x"))  # noqa: E731
    return v1, v2


def _run(spark, root, token, fn):
    return CheckpointedPipeline(spark, root, config_token=token).stage("s", fn)


def test_stage_commit_failed_rewrite_recomputes_last_version(spark, stages, tmp_path):
    v1, v2 = stages
    root = str(tmp_path / "ck")
    assert not _run(spark, root, "v1", v1).skipped
    # the v2 write fails in one task, after its siblings wrote their files
    with pytest.raises(Exception, match="injected task failure"):
        _run(spark, root, "v2", v2)
    r = _run(spark, root, "v1", v1)
    assert not r.skipped and r.rows == len(V1_ROWS)
    assert sorted(row.x for row in r.df.collect()) == V1_ROWS


def test_stage_commit_failed_manifest_write_recomputes(spark, stages, tmp_path, monkeypatch):
    v1, _ = stages
    v1_plus = lambda df: v1(df).select((F.col("x") + 1).alias("x"))  # noqa: E731
    root = str(tmp_path / "ck")
    assert not _run(spark, root, "v1", v1).skipped

    def no_write(path, mode="r", *args, **kwargs):
        if "w" in mode:
            raise OSError("injected manifest write failure")
        return builtins.open(path, mode, *args, **kwargs)

    monkeypatch.setattr(checkpoints, "open", no_write, raising=False)
    with pytest.raises(OSError, match="injected manifest write failure"):
        _run(spark, root, "v2", v1_plus)  # the data commit succeeds
    monkeypatch.undo()

    r = _run(spark, root, "v1", v1)
    assert not r.skipped and r.rows == len(V1_ROWS)
    assert sorted(row.x for row in r.df.collect()) == V1_ROWS
