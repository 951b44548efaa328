"""Checkpoint/resume + lineage manifest + streaming sessionization +
salted-aggregation equivalence."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from cookieblock_consent_classifier_spark.operators.skew import salted_mean_stddev
from cookieblock_consent_classifier_spark.operators.temporal import sessionize
from cookieblock_consent_classifier_spark.runtime.checkpoints import CheckpointedPipeline
from cookieblock_consent_classifier_spark.streaming.sessionize import streaming_sessionize


def test_checkpoint_resume_skips_completed_stage(spark, events, tmp_path: Path):
    calls = {"n": 0}

    def build(_):
        calls["n"] += 1
        return events.groupBy("user_id").agg(F.count("*").alias("n"))

    p1 = CheckpointedPipeline(spark, str(tmp_path / "ck"), config_token="v1")
    r1 = p1.stage("agg", build)
    assert not r1.skipped and calls["n"] == 1 and r1.rows == 15

    p2 = CheckpointedPipeline(spark, str(tmp_path / "ck"), config_token="v1")
    r2 = p2.stage("agg", build)
    assert r2.skipped and calls["n"] == 1  # resumed, not recomputed
    assert r2.df.count() == r1.rows

    # changed config invalidates the checkpoint
    p3 = CheckpointedPipeline(spark, str(tmp_path / "ck"), config_token="v2")
    r3 = p3.stage("agg", build)
    assert not r3.skipped and calls["n"] == 2


def test_checkpoint_manifest_lineage(spark, tmp_path: Path):
    # scan a unique copy: input_file_name() is empty on cached data,
    # and Spark's cache manager substitutes the session-cached events
    # fixture for any identical scan of the original path
    import shutil

    shutil.copy("/root/testdata/sf0.001/events.parquet", tmp_path / "ev.parquet")
    ev = spark.read.parquet(str(tmp_path / "ev.parquet"))
    p = CheckpointedPipeline(spark, str(tmp_path / "ck"), config_token="v1")
    r = p.stage("copy", lambda _: ev.select("event_id", "user_id"), upstream=ev,
                upstream_fingerprint="src")
    man = json.loads(Path(r.manifest_path).read_text())
    assert man["complete"] and man["rows"] == 1000
    assert sum(pp["rows"] for pp in man["partitions"].values()) == 1000
    assert any(f.endswith(".parquet") for f in man["input_files"])
    for pp in man["partitions"].values():
        assert pp["files"], "each partition records its checkpoint files"


def test_checkpoint_resumed_data_identical(spark, events, tmp_path: Path):
    build = lambda _: events.select("event_id", "value")  # noqa: E731
    p1 = CheckpointedPipeline(spark, str(tmp_path / "ck"), config_token="x")
    r1 = p1.stage("s", build)
    p2 = CheckpointedPipeline(spark, str(tmp_path / "ck"), config_token="x")
    r2 = p2.stage("s", build)
    assert r1.df.exceptAll(r2.df).count() == 0


def test_streaming_sessionize_matches_batch(spark, events):
    """session_window on the same (batch) input must produce the same
    per-entity session count as the Window-based batch operator."""
    gap = 1800
    batch = (
        sessionize(events, "user_id", "ts", gap, order_tiebreak=["event_id"])
        .groupBy("user_id")
        .agg((F.max("session_id") + 1).alias("n_sessions"))
    )
    stream_shaped = (
        streaming_sessionize(events, "user_id", "ts", gap)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"))
    )
    diff = batch.join(stream_shaped, "user_id") \
        .filter(batch.n_sessions != stream_shaped.n_sessions).count()
    assert diff == 0


def test_streaming_sessionize_runs_as_stream(spark, events, tmp_path: Path):
    """End-to-end through the streaming engine: file source →
    session_window agg → memory sink, availableNow trigger."""
    src = str(tmp_path / "stream_src")
    events.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    sessions = streaming_sessionize(stream, "user_id", "ts", 1800, watermark="365 days")
    q = (
        sessions.writeStream.format("memory").queryName("sess_test")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) AS n FROM sess_test").first()["n"]
    batch_n = streaming_sessionize(events, "user_id", "ts", 1800).count()
    assert got == batch_n > 0


def test_salted_agg_matches_plain(spark, events):
    plain = events.groupBy("user_id").agg(
        F.avg("value").alias("m"), F.stddev_samp("value").alias("s")
    )
    salted = salted_mean_stddev(events, "user_id", "value", num_salts=8,
                                salt_cols=["event_id"])
    j = plain.join(salted, "user_id")
    bad = j.filter(
        (F.abs(F.col("m") - F.col("mean")) > 1e-9)
        | (F.abs(F.col("s") - F.col("stddev")) > 1e-9)
    ).count()
    assert bad == 0


def test_streaming_per_update_feature_extraction(spark, tmp_path: Path):
    """§2.9: the fused per-update Arrow kernel runs unchanged under
    Structured Streaming (file source → kernel projection → memory
    sink) and emits exactly the batch values — the per-update half of
    the feature pipeline is streaming-ready as-is."""
    from cookieblock_consent_classifier_spark.functions import vectorized as V
    from cookieblock_consent_classifier_spark.schema import COOKIE_UPDATE_SCHEMA
    from cookieblock_consent_classifier_spark.sources.synth import synth_cookie_updates

    src = tmp_path / "stream_src"
    batch_df = synth_cookie_updates(spark, num_entities=50, updates_per_entity=2)
    batch_df.write.mode("overwrite").parquet(str(src))

    kernel = V.content_kernel_udf(["consent", "true"], delim_min_seps=1, csv_min_seps=2)

    def features(df):
        k = kernel(F.col("value")).alias("k")
        return df.select(
            "entity_id", "update_idx", k
        ).select(
            "entity_id", "update_idx",
            F.octet_length(F.col("k")["dec"]).alias("dec_len"),
            F.col("k")["entropy"].alias("entropy"),
            F.col("k")["is_numeric"].alias("is_numeric"),
            F.col("k")["js_len"].alias("js_len"),
        )

    stream = (
        spark.readStream.schema(COOKIE_UPDATE_SCHEMA).parquet(str(src))
    )
    q = (
        features(stream)
        .writeStream.format("memory").queryName("feat_stream")
        .option("checkpointLocation", str(tmp_path / "ck_stream"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["entity_id"], r["update_idx"]): (r["dec_len"], round(r["entropy"], 9),
                                            r["is_numeric"], r["js_len"])
        for r in spark.sql("SELECT * FROM feat_stream").collect()
    }
    exp = {
        (r["entity_id"], r["update_idx"]): (r["dec_len"], round(r["entropy"], 9),
                                            r["is_numeric"], r["js_len"])
        for r in features(spark.read.parquet(str(src))).collect()
    }
    assert got == exp and len(got) == 100
