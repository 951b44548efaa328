"""Audio payload ops: REAL RIFF/WAVE PCM-16 codec (stdlib) +
vectorized feature extraction."""

from __future__ import annotations

import numpy as np
import pytest

from cookieblock_consent_classifier_spark.functions import audio as A


def test_wav_roundtrip_and_foreign_layout():
    tone = A.synth_tone("e1", 440.0)
    payload = A.encode_wav_pcm16(tone)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    samples, sr = A.decode_wav_pcm16(payload)
    assert sr == 16000 and samples.shape == (len(tone), 1)
    assert np.allclose(samples[:, 0], tone / 32768.0)
    # stereo + an extra chunk before data (foreign writers do this)
    stereo = np.stack([tone, -tone], axis=1)
    p2 = bytearray(A.encode_wav_pcm16(stereo))
    # a foreign writer's 8 kHz header: sample rate and byte rate
    fmt_at = p2.find(b"fmt ")
    p2[fmt_at + 12:fmt_at + 20] = (8000).to_bytes(4, "little") + (8000 * 2 * 2).to_bytes(4, "little")
    # splice a LIST chunk between fmt and data
    insert_at = p2.find(b"data")
    extra = b"LIST" + (4).to_bytes(4, "little") + b"INFO"
    p3 = bytes(p2[:insert_at]) + extra + bytes(p2[insert_at:])
    # fix RIFF size
    p3 = b"RIFF" + (len(p3) - 8).to_bytes(4, "little") + p3[8:]
    s2, sr2 = A.decode_wav_pcm16(p3)
    assert sr2 == 8000 and s2.shape == (len(tone), 2)


def test_non_pcm_raises():
    tone = A.synth_tone("e1", 440.0)
    payload = bytearray(A.encode_wav_pcm16(tone))
    import struct
    fmt_at = payload.find(b"fmt ")
    struct.pack_into("<H", payload, fmt_at + 8, 85)  # fake mp3 fmt tag
    with pytest.raises(NotImplementedError):
        A.decode_wav_pcm16(bytes(payload))


def test_audio_features_values():
    sr = 16000
    tone = A.synth_tone("e2", 1000.0)  # 0.25 s at amplitude 0.5
    samples, _ = A.decode_wav_pcm16(A.encode_wav_pcm16(tone))
    d, srate, ch, rms, peak, zcr, clip = A.audio_features(samples, sr)
    assert d == pytest.approx(0.25)
    assert srate == sr and ch == 1
    # sine RMS = A/sqrt(2); A = 0.5
    assert rms == pytest.approx(0.5 / np.sqrt(2), rel=1e-3)
    # sampled sine may never hit the exact crest (16 samples/cycle,
    # random phase): peak within cos(pi/16) of the amplitude
    assert 0.5 * np.cos(np.pi / 16) - 1e-3 <= peak <= 0.5 + 1e-3
    # 1 kHz sine at 16 kHz: 2 crossings per cycle -> 2*1000/16000
    assert zcr == pytest.approx(2 * 1000 / sr, rel=0.05)
    assert clip == 0.0


def test_audio_udf_batch(spark):
    rows = []
    for i, freq in enumerate((220.0, 440.0, 880.0)):
        tone = A.synth_tone(f"a{i}", freq)
        rows.append((f"a{i}", bytearray(A.encode_wav_pcm16(tone))))
    df = spark.createDataFrame(rows, ["audio_id", "bytes"])
    out = A.extract_audio_features(df).collect()
    by = {r["audio_id"]: r for r in out}
    assert all(by[f"a{i}"]["duration_s"] == pytest.approx(0.25) for i in range(3))
    # zcr ranks with frequency
    assert by["a0"]["zcr"] < by["a1"]["zcr"] < by["a2"]["zcr"]


def _wav_frame(spark):
    rows = [(f"a{i}", bytearray(A.encode_wav_pcm16(A.synth_tone(f"a{i}", 220.0 * (i + 1)))))
            for i in range(3)]
    return spark.createDataFrame(rows, ["audio_id", "bytes"])


def test_exported_audio_udf_stays_deterministic(spark):
    """Only extract_audio_features' own call is marked
    non-deterministic; the exported UDF, used anywhere else, is
    deterministic (and stays so after that call)."""
    from pyspark.sql import functions as F

    df = _wav_frame(spark)
    A.extract_audio_features(df)
    assert A.audio_features_udf.deterministic
    plan = df.select(A.audio_features_udf(F.col("bytes")).alias("af"))._jdf.queryExecution()
    assert plan.analyzed().expressions().apply(0).deterministic()


def test_audio_feature_filter_plans_one_python_node(spark):
    """A filter on an audio feature field must not duplicate the
    decode+featurize chain below itself: one ArrowEvalPython node."""
    from pyspark.sql import functions as F

    out = A.extract_audio_features(_wav_frame(spark)).filter(F.col("rms") > 0.1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert out.count() == 3
