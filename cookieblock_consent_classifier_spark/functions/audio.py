"""Audio payload kernels — the audio leg of the multimodal column
story (opaque binary + typed metadata, decode/feature-extract as
Arrow-batched kernels).

The container has no audio codec libraries, but none are needed for
the honest base case: payloads are standard WAV (RIFF) files with
16-bit signed little-endian PCM — written and parsed with
stdlib struct + numpy. That makes decode REAL (any mono/stereo
16-bit PCM WAV from the outside world parses), while compressed
formats (mp3/opus) stay behind NotImplementedError like the image
codec's jpeg path.

Features are the standard cheap audio-quality set: duration, RMS
loudness, peak, zero-crossing rate, clipping ratio — each a numpy
reduction over the decoded samples, batched via pandas UDFs.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, types as T
from pyspark.sql.functions import pandas_udf


SAMPLE_RATE = 16000  # Hz, of every payload the engine writes


def encode_wav_pcm16(samples: np.ndarray) -> bytes:
    """Standard RIFF/WAVE container at ``SAMPLE_RATE``, PCM 16-bit LE,
    mono (shape (n,)) or multi-channel (shape (n, ch))."""
    if samples.ndim == 1:
        samples = samples[:, None]
    n, ch = samples.shape
    data = samples.astype("<i2").tobytes()
    byte_rate = SAMPLE_RATE * ch * 2
    fmt = struct.pack("<HHIIHH", 1, ch, SAMPLE_RATE, byte_rate, ch * 2, 16)
    body = (
        b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav_pcm16(payload: bytes) -> tuple[np.ndarray, int]:
    """Parse a RIFF/WAVE file; returns (samples float64 in [-1, 1],
    shape (n, ch)), sample_rate. Only PCM-16 is supported — anything
    else raises NotImplementedError (the compressed-codec boundary)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    sample_rate = None
    ch = None
    bits = None
    audio_fmt = None
    data = None
    while pos + 8 <= len(payload):
        tag = payload[pos:pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4:pos + 8])
        body = payload[pos + 8:pos + 8 + length]
        if tag == b"fmt ":
            audio_fmt, ch, sample_rate, _, _, bits = struct.unpack("<HHIIHH", body[:16])
        elif tag == b"data":
            data = body
        pos += 8 + length + (length & 1)  # chunks are word-aligned
    # structural validity first (missing chunks / bad channel count are
    # malformed input → ValueError), THEN the codec-support gate
    if audio_fmt is None or data is None or not sample_rate:
        raise ValueError("missing fmt/data chunk")
    if ch is None or ch < 1:
        raise ValueError(f"invalid channel count: {ch}")
    if audio_fmt != 1 or bits != 16:
        raise NotImplementedError(f"only PCM-16 supported (fmt={audio_fmt}, bits={bits})")
    if len(data) % (2 * ch) != 0:
        raise ValueError(f"truncated data chunk: {len(data)} bytes for {ch} ch PCM-16")
    arr = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    return arr.reshape(-1, ch), sample_rate


AUDIO_FEATURE_FIELDS = [
    T.StructField("duration_s", T.DoubleType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("peak", T.DoubleType()),
    T.StructField("zcr", T.DoubleType()),       # zero-crossing rate (per sample)
    T.StructField("clip_ratio", T.DoubleType()),  # |s| >= 0.999
]


def audio_features(samples: np.ndarray, sr: int) -> tuple:
    mono = samples.mean(axis=1)
    n = len(mono)
    if n == 0:
        return (0.0, sr, samples.shape[1], None, None, None, None)
    rms = float(np.sqrt(np.mean(mono**2)))
    peak = float(np.max(np.abs(mono)))
    zcr = float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1]))) if n > 1 else 0.0
    clip = float(np.mean(np.abs(mono) >= 0.999))
    return (n / sr, sr, samples.shape[1], rms, peak, zcr, clip)


@pandas_udf(T.StructType(AUDIO_FEATURE_FIELDS))
def audio_features_udf(payload: pd.Series) -> pd.DataFrame:
    rows = []
    for b in payload:
        if b is None:
            rows.append((None,) * len(AUDIO_FEATURE_FIELDS))
            continue
        samples, sr = decode_wav_pcm16(bytes(b))
        rows.append(audio_features(samples, sr))
    return pd.DataFrame(rows, columns=[f.name for f in AUDIO_FEATURE_FIELDS],
                        index=payload.index)


def extract_audio_features(df: DataFrame) -> DataFrame:
    """Append the audio feature struct fields of the ``bytes`` column
    to the frame (the multimodal decode→featurize pass: one decode
    feeds every feature)."""
    from pyspark.sql import functions as F

    # Non-deterministic marking at this call site only (opt guide
    # §4.4): a filter on a feature field (e.g. rms > 0.1) otherwise
    # gets predicate-pushed BELOW the projection, and Catalyst
    # duplicates the whole decode+featurize chain — two
    # ArrowEvalPython nodes, every row decoded twice. The function IS
    # deterministic; the marking only forbids the optimizer from
    # duplicating/reordering it here. asNondeterministic() mutates the
    # UDF it is called on, so it gets a fresh one and the exported
    # audio_features_udf stays deterministic.
    udf = pandas_udf(audio_features_udf.func, audio_features_udf.returnType).asNondeterministic()
    out = df.withColumn("__af", udf(F.col("bytes")))
    for f in AUDIO_FEATURE_FIELDS:
        out = out.withColumn(f.name, F.col("__af")[f.name])
    return out.drop("__af")


@pandas_udf(T.BinaryType())
def synth_wav_udf(audio_id: pd.Series) -> pd.Series:
    """Deterministic WAV payload per id (tone frequency derived from
    the id hash) — the distributed generator for tests/bench."""
    from cookieblock_consent_classifier_spark.functions.image import hash_str

    out = []
    for aid in audio_id:
        freq = 200.0 + (hash_str(aid) % 800)
        out.append(bytearray(encode_wav_pcm16(synth_tone(aid, freq))))
    return pd.Series(out)


def synth_tone(entity_id: str, freq_hz: float) -> np.ndarray:
    """Deterministic 0.25 s sine tone of amplitude 0.5 (per-entity
    phase offset) as int16 PCM at ``SAMPLE_RATE``."""
    from cookieblock_consent_classifier_spark.functions.image import hash_str

    phase = (hash_str(entity_id) % 360) / 360.0 * 2 * np.pi
    t = np.arange(SAMPLE_RATE // 4) / SAMPLE_RATE
    wave = 0.5 * np.sin(2 * np.pi * freq_hz * t + phase)
    return np.round(wave * 32767).astype(np.int16)
