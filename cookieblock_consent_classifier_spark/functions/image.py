"""Multimodal (image) payload kernels — north-rule input_hint shape
(image_id, bytes, w, h, fmt, caption, phash).

Codecs:
- fmt='png'  → REAL PNG (8-bit grayscale, colortype 0): standard
  signature, IHDR/IDAT/IEND chunks, CRC-32, zlib-compressed scanlines.
  Encode emits filter type 0; decode implements ALL five PNG scanline
  filters (None/Sub/Up/Average/Paeth), so externally-produced
  grayscale-8 PNGs decode too. Pure stdlib (zlib/struct) + numpy —
  no image library needed. Lossless: decoded pixels are bit-exact
  (PSNR = inf ≥ the 40 dB input_hint invariant).
- fmt='jpeg' → REAL baseline JFIF (functions/jpeg.py, pure numpy +
  stdlib): 8x8 DCT, quality-scaled Annex K quantization, standard
  huffman entropy coding, full marker stream. The decoder reads quant
  and huffman tables from the stream (DQT/DHT), so any standard
  baseline grayscale JPEG decodes. Default quality 95
  (jpeg.DEFAULT_QUALITY) keeps the decoded pixels >= 40 dB PSNR on the
  synthetic corpus, its mod-256 sawtooth worst case included (the
  input_hint lossy invariant, pinned in tests/test_jpeg.py). No
  external decoder exists to cross-check against; the tests assert
  the structural markers byte-level.

Each image encodes on its own (encode_image); at the 32x32 thumbnails
of the synthetic table the JPEG codec's cost is its per-symbol
entropy walk (jpeg.py).

Everything Spark-side — binary column handling, pandas-UDF
signatures, per-entity phash-delta windows, PSNR verification — is
real and tested either way.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F, types as T
from pyspark.sql.functions import pandas_udf

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


# ---------------------------------------------------------------------------
# real PNG subset codec (grayscale 8-bit), stdlib-only
# ---------------------------------------------------------------------------

def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body)) + tag + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png_gray(pixels: np.ndarray) -> bytes:
    """Standard-conformant 8-bit grayscale PNG (filter 0 scanlines)."""
    h, w = pixels.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # bitdepth 8, gray
    raw = b"".join(b"\x00" + pixels[i].tobytes() for i in range(h))
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 9))
        + _png_chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png_gray(data: bytes) -> np.ndarray:
    """Decode an 8-bit grayscale PNG; supports all 5 scanline filters
    (so foreign encoders' output decodes, not just ours)."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    w = h = None
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        crc = struct.unpack(">I", data[pos + 8 + length:pos + 12 + length])[0]
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, inter = struct.unpack(">IIBBBBB", body)
            if depth != 8 or ctype != 0 or comp != 0 or filt != 0 or inter != 0:
                raise NotImplementedError(
                    f"PNG subset codec: only 8-bit grayscale, got depth={depth} colortype={ctype}"
                )
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    raw = zlib.decompress(idat)
    if len(raw) != h * (w + 1):
        raise ValueError(
            f"bad scanline payload size: {len(raw)} != {h}*({w}+1)"
        )
    out = np.empty((h, w), dtype=np.uint8)
    prev = np.zeros(w, dtype=np.uint8)
    for i in range(h):
        row = np.frombuffer(raw[i * (w + 1) + 1:(i + 1) * (w + 1)], dtype=np.uint8)
        ftype = raw[i * (w + 1)]
        if ftype == 0:  # None
            cur = row.copy()
        elif ftype == 2:  # Up
            cur = row + prev  # uint8 wraps mod 256, per spec
        elif ftype == 1:  # Sub
            cur = np.empty(w, dtype=np.uint8)
            left = 0
            for j in range(w):
                left = (int(row[j]) + left) & 0xFF
                cur[j] = left
        elif ftype == 3:  # Average
            cur = np.empty(w, dtype=np.uint8)
            left = 0
            for j in range(w):
                left = (int(row[j]) + ((left + int(prev[j])) >> 1)) & 0xFF
                cur[j] = left
        elif ftype == 4:  # Paeth
            cur = np.empty(w, dtype=np.uint8)
            left = upleft = 0
            for j in range(w):
                left = (int(row[j]) + _paeth(left, int(prev[j]), upleft)) & 0xFF
                upleft = int(prev[j])
                cur[j] = left
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[i] = cur
        prev = cur
    return out


# ---------------------------------------------------------------------------
# deterministic synthetic codec (pure numpy)
# ---------------------------------------------------------------------------

def synth_pixels(image_id: str, update_idx: int, w: int, h: int) -> np.ndarray:
    """Deterministic smooth gradient + per-entity offset; consecutive
    updates differ slightly (so phash deltas are nonzero but small)."""
    seed = (hash_str(image_id) + 7919 * update_idx) % 251
    y, x = np.mgrid[0:h, 0:w]
    img = (x * 3 + y * 5 + seed) % 256
    return img.astype(np.uint8)


def hash_str(s: str) -> int:
    """Stable non-negative 63-bit FNV-1a (NOT Python hash(), which is
    salted per process)."""
    acc = 0xCBF29CE484222325
    for b in s.encode("utf-8"):
        acc = ((acc ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return acc & 0x7FFFFFFFFFFFFFFF


def encode_image(pixels: np.ndarray, fmt: str) -> bytes:
    if fmt == "png":
        return encode_png_gray(pixels)  # REAL PNG (module docstring)
    if fmt == "jpeg":
        from cookieblock_consent_classifier_spark.functions import jpeg  # noqa: PLC0415

        return jpeg.encode_jpeg_gray(pixels)  # REAL baseline JFIF
    raise NotImplementedError(f"codec for fmt={fmt!r} not available in this container")


def decode_image(payload: bytes) -> np.ndarray:
    if payload[:8] == _PNG_SIG:
        return decode_png_gray(payload)
    if payload[:2] == b"\xff\xd8":
        from cookieblock_consent_classifier_spark.functions import jpeg  # noqa: PLC0415

        return jpeg.decode_jpeg_gray(payload)
    raise ValueError("not a PNG / JFIF payload")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


def average_phash(pixels: np.ndarray) -> int:
    """64-bit average hash: block-mean to 8×8, bit=1 where block
    mean > global mean. Deterministic, pure numpy."""
    grid = 8
    h, w = pixels.shape
    ys = np.linspace(0, h, grid + 1).astype(int)
    xs = np.linspace(0, w, grid + 1).astype(int)
    blocks = np.empty((grid, grid), dtype=np.float64)
    for i in range(grid):
        for j in range(grid):
            blk = pixels[ys[i] : max(ys[i + 1], ys[i] + 1), xs[j] : max(xs[j + 1], xs[j] + 1)]
            blocks[i, j] = blk.mean()
    bits = (blocks > blocks.mean()).flatten()
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    # keep in signed-int64 non-negative range for cross-engine parity
    return val & 0x7FFFFFFFFFFFFFFF


# ---------------------------------------------------------------------------
# vectorized UDFs (Arrow batches; no per-row Python at the API surface)
# ---------------------------------------------------------------------------

@pandas_udf(T.LongType())
def phash_from_bytes(payload: pd.Series) -> pd.Series:
    """Decode + average-phash per image, vectorized over the Arrow
    batch (the per-image numpy work is the irreducible kernel)."""

    def one(b):
        return average_phash(decode_image(bytes(b)))

    return payload.map(one, na_action="ignore").astype("Int64")


@pandas_udf(T.DoubleType())
def decode_psnr(payload: pd.Series, ref_payload: pd.Series) -> pd.Series:
    """PSNR between decoded payload and a reference payload (the
    decoded-pixel invariant: PSNR ≥ 40 dB for lossy; inf for
    lossless)."""
    out = []
    for b, r in zip(payload, ref_payload):
        if b is None or r is None:
            out.append(None)
        else:
            out.append(psnr(decode_image(bytes(b)), decode_image(bytes(r))))
    return pd.Series(out, dtype="float64")


def hamming64(a: Column, b: Column) -> Column:
    """Bit-level hamming distance between two int64 hashes — native
    (bit_count(a XOR b)); this is the phash-delta feature."""
    return F.bit_count(a.bitwiseXOR(b))


def with_phash_delta(df: DataFrame) -> DataFrame:
    """Per-``image_id`` consecutive ``phash`` hamming delta in ``ts``
    order (the image analogue of the reference's per-diff value-distance
    features, processor.py:1496-1503)."""
    w = Window.partitionBy("image_id").orderBy("ts")
    prev = F.lag("phash").over(w)
    return df.withColumn(
        "phash_delta",
        F.when(prev.isNotNull(), hamming64(F.col("phash"), prev)).cast("integer"),
    )
