"""Baseline JFIF grayscale codec (functions/jpeg.py): the input_hint
lossy invariant (decoded pixels PSNR ≥ 40 dB), structural markers,
determinism, and edge cases. No external JPEG decoder exists in this
container, so cross-decoder verification is environment-blocked; the
decoder reads quant/huffman tables from the stream (not module
constants), and the marker structure is asserted here byte-level."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from cookieblock_consent_classifier_spark.functions import jpeg
from cookieblock_consent_classifier_spark.functions.image import (
    decode_image,
    encode_image,
    psnr,
    synth_pixels,
)


@pytest.mark.parametrize("h,w", [(32, 32), (29, 37), (8, 8), (64, 48), (5, 3)])
def test_round_trip_psnr_at_least_40db(h, w):
    """The north-rule lossy invariant on the synthetic corpus class,
    including non-multiple-of-8 shapes (edge-replicate padding)."""
    px = synth_pixels("jpeg_rt", 1, w, h)
    dec = jpeg.decode_jpeg_gray(jpeg.encode_jpeg_gray(px))
    assert dec.shape == (h, w)
    assert psnr(px, dec) >= 40.0


def test_worst_case_noise_still_decodes_with_bounded_loss():
    rng = np.random.default_rng(11)
    noise = rng.integers(0, 256, (40, 40)).astype(np.uint8)
    dec = jpeg.decode_jpeg_gray(jpeg.encode_jpeg_gray(noise, quality=75))
    assert psnr(noise, dec) >= 25.0  # uniform noise at sub-default quality
    # q95 recovers the 40 dB bar even on noise
    dec95 = jpeg.decode_jpeg_gray(jpeg.encode_jpeg_gray(noise, quality=95))
    assert psnr(noise, dec95) >= 40.0


def test_encode_is_deterministic_and_structurally_jfif():
    px = synth_pixels("jpeg_det", 2, 24, 16)
    a = jpeg.encode_jpeg_gray(px)
    assert a == jpeg.encode_jpeg_gray(px)
    assert a[:2] == b"\xff\xd8" and a[-2:] == b"\xff\xd9"  # SOI...EOI
    assert a[2:4] == b"\xff\xe0" and a[6:11] == b"JFIF\x00"  # APP0
    # SOF0 present with our dims, 8-bit, one component
    i = a.index(b"\xff\xc0")
    precision, hh, ww, ncomp = struct.unpack(">BHHB", a[i + 4:i + 10])
    assert (precision, hh, ww, ncomp) == (8, 16, 24, 1)
    # exactly two DHT segments (DC + AC), one DQT
    assert a.count(b"\xff\xc4") >= 2 and b"\xff\xdb" in a


def test_entropy_stream_is_byte_stuffed():
    """No raw 0xFF marker bytes inside the entropy-coded segment: every
    0xFF between SOS and EOI must be followed by 0x00 (stuffing)."""
    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, (48, 48)).astype(np.uint8)
    a = jpeg.encode_jpeg_gray(px)
    sos = a.index(b"\xff\xda")
    scan = a[sos + 2 + struct.unpack(">H", a[sos + 2:sos + 4])[0]:-2]
    i = 0
    while i < len(scan):
        if scan[i] == 0xFF:
            assert scan[i + 1] == 0x00, f"unstuffed 0xFF at scan offset {i}"
            i += 2
        else:
            i += 1


def test_decoder_rejects_progressive_and_truncated():
    px = synth_pixels("jpeg_rej", 0, 16, 16)
    a = bytearray(jpeg.encode_jpeg_gray(px))
    i = a.index(b"\xff\xc0")
    a[i + 1] = 0xC2  # SOF0 → SOF2 (progressive)
    with pytest.raises(NotImplementedError, match="baseline"):
        jpeg.decode_jpeg_gray(bytes(a))
    with pytest.raises(ValueError):
        jpeg.decode_jpeg_gray(jpeg.encode_jpeg_gray(px)[:40])
    with pytest.raises(ValueError, match="SOI"):
        jpeg.decode_jpeg_gray(b"not a jpeg")


def test_quality_knob_trades_size_for_fidelity():
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (64, 64)).astype(np.uint8)
    lo, hi = jpeg.encode_jpeg_gray(px, 30), jpeg.encode_jpeg_gray(px, 95)
    assert len(lo) < len(hi)
    assert psnr(px, jpeg.decode_jpeg_gray(lo)) < psnr(px, jpeg.decode_jpeg_gray(hi))


def test_image_dispatch_routes_jpeg_and_legacy():
    """encode_image/decode_image dispatch: fmt='jpeg' emits real JFIF,
    fmt='png' a lossless PNG; any other container, such as the SGIM
    stand-in, raises."""
    px = synth_pixels("jpeg_disp", 3, 20, 12)
    enc = encode_image(px, "jpeg")
    assert enc[:2] == b"\xff\xd8"
    assert psnr(px, decode_image(enc)) >= 40.0
    assert np.array_equal(decode_image(encode_image(px, "png")), px)
    legacy = b"SGIM" + struct.pack("<II", 4, 4) + bytes(range(16))
    with pytest.raises(ValueError):
        decode_image(legacy)


# -- property fuzz (hypothesis) ---------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=20, deadline=None, derandomize=True)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    seed=st.integers(0, 2**31 - 1),
    quality=st.integers(50, 100),
)
def test_fuzz_round_trip_never_crashes_and_bounds_error(h, w, seed, quality):
    """Any shape x any content x any sane quality: encode→decode never
    crashes, preserves shape, emits a well-formed stream (SOI..EOI),
    and error stays within a loose floor (tiny noise blocks at q50
    measure as low as ~14 dB — the TIGHT 40 dB bound lives in the
    default-quality corpus tests above). derandomize: fixed example
    set, no cross-run flake."""
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, (h, w)).astype(np.uint8)
    enc = jpeg.encode_jpeg_gray(px, quality=quality)
    assert enc[:2] == b"\xff\xd8" and enc[-2:] == b"\xff\xd9"
    dec = jpeg.decode_jpeg_gray(enc)
    assert dec.shape == (h, w)
    assert psnr(px, dec) >= 10.0


@settings(max_examples=25, deadline=None, derandomize=True)
@given(
    h=st.integers(1, 48),
    w=st.integers(1, 48),
    seed=st.integers(0, 2**31 - 1),
    quality=st.integers(30, 100),
)
def test_entropy_coder_round_trips_coefficients(h, w, seed, quality):
    """The entropy coder and decoder are exact inverses on arbitrary
    content: decoding the coded scan with the standard tables returns
    every quantized coefficient — same huffman codes, ZRL/EOB
    placement, 1-fill padding and byte stuffing on both sides."""
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, (h, w)).astype(np.uint8)
    zz = _quantized_zigzag(px, quality)
    assert np.array_equal(_round_trip(zz), zz)


def _round_trip(zz: np.ndarray) -> np.ndarray:
    """Entropy-decode the entropy-coded zz with the standard tables."""
    return jpeg._decode_entropy_loop(
        jpeg._encode_entropy_loop(zz),
        (jpeg.DC_LUM_BITS, jpeg.DC_LUM_VALS),
        (jpeg.AC_LUM_BITS, jpeg.AC_LUM_VALS),
        zz.shape[0],
    )


def _quantized_zigzag(px: np.ndarray, quality: int) -> np.ndarray:
    """Reproduce encode_jpeg_gray's DCT→quant→zigzag front end so the
    entropy coder is tested in isolation."""
    h, w = px.shape
    qt = jpeg.quality_qt(quality)
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    img = np.pad(px.astype(np.float64) - 128.0, ((0, ph - h), (0, pw - w)), mode="edge")
    blocks = img.reshape(ph // 8, 8, pw // 8, 8).transpose(0, 2, 1, 3)
    coef = np.einsum("ij,abjk,lk->abil", jpeg._DCT_T, blocks, jpeg._DCT_T)
    qcoef = np.round(coef / qt.reshape(8, 8)).astype(np.int64)
    return qcoef.reshape(-1, 64)[:, jpeg.ZIGZAG]


def test_entropy_coder_edge_patterns_bit_identical():
    """Deterministic adversarial coefficient patterns aimed at the
    coder's branch structure decode back bit-identical: all-zero
    blocks (DC+EOB only), a lone coefficient at k=63 (run 62 -> 3xZRL
    + run 14), long interior zero runs at exact ZRL multiples
    (16/32/48), negative amplitudes, and the mod-256 sawtooth
    corpus."""
    cases = []
    z = np.zeros((3, 64), dtype=np.int64)
    z[1, 0] = -7
    cases.append(z)
    lone = np.zeros((1, 64), dtype=np.int64)
    lone[0, 63] = -1
    cases.append(lone)
    for gap in (16, 17, 32, 33, 48):
        m = np.zeros((2, 64), dtype=np.int64)
        m[0, 1] = 5
        m[0, 1 + gap] = -3
        m[1, gap] = 1
        cases.append(m)
    saw = (np.arange(64 * 64).reshape(64, 64) % 256).astype(np.uint8)
    cases.append(_quantized_zigzag(saw, 95))
    cases.append(_quantized_zigzag(saw, 30))
    for zz in cases:
        assert np.array_equal(_round_trip(zz), zz)


def test_decoder_rejects_truncated_scans():
    """Truncating the entropy-coded segment raises ValueError (the bit
    reader's fill/marker checks) — never returns garbage pixels
    silently."""
    px = synth_pixels("trunc", 7, 32, 32)
    enc = jpeg.encode_jpeg_gray(px, quality=80)
    sos = enc.find(b"\xff\xda")
    assert sos > 0
    scan_start = sos + 2 + struct.unpack(">H", enc[sos + 2:sos + 4])[0]
    for cut in (scan_start + 2, scan_start + 8, len(enc) - 12):
        with pytest.raises(ValueError):
            jpeg.decode_jpeg_gray(enc[:cut] + b"\xff\xd9")


@pytest.mark.parametrize("k,v,msg", [
    (5, 1 << 15, "coefficient magnitude out of baseline range"),
    (0, 1 << 11, "DC difference category > 11"),
    (1, 1 << 10, "AC run/size symbol outside the standard table"),
])
def test_entropy_coder_rejects_out_of_baseline_coefficients(k, v, msg):
    """Coefficients 8-bit baseline cannot carry raise ValueError, not a
    table KeyError: |v| >= 2^15, a DC difference of category 12, and an
    AC amplitude of size 11 (no run/size symbol in Annex K.3)."""
    zz = np.zeros((2, 64), dtype=np.int64)
    zz[1, k] = v
    with pytest.raises(ValueError, match=msg):
        jpeg._encode_entropy_loop(zz)


def _jfif_with_tables(dc: tuple[list, list], ac: tuple[list, list], scan: bytes) -> bytes:
    """An 8x8 baseline JFIF whose DHT segments carry the given
    (BITS, HUFFVAL) tables, around a hand-made scan."""
    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    return (
        b"\xff\xd8"
        + seg(0xFFDB, bytes([0] + [1] * 64))
        + seg(0xFFC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
        + seg(0xFFC4, bytes([0x00, *dc[0], *dc[1]]))
        + seg(0xFFC4, bytes([0x10, *ac[0], *ac[1]]))
        + seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + scan
        + b"\xff\xd9"
    )


def test_decoder_rejects_size_symbols_beyond_baseline():
    """A hostile DHT can map a code to a DC size above 11 or an AC size
    above 10; with enough scan bits behind it the reader would decode
    garbage pixels, so it raises ValueError instead."""
    one_code = [1] + [0] * 15  # a single 1-bit code, "0"
    std_dc = (jpeg.DC_LUM_BITS, jpeg.DC_LUM_VALS)
    std_ac = (jpeg.AC_LUM_BITS, jpeg.AC_LUM_VALS)
    zeros = bytes(128)  # bits for a whole block at any symbol size
    assert jpeg.decode_jpeg_gray(_jfif_with_tables(std_dc, std_ac, zeros)).shape == (8, 8)
    with pytest.raises(ValueError, match="DC size symbol 12 > 11"):
        jpeg.decode_jpeg_gray(_jfif_with_tables((one_code, [12]), std_ac, zeros))
    with pytest.raises(ValueError, match="AC size 11 > 10"):
        jpeg.decode_jpeg_gray(_jfif_with_tables(std_dc, (one_code, [0x0B]), zeros))
