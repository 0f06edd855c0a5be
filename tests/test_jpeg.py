"""Baseline JPEG codec pins (operators/jpeg_codec.py). JPEG is lossy,
so the pins are layered: the DCT is cross-checked against the direct
O(N^4) textbook double sum (an independent formulation of the
transform the codec implements separably), the entropy primitives
(canonical huffman, magnitude/EXTEND) round-trip exactly, full
round-trips carry tight error bounds (flat tables → pure rounding
error)."""

import hashlib
import math

import pytest

from teste_carga_avro_vs_json_spark.operators import jpeg_codec as jc


def _noise_rgb(tag: str, w: int, h: int) -> bytes:
    need = w * h * 3
    seed = hashlib.md5(tag.encode()).digest()
    return (seed * (need // 16 + 1))[:need]


def _smooth_rgb(w: int, h: int) -> bytes:
    out = bytearray()
    for y in range(h):
        for x in range(w):
            out += bytes((min(255, 10 + x * 3), min(255, 20 + y * 3), 128))
    return bytes(out)


def _maxerr(a, b) -> float:
    return max(abs(x - y) for x, y in zip(a, b))


# ----------------------------------------------------------- transforms


def test_dct_matches_textbook_double_sum():
    """Direct 2D DCT-II definition (O(N^4)) vs the codec's separable
    implementation — independent formulations must agree."""
    block = [
        ((int.from_bytes(hashlib.md5(f"b{i}".encode()).digest()[:2],
                         "little") % 256) - 128) * 1.0
        for i in range(64)
    ]
    got = jc.dct2d(block)
    c = lambda k: 1 / math.sqrt(2) if k == 0 else 1.0  # noqa: E731
    for u in range(8):
        for v in range(8):
            want = 0.25 * c(u) * c(v) * sum(
                block[y * 8 + x]
                * math.cos((2 * x + 1) * u * math.pi / 16)
                * math.cos((2 * y + 1) * v * math.pi / 16)
                for y in range(8)
                for x in range(8)
            )
            assert abs(got[v * 8 + u] - want) < 1e-9


def test_idct_inverts_dct():
    block = [float((i * 37) % 256 - 128) for i in range(64)]
    back = jc.idct2d(jc.dct2d(block))
    assert _maxerr(block, back) < 1e-9


def test_entropy_primitives_roundtrip():
    # canonical huffman: every symbol decodes to itself
    for spec in (jc.HT_DC_LUMA, jc.HT_AC_LUMA, jc.HT_DC_CHROMA,
                 jc.HT_AC_CHROMA):
        codes = jc._build_codes(*spec)
        dec = jc._build_decode_map(*spec)
        assert len(codes) == len(spec[1])
        for v, (code, length) in codes.items():
            assert dec[(length, code)] == v
        # prefix-free: no code is a prefix of a longer one
        all_codes = sorted(
            (length, code) for code, length in codes.values()
        )
        for i, (l1, c1) in enumerate(all_codes):
            for l2, c2 in all_codes[i + 1 :]:
                if l2 > l1:
                    assert (c2 >> (l2 - l1)) != c1
    # magnitude/EXTEND are inverses over the coefficient range
    for v in list(range(-255, 256)) + [-1023, 1023, -2047, 2047]:
        size, bits = jc._magnitude(v)
        assert jc._extend(bits, size) == v


# ----------------------------------------------------------- round trips


def test_roundtrip_flat_tables_bounds_rounding_error():
    # quality 100 → all-ones quant tables: only DCT + color rounding
    for w, h in ((8, 8), (16, 16), (24, 16), (17, 9)):
        rgb = _noise_rgb(f"n{w}x{h}", w, h)
        gw, gh, dec = jc.decode_jpeg(jc.encode_jpeg(w, h, rgb, quality=100))
        assert (gw, gh) == (w, h)
        assert _maxerr(rgb, dec) <= 4.0


def test_roundtrip_constant_and_gray():
    const = bytes([77, 150, 30]) * (24 * 24)
    _, _, dec = jc.decode_jpeg(jc.encode_jpeg(24, 24, const, quality=100))
    assert _maxerr(const, dec) <= 2.0
    g = _noise_rgb("g", 16, 16)
    gray = bytes(v for i in range(16 * 16) for v in (g[3 * i],) * 3)
    _, _, dec = jc.decode_jpeg(
        jc.encode_jpeg(16, 16, gray, quality=100, grayscale=True)
    )
    assert _maxerr(gray, dec) <= 1.0  # no chroma → tightest bound


def test_roundtrip_standard_tables_smooth():
    rgb = _smooth_rgb(32, 24)
    _, _, dec = jc.decode_jpeg(jc.encode_jpeg(32, 24, rgb, quality=90))
    assert _maxerr(rgb, dec) <= 6.0


def test_roundtrip_420_subsampling():
    rgb = _smooth_rgb(32, 32)
    _, _, dec = jc.decode_jpeg(
        jc.encode_jpeg(32, 32, rgb, quality=95, subsample=True)
    )
    assert _maxerr(rgb, dec) <= 8.0
    # odd dims through the 16x16 MCU grid
    rgb = _smooth_rgb(19, 13)
    gw, gh, dec = jc.decode_jpeg(
        jc.encode_jpeg(19, 13, rgb, quality=95, subsample=True)
    )
    assert (gw, gh) == (19, 13)
    assert _maxerr(rgb, dec) <= 10.0


def test_restart_markers():
    rgb = _noise_rgb("r", 40, 24)
    blob = jc.encode_jpeg(40, 24, rgb, quality=100, restart_interval=3)
    assert b"\xff\xd0" in blob  # RST0 actually emitted
    _, _, dec = jc.decode_jpeg(blob)
    assert _maxerr(rgb, dec) <= 4.0


def test_deterministic_bytes():
    rgb = _noise_rgb("det", 16, 16)
    assert jc.encode_jpeg(16, 16, rgb) == jc.encode_jpeg(16, 16, rgb)


# ---------------------------------------------------------- error paths


def test_progressive_twin_decodes_bit_identical_to_baseline():
    """r10: the spectral-selection progressive twin emits the SAME
    quantized coefficients as the baseline encoder, so decode of the
    two streams must agree EXACTLY — float-for-float — across
    grayscale, 4:4:4, 4:2:0 and odd geometries."""
    for kwargs, (w, h) in [
        ({}, (16, 16)),
        ({}, (17, 9)),
        ({"grayscale": True}, (17, 9)),
        ({"subsample": True}, (20, 13)),
        ({"quality": 50}, (8, 8)),
        ({"subsample": True, "quality": 35}, (33, 17)),
    ]:
        rgb = _noise_rgb(f"pt{kwargs}{w}", w, h)
        base = jc.encode_jpeg(w, h, rgb, **kwargs)
        prog = jc.encode_jpeg_progressive(w, h, rgb, **kwargs)
        assert b"\xff\xc2" in prog and b"\xff\xc2" not in base
        assert jc.decode_jpeg(prog) == jc.decode_jpeg(base), (kwargs, w, h)


def test_progressive_deterministic_bytes():
    rgb = _noise_rgb("pd", 16, 16)
    assert jc.encode_jpeg_progressive(16, 16, rgb) == \
        jc.encode_jpeg_progressive(16, 16, rgb)


def test_progressive_malformed_scans_raise():
    rgb = _noise_rgb("pm", 16, 16)
    prog = bytearray(jc.encode_jpeg_progressive(16, 16, rgb))
    # a baseline-style full-band interleaved scan under SOF2 is
    # spec-illegal (DC scan must be Ss=Se=0) and must raise cleanly
    base = bytearray(jc.encode_jpeg(16, 16, rgb))
    i = base.index(b"\xff\xc0")
    base[i + 1] = 0xC2
    with pytest.raises(jc.JpegFormatError):
        jc.decode_jpeg(bytes(base))
    # truncation mid-scan raises, never returns garbage
    with pytest.raises(jc.JpegFormatError):
        jc.decode_jpeg(bytes(prog[: len(prog) * 2 // 3]))
    # missing EOI (no final marker) raises
    with pytest.raises(jc.JpegFormatError):
        jc.decode_jpeg(bytes(prog[:-2]))


def test_other_sof_families_still_documented_boundaries():
    blob = bytearray(jc.encode_jpeg(8, 8, _noise_rgb("p", 8, 8)))
    i = blob.index(b"\xff\xc0")
    for sof in (0xC3, 0xC7, 0xCA, 0xCF):  # lossless/hier/arith
        blob[i + 1] = sof
        with pytest.raises(NotImplementedError):
            jc.decode_jpeg(bytes(blob))


def test_corruption_raises():
    with pytest.raises(jc.JpegFormatError):
        jc.decode_jpeg(b"PNG!" + b"\x00" * 20)
    blob = jc.encode_jpeg(16, 16, _noise_rgb("c", 16, 16))
    with pytest.raises((jc.JpegFormatError, Exception)):
        jc.decode_jpeg(blob[: len(blob) // 2])
