"""Pure-stdlib baseline JPEG codec (ITU-T T.81 / JFIF) — the image
half of the compressed-media boundary, closed the same way
``flac_codec`` closed audio: a real spec implementation on stdlib
only, so
Motion-JPEG frames (``multimodal.decode_avi_mjpeg``) decode in this
container without Pillow.

JPEG is LOSSY, so the pins are layered rather than bit-exact
(``tests/test_jpeg.py``):

- the entropy layer (huffman + zigzag + DC prediction + AC
  run-length) is EXACT — coefficients out == coefficients in;
- the DCT is cross-pinned against the direct O(N⁴) textbook double
  sum (the implementation uses separable 1D passes — an independent
  formulation);
- full round-trips bound the reconstruction error: with flat
  quantization tables the error is pure DCT rounding (≤2/sample on
  arbitrary images, 0 on constant blocks); standard tables bound
  smooth-image error;
- corruption and truncation raise, never return garbage.

Encoder: baseline sequential, grayscale or YCbCr 4:4:4 / 4:2:0,
standard Annex K quantization tables scaled by libjpeg's quality
curve, standard Annex K huffman tables (spec-legal and what cameras
emit), optional restart markers; plus a spectral-selection PROGRESSIVE
twin (:func:`encode_jpeg_progressive`) whose quantized coefficients
are bit-identical to the baseline encoder's — the exact-pin builder.
Decoder: full baseline sequential — any sampling factors, 1-4
components, DRI/RSTn, multiple DQT/DHT segments, byte stuffing — AND
full progressive (SOF2, r10): spectral selection + successive
approximation per T.81 §G (DC/AC first + refinement scans, EOBRUN),
pinned against javax.imageio's MODE_DEFAULT ten-scan IJG script both
directions (test_imageio_interop.py). Lossless/hierarchical/
arithmetic SOFs raise ``NotImplementedError`` (documented boundary).

Scale shape: same as every codec here — decode runs executor-side in
``mapInPandas`` batches, payload bytes never shuffle.
"""

from __future__ import annotations

import math
import struct

#: Annex K luminance / chrominance quantization tables (row-major).
QT_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
QT_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

#: zigzag scan order: ZIGZAG[k] = row-major index of the k-th coeff.
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K huffman table specs: (bits[1..16] counts, values).
HT_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
HT_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
HT_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31,
        0x41, 0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32,
        0x81, 0x91, 0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52,
        0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28, 0x29, 0x2A,
        0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
        0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57,
        0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x83,
        0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93, 0x94,
        0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8,
        0xD9, 0xDA, 0xE1, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8,
        0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
HT_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06,
        0x12, 0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81,
        0x08, 0x14, 0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33,
        0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
        0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56,
        0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79, 0x7A,
        0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92,
        0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6,
        0xD7, 0xD8, 0xD9, 0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7,
        0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)


class JpegFormatError(ValueError):
    pass


# ------------------------------------------------------------- huffman


def _build_codes(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    """Spec C.2 canonical code assignment: value → (code, length)."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _build_decode_map(bits: list[int], values: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) → value, for the bit-serial decoder."""
    return {
        (length, code): v
        for v, (code, length) in _build_codes(bits, values).items()
    }


# ----------------------------------------------------------------- DCT

_COS = [
    [math.cos((2 * x + 1) * u * math.pi / 16) for x in range(8)]
    for u in range(8)
]
_C = [1 / math.sqrt(2)] + [1.0] * 7


def dct2d(block: list[float]) -> list[float]:
    """8x8 forward DCT-II (separable 1D passes, orthonormal JPEG
    scaling). Input row-major level-shifted samples."""
    tmp = [0.0] * 64
    for y in range(8):
        for u in range(8):
            s = sum(block[y * 8 + x] * _COS[u][x] for x in range(8))
            tmp[y * 8 + u] = s
    out = [0.0] * 64
    for u in range(8):
        for v in range(8):
            s = sum(tmp[y * 8 + u] * _COS[v][y] for y in range(8))
            out[v * 8 + u] = 0.25 * _C[u] * _C[v] * s
    return out


def idct2d(coefs: list[float]) -> list[float]:
    """8x8 inverse DCT (separable)."""
    tmp = [0.0] * 64
    for v in range(8):
        for x in range(8):
            s = sum(
                _C[u] * coefs[v * 8 + u] * _COS[u][x] for u in range(8)
            )
            tmp[v * 8 + x] = s
    out = [0.0] * 64
    for x in range(8):
        for y in range(8):
            s = sum(
                _C[v] * tmp[v * 8 + x] * _COS[v][y] for v in range(8)
            )
            out[y * 8 + x] = 0.25 * s
    return out


# ---------------------------------------------------------- bit stream


class _JBitWriter:
    """Entropy bit writer with 0xFF byte stuffing."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        if nbits == 0:
            return
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nbits += nbits
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:  # pad with 1-bits per spec
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)


class _JBitReader:
    """Entropy bit reader: un-stuffs 0xFF00, stops at markers."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise JpegFormatError("entropy stream overrun")
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else None
            if nxt == 0x00:
                self.pos += 2
            elif nxt is not None and 0xD0 <= nxt <= 0xD7:
                raise _RestartMarker(nxt)
            else:
                raise JpegFormatError("marker inside entropy data")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_restart(self) -> None:
        """Consume padding + the RSTn marker at a restart interval."""
        self.acc = 0
        self.nbits = 0
        while self.pos + 1 < len(self.data) and not (
            self.data[self.pos] == 0xFF
            and 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            self.pos += 1
        if self.pos + 1 >= len(self.data):
            raise JpegFormatError("missing restart marker")
        self.pos += 2


class _RestartMarker(Exception):
    def __init__(self, marker: int) -> None:
        self.marker = marker


def _magnitude(v: int) -> tuple[int, int]:
    """Spec F.1.2.1: value → (size, size-bit code)."""
    if v == 0:
        return 0, 0
    size = abs(v).bit_length()
    if v < 0:
        v = v + (1 << size) - 1
    return size, v


def _extend(code: int, size: int) -> int:
    """Spec F.2.2.1 EXTEND."""
    if size == 0:
        return 0
    if code < (1 << (size - 1)):
        return code - (1 << size) + 1
    return code


# ------------------------------------------------------------- encoder


def _quality_scale(table: list[int], quality: int) -> list[int]:
    """libjpeg quality curve: 50 → spec tables, 100 → all ones."""
    quality = max(1, min(100, quality))
    scale = 5000 // quality if quality < 50 else 200 - quality * 2
    return [max(1, min(255, (t * scale + 50) // 100)) for t in table]


def _encode_block(
    w: _JBitWriter,
    samples: list[int],
    qt: list[int],
    dc_codes,
    ac_codes,
    pred: int,
) -> int:
    q = _quantize_block(samples, qt)
    # DC
    diff = q[0] - pred
    size, bits = _magnitude(diff)
    code, length = dc_codes[size]
    w.write(code, length)
    w.write(bits, size)
    # AC run-length (shared with the progressive per-band coder —
    # with ss=1, se=63 the two are the same T.81 procedure)
    _encode_ac_band(w, q, 1, 63, ac_codes)
    return q[0]


def _rgb_to_ycbcr(rgb: bytes, n: int) -> tuple[list[int], list[int], list[int]]:
    Y = [0] * n
    Cb = [0] * n
    Cr = [0] * n
    for i in range(n):
        r, g, b = rgb[3 * i], rgb[3 * i + 1], rgb[3 * i + 2]
        Y[i] = min(255, max(0, round(0.299 * r + 0.587 * g + 0.114 * b)))
        Cb[i] = min(255, max(0, round(-0.168736 * r - 0.331264 * g + 0.5 * b + 128)))
        Cr[i] = min(255, max(0, round(0.5 * r - 0.418688 * g - 0.081312 * b + 128)))
    return Y, Cb, Cr


def _plane_block(plane, pw, ph, bx, by) -> list[int]:
    out = []
    for y in range(8):
        sy = min(by * 8 + y, ph - 1)
        for x in range(8):
            sx = min(bx * 8 + x, pw - 1)
            out.append(plane[sy * pw + sx])
    return out


def _subsample_plane(plane, width, height) -> tuple[list[int], int, int]:
    pw, ph = (width + 1) // 2, (height + 1) // 2
    out = [0] * (pw * ph)
    for y in range(ph):
        for x in range(pw):
            acc = cnt = 0
            for dy in range(2):
                for dx in range(2):
                    sy, sx = 2 * y + dy, 2 * x + dx
                    if sy < height and sx < width:
                        acc += plane[sy * width + sx]
                        cnt += 1
            out[y * pw + x] = (acc + cnt // 2) // cnt
    return out, pw, ph


def encode_jpeg(
    width: int,
    height: int,
    rgb: bytes,
    quality: int = 90,
    grayscale: bool = False,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """RGB (or gray via ``grayscale``) → baseline JFIF bytes. Standard
    Annex K tables scaled by ``quality``; ``subsample`` emits 4:2:0."""
    if len(rgb) != width * height * 3:
        raise JpegFormatError("rgb buffer size mismatch")
    qt0 = _quality_scale(QT_LUMA, quality)
    qt1 = _quality_scale(QT_CHROMA, quality)

    Y, Cb, Cr = _rgb_to_ycbcr(rgb, width * height)
    plane_block = _plane_block

    def subsampled(plane):
        return _subsample_plane(plane, width, height)

    out = bytearray(b"\xff\xd8")  # SOI
    # APP0 JFIF: version 1.1, no density units, 1x1 density, no thumb
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01" \
        + b"\x00\x00\x01\x00\x01\x00\x00"
    # DQT segments
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(
        qt0[ZIGZAG[k]] for k in range(64)
    )
    if not grayscale:
        out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x01" + bytes(
            qt1[ZIGZAG[k]] for k in range(64)
        )
    # SOF0
    ncomp = 1 if grayscale else 3
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, height,
                                     width, ncomp)
    if grayscale:
        out += bytes((1, 0x11, 0))
    else:
        yfac = 0x22 if subsample else 0x11
        out += bytes((1, yfac, 0, 2, 0x11, 1, 3, 0x11, 1))
    # DHT segments
    for cls, tid, (bits, vals) in (
        (0, 0, HT_DC_LUMA), (1, 0, HT_AC_LUMA),
        (0, 1, HT_DC_CHROMA), (1, 1, HT_AC_CHROMA),
    ):
        if grayscale and tid == 1:
            continue
        out += b"\xff\xc4" + struct.pack(
            ">H", 19 + len(vals)
        ) + bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # SOS
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    if grayscale:
        out += bytes((1, 0x00))
    else:
        out += bytes((1, 0x00, 2, 0x11, 3, 0x11))
    out += bytes((0, 63, 0))

    dc_y = _build_codes(*HT_DC_LUMA)
    ac_y = _build_codes(*HT_AC_LUMA)
    dc_c = _build_codes(*HT_DC_CHROMA)
    ac_c = _build_codes(*HT_AC_CHROMA)
    w = _JBitWriter()
    preds = [0, 0, 0]
    mcu_count = 0
    rst = 0

    def maybe_restart():
        nonlocal mcu_count, rst, preds
        mcu_count += 1
        if restart_interval and mcu_count % restart_interval == 0:
            w.flush()
            w.buf += bytes((0xFF, 0xD0 + rst))
            rst = (rst + 1) % 8
            preds[:] = [0, 0, 0]

    if grayscale or not subsample:
        planes = [(Y, width, height)] if grayscale else [
            (Y, width, height), (Cb, width, height), (Cr, width, height)
        ]
        bw = (width + 7) // 8
        bh = (height + 7) // 8
        for by in range(bh):
            for bx in range(bw):
                for ci, (plane, pw, ph) in enumerate(planes):
                    dc = dc_y if ci == 0 else dc_c
                    ac = ac_y if ci == 0 else ac_c
                    qt = qt0 if ci == 0 else qt1
                    preds[ci] = _encode_block(
                        w, plane_block(plane, pw, ph, bx, by), qt, dc, ac,
                        preds[ci],
                    )
                maybe_restart()
    else:  # 4:2:0 — MCU = 4 luma blocks + 1 Cb + 1 Cr
        cbp, cw, chh = subsampled(Cb)
        crp, _, _ = subsampled(Cr)
        mw = (width + 15) // 16
        mh = (height + 15) // 16
        for my in range(mh):
            for mx in range(mw):
                for dy in range(2):
                    for dx in range(2):
                        preds[0] = _encode_block(
                            w,
                            plane_block(Y, width, height, mx * 2 + dx,
                                        my * 2 + dy),
                            qt0, dc_y, ac_y, preds[0],
                        )
                preds[1] = _encode_block(
                    w, plane_block(cbp, cw, chh, mx, my), qt1, dc_c, ac_c,
                    preds[1],
                )
                preds[2] = _encode_block(
                    w, plane_block(crp, cw, chh, mx, my), qt1, dc_c, ac_c,
                    preds[2],
                )
                maybe_restart()
    w.flush()
    out += w.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _quantize_block(samples: list[int], qt: list[int]) -> list[int]:
    """8x8 samples → quantized coefficients in ZIGZAG order — the
    exact arithmetic of :func:`_encode_block`, split out so the
    progressive encoder emits the SAME coefficients (the bit-identical
    decode pin in test_jpeg.py rests on this)."""
    coefs = dct2d([s - 128.0 for s in samples])
    return [int(round(coefs[ZIGZAG[k]] / qt[ZIGZAG[k]])) for k in range(64)]


def _encode_ac_band(w: _JBitWriter, q: list[int], ss: int, se: int,
                    ac_codes) -> None:
    """Run-length code one spectral band (T.81 §G.1.2.2 with Al=0:
    the EOB code carries EOBRUN=1, so baseline-style per-block EOB is
    spec-legal — no cross-block EOB runs emitted)."""
    run = 0
    for k in range(ss, se + 1):
        v = q[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL
            w.write(code, length)
            run -= 16
        size, bits = _magnitude(v)
        code, length = ac_codes[(run << 4) | size]
        w.write(code, length)
        w.write(bits, size)
        run = 0
    if run:
        code, length = ac_codes[0x00]  # EOB (EOBRUN = 1)
        w.write(code, length)


def encode_jpeg_progressive(
    width: int,
    height: int,
    rgb: bytes,
    quality: int = 90,
    grayscale: bool = False,
    subsample: bool = False,
) -> bytes:
    """Spectral-selection progressive JFIF (SOF2, T.81 §G, Ah=Al=0):
    one interleaved DC scan, then one full-band AC scan per component
    — the simplest spec-legal progression. The quantized coefficients
    are IDENTICAL to :func:`encode_jpeg`'s for the same inputs, so
    ``decode_jpeg(progressive twin) == decode_jpeg(baseline)`` exactly
    — a build-twin pin. The
    successive-approximation decode paths are pinned separately
    against javax.imageio's MODE_DEFAULT progression
    (test_imageio_interop.py)."""
    if len(rgb) != width * height * 3:
        raise JpegFormatError("rgb buffer size mismatch")
    qt0 = _quality_scale(QT_LUMA, quality)
    qt1 = _quality_scale(QT_CHROMA, quality)
    Y, Cb, Cr = _rgb_to_ycbcr(rgb, width * height)

    # per-component geometry + quantized blocks over the PADDED grid
    # (interleaved DC codes every MCU block; AC scans only the used
    # bw x bh grid — padding blocks keep zero AC, never sampled)
    if grayscale:
        specs = [(1, 1, 1, Y, width, height, qt0, 0)]
    elif subsample:
        cbp, cw, chh = _subsample_plane(Cb, width, height)
        crp, _, _ = _subsample_plane(Cr, width, height)
        specs = [
            (1, 2, 2, Y, width, height, qt0, 0),
            (2, 1, 1, cbp, cw, chh, qt1, 1),
            (3, 1, 1, crp, cw, chh, qt1, 1),
        ]
    else:
        specs = [
            (1, 1, 1, Y, width, height, qt0, 0),
            (2, 1, 1, Cb, width, height, qt1, 1),
            (3, 1, 1, Cr, width, height, qt1, 1),
        ]
    hmax = max(s[1] for s in specs)
    vmax = max(s[2] for s in specs)
    mcus_x = (width + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (height + 8 * vmax - 1) // (8 * vmax)
    comps = []
    for cid, h, v, plane, pw, ph, qt, tsel in specs:
        bw_full, bh_full = mcus_x * h, mcus_y * v
        bw, bh = (pw + 7) // 8, (ph + 7) // 8
        qblocks = [
            _quantize_block(_plane_block(plane, pw, ph, bx, by), qt)
            for by in range(bh_full)
            for bx in range(bw_full)
        ]
        comps.append({
            "id": cid, "h": h, "v": v, "tsel": tsel,
            "bw_full": bw_full, "bw": bw, "bh": bh, "q": qblocks,
        })

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01" \
        + b"\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(
        qt0[ZIGZAG[k]] for k in range(64)
    )
    if not grayscale:
        out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x01" + bytes(
            qt1[ZIGZAG[k]] for k in range(64)
        )
    ncomp = len(comps)
    out += b"\xff\xc2" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, height,
                                     width, ncomp)
    for c in comps:
        out += bytes((c["id"], (c["h"] << 4) | c["v"], c["tsel"]))
    for cls, tid, (bits, vals) in (
        (0, 0, HT_DC_LUMA), (1, 0, HT_AC_LUMA),
        (0, 1, HT_DC_CHROMA), (1, 1, HT_AC_CHROMA),
    ):
        if grayscale and tid == 1:
            continue
        out += b"\xff\xc4" + struct.pack(
            ">H", 19 + len(vals)
        ) + bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)

    dc_codes = {0: _build_codes(*HT_DC_LUMA), 1: _build_codes(*HT_DC_CHROMA)}
    ac_codes = {0: _build_codes(*HT_AC_LUMA), 1: _build_codes(*HT_AC_CHROMA)}

    # scan 1: interleaved DC, Ss=Se=0, Ah=Al=0
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    for c in comps:
        out += bytes((c["id"], c["tsel"] << 4))
    out += bytes((0, 0, 0))
    w = _JBitWriter()
    preds = {c["id"]: 0 for c in comps}
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for c in comps:
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        q0 = c["q"][
                            (my * c["v"] + by) * c["bw_full"]
                            + (mx * c["h"] + bx)
                        ][0]
                        diff = q0 - preds[c["id"]]
                        preds[c["id"]] = q0
                        size, bits = _magnitude(diff)
                        code, length = dc_codes[c["tsel"]][size]
                        w.write(code, length)
                        w.write(bits, size)
    w.flush()
    out += w.buf

    # scans 2..N: per-component full AC band, Ss=1 Se=63, Ah=Al=0
    for c in comps:
        out += b"\xff\xda" + struct.pack(">HB", 8, 1)
        out += bytes((c["id"], c["tsel"]))
        out += bytes((1, 63, 0))
        w = _JBitWriter()
        for by in range(c["bh"]):
            for bx in range(c["bw"]):
                _encode_ac_band(
                    w, c["q"][by * c["bw_full"] + bx], 1, 63,
                    ac_codes[c["tsel"]],
                )
        w.flush()
        out += w.buf
    out += b"\xff\xd9"
    return bytes(out)


# ------------------------------------------------------------- decoder


def decode_jpeg(payload: bytes) -> tuple[int, int, list[float]]:
    """Baseline (SOF0/1) or progressive (SOF2) JFIF → (width, height,
    packed RGB floats 0..255, row-major). Lossless/hierarchical/
    arithmetic SOFs raise NotImplementedError; malformed input of ANY
    shape raises :class:`JpegFormatError` — a corrupt payload must
    never kill a scan stage with a bare IndexError."""
    try:
        return _decode_jpeg_impl(payload)
    except (JpegFormatError, NotImplementedError):
        raise
    except (IndexError, KeyError, ValueError, OverflowError,
            ZeroDivisionError, struct.error, _RestartMarker) as e:
        raise JpegFormatError(f"malformed JPEG stream: {e}") from e


def _decode_jpeg_impl(payload: bytes) -> tuple[int, int, list[float]]:
    if payload[:2] != b"\xff\xd8":
        raise JpegFormatError("not a JPEG payload")
    pos = 2
    qts: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    comps: list[dict] = []
    width = height = 0
    restart_interval = 0
    progressive = False
    scans_done = 0
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise JpegFormatError("expected marker")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xFF:  # fill byte before a marker (B.1.1.2)
            pos -= 1
            continue
        if marker == 0xD9:  # EOI
            if progressive and scans_done:
                return _finish_progressive(width, height, comps, qts)
            raise JpegFormatError("EOI before scan data")
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue
        seg_len = struct.unpack(">H", payload[pos : pos + 2])[0]
        if seg_len < 2:  # would stall the marker walk → infinite loop
            raise JpegFormatError("invalid marker segment length")
        seg = payload[pos + 2 : pos + seg_len]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                p += 1
                tbl = [0] * 64
                for k in range(64):
                    if pq:
                        tbl[ZIGZAG[k]] = struct.unpack(
                            ">H", seg[p : p + 2]
                        )[0]
                        p += 2
                    else:
                        tbl[ZIGZAG[k]] = seg[p]
                        p += 1
                qts[tq] = tbl
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                cls, tid = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1 : p + 17])
                nv = sum(bits)
                vals = list(seg[p + 17 : p + 17 + nv])
                huff[(cls, tid)] = _build_decode_map(bits, vals)
                p += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 prog.
            progressive = marker == 0xC2
            height, width = struct.unpack(">HH", seg[1:5])
            # 64M-px cap: a corrupt/hostile header must not OOM an
            # executor before any entropy data is read
            if width * height > (1 << 26):
                raise JpegFormatError(
                    f"JPEG {width}x{height} exceeds the decode cap"
                )
            ncomp = seg[5]
            comps = []
            for c in range(ncomp):
                cid, fac, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append(
                    {"id": cid, "h": fac >> 4, "v": fac & 0x0F, "tq": tq}
                )
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "lossless/hierarchical/arithmetic JPEG (SOF"
                f"{marker - 0xC0}) not supported by the stdlib decoder"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            scan_sel = {}
            for c in range(ns):
                cid, tabs = seg[1 + 2 * c], seg[2 + 2 * c]
                scan_sel[cid] = (tabs >> 4, tabs & 0x0F)
            pos += seg_len
            if not progressive:
                return _decode_scan(
                    payload, pos, width, height, comps, scan_sel, qts,
                    huff, restart_interval,
                )
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            approx = seg[3 + 2 * ns]
            pos = _decode_progressive_scan(
                payload, pos, width, height, comps, scan_sel,
                ss, se, approx >> 4, approx & 0x0F, huff,
                restart_interval,
            )
            scans_done += 1
            continue
        pos += seg_len
    raise JpegFormatError("no SOS marker")


def _decode_huff(r: _JBitReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.read_bit()
        v = table.get((length, code))
        if v is not None:
            return v
    raise JpegFormatError("invalid huffman code")


def _decode_scan(
    payload, pos, width, height, comps, scan_sel, qts, huff,
    restart_interval,
):
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = (width + mcu_w - 1) // mcu_w
    mcus_y = (height + mcu_h - 1) // mcu_h
    for c in comps:
        c["pw"] = mcus_x * c["h"] * 8
        c["ph"] = mcus_y * c["v"] * 8
        c["plane"] = [0.0] * (c["pw"] * c["ph"])
        c["pred"] = 0

    r = _JBitReader(payload, pos)
    mcu_index = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_index and \
                    mcu_index % restart_interval == 0:
                r.align_restart()
                for c in comps:
                    c["pred"] = 0
            mcu_index += 1
            for c in comps:
                dc_tab = huff.get((0, scan_sel[c["id"]][0]))
                ac_tab = huff.get((1, scan_sel[c["id"]][1]))
                if dc_tab is None or ac_tab is None:
                    raise JpegFormatError("missing huffman table")
                qt = qts[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        block = _decode_block(r, dc_tab, ac_tab, qt, c)
                        _place_block(
                            c, block,
                            (mx * c["h"] + bx) * 8,
                            (my * c["v"] + by) * 8,
                        )
    return _assemble_rgb(width, height, comps, hmax, vmax)


# ------------------------------------------------- progressive decode
# T.81 §G.2: coefficients accumulate across scans in per-block zigzag
# buffers; spectral selection partitions the 64 coefficients into
# bands, successive approximation delivers them bit-plane by bit-plane
# (first scan Ah=0 codes magnitude >> Al, refinements append one bit).
# Control flow mirrors the published decoder structure (libjpeg's
# jdphuff.c is the de-facto reference realization of Annex G) —
# re-derived here on the spec, pinned against javax.imageio's
# independent implementation in test_imageio_interop.py.


def _setup_progressive(comps, width, height) -> None:
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = (width + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (height + 8 * vmax - 1) // (8 * vmax)
    for c in comps:
        if not (1 <= c["h"] <= 4 and 1 <= c["v"] <= 4):
            raise JpegFormatError("invalid sampling factors")
        c["mcus_x"], c["mcus_y"] = mcus_x, mcus_y
        c["bw_full"] = mcus_x * c["h"]
        c["bh_full"] = mcus_y * c["v"]
        xs = (width * c["h"] + hmax - 1) // hmax
        ys = (height * c["v"] + vmax - 1) // vmax
        c["bw"] = (xs + 7) // 8
        c["bh"] = (ys + 7) // 8
        # per-block coefficient accumulators, ZIGZAG order
        c["coefs"] = [
            [0] * 64 for _ in range(c["bw_full"] * c["bh_full"])
        ]


def _skip_to_marker(payload: bytes, pos: int) -> int:
    """Advance past a scan's entropy data to the next true marker
    (stuffed FF00, RSTn, and FF fill bytes are part of the scan)."""
    while pos + 1 < len(payload):
        if payload[pos] == 0xFF:
            nxt = payload[pos + 1]
            if nxt != 0x00 and nxt != 0xFF and not (0xD0 <= nxt <= 0xD7):
                return pos
            pos += 2 if nxt != 0xFF else 1
        else:
            pos += 1
    raise JpegFormatError("unterminated scan")


def _decode_progressive_scan(
    payload, pos, width, height, comps, scan_sel, ss, se, ah, al,
    huff, restart_interval,
) -> int:
    """Decode one progressive scan into the components' coefficient
    buffers; returns the payload position of the next marker."""
    if not comps or not width:
        raise JpegFormatError("SOS before SOF")
    if "coefs" not in comps[0]:
        _setup_progressive(comps, width, height)
    if se > 63 or ss > se:
        raise JpegFormatError("invalid spectral band")
    if (ss == 0) != (se == 0):
        raise JpegFormatError("DC scan must be exactly Ss=Se=0")
    if al > 13 or (ah and ah != al + 1):
        raise JpegFormatError("invalid successive approximation")
    scan_comps = [c for c in comps if c["id"] in scan_sel]
    if len(scan_comps) != len(scan_sel):
        raise JpegFormatError("scan references unknown component")
    for c in scan_comps:
        c["pred"] = 0
    state = {"eobrun": 0}
    r = _JBitReader(payload, pos)

    def restart_reset():
        r.align_restart()
        for c in scan_comps:
            c["pred"] = 0
        state["eobrun"] = 0

    def dc_tab_for(c):
        tab = huff.get((0, scan_sel[c["id"]][0]))
        if tab is None and ah == 0:
            raise JpegFormatError("missing huffman table")
        return tab

    if len(scan_comps) > 1:
        # interleaved MCU walk — spec-legal only for DC scans
        if ss != 0:
            raise JpegFormatError("interleaved AC scan")
        mcus_x = scan_comps[0]["mcus_x"]
        mcus_y = scan_comps[0]["mcus_y"]
        tabs = {c["id"]: dc_tab_for(c) for c in scan_comps}
        unit = 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if restart_interval and unit and \
                        unit % restart_interval == 0:
                    restart_reset()
                unit += 1
                for c in scan_comps:
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            blk = c["coefs"][
                                (my * c["v"] + by) * c["bw_full"]
                                + (mx * c["h"] + bx)
                            ]
                            _dc_coef(r, blk, c, tabs[c["id"]], ah, al)
    else:
        c = scan_comps[0]
        if ss == 0:
            tab = dc_tab_for(c)
        else:
            tab = huff.get((1, scan_sel[c["id"]][1]))
            if tab is None:
                raise JpegFormatError("missing huffman table")
        unit = 0
        for by in range(c["bh"]):
            for bx in range(c["bw"]):
                if restart_interval and unit and \
                        unit % restart_interval == 0:
                    restart_reset()
                unit += 1
                blk = c["coefs"][by * c["bw_full"] + bx]
                if ss == 0:
                    _dc_coef(r, blk, c, tab, ah, al)
                elif ah == 0:
                    _ac_first(r, blk, tab, ss, se, al, state)
                else:
                    _ac_refine(r, blk, tab, ss, se, al, state)
    return _skip_to_marker(payload, r.pos)


def _dc_coef(r, blk, comp, dc_tab, ah, al) -> None:
    if ah == 0:  # first DC scan: magnitude >> al via DIFF coding
        size = _decode_huff(r, dc_tab)
        diff = _extend(r.read(size), size)
        comp["pred"] += diff
        blk[0] = comp["pred"] << al
    else:  # refinement: one raw bit appends to the magnitude
        if r.read_bit():
            blk[0] |= 1 << al


def _ac_first(r, blk, ac_tab, ss, se, al, state) -> None:
    """First AC scan of a band (Ah=0): baseline run-length plus the
    EOBRUN extension — an EOB code with run r covers (1<<r)+bits
    blocks, this one included."""
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    k = ss
    while k <= se:
        rs = _decode_huff(r, ac_tab)
        run, size = rs >> 4, rs & 0x0F
        if size:
            k += run
            if k > se:
                raise JpegFormatError("AC index overrun")
            blk[k] = _extend(r.read(size), size) << al
            k += 1
        else:
            if run != 15:
                state["eobrun"] = (1 << run) - 1
                if run:
                    state["eobrun"] += r.read(run)
                break
            k += 16  # ZRL
    return


def _ac_refine(r, blk, ac_tab, ss, se, al, state) -> None:
    """AC refinement (Ah=Al+1): already-nonzero coefficients receive
    one correction bit each as the scan passes them; runs position
    NEWLY nonzero coefficients (always ±1<<al) counting only
    zero-history slots."""
    p1 = 1 << al
    m1 = -1 << al
    k = ss
    if state["eobrun"] == 0:
        while k <= se:
            rs = _decode_huff(r, ac_tab)
            run, size = rs >> 4, rs & 0x0F
            val = 0
            if size:
                if size != 1:
                    raise JpegFormatError("invalid AC refinement size")
                val = p1 if r.read_bit() else m1
            elif run != 15:
                state["eobrun"] = 1 << run
                if run:
                    state["eobrun"] += r.read(run)
                break  # rest of the band joins the EOB pass below
            # advance: refine nonzero coefficients, count down `run`
            # zero-history slots (ZRL refines through 16 of them)
            while k <= se:
                if blk[k] != 0:
                    if r.read_bit() and (blk[k] & p1) == 0:
                        blk[k] += p1 if blk[k] > 0 else m1
                else:
                    if run == 0:
                        break
                    run -= 1
                k += 1
            if val:
                if k > se:
                    raise JpegFormatError("AC refinement overrun")
                blk[k] = val
            k += 1
    if state["eobrun"] > 0:
        while k <= se:  # EOB pass still refines nonzero coefficients
            if blk[k] != 0:
                if r.read_bit() and (blk[k] & p1) == 0:
                    blk[k] += p1 if blk[k] > 0 else m1
            k += 1
        state["eobrun"] -= 1


def _finish_progressive(width, height, comps, qts):
    """All scans read: dequantize + IDCT every used block and hand the
    planes to the shared baseline assembly."""
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    for c in comps:
        qt = qts.get(c["tq"])
        if qt is None:
            raise JpegFormatError("missing quantization table")
        pw, ph = c["bw_full"] * 8, c["bh_full"] * 8
        c["pw"], c["ph"] = pw, ph
        plane = [0.0] * (pw * ph)
        c["plane"] = plane
        for by in range(c["bh"]):
            for bx in range(c["bw"]):
                zz = c["coefs"][by * c["bw_full"] + bx]
                coefs = [0.0] * 64
                for k in range(64):
                    coefs[ZIGZAG[k]] = zz[k] * qt[ZIGZAG[k]]
                px = idct2d(coefs)
                x0, y0 = bx * 8, by * 8
                for y in range(8):
                    base = (y0 + y) * pw + x0
                    row = y * 8
                    for x in range(8):
                        plane[base + x] = px[row + x] + 128.0
    return _assemble_rgb(width, height, comps, hmax, vmax)


def _decode_block(r, dc_tab, ac_tab, qt, comp) -> list[float]:
    zz = [0] * 64
    size = _decode_huff(r, dc_tab)
    diff = _extend(r.read(size), size)
    comp["pred"] += diff
    zz[0] = comp["pred"]
    k = 1
    while k < 64:
        rs = _decode_huff(r, ac_tab)
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run == 15:  # ZRL
                k += 16
                continue
            break  # EOB
        k += run
        if k > 63:
            raise JpegFormatError("AC index overrun")
        zz[k] = _extend(r.read(size), size)
        k += 1
    coefs = [0.0] * 64
    for k in range(64):
        coefs[ZIGZAG[k]] = zz[k] * qt[ZIGZAG[k]]
    px = idct2d(coefs)
    return [v + 128.0 for v in px]


def _place_block(comp, block, x0, y0) -> None:
    pw = comp["pw"]
    plane = comp["plane"]
    for y in range(8):
        base = (y0 + y) * pw + x0
        row = y * 8
        for x in range(8):
            plane[base + x] = block[row + x]


def _assemble_rgb(width, height, comps, hmax, vmax) -> tuple[int, int, list[float]]:
    out = [0.0] * (width * height * 3)
    if len(comps) == 1:
        c = comps[0]
        for y in range(height):
            for x in range(width):
                v = min(255.0, max(0.0, c["plane"][y * c["pw"] + x]))
                i = 3 * (y * width + x)
                out[i] = out[i + 1] = out[i + 2] = v
        return width, height, out
    if len(comps) != 3:
        raise JpegFormatError(f"{len(comps)}-component scans unsupported")

    def sample(c, x, y):
        sx = x * c["h"] // hmax
        sy = y * c["v"] // vmax
        return c["plane"][sy * c["pw"] + sx]

    cy, cb, cr = comps
    for y in range(height):
        for x in range(width):
            Y = sample(cy, x, y)
            B = sample(cb, x, y) - 128.0
            R = sample(cr, x, y) - 128.0
            i = 3 * (y * width + x)
            out[i] = min(255.0, max(0.0, Y + 1.402 * R))
            out[i + 1] = min(255.0, max(0.0, Y - 0.344136 * B - 0.714136 * R))
            out[i + 2] = min(255.0, max(0.0, Y + 1.772 * B))
    return width, height, out
