"""FLAC codec pins (operators/flac_codec.py): exact encode→decode
round-trips (the lossless-codec gold standard — sample-identical plus
STREAMINFO MD5), UTF-8 coded-number units, and HAND-CRAFTED bitstreams
for every decoder-only path the encoder never emits (LPC, stereo
decorrelation, wasted bits, rice2, multi-partition residuals, escape
partitions). CRC/MD5 corruption must raise."""

import hashlib
import struct

import pytest

from teste_carga_avro_vs_json_spark.operators import flac_codec as fc


def _noise(tag: str, n: int, bps: int = 16) -> list[int]:
    out: list[int] = []
    seed = b""
    while len(out) < n:
        seed = hashlib.md5(tag.encode() + seed).digest()
        for i in range(0, 16, 2):
            v = int.from_bytes(seed[i : i + 2], "little", signed=True)
            out.append(v >> (16 - bps) if bps <= 16 else v << (bps - 16))
    return out[:n]


# --------------------------------------------------------- round trips


def test_roundtrip_exact_shapes():
    cases = [
        (_noise("a", 10000), 1, 16),          # mono noise
        (_noise("b", 2 * 4097), 2, 16),       # stereo, partial last frame
        (_noise("c", 3 * 1000), 3, 16),       # 3 channels
        (_noise("d", 3000, 8), 1, 8),         # 8-bit
        (_noise("e", 3000, 24), 1, 24),       # 24-bit
        ([((i * 3) % 20000) - 10000 for i in range(8192)], 1, 16),  # ramp
        ([123] * 5000, 1, 16),                # constant
        ([0] * 10, 1, 16),                    # tiny
    ]
    for samples, ch, bps in cases:
        blob = fc.encode_flac(samples, channels=ch, sample_rate=22050,
                              bps=bps)
        rate, c, b, got = fc.decode_flac(blob)
        assert (rate, c, b) == (22050, ch, bps)
        assert got == samples


def test_predictors_actually_compress():
    ramp = [((i * 3) % 20000) - 10000 for i in range(8192)]
    blob = fc.encode_flac(ramp)
    assert len(blob) < len(ramp) * 2 * 0.3  # fixed predictors crush it
    const = [7] * 8192
    assert len(fc.encode_flac(const)) < 100  # constant subframes


def test_many_frames_utf8_numbers():
    # block_size 192 → frame numbers beyond 127 exercise multi-byte
    # coded numbers inside real frames
    samples = _noise("f", 192 * 150)
    blob = fc.encode_flac(samples, block_size=192)
    assert fc.decode_flac(blob)[3] == samples


def test_utf8_coded_number_units():
    for v in (0, 1, 127, 128, 2047, 2048, 65535, 1 << 20, (1 << 31) - 1,
              (1 << 36) - 1):
        enc = fc._utf8_coded(v)
        assert fc._read_utf8_coded(fc._BitReader(enc)) == v


def test_corruption_raises():
    samples = _noise("g", 5000)
    blob = bytearray(fc.encode_flac(samples))
    # flip a byte inside the first frame's subframe data
    blob[200] ^= 0xFF
    with pytest.raises(fc.FlacFormatError):
        fc.decode_flac(bytes(blob))
    with pytest.raises(fc.FlacFormatError):
        fc.decode_flac(b"NOPE" + bytes(blob[4:]))
    with pytest.raises(fc.FlacFormatError):
        fc.decode_flac(bytes(fc.encode_flac(samples)[: len(blob) // 2]))


# ------------------------------------------------- crafted bitstreams


def _craft_stream(bs, bps, rate, channels, chan_code, write_subframes,
                  total=None):
    w = fc._BitWriter()
    w.write(bs, 16)
    w.write(bs, 16)
    w.write(0, 24)
    w.write(0, 24)
    w.write(rate, 20)
    w.write(channels - 1, 3)
    w.write(bps - 1, 5)
    w.write(bs if total is None else total, 36)
    si = w.bytes() + b"\x00" * 16  # zero MD5 → decoder skips the check
    header = fc.MAGIC + bytes([0x80]) + len(si).to_bytes(3, "big")

    fw = fc._BitWriter()
    fw.write(0b11111111111110, 14)
    fw.write(0, 1)
    fw.write(0, 1)
    fw.write(7, 4)  # 16-bit (blocksize-1) follows
    fw.write(0, 4)  # rate from STREAMINFO
    fw.write(chan_code, 4)
    fw.write({8: 1, 12: 2, 16: 4, 20: 5, 24: 6}[bps], 3)
    fw.write(0, 1)
    fw.write(fc._utf8_coded(0)[0], 8)
    fw.write(bs - 1, 16)
    fw.align()
    head = fw.bytes()
    head += bytes([fc._crc8(head)])
    body = fc._BitWriter()
    write_subframes(body)
    body.align()
    frame = head + body.bytes()
    frame += struct.pack(">H", fc._crc16(frame))
    return header + si + frame


def _w_verbatim(w, block, bits):
    w.write(0, 1)
    w.write(1, 6)
    w.write(0, 1)
    for s in block:
        w.write(s & ((1 << bits) - 1), bits)


def _w_rice_residual(w, resid, k, method=0, po=0, order=0, bs=None):
    w.write(method, 2)
    w.write(po, 4)
    n_parts = 1 << po
    pbits = 4 if method == 0 else 5
    idx = 0
    for p in range(n_parts):
        count = bs // n_parts - (order if p == 0 else 0)
        w.write(k, pbits)
        for _ in range(count):
            u = fc._zigzag(resid[idx])
            idx += 1
            w.write_unary(u >> k)
            w.write(u & ((1 << k) - 1), k)
    assert idx == len(resid)


def test_crafted_lpc_subframe():
    """LPC order 1 with coef=2, shift=1 → predictor (2·prev)>>1 = prev,
    numerically identical to FIXED order 1 — a KNOWN outcome that pins
    the LPC bit layout (warmup, precision, shift, coefs, residual)."""
    block = _noise("lpc", 64)
    resid = [block[i] - block[i - 1] for i in range(1, len(block))]

    def subframes(w):
        w.write(0, 1)
        w.write(0b100000, 6)  # LPC, order-1 bits = 0 → order 1
        w.write(0, 1)
        w.write(block[0] & 0xFFFF, 16)  # warmup
        w.write(3, 4)   # precision-1 → 4 bits
        w.write(1, 5)   # shift 1
        w.write(2, 4)   # coef = 2
        _w_rice_residual(w, resid, k=9, order=1, bs=len(block))

    blob = _craft_stream(len(block), 16, 8000, 1, 0, subframes)
    assert fc.decode_flac(blob)[3] == block


def test_crafted_stereo_decorrelation():
    left = _noise("L", 48)
    right = _noise("R", 48)
    mid = [(l + r) >> 1 for l, r in zip(left, right)]
    side = [l - r for l, r in zip(left, right)]
    inter = [v for lr in zip(left, right) for v in lr]

    def ms(w):  # mid/side: mid @16, side @17
        _w_verbatim(w, mid, 16)
        _w_verbatim(w, side, 17)

    def ls(w):  # left/side
        _w_verbatim(w, left, 16)
        _w_verbatim(w, side, 17)

    def rs(w):  # right/side
        _w_verbatim(w, side, 17)
        _w_verbatim(w, right, 16)

    for code, writer in ((10, ms), (8, ls), (9, rs)):
        blob = _craft_stream(48, 16, 8000, 2, code, writer)
        rate, c, b, got = fc.decode_flac(blob)
        assert got == inter, f"chan_code {code}"


def test_crafted_wasted_bits():
    block = [s * 4 for s in _noise("w", 32, 8)]  # 2 wasted bits each

    def subframes(w):
        w.write(0, 1)
        w.write(1, 6)        # verbatim
        w.write(1, 1)        # wasted flag
        w.write(0b01, 2)     # unary 1 → wasted = 2
        for s in block:
            w.write((s >> 2) & ((1 << 14) - 1), 14)  # bps-2 bits

    blob = _craft_stream(32, 16, 8000, 1, 0, subframes)
    assert fc.decode_flac(blob)[3] == block


def test_crafted_rice2_and_partitions():
    block = _noise("p", 64)
    resid = [block[i] - block[i - 1] for i in range(1, len(block))]

    def subframes(w):
        w.write(0, 1)
        w.write(0b001001, 6)  # fixed order 1
        w.write(0, 1)
        w.write(block[0] & 0xFFFF, 16)
        # rice2 (5-bit params), partition order 2 → 4 partitions
        _w_rice_residual(w, resid, k=9, method=1, po=2, order=1,
                         bs=len(block))

    blob = _craft_stream(64, 16, 8000, 1, 0, subframes)
    assert fc.decode_flac(blob)[3] == block


def test_crafted_escape_partition():
    block = _noise("esc", 40)
    resid = [block[i] - block[i - 1] for i in range(1, len(block))]
    width = max(fc._zigzag(r).bit_length() + 1 for r in resid)

    def subframes(w):
        w.write(0, 1)
        w.write(0b001001, 6)
        w.write(0, 1)
        w.write(block[0] & 0xFFFF, 16)
        w.write(0, 2)
        w.write(0, 4)
        w.write(0b1111, 4)      # escape
        w.write(width, 5)       # raw width
        for r in resid:
            w.write(r & ((1 << width) - 1), width)

    blob = _craft_stream(40, 16, 8000, 1, 0, subframes)
    assert fc.decode_flac(blob)[3] == block
    # width=0 escape means all-zero residual
    zeros = [5] * 24

    def subframes0(w):
        w.write(0, 1)
        w.write(0b001001, 6)
        w.write(0, 1)
        w.write(5 & 0xFFFF, 16)
        w.write(0, 2)
        w.write(0, 4)
        w.write(0b1111, 4)
        w.write(0, 5)

    blob0 = _craft_stream(24, 16, 8000, 1, 0, subframes0)
    assert fc.decode_flac(blob0)[3] == zeros


# --------------------------------------------------- Spark integration
