"""Wire-path compression codecs (sources/compression.py): the LZ4
frame and xerial Snappy framing around pyarrow's block compressors,
the pure-Python LZ4/Snappy decoders, xxHash32 and zstd-via-pyarrow —
every format cross-validated against pyarrow's bundled C
implementations, so the bytes are the published formats, not a
private dialect. Reference parity: ConfiguracaoKafka.java:112-118
(codec matrix none/gzip/snappy/lz4/zstd, default lz4)."""

from __future__ import annotations

import gzip
import os
import random
import struct

import pytest

from teste_carga_avro_vs_json_spark.sources import compression as C

random.seed(20260814)
CASES = [
    b"",
    b"a",
    b"abcd" * 3,
    bytes(range(256)),
    b"hello world " * 1000,
    os.urandom(5000),  # incompressible
    (b"the quick brown fox " * 40 + os.urandom(100)) * 13,
    bytes(random.choices(b"abcde", k=200_000)),  # multi-block, low entropy
]


def _pa():
    pyarrow = pytest.importorskip("pyarrow")
    return pyarrow


def test_xxh32_known_vectors():
    # published xxHash32 vectors (xxhash.com)
    assert C.xxh32(b"") == 0x02CC5D05
    assert C.xxh32(b"abc") == 0x32D153FF
    assert C.xxh32(b"Nobody inspects the spammish repetition") == 0xE2293B2F
    assert C.xxh32(b"abc", seed=1) != C.xxh32(b"abc")


@pytest.mark.parametrize("i", range(len(CASES)))
def test_lz4_frame_cross_validated(i):
    d = CASES[i]
    pa = _pa()
    frame = pa.Codec("lz4")  # pyarrow 'lz4' == LZ4 frame (linked blocks)
    ours = C.lz4_frame_compress(d)
    assert ours[4] & 0x20  # FLG block independence: Kafka's frame shape
    assert frame.decompress(ours, len(d), asbytes=True) == d
    assert C.lz4_frame_decompress(frame.compress(d, asbytes=True)) == d


@pytest.mark.parametrize("i", range(len(CASES)))
def test_snappy_cross_validated(i):
    d = CASES[i]
    pa = _pa()
    snap = pa.Codec("snappy")
    block = snap.compress(d, asbytes=True)
    assert C.snappy_block_decompress(block) == d
    # xerial framing round-trip (and bare-block fallback)
    assert C.snappy_xerial_decompress(C.snappy_xerial_compress(d)) == d
    assert C.snappy_xerial_decompress(block) == d


@pytest.mark.parametrize("codec", ["gzip", "snappy", "lz4", "zstd"])
def test_registry_roundtrip_all_codecs(codec):
    for d in CASES:
        assert C.decompress(codec, C.compress(codec, d)) == d
    with pytest.raises(NotImplementedError):
        C.compress("brotli", b"x")
    with pytest.raises(NotImplementedError):
        C.decompress("brotli", b"x")


def _zstd_raw_frame(payload: bytes) -> bytes:
    """One zstd frame (RFC 8878) holding ``payload`` as a single raw
    block, without Frame_Content_Size: the shape streaming writers
    emit. FHD 0x00 = no single-segment, no checksum, no dictionary."""
    assert len(payload) <= 1 << 17  # Block_Maximum_Size
    header = struct.pack("<I", 0xFD2FB528) + bytes([0x00, 7 << 3])  # 128 KiB window
    block = (1 | len(payload) << 3).to_bytes(3, "little")  # last, raw
    return header + block + payload


def test_zstd_frames_with_and_without_content_size():
    d = b"conteudo zstd " * 500
    frame = C.zstd_compress(d)  # libzstd writes Frame_Content_Size
    assert C.zstd_decompress(frame) == d
    with pytest.raises(ValueError, match="cap"):
        C.zstd_decompress(frame, max_size=10)
    d = bytes(random.Random(7).choices(range(256), k=90_000))
    frame = _zstd_raw_frame(d)
    assert frame[4] == 0x00 and len(d) >= 1 << 16
    assert C.zstd_decompress(frame) == d
    assert C.zstd_decompress(frame + frame) == d + d  # concatenated frames
    with pytest.raises(ValueError, match="cap"):
        C.zstd_decompress(frame, max_size=len(d) - 1)


def test_hostile_input_is_valueerror_not_crash():
    for payload in (
        b"",
        b"\x00",
        b"\xff" * 40,
        os.urandom(64),
        C.lz4_frame_compress(b"ok")[:-3],  # truncated frame
        bytes.fromhex("6e7fb7"),  # copy4 tag past the end of the input
    ):
        for fn in (
            C.lz4_frame_decompress,
            C.snappy_block_decompress,
        ):
            try:
                fn(payload)
            except ValueError:
                pass  # clean error is the contract
    # bad frame header checksum
    f = bytearray(C.lz4_frame_compress(b"dados"))
    f[6] ^= 0xFF  # HC byte
    with pytest.raises(ValueError, match="header checksum"):
        C.lz4_frame_decompress(bytes(f))
    # oversized output can't balloon memory
    with pytest.raises(ValueError):
        C.lz4_frame_decompress(
            C.lz4_frame_compress(b"z" * 100_000), max_size=1000
        )
    with pytest.raises(ValueError, match="exceeds cap"):
        C.gzip_decompress(gzip.compress(b"z" * 100_000), max_size=1000)


def test_lz4_frame_optional_fields():
    """Frames with content-size / content-checksum flags (lz4 CLI
    defaults) decode: build one by hand with the optional fields."""
    data = b"payload " * 100
    block = _pa().Codec("lz4_raw").compress(data, asbytes=True)
    flg = (1 << 6) | (1 << 5) | 0x08 | 0x04  # +content size +checksum
    desc = bytes([flg, 4 << 4]) + struct.pack("<Q", len(data))
    out = bytearray(struct.pack("<I", 0x184D2204))
    out += desc
    out.append((C.xxh32(desc) >> 8) & 0xFF)
    out += struct.pack("<I", len(block))
    out += block
    out += struct.pack("<I", 0)
    out += struct.pack("<I", C.xxh32(data))
    assert C.lz4_frame_decompress(bytes(out)) == data
    # corrupt the content checksum -> clean failure
    bad = bytearray(out)
    bad[-1] ^= 0x01
    with pytest.raises(ValueError, match="content checksum"):
        C.lz4_frame_decompress(bytes(bad))
