"""Wire-path compression codecs (sources/compression.py): pure-Python
LZ4 block+frame, Snappy block+xerial, xxHash32, zstd-via-pyarrow —
every format cross-validated BOTH directions against pyarrow's bundled
C implementations, so the bytes are the published formats, not a
private dialect. Reference parity: ConfiguracaoKafka.java:112-118
(codec matrix none/gzip/snappy/lz4/zstd, default lz4)."""

from __future__ import annotations

import os
import random

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
def test_lz4_block_cross_validated(i):
    d = CASES[i]
    pa = _pa()
    raw = pa.Codec("lz4_raw")
    assert raw.decompress(C.lz4_block_compress(d), len(d), asbytes=True) == d


@pytest.mark.parametrize("i", range(len(CASES)))
def test_lz4_frame_cross_validated(i):
    d = CASES[i]
    pa = _pa()
    frame = pa.Codec("lz4")  # pyarrow 'lz4' == LZ4 frame (linked blocks)
    assert frame.decompress(C.lz4_frame_compress(d), len(d), asbytes=True) == d
    assert C.lz4_frame_decompress(frame.compress(d, asbytes=True)) == d


@pytest.mark.parametrize("i", range(len(CASES)))
def test_snappy_cross_validated(i):
    d = CASES[i]
    pa = _pa()
    snap = pa.Codec("snappy")
    assert snap.decompress(C.snappy_block_compress(d), len(d), asbytes=True) == d
    assert C.snappy_block_decompress(snap.compress(d, asbytes=True)) == d
    # xerial framing round-trip (and bare-block fallback)
    assert C.snappy_xerial_decompress(C.snappy_xerial_compress(d)) == d
    assert C.snappy_xerial_decompress(C.snappy_block_compress(d)) == d


@pytest.mark.parametrize("codec", ["gzip", "snappy", "lz4", "zstd"])
def test_registry_roundtrip_all_codecs(codec):
    for d in CASES:
        assert C.decompress(codec, C.compress(codec, d)) == d
    with pytest.raises(NotImplementedError):
        C.compress("brotli", b"x")
    with pytest.raises(NotImplementedError):
        C.decompress("brotli", b"x")


def test_zstd_content_size_and_guess_path():
    d = b"conteudo zstd " * 500
    frame = C.zstd_compress(d)
    assert C._zstd_content_size(frame) == len(d)
    assert C.zstd_decompress(frame) == d
    with pytest.raises(ValueError, match="cap"):
        C.zstd_decompress(frame, max_size=10)


def test_hostile_input_is_valueerror_not_crash():
    for payload in (
        b"",
        b"\x00",
        b"\xff" * 40,
        os.urandom(64),
        C.lz4_frame_compress(b"ok")[:-3],  # truncated frame
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


def test_lz4_frame_optional_fields():
    """Frames with content-size / content-checksum flags (lz4 CLI
    defaults) decode: build one by hand with the optional fields."""
    import struct

    data = b"payload " * 100
    block = C.lz4_block_compress(data)
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
