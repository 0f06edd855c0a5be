"""Kafka wire-path compression codecs.

The reference supports none/gzip/snappy/lz4/zstd and DEFAULTS to lz4
(ConfiguracaoKafka.java:112-118), so the wire producer must write, and
the connector-less reader (io_kafka.read_kafka_tail_n -> wire source)
must decode, what a real broker serves.

Compression goes through pyarrow's bundled C codecs (the package
requires pyarrow: ``functions/avro_vec`` imports it at module top).
This module writes only the framing Kafka expects around them:

- **LZ4 frame** (codec id 3): magic 0x184D2204, FLG/BD descriptor with
  independent <=64 KiB blocks, xxHash32 header checksum, end mark; each
  block is pyarrow ``lz4_raw``. pyarrow's own ``lz4`` frame codec
  writes LINKED blocks, which is not Kafka's shape, so the frame is
  written here. xxHash32 is implemented here for the checksums.
- **Snappy, xerial-framed** (codec id 2): the stream framing the Java
  client's SnappyOutputStream writes (magic ``\\x82SNAPPY\\x00``, BE
  version/compat words, BE-length-prefixed chunks) around pyarrow
  ``snappy`` raw blocks.
- **zstd** (codec id 4): pyarrow both ways; decode reads the frame as
  a stream, so frames without Frame_Content_Size decode too.

The lz4 and snappy DECODERS stay pure Python: pyarrow's block and
frame decoders demand the decompressed size up front, which Kafka's
frames do not carry, and the LZ4 frame decoder here reads both linked
and independent blocks. Every decoder is cross-validated in tests
against pyarrow's output.

Error contract: :func:`decompress` raises ``ValueError`` on malformed
input for every codec (pinned by ``tests/test_fuzz_decoders.py``).

Scale note: these paths serve the no-JVM-connector fallback and the
loopback broker. On a cluster the JVM Kafka connector decompresses
batches natively (SCALE.md); nothing here sits in the 100 TB hot path.
"""

from __future__ import annotations

import gzip
import struct
import zlib

import pyarrow as pa

try:  # pickle-by-value: executors don't need the repo on PYTHONPATH
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:  # noqa: BLE001
    pass


# ------------------------------------------------------------ xxHash32
_P1, _P2, _P3, _P4, _P5 = (
    2654435761, 2246822519, 3266489917, 668265263, 374761393,
)
_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def xxh32(data: bytes, seed: int = 0) -> int:
    """xxHash32 (public algorithm, xxhash.com spec) — the checksum the
    LZ4 frame format mandates for its header and content checks."""
    n = len(data)
    i = 0
    if n >= 16:
        v1 = (seed + _P1 + _P2) & _M32
        v2 = (seed + _P2) & _M32
        v3 = seed & _M32
        v4 = (seed - _P1) & _M32
        lanes = (n // 16) * 4
        words = struct.unpack_from(f"<{lanes}I", data)
        for j in range(0, lanes, 4):
            v1 = (_rotl32((v1 + words[j] * _P2) & _M32, 13) * _P1) & _M32
            v2 = (_rotl32((v2 + words[j + 1] * _P2) & _M32, 13) * _P1) & _M32
            v3 = (_rotl32((v3 + words[j + 2] * _P2) & _M32, 13) * _P1) & _M32
            v4 = (_rotl32((v4 + words[j + 3] * _P2) & _M32, 13) * _P1) & _M32
        h = (
            _rotl32(v1, 1) + _rotl32(v2, 7) + _rotl32(v3, 12) + _rotl32(v4, 18)
        ) & _M32
        i = lanes * 4
    else:
        h = (seed + _P5) & _M32
    h = (h + n) & _M32
    while i + 4 <= n:
        (w,) = struct.unpack_from("<I", data, i)
        h = (_rotl32((h + w * _P3) & _M32, 17) * _P4) & _M32
        i += 4
    while i < n:
        h = (_rotl32((h + data[i] * _P5) & _M32, 11) * _P1) & _M32
        i += 1
    h ^= h >> 15
    h = (h * _P2) & _M32
    h ^= h >> 13
    h = (h * _P3) & _M32
    h ^= h >> 16
    return h


# ------------------------------------------------------------ LZ4 block
_LZ4_MIN_MATCH = 4


def _lz4_decompress_into(
    src: bytes, out: bytearray, max_size: int, base: int
) -> None:
    """Decode one block appending to ``out``. ``base`` is the index in
    ``out`` where this block starts: 0 for an independent block; for
    LINKED frame blocks (block-independence flag off — what pyarrow and
    lz4 CLI write by default) the already-decoded prior blocks sit
    below ``base`` and matches may reach up to 64 KiB into them."""
    i, n = 0, len(src)
    try:
        while i < n:
            token = src[i]
            i += 1
            lit = token >> 4
            if lit == 15:
                while True:
                    b = src[i]
                    i += 1
                    lit += b
                    if b != 255:
                        break
            if lit:
                if i + lit > n:
                    raise ValueError("literal run past end of block")
                out += src[i : i + lit]
                i += lit
            if i >= n:
                break  # last sequence carries no match
            offset = src[i] | (src[i + 1] << 8)
            i += 2
            if offset == 0 or offset > len(out):
                # offsets below `base` are valid linked-block history,
                # so the bound is the whole accumulated output
                raise ValueError(f"bad match offset {offset}")
            mlen = token & 0xF
            if mlen == 15:
                while True:
                    b = src[i]
                    i += 1
                    mlen += b
                    if b != 255:
                        break
            mlen += _LZ4_MIN_MATCH
            if len(out) + mlen > max_size:
                raise ValueError("decompressed size exceeds cap")
            start = len(out) - offset
            if offset >= mlen:
                out += out[start : start + mlen]
            else:  # overlap: the copied region repeats
                seg = out[start:]
                reps = mlen // offset + 1
                out += (seg * reps)[:mlen]
    except IndexError as e:
        raise ValueError("truncated LZ4 block") from e


# ------------------------------------------------------------ LZ4 frame
_LZ4_MAGIC = 0x184D2204
_LZ4_BLOCK_MAX = 1 << 16  # 64 KiB blocks (BD code 4), Kafka's choice


def lz4_frame_compress(data: bytes) -> bytes:
    """LZ4 frame: FLG = version 01 + independent blocks, BD = 64 KiB
    max block, xxh32 header checksum, per-block compressed-or-stored
    choice, end mark. No content size/checksum (Kafka's writer omits
    them too). Each block is compressed by pyarrow's ``lz4_raw``."""
    flg = (1 << 6) | (1 << 5)  # version 01, block independence
    bd = 4 << 4  # 64 KiB max block size
    desc = bytes([flg, bd])
    out = bytearray(struct.pack("<I", _LZ4_MAGIC))
    out += desc
    out.append((xxh32(desc) >> 8) & 0xFF)
    raw = pa.Codec("lz4_raw")
    for pos in range(0, len(data), _LZ4_BLOCK_MAX):
        block = data[pos : pos + _LZ4_BLOCK_MAX]
        comp = raw.compress(block, asbytes=True)
        if len(comp) < len(block):
            out += struct.pack("<I", len(comp))
            out += comp
        else:  # store uncompressed, high bit set
            out += struct.pack("<I", len(block) | 0x80000000)
            out += block
    out += struct.pack("<I", 0)  # end mark
    return bytes(out)


def lz4_frame_decompress(data: bytes, max_size: int = 1 << 30) -> bytes:
    """LZ4 frame decode: header (verifying the xxh32 HC byte), blocks
    (compressed or stored), end mark; skips optional block/content
    checksums and dictionary id per the spec flags."""
    try:
        (magic,) = struct.unpack_from("<I", data, 0)
        if magic != _LZ4_MAGIC:
            raise ValueError(f"not an LZ4 frame (magic {magic:#x})")
        flg, _bd = data[4], data[5]
        if (flg >> 6) != 1:
            raise ValueError(f"unsupported LZ4 frame version {flg >> 6}")
        pos = 6
        desc_end = 6
        if flg & 0x08:  # content size
            desc_end += 8
        if flg & 0x01:  # dictionary id
            desc_end += 4
        pos = desc_end
        hc = data[pos]
        pos += 1
        if hc != ((xxh32(data[4:desc_end]) >> 8) & 0xFF):
            raise ValueError("LZ4 frame header checksum mismatch")
        block_checksums = bool(flg & 0x10)
        out = bytearray()
        while True:
            (size,) = struct.unpack_from("<I", data, pos)
            pos += 4
            if size == 0:  # end mark
                break
            stored = bool(size & 0x80000000)
            size &= 0x7FFFFFFF
            block = data[pos : pos + size]
            if len(block) != size:
                raise ValueError("truncated LZ4 frame block")
            pos += size
            if block_checksums:
                (bc,) = struct.unpack_from("<I", data, pos)
                pos += 4
                if bc != xxh32(block):
                    raise ValueError("LZ4 block checksum mismatch")
            if stored:
                out += block
            else:  # linked-block matches may reach into prior blocks
                _lz4_decompress_into(block, out, max_size, len(out))
            if len(out) > max_size:
                raise ValueError("decompressed size exceeds cap")
        if flg & 0x04:  # content checksum
            (cc,) = struct.unpack_from("<I", data, pos)
            if cc != xxh32(bytes(out)):
                raise ValueError("LZ4 content checksum mismatch")
        return bytes(out)
    except (struct.error, IndexError) as e:
        raise ValueError("truncated LZ4 frame") from e


# ------------------------------------------------------------- Snappy
def snappy_block_decompress(src: bytes, max_size: int = 1 << 30) -> bytes:
    """Snappy raw-block decode per the format description: varint
    preamble then literal/copy elements; overlap copies repeat."""
    i, n = 0, len(src)
    # varint uncompressed length
    expect = shift = 0
    try:
        while True:
            b = src[i]
            i += 1
            expect |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        if expect > max_size:
            raise ValueError("snappy decompressed size exceeds cap")
        out = bytearray()
        while i < n:
            tag = src[i]
            i += 1
            kind = tag & 0x03
            if kind == 0:  # literal
                ln = tag >> 2
                if ln >= 60:
                    extra = ln - 59
                    ln = int.from_bytes(src[i : i + extra], "little")
                    i += extra
                ln += 1
                if i + ln > n:
                    raise ValueError("snappy literal past end")
                out += src[i : i + ln]
                i += ln
                continue
            if kind == 1:  # copy, 11-bit offset, 3-bit len
                ln = ((tag >> 2) & 0x07) + 4
                offset = ((tag >> 5) << 8) | src[i]
                i += 1
            elif kind == 2:  # copy, 2-byte LE offset
                ln = (tag >> 2) + 1
                offset = src[i] | (src[i + 1] << 8)
                i += 2
            else:  # copy, 4-byte LE offset
                ln = (tag >> 2) + 1
                (offset,) = struct.unpack_from("<I", src, i)
                i += 4
            if offset == 0 or offset > len(out):
                raise ValueError(f"bad snappy copy offset {offset}")
            start = len(out) - offset
            if offset >= ln:
                out += out[start : start + ln]
            else:
                seg = out[start:]
                out += (seg * (ln // offset + 1))[:ln]
        if len(out) != expect:
            raise ValueError(
                f"snappy length mismatch: {len(out)} != {expect}"
            )
        return bytes(out)
    except (IndexError, struct.error) as e:
        raise ValueError("truncated snappy block") from e


_XERIAL_MAGIC = b"\x82SNAPPY\x00"


def snappy_xerial_compress(data: bytes, chunk: int = 32 << 10) -> bytes:
    """Xerial stream framing (what the Java client's SnappyOutputStream
    writes for Kafka batches): magic + BE version/compat + BE-length-
    prefixed raw snappy chunks of <=32 KiB input each, compressed by
    pyarrow's ``snappy``."""
    out = bytearray(_XERIAL_MAGIC)
    out += struct.pack(">ii", 1, 1)
    snap = pa.Codec("snappy")
    for pos in range(0, len(data), chunk):
        block = snap.compress(data[pos : pos + chunk], asbytes=True)
        out += struct.pack(">i", len(block))
        out += block
    return bytes(out)


def snappy_xerial_decompress(data: bytes, max_size: int = 1 << 30) -> bytes:
    """Decode xerial-framed snappy; bare raw-block input (some clients
    skip the framing) is handled by falling back to a single block."""
    if not data.startswith(_XERIAL_MAGIC):
        return snappy_block_decompress(data, max_size)
    pos = len(_XERIAL_MAGIC) + 8  # skip version/compat
    out = bytearray()
    try:
        while pos < len(data):
            (ln,) = struct.unpack_from(">i", data, pos)
            pos += 4
            if ln < 0 or pos + ln > len(data):
                raise ValueError("truncated xerial chunk")
            out += snappy_block_decompress(
                data[pos : pos + ln], max_size - len(out)
            )
            pos += ln
        return bytes(out)
    except struct.error as e:
        raise ValueError("truncated xerial frame") from e


# -------------------------------------------------------------- zstd
_ZSTD_READ = 1 << 20  # stream read size: bounds the overshoot past max_size


def zstd_compress(data: bytes) -> bytes:
    """zstd via pyarrow's bundled libzstd."""
    return pa.Codec("zstd").compress(data, asbytes=True)


def zstd_decompress(data: bytes, max_size: int = 1 << 30) -> bytes:
    """zstd via pyarrow, read as a stream in 1 MiB chunks.
    ``pa.Codec.decompress`` needs the exact output size, which frames
    from streaming writers do not carry (Frame_Content_Size is
    optional); the stream reader needs none, decodes concatenated
    frames, and checks the cap after each chunk, so the output never
    passes it by more than one chunk."""
    out = bytearray()
    try:
        with pa.CompressedInputStream(pa.BufferReader(data), "zstd") as src:
            while chunk := src.read(_ZSTD_READ):
                out += chunk
                if len(out) > max_size:
                    raise ValueError("zstd decompressed size exceeds cap")
    except OSError as e:  # libzstd errors surface as ArrowIOError
        raise ValueError(f"corrupt zstd frame: {e}") from e
    return bytes(out)


# -------------------------------------------------------------- gzip
def gzip_decompress(data: bytes, max_size: int = 1 << 30) -> bytes:
    """gzip via zlib, member after member like ``gzip.decompress``;
    ``max_length`` stops each inflate one byte past the cap, so a
    deflate bomb raises before its output outgrows the cap."""
    out = bytearray()
    try:
        while data:
            member = zlib.decompressobj(16 + zlib.MAX_WBITS)
            out += member.decompress(data, max_size + 1 - len(out))
            if len(out) > max_size:
                raise ValueError("gzip decompressed size exceeds cap")
            if not member.eof:
                raise ValueError("truncated gzip member")
            data = member.unused_data.lstrip(b"\0")
    except zlib.error as e:
        raise ValueError(f"corrupt gzip payload: {e}") from e
    return bytes(out)


# ------------------------------------------------- Kafka codec registry
# attributes bits 0-2 of a v2 record batch -> (compress, decompress)
KAFKA_CODECS: dict[int, str] = {0: "none", 1: "gzip", 2: "snappy", 3: "lz4", 4: "zstd"}
KAFKA_CODEC_IDS = {v: k for k, v in KAFKA_CODECS.items()}


def compress(codec: str, data: bytes) -> bytes:
    if codec == "gzip":
        return gzip.compress(data)
    if codec == "snappy":
        return snappy_xerial_compress(data)
    if codec == "lz4":
        return lz4_frame_compress(data)
    if codec == "zstd":
        return zstd_compress(data)
    raise NotImplementedError(f"unsupported compression codec {codec!r}")


def decompress(codec: str, data: bytes) -> bytes:
    if codec == "gzip":
        return gzip_decompress(data)
    if codec == "snappy":
        return snappy_xerial_decompress(data)
    if codec == "lz4":
        return lz4_frame_decompress(data)
    if codec == "zstd":
        return zstd_decompress(data)
    raise NotImplementedError(f"unsupported compression codec {codec!r}")
