"""GIF89a codec pins (operators/multimodal.py): LZW round-trips incl.
dictionary overflow and the KwKwK case, exact-pixel encode→decode
round-trips (plain + interlaced), the published minimal-GIF byte
string decoded as an external golden, hand-crafted partial-rect /
transparency / disposal compositing."""

import struct

import pytest

from teste_carga_avro_vs_json_spark.operators import multimodal as mm
from teste_carga_avro_vs_json_spark.operators import phash as ph


def _md5_bytes(tag: str, n: int) -> bytes:
    import hashlib

    seed = hashlib.md5(tag.encode()).digest()
    return (seed * (n // 16 + 1))[:n]


# ------------------------------------------------------------- LZW


def test_lzw_roundtrip_shapes():
    cases = [
        (b"", 2),
        (b"\x00", 2),
        (b"\x00\x01\x02\x03" * 3, 2),
        (_md5_bytes("a", 500), 8),          # full-byte alphabet
        (bytes(b & 0x0F for b in _md5_bytes("b", 20000)), 4),  # overflow→CLEAR
        (b"\x01" * 9000, 2),                # degenerate runs
    ]
    for data, mcs in cases:
        enc = mm._lzw_encode(data, mcs)
        assert bytes(mm._lzw_decode(enc, mcs)) == data


def test_lzw_kwkwk_case():
    # 'abababab' forces the decoder's code==len(table) branch
    data = b"\x00\x01\x00\x01\x00\x01\x00\x01\x00\x01"
    enc = mm._lzw_encode(data, 2)
    assert bytes(mm._lzw_decode(enc, 2)) == data


# ------------------------------------------------------ round trips


def test_gif_roundtrip_exact_pixels():
    w, h, n_frames = 11, 7, 4
    frames = [_md5_bytes(f"f{i}", w * h) for i in range(n_frames)]
    for interlace in (False, True):
        gif = mm.encode_gif_stdlib(
            w, h, frames, mm.GRAY_PALETTE, interlace=interlace
        )
        gw, gh, out = mm.decode_gif_stdlib(gif)
        assert (gw, gh, len(out)) == (w, h, n_frames)
        for want_idx, got_rgb in zip(frames, out):
            want_rgb = bytes(v for i in want_idx for v in (i, i, i))
            assert got_rgb == want_rgb
    # deterministic bytes: rebuild == build
    assert mm.encode_gif_stdlib(w, h, frames, mm.GRAY_PALETTE) == \
        mm.encode_gif_stdlib(w, h, frames, mm.GRAY_PALETTE)


def test_gif_small_palette_and_guards():
    pal = bytes((255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9))  # 4 colors
    frames = [bytes([0, 1, 2, 3, 3, 2, 1, 0, 1])]
    gif = mm.encode_gif_stdlib(3, 3, frames, pal)
    _, _, out = mm.decode_gif_stdlib(gif)
    want = bytes(v for i in frames[0] for v in pal[3 * i : 3 * i + 3])
    assert out[0] == want
    with pytest.raises(NotImplementedError):
        mm.encode_gif_stdlib(3, 3, frames, pal[:9])  # 3 colors: not 2^k
    with pytest.raises(NotImplementedError):
        mm.encode_gif_stdlib(4, 3, frames, pal)  # raster size mismatch
    with pytest.raises(NotImplementedError):
        mm.decode_gif_stdlib(b"PNG nope")


def test_minimal_published_gif_decodes():
    # The canonical "smallest valid GIF": 1x1, white GCT entry 0 —
    # a widely published byte string, decoded here as an external
    # golden (the codec never saw these bytes in its own tests).
    blob = (
        b"GIF89a\x01\x00\x01\x00\x80\x00\x00\xff\xff\xff\x00\x00\x00"
        b",\x00\x00\x00\x00\x01\x00\x01\x00\x00\x02\x02D\x01\x00;"
    )
    w, h, frames = mm.decode_gif_stdlib(blob)
    assert (w, h, len(frames)) == (1, 1, 1)
    assert frames[0] == b"\xff\xff\xff"


def test_partial_rect_transparency_and_disposal():
    """Hand-crafted 2-frame GIF on a 3x2 canvas: frame 1 paints the
    full canvas; frame 2 is a 2x1 rect at (1,1) where one pixel is
    transparent (leaves frame 1's pixel) — then disposal=2 clears the
    rect to background for any later frame."""
    pal = bytes((10, 10, 10, 200, 200, 200, 0, 255, 0, 7, 7, 7))
    full = bytes([0, 1, 2, 2, 1, 0])  # row-major 3x2
    rect = bytes([3, 1])  # index 1 will be marked transparent
    body = bytearray(b"GIF89a")
    body += struct.pack("<HHBBB", 3, 2, 0x80 | 1, 0, 0)  # GCT, 4 entries
    body += pal
    # frame 1: no GCE, full canvas
    body += b"\x2c" + struct.pack("<HHHHB", 0, 0, 3, 2, 0)
    body += bytes([2]) + mm._sub_blocks(mm._lzw_encode(full, 2))
    # frame 2: GCE disposal=2, transparent index 1; 2x1 rect at (1,1)
    body += b"\x21\xf9\x04" + struct.pack(
        "<BHB", (2 << 2) | 0x01, 0, 1
    ) + b"\x00"
    body += b"\x2c" + struct.pack("<HHHHB", 1, 1, 2, 1, 0)
    body += bytes([2]) + mm._sub_blocks(mm._lzw_encode(rect, 2))
    # frame 3: full canvas again, proves the disposal-2 clear happened
    # on the canvas THEN got overpainted (paint everything index 3)
    body += b"\x2c" + struct.pack("<HHHHB", 0, 0, 3, 2, 0)
    body += bytes([2]) + mm._sub_blocks(mm._lzw_encode(bytes([3] * 6), 2))
    body += b"\x3b"

    w, h, frames = mm.decode_gif_stdlib(bytes(body))
    assert (w, h, len(frames)) == (3, 2, 3)
    c = lambda i: pal[3 * i : 3 * i + 3]  # noqa: E731
    assert frames[0] == c(0) + c(1) + c(2) + c(2) + c(1) + c(0)
    # frame 2: (1,1)→3 painted, (2,1) transparent keeps frame 1's 0
    assert frames[1] == c(0) + c(1) + c(2) + c(2) + c(3) + c(0)
    assert frames[2] == c(3) * 6


def test_disposal3_is_documented_boundary():
    pal = bytes((0, 0, 0, 255, 255, 255))
    body = bytearray(b"GIF89a")
    body += struct.pack("<HHBBB", 1, 1, 0x80, 0, 0) + pal
    body += b"\x21\xf9\x04" + struct.pack("<BHB", 3 << 2, 0, 0) + b"\x00"
    body += b"\x2c" + struct.pack("<HHHHB", 0, 0, 1, 1, 0)
    body += bytes([2]) + mm._sub_blocks(mm._lzw_encode(b"\x01", 2))
    body += b"\x3b"
    with pytest.raises(NotImplementedError):
        mm.decode_gif_stdlib(bytes(body))


# ------------------------------------------------------- Spark chain


def test_gif_still_image_dhash_matches_bmp_pixels(spark, sf_dir):
    """A still GIF and a BMP of the SAME pixels hash identically —
    the dHash is over decoded luminance, not container bytes."""
    w, h = 9, 8
    idx = _md5_bytes("still", w * h)
    gif = mm.encode_gif_stdlib(w, h, [idx], mm.GRAY_PALETTE)
    rgb = bytes(v for i in idx for v in (i, i, i))
    bmp = mm.encode_bmp_stdlib(w, h, rgb)
    media = spark.createDataFrame(
        [(1, gif, "gif"), (2, bmp, "bmp")],
        "doc_id long, payload binary, format string",
    )
    hashes = {r["doc_id"]: r["dhash"]
              for r in ph.image_dhash(media).collect()}
    assert hashes[1] == hashes[2]


def test_every_position_mutation_rejects_cleanly():
    """Deterministic single-byte-corruption sweep over EVERY byte of a
    two-frame GIF (the hypothesis fuzz found the LZW min-code-size
    table bomb exactly here): decode must succeed or raise
    NotImplementedError — never a raw error, never an allocation
    blow-up."""
    idx = bytes((i * 7) % 256 for i in range(120))
    blob = mm.encode_gif_stdlib(12, 10, [idx] * 2, mm.GRAY_PALETTE)
    for pos in range(len(blob)):
        data = bytearray(blob)
        data[pos] ^= 0x21  # the byte value that found the bomb
        try:
            mm.decode_gif_stdlib(bytes(data))
        except NotImplementedError:
            pass
