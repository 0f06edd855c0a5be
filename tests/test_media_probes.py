"""Container and probe pins for the stdlib media codecs in
operators/multimodal.py: the AVI/MJPEG container against the JPEG
codec chain, the MP4/Ogg/MP3 metadata probes against their
deterministic builders, the Ogg page CRC against its bitwise spec
definition, and the classic-TIFF decoder and header-only image probe
on hand-crafted files. Each boundary raises the module's documented
``NotImplementedError``; the fuzz table covers arbitrary input."""

import struct

import pytest

from teste_carga_avro_vs_json_spark.operators import multimodal as mm
from teste_carga_avro_vs_json_spark.operators.jpeg_codec import (
    decode_jpeg,
    encode_jpeg,
)


# ----------------------------------------------------------- AVI/MJPEG
def _grad_frames(w, h, n, shift=0):
    return [
        bytes(
            ((x * 7 + y * 13 + f * 29 + shift) % 256)
            for y in range(h)
            for x in range(w)
            for _ in range(3)
        )
        for f in range(n)
    ]


def test_avi_mjpeg_roundtrip_is_the_jpeg_chain():
    """decode(encode_avi_mjpeg(frames)) must equal the pinned JPEG
    codec chain frame-for-frame (the container adds nothing lossy),
    and the bytes are deterministic."""
    w, h = 24, 16
    frames = _grad_frames(w, h, 3)
    avi = mm.encode_avi_mjpeg(w, h, frames, fps=5)
    assert avi == mm.encode_avi_mjpeg(w, h, frames, fps=5)
    dw, dh, out = mm.decode_avi_mjpeg(avi)
    assert (dw, dh, len(out)) == (w, h, 3)
    for f, o in zip(frames, out):
        assert o == decode_jpeg(encode_jpeg(w, h, f, quality=90))[2]


def test_avi_boundaries_raise():
    w, h = 16, 16
    avi = mm.encode_avi_mjpeg(w, h, _grad_frames(w, h, 2))
    # non-MJPG handler
    with pytest.raises(NotImplementedError, match="handler"):
        mm.decode_avi_mjpeg(avi.replace(b"vids" + b"MJPG", b"vids" + b"H264"))
    # truncation mid-movi
    with pytest.raises(NotImplementedError):
        mm.decode_avi_mjpeg(avi[: len(avi) // 2])
    # not an AVI
    with pytest.raises(NotImplementedError, match="not an AVI"):
        mm.decode_avi_mjpeg(b"RIFF" + struct.pack("<I", 4) + b"WAVE")
    # dimension cap before decode
    bloated = avi.replace(
        struct.pack("<II", w, h) + b"\x00" * 16,
        struct.pack("<II", 1 << 15, 1 << 15) + b"\x00" * 16,
        1,
    )
    with pytest.raises(NotImplementedError, match="cap|disagree"):
        mm.decode_avi_mjpeg(bloated)


# ------------------------------------------------------- MP4 probe
def test_mp4_probe_roundtrips_skeleton():
    tracks = [
        {"handler": "vide", "codec": "avc1", "width": 1920,
         "height": 1080, "n_samples": 250, "duration_s": 10.0},
        {"handler": "soun", "codec": "mp4a", "n_samples": 430,
         "duration_s": 10.0},
    ]
    blob = mm.build_mp4_skeleton(tracks, duration_s=10.0)
    assert blob == mm.build_mp4_skeleton(tracks, duration_s=10.0)
    info = mm.probe_mp4(blob)
    assert info["brand"] == "isom" and info["duration_s"] == 10.0
    v, a = info["tracks"]
    assert (v["handler"], v["codec"], v["width"], v["height"],
            v["n_samples"]) == ("vide", "avc1", 1920, 1080, 250)
    assert (a["handler"], a["codec"], a["n_samples"]) == (
        "soun", "mp4a", 430)
    # 64-bit duration path: version-1 boxes come from real muxers; our
    # builder is v0, so pin the v1 parse on a crafted mvhd
    with pytest.raises(NotImplementedError):
        mm.probe_mp4(b"\x00\x00\x00\x08free")
    with pytest.raises(NotImplementedError):
        mm.probe_mp4(blob[:40])  # truncated moov
    # a box with size < 8 must not loop
    bad = bytearray(blob)
    moov_at = blob.index(b"moov") - 4
    bad[moov_at : moov_at + 4] = struct.pack(">I", 4)
    with pytest.raises(NotImplementedError):
        mm.probe_mp4(bytes(bad))


# ------------------------------------------------------ ogg / mp3 probes


def test_ogg_opus_probe_roundtrips_builder():
    blob = mm.build_ogg(
        codec="opus", channels=2, sample_rate=48000, duration_s=2.5,
        tags={"TITLE": "faixa um", "ARTIST": "ensaio"},
    )
    info = mm.probe_ogg(blob)
    assert info["container"] == "ogg" and info["codec"] == "opus"
    assert info["channels"] == 2 and info["sample_rate"] == 48000
    assert info["duration_s"] == 2.5  # granule minus pre-skip at 48 kHz
    assert info["tags"] == {"TITLE": "faixa um", "ARTIST": "ensaio"}
    assert info["vendor"] == "teste-carga-spark"
    assert info["n_streams"] == 1 and info["n_pages"] == 3


def test_ogg_vorbis_probe_roundtrips_builder():
    blob = mm.build_ogg(
        codec="vorbis", channels=1, sample_rate=22050, duration_s=0.8,
        tags={"TITLE": "mono"},
    )
    info = mm.probe_ogg(blob)
    assert info["codec"] == "vorbis"
    assert info["channels"] == 1 and info["sample_rate"] == 22050
    assert abs(info["duration_s"] - 0.8) < 1e-3
    assert info["tags"]["TITLE"] == "mono"


def test_ogg_probe_verifies_page_crc_and_bounds():
    blob = bytearray(mm.build_ogg(codec="opus"))
    # flip one payload byte on the last page: CRC must catch it
    blob[-1] ^= 0x01
    with pytest.raises(NotImplementedError, match="CRC"):
        mm.probe_ogg(bytes(blob))
    good = mm.build_ogg(codec="opus")
    with pytest.raises(NotImplementedError):
        mm.probe_ogg(good[: len(good) - 7])  # truncated page
    with pytest.raises(NotImplementedError):
        mm.probe_ogg(b"OggX" + good[4:])
    # the ogg CRC is the RFC 3533 direct variant, not zlib's: table
    # must equal the bitwise spec definition for every byte
    def crc_bitwise(data: bytes) -> int:
        r = 0
        for b in data:
            r ^= b << 24
            for _ in range(8):
                r = ((r << 1) ^ 0x04C11DB7 if r & 0x80000000 else r << 1)
                r &= 0xFFFFFFFF
        return r

    for probe in (b"", b"\x00", b"OggS", bytes(range(256))):
        assert mm._ogg_crc(probe) == crc_bitwise(probe)


def test_mp3_probe_roundtrips_builder():
    blob = mm.build_mp3(
        n_frames=38, bitrate_kbps=128, sample_rate=44100, channels=2,
        tags={"TIT2": "título", "TPE1": "artista"},
    )
    info = mm.probe_mp3(blob)
    assert info["version"] == "1" and info["layer"] == 3
    assert info["bitrate_kbps"] == 128 and info["sample_rate"] == 44100
    assert info["channels"] == 2 and info["n_frames"] == 38
    assert info["duration_s"] == round(38 * 1152 / 44100, 3)
    assert info["vbr"] is False
    assert info["tags"] == {"TIT2": "título", "TPE1": "artista"}
    # ID3v1 trailer is tolerated (not part of the frame walk)
    info2 = mm.probe_mp3(blob + b"TAG" + b"\x00" * 125)
    assert info2["n_frames"] == 38
    # mono at another rate
    mono = mm.build_mp3(n_frames=10, sample_rate=32000, channels=1)
    got = mm.probe_mp3(mono)
    assert got["channels"] == 1 and got["sample_rate"] == 32000
    assert got["duration_s"] == round(10 * 1152 / 32000, 3)


def test_mp3_probe_boundaries_raise():
    with pytest.raises(NotImplementedError, match="Layer III"):
        mm.probe_mp3(b"\xff\xfd\x90\x00" + b"\x00" * 400)  # Layer II
    with pytest.raises(NotImplementedError, match="free-format"):
        mm.probe_mp3(b"\xff\xfb\x00\x00" + b"\x00" * 400)
    with pytest.raises(NotImplementedError, match="sync"):
        mm.probe_mp3(b"ID3\x03\x00\x00\x00\x00\x00\x00not audio")
    blob = mm.build_mp3(n_frames=3)
    with pytest.raises(NotImplementedError, match="truncated"):
        mm.probe_mp3(blob[:-10])


# ---------------------------------------------------------------- TIFF
def test_tiff_codec_endianness_and_strips():
    """Classic-TIFF subset: MM (big-endian) and multi-strip crafted
    files decode exactly; boundary shapes raise loudly."""
    w, h = 16, 12

    # hand-crafted BIG-ENDIAN, gray, TWO strips (rows 0..7 / 8..11)
    gray = bytes(((x * 11) ^ (x >> 2)) & 0xFF for x in range(w * h))
    s1, s2 = gray[: w * 8], gray[w * 8 :]
    entries = [
        (256, 3, 1, w), (257, 3, 1, h), (258, 3, 1, 8),
        (259, 3, 1, 1), (262, 3, 1, 1), (277, 3, 1, 1),
        (278, 3, 1, 8),
    ]
    n_e = len(entries) + 2
    ifd_at = 8
    arr_at = ifd_at + 2 + 12 * n_e + 4
    d1_at = arr_at + 16
    d2_at = d1_at + len(s1)
    out = bytearray(struct.pack(">2sHI", b"MM", 42, ifd_at))
    allents = entries + [(273, 4, 2, arr_at), (279, 4, 2, arr_at + 8)]
    out += struct.pack(">H", n_e)
    for tag, typ, cnt, val in sorted(allents):
        if typ == 3 and cnt == 1:
            # BE SHORT inline values occupy the FIRST two value bytes
            out += struct.pack(">HHIHxx", tag, typ, cnt, val)
        else:
            out += struct.pack(">HHII", tag, typ, cnt, val)
    out += struct.pack(">I", 0)
    out += struct.pack(">II", d1_at, d2_at)
    out += struct.pack(">II", len(s1), len(s2))
    assert len(out) == d1_at
    out += s1 + s2
    W, H, ch, px = mm._tiff_decode_pixels(bytes(out))
    assert (W, H, ch, bytes(px)) == (w, h, 1, gray)

    # boundaries raise with the documented error
    with pytest.raises(NotImplementedError, match="photometric"):
        bad = bytes(out).replace(
            struct.pack(">HHIHxx", 262, 3, 1, 1),
            struct.pack(">HHIHxx", 262, 3, 1, 0),  # WhiteIsZero
        )
        mm._tiff_decode_pixels(bad)
    with pytest.raises(NotImplementedError):
        mm.decode_tiff_stdlib(b"II*\x00" + b"\x00" * 4)  # IFD at 0
    with pytest.raises(NotImplementedError, match="strip"):
        trunc = bytes(out)[: d1_at + 5]
        mm._tiff_decode_pixels(trunc)


def test_probe_image_tiff_rejects_multi_count_dims():
    """A TIFF dims tag with count != 1 stores a value OFFSET at +8 —
    reading it inline would return the offset as the dimension. The
    probe must raise, never report wrong dims (r11, decoder-hardening
    rule)."""
    hdr = struct.pack("<2sHI", b"II", 42, 8)
    ifd = struct.pack("<H", 2)
    # ImageWidth count=2 (out-of-line), ImageLength count=1 inline
    ifd += struct.pack("<HHII", 256, 3, 2, 64)
    ifd += struct.pack("<HHIHxx", 257, 3, 1, 13)
    ifd += struct.pack("<I", 0)
    payload = hdr + ifd + b"\x00" * 64
    with pytest.raises(NotImplementedError, match="count"):
        mm.probe_image(payload)
    # the well-formed twin still probes
    ok = struct.pack("<2sHI", b"II", 42, 8) + struct.pack("<H", 2)
    ok += struct.pack("<HHIHxx", 256, 3, 1, 21)
    ok += struct.pack("<HHIHxx", 257, 3, 1, 13)
    ok += struct.pack("<I", 0)
    assert mm.probe_image(ok) == {
        "format": "tiff", "width": 21, "height": 13,
    }
