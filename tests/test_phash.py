"""Perceptual-hash image near-dup (operators/phash.py): dHash pinned
by hand-computed goldens (not the impl re-run), the Spark UDF pinned
against driver-side recompute over the same payload bytes, and the
pigeonhole Hamming join pinned against a brute-force all-pairs
popcount — plus the no-silent-caps stats contract on degenerate
(constant-hash) corpora."""

from teste_carga_avro_vs_json_spark.operators import multimodal as mm
from teste_carga_avro_vs_json_spark.operators import phash as ph


# ------------------------------------------------------------ goldens
def test_dhash_constant_image_is_zero():
    rows = [[128] * 16 for _ in range(16)]
    assert ph.dhash64(16, 16, rows) == 0


def test_dhash_left_right_gradient_all_bits():
    # strictly increasing luminance left->right: every adjacent cell
    # pair compares left < right -> all 64 bits set -> signed -1
    rows = [[x * 28 for x in range(9)] for _ in range(8)]
    assert ph.dhash64(9, 8, rows) == -1


def test_dhash_two_pixel_golden():
    # 2x1 image [0, 255]: grid cells i=0..4 sample pixel 0, i=5..8
    # pixel 1 -> the only rise is at i=4, in all 8 grid rows
    h = ph.dhash64(2, 1, [[0, 255]])
    assert h == sum(1 << (8 * j + 4) for j in range(8))


def test_dhash_scale_invariance():
    # dHash's point: the same pattern at 2x resolution hashes equal
    small = [[x * 30 for x in range(9)] for _ in range(8)]
    big = [[(x // 2) * 30 for x in range(18)] for _ in range(16)]
    assert ph.dhash64(9, 8, small) == ph.dhash64(18, 16, big)


# ----------------------------------------------- UDF vs driver recompute
def _docs(spark, sf_dir, n=48):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .orderBy("doc_id")
        .limit(n)
    )


def test_image_dhash_matches_driver_recompute(spark, sf_dir):
    for synth in (mm.synth_bmp_media, mm.synth_png_media):
        media = synth(_docs(spark, sf_dir)).persist()
        got = {
            r["doc_id"]: r["dhash"]
            for r in ph.image_dhash(media).collect()
        }
        for r in media.collect():
            want = ph._payload_dhash(bytes(r["payload"]), r["format"])
            assert got[r["doc_id"]] == want
        media.unpersist()


# ------------------------------------------------- Hamming join vs brute
def _brute_pairs(hashes, k):
    out = set()
    items = sorted(hashes.items())
    for i, (da, ha) in enumerate(items):
        for db, hb in items[i + 1 :]:
            d = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
            if d <= k:
                out.add((da, db, d))
    return out


def test_phash_neardup_equals_bruteforce_with_planted_dups(
    spark, sf_dir, tmp_path
):
    docs = _docs(spark, sf_dir, 40)
    media = mm.synth_bmp_media(docs)
    # plant near-duplicates: re-encode 8 images with ONE channel of
    # one pixel nudged by +1 — a perceptual near-dup, not a byte dup
    rows = media.orderBy("doc_id").limit(8).collect()
    planted = []
    for r in rows:
        w, h, lum = ph._bmp_lum_rows(bytes(r["payload"]))
        raw = bytearray(r["payload"])
        import struct

        off = struct.unpack_from("<I", raw, 10)[0]
        raw[off] = min(255, raw[off] + 1)
        planted.append(
            (r["doc_id"] + 100000, bytes(raw), "bmp", w, h)
        )
    extra = spark.createDataFrame(
        planted, "doc_id long, payload binary, format string, width int, height int"
    )
    corpus = media.unionByName(extra).persist()

    hashes = {
        r["doc_id"]: r["dhash"] & ((1 << 64) - 1)
        for r in ph.image_dhash(corpus).collect()
    }
    for k in (0, 2, 3):
        want = _brute_pairs(hashes, k)
        got = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in ph.phash_neardup(
                corpus, max_hamming=k, max_band_df=None
            ).collect()
        }
        assert got == want
    # the planted copies actually register as near-dups at k=3
    got3 = _brute_pairs(hashes, 3)
    planted_found = {
        (a, b) for a, b, _ in got3 if b - a == 100000
    }
    assert len(planted_found) >= 6  # most single-pixel nudges stay close
    corpus.unpersist()


def test_phash_neardup_png_path(spark, sf_dir):
    media = mm.synth_png_media(_docs(spark, sf_dir, 24)).persist()
    hashes = {
        r["doc_id"]: r["dhash"] & ((1 << 64) - 1)
        for r in ph.image_dhash(media).collect()
    }
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in ph.phash_neardup(
            media, max_hamming=3, max_band_df=None
        ).collect()
    }
    assert got == _brute_pairs(hashes, 3)
    media.unpersist()


def test_phash_neardup_cap_reports_drops(spark):
    # constant-color images all hash to 0 -> every band key is
    # over-dense at max_band_df=4 -> all rows dropped, stats say so
    rgb = bytes([7, 7, 7]) * 36
    payload = mm.encode_bmp_stdlib(6, 6, rgb)
    media = spark.createDataFrame(
        [(i, payload, "bmp", 6, 6) for i in range(12)],
        "doc_id long, payload binary, format string, width int, height int",
    )
    stats = {}
    out = ph.phash_neardup(
        media, max_hamming=3, max_band_df=4, stats=stats
    )
    assert out.count() == 0
    assert stats["band_keys_stop"] == 4  # one per band
    assert stats["band_rows_dropped"] == 48  # 12 docs x 4 bands
    # and without the cap the same corpus yields all 66 pairs at d=0
    full = ph.phash_neardup(media, max_hamming=0, max_band_df=None)
    assert full.count() == 66


def test_phash_neardup_plan_shape(spark, sf_dir):
    """Scale pins mirroring the LSH band join (dedup.py): candidates
    form ONLY via the band-keyed equality self-join (no cartesian /
    BNL), the tail joins are ShuffledHashJoin (post-explode size
    estimates are untrustworthy — same mis-broadcast guard), no
    expensive expression leaks below a barrier into a Filter, and the
    two aliased sides of the self-join resolve to ONE executed banded
    Exchange (ReusedExchange)."""
    from teste_carga_avro_vs_json_spark.plans import (
        audit,
        compact_plan,
        expensive_filter_nodes,
    )

    media = mm.synth_bmp_media(_docs(spark, sf_dir, 32))
    out = ph.phash_neardup(media, max_hamming=3, max_band_df=1000)
    plan = compact_plan(out)
    aud = audit(out)
    assert aud.cartesian == 0 and aud.bnl_joins == 0
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert expensive_filter_nodes(out) == []
    out.collect()
    executed = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed


# ---------------------------------------------------------- video twin
def test_split_bmp_stream_roundtrip(spark, sf_dir):
    media = ph.synth_bmp_video(_docs(spark, sf_dir, 10), n_frames=5)
    for r in media.collect():
        frames = ph.split_bmp_stream(bytes(r["payload"]))
        assert len(frames) == 5
        dims = {ph._bmp_lum_rows(f)[:2] for f in frames}
        assert len(dims) == 1  # frames share geometry
    # malformed stream raises, not garbage
    import pytest

    with pytest.raises(NotImplementedError):
        ph.split_bmp_stream(b"XX123456")


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
    from teste_carga_avro_vs_json_spark.operators import multimodal as mm
    from teste_carga_avro_vs_json_spark.operators.jpeg_codec import (
        decode_jpeg,
        encode_jpeg,
    )

    w, h = 24, 16
    frames = _grad_frames(w, h, 3)
    avi = mm.encode_avi_mjpeg(w, h, frames, fps=5)
    assert avi == mm.encode_avi_mjpeg(w, h, frames, fps=5)
    dw, dh, out = mm.decode_avi_mjpeg(avi)
    assert (dw, dh, len(out)) == (w, h, 3)
    for f, o in zip(frames, out):
        assert o == decode_jpeg(encode_jpeg(w, h, f, quality=90))[2]


def test_avi_boundaries_raise():
    import struct

    from teste_carga_avro_vs_json_spark.operators import multimodal as mm

    w, h = 16, 16
    avi = mm.encode_avi_mjpeg(w, h, _grad_frames(w, h, 2))
    # non-MJPG handler
    import pytest

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
    from teste_carga_avro_vs_json_spark.operators import multimodal as mm

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
    import struct

    import pytest

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
    import pytest

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
    import pytest

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
def test_tiff_codec_endianness_strips_and_dhash_parity():
    """Classic-TIFF subset: MM (big-endian) and multi-strip crafted
    files decode exactly; image_dhash('tiff') equals the BMP hash of
    the same pixels; boundary shapes raise loudly."""
    import struct
    import zlib

    import pytest

    from teste_carga_avro_vs_json_spark.operators import multimodal as mm
    from teste_carga_avro_vs_json_spark.operators import phash as ph

    w, h = 16, 12
    rgb = bytes(((x * 29 + 3) ^ (x >> 4)) & 0xFF for x in range(w * h * 3))

    # dhash parity with BMP on identical pixels
    tif = mm.encode_tiff_stdlib(w, h, rgb)
    bmp = mm.encode_bmp_stdlib(w, h, rgb)
    assert ph._payload_dhash(tif, "tiff") == ph._payload_dhash(bmp, "bmp")

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
    import struct

    import pytest

    from teste_carga_avro_vs_json_spark.operators import multimodal as mm

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
