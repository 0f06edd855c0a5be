"""Decoder robustness fuzz (hypothesis): at crawl scale, malformed
payloads are guaranteed — every stdlib decoder must reject ANY input
with its DOCUMENTED exception types (format errors / ValueError /
NotImplementedError), never a bare IndexError / KeyError /
struct.error / zlib.error that would kill a 100 TB scan stage, and
never hang or balloon memory (dimension/bomb caps are pinned
explicitly). Two modes per decoder: pure-random bytes, and single-byte
mutations of a VALID payload (the realistic corruption class —
truncated downloads, bit rot)."""

import struct

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from teste_carga_avro_vs_json_spark.operators import flac_codec as fc
from teste_carga_avro_vs_json_spark.operators import jpeg_codec as jc
from teste_carga_avro_vs_json_spark.operators import multimodal as mm
from teste_carga_avro_vs_json_spark.sources import archive as ar
from teste_carga_avro_vs_json_spark.sources import compression as C

# derandomize: the suite is a REGRESSION gate (the driver runs pytest
# per round — a fresh random find failing the build mid-round is the
# wrong channel for discovery). Exploration mode = flip this off and
# raise max_examples.
_FUZZ = settings(
    max_examples=120,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)

_WIRE_CODECS = ("gzip", "snappy", "lz4", "zstd")
_WIRE_PAYLOAD = b"".join(
    b'{"id": %d, "dados": "registro de carga"}' % i for i in range(40)
)

#: decoder → (callable, accepted exception types)
_DECODERS = {
    "bmp": (mm.decode_bmp_stdlib, (NotImplementedError,)),
    "png": (mm.decode_png_stdlib, (NotImplementedError, ValueError)),
    "flac": (fc.decode_flac, (fc.FlacFormatError,)),
    "aiff": (mm.decode_aiff_stdlib, (NotImplementedError,)),
    "jpeg": (jc.decode_jpeg, (jc.JpegFormatError, NotImplementedError)),
    # r10: the progressive (SOF2) decode paths join on arrival —
    # mutations hit the scan-script validation, EOBRUN arithmetic and
    # refinement bit logic
    "jpeg_prog": (jc.decode_jpeg, (jc.JpegFormatError, NotImplementedError)),
    # the Kafka-wire codecs for untrusted record-batch bytes: one
    # ValueError contract through compression.decompress, every codec
    **{
        codec: (lambda b, codec=codec: C.decompress(codec, b), (ValueError,))
        for codec in _WIRE_CODECS
    },
    # r10-late: AVI/MJPEG container — mutations hit the RIFF walk
    # (chunk bounds/advance), avih dims, handler gate and the wrapped
    # JPEG frame decode
    "avi": (
        mm.decode_avi_mjpeg,
        (NotImplementedError,),
    ),
    # r10-late: MP4/ISO-BMFF metadata probe — mutations hit the box
    # walk (size/largesize bounds, advance guarantee) and the
    # mvhd/tkhd/mdhd/stsd field parses
    "mp4": (
        mm.probe_mp4,
        (NotImplementedError,),
    ),
    # r10-late #3: classic TIFF — mutations hit the IFD walk (entry
    # bounds, tag-value overruns), strip layout/budget math, deflate/
    # LZW strip caps and the predictor row arithmetic
    "tiff": (
        mm.decode_tiff_stdlib,
        (NotImplementedError,),
    ),
    # r10-late #3: header-only image probe — mutations hit the magic
    # dispatch, the JPEG marker walk and the TIFF IFD dimension reads
    "image_probe": (
        mm.probe_image,
        (NotImplementedError,),
    ),
    # r10-late: archive walkers — container errors raise, member-level
    # corruption lands as error ROWS (the iterator contract), so the
    # fuzz net checks only that no raw zipfile/tarfile/struct errors
    # escape the walk
    "zip": (
        lambda b: list(ar.iter_zip_members(b)),
        (ar.ArchiveFormatError,),
    ),
    "tar": (
        lambda b: list(ar.iter_tar_members(b)),
        (ar.ArchiveFormatError,),
    ),
    # r10-late: ogg/mp3 metadata probes — mutations hit the page walk
    # (lacing bounds, CRC verification, packet reassembly) and the
    # MPEG frame-header table lookups / ID3 syncsafe size checks
    "ogg": (
        mm.probe_ogg,
        (NotImplementedError,),
    ),
    "mp3": (
        mm.probe_mp3,
        (NotImplementedError,),
    ),
}


def _valid_payloads() -> dict[str, bytes]:
    rgb = bytes(
        min(255, 10 + (i % 24) * 3 + (i // 24)) for i in range(24 * 16 * 3)
    )
    samples = [((i * 37) % 2000) - 1000 for i in range(600)]
    return {
        "bmp": mm.encode_bmp_stdlib(24, 16, rgb),
        "png": mm.encode_png_stdlib(24, 16, rgb),
        "flac": fc.encode_flac(samples, block_size=256),
        "aiff": mm.encode_aiff_stdlib(samples, rate=16000),
        "jpeg": jc.encode_jpeg(24, 16, rgb, quality=90),
        "jpeg_prog": jc.encode_jpeg_progressive(24, 16, rgb, quality=90),
        "zip": ar.build_zip([("a.txt", b"conteudo um"), ("b/c.bin", bytes(range(64)))]),
        "tar": ar.build_tar([("a.txt", b"conteudo um"), ("b/c.bin", bytes(range(64)))], gz=True),
        "mp4": mm.build_mp4_skeleton(
            [{"handler": "vide", "codec": "avc1", "width": 640,
              "height": 360, "n_samples": 48, "duration_s": 2.0}],
            duration_s=2.0,
        ),
        "avi": mm.encode_avi_mjpeg(
            16, 12,
            [bytes(((x + f * 31) % 256) for x in range(16 * 12 * 3))
             for f in range(2)],
        ),
        "ogg": mm.build_ogg(
            codec="opus", duration_s=1.5, tags={"TITLE": "fuzz"}
        ),
        "mp3": mm.build_mp3(n_frames=6, tags={"TIT2": "fuzz"}),
        "tiff": mm.encode_tiff_stdlib(
            11, 7,
            bytes(((i * 37) ^ (i >> 3)) & 0xFF for i in range(11 * 7 * 3)),
        ),
        "image_probe": mm.encode_png_stdlib(
            9, 5,
            bytes(((i * 53) ^ (i >> 2)) & 0xFF for i in range(9 * 5 * 3)),
        ),
        **{c: C.compress(c, _WIRE_PAYLOAD) for c in _WIRE_CODECS},
    }


_VALID = _valid_payloads()


@pytest.mark.parametrize("name", sorted(_DECODERS))
def test_random_bytes_rejected_cleanly(name):
    fn, accepted = _DECODERS[name]

    @_FUZZ
    @given(st.binary(max_size=300))
    def run(data):
        try:
            fn(data)
        except accepted:
            pass  # the documented rejection path

    run()


@pytest.mark.parametrize("name", sorted(_DECODERS))
def test_single_byte_mutations_never_leak_raw_errors(name):
    fn, accepted = _DECODERS[name]
    blob = _VALID[name]

    @_FUZZ
    @given(
        st.integers(min_value=0, max_value=len(blob) - 1),
        st.integers(min_value=1, max_value=255),
    )
    def run(pos, xor):
        data = bytearray(blob)
        data[pos] ^= xor
        try:
            fn(bytes(data))
        except accepted:
            pass  # rejection is fine; silent success is fine (lossy
            # formats tolerate payload-region flips) — raw errors are not

    run()


@pytest.mark.parametrize("name", sorted(_DECODERS))
def test_truncations_rejected_cleanly(name):
    fn, accepted = _DECODERS[name]
    blob = _VALID[name]
    for cut in range(0, len(blob), max(1, len(blob) // 40)):
        try:
            fn(blob[:cut])
        except accepted:
            pass


def test_dimension_bombs_capped():
    # JPEG SOF declaring huge dims: must raise before plane allocation
    blob = bytearray(jc.encode_jpeg(8, 8, bytes(8 * 8 * 3)))
    i = blob.index(b"\xff\xc0")
    struct.pack_into(">HH", blob, i + 5, 65535, 65535)
    with pytest.raises(jc.JpegFormatError):
        jc.decode_jpeg(bytes(blob))
