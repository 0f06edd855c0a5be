"""Multimodal (binary) columns: opaque payload + typed metadata.

Treats image/audio/video as ``binary`` columns with a metadata struct,
per the engine's training-data mandate. The real decoders (PIL,
ffmpeg, torchaudio) are NOT in this container, so the decode step is
stubbed behind ``NotImplementedError`` with a deterministic fake that
keeps the Spark-side plumbing — schema, partitioning, Arrow batch
shape, ``mapInPandas`` signature — real and tested.

Scale notes: payload bytes ride along as Arrow binary batches; feature
extraction is one ``mapInPandas`` pass (no shuffle, no driver
traffic). At 100 TB the pattern is identical with
``spark.read.format("binaryFile")`` as the source; partition sizing is
governed by ``maxPartitionBytes``, and feature outputs are tiny relative
to payloads, so column pruning after extraction drops the heavy bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
import pyspark.sql.functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from teste_carga_avro_vs_json_spark.functions.portable import hex32

try:  # pickle-by-value: executors don't need the repo on PYTHONPATH
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:  # noqa: BLE001
    pass

_FORMATS = ["png", "jpeg", "webp"]


FEATURES = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", LongType()),
        StructField("first_byte", IntegerType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)


def synth_media(docs: DataFrame, payload_reps: int = 4) -> DataFrame:
    """Deterministic fake media table from ``documents``: payload =
    md5(text) bytes repeated, metadata derived via hex32. Stands in for
    ``spark.read.format("binaryFile")`` in this container."""
    md5_hex = F.md5("text")
    return docs.select(
        "doc_id",
        F.unhex(F.repeat(md5_hex, payload_reps)).alias("payload"),
        F.element_at(
            F.array(*[F.lit(f) for f in _FORMATS]),
            (hex32(F.concat(F.lit("fmt-"), F.col("doc_id"))) % 3 + 1).cast("int"),
        ).alias("format"),
        (hex32(F.concat(F.lit("w-"), F.col("doc_id"))) % 1920 + 1).cast("int").alias("width"),
        (hex32(F.concat(F.lit("h-"), F.col("doc_id"))) % 1080 + 1).cast("int").alias("height"),
    )


def _pil():
    """Import-gated PIL: returns the Image module on a cluster image
    that ships Pillow, None in this container."""
    try:  # pragma: no cover - environment-dependent
        from PIL import Image  # type: ignore

        return Image
    except ImportError:
        return None


def _soundfile():
    """Import-gated soundfile (audio twin of :func:`_pil`): returns the
    module on a cluster image that ships libsndfile bindings, None in
    this container."""
    try:  # pragma: no cover - environment-dependent
        import soundfile  # type: ignore

        return soundfile
    except ImportError:
        return None


def decode_wav_stdlib(payload: bytes) -> tuple[int, int, int]:
    """Pure-stdlib RIFF/PCM WAV decode: returns ``(n_frames, rate,
    peak)`` where ``peak`` is the max absolute sample over all channels
    scaled to s16 units (``int(max|x| * 32767)`` with ``|x|`` in
    [0, 1]) — the same convention the soundfile path uses, so feature
    rows agree across backends up to that one quantization.

    The ``wave`` module parses the RIFF container (fmt/data chunks,
    sample width, channel count); sample scanning is an
    ``array``-module pass per payload — no per-sample Python loop.
    Supported widths: 8-bit unsigned, 16/32-bit signed little-endian
    PCM (the uncompressed encodings ``wave`` itself accepts). At 100 TB
    this runs executor-side inside the same ``mapInPandas`` batches as
    the fake/soundfile paths; payload bytes never shuffle.
    """
    import array
    import io
    import sys
    import wave

    with wave.open(io.BytesIO(payload), "rb") as wf:
        width = wf.getsampwidth()
        rate = wf.getframerate()
        n_frames = wf.getnframes()
        raw = wf.readframes(n_frames)
    if width == 1:  # u8: offset-binary around 128, full scale 128
        mx = max((abs(b - 128) for b in raw), default=0)
        peak = int(mx / 128 * 32767)
    elif width in (2, 4):
        samples = array.array("h" if width == 2 else "i")
        samples.frombytes(raw[: len(raw) - len(raw) % width])
        if sys.byteorder == "big":  # WAV is little-endian on disk
            samples.byteswap()
        mx = max((abs(s) for s in samples), default=0)
        full = 32768 if width == 2 else 2147483648
        peak = int(min(mx / full, 1.0) * 32767)
    else:
        raise NotImplementedError(f"unsupported PCM sample width {width}")
    return n_frames, rate, peak


AUDIO_FEATURES = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("format", StringType()),
        StructField("n_bytes", LongType()),
        StructField("n_samples", LongType()),
        StructField("duration_ms", LongType()),
        StructField("peak", IntegerType()),
    ]
)

_AUDIO_FORMATS = ["wav", "flac", "ogg"]
_FAKE_SAMPLE_RATE = 16_000


def synth_audio(docs: DataFrame, payload_reps: int = 8) -> DataFrame:
    """Deterministic fake audio table from ``documents`` (audio twin of
    :func:`synth_media`): payload = md5(text) bytes repeated, format
    assigned via hex32."""
    md5_hex = F.md5("text")
    return docs.select(
        "doc_id",
        F.unhex(F.repeat(md5_hex, payload_reps)).alias("payload"),
        F.element_at(
            F.array(*[F.lit(f) for f in _AUDIO_FORMATS]),
            (hex32(F.concat(F.lit("afmt-"), F.col("doc_id"))) % 3 + 1).cast(
                "int"
            ),
        ).alias("format"),
    )


def extract_audio_features(media: DataFrame, fake: bool | None = True) -> DataFrame:
    """Audio feature extraction over binary payloads via ``mapInPandas``
    (same Arrow-batched, shuffle-free pattern as :func:`extract_features`).

    ``fake=None`` auto-detects: real soundfile decode when importable
    (cluster image), the deterministic stand-in otherwise. The fake
    treats the payload as s16le mono at 16 kHz — n_samples/duration are
    pure byte arithmetic, ``peak`` is the max byte value — so outputs
    are exact and testable while the schema/batch contract matches what
    a real extractor returns.

    ``fake=False`` is REAL on every environment for RIFF/WAVE payloads:
    when soundfile is absent the stdlib :func:`decode_wav_stdlib` path
    decodes PCM WAV (container parse + array-module sample scan) with
    the same output convention, so only compressed codecs remain
    environment-gated."""
    if fake is None:
        fake = _soundfile() is None
    if not fake:
        if _soundfile() is None:

            def _extract_real_stdlib(
                batches: Iterator[pd.DataFrame],
            ) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    rows = []
                    for did, fmt, b in zip(
                        pdf["doc_id"], pdf["format"], pdf["payload"]
                    ):
                        n, rate, peak = decode_wav_stdlib(bytes(b))
                        rows.append(
                            (did, fmt, len(b), n, n * 1000 // rate, peak)
                        )
                    yield pd.DataFrame(
                        rows, columns=[f.name for f in AUDIO_FEATURES.fields]
                    )

            return media.mapInPandas(_extract_real_stdlib, AUDIO_FEATURES)

        def _extract_real(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:  # pragma: no cover - needs soundfile
            import io

            import soundfile  # type: ignore

            for pdf in batches:
                rows = []
                for did, fmt, b in zip(
                    pdf["doc_id"], pdf["format"], pdf["payload"]
                ):
                    data, rate = soundfile.read(io.BytesIO(bytes(b)))
                    rows.append(
                        (
                            did,
                            fmt,
                            len(b),
                            len(data),
                            int(len(data) * 1000 // rate),
                            int(abs(data).max() * 32767),
                        )
                    )
                yield pd.DataFrame(
                    rows, columns=[f.name for f in AUDIO_FEATURES.fields]
                )

        return media.mapInPandas(_extract_real, AUDIO_FEATURES)

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_bytes = pdf["payload"].map(len)
            n_samples = n_bytes // 2  # s16le mono
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "format": pdf["format"],
                    "n_bytes": n_bytes,
                    "n_samples": n_samples,
                    "duration_ms": n_samples * 1000 // _FAKE_SAMPLE_RATE,
                    "peak": pdf["payload"].map(
                        lambda b: max(b) if len(b) else 0
                    ),
                }
            )

    return media.mapInPandas(_extract, AUDIO_FEATURES)


def _fake_feature_vec(payload: bytes, n: int = 4) -> list[float]:
    """Deterministic stand-in for an image-embedding model: cheap byte
    statistics. Same length/dtype contract as a real extractor."""
    if not payload:
        return [0.0] * n
    total = sum(payload)
    return [
        float(len(payload)),
        float(payload[0]),
        float(total % 997),
        float(total / len(payload)),
    ][:n]


def extract_features(media: DataFrame, fake: bool | None = True) -> DataFrame:
    """Feature extraction over binary payloads via ``mapInPandas`` —
    Arrow-batched, executor-side, schema-stable output.

    ``fake=None`` auto-detects: real PIL decode when Pillow is
    importable (cluster image), the deterministic byte-stat stand-in
    otherwise. ``fake=True`` (default) pins the stand-in — the synthetic
    md5 payloads aren't decodable images, so the oracle-backed
    ``media_features`` query stays on it everywhere."""
    if fake is None:
        fake = _pil() is None
    if not fake:
        if _pil() is None:
            raise NotImplementedError(
                "real decoders not available in this container"
            )

        def _extract_real(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:  # pragma: no cover - needs Pillow
            import io

            from PIL import Image  # type: ignore

            for pdf in batches:
                widths, heights, feats = [], [], []
                for b in pdf["payload"]:
                    img = Image.open(io.BytesIO(bytes(b)))
                    widths.append(img.width)
                    heights.append(img.height)
                    px = img.convert("L").resize((8, 8)).getdata()
                    feats.append([float(x) / 255.0 for x in px][:4])
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "format": pdf["format"],
                        "width": widths,
                        "height": heights,
                        "n_bytes": pdf["payload"].map(len),
                        "first_byte": pdf["payload"].map(
                            lambda b: int(b[0]) if len(b) else -1
                        ),
                        "features": feats,
                    }
                )

        return media.mapInPandas(_extract_real, FEATURES)

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "format": pdf["format"],
                    "width": pdf["width"],
                    "height": pdf["height"],
                    "n_bytes": pdf["payload"].map(len),
                    "first_byte": pdf["payload"].map(
                        lambda b: int(b[0]) if len(b) else -1
                    ),
                    "features": pdf["payload"].map(_fake_feature_vec),
                }
            )
            yield out

    return media.mapInPandas(_extract, FEATURES)


def media_features(docs: DataFrame) -> DataFrame:
    """End-to-end: synth media -> mapInPandas features, projected to the
    oracle-checkable arithmetic columns (doc_id, format, width, height,
    n_bytes, first_byte)."""
    feats = extract_features(synth_media(docs))
    return feats.select(
        "doc_id", "format", "width", "height", "n_bytes", "first_byte"
    )


def media_features_sql(table: str = "documents", payload_reps: int = 4) -> str:
    """DuckDB twin computing the same metadata/byte stats from md5
    arithmetic (payload = unhex(repeat(md5(text), reps)))."""
    from teste_carga_avro_vs_json_spark.functions.portable import hex32_sql

    fmt_arr = "['png', 'jpeg', 'webp']"
    return f"""
        SELECT doc_id,
               {fmt_arr}[({hex32_sql("'fmt-' || doc_id")} % 3 + 1)::INT] AS format,
               ({hex32_sql("'w-' || doc_id")} % 1920 + 1)::INT AS width,
               ({hex32_sql("'h-' || doc_id")} % 1080 + 1)::INT AS height,
               (16 * {payload_reps})::BIGINT AS n_bytes,
               ('0x' || substr(md5(text), 1, 2))::INT AS first_byte
        FROM {table}
    """


def resize(media: DataFrame, target_w: int = 224, target_h: int = 224) -> DataFrame:
    """Resize plumbing: a real build decodes + resamples in this
    ``mapInPandas`` pass (PIL absent — deterministic fake keeps the
    contract: payload byte-length scales with the area ratio, metadata
    updates, schema stable)."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ratio = (target_w * target_h) / (pdf["width"] * pdf["height"])
            n_out = (pdf["payload"].map(len) * ratio).clip(lower=1).astype(int)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "format": pdf["format"],
                    "width": target_w,
                    "height": target_h,
                    "payload": [
                        (b * (n // len(b) + 1))[:n] if len(b) else b
                        for b, n in zip(pdf["payload"], n_out)
                    ],
                }
            )

    schema = (
        "doc_id long, format string, width int, height int, payload binary"
    )
    return media.mapInPandas(_resize, schema)


def frame_sample(media: DataFrame, every_n: int = 2) -> DataFrame:
    """Video frame-sampling plumbing: pretend each payload is a frame
    sequence; keep every Nth 16-byte block as a 'frame'. Shows the
    explode-side pattern (one row per sampled frame) with all work in
    expressions; a real build swaps the slicer for an ffmpeg UDF."""
    n_frames = (F.octet_length("payload") / 16).cast("int")
    frames = F.filter(
        F.sequence(F.lit(0), n_frames - 1), lambda i: i % every_n == 0
    )
    return media.select(
        "doc_id",
        F.explode(frames).alias("frame_idx"),
    ).withColumn("frame_offset", F.col("frame_idx") * 16)


# ------------------------------------------------------ BMP (stdlib-real)
def encode_bmp_stdlib(width: int, height: int, rgb: bytes) -> bytes:
    """Pure-stdlib 24-bit uncompressed BMP encoder: ``rgb`` is
    row-major TOP-DOWN RGB triples (len == width*height*3). Produces a
    spec-correct BITMAPFILEHEADER + BITMAPINFOHEADER + bottom-up
    BGR rows padded to 4 bytes — openable by any image viewer/PIL.
    The image twin of the r6 WAV move: real media bytes with zero
    third-party dependencies."""
    import struct

    if len(rgb) != width * height * 3:
        raise ValueError("rgb length must be width*height*3")
    row_raw = width * 3
    pad = (4 - row_raw % 4) % 4
    body = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up
        row = rgb[y * row_raw : (y + 1) * row_raw]
        # RGB -> BGR per pixel
        bgr = bytearray(row_raw)
        bgr[0::3] = row[2::3]
        bgr[1::3] = row[1::3]
        bgr[2::3] = row[0::3]
        body += bgr + b"\x00" * pad
    pixel_off = 14 + 40
    file_size = pixel_off + len(body)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, pixel_off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body),
        2835, 2835, 0, 0,
    )
    return header + info + bytes(body)


def decode_bmp_stdlib(payload: bytes) -> tuple[int, int, list[float]]:
    """Pure-stdlib 24-bit BMP decode: returns ``(width, height,
    quadrant_features)`` where the features are the mean luminance of
    the four image quadrants scaled to [0, 1] (ITU-R BT.601 integer
    luma) — REAL spatial features, the stdlib stand-in for the PIL
    path's grayscale-thumbnail vector (same length-4 contract).

    Channel sums use byte-slice arithmetic per ROW (no per-pixel
    Python loop); supports the encoder's own dialect: bottom-up or
    top-down (negative height), 24 bpp, BI_RGB."""
    import struct

    if payload[:2] != b"BM":
        raise NotImplementedError("not a BMP payload")
    try:
        pixel_off = struct.unpack_from("<I", payload, 10)[0]
        (
            hdr_size, width, height_raw, _planes, bpp, compression
        ) = struct.unpack_from("<IiiHHI", payload, 14)
    except struct.error as e:  # truncated header
        raise NotImplementedError(f"malformed BMP payload: {e}") from e
    if bpp != 24 or compression != 0:
        raise NotImplementedError("only 24-bit uncompressed BMP supported")
    bottom_up = height_raw > 0
    height = abs(height_raw)
    row_raw = width * 3
    stride = row_raw + (4 - row_raw % 4) % 4
    half_w, half_h = (width + 1) // 2, (height + 1) // 2
    sums = [0, 0, 0, 0]
    counts = [0, 0, 0, 0]
    for y in range(height):
        src_row = (height - 1 - y) if bottom_up else y
        off = pixel_off + src_row * stride
        row = payload[off : off + row_raw]
        for qx, (lo, hi) in enumerate(
            ((0, half_w), (half_w, width))
        ):
            if lo >= hi:
                continue
            seg = row[lo * 3 : hi * 3]
            # BGR order in the file
            lum_sum = (
                114 * sum(seg[0::3])
                + 587 * sum(seg[1::3])
                + 299 * sum(seg[2::3])
            ) // 1000
            q = (0 if y < half_h else 2) + qx
            sums[q] += lum_sum
            counts[q] += hi - lo
    feats = [
        (s / c / 255.0) if c else 0.0 for s, c in zip(sums, counts)
    ]
    return width, height, feats


#: canvas cap for header-declared dims (64M px ≈ 200 MB RGB): a corrupt
#: or hostile header must not OOM an executor before any data is read.
_MAX_PIXELS = 1 << 26


# ------------------------------------------------------ PNG (stdlib-real)
def encode_png_stdlib(width: int, height: int, rgb: bytes) -> bytes:
    """Pure-stdlib PNG encoder (zlib IS the stdlib): 8-bit RGB (color
    type 2), non-interlaced, filter 0 on every scanline. ``rgb`` is
    row-major TOP-DOWN RGB triples (len == width*height*3). Emits a
    spec-correct signature + IHDR + IDAT + IEND with CRC32 per chunk —
    openable by any viewer/PIL. The compressed-format sibling of
    :func:`encode_bmp_stdlib` (PNG spec, www.w3.org/TR/png-3/)."""
    import struct
    import zlib

    if len(rgb) != width * height * 3:
        raise ValueError("rgb length must be width*height*3")

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    row = width * 3
    raw = b"".join(
        b"\x00" + rgb[y * row : (y + 1) * row] for y in range(height)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_decode_pixels(payload: bytes) -> tuple[int, int, int, bytearray]:
    """Parse a PNG and return ``(width, height, channels, pixels)`` with
    ``pixels`` = unfiltered top-down rows, 8 bits/sample. Supports
    color types 0 (gray), 2 (RGB), 6 (RGBA), bit depth 8,
    non-interlaced — all FIVE scanline filters (None/Sub/Up/Average/
    Paeth, PNG spec §9) so foreign encoders' output decodes too, not
    just our own filter-0 stream. Interlaced (Adam7), palette, and
    16-bit inputs raise ``NotImplementedError`` (documented boundary,
    same convention as the 24-bit-only BMP path). Malformed input
    raises ``ValueError``/``NotImplementedError``, never a bare
    struct/zlib error."""
    import struct
    import zlib

    try:
        return _png_decode_pixels_impl(payload)
    except (NotImplementedError, ValueError):
        raise
    except (IndexError, KeyError, OverflowError, struct.error,
            zlib.error) as e:
        raise ValueError(f"malformed PNG payload: {e}") from e


def _png_decode_pixels_impl(payload: bytes) -> tuple[int, int, int, bytearray]:
    import struct
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise NotImplementedError("not a PNG payload")
    pos, width = 8, 0
    height = bit_depth = color_type = interlace = 0
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        expect = struct.unpack_from(">I", payload, pos + 8 + length)[0]
        if zlib.crc32(tag + body) & 0xFFFFFFFF != expect:
            raise ValueError(f"PNG chunk CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            (
                width, height, bit_depth, color_type,
                _comp, _filt, interlace,
            ) = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    if bit_depth != 8 or color_type not in (0, 2, 6) or interlace != 0:
        raise NotImplementedError(
            "only 8-bit gray/RGB/RGBA non-interlaced PNG supported"
        )
    ch = {0: 1, 2: 3, 6: 4}[color_type]
    if width * height > _MAX_PIXELS:
        # dimension bomb: IHDR dims are u32 — cap before allocating
        raise NotImplementedError(
            f"PNG {width}x{height} exceeds the decode cap"
        )
    row = width * ch
    want = (row + 1) * height
    # bounded inflate: a tiny IDAT must not balloon past the declared
    # raster (zip-bomb guard — plain zlib.decompress has no limit)
    d = zlib.decompressobj()
    raw = d.decompress(bytes(idat), want)
    extra = b"" if d.eof else d.decompress(d.unconsumed_tail, 1)
    if len(raw) != want or extra:
        raise ValueError("PNG pixel stream length mismatch")
    out = bytearray(row * height)
    prev = bytearray(row)
    for y in range(height):
        ftype = raw[y * (row + 1)]
        line = bytearray(raw[y * (row + 1) + 1 : (y + 1) * (row + 1)])
        if ftype == 1:  # Sub
            for i in range(ch, row):
                line[i] = (line[i] + line[i - ch]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(row):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(row):
                a = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(row):
                a = line[i - ch] if i >= ch else 0
                c = prev[i - ch] if i >= ch else 0
                line[i] = (line[i] + _paeth(a, prev[i], c)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y * row : (y + 1) * row] = line
        prev = line
    return width, height, ch, out


def decode_png_stdlib(payload: bytes) -> tuple[int, int, list[float]]:
    """Pure-stdlib PNG decode with the SAME return contract as
    :func:`decode_bmp_stdlib`: ``(width, height, quadrant_features)``,
    features = mean luminance of the four image quadrants in [0, 1]
    (BT.601 integer luma; gray/alpha handled per channel count)."""
    width, height, ch, px = _png_decode_pixels(payload)
    row = width * ch
    half_w, half_h = (width + 1) // 2, (height + 1) // 2
    sums = [0, 0, 0, 0]
    counts = [0, 0, 0, 0]
    for y in range(height):
        line = px[y * row : (y + 1) * row]
        for qx, (lo, hi) in enumerate(((0, half_w), (half_w, width))):
            if lo >= hi:
                continue
            seg = line[lo * ch : hi * ch]
            if ch == 1:
                lum = 1000 * sum(seg)
            else:  # RGB(A): alpha ignored for luma
                lum = (
                    299 * sum(seg[0::ch])
                    + 587 * sum(seg[1::ch])
                    + 114 * sum(seg[2::ch])
                )
            q = (0 if y < half_h else 2) + qx
            sums[q] += lum // 1000
            counts[q] += hi - lo
    feats = [(s / c / 255.0) if c else 0.0 for s, c in zip(sums, counts)]
    return width, height, feats


# --------------------------------------------------------------- AIFF


def _f80_encode(rate: int) -> bytes:
    """80-bit IEEE 754 extended float (the AIFF COMM sample-rate
    field): sign(1) exponent(15, bias 16383) mantissa(64, explicit
    leading 1)."""
    if rate <= 0:
        raise NotImplementedError("sample rate must be positive")
    e = rate.bit_length() - 1
    mant = rate << (63 - e)
    return (16383 + e).to_bytes(2, "big") + mant.to_bytes(8, "big")


def _f80_decode(b: bytes) -> int:
    exp = int.from_bytes(b[:2], "big")
    mant = int.from_bytes(b[2:10], "big")
    if exp & 0x8000:
        raise NotImplementedError("negative AIFF sample rate")
    e = exp - 16383
    if not 0 <= e <= 63:
        raise NotImplementedError("AIFF sample rate out of range")
    return mant >> (63 - e)


def encode_aiff_stdlib(
    samples: list[int], channels: int = 1, rate: int = 16000,
    bps: int = 16,
) -> bytes:
    """Interleaved signed PCM → AIFF (IFF FORM/AIFF with COMM + SSND;
    big-endian samples — the byte-order mirror of WAV). Stdlib-real
    like the WAV path; 8/16/24-bit."""
    import struct

    if bps not in (8, 16, 24):
        raise NotImplementedError("8/16/24-bit PCM only")
    width = bps // 8
    n_frames = len(samples) // channels
    if n_frames * channels != len(samples):
        raise NotImplementedError("sample count not divisible by channels")
    data = b"".join(
        (s & ((1 << bps) - 1)).to_bytes(width, "big") for s in samples
    )
    comm = struct.pack(">hLh", channels, n_frames, bps) + _f80_encode(rate)
    ssnd = struct.pack(">LL", 0, 0) + data
    body = (
        b"AIFF"
        + b"COMM" + struct.pack(">L", len(comm)) + comm
        + b"SSND" + struct.pack(">L", len(ssnd)) + ssnd
        + (b"\x00" if len(ssnd) % 2 else b"")
    )
    return b"FORM" + struct.pack(">L", len(body)) + body


def decode_aiff_stdlib(payload: bytes) -> tuple[int, int, int, list[int]]:
    """AIFF → (rate, channels, bps, interleaved signed samples).
    Chunk-walks the IFF container (COMM anywhere before/after SSND,
    unknown chunks skipped, odd-length padding honored); malformed
    input raises NotImplementedError only."""
    import struct

    try:
        if payload[:4] != b"FORM" or payload[8:12] != b"AIFF":
            raise NotImplementedError("not an AIFF payload")
        pos, end = 12, 8 + struct.unpack(">L", payload[4:8])[0]
        channels = n_frames = bps = rate = None
        data = None
        while pos + 8 <= min(end, len(payload)):
            tag = payload[pos : pos + 4]
            ln = struct.unpack(">L", payload[pos + 4 : pos + 8])[0]
            body = payload[pos + 8 : pos + 8 + ln]
            if tag == b"COMM":
                channels, n_frames, bps = struct.unpack(">hLh", body[:8])
                rate = _f80_decode(body[8:18])
            elif tag == b"SSND":
                off = struct.unpack(">L", body[:4])[0]
                data = body[8 + off :]
            pos += 8 + ln + (ln & 1)  # odd chunks pad one byte
        if channels is None or data is None:
            raise NotImplementedError("missing COMM or SSND chunk")
        if bps not in (8, 16, 24):
            raise NotImplementedError(f"unsupported AIFF depth {bps}")
        width = bps // 8
        n = min(n_frames * channels, len(data) // width)
        out = []
        for i in range(n):
            v = int.from_bytes(data[i * width : (i + 1) * width], "big")
            if v & (1 << (bps - 1)):
                v -= 1 << bps
            out.append(v)
        return rate, channels, bps, out
    except NotImplementedError:
        raise
    except (IndexError, struct.error, OverflowError) as e:
        raise NotImplementedError(f"malformed AIFF payload: {e}") from e


# --------------------------------------------------------- AVI / MJPEG
# The real-world video container: AVI is a RIFF form (the WAV walk, different
# fourccs) and Motion-JPEG frames are plain baseline JPEGs — both ends
# already exist as pinned stdlib codecs, so the container logic is the
# only new surface. MJPEG-in-AVI remains the interchange shape
# webcams, DVRs and OpenCV's default writer emit; inter-frame codecs
# (H.264 etc.) stay out of scope.

_MAX_AVI_FRAMES = 10_000


def encode_avi_mjpeg(
    width: int,
    height: int,
    frames_rgb: list[bytes],
    fps: int = 10,
    quality: int = 90,
) -> bytes:
    """Deterministic AVI/MJPEG writer: RIFF('AVI ') with the standard
    hdrl (avih + one 'vids'/'MJPG' stream) + movi ('00dc' chunks, each
    a baseline JPEG from our pinned encoder) + idx1. The builder twin
    for :func:`decode_avi_mjpeg` — frame payloads are byte-identical
    to ``jpeg_codec.encode_jpeg`` output, so the decode chain pins
    reduce to the JPEG codec's."""
    import struct

    from .jpeg_codec import encode_jpeg

    if not frames_rgb:
        raise ValueError("at least one frame required")
    if fps <= 0:
        raise ValueError("fps must be positive")
    jpegs = [
        encode_jpeg(width, height, f, quality=quality) for f in frames_rgb
    ]

    def chunk(tag: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return tag + struct.pack("<I", len(body)) + body + pad

    n = len(jpegs)
    max_frame = max(len(j) for j in jpegs)
    avih = struct.pack(
        "<14I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        max_frame * fps,   # dwMaxBytesPerSec
        0,                 # dwPaddingGranularity
        0x10,              # dwFlags: AVIF_HASINDEX
        n,                 # dwTotalFrames
        0,                 # dwInitialFrames
        1,                 # dwStreams
        max_frame,         # dwSuggestedBufferSize
        width,
        height,
        0, 0, 0, 0,        # dwReserved
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIi4h",
        b"vids",
        b"MJPG",
        0, 0, 0,           # flags, priority, language
        0,                 # initial frames
        1,                 # scale
        fps,               # rate (rate/scale = fps)
        0,                 # start
        n,                 # length (frames)
        max_frame,         # suggested buffer
        0,                 # quality (driver-defined)
        -1,                # sample size (-1: varying)
        0, 0, width, height,  # rcFrame
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    )
    strl = chunk(
        b"LIST", b"strl" + chunk(b"strh", strh) + chunk(b"strf", strf)
    )
    hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", avih) + strl)
    movi_body = bytearray(b"movi")
    idx = bytearray()
    for j in jpegs:
        # idx1 offsets are relative to the 'movi' fourcc
        idx += b"00dc" + struct.pack("<III", 0x10, len(movi_body), len(j))
        movi_body += chunk(b"00dc", j)
    movi = chunk(b"LIST", bytes(movi_body))
    idx1 = chunk(b"idx1", bytes(idx))
    riff_body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def decode_avi_mjpeg(payload: bytes) -> tuple[int, int, list[bytes]]:
    """AVI/MJPEG → ``(width, height, [rgb frame bytes])``. Strict RIFF
    walk (every chunk length bounds-checked and advancing — the
    infinite-loop rule), dimensions capped BEFORE any frame decode,
    '00dc'/'00db' payloads decoded by the pinned baseline-JPEG codec.
    Streams that aren't MJPEG ('vids' with another handler, audio-only
    files) and per-frame dimension mismatches raise — never guess."""
    import struct

    from .jpeg_codec import JpegFormatError, decode_jpeg

    try:
        if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
            raise NotImplementedError("not an AVI payload")
        riff_len = struct.unpack_from("<I", payload, 4)[0]
        end = min(len(payload), 8 + riff_len)

        def walk(lo: int, hi: int):
            off = lo
            while off + 8 <= hi:
                tag = payload[off : off + 4]
                ln = struct.unpack_from("<I", payload, off + 4)[0]
                body_lo = off + 8
                body_hi = body_lo + ln
                if ln < 0 or body_hi > hi:
                    raise NotImplementedError("AVI chunk overruns file")
                yield tag, body_lo, body_hi
                nxt = body_hi + (ln & 1)
                if nxt <= off:  # must advance
                    raise NotImplementedError("non-advancing AVI chunk")
                off = nxt

        width = height = None
        handler = None
        frames: list[bytes] = []
        for tag, lo, hi in walk(12, end):
            if tag != b"LIST" or hi - lo < 4:
                continue
            kind = payload[lo : lo + 4]
            if kind == b"hdrl":
                for t2, lo2, hi2 in walk(lo + 4, hi):
                    if t2 == b"avih" and hi2 - lo2 >= 40:
                        width, height = struct.unpack_from(
                            "<II", payload, lo2 + 32
                        )
                    elif t2 == b"LIST" and payload[lo2 : lo2 + 4] == b"strl":
                        for t3, lo3, hi3 in walk(lo2 + 4, hi2):
                            if t3 == b"strh" and hi3 - lo3 >= 8:
                                fcc = payload[lo3 : lo3 + 4]
                                if fcc == b"vids" and handler is None:
                                    handler = payload[lo3 + 4 : lo3 + 8]
            elif kind == b"movi":
                if width is None or height is None:
                    raise NotImplementedError("movi before avih")
                if not 0 < width * height <= _MAX_PIXELS:
                    raise NotImplementedError(
                        "AVI dimensions exceed the decode cap"
                    )
                if handler not in (b"MJPG", b"mjpg"):
                    raise NotImplementedError(
                        f"AVI video handler {handler!r} is out of scope "
                        "(MJPG only; inter-frame codecs need PyAV)"
                    )
                for t2, lo2, hi2 in walk(lo + 4, hi):
                    if t2 in (b"00dc", b"00db"):
                        if len(frames) >= _MAX_AVI_FRAMES:
                            raise NotImplementedError(
                                "AVI exceeds the frame-count cap"
                            )
                        try:
                            w, h, rgb = decode_jpeg(
                                payload[lo2:hi2]
                            )
                        except JpegFormatError as e:
                            raise NotImplementedError(
                                f"bad MJPEG frame: {e}"
                            ) from e
                        if (w, h) != (width, height):
                            raise NotImplementedError(
                                "frame dimensions disagree with avih"
                            )
                        frames.append(rgb)
        if width is None or not frames:
            raise NotImplementedError("no MJPEG frames found")
        return width, height, frames
    except NotImplementedError:
        raise
    except (IndexError, struct.error, OverflowError) as e:
        raise NotImplementedError(f"malformed AVI payload: {e}") from e


# ------------------------------------------------------ MP4 / ISO BMFF
# Metadata PROBE, not a decoder: crawl pipelines index video by
# container facts (duration, track kinds, codec fourcc, dimensions)
# long before anything decodes frames — "keep 720p+, drop > 10 min" is
# a metadata filter. The box walk is pure stdlib struct; H.264/H.265/
# AAC payload decode stays the documented PyAV boundary.

_MAX_MP4_BOXES = 10_000


def probe_mp4(payload: bytes) -> dict:
    """ISO BMFF (MP4/MOV/M4A) container facts:

    ``{brand, duration_s, timescale, tracks: [{handler, codec, width,
    height, n_samples, duration_s}]}``

    Strict advancing walk (every box length bounds-checked, 64-bit
    largesize supported, box count capped), mvhd/tkhd/mdhd versions 0
    and 1, dimensions from tkhd 16.16 fixed-point, codec fourcc from
    the first stsd entry, sample count from stsz/stz2. Non-BMFF bytes
    raise ``NotImplementedError`` (fuzz-table row "mp4")."""
    import struct

    try:
        if len(payload) < 16 or payload[4:8] != b"ftyp":
            raise NotImplementedError("not an ISO BMFF payload")
        n_seen = 0

        def walk(lo: int, hi: int):
            nonlocal n_seen
            off = lo
            while off + 8 <= hi:
                n_seen += 1
                if n_seen > _MAX_MP4_BOXES:
                    raise NotImplementedError("box-count cap exceeded")
                size = struct.unpack_from(">I", payload, off)[0]
                tag = payload[off + 4 : off + 8]
                body = off + 8
                if size == 1:
                    if body + 8 > hi:
                        raise NotImplementedError("truncated largesize")
                    size = struct.unpack_from(">Q", payload, body)[0]
                    body += 8
                elif size == 0:  # "to end of file"
                    size = hi - off
                end = off + size
                if size < 8 or end > hi:
                    raise NotImplementedError("box overruns file")
                yield tag, body, end
                off = end  # size >= 8 guarantees advance

        brand = payload[8:12].decode("latin-1")
        out = {
            "brand": brand,
            "duration_s": None,
            "timescale": None,
            "tracks": [],
        }

        def full_box(body: int):
            version = payload[body]
            return version, body + 4

        def parse_mvhd(body, end):
            v, p = full_box(body)
            if v == 1:
                ts, dur = struct.unpack_from(">IQ", payload, p + 16)
            else:
                ts, dur = struct.unpack_from(">II", payload, p + 8)
            if ts:
                out["timescale"] = ts
                out["duration_s"] = round(dur / ts, 3)

        def parse_trak(body, end):
            track = {
                "handler": None, "codec": None, "width": None,
                "height": None, "n_samples": None, "duration_s": None,
            }
            for tag, b2, e2 in walk(body, end):
                if tag == b"tkhd":
                    v, p = full_box(b2)
                    # width/height: the LAST 8 bytes, 16.16 fixed
                    w, h = struct.unpack_from(">II", payload, e2 - 8)
                    track["width"] = w >> 16
                    track["height"] = h >> 16
                elif tag == b"mdia":
                    for t3, b3, e3 in walk(b2, e2):
                        if t3 == b"mdhd":
                            v, p = full_box(b3)
                            if v == 1:
                                ts, dur = struct.unpack_from(
                                    ">IQ", payload, p + 16
                                )
                            else:
                                ts, dur = struct.unpack_from(
                                    ">II", payload, p + 8
                                )
                            if ts:
                                track["duration_s"] = round(dur / ts, 3)
                        elif t3 == b"hdlr":
                            track["handler"] = payload[
                                b3 + 8 : b3 + 12
                            ].decode("latin-1")
                        elif t3 == b"minf":
                            for t4, b4, e4 in walk(b3, e3):
                                if t4 == b"stbl":
                                    parse_stbl(b4, e4, track)
            out["tracks"].append(track)

        def parse_stbl(body, end, track):
            import struct as _s

            for tag, b2, e2 in walk(body, end):
                if tag == b"stsd":
                    n = _s.unpack_from(">I", payload, b2 + 4)[0]
                    if n >= 1 and e2 - b2 >= 16:
                        track["codec"] = payload[b2 + 12 : b2 + 16].decode(
                            "latin-1"
                        )
                elif tag in (b"stsz", b"stz2"):
                    track["n_samples"] = _s.unpack_from(
                        ">I", payload, e2 - 4
                    )[0]

        for tag, body, end in walk(0, len(payload)):
            if tag == b"moov":
                for t2, b2, e2 in walk(body, end):
                    if t2 == b"mvhd":
                        parse_mvhd(b2, e2)
                    elif t2 == b"trak":
                        parse_trak(b2, e2)
        if not out["tracks"] and out["duration_s"] is None:
            raise NotImplementedError("no moov metadata found")
        return out
    except NotImplementedError:
        raise
    except (IndexError, struct.error, OverflowError, UnicodeDecodeError) as e:
        raise NotImplementedError(f"malformed BMFF payload: {e}") from e


def build_mp4_skeleton(
    tracks: list[dict],
    duration_s: float = 10.0,
    timescale: int = 1000,
    brand: str = "isom",
) -> bytes:
    """Deterministic minimal ISO BMFF skeleton (builder twin of
    :func:`probe_mp4`): ftyp + moov(mvhd + one trak per entry) + an
    empty mdat. Each track dict: ``{handler: "vide"|"soun", codec:
    4cc, width, height, n_samples, duration_s}``. No sample data —
    the PROBE surface is the product; epoch timestamps fixed at 0."""
    import struct

    def box(tag: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + tag + body

    def full(tag: bytes, version: int, flags: int, body: bytes) -> bytes:
        return box(tag, struct.pack(">B3s", version, flags.to_bytes(3, "big")) + body)

    dur = int(round(duration_s * timescale))
    mvhd = full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, timescale, dur)
        + struct.pack(">I", 0x00010000)  # rate 1.0
        + struct.pack(">H", 0x0100)      # volume 1.0
        + b"\x00" * 10
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", len(tracks) + 1),
    )
    traks = b""
    for i, t in enumerate(tracks):
        tdur = int(round(float(t.get("duration_s", duration_s)) * timescale))
        tkhd = full(
            b"tkhd", 0, 7,
            struct.pack(">IIII", 0, 0, i + 1, 0)
            + struct.pack(">I", tdur)
            + b"\x00" * 8
            + struct.pack(">HHHH", 0, 0, 0, 0)
            + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                          0x40000000)
            + struct.pack(">II", int(t.get("width", 0)) << 16,
                          int(t.get("height", 0)) << 16),
        )
        mdhd = full(
            b"mdhd", 0, 0,
            struct.pack(">IIII", 0, 0, timescale, tdur)
            + struct.pack(">HH", 0x55C4, 0),  # und language
        )
        handler = str(t.get("handler", "vide")).encode("latin-1")[:4]
        hdlr = full(
            b"hdlr", 0, 0,
            b"\x00" * 4 + handler + b"\x00" * 12 + b"synth\x00",
        )
        codec = str(t.get("codec", "mp4v")).encode("latin-1")[:4]
        sample_entry = struct.pack(">I", 16) + codec + b"\x00" * 8
        stsd = full(b"stsd", 0, 0, struct.pack(">I", 1) + sample_entry)
        n_samples = int(t.get("n_samples", 0))
        stsz = full(
            b"stsz", 0, 0, struct.pack(">II", 0, n_samples)
        )
        stbl = box(b"stbl", stsd + stsz)
        minf = box(b"minf", stbl)
        mdia = box(b"mdia", mdhd + hdlr + minf)
        traks += box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + traks)
    ftyp = box(b"ftyp", brand.encode("latin-1")[:4] + struct.pack(">I", 0)
               + b"isom")
    return ftyp + moov + box(b"mdat", b"")


# --------------------------------------------------------- ogg / mp3 probes

#: page/frame-count caps: a probe must terminate on hostile input long
#: before it allocates anything proportional to a forged length field
_MAX_OGG_PAGES = 100_000
_MAX_MP3_FRAMES = 1_000_000
_MAX_TAGS = 64
_MAX_TAG_BYTES = 4096

_OGG_CRC_TABLE: list[int] | None = None


def _ogg_crc(data: bytes) -> int:
    """Ogg page CRC (RFC 3533 §6): generator 0x04c11db7, DIRECT
    (non-reflected) algorithm, initial value 0, no final XOR — NOT the
    zlib/IEEE reflected CRC-32. Table-driven; the table is derived
    from the bitwise spec definition and cross-checked against it in
    tests (no Ogg implementation exists in this container to interop
    against — the FLAC convention)."""
    global _OGG_CRC_TABLE
    if _OGG_CRC_TABLE is None:
        table = []
        for byte in range(256):
            r = byte << 24
            for _ in range(8):
                r = ((r << 1) ^ 0x04C11DB7 if r & 0x80000000 else r << 1)
                r &= 0xFFFFFFFF
            table.append(r)
        _OGG_CRC_TABLE = table
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _OGG_CRC_TABLE[
            ((crc >> 24) & 0xFF) ^ b
        ]
    return crc


def _parse_vorbis_comments(body: bytes) -> tuple[str | None, dict]:
    """Vorbis-comment block (shared by Vorbis and OpusTags): vendor
    string + KEY=value pairs, every length bounds-checked, counts and
    sizes capped (caps surface as fewer tags, never wrong ones)."""
    import struct

    if len(body) < 4:
        return None, {}
    vlen = struct.unpack_from("<I", body, 0)[0]
    p = 4
    if vlen > len(body) - p:
        return None, {}
    vendor = body[p : p + vlen].decode("utf-8", "replace")
    p += vlen
    if p + 4 > len(body):
        return vendor, {}
    n = struct.unpack_from("<I", body, p)[0]
    p += 4
    tags: dict[str, str] = {}
    for _ in range(min(n, _MAX_TAGS)):
        if p + 4 > len(body):
            break
        ln = struct.unpack_from("<I", body, p)[0]
        p += 4
        if ln > len(body) - p or ln > _MAX_TAG_BYTES:
            break
        item = body[p : p + ln].decode("utf-8", "replace")
        p += ln
        if "=" in item:
            k, _, v = item.partition("=")
            tags[k.upper()] = v
    return vendor, tags


def probe_ogg(payload: bytes) -> dict:
    """Ogg container facts (RFC 3533 page walk + the Vorbis I /
    OpusHead / FLAC-mapping identification headers):

    ``{container, codec, channels, sample_rate, duration_s, vendor,
    tags, n_pages, n_streams}``

    Every page CRC is VERIFIED (the RFC 3533 direct-CRC variant);
    packets are reassembled across lacing segments and page
    boundaries for the first two packets per logical stream (ID +
    comment headers), and duration derives from the last finished
    granule position per the codec's granule semantics (Vorbis: PCM
    samples at the declared rate; Opus: 48 kHz ticks minus pre-skip).
    PCM decode of these codecs stays the import-gated boundary — this
    is the metadata stage a crawl filter needs ("keep stereo ≥ 16 kHz
    under 10 min") long before any decoder runs. Non-Ogg or corrupt
    bytes raise ``NotImplementedError`` (fuzz-table row "ogg")."""
    import struct

    try:
        if payload[:4] != b"OggS":
            raise NotImplementedError("not an Ogg payload")
        off = 0
        n_pages = 0
        streams: dict[int, dict] = {}
        while off < len(payload):
            if payload[off : off + 4] != b"OggS":
                raise NotImplementedError("page sync lost")
            n_pages += 1
            if n_pages > _MAX_OGG_PAGES:
                raise NotImplementedError("page-count cap exceeded")
            if off + 27 > len(payload):
                raise NotImplementedError("truncated page header")
            if payload[off + 4] != 0:
                raise NotImplementedError("unknown Ogg version")
            granule = struct.unpack_from("<q", payload, off + 6)[0]
            serial = struct.unpack_from("<I", payload, off + 14)[0]
            crc_rec = struct.unpack_from("<I", payload, off + 22)[0]
            n_seg = payload[off + 26]
            seg_lo = off + 27
            seg_hi = seg_lo + n_seg
            if seg_hi > len(payload):
                raise NotImplementedError("truncated segment table")
            lacing = payload[seg_lo:seg_hi]
            body_len = sum(lacing)
            end = seg_hi + body_len
            if end > len(payload):
                raise NotImplementedError("page overruns file")
            page = bytearray(payload[off:end])
            page[22:26] = b"\x00\x00\x00\x00"
            if _ogg_crc(bytes(page)) != crc_rec:
                raise NotImplementedError("page CRC mismatch")
            st = streams.setdefault(
                serial,
                {"packets": [], "buf": b"", "granule": None},
            )
            # reassemble packets (first two per stream are enough:
            # ID header + comment header)
            p = seg_hi
            for lace in lacing:
                if len(st["packets"]) < 2:
                    st["buf"] += payload[p : p + lace]
                    if lace < 255:  # packet ends here
                        st["packets"].append(st["buf"])
                        st["buf"] = b""
                p += lace
            if granule != -1 and n_seg and lacing[-1] < 255:
                st["granule"] = granule
            off = end  # header is >= 27 bytes: guaranteed advance
        out = {
            "container": "ogg",
            "codec": None,
            "channels": None,
            "sample_rate": None,
            "duration_s": None,
            "vendor": None,
            "tags": {},
            "n_pages": n_pages,
            "n_streams": len(streams),
        }
        for st in streams.values():  # first AUDIO stream wins
            if not st["packets"]:
                continue
            ident = st["packets"][0]
            comment = st["packets"][1] if len(st["packets"]) > 1 else b""
            if ident[:7] == b"\x01vorbis" and len(ident) >= 30:
                out["codec"] = "vorbis"
                out["channels"] = ident[11]
                rate = struct.unpack_from("<I", ident, 12)[0]
                out["sample_rate"] = rate
                if st["granule"] and rate:
                    out["duration_s"] = round(st["granule"] / rate, 3)
                if comment[:7] == b"\x03vorbis":
                    out["vendor"], out["tags"] = _parse_vorbis_comments(
                        comment[7:]
                    )
            elif ident[:8] == b"OpusHead" and len(ident) >= 19:
                out["codec"] = "opus"
                out["channels"] = ident[9]
                preskip = struct.unpack_from("<H", ident, 10)[0]
                # input_sample_rate is informational; Opus granules
                # tick at 48 kHz by definition (RFC 7845 §4)
                out["sample_rate"] = struct.unpack_from("<I", ident, 12)[0]
                if st["granule"]:
                    out["duration_s"] = round(
                        max(st["granule"] - preskip, 0) / 48000.0, 3
                    )
                if comment[:8] == b"OpusTags":
                    out["vendor"], out["tags"] = _parse_vorbis_comments(
                        comment[8:]
                    )
            elif ident[:5] == b"\x7fFLAC":
                out["codec"] = "flac"
                # RFC 9639-in-Ogg: ident = 0x7F FLAC maj min n(2) then a
                # verbatim fLaC + STREAMINFO block
                si = ident.find(b"fLaC")
                if si >= 0 and len(ident) >= si + 8 + 18:
                    info = ident[si + 8 :]
                    out["sample_rate"] = (
                        (info[10] << 12) | (info[11] << 4) | (info[12] >> 4)
                    )
                    out["channels"] = ((info[12] >> 1) & 0x7) + 1
                    if st["granule"] and out["sample_rate"]:
                        out["duration_s"] = round(
                            st["granule"] / out["sample_rate"], 3
                        )
            elif ident[:7] == b"\x80theora":
                out["codec"] = "theora"
                continue  # keep looking for an audio stream
            else:
                continue
            break
        return out
    except (IndexError, struct.error) as e:  # pragma: no cover
        raise NotImplementedError(f"malformed Ogg: {e}") from e


def _ogg_page(
    serial: int,
    seq: int,
    granule: int,
    packets: list[bytes],
    header_type: int,
) -> bytes:
    """One well-formed Ogg page (builder side of the probe pin)."""
    import struct

    lacing = bytearray()
    body = bytearray()
    for pkt in packets:
        q, r = divmod(len(pkt), 255)
        lacing += b"\xff" * q + bytes([r])
        body += pkt
    head = bytearray(b"OggS\x00")
    head.append(header_type)
    head += struct.pack("<q", granule)
    head += struct.pack("<I", serial)
    head += struct.pack("<I", seq)
    head += b"\x00\x00\x00\x00"  # crc placeholder
    head.append(len(lacing))
    page = bytes(head) + bytes(lacing) + bytes(body)
    crc = _ogg_crc(page)
    return page[:22] + struct.pack("<I", crc) + page[26:]


def build_ogg(
    codec: str = "opus",
    channels: int = 2,
    sample_rate: int = 48000,
    duration_s: float = 2.5,
    tags: dict | None = None,
    serial: int = 0x01020304,
) -> bytes:
    """Deterministic minimal Ogg stream (ID header page + comment page
    + one audio page whose granule encodes ``duration_s``) — the
    builder twin :func:`probe_ogg` round-trips against. The audio
    packet bytes are opaque (we never decode them — honest boundary);
    everything the PROBE reads is real: page framing, lacing, CRCs,
    identification and comment headers, granule arithmetic."""
    import struct

    tags = tags or {}
    vendor = b"teste-carga-spark"
    items = [f"{k}={v}".encode() for k, v in sorted(tags.items())]
    vc = struct.pack("<I", len(vendor)) + vendor
    vc += struct.pack("<I", len(items))
    for item in items:
        vc += struct.pack("<I", len(item)) + item
    if codec == "opus":
        preskip = 312
        ident = (
            b"OpusHead\x01"
            + bytes([channels])
            + struct.pack("<H", preskip)
            + struct.pack("<I", sample_rate)
            + b"\x00\x00\x00"
        )
        comment = b"OpusTags" + vc
        granule = int(round(duration_s * 48000)) + preskip
    elif codec == "vorbis":
        ident = (
            b"\x01vorbis"
            + struct.pack("<I", 0)
            + bytes([channels])
            + struct.pack("<I", sample_rate)
            + struct.pack("<iii", 0, 128000, 0)
            + bytes([0xB8])  # blocksizes 256/2048
            + b"\x01"
        )
        comment = b"\x03vorbis" + vc + b"\x01"
        granule = int(round(duration_s * sample_rate))
    else:
        raise ValueError("codec must be opus|vorbis")
    fake_audio = bytes(range(256)) * 3  # spans lacing segments (255s)
    return (
        _ogg_page(serial, 0, 0, [ident], 0x02)  # BOS
        + _ogg_page(serial, 1, 0, [comment], 0x00)
        + _ogg_page(serial, 2, granule, [fake_audio], 0x04)  # EOS
    )


# MPEG audio frame tables (ISO/IEC 11172-3 / 13818-3), Layer III only —
# the "mp3" case; Layers I/II raise (documented boundary)
_MP3_BITRATE_V1L3 = [
    None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
]
_MP3_BITRATE_V2L3 = [
    None, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160,
]
_MP3_RATES = {
    3: [44100, 48000, 32000],   # MPEG1
    2: [22050, 24000, 16000],   # MPEG2
    0: [11025, 12000, 8000],    # MPEG2.5
}


def _id3v2_tags(payload: bytes) -> tuple[int, dict]:
    """(bytes consumed, text tags) from a leading ID3v2.3/2.4 block.
    Text frames only (Txxx), the common TIT2/TPE1/TALB metadata; sizes
    are syncsafe in the header (always) and in v2.4 frames."""
    import struct

    if payload[:3] != b"ID3" or len(payload) < 10:
        return 0, {}
    major = payload[3]
    flags = payload[5]
    size = 0
    for b in payload[6:10]:
        if b & 0x80:
            raise NotImplementedError("ID3 size byte not syncsafe")
        size = (size << 7) | b
    end = 10 + size
    if end > len(payload):
        raise NotImplementedError("ID3 block overruns file")
    p = 10
    if flags & 0x40 and p + 4 <= end:  # extended header
        ext = struct.unpack_from(">I", payload, p)[0]
        if major == 4:  # syncsafe in v2.4
            ext = 0
            for b in payload[p : p + 4]:
                ext = (ext << 7) | (b & 0x7F)
        else:
            ext += 4
        p += max(ext, 4)
    tags: dict[str, str] = {}
    encodings = {0: "latin-1", 1: "utf-16", 2: "utf-16-be", 3: "utf-8"}
    while p + 10 <= end and len(tags) < _MAX_TAGS:
        fid = payload[p : p + 4]
        if fid == b"\x00\x00\x00\x00":
            break  # padding
        fsize = struct.unpack_from(">I", payload, p + 4)[0]
        if major == 4:
            fsize = 0
            for b in payload[p + 4 : p + 8]:
                if b & 0x80:
                    raise NotImplementedError("v2.4 frame size not syncsafe")
                fsize = (fsize << 7) | b
        p += 10
        if fsize > end - p:
            raise NotImplementedError("ID3 frame overruns block")
        if (
            fid[:1] == b"T"
            and fsize >= 1
            and fsize <= _MAX_TAG_BYTES
            and all(65 <= c <= 90 or 48 <= c <= 57 for c in fid)
        ):
            enc = encodings.get(payload[p], "latin-1")
            text = (
                payload[p + 1 : p + fsize]
                .decode(enc, "replace")
                .rstrip("\x00")
            )
            tags[fid.decode("ascii")] = text
        p += fsize
    return end, tags


def probe_mp3(payload: bytes) -> dict:
    """MPEG audio (MP3) facts from the frame-header walk + ID3v2 text
    tags:

    ``{container, version, layer, bitrate_kbps, sample_rate, channels,
    n_frames, duration_s, vbr, tags}``

    Every frame header is validated (sync, version/layer/bitrate/rate
    indices) and the walk advances by the table-derived frame length —
    a forged length can't loop or allocate. Duration = frames ×
    samples-per-frame / rate, which is exact for the CBR streams the
    builder emits and the standard estimate elsewhere; a Xing/Info
    header marks ``vbr``. Layers I/II and free-format bitrate raise
    (documented boundary, like progressive-JPEG before r10). PCM
    decode stays import-gated."""
    try:
        consumed, tags = _id3v2_tags(payload)
        p = consumed
        # optional ID3v1 trailer: ignore its 128 bytes for the walk
        hi = len(payload)
        if hi - p >= 128 and payload[hi - 128 : hi - 125] == b"TAG":
            hi -= 128
        if p + 4 > hi or payload[p] != 0xFF or (payload[p + 1] & 0xE0) != 0xE0:
            raise NotImplementedError("no MPEG frame sync")
        first = None
        n_frames = 0
        vbr = False
        while p + 4 <= hi:
            if payload[p] != 0xFF or (payload[p + 1] & 0xE0) != 0xE0:
                raise NotImplementedError(
                    f"frame sync lost at byte {p}"
                )
            ver_bits = (payload[p + 1] >> 3) & 0x3
            layer_bits = (payload[p + 1] >> 1) & 0x3
            if ver_bits == 1:
                raise NotImplementedError("reserved MPEG version")
            if layer_bits != 1:  # 1 = Layer III
                raise NotImplementedError("only Layer III implemented")
            br_idx = (payload[p + 2] >> 4) & 0xF
            sr_idx = (payload[p + 2] >> 2) & 0x3
            if br_idx in (0, 15) or sr_idx == 3:
                raise NotImplementedError(
                    "free-format/reserved bitrate or rate"
                )
            mpeg1 = ver_bits == 3
            bitrate = (
                _MP3_BITRATE_V1L3 if mpeg1 else _MP3_BITRATE_V2L3
            )[br_idx]
            rate = _MP3_RATES[ver_bits][sr_idx]
            padding = (payload[p + 2] >> 1) & 0x1
            mode = (payload[p + 3] >> 6) & 0x3
            frame_len = (144 if mpeg1 else 72) * bitrate * 1000 // rate
            frame_len += padding
            if frame_len < 4:
                raise NotImplementedError("degenerate frame length")
            if p + frame_len > hi:
                raise NotImplementedError("truncated final frame")
            if first is None:
                first = {
                    "version": "1" if mpeg1 else ("2" if ver_bits == 2 else "2.5"),
                    "bitrate_kbps": bitrate,
                    "sample_rate": rate,
                    "channels": 1 if mode == 3 else 2,
                    "spf": 1152 if mpeg1 else 576,
                }
                side = (
                    (36 if mode != 3 else 21)
                    if mpeg1
                    else (21 if mode != 3 else 13)
                )
                marker = payload[p + side : p + side + 4]
                vbr = marker in (b"Xing", b"Info") and marker == b"Xing"
            n_frames += 1
            if n_frames > _MAX_MP3_FRAMES:
                raise NotImplementedError("frame-count cap exceeded")
            p += frame_len
        return {
            "container": "mp3",
            "version": first["version"],
            "layer": 3,
            "bitrate_kbps": first["bitrate_kbps"],
            "sample_rate": first["sample_rate"],
            "channels": first["channels"],
            "n_frames": n_frames,
            "duration_s": round(
                n_frames * first["spf"] / first["sample_rate"], 3
            ),
            "vbr": vbr,
            "tags": tags,
        }
    except (IndexError, KeyError, TypeError) as e:
        raise NotImplementedError(f"malformed MP3: {e}") from e


def build_mp3(
    n_frames: int = 38,
    bitrate_kbps: int = 128,
    sample_rate: int = 44100,
    channels: int = 2,
    tags: dict | None = None,
) -> bytes:
    """Deterministic CBR MPEG1 Layer III stream with an ID3v2.3 tag
    block — the builder twin :func:`probe_mp3` round-trips against.
    Frame payloads are zeros (never decoded); the headers, lengths and
    tag encoding are real."""
    import struct

    br_idx = _MP3_BITRATE_V1L3.index(bitrate_kbps)
    sr_idx = _MP3_RATES[3].index(sample_rate)
    mode = 3 if channels == 1 else 0
    frames = bytearray()
    for _ in range(n_frames):
        h = bytes(
            [
                0xFF,
                0xFB,  # MPEG1, Layer III, no CRC
                (br_idx << 4) | (sr_idx << 2),
                mode << 6,
            ]
        )
        frame_len = 144 * bitrate_kbps * 1000 // sample_rate
        frames += h + b"\x00" * (frame_len - 4)
    body = bytearray()
    for fid, text in sorted((tags or {}).items()):
        # encoding 1 = UTF-16 with BOM (the only non-latin1 encoding
        # ID3v2.3 defines; 3=UTF-8 exists only in v2.4)
        data = b"\x01" + text.encode("utf-16")
        body += fid.encode("ascii") + struct.pack(">I", len(data))
        body += b"\x00\x00" + data
    size = len(body)
    ss = bytes(
        [(size >> 21) & 0x7F, (size >> 14) & 0x7F, (size >> 7) & 0x7F, size & 0x7F]
    )
    id3 = b"ID3\x03\x00\x00" + ss + bytes(body) if body else b""
    return id3 + bytes(frames)


# ---------------------------------------------------------------- TIFF
# Real classic-TIFF (6.0 baseline subset) on stdlib only — the scan/
# fax/scientific-archive interchange format that web crawls still
# carry. Decoder: II and MM byte orders, 8-bit samples, gray (1) and
# RGB (3), strips via RowsPerStrip, Compression 1 (none) / 5 (the
# TIFF-variant LZW, pinned against the JDK TIFF writer) / 8 + 32946
# (Deflate), Predictor 1/2 (horizontal differencing, JVM-pinned
# against the JDK TIFF reader). Encoder: II,
# 8-bit RGB, one strip, none/deflate + optional predictor 2,
# deterministic bytes. Tiles, planar=2, palettes, sub-byte/16-bit
# samples and the JPEG-in-TIFF compressions raise (documented
# boundary). Interop-pinned BOTH directions against javax.imageio's
# TIFF plugin (tests/test_imageio_interop.py — the avro-jar net).
_TIFF_MAGIC_LE = b"II*\x00"
_TIFF_MAGIC_BE = b"MM\x00*"


def _tiff_lzw_decode(data: bytes) -> bytes:
    """TIFF-variant LZW (TIFF 6.0 §13, EarlyChange): MSB-first code
    packing, 256 = ClearTable, 257 = EOD, code width grows 9→12 bits
    one code early. Output is capped at 64 MiB."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    prev: bytes | None = None
    width = 9
    acc = bits = 0
    for byte in data:
        acc = (acc << 8) | byte
        bits += 8
        while bits >= width:
            bits -= width
            code = (acc >> bits) & ((1 << width) - 1)
            if code == 256:
                table = table[:258]
                width = 9
                prev = None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise NotImplementedError(
                        "bad LZW strip: first code out of range"
                    )
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]  # KwKwK
                table.append(entry)
            else:
                raise NotImplementedError(
                    "bad LZW strip: code out of range"
                )
            out += entry
            if len(out) > _MAX_PIXELS:  # 1 << 26 bytes = 64 MiB
                raise NotImplementedError(
                    "bad LZW strip: inflate exceeds cap"
                )
            prev = entry
            # width switch (the classic TIFF-LZW off-by-one): the width
            # grows once the table holds (1<<width)-1 entries
            # (511/1023/2047) — this exact threshold is pinned against
            # the JDK TIFF writer's LZW in test_imageio_interop.py, not
            # chosen from spec memory
            if len(table) + 1 >= (1 << width) and width < 12:
                width += 1
    return bytes(out)  # missing EOD: tolerate


def _tiff_unpredict(data: bytes, columns: int, colors: int) -> bytes:
    """TIFF predictor 2 (TIFF 6.0 §14, horizontal differencing) over
    8-bit samples: each sample stores the delta from the previous
    sample of the SAME color component in the row; rows are exactly
    ``columns * colors`` samples with no per-row filter byte.
    Convention pinned against the JDK TIFF reader
    (tests/test_imageio_interop.py)."""
    rowlen = columns * colors
    if rowlen <= 0:
        raise NotImplementedError("bad predictor row length")
    if len(data) % rowlen:
        raise NotImplementedError("predicted strip not a whole row count")
    out = bytearray(data)
    for start in range(0, len(out), rowlen):
        for i in range(start + colors, start + rowlen):
            out[i] = (out[i] + out[i - colors]) & 0xFF
    return bytes(out)


def _tiff_predict(data: bytes, columns: int, colors: int) -> bytes:
    """Forward horizontal differencing (the encoder twin of
    :func:`_tiff_unpredict`)."""
    rowlen = columns * colors
    out = bytearray(data)
    for start in range(0, len(data), rowlen):
        for i in range(start + rowlen - 1, start + colors - 1, -1):
            out[i] = (data[i] - data[i - colors]) & 0xFF
    return bytes(out)


def _tiff_decode_pixels(
    payload: bytes,
) -> tuple[int, int, int, bytearray]:
    """Classic TIFF → ``(width, height, channels, pixels)`` with 8-bit
    samples, channels 1 (gray) or 3 (RGB; RGBA alpha is dropped).
    First IFD only (the multi-page walk is a probe concern, not a
    pixel one). Every offset/length is bounds-checked and every strip
    must advance — the decoder-hardening rule."""
    import struct
    import zlib

    if payload[:4] == _TIFF_MAGIC_LE:
        e = "<"
    elif payload[:4] == _TIFF_MAGIC_BE:
        e = ">"
    else:
        raise NotImplementedError("not a classic TIFF payload")

    def u16(off):
        return struct.unpack_from(e + "H", payload, off)[0]

    def u32(off):
        return struct.unpack_from(e + "I", payload, off)[0]

    try:
        ifd = u32(4)
        n = u16(ifd)
        if n == 0 or n > 512:
            raise NotImplementedError("bad IFD entry count")
        tags: dict[int, list[int]] = {}
        for i in range(n):
            off = ifd + 2 + 12 * i
            tag, typ, cnt = u16(off), u16(off + 2), u32(off + 4)
            size = {1: 1, 3: 2, 4: 4}.get(typ)
            if size is None:
                continue  # RATIONAL etc. — not needed for pixels
            if cnt > 1 << 20:
                raise NotImplementedError("tag count cap exceeded")
            base = off + 8 if size * cnt <= 4 else u32(off + 8)
            if base + size * cnt > len(payload):
                raise NotImplementedError("tag values overrun file")
            vals = []
            for j in range(cnt):
                p = base + size * j
                vals.append(
                    payload[p]
                    if typ == 1
                    else u16(p) if typ == 3 else u32(p)
                )
            tags[tag] = vals
    except struct.error as exc:
        raise NotImplementedError(
            f"malformed TIFF payload: {exc}"
        ) from exc

    def one(tag, default=None):
        v = tags.get(tag)
        if v is None:
            if default is None:
                raise NotImplementedError(f"missing TIFF tag {tag}")
            return default
        return v[0]

    width, height = one(256), one(257)
    if not (0 < width and 0 < height and width * height <= _MAX_PIXELS):
        raise NotImplementedError("TIFF dimensions out of bounds")
    spp = one(277, 1)
    bits = tags.get(258, [8])
    if spp not in (1, 3, 4) or any(b != 8 for b in bits):
        raise NotImplementedError(
            "only 8-bit gray/RGB(A) TIFF is supported"
        )
    if one(284, 1) != 1:
        raise NotImplementedError("planar TIFF is out of scope")
    if one(262, 1) not in (1, 2):
        # 0 = WhiteIsZero would decode inverted; 3 = palette
        raise NotImplementedError("only BlackIsZero/RGB photometric")
    if 320 in tags:
        raise NotImplementedError("palette TIFF is out of scope")
    if 322 in tags or 323 in tags:
        raise NotImplementedError("tiled TIFF is out of scope")
    comp = one(259, 1)
    if comp not in (1, 5, 8, 32946):
        raise NotImplementedError(f"TIFF compression {comp} unsupported")
    predictor = one(317, 1)
    if predictor not in (1, 2):
        raise NotImplementedError(f"TIFF predictor {predictor} unsupported")

    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise NotImplementedError("bad TIFF strip layout")
    rows_per_strip = one(278, height)
    if rows_per_strip <= 0:
        raise NotImplementedError("bad RowsPerStrip")
    rowlen = width * spp
    out = bytearray()
    row_budget = height
    for so, sc in zip(offsets, counts):
        if so + sc > len(payload) or sc <= 0:
            raise NotImplementedError("strip overruns file")
        raw = payload[so : so + sc]
        if comp in (8, 32946):
            try:
                dec = zlib.decompressobj()
                raw = dec.decompress(raw, _MAX_PIXELS * 4)
                if dec.unconsumed_tail:
                    raise NotImplementedError("strip inflate exceeds cap")
            except zlib.error as exc:
                raise NotImplementedError(
                    f"bad deflate strip: {exc}"
                ) from exc
        elif comp == 5:
            raw = _tiff_lzw_decode(raw)
        n_rows = min(rows_per_strip, row_budget)
        if len(raw) < n_rows * rowlen:
            raise NotImplementedError("strip shorter than its rows")
        raw = raw[: n_rows * rowlen]
        if predictor == 2:
            raw = _tiff_unpredict(raw, width, spp)
        out += raw
        row_budget -= n_rows
        if row_budget <= 0:
            break
    if row_budget > 0:
        raise NotImplementedError("strips cover fewer rows than ImageLength")
    if spp == 4:  # drop alpha to the RGB contract
        rgb = bytearray(width * height * 3)
        for i in range(width * height):
            rgb[3 * i : 3 * i + 3] = out[4 * i : 4 * i + 3]
        return width, height, 3, rgb
    return width, height, spp, out


def decode_tiff_stdlib(payload: bytes) -> tuple[int, int, list[float]]:
    """Same return contract as :func:`decode_bmp_stdlib` /
    :func:`decode_png_stdlib`: ``(width, height, quadrant_features)``."""
    width, height, ch, px = _tiff_decode_pixels(payload)
    row = width * ch
    half_w, half_h = (width + 1) // 2, (height + 1) // 2
    sums = [0, 0, 0, 0]
    counts = [0, 0, 0, 0]
    for y in range(height):
        line = px[y * row : (y + 1) * row]
        for qx, (lo, hi) in enumerate(((0, half_w), (half_w, width))):
            if lo >= hi:
                continue
            seg = line[lo * ch : hi * ch]
            if ch == 1:
                lum = 1000 * sum(seg)
            else:
                lum = (
                    299 * sum(seg[0::ch])
                    + 587 * sum(seg[1::ch])
                    + 114 * sum(seg[2::ch])
                )
            q = (0 if y < half_h else 2) + qx
            sums[q] += lum // 1000
            counts[q] += hi - lo
    feats = [(s / c / 255.0) if c else 0.0 for s, c in zip(sums, counts)]
    return width, height, feats


def encode_tiff_stdlib(
    width: int,
    height: int,
    rgb: bytes,
    compression: str = "deflate",
    predictor: int = 2,
) -> bytes:
    """Deterministic classic-TIFF encoder (II, 8-bit RGB, one strip):
    ``compression`` none|deflate, ``predictor`` 1|2 (horizontal
    differencing before deflate — the libtiff default pairing; ignored
    for ``none`` per the spec's LZW/deflate-only predictor scope).
    Builder twin of the decoder; foreign-parse pinned in
    tests/test_imageio_interop.py."""
    import struct
    import zlib

    if len(rgb) != width * height * 3:
        raise ValueError("rgb must be width*height*3 bytes")
    if compression not in ("none", "deflate"):
        raise ValueError("compression must be none|deflate")
    if predictor not in (1, 2):
        raise ValueError("predictor must be 1|2")
    data = bytes(rgb)
    use_pred = predictor == 2 and compression == "deflate"
    if use_pred:
        data = _tiff_predict(data, width, 3)
    if compression == "deflate":
        data = zlib.compress(data, 6)
    comp_val = 8 if compression == "deflate" else 1

    entries = [
        (256, 3, 1, width),
        (257, 3, 1, height),
        (259, 3, 1, comp_val),
        (262, 3, 1, 2),  # Photometric: RGB
        (277, 3, 1, 3),
        (278, 3, 1, height),
        (279, 4, 1, len(data)),
    ]
    if use_pred:
        entries.append((317, 3, 1, 2))
    # BitsPerSample needs 3 SHORTs = 6 bytes -> out-of-line values
    n_entries = len(entries) + 2  # + BitsPerSample + StripOffsets
    ifd_at = 8
    bits_at = ifd_at + 2 + 12 * n_entries + 4
    data_at = bits_at + 6
    entries.append((258, 3, 3, bits_at))
    entries.append((273, 4, 1, data_at))
    out = bytearray(struct.pack("<2sHI", b"II", 42, ifd_at))
    out += struct.pack("<H", n_entries)
    for tag, typ, cnt, val in sorted(entries):
        out += struct.pack("<HHII", tag, typ, cnt, val)
    out += struct.pack("<I", 0)  # no next IFD
    out += struct.pack("<HHH", 8, 8, 8)
    assert len(out) == data_at
    out += data
    return bytes(out)


def probe_image(payload: bytes) -> dict:
    """HEADER-ONLY image facts, magic-dispatched: ``{format, width,
    height}`` for BMP / PNG / GIF / baseline+progressive JPEG /
    classic TIFF — the dims come from the container header (PNG IHDR,
    GIF logical screen descriptor, JPEG SOF segment, TIFF IFD tags,
    BMP info header) with NO pixel decode, so a 100 TB crawl can
    filter by resolution before paying any codec. Unknown magic or a
    malformed header raises ``NotImplementedError`` (fuzz-table row
    ``image_probe``)."""
    import struct

    try:
        if payload[:2] == b"BM":
            _, width, height_raw = struct.unpack_from(
                "<Iii", payload, 14
            )
            return {
                "format": "bmp",
                "width": int(width),
                "height": abs(int(height_raw)),
            }
        if payload[:8] == b"\x89PNG\r\n\x1a\n":
            if payload[12:16] != b"IHDR":
                raise NotImplementedError("PNG without leading IHDR")
            w, h = struct.unpack_from(">II", payload, 16)
            return {"format": "png", "width": int(w), "height": int(h)}
        if payload[:4] == b"GIF8" and payload[4:6] in (b"7a", b"9a"):
            w, h = struct.unpack_from("<HH", payload, 6)
            return {"format": "gif", "width": int(w), "height": int(h)}
        if payload[:3] == b"\xff\xd8\xff":
            pos = 2
            n_seen = 0
            while pos + 4 <= len(payload):
                n_seen += 1
                if n_seen > 4096:
                    raise NotImplementedError("JPEG marker cap exceeded")
                if payload[pos] != 0xFF:
                    raise NotImplementedError("bad JPEG marker stream")
                marker = payload[pos + 1]
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    pos += 2
                    continue
                seglen = struct.unpack_from(">H", payload, pos + 2)[0]
                if seglen < 2:
                    raise NotImplementedError("bad JPEG segment length")
                if 0xC0 <= marker <= 0xCF and marker not in (
                    0xC4, 0xC8, 0xCC
                ):  # any SOF flavor carries the frame dims
                    h, w = struct.unpack_from(">HH", payload, pos + 5)
                    return {
                        "format": "jpeg",
                        "width": int(w),
                        "height": int(h),
                    }
                if marker == 0xDA:
                    break  # SOS without SOF: malformed
                pos += 2 + seglen
            raise NotImplementedError("JPEG without a SOF header")
        if payload[:4] in (_TIFF_MAGIC_LE, _TIFF_MAGIC_BE):
            e = "<" if payload[:4] == _TIFF_MAGIC_LE else ">"
            ifd = struct.unpack_from(e + "I", payload, 4)[0]
            n = struct.unpack_from(e + "H", payload, ifd)[0]
            if n == 0 or n > 512:
                raise NotImplementedError("bad IFD entry count")
            dims = {}
            for i in range(n):
                off = ifd + 2 + 12 * i
                tag, typ, cnt = struct.unpack_from(
                    e + "HHI", payload, off
                )
                if tag in (256, 257) and typ in (3, 4):
                    # TIFF 6.0 gives ImageWidth/ImageLength count 1;
                    # count>1 would put the VALUE OFFSET at off+8, and
                    # reading it as the dimension returns garbage —
                    # raise instead (decoder-hardening rule, r11 fix)
                    if cnt != 1:
                        raise NotImplementedError(
                            "TIFF dimension tag with count != 1"
                        )
                    dims[tag] = struct.unpack_from(
                        e + ("H" if typ == 3 else "I"), payload, off + 8
                    )[0]
            if 256 not in dims or 257 not in dims:
                raise NotImplementedError("TIFF missing dimension tags")
            return {
                "format": "tiff",
                "width": int(dims[256]),
                "height": int(dims[257]),
            }
    except (struct.error, IndexError) as exc:
        raise NotImplementedError(
            f"malformed image header: {exc}"
        ) from exc
    raise NotImplementedError("unrecognized image magic")
