"""Perceptual-hash media near-duplicate detection (images + audio) —
the multimodal sibling of the text near-dup stack
(``operators/dedup.py``). A crawl corpus carries the same image or
recording re-encoded, resized or lightly edited thousands of times;
exact byte dedup misses all of it. The standard
recipe (used by every large image-dataset pipeline, e.g. LAION's
dedup pass) is a tiny perceptual fingerprint + a Hamming-ball join:

1. **dHash** (difference hash): decode → grayscale → downscale to a
   9x8 luminance grid → 64 bits, one per horizontally-adjacent cell
   pair (``left < right``). Robust to re-encoding, scaling and small
   edits; any single-pixel change flips at most a few bits.
2. **Pigeonhole banding**: to find all pairs within Hamming distance
   ``k`` WITHOUT an all-pairs O(n²) scan, split the 64 bits into
   ``k+1`` disjoint bands — two hashes differing in ≤ k bits must
   agree EXACTLY on at least one band (k differences cannot touch
   k+1 bands). Equality self-join per band → candidates → verify
   with ``bit_count(a XOR b) <= k``. Same candidate-generation
   discipline as MinHash-LSH (`dedup.py:290`), and the same scale
   rules: one aliased persisted frame so the Exchange is reused,
   ``shuffle_hash``-pinned tail (Catalyst mis-estimates post-explode
   sizes), ids+longs only through the fan-out join (no arrays).

Decoding uses the repo's stdlib-real BMP/PNG codecs
(`operators/multimodal.py`) inside one Arrow-batched pandas UDF —
the documented py-lane. The reference engine has no image
pipeline at all (SURVEY.md §2.2); this extends the multimodal
surface (E5) with the dedup discipline of E2.

Degenerate-image skew: constant-color thumbnails all hash to the
same value, so one band key can fan out to the whole corpus. The
``max_band_df`` cap drops over-dense band keys BEFORE the self-join
(bounding fan-out at max_band_df² per key) and, per the
no-silent-caps rule, reports what it dropped via the optional
``stats`` dict — the same convention as ``neardup_clusters``.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

GRID_W, GRID_H = 9, 8  # dHash grid: 8 comparisons per row x 8 rows


# --------------------------------------------------------------- decode
def _bmp_lum_rows(payload: bytes) -> tuple[int, int, list[list[int]]]:
    """24-bit BMP → top-down rows of integer BT.601 luminance
    (same dialect as ``multimodal.decode_bmp_stdlib``: BI_RGB,
    bottom-up or top-down, row stride padded to 4 bytes)."""
    import struct

    if payload[:2] != b"BM":
        raise NotImplementedError("not a BMP payload")
    try:
        pixel_off = struct.unpack_from("<I", payload, 10)[0]
        _, width, height_raw, _, bpp, compression = struct.unpack_from(
            "<IiiHHI", payload, 14
        )
    except struct.error as e:  # truncated header
        raise NotImplementedError(f"malformed BMP payload: {e}") from e
    if bpp != 24 or compression != 0:
        raise NotImplementedError("only 24-bit uncompressed BMP supported")
    bottom_up = height_raw > 0
    height = abs(height_raw)
    row_raw = width * 3
    stride = row_raw + (4 - row_raw % 4) % 4
    rows = []
    for y in range(height):
        src_row = (height - 1 - y) if bottom_up else y
        off = pixel_off + src_row * stride
        seg = payload[off : off + row_raw]
        rows.append(
            [
                (299 * seg[x + 2] + 587 * seg[x + 1] + 114 * seg[x]) // 1000
                for x in range(0, row_raw, 3)  # BGR in the file
            ]
        )
    return width, height, rows


def _png_lum_rows(payload: bytes) -> tuple[int, int, list[list[int]]]:
    """PNG → top-down luminance rows via the stdlib decoder
    (gray / RGB / RGBA, all scanline filters)."""
    from .multimodal import _png_decode_pixels

    width, height, channels, px = _png_decode_pixels(payload)
    rows = []
    for y in range(height):
        base = y * width * channels
        if channels == 1:
            rows.append([px[base + x] for x in range(width)])
        else:  # RGB / RGBA — alpha ignored for luminance
            rows.append(
                [
                    (
                        299 * px[base + x * channels]
                        + 587 * px[base + x * channels + 1]
                        + 114 * px[base + x * channels + 2]
                    )
                    // 1000
                    for x in range(width)
                ]
            )
    return width, height, rows


def dhash64(width: int, height: int, lum_rows: list[list[int]]) -> int:
    """64-bit dHash over a luminance image, exact integer arithmetic
    throughout (deterministic across platforms):

    - 9x8 grid, cell (i, j) = floor-mean luminance of the pixel block
      ``[i*w//9, (i+1)*w//9) x [j*h//8, (j+1)*h//8)`` (empty blocks on
      tiny images take the single nearest pixel — hi clamped to lo+1).
    - bit ``j*8+i`` = 1 iff cell (i, j) < cell (i+1, j).

    Returned as a SIGNED 64-bit value (two's complement) so it stores
    directly in a Spark ``long``.
    """
    cells = []
    for j in range(GRID_H):
        y_lo = j * height // GRID_H
        y_hi = max(y_lo + 1, (j + 1) * height // GRID_H)
        row_cells = []
        for i in range(GRID_W):
            x_lo = i * width // GRID_W
            x_hi = max(x_lo + 1, (i + 1) * width // GRID_W)
            s = 0
            for y in range(y_lo, min(y_hi, height)):
                r = lum_rows[y]
                for x in range(x_lo, min(x_hi, width)):
                    s += r[x]
            n = (min(y_hi, height) - y_lo) * (min(x_hi, width) - x_lo)
            row_cells.append(s // max(1, n))
        cells.append(row_cells)
    h = 0
    for j in range(GRID_H):
        for i in range(GRID_W - 1):
            if cells[j][i] < cells[j][i + 1]:
                h |= 1 << (j * (GRID_W - 1) + i)
    return h - (1 << 64) if h >= (1 << 63) else h


def _rgb_lum_rows(
    width: int, height: int, rgb: bytes
) -> tuple[int, int, list[list[int]]]:
    """Packed RGB canvas → BT.601 luminance rows (same integer
    dialect as the BMP/PNG paths)."""
    rows = []
    for y in range(height):
        base = 3 * y * width
        rows.append(
            [
                (
                    299 * rgb[base + 3 * x]
                    + 587 * rgb[base + 3 * x + 1]
                    + 114 * rgb[base + 3 * x + 2]
                )
                // 1000
                for x in range(width)
            ]
        )
    return width, height, rows


def _gif_frame_lums(payload: bytes) -> list[tuple[int, int, list[list[int]]]]:
    """Animated GIF → one (w, h, lum rows) per composited frame."""
    from .multimodal import decode_gif_stdlib

    w, h, frames = decode_gif_stdlib(payload)
    return [_rgb_lum_rows(w, h, fr) for fr in frames]


def _jpeg_lum_rows(payload: bytes) -> tuple[int, int, list[list[int]]]:
    """Baseline JPEG → BT.601 luminance rows via the stdlib decoder.
    JPEG is lossy, so a JPEG and a BMP of the same source pixels hash
    CLOSE (small Hamming distance), not equal — which is exactly what
    the near-dup join is for."""
    from .jpeg_codec import decode_jpeg

    width, height, rgb = decode_jpeg(payload)
    rows = []
    for y in range(height):
        base = 3 * y * width
        rows.append(
            [
                int(
                    299 * rgb[base + 3 * x]
                    + 587 * rgb[base + 3 * x + 1]
                    + 114 * rgb[base + 3 * x + 2]
                )
                // 1000
                for x in range(width)
            ]
        )
    return width, height, rows


def _tiff_lum_rows(payload: bytes) -> tuple[int, int, list[list[int]]]:
    """TIFF → top-down luminance rows via the stdlib decoder
    (gray / RGB, none/LZW/deflate, predictor 2)."""
    from .multimodal import _tiff_decode_pixels

    width, height, channels, px = _tiff_decode_pixels(payload)
    rows = []
    for y in range(height):
        base = y * width * channels
        if channels == 1:
            rows.append([px[base + x] for x in range(width)])
        else:
            rows.append(
                [
                    (
                        299 * px[base + x * channels]
                        + 587 * px[base + x * channels + 1]
                        + 114 * px[base + x * channels + 2]
                    )
                    // 1000
                    for x in range(width)
                ]
            )
    return width, height, rows


def _payload_dhash(payload: bytes, fmt: str) -> int:
    if fmt == "bmp":
        return dhash64(*_bmp_lum_rows(payload))
    if fmt == "png":
        return dhash64(*_png_lum_rows(payload))
    if fmt == "gif":  # still usage: hash the FIRST composited frame
        return dhash64(*_gif_frame_lums(payload)[0])
    if fmt == "jpeg":
        return dhash64(*_jpeg_lum_rows(payload))
    if fmt == "tiff":
        return dhash64(*_tiff_lum_rows(payload))
    raise NotImplementedError(f"no stdlib decoder for format {fmt!r}")


def image_dhash(media: DataFrame) -> DataFrame:
    """(doc_id, format, payload) → (doc_id, dhash long). One
    Arrow-batched pandas UDF (the documented py-lane — decode cannot
    be a JVM expression), shuffle-free: hashes are computed where the
    payload bytes already live and only 8 bytes/row move on."""

    @F.pandas_udf("long")
    def _dh(
        cols: Iterator[tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        for payloads, fmts in cols:
            yield pd.Series(
                [
                    _payload_dhash(bytes(p), f)
                    for p, f in zip(payloads, fmts)
                ],
                dtype="int64",
            )

    return media.select(
        "doc_id", _dh("payload", "format").alias("dhash")
    )


# ------------------------------------------------------- Hamming join
def _band_cols(col: str, n_bands: int) -> list:
    """Split a signed-64 hash column into ``n_bands`` disjoint bit
    bands (last band takes the remainder bits) — pure JVM bit ops."""
    width = 64 // n_bands
    out = []
    for b in range(n_bands):
        off = b * width
        w = 64 - off if b == n_bands - 1 else width
        if w >= 64:  # single band == the whole hash (max_hamming=0)
            out.append(F.col(col))
            continue
        mask = (1 << w) - 1
        out.append(
            F.shiftrightunsigned(F.col(col), off).bitwiseAND(F.lit(mask))
        )
    return out


def hamming_neardup(
    hashes: DataFrame,
    max_hamming: int = 3,
    max_band_df: int | None = 1000,
    stats: dict | None = None,
) -> DataFrame:
    """All pairs from a ``(doc_id, dhash long)`` frame within Hamming
    distance ``max_hamming`` → (doc_a, doc_b, hamming), doc_a < doc_b.
    The fingerprint-agnostic half of perceptual dedup — image dHash
    and audio energy-hash both feed it.

    Exact up to the ``max_band_df`` cap: the pigeonhole banding is
    lossless (k+1 bands always catch a ≤k pair), so the ONLY recall
    loss is capped band keys — and those are counted into ``stats``
    (``band_keys_stop`` / ``band_rows_dropped``) rather than silently
    swallowed. Pass ``max_band_df=None`` for the fully-exact variant
    (unbounded fan-out on degenerate corpora — constant-color images
    share one hash).
    """
    n_bands = max_hamming + 1
    spark = hashes.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))

    hashes = hashes.repartition(n_part, "doc_id")
    banded = hashes.select(
        "doc_id",
        "dhash",
        F.posexplode(F.array(*_band_cols("dhash", n_bands))).alias(
            "band_id", "band_val"
        ),
    )
    if max_band_df is not None:
        df_per_key = banded.groupBy("band_id", "band_val").agg(
            F.count(F.lit(1)).alias("_df")
        )
        live_keys = df_per_key.filter(F.col("_df") <= max_band_df).select(
            "band_id", "band_val"
        )
        if stats is not None:
            stop = df_per_key.filter(F.col("_df") > max_band_df).agg(
                F.count(F.lit(1)).alias("keys"),
                F.coalesce(F.sum("_df"), F.lit(0)).alias("rows"),
            ).collect()[0]
            stats["band_keys_stop"] = stop["keys"]
            stats["band_rows_dropped"] = stop["rows"]
        banded = banded.join(
            live_keys.hint("shuffle_hash"), ["band_id", "band_val"]
        )
    # persist, not a local checkpoint: the self-join needs the cached
    # partitioning and hint (see dedup._banded_jaccard)
    banded = (
        banded.repartition(n_part, "band_id", "band_val")
        .hint("shuffle_hash")
        .persist()
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val")),
        )
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        # two longs ride the fan-out join (8 bytes each — the
        # array-payload rule targets arrays); saves the fetch-back
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.dhash").bitwiseXOR(F.col("b.dhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


def phash_neardup(
    media: DataFrame,
    max_hamming: int = 3,
    max_band_df: int | None = 1000,
    stats: dict | None = None,
) -> DataFrame:
    """Image pairs within dHash Hamming distance ``max_hamming``
    (see :func:`hamming_neardup` for the join contract)."""
    return hamming_neardup(
        image_dhash(media), max_hamming, max_band_df, stats
    )


# ------------------------------------------------------- video twin
def split_bmp_stream(payload: bytes) -> list[bytes]:
    """Split a concatenated-BMP frame stream into frames. Every BMP
    self-describes its byte length (file-size field at offset 2,
    little-endian u32), so the container needs no index — walk,
    validate the magic, slice. The stdlib stand-in for frame-extracted
    video (PyAV is env-gated, the multimodal convention): each frame
    is a REAL decodable image, the container is just concatenation."""
    import struct

    frames = []
    off = 0
    n = len(payload)
    while off < n:
        if payload[off : off + 2] != b"BM":
            raise NotImplementedError("not a BMP frame stream")
        if off + 6 > n:
            raise NotImplementedError("truncated BMP frame header")
        size = struct.unpack_from("<I", payload, off + 2)[0]
        if size < 14 or off + size > n:
            raise NotImplementedError("truncated BMP frame")
        frames.append(payload[off : off + size])
        off += size
    return frames


def synth_bmp_video(
    docs: DataFrame, n_frames: int = 6, max_dim: int = 12
) -> DataFrame:
    """REAL video table: every payload is a stream of ``n_frames``
    decodable BMPs whose pixels derive deterministically from
    md5(text, frame index). One fixed per-doc dimension (frames of a
    video share geometry)."""
    import hashlib

    from .multimodal import encode_bmp_stdlib

    @F.pandas_udf("binary")
    def make_stream(
        cols: Iterator[tuple[pd.Series, pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        def one(text: str, w: int, h: int) -> bytes:
            need = w * h * 3
            out = []
            for fr in range(n_frames):
                seed = hashlib.md5(
                    f"{fr}|{text or ''}".encode()
                ).digest()
                reps = need // len(seed) + 1
                out.append(encode_bmp_stdlib(w, h, (seed * reps)[:need]))
            return b"".join(out)

        for texts, ws, hs in cols:
            yield pd.Series(
                [one(t, int(w), int(h)) for t, w, h in zip(texts, ws, hs)]
            )

    from ..functions.portable import hex32

    w = (hex32(F.concat(F.lit("vw-"), F.col("doc_id"))) % max_dim + 4).cast(
        "int"
    )
    h = (hex32(F.concat(F.lit("vh-"), F.col("doc_id"))) % max_dim + 4).cast(
        "int"
    )
    staged = docs.select("doc_id", "text", w.alias("width"), h.alias("height"))
    return staged.select(
        "doc_id",
        make_stream("text", "width", "height").alias("payload"),
        F.lit("bmpstream").alias("format"),
    )
