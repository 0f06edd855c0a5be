"""Cross-implementation image-codec pins against the JVM's
javax.imageio (the same py4j interop net that pins the Avro stack
against the real avro-1.12 jar): ImageIO ships independent JPEG, PNG,
BMP and TIFF codecs, so every stdlib codec here gets verified BOTH
directions against a foreign implementation —

- our encoder's bytes must decode in ImageIO (bitstream legality),
- ImageIO-encoded bytes must decode in our decoders (foreign streams:
  libjpeg-style entropy choices, foreign TIFF LZW, foreign PNG filters),
- pixels must agree exactly for lossless formats and within the
  spec-permitted decoder variance for JPEG.

This closes the "self-consistent round-trips only" caveat for the
image codecs. (No FLAC/WebP equivalent exists in the JVM — FLAC stays
pinned by its lossless-exactness + crafted bitstreams, WebP stays
deliberately unimplemented; SCALE.md.)"""

import hashlib

import pytest

from teste_carga_avro_vs_json_spark.operators import jpeg_codec as jc
from teste_carga_avro_vs_json_spark.operators import multimodal as mm


def _jvm(spark):
    return spark.sparkContext._jvm


def _imageio_decode(spark, payload: bytes):
    """ImageIO bytes → (w, h, list[(r,g,b)]) via ONE getRGB bulk call
    (per-pixel py4j calls would be ms each)."""
    jvm = _jvm(spark)
    stream = jvm.java.io.ByteArrayInputStream(bytearray(payload))
    img = jvm.javax.imageio.ImageIO.read(stream)
    assert img is not None, "ImageIO could not parse the payload"
    w, h = img.getWidth(), img.getHeight()
    argb = img.getRGB(0, 0, w, h, None, 0, w)
    px = [((v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF) for v in argb]
    return w, h, px


def _imageio_encode(spark, fmt: str, w: int, h: int, rgb: bytes) -> bytes:
    """Foreign encoder: build a BufferedImage from our pixels and let
    ImageIO serialize it."""
    jvm = _jvm(spark)
    img = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_INT_RGB
    )
    arr = spark.sparkContext._gateway.new_array(jvm.int, w * h)
    for i in range(w * h):
        v = (
            (0xFF << 24)
            | (rgb[3 * i] << 16)
            | (rgb[3 * i + 1] << 8)
            | rgb[3 * i + 2]
        )
        arr[i] = v - (1 << 32) if v >= (1 << 31) else v  # Java int is signed
    img.setRGB(0, 0, w, h, arr, 0, w)
    out = jvm.java.io.ByteArrayOutputStream()
    ok = jvm.javax.imageio.ImageIO.write(img, fmt, out)
    assert ok, f"ImageIO has no {fmt} writer"
    return bytes(out.toByteArray())


def _smooth(w: int, h: int) -> bytes:
    out = bytearray()
    for y in range(h):
        for x in range(w):
            out += bytes((min(255, 8 + 5 * x), min(255, 16 + 4 * y), 128))
    return bytes(out)


def _noise(tag: str, n: int) -> bytes:
    seed = hashlib.md5(tag.encode()).digest()
    return (seed * (n // 16 + 1))[:n]


# ---------------------------------------------------------------- JPEG


def test_our_jpeg_parses_in_imageio_pixels_close(spark):
    w, h = 24, 16
    rgb = _smooth(w, h)
    blob = jc.encode_jpeg(w, h, rgb, quality=95)
    jw, jh, jpx = _imageio_decode(spark, blob)
    assert (jw, jh) == (w, h)
    _, _, ours = jc.decode_jpeg(blob)
    # decoder variance: both decode OUR stream; IDCT/upsample details
    # may differ by a few code points per sample
    for i, (r, g, b) in enumerate(jpx):
        assert abs(r - ours[3 * i]) <= 4
        assert abs(g - ours[3 * i + 1]) <= 4
        assert abs(b - ours[3 * i + 2]) <= 4


def test_foreign_jpeg_decodes_in_our_decoder(spark):
    w, h = 32, 24
    rgb = _smooth(w, h)
    blob = _imageio_encode(spark, "jpg", w, h, rgb)
    gw, gh, ours = jc.decode_jpeg(blob)
    assert (gw, gh) == (w, h)
    # lossy bound vs the SOURCE pixels (foreign encoder chose its own
    # tables/subsampling; smooth gradients survive well)
    jw, jh, jpx = _imageio_decode(spark, blob)
    for i, (r, g, b) in enumerate(jpx):
        assert abs(r - ours[3 * i]) <= 6
        assert abs(g - ours[3 * i + 1]) <= 6
        assert abs(b - ours[3 * i + 2]) <= 6


def test_our_jpeg_all_variants_parse_in_imageio(spark):
    rgb = _noise("v", 17 * 9 * 3)
    for kwargs in (
        {"quality": 100},
        {"quality": 50},
        {"subsample": True},
        {"restart_interval": 2},
        {"grayscale": True},
    ):
        blob = jc.encode_jpeg(17, 9, rgb, **kwargs)
        jw, jh, _ = _imageio_decode(spark, blob)
        assert (jw, jh) == (17, 9), kwargs


def _imageio_encode_progressive_jpeg(spark, w, h, rgb: bytes) -> bytes:
    """Foreign PROGRESSIVE encoder: MODE_DEFAULT emits the ten-scan
    IJG standard script (DC first Al=1, banded AC first Al=1/2, AC
    refine Ah=2->1 and Ah=1->0, DC refine) — every §G decode path."""
    jvm = _jvm(spark)
    img = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_INT_RGB
    )
    arr = spark.sparkContext._gateway.new_array(jvm.int, w * h)
    for i in range(w * h):
        v = (
            (0xFF << 24)
            | (rgb[3 * i] << 16)
            | (rgb[3 * i + 1] << 8)
            | rgb[3 * i + 2]
        )
        arr[i] = v - (1 << 32) if v >= (1 << 31) else v
    img.setRGB(0, 0, w, h, arr, 0, w)
    writer = jvm.javax.imageio.ImageIO.getImageWritersByFormatName(
        "jpeg"
    ).next()
    param = writer.getDefaultWriteParam()
    param.setProgressiveMode(
        jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT
    )
    bos = jvm.java.io.ByteArrayOutputStream()
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(
        None, jvm.javax.imageio.IIOImage(img, None, None), param
    )
    ios.flush()
    writer.dispose()
    return bytes(bos.toByteArray())


def _scan_script(blob: bytes):
    """Parse the SOS headers → [(ns, Ss, Se, Ah, Al)] (test-side
    marker walk, independent of the decoder under test)."""
    import struct as _struct

    out, pos = [], 2
    while pos < len(blob) - 1:
        if blob[pos] != 0xFF:
            pos += 1
            continue
        m = blob[pos + 1]
        if m == 0xDA:
            seglen = _struct.unpack(">H", blob[pos + 2:pos + 4])[0]
            seg = blob[pos + 4:pos + 2 + seglen]
            ns = seg[0]
            a = seg[3 + 2 * ns]
            out.append((ns, seg[1 + 2 * ns], seg[2 + 2 * ns],
                        a >> 4, a & 15))
            pos += 2 + seglen
            while pos + 1 < len(blob) and not (
                blob[pos] == 0xFF
                and blob[pos + 1] not in (0x00, 0xFF)
                and not (0xD0 <= blob[pos + 1] <= 0xD7)
            ):
                pos += 1
            continue
        pos += 2
    return out


def test_foreign_progressive_jpeg_decodes_in_our_decoder(spark):
    """r10: javax.imageio's MODE_DEFAULT progression — successive
    approximation, banded spectral selection, EOBRUN — must decode in
    the stdlib decoder within the established decoder variance."""
    for w, h in ((24, 16), (17, 9), (32, 24)):
        rgb = _smooth(w, h)
        blob = _imageio_encode_progressive_jpeg(spark, w, h, rgb)
        assert b"\xff\xc2" in blob  # really progressive
        script = _scan_script(blob)
        assert len(script) >= 4
        # the pin is only honest if refinement scans are present
        assert any(ah > 0 for (_n, _s, _e, ah, _a) in script)
        assert any(al > 0 and ah == 0 for (_n, _s, _e, ah, al) in script)
        gw, gh, ours = jc.decode_jpeg(blob)
        assert (gw, gh) == (w, h)
        jw, jh, jpx = _imageio_decode(spark, blob)
        assert (jw, jh) == (w, h)
        for i, (r, g, b) in enumerate(jpx):
            assert abs(r - ours[3 * i]) <= 6
            assert abs(g - ours[3 * i + 1]) <= 6
            assert abs(b - ours[3 * i + 2]) <= 6


def test_our_progressive_jpeg_parses_in_imageio(spark):
    """Other direction: the spectral-selection twin's bitstream must
    be legal to a foreign decoder, pixels within decoder variance."""
    for kwargs in ({}, {"subsample": True}, {"grayscale": True}):
        w, h = 20, 13
        rgb = _smooth(w, h)
        blob = jc.encode_jpeg_progressive(w, h, rgb, quality=95, **kwargs)
        jw, jh, jpx = _imageio_decode(spark, blob)
        assert (jw, jh) == (w, h), kwargs
        if kwargs.get("grayscale"):
            # ImageIO renders 1-component JFIF through its own color
            # management (same 70+ delta on our BASELINE grayscale) —
            # parse legality is the pin here, as in
            # test_our_jpeg_all_variants_parse_in_imageio
            continue
        _, _, ours = jc.decode_jpeg(blob)
        for i, (r, g, b) in enumerate(jpx):
            assert abs(r - ours[3 * i]) <= 6, kwargs
            assert abs(g - ours[3 * i + 1]) <= 6, kwargs
            assert abs(b - ours[3 * i + 2]) <= 6, kwargs


# ------------------------------------------------------------ PNG / BMP


def test_png_both_directions_exact(spark):
    w, h = 19, 7
    rgb = _noise("p", w * h * 3)
    ours = mm.encode_png_stdlib(w, h, rgb)
    jw, jh, jpx = _imageio_decode(spark, ours)
    assert (jw, jh) == (w, h)
    assert b"".join(bytes(p) for p in jpx) == rgb
    foreign = _imageio_encode(spark, "png", w, h, rgb)
    fw, fh, _, px = mm._png_decode_pixels(foreign)
    assert (fw, fh) == (w, h)
    got = bytes(
        b for i in range(w * h)
        for b in px[i * 3 : i * 3 + 3]
    )
    assert got == rgb


def test_bmp_both_directions_exact(spark):
    w, h = 9, 14
    rgb = _noise("b", w * h * 3)
    ours = mm.encode_bmp_stdlib(w, h, rgb)
    jw, jh, jpx = _imageio_decode(spark, ours)
    assert (jw, jh) == (w, h)
    assert b"".join(bytes(p) for p in jpx) == rgb
    foreign = _imageio_encode(spark, "bmp", w, h, rgb)
    gw, gh, feats = mm.decode_bmp_stdlib(foreign)
    assert (gw, gh) == (w, h)
    # decode_bmp_stdlib returns quadrant features; compare against the
    # same features from our own encoding of the same pixels
    _, _, want = mm.decode_bmp_stdlib(ours)
    assert feats == pytest.approx(want, abs=1e-12)


# -------------------------------------------------- WAV via javax.sound


def test_wav_interop_javax_sound(spark):
    """Our WAV fixtures against the JVM's independent RIFF reader
    (javax.sound.sampled): format header agreement and EXACT PCM
    sample equality — completing 'every codec cross-verified where a
    reference implementation exists in this container'."""
    import io
    import struct
    import wave

    samples = [((i * 37) % 2000) - 1000 for i in range(500)]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(16000)
        wf.writeframes(b"".join(struct.pack("<h", s) for s in samples))
    payload = buf.getvalue()

    jvm = _jvm(spark)
    stream = jvm.javax.sound.sampled.AudioSystem.getAudioInputStream(
        jvm.java.io.ByteArrayInputStream(bytearray(payload))
    )
    fmt = stream.getFormat()
    assert fmt.getChannels() == 1
    assert fmt.getSampleSizeInBits() == 16
    assert int(fmt.getSampleRate()) == 16000
    assert stream.getFrameLength() == len(samples)
    raw = stream.readAllBytes()
    got = [
        struct.unpack_from("<h", raw, 2 * i)[0] for i in range(len(samples))
    ]
    assert got == samples

    from teste_carga_avro_vs_json_spark.operators import multimodal as mm

    n, rate, peak = mm.decode_wav_stdlib(payload)
    assert (n, rate) == (len(samples), 16000)
    # the documented soundfile-compatible scaling: |x|/32768 * 32767
    mx = max(abs(s) for s in samples)
    assert peak == int(min(mx / 32768, 1.0) * 32767)


def test_aiff_interop_javax_sound(spark):
    """AIFF both directions against javax.sound.sampled: our encoder's
    bytes parse with the right format (big-endian PCM) and exact
    samples; a JVM-written AIFF decodes exactly in our chunk walker."""
    import struct

    from teste_carga_avro_vs_json_spark.operators import multimodal as mm

    samples = [((i * 37) % 2000) - 1000 for i in range(500)]
    blob = mm.encode_aiff_stdlib(samples, rate=16000)

    jvm = _jvm(spark)
    stream = jvm.javax.sound.sampled.AudioSystem.getAudioInputStream(
        jvm.java.io.ByteArrayInputStream(bytearray(blob))
    )
    fmt = stream.getFormat()
    assert fmt.getChannels() == 1
    assert fmt.getSampleSizeInBits() == 16
    assert int(fmt.getSampleRate()) == 16000
    assert fmt.isBigEndian()
    raw = stream.readAllBytes()
    got = [struct.unpack_from(">h", raw, 2 * i)[0]
           for i in range(len(samples))]
    assert got == samples

    # foreign direction: JVM writes the AIFF
    aiff_type = jvm.javax.sound.sampled.AudioFileFormat.Type.AIFF
    afmt = jvm.javax.sound.sampled.AudioFormat(16000.0, 16, 1, True, True)
    data = bytearray()
    for s in samples:
        data += struct.pack(">h", s)
    src = jvm.javax.sound.sampled.AudioInputStream(
        jvm.java.io.ByteArrayInputStream(data), afmt, len(samples)
    )
    out = jvm.java.io.ByteArrayOutputStream()
    jvm.javax.sound.sampled.AudioSystem.write(src, aiff_type, out)
    foreign = bytes(out.toByteArray())
    rate, ch, bps, dec = mm.decode_aiff_stdlib(foreign)
    assert (rate, ch, bps) == (16000, 1, 16)
    assert dec == samples


def test_tiff_lzw_decoder_against_jvm_tiff_lzw(spark):
    """Foreign-LZW pin for operators/multimodal._tiff_lzw_decode: the JDK
    TIFF writer (javax.imageio, an independent TIFF-variant LZW
    encoder with early change) compresses a grayscale image; we rip
    the LZW strips out of the TIFF container and our decoder must
    reproduce the raw row bytes. This closes the 'round-trips only
    against our own test encoder' caveat for the width-growth region
    (>512 table entries)."""
    import struct

    jvm = _jvm(spark)
    w = h = 128
    # varied digrams so the LZW table passes 512 and 1024 entries
    pix = bytes(((x * 7 + y * 13) ^ (x >> 2)) % 11 * 23 for y in range(h)
                for x in range(w))
    img = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_BYTE_GRAY
    )
    raster = img.getRaster()
    arr = spark.sparkContext._gateway.new_array(jvm.int, w * h)
    for i, v in enumerate(pix):
        arr[i] = v
    raster.setPixels(0, 0, w, h, arr)

    writers = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("TIFF")
    assert writers.hasNext(), "JDK TIFF writer missing"
    writer = writers.next()
    param = writer.getDefaultWriteParam()
    param.setCompressionMode(
        jvm.javax.imageio.ImageWriteParam.MODE_EXPLICIT
    )
    param.setCompressionType("LZW")
    out = jvm.java.io.ByteArrayOutputStream()
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(out)
    writer.setOutput(ios)
    writer.write(
        None, jvm.javax.imageio.IIOImage(img, None, None), param
    )
    ios.flush()
    tiff = bytes(out.toByteArray())

    # minimal classic-TIFF IFD walk for the strip layout
    if tiff[:2] == b"II":
        u16 = lambda o: struct.unpack_from("<H", tiff, o)[0]
        u32 = lambda o: struct.unpack_from("<I", tiff, o)[0]
    else:
        u16 = lambda o: struct.unpack_from(">H", tiff, o)[0]
        u32 = lambda o: struct.unpack_from(">I", tiff, o)[0]
    ifd = u32(4)
    n = u16(ifd)
    tags = {}
    for i in range(n):
        off = ifd + 2 + 12 * i
        tag, typ, cnt, val_off = (
            u16(off), u16(off + 2), u32(off + 4), off + 8
        )
        size = {1: 1, 3: 2, 4: 4}.get(typ)
        if size is None:
            continue
        vals = []
        base = val_off if size * cnt <= 4 else u32(val_off)
        for j in range(cnt):
            vals.append(
                u16(base + 2 * j) if typ == 3 else
                u32(base + 4 * j) if typ == 4 else tiff[base + j]
            )
        tags[tag] = vals
    assert tags[259] == [5], f"not LZW-compressed: {tags.get(259)}"
    assert tags.get(317, [1]) == [1], "predictor unexpectedly enabled"
    rows_per_strip = tags.get(278, [h])[0]
    offsets, counts = tags[273], tags[279]
    decoded = bytearray()
    for so, sc in zip(offsets, counts):
        decoded += mm._tiff_lzw_decode(tiff[so : so + sc])
    assert bytes(decoded) == pix


def test_tiff_predictor2_against_jvm_tiff_reader(spark):
    """Foreign pin for operators/multimodal._tiff_predict/_unpredict
    (TIFF 6.0 Predictor 2, horizontal differencing): a
    classic TIFF whose strip is zlib(_tiff_predict(rows)) with
    Compression=8 (Adobe Deflate) and Predictor=2 must decode to the
    ORIGINAL pixels in javax.imageio — the JVM's independent predictor
    implementation inverts our forward transform, so the convention
    (per-component delta, no per-row filter byte) cannot be
    self-consistently wrong."""
    import struct
    import zlib

    w, h = 64, 48
    pix = bytes(((x * 31 + y * 7) ^ (y >> 2)) & 0xFF for y in range(h)
                for x in range(w))
    strip = zlib.compress(mm._tiff_predict(pix, columns=w, colors=1))

    # classic little-endian TIFF: header + one IFD + strip data
    entries = []  # (tag, type, count, value)
    data_at = 8 + 2 + 12 * 8 + 4  # header + count + 8 entries + next-IFD
    entries.append((256, 3, 1, w))          # ImageWidth
    entries.append((257, 3, 1, h))          # ImageLength
    entries.append((258, 3, 1, 8))          # BitsPerSample
    entries.append((259, 3, 1, 8))          # Compression: Adobe Deflate
    entries.append((262, 3, 1, 1))          # Photometric: BlackIsZero
    entries.append((273, 4, 1, data_at))    # StripOffsets
    entries.append((279, 4, 1, len(strip))) # StripByteCounts
    entries.append((317, 3, 1, 2))          # Predictor: horizontal
    out = bytearray(struct.pack("<2sHI", b"II", 42, 8))
    out += struct.pack("<H", len(entries))
    for tag, typ, cnt, val in sorted(entries):
        out += struct.pack("<HHII", tag, typ, cnt, val)
    out += struct.pack("<I", 0)  # no next IFD
    assert len(out) == data_at
    out += strip

    jvm = _jvm(spark)
    stream = jvm.java.io.ByteArrayInputStream(bytearray(bytes(out)))
    img = jvm.javax.imageio.ImageIO.read(stream)
    assert img is not None, "JDK TIFF reader rejected the file"
    assert img.getWidth() == w and img.getHeight() == h
    # raw raster samples, NOT getRGB — getRGB pushes gray through a
    # linear->sRGB color transform and would mask predictor bugs
    arr = spark.sparkContext._gateway.new_array(jvm.int, w * h)
    img.getRaster().getPixels(0, 0, w, h, arr)
    got = bytes(arr[i] & 0xFF for i in range(w * h))
    assert got == pix


def _lzw_encode(data: bytes) -> bytes:
    """Test-local TIFF-variant LZW encoder (MSB-first, 256=Clear,
    257=EOD, EarlyChange) — exists only to exercise the decoder's
    width growth and table handling; the decoder's external golden is
    the spec's worked example below."""
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    out_bits: list[tuple[int, int]] = [(256, 9)]
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        out_bits.append((table[w], width))
        table[wc] = next_code
        next_code += 1
        # the decoder's table lags one entry behind at read time, so
        # the encoder widens one assignment later than the decoder's
        # len(table) threshold (JVM-pinned above)
        if next_code + 1 > (1 << width) and width < 12:
            width += 1
        if next_code >= 4096 - 1:
            out_bits.append((256, width))
            table = {bytes([i]): i for i in range(256)}
            next_code, width = 258, 9
        w = bytes([ch])
    if w:
        out_bits.append((table[w], width))
    out_bits.append((257, width))
    acc = bits = 0
    out = bytearray()
    for code, wd in out_bits:
        acc = (acc << wd) | code
        bits += wd
        while bits >= 8:
            bits -= 8
            out.append((acc >> bits) & 0xFF)
    if bits:
        out.append((acc << (8 - bits)) & 0xFF)
    return bytes(out)


def test_lzw_spec_golden():
    """The ISO 32000 §7.4.4.2 worked example (the same TIFF-variant
    LZW with EarlyChange) — external golden."""
    golden = bytes.fromhex("800B6050220C0C8501")
    assert mm._tiff_lzw_decode(golden) == b"-----A---B"


def test_lzw_roundtrip_with_width_growth_and_clear():
    import random

    rng = random.Random(7)
    # enough distinct digrams to push the table past 512 and 1024
    # entries (width 9→10→11) and past a mid-stream Clear
    data = bytes(rng.randrange(8) for _ in range(60_000))
    assert mm._tiff_lzw_decode(_lzw_encode(data)) == data
    # prose-like too
    text = (b"the quick brown fox jumps over the lazy dog " * 400)
    assert mm._tiff_lzw_decode(_lzw_encode(text)) == text


def test_tiff_predictor2_inverse_and_boundaries():
    # forward/inverse are exact inverses, multi-component rows too
    data = bytes((i * 37 + (i >> 3) * 11) & 0xFF for i in range(240))
    for columns, colors in ((16, 1), (20, 3), (240, 1), (1, 4)):
        if 240 % (columns * colors):
            continue
        fwd = mm._tiff_predict(data, columns, colors)
        assert mm._tiff_unpredict(fwd, columns, colors) == data
    # per-component differencing: component streams are independent
    row = bytes([10, 100, 200, 13, 105, 190])  # 2 px, 3 components
    fwd = mm._tiff_predict(row, 2, 3)
    assert fwd == bytes([10, 100, 200, 3, 5, (190 - 200) & 0xFF])
    # ragged data is a format error, never a silent partial row
    with pytest.raises(NotImplementedError):
        mm._tiff_unpredict(b"12345", 4, 1)


def _jdk_write_tiff(spark, w, h, pix, compression, gray=True):
    """Write a TIFF through javax.imageio with the given compression
    type ('LZW', 'ZLib', 'None'); pix is gray bytes or RGB triples."""
    jvm = _jvm(spark)
    B = jvm.java.awt.image.BufferedImage
    img = B(w, h, B.TYPE_BYTE_GRAY if gray else B.TYPE_3BYTE_BGR)
    n = w * h * (1 if gray else 3)
    arr = spark.sparkContext._gateway.new_array(jvm.int, n)
    for i, v in enumerate(pix):
        arr[i] = v
    img.getRaster().setPixels(0, 0, w, h, arr)
    writers = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("TIFF")
    assert writers.hasNext()
    writer = writers.next()
    param = writer.getDefaultWriteParam()
    if compression == "None":
        # uncompressed = compression disabled (the writer's type list
        # has no literal "None" entry)
        param.setCompressionMode(
            jvm.javax.imageio.ImageWriteParam.MODE_DISABLED
        )
    else:
        param.setCompressionMode(
            jvm.javax.imageio.ImageWriteParam.MODE_EXPLICIT
        )
        param.setCompressionType(compression)
    out = jvm.java.io.ByteArrayOutputStream()
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(out)
    writer.setOutput(ios)
    writer.write(None, jvm.javax.imageio.IIOImage(img, None, None), param)
    ios.flush()
    return bytes(out.toByteArray())


@pytest.mark.parametrize("compression", ["None", "ZLib", "LZW"])
@pytest.mark.parametrize("gray", [True, False])
def test_tiff_decoder_reads_jvm_written_files(spark, compression, gray):
    """Foreign-stream direction: javax.imageio's TIFF writer produces
    None/Deflate/LZW strips (its own strip layout, RowsPerStrip
    choices and LZW dialect) for gray AND RGB — our decoder must
    reproduce the exact samples."""
    from teste_carga_avro_vs_json_spark.operators import multimodal as mm

    w, h = 57, 41  # non-multiples: exercises strip tail handling
    n = w * h * (1 if gray else 3)
    pix = bytes(((i * 29) ^ (i >> 4)) & 0xFF for i in range(n))
    tif = _jdk_write_tiff(spark, w, h, pix, compression, gray=gray)
    W, H, ch, got = mm._tiff_decode_pixels(tif)
    assert (W, H, ch) == (w, h, 1 if gray else 3)
    assert bytes(got) == pix


@pytest.mark.parametrize("compression,predictor",
                         [("none", 1), ("deflate", 1), ("deflate", 2)])
def test_tiff_encoder_parses_in_jvm(spark, compression, predictor):
    """Bitstream-legality direction: our encoder's bytes (incl. the
    predictor-2 + deflate pairing) must decode in ImageIO to the
    original RGB pixels."""
    from teste_carga_avro_vs_json_spark.operators import multimodal as mm

    jvm = _jvm(spark)
    w, h = 23, 17
    rgb = bytes(((i * 31 + 5) ^ (i >> 3)) & 0xFF for i in range(w * h * 3))
    tif = mm.encode_tiff_stdlib(
        w, h, rgb, compression=compression, predictor=predictor
    )
    stream = jvm.java.io.ByteArrayInputStream(bytearray(tif))
    img = jvm.javax.imageio.ImageIO.read(stream)
    assert img is not None, "JDK TIFF reader rejected our file"
    assert img.getWidth() == w and img.getHeight() == h
    arr = spark.sparkContext._gateway.new_array(jvm.int, w * h * 3)
    img.getRaster().getPixels(0, 0, w, h, arr)
    got = bytes(arr[i] & 0xFF for i in range(w * h * 3))
    assert got == rgb
