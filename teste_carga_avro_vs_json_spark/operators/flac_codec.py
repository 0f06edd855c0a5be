"""Pure-stdlib FLAC codec (RFC 9639) — closes the ``flac`` half of the
compressed-media boundary: a real spec-conformant implementation on
stdlib only, so
genuinely compressed audio decodes in this container instead of
behind the import-gated soundfile path.

FLAC is LOSSLESS, so the correctness pin is exact: encode→decode must
reproduce the input samples bit-for-bit AND the STREAMINFO MD5 of the
raw little-endian sample stream must match — the strongest kind of
codec test, no external reference needed (the container has no libFLAC
/ soundfile / ffmpeg to interop against; bit conventions below are
cited from the spec and additionally cross-pinned by hand-crafted
bitstreams in ``tests/test_flac.py``, the crafted-frame discipline
used for the zstd predefined tables).

Encoder subset (spec-conformant output, not a full optimizer):
8/16/24-bit PCM, any channel count as independent channels, fixed
block size, per-block best-of-fixed-predictors (orders 0-4 by
sum-of-abs-residual), one rice partition with computed parameter and
the raw-bits escape when rice can't win. Decoder is FULL for the
common stream family: constant / verbatim / fixed / LPC subframes,
rice + rice2 + escape partitions at any partition order, wasted bits,
left-side / right-side / mid-side stereo decorrelation, CRC-8/CRC-16
verification and the stream MD5 check.

Spec bit conventions implemented (RFC 9639):
- bits are MSB-first; unary n = n ``0`` bits then a ``1``;
- rice: zigzag fold, quotient unary, ``param`` low bits raw;
- frame numbers are UTF-8-style coded (up to 36 bits / 7 bytes);
- CRC-8 poly 0x07 init 0 (frame header), CRC-16 poly 0x8005 init 0
  (whole frame), both unreflected;
- side channels carry bps+1 bits.

Scale shape: this codec runs executor-side inside ``mapInPandas``
batches (the multimodal convention) — payload bytes never shuffle. A
pure-Python bit-level decode is the honest cost of zero dependencies.
"""

from __future__ import annotations

import hashlib
import struct

MAGIC = b"fLaC"


class FlacFormatError(ValueError):
    pass


# ----------------------------------------------------------- CRC / MD5


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF
                if crc & 0x8000
                else (crc << 1) & 0xFFFF
            )
    return crc


def _sample_md5(samples: list[int], channels: int, bps: int) -> bytes:
    """MD5 of the unencoded stream: interleaved samples, little-endian,
    bps/8 bytes each, signed."""
    width = bps // 8
    out = bytearray(len(samples) * width)
    for i, s in enumerate(samples):
        out[i * width : (i + 1) * width] = (s & ((1 << bps) - 1)).to_bytes(
            width, "little"
        )
    return hashlib.md5(bytes(out)).digest()


# ------------------------------------------------------------ bit I/O


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        if nbits == 0:
            return
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nbits += nbits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_unary(self, n: int) -> None:
        while n >= 32:
            self.write(0, 32)
            n -= 32
        self.write(1, n + 1)  # n zeros then a one

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.buf)


class _BitReader:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.byte = pos
        self.bit = 0  # bits consumed of current byte (MSB-first)

    def read(self, nbits: int) -> int:
        out = 0
        while nbits > 0:
            if self.byte >= len(self.data):
                raise FlacFormatError("bitstream overrun")
            avail = 8 - self.bit
            take = min(avail, nbits)
            cur = self.data[self.byte]
            out = (out << take) | (
                (cur >> (avail - take)) & ((1 << take) - 1)
            )
            self.bit += take
            nbits -= take
            if self.bit == 8:
                self.bit = 0
                self.byte += 1
        return out

    def read_signed(self, nbits: int) -> int:
        v = self.read(nbits)
        return v - (1 << nbits) if v & (1 << (nbits - 1)) else v

    def read_unary(self) -> int:
        n = 0
        while self.read(1) == 0:
            n += 1
        return n

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.byte += 1


# --------------------------------------------------------- coded number


def _utf8_coded(n: int) -> bytes:
    """FLAC frame/sample numbers use the UTF-8 length scheme extended
    to 36 bits (7 bytes)."""
    if n < 0x80:
        return bytes([n])
    for count, lead in ((2, 0xC0), (3, 0xE0), (4, 0xF0), (5, 0xF8),
                        (6, 0xFC), (7, 0xFE)):
        if n < (1 << (count * 5 + 1)) or count == 7:
            out = bytearray(count)
            for i in range(count - 1, 0, -1):
                out[i] = 0x80 | (n & 0x3F)
                n >>= 6
            out[0] = lead | n
            return bytes(out)
    raise FlacFormatError("coded number out of range")


def _read_utf8_coded(r: _BitReader) -> int:
    first = r.read(8)
    if first < 0x80:
        return first
    n_follow = 0
    mask = 0x40
    while first & mask:
        n_follow += 1
        mask >>= 1
    if n_follow == 0:
        raise FlacFormatError("bad coded-number lead byte")
    val = first & (mask - 1)
    for _ in range(n_follow):
        b = r.read(8)
        if b & 0xC0 != 0x80:
            raise FlacFormatError("bad coded-number continuation")
        val = (val << 6) | (b & 0x3F)
    return val


# --------------------------------------------------------------- rice


def _zigzag(x: int) -> int:
    return (x << 1) if x >= 0 else ((-x) << 1) - 1


def _unzigzag(u: int) -> int:
    return (u >> 1) if (u & 1) == 0 else -((u + 1) >> 1)


def _best_rice_param(resid: list[int], max_param: int) -> int:
    if not resid:
        return 0
    total = sum(_zigzag(r) for r in resid)
    mean = total / len(resid)
    k = 0
    while (1 << (k + 1)) < mean + 1 and k < max_param:
        k += 1
    return k


_FIXED_COEFS = [
    [],
    [1],
    [2, -1],
    [3, -3, 1],
    [4, -6, 4, -1],
]


def _fixed_residual(samples: list[int], order: int) -> list[int]:
    coefs = _FIXED_COEFS[order]
    return [
        samples[i]
        - sum(c * samples[i - 1 - j] for j, c in enumerate(coefs))
        for i in range(order, len(samples))
    ]


# ------------------------------------------------------------- encoder


def encode_flac(
    samples: list[int],
    channels: int = 1,
    sample_rate: int = 16000,
    bps: int = 16,
    block_size: int = 4096,
) -> bytes:
    """Interleaved signed PCM → FLAC stream (independent channels,
    fixed block size, best fixed predictor per channel-block, one rice
    partition with escape fallback)."""
    if bps not in (8, 16, 24):
        raise FlacFormatError("encoder supports 8/16/24-bit PCM")
    if channels < 1 or channels > 8:
        raise FlacFormatError("1..8 channels")
    if len(samples) % channels:
        raise FlacFormatError("sample count not divisible by channels")
    n_frames_total = len(samples) // channels
    chans = [samples[c::channels] for c in range(channels)]

    frames = bytearray()
    pos = 0
    frame_no = 0
    while pos < n_frames_total or (n_frames_total == 0 and frame_no == 0):
        bs = min(block_size, n_frames_total - pos)
        if bs == 0:
            break
        frames += _encode_frame(
            [ch[pos : pos + bs] for ch in chans],
            frame_no,
            bs,
            block_size,
            sample_rate,
            bps,
        )
        pos += bs
        frame_no += 1

    info = _BitWriter()
    info.write(block_size, 16)
    info.write(block_size, 16)
    info.write(0, 24)  # min frame size unknown
    info.write(0, 24)  # max frame size unknown
    info.write(sample_rate, 20)
    info.write(channels - 1, 3)
    info.write(bps - 1, 5)
    info.write(n_frames_total, 36)
    streaminfo = info.bytes() + _sample_md5(samples, channels, bps)
    header = MAGIC + bytes([0x80]) + len(streaminfo).to_bytes(3, "big")
    return header + streaminfo + bytes(frames)


def _encode_frame(
    chan_blocks: list[list[int]],
    frame_no: int,
    bs: int,
    nominal_bs: int,
    sample_rate: int,
    bps: int,
) -> bytes:
    w = _BitWriter()
    w.write(0b11111111111110, 14)
    w.write(0, 1)  # reserved
    w.write(0, 1)  # fixed-blocksize strategy
    # block size code: exact power table when it fits, else 16-bit raw
    bs_code, bs_extra = None, None
    for code in range(8, 16):
        if bs == 256 << (code - 8):
            bs_code = code
            break
    if bs_code is None:
        for code in range(2, 6):
            if bs == 576 << (code - 2):
                bs_code = code
                break
    if bs_code is None:
        if bs == 192:
            bs_code = 1
        else:
            bs_code, bs_extra = 7, bs - 1  # 16-bit (blocksize-1) follows
    w.write(bs_code, 4)
    w.write(0, 4)  # sample rate: from STREAMINFO
    w.write(len(chan_blocks) - 1, 4)  # independent channels
    w.write({8: 1, 16: 4, 24: 6}[bps], 3)
    w.write(0, 1)  # reserved
    for b in _utf8_coded(frame_no):
        w.write(b, 8)
    if bs_extra is not None:
        w.write(bs_extra, 16)
    w.align()
    head = w.bytes()
    head += bytes([_crc8(head)])

    body = _BitWriter()
    for block in chan_blocks:
        _encode_subframe(body, block, bps)
    body.align()
    frame = head + body.bytes()
    return frame + struct.pack(">H", _crc16(frame))


def _encode_subframe(w: _BitWriter, block: list[int], bps: int) -> None:
    # constant short-circuit
    if all(s == block[0] for s in block):
        w.write(0, 1)
        w.write(0b000000, 6)
        w.write(0, 1)  # no wasted bits
        w.write(block[0] & ((1 << bps) - 1), bps)
        return
    # best fixed predictor by sum-of-abs residual
    best_order, best_resid, best_cost = 0, block, None
    for order in range(0, 5):
        if order > len(block) - 1 and order > 0:
            break
        resid = _fixed_residual(block, order)
        cost = sum(abs(r) for r in resid)
        if best_cost is None or cost < best_cost:
            best_order, best_resid, best_cost = order, resid, cost
    order, resid = best_order, best_resid
    w.write(0, 1)
    w.write(0b001000 | order, 6)
    w.write(0, 1)  # no wasted bits
    mask = (1 << bps) - 1
    for s in block[:order]:  # warmup
        w.write(s & mask, bps)
    # residual: rice method 0, partition order 0
    k = _best_rice_param(resid, 14)
    rice_bits = sum((_zigzag(r) >> k) + 1 + k for r in resid)
    raw_width = max((max(_zigzag(r).bit_length() + 1 for r in resid)), 1) \
        if resid else 1
    raw_width = min(raw_width, 31)
    w.write(0, 2)  # 4-bit rice params
    w.write(0, 4)  # partition order 0
    if rice_bits <= len(resid) * raw_width:
        w.write(k, 4)
        for r in resid:
            u = _zigzag(r)
            w.write_unary(u >> k)
            w.write(u & ((1 << k) - 1), k)
    else:  # escape: raw two's-complement at fixed width
        w.write(0b1111, 4)
        w.write(raw_width, 5)
        for r in resid:
            w.write(r & ((1 << raw_width) - 1), raw_width)


# ------------------------------------------------------------- decoder

_BPS_CODES = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}
_RATE_TABLE = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}


def decode_flac(
    payload: bytes, verify: bool = True
) -> tuple[int, int, int, list[int]]:
    """FLAC stream → (sample_rate, channels, bps, interleaved signed
    samples). ``verify`` checks frame CRC-8/CRC-16 and the STREAMINFO
    MD5 (skipped when the encoder left it zeroed). Malformed input of
    ANY shape raises :class:`FlacFormatError` — a corrupt payload must
    never kill a 100 TB scan stage with a bare IndexError."""
    try:
        return _decode_flac_impl(payload, verify)
    except FlacFormatError:
        raise
    except (IndexError, KeyError, OverflowError, struct.error) as e:
        raise FlacFormatError(f"malformed FLAC stream: {e}") from e


def _decode_flac_impl(
    payload: bytes, verify: bool
) -> tuple[int, int, int, list[int]]:
    if payload[:4] != MAGIC:
        raise FlacFormatError("not a FLAC payload")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(payload):
            raise FlacFormatError("truncated metadata")
        head = payload[pos]
        length = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + length]
        if head & 0x7F == 0:
            streaminfo = body
        pos += 4 + length
        if head & 0x80:
            break
    if streaminfo is None or len(streaminfo) < 34:
        raise FlacFormatError("missing STREAMINFO")
    si = _BitReader(streaminfo)
    si.read(16)
    si.read(16)
    si.read(24)
    si.read(24)
    rate = si.read(20)
    channels = si.read(3) + 1
    bps = si.read(5) + 1
    total = si.read(36)
    want_md5 = streaminfo[18:34]

    out: list[list[int]] = [[] for _ in range(channels)]
    while pos < len(payload):
        pos = _decode_frame(payload, pos, rate, channels, bps, out, verify)
    samples: list[int] = []
    n = len(out[0])
    if any(len(ch) != n for ch in out):
        raise FlacFormatError("channel length mismatch")
    if total and n != total:
        raise FlacFormatError(f"decoded {n} frames, STREAMINFO says {total}")
    for i in range(n):
        for ch in out:
            samples.append(ch[i])
    if verify and want_md5 != b"\x00" * 16:
        if _sample_md5(samples, channels, bps) != want_md5:
            raise FlacFormatError("stream MD5 mismatch")
    return rate, channels, bps, samples


def _decode_frame(
    payload: bytes,
    pos: int,
    si_rate: int,
    si_channels: int,
    si_bps: int,
    out: list[list[int]],
    verify: bool,
) -> int:
    r = _BitReader(payload, pos)
    if r.read(14) != 0b11111111111110:
        raise FlacFormatError("lost frame sync")
    r.read(1)
    r.read(1)  # blocking strategy (both handled: coded number differs only in range)
    bs_code = r.read(4)
    rate_code = r.read(4)
    chan_code = r.read(4)
    size_code = r.read(3)
    r.read(1)
    _read_utf8_coded(r)
    if bs_code == 0:
        raise FlacFormatError("reserved block size code")
    elif bs_code == 1:
        bs = 192
    elif bs_code <= 5:
        bs = 576 << (bs_code - 2)
    elif bs_code == 6:
        bs = r.read(8) + 1
    elif bs_code == 7:
        bs = r.read(16) + 1
    else:
        bs = 256 << (bs_code - 8)
    if rate_code == 12:
        r.read(8)
    elif rate_code in (13, 14):
        r.read(16)
    elif rate_code not in _RATE_TABLE and rate_code != 0:
        if rate_code == 15:
            raise FlacFormatError("invalid sample rate code")
    bps = si_bps if size_code == 0 else _BPS_CODES[size_code]
    if verify:
        header_bytes = payload[pos : r.byte + (1 if r.bit else 0)]
        if _crc8(header_bytes) != r.read(8):
            raise FlacFormatError("frame header CRC-8 mismatch")
    else:
        r.read(8)

    if chan_code <= 7:
        n_ch = chan_code + 1
        if n_ch != si_channels:
            raise FlacFormatError("channel count mismatch")
        blocks = [_decode_subframe(r, bs, bps) for _ in range(n_ch)]
    elif chan_code in (8, 9, 10):
        if si_channels != 2:
            raise FlacFormatError("stereo decorrelation in non-stereo stream")
        if chan_code == 8:  # left/side
            left = _decode_subframe(r, bs, bps)
            side = _decode_subframe(r, bs, bps + 1)
            blocks = [left, [l - s for l, s in zip(left, side)]]
        elif chan_code == 9:  # right/side
            side = _decode_subframe(r, bs, bps + 1)
            right = _decode_subframe(r, bs, bps)
            blocks = [[s + rt for s, rt in zip(side, right)], right]
        else:  # mid/side
            mid = _decode_subframe(r, bs, bps)
            side = _decode_subframe(r, bs, bps + 1)
            blocks = [[], []]
            for m, s in zip(mid, side):
                m = (m << 1) | (s & 1)
                blocks[0].append((m + s) >> 1)
                blocks[1].append((m - s) >> 1)
    else:
        raise FlacFormatError("reserved channel assignment")
    r.align()
    end = r.byte
    if verify:
        if _crc16(payload[pos:end]) != struct.unpack(
            ">H", payload[end : end + 2]
        )[0]:
            raise FlacFormatError("frame CRC-16 mismatch")
    for ch, block in zip(out, blocks):
        ch.extend(block)
    return end + 2


def _decode_subframe(r: _BitReader, bs: int, bps: int) -> list[int]:
    if r.read(1):
        raise FlacFormatError("subframe padding bit set")
    sf_type = r.read(6)
    wasted = 0
    if r.read(1):
        wasted = r.read_unary() + 1
        bps -= wasted
    if sf_type == 0:  # constant
        block = [r.read_signed(bps)] * bs
    elif sf_type == 1:  # verbatim
        block = [r.read_signed(bps) for _ in range(bs)]
    elif 8 <= sf_type <= 12:  # fixed
        order = sf_type - 8
        block = [r.read_signed(bps) for _ in range(order)]
        resid = _decode_residual(r, bs, order)
        coefs = _FIXED_COEFS[order]
        for i, e in enumerate(resid):
            idx = order + i
            block.append(
                e + sum(c * block[idx - 1 - j] for j, c in enumerate(coefs))
            )
    elif sf_type >= 32:  # LPC
        order = (sf_type & 0x1F) + 1
        block = [r.read_signed(bps) for _ in range(order)]
        precision = r.read(4) + 1
        if precision == 16:
            raise FlacFormatError("invalid LPC precision")
        shift = r.read_signed(5)
        if shift < 0:
            raise FlacFormatError("negative LPC shift")
        coefs = [r.read_signed(precision) for _ in range(order)]
        resid = _decode_residual(r, bs, order)
        for i, e in enumerate(resid):
            idx = order + i
            pred = sum(
                c * block[idx - 1 - j] for j, c in enumerate(coefs)
            ) >> shift
            block.append(e + pred)
    else:
        raise FlacFormatError(f"reserved subframe type {sf_type}")
    if wasted:
        block = [s << wasted for s in block]
    return block


def _decode_residual(r: _BitReader, bs: int, order: int) -> list[int]:
    method = r.read(2)
    if method > 1:
        raise FlacFormatError("reserved residual coding method")
    param_bits = 4 if method == 0 else 5
    escape = (1 << param_bits) - 1
    po = r.read(4)
    n_parts = 1 << po
    if bs % n_parts:
        raise FlacFormatError("block size not divisible by partitions")
    resid: list[int] = []
    for p in range(n_parts):
        count = bs // n_parts - (order if p == 0 else 0)
        if count < 0:
            raise FlacFormatError("predictor order exceeds first partition")
        param = r.read(param_bits)
        if param == escape:
            width = r.read(5)
            resid.extend(
                r.read_signed(width) if width else 0 for _ in range(count)
            )
        else:
            for _ in range(count):
                q = r.read_unary()
                u = (q << param) | r.read(param)
                resid.append(_unzigzag(u))
    return resid
