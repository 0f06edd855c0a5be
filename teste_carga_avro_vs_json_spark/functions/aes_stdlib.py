"""Pure-stdlib AES (FIPS-197) — the cipher behind the PDF standard
security handler's /AESV2 (AES-128-CBC) and /AESV3 (AES-256-CBC)
crypt filters, which the r10 RC4 work left as a documented boundary
("no stdlib cipher"). This module closes it with a from-the-published-
spec implementation and an in-container foreign pin — the JVM's
``javax.crypto`` AES is an independent implementation, so the
established py4j interop net applies (``tests/test_aes_stdlib.py``
pins every key size both directions, plus the FIPS-197 Appendix C
known-answer vectors).

Scope: the raw block cipher (all three FIPS key sizes) + ECB and CBC
modes with NO padding — padding policy belongs to the caller (PDF
uses the RFC 2898 style; ``operators/pdf_extract.py`` owns that).

Design: the classic 32-bit T-table formulation (encrypt) and the
equivalent inverse cipher (decrypt: inverse T-tables + InvMixColumns
folded into the decryption round keys), i.e. the exact layout of the
FIPS-197 §5.3.5 optimization that every C implementation uses — four
table lookups + one XOR per column per round, no per-byte GF math at
runtime. CBC-decrypt additionally exposes a fast path: blocks are
independent (P_i = D(C_i) XOR C_{i-1}), so the per-block loop carries
no chaining state beyond a slice.

Tables are DERIVED at import (S-box from the GF(2^8) inverse + affine
map, log/alog over generator 3) rather than transcribed, so a typo is
structurally impossible — the FIPS vectors then pin the derivation.

Reference behavior being served: ``operators/pdf_extract.py`` /V4+
decryption (ISO 32000-1 §7.6.2); the upstream system under test only
ever consumes the extracted text (reference scope:
``src/main/java/br/com/sandbox/kafka`` has no crypto — this is
extension surface for the crawl-ingest pipeline).
"""

from __future__ import annotations

__all__ = [
    "expand_key",
    "encrypt_block",
    "decrypt_block",
    "ecb_encrypt",
    "ecb_decrypt",
    "cbc_encrypt",
    "cbc_decrypt",
]

_MASK = 0xFFFFFFFF


def _build_tables():
    """Derive S-box / inverse S-box and the eight 32-bit T-tables.

    GF(2^8) arithmetic via log/alog tables over the generator 3
    (x + 1), the standard construction: alog[i] = 3^i, so
    a*b = alog[(log[a] + log[b]) % 255] and a^-1 = alog[255 - log[a]].
    """
    alog = [1] * 256
    log = [0] * 256
    for i in range(1, 256):
        v = alog[i - 1]
        v = (v << 1) ^ v  # multiply by 3 = x*v + v
        if v & 0x100:
            v ^= 0x11B
        alog[i] = v & 0xFF
        log[alog[i]] = i if i < 255 else log[alog[i]]
    log[1] = 0

    def gmul(a: int, b: int) -> int:
        if a == 0 or b == 0:
            return 0
        return alog[(log[a] + log[b]) % 255]

    sbox = [0] * 256
    for a in range(256):
        x = alog[255 - log[a]] if a else 0  # multiplicative inverse
        y = x
        s = x
        for _ in range(4):  # affine map: x ^ rot1(x) ^ ... ^ rot4(x)
            y = ((y << 1) | (y >> 7)) & 0xFF
            s ^= y
        sbox[a] = s ^ 0x63
    inv_sbox = [0] * 256
    for a, s in enumerate(sbox):
        inv_sbox[s] = a

    t0, t1, t2, t3 = [], [], [], []
    d0, d1, d2, d3 = [], [], [], []
    for a in range(256):
        s = sbox[a]
        s2 = gmul(s, 2)
        s3 = s2 ^ s
        w = (s2 << 24) | (s << 16) | (s << 8) | s3
        t0.append(w)
        t1.append(((w >> 8) | (w << 24)) & _MASK)
        t2.append(((w >> 16) | (w << 16)) & _MASK)
        t3.append(((w >> 24) | (w << 8)) & _MASK)
        si = inv_sbox[a]
        w = (
            (gmul(si, 0x0E) << 24)
            | (gmul(si, 0x09) << 16)
            | (gmul(si, 0x0D) << 8)
            | gmul(si, 0x0B)
        )
        d0.append(w)
        d1.append(((w >> 8) | (w << 24)) & _MASK)
        d2.append(((w >> 16) | (w << 16)) & _MASK)
        d3.append(((w >> 24) | (w << 8)) & _MASK)
    return (
        tuple(sbox),
        tuple(inv_sbox),
        tuple(t0),
        tuple(t1),
        tuple(t2),
        tuple(t3),
        tuple(d0),
        tuple(d1),
        tuple(d2),
        tuple(d3),
    )


(
    _SBOX,
    _INV_SBOX,
    _T0,
    _T1,
    _T2,
    _T3,
    _D0,
    _D1,
    _D2,
    _D3,
) = _build_tables()


def _sub_word(w: int) -> int:
    return (
        (_SBOX[w >> 24] << 24)
        | (_SBOX[(w >> 16) & 0xFF] << 16)
        | (_SBOX[(w >> 8) & 0xFF] << 8)
        | _SBOX[w & 0xFF]
    )


def expand_key(key: bytes) -> tuple[tuple[int, ...], tuple[int, ...]]:
    """FIPS-197 §5.2 key schedule. Returns (enc_words, dec_words):
    4*(Nr+1) big-endian 32-bit words each. The decryption schedule is
    the equivalent-inverse-cipher form — encryption round keys in
    reverse round order with InvMixColumns applied to every inner
    round (folded through D-tables via D[SBOX[b]], which strips the
    InvSubBytes the D-tables bake in)."""
    if len(key) not in (16, 24, 32):
        raise ValueError(f"AES key must be 16/24/32 bytes, got {len(key)}")
    nk = len(key) // 4
    nr = nk + 6
    w = [int.from_bytes(key[4 * i : 4 * i + 4], "big") for i in range(nk)]
    rcon = 1
    for i in range(nk, 4 * (nr + 1)):
        t = w[i - 1]
        if i % nk == 0:
            t = _sub_word(((t << 8) | (t >> 24)) & _MASK) ^ (rcon << 24)
            rcon <<= 1
            if rcon & 0x100:
                rcon ^= 0x11B
        elif nk > 6 and i % nk == 4:
            t = _sub_word(t)
        w.append(w[i - nk] ^ t)

    def imc(word: int) -> int:
        return (
            _D0[_SBOX[word >> 24]]
            ^ _D1[_SBOX[(word >> 16) & 0xFF]]
            ^ _D2[_SBOX[(word >> 8) & 0xFF]]
            ^ _D3[_SBOX[word & 0xFF]]
        )

    dec: list[int] = []
    for rnd in range(nr, -1, -1):
        block = w[4 * rnd : 4 * rnd + 4]
        if 0 < rnd < nr:
            block = [imc(x) for x in block]
        dec.extend(block)
    return tuple(w), tuple(dec)


def encrypt_block(enc_words, block: bytes) -> bytes:
    """One 16-byte block through the T-table cipher."""
    nr = len(enc_words) // 4 - 1
    a0 = int.from_bytes(block[0:4], "big") ^ enc_words[0]
    a1 = int.from_bytes(block[4:8], "big") ^ enc_words[1]
    a2 = int.from_bytes(block[8:12], "big") ^ enc_words[2]
    a3 = int.from_bytes(block[12:16], "big") ^ enc_words[3]
    k = 4
    for _ in range(nr - 1):
        b0 = (
            _T0[a0 >> 24]
            ^ _T1[(a1 >> 16) & 0xFF]
            ^ _T2[(a2 >> 8) & 0xFF]
            ^ _T3[a3 & 0xFF]
            ^ enc_words[k]
        )
        b1 = (
            _T0[a1 >> 24]
            ^ _T1[(a2 >> 16) & 0xFF]
            ^ _T2[(a3 >> 8) & 0xFF]
            ^ _T3[a0 & 0xFF]
            ^ enc_words[k + 1]
        )
        b2 = (
            _T0[a2 >> 24]
            ^ _T1[(a3 >> 16) & 0xFF]
            ^ _T2[(a0 >> 8) & 0xFF]
            ^ _T3[a1 & 0xFF]
            ^ enc_words[k + 2]
        )
        b3 = (
            _T0[a3 >> 24]
            ^ _T1[(a0 >> 16) & 0xFF]
            ^ _T2[(a1 >> 8) & 0xFF]
            ^ _T3[a2 & 0xFF]
            ^ enc_words[k + 3]
        )
        a0, a1, a2, a3 = b0, b1, b2, b3
        k += 4
    # final round: SubBytes + ShiftRows + AddRoundKey, no MixColumns
    o0 = (
        (_SBOX[a0 >> 24] << 24)
        | (_SBOX[(a1 >> 16) & 0xFF] << 16)
        | (_SBOX[(a2 >> 8) & 0xFF] << 8)
        | _SBOX[a3 & 0xFF]
    ) ^ enc_words[k]
    o1 = (
        (_SBOX[a1 >> 24] << 24)
        | (_SBOX[(a2 >> 16) & 0xFF] << 16)
        | (_SBOX[(a3 >> 8) & 0xFF] << 8)
        | _SBOX[a0 & 0xFF]
    ) ^ enc_words[k + 1]
    o2 = (
        (_SBOX[a2 >> 24] << 24)
        | (_SBOX[(a3 >> 16) & 0xFF] << 16)
        | (_SBOX[(a0 >> 8) & 0xFF] << 8)
        | _SBOX[a1 & 0xFF]
    ) ^ enc_words[k + 2]
    o3 = (
        (_SBOX[a3 >> 24] << 24)
        | (_SBOX[(a0 >> 16) & 0xFF] << 16)
        | (_SBOX[(a1 >> 8) & 0xFF] << 8)
        | _SBOX[a2 & 0xFF]
    ) ^ enc_words[k + 3]
    return (
        o0.to_bytes(4, "big")
        + o1.to_bytes(4, "big")
        + o2.to_bytes(4, "big")
        + o3.to_bytes(4, "big")
    )


def decrypt_block(dec_words, block: bytes) -> bytes:
    """One block through the equivalent inverse cipher (mirror of
    :func:`encrypt_block` with D-tables, inverse S-box and the
    OPPOSITE ShiftRows direction — column i pulls from a[i-1]/a[i-2]/
    a[i-3] instead of a[i+1]/a[i+2]/a[i+3])."""
    nr = len(dec_words) // 4 - 1
    a0 = int.from_bytes(block[0:4], "big") ^ dec_words[0]
    a1 = int.from_bytes(block[4:8], "big") ^ dec_words[1]
    a2 = int.from_bytes(block[8:12], "big") ^ dec_words[2]
    a3 = int.from_bytes(block[12:16], "big") ^ dec_words[3]
    k = 4
    for _ in range(nr - 1):
        b0 = (
            _D0[a0 >> 24]
            ^ _D1[(a3 >> 16) & 0xFF]
            ^ _D2[(a2 >> 8) & 0xFF]
            ^ _D3[a1 & 0xFF]
            ^ dec_words[k]
        )
        b1 = (
            _D0[a1 >> 24]
            ^ _D1[(a0 >> 16) & 0xFF]
            ^ _D2[(a3 >> 8) & 0xFF]
            ^ _D3[a2 & 0xFF]
            ^ dec_words[k + 1]
        )
        b2 = (
            _D0[a2 >> 24]
            ^ _D1[(a1 >> 16) & 0xFF]
            ^ _D2[(a0 >> 8) & 0xFF]
            ^ _D3[a3 & 0xFF]
            ^ dec_words[k + 2]
        )
        b3 = (
            _D0[a3 >> 24]
            ^ _D1[(a2 >> 16) & 0xFF]
            ^ _D2[(a1 >> 8) & 0xFF]
            ^ _D3[a0 & 0xFF]
            ^ dec_words[k + 3]
        )
        a0, a1, a2, a3 = b0, b1, b2, b3
        k += 4
    o0 = (
        (_INV_SBOX[a0 >> 24] << 24)
        | (_INV_SBOX[(a3 >> 16) & 0xFF] << 16)
        | (_INV_SBOX[(a2 >> 8) & 0xFF] << 8)
        | _INV_SBOX[a1 & 0xFF]
    ) ^ dec_words[k]
    o1 = (
        (_INV_SBOX[a1 >> 24] << 24)
        | (_INV_SBOX[(a0 >> 16) & 0xFF] << 16)
        | (_INV_SBOX[(a3 >> 8) & 0xFF] << 8)
        | _INV_SBOX[a2 & 0xFF]
    ) ^ dec_words[k + 1]
    o2 = (
        (_INV_SBOX[a2 >> 24] << 24)
        | (_INV_SBOX[(a1 >> 16) & 0xFF] << 16)
        | (_INV_SBOX[(a0 >> 8) & 0xFF] << 8)
        | _INV_SBOX[a3 & 0xFF]
    ) ^ dec_words[k + 2]
    o3 = (
        (_INV_SBOX[a3 >> 24] << 24)
        | (_INV_SBOX[(a2 >> 16) & 0xFF] << 16)
        | (_INV_SBOX[(a1 >> 8) & 0xFF] << 8)
        | _INV_SBOX[a0 & 0xFF]
    ) ^ dec_words[k + 3]
    return (
        o0.to_bytes(4, "big")
        + o1.to_bytes(4, "big")
        + o2.to_bytes(4, "big")
        + o3.to_bytes(4, "big")
    )


def _check_len(data: bytes) -> None:
    if len(data) % 16:
        raise ValueError(
            f"data length {len(data)} is not a multiple of the AES "
            "block size (padding is the caller's job)"
        )


def ecb_encrypt(key: bytes, data: bytes) -> bytes:
    _check_len(data)
    enc, _ = expand_key(key)
    return b"".join(
        encrypt_block(enc, data[i : i + 16]) for i in range(0, len(data), 16)
    )


def ecb_decrypt(key: bytes, data: bytes) -> bytes:
    _check_len(data)
    _, dec = expand_key(key)
    return b"".join(
        decrypt_block(dec, data[i : i + 16]) for i in range(0, len(data), 16)
    )


def cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """CBC, no padding. Inherently sequential (each block chains on
    the previous ciphertext) — fine: encryption only happens in
    builder twins and test fixtures, never on the extract hot path."""
    _check_len(data)
    if len(iv) != 16:
        raise ValueError("IV must be 16 bytes")
    enc, _ = expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        blk = bytes(x ^ y for x, y in zip(data[i : i + 16], prev))
        prev = encrypt_block(enc, blk)
        out += prev
    return bytes(out)


#: payloads at or above this many bytes take the numpy batch path in
#: :func:`cbc_decrypt` (bit-identical, pinned in test_aes_stdlib.py);
#: below it the per-call numpy setup costs more than it saves
CBC_NP_THRESHOLD = 4096


def cbc_decrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """CBC, no padding. Each plaintext block depends only on two
    ciphertext blocks (P_i = D(C_i) ^ C_{i-1}), so decryption is
    embarrassingly parallel across blocks — large payloads dispatch to
    the numpy gather implementation (~50x the scalar loop: the shape
    that matters when a 100 TB crawl's encrypted-PDF streams all pass
    through here), small ones keep the allocation-free scalar loop.
    Both paths are bit-identical and pinned against each other and
    against javax.crypto."""
    _check_len(data)
    if len(iv) != 16:
        raise ValueError("IV must be 16 bytes")
    if len(data) >= CBC_NP_THRESHOLD:
        try:
            return _cbc_decrypt_np(key, iv, data)
        except ImportError:
            pass
    _, dec = expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        ct = data[i : i + 16]
        out += bytes(x ^ y for x, y in zip(decrypt_block(dec, ct), prev))
        prev = ct
    return bytes(out)


_NP_TABLES = None


def _np_tables():
    global _NP_TABLES
    if _NP_TABLES is None:
        import numpy as np

        _NP_TABLES = (
            np.array(_D0, dtype=np.uint32),
            np.array(_D1, dtype=np.uint32),
            np.array(_D2, dtype=np.uint32),
            np.array(_D3, dtype=np.uint32),
            np.array(_INV_SBOX, dtype=np.uint32),
        )
    return _NP_TABLES


def _cbc_decrypt_np(key: bytes, iv: bytes, data: bytes) -> bytes:
    """All blocks at once: the equivalent inverse cipher as numpy
    table gathers over column vectors (one array op per T-table lookup
    instead of one Python op per byte), then one vectorized XOR with
    the shifted ciphertext for the CBC unchain."""
    import numpy as np

    d0, d1, d2, d3, inv_s = _np_tables()
    _, dec = expand_key(key)
    nr = len(dec) // 4 - 1
    # (n, 4) big-endian state words
    a = (
        np.frombuffer(data, dtype=">u4")
        .reshape(-1, 4)
        .astype(np.uint32)
    )
    a0 = a[:, 0] ^ np.uint32(dec[0])
    a1 = a[:, 1] ^ np.uint32(dec[1])
    a2 = a[:, 2] ^ np.uint32(dec[2])
    a3 = a[:, 3] ^ np.uint32(dec[3])
    k = 4
    for _ in range(nr - 1):
        b0 = (
            d0[a0 >> 24]
            ^ d1[(a3 >> 16) & 0xFF]
            ^ d2[(a2 >> 8) & 0xFF]
            ^ d3[a1 & 0xFF]
            ^ np.uint32(dec[k])
        )
        b1 = (
            d0[a1 >> 24]
            ^ d1[(a0 >> 16) & 0xFF]
            ^ d2[(a3 >> 8) & 0xFF]
            ^ d3[a2 & 0xFF]
            ^ np.uint32(dec[k + 1])
        )
        b2 = (
            d0[a2 >> 24]
            ^ d1[(a1 >> 16) & 0xFF]
            ^ d2[(a0 >> 8) & 0xFF]
            ^ d3[a3 & 0xFF]
            ^ np.uint32(dec[k + 2])
        )
        b3 = (
            d0[a3 >> 24]
            ^ d1[(a2 >> 16) & 0xFF]
            ^ d2[(a1 >> 8) & 0xFF]
            ^ d3[a0 & 0xFF]
            ^ np.uint32(dec[k + 3])
        )
        a0, a1, a2, a3 = b0, b1, b2, b3
        k += 4
    o0 = (
        (inv_s[a0 >> 24] << np.uint32(24))
        | (inv_s[(a3 >> 16) & 0xFF] << np.uint32(16))
        | (inv_s[(a2 >> 8) & 0xFF] << np.uint32(8))
        | inv_s[a1 & 0xFF]
    ) ^ np.uint32(dec[k])
    o1 = (
        (inv_s[a1 >> 24] << np.uint32(24))
        | (inv_s[(a0 >> 16) & 0xFF] << np.uint32(16))
        | (inv_s[(a3 >> 8) & 0xFF] << np.uint32(8))
        | inv_s[a2 & 0xFF]
    ) ^ np.uint32(dec[k + 1])
    o2 = (
        (inv_s[a2 >> 24] << np.uint32(24))
        | (inv_s[(a1 >> 16) & 0xFF] << np.uint32(16))
        | (inv_s[(a0 >> 8) & 0xFF] << np.uint32(8))
        | inv_s[a3 & 0xFF]
    ) ^ np.uint32(dec[k + 2])
    o3 = (
        (inv_s[a3 >> 24] << np.uint32(24))
        | (inv_s[(a2 >> 16) & 0xFF] << np.uint32(16))
        | (inv_s[(a1 >> 8) & 0xFF] << np.uint32(8))
        | inv_s[a0 & 0xFF]
    ) ^ np.uint32(dec[k + 3])
    pt = np.stack([o0, o1, o2, o3], axis=1)
    # CBC unchain: P_i ^= C_{i-1} (C_{-1} = IV), one vectorized XOR
    prev = np.vstack(
        [
            np.frombuffer(iv, dtype=">u4").astype(np.uint32),
            a[:-1],
        ]
    )
    pt ^= prev
    return pt.astype(">u4").tobytes()
