"""functions/aes_stdlib — the pure-stdlib FIPS-197 AES behind the PDF
/AESV2 //AESV3 crypt filters.

Pinning strategy (same ladder as the image codecs):
1. the PUBLISHED FIPS-197 Appendix C known-answer vectors (one per
   key size — they exercise the S-box derivation, key schedule and
   both cipher directions end to end);
2. structural properties (round-trips across lengths/keys, mode
   errors);
3. a cross-implementation pin against the JVM's javax.crypto AES in
   tests/test_pdf_extract.py (needs the spark fixture for py4j; both
   encrypt and decrypt directions, ECB + CBC).
"""

import hashlib

import pytest

from teste_carga_avro_vs_json_spark.functions import aes_stdlib as aes


# FIPS-197 Appendix C example vectors: the common plaintext
# 00112233445566778899aabbccddeeff under the sequential-byte keys.
_FIPS_PT = bytes.fromhex("00112233445566778899aabbccddeeff")
_FIPS = [
    (bytes(range(16)), "69c4e0d86a7b0430d8cdb78070b4c55a"),
    (bytes(range(24)), "dda97ca4864cdfe06eaf70a0ec0d7191"),
    (bytes(range(32)), "8ea2b7ca516745bfeafc49904b496089"),
]


@pytest.mark.parametrize("key,ct_hex", _FIPS)
def test_fips197_appendix_c(key, ct_hex):
    ct = aes.ecb_encrypt(key, _FIPS_PT)
    assert ct.hex() == ct_hex
    assert aes.ecb_decrypt(key, ct) == _FIPS_PT


def test_block_roundtrip_all_key_sizes():
    for klen in (16, 24, 32):
        key = hashlib.sha256(b"k%d" % klen).digest()[:klen]
        enc, dec = aes.expand_key(key)
        for i in range(8):
            block = hashlib.md5(b"b%d" % i).digest()
            assert aes.decrypt_block(dec, aes.encrypt_block(enc, block)) == block


def test_cbc_roundtrip_and_chaining():
    key = hashlib.sha256(b"cbc").digest()
    iv = hashlib.md5(b"iv").digest()
    data = bytes((i * 7 + 3) & 0xFF for i in range(16 * 17))
    ct = aes.cbc_encrypt(key, iv, data)
    assert aes.cbc_decrypt(key, iv, ct) == data
    # chaining: equal plaintext blocks must NOT produce equal
    # ciphertext blocks (the whole point of CBC over ECB)
    ct2 = aes.cbc_encrypt(key, iv, bytes(64))
    blocks = [ct2[i : i + 16] for i in range(0, 64, 16)]
    assert len(set(blocks)) == 4
    # ECB on the same input WOULD repeat
    ecb = aes.ecb_encrypt(key, bytes(64))
    assert len({ecb[i : i + 16] for i in range(0, 64, 16)}) == 1


def test_cbc_block_independence_on_decrypt():
    # P_i = D(C_i) ^ C_{i-1}: flipping one ciphertext block corrupts
    # exactly two plaintext blocks
    key = hashlib.sha256(b"ind").digest()[:16]
    iv = bytes(16)
    data = bytes(range(16)) * 4
    ct = bytearray(aes.cbc_encrypt(key, iv, data))
    ct[20] ^= 0xFF  # inside block 1
    pt = aes.cbc_decrypt(key, iv, bytes(ct))
    assert pt[:16] == data[:16]          # block 0 untouched
    assert pt[16:32] != data[16:32]      # block 1 garbled
    assert pt[32:48] != data[32:48]      # block 2 bit-flipped
    assert pt[48:] == data[48:]          # block 3 untouched


def test_errors():
    key16 = bytes(16)
    with pytest.raises(ValueError, match="key must be"):
        aes.expand_key(bytes(15))
    with pytest.raises(ValueError, match="multiple"):
        aes.ecb_encrypt(key16, bytes(17))
    with pytest.raises(ValueError, match="multiple"):
        aes.cbc_decrypt(key16, bytes(16), bytes(15))
    with pytest.raises(ValueError, match="IV"):
        aes.cbc_encrypt(key16, bytes(8), bytes(16))


def test_key_schedule_shape():
    for klen, nr in ((16, 10), (24, 12), (32, 14)):
        enc, dec = aes.expand_key(bytes(klen))
        assert len(enc) == len(dec) == 4 * (nr + 1)
        assert all(0 <= w <= 0xFFFFFFFF for w in enc + dec)


def test_cbc_decrypt_np_bit_identical_to_scalar(monkeypatch):
    """The numpy batch path (auto-dispatch >= CBC_NP_THRESHOLD) must
    equal the scalar loop byte-for-byte across sizes straddling the
    threshold and all key sizes — the avro_vec dispatch rule: a fast
    path exists only as a pinned twin."""
    for klen in (16, 24, 32):
        key = hashlib.sha256(b"npk%d" % klen).digest()[:klen]
        iv = hashlib.md5(b"npiv").digest()
        for n_blocks in (1, 2, 255, 256, 257, 1024):
            seed = hashlib.sha512(b"%d:%d" % (klen, n_blocks)).digest()
            data = (seed * (n_blocks * 16 // 64 + 1))[: n_blocks * 16]
            ct = aes.cbc_encrypt(key, iv, data)
            monkeypatch.setattr(aes, "CBC_NP_THRESHOLD", 1 << 60)
            scalar = aes.cbc_decrypt(key, iv, ct)
            monkeypatch.setattr(aes, "CBC_NP_THRESHOLD", 0)
            vec = aes.cbc_decrypt(key, iv, ct)
            assert scalar == vec == data
    # direct call rejects misaligned input like the scalar path
    with pytest.raises(ValueError, match="multiple"):
        aes._cbc_decrypt_np(bytes(16), bytes(16), bytes(17))


def test_cbc_decrypt_np_called_on_large_payloads(monkeypatch):
    calls = []
    real = aes._cbc_decrypt_np
    monkeypatch.setattr(
        aes, "_cbc_decrypt_np",
        lambda *a: calls.append(1) or real(*a),
    )
    key, iv = bytes(16), bytes(16)
    aes.cbc_decrypt(key, iv, bytes(aes.CBC_NP_THRESHOLD))
    assert calls == [1]
    aes.cbc_decrypt(key, iv, bytes(16))  # small stays scalar
    assert calls == [1]
