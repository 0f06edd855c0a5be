"""Minimal Kafka wire-protocol client + in-process loopback broker.

The container ships neither a broker nor kafka-python, so until r6 the
engine's Kafka surface (io_kafka offset arithmetic, tail-N consume,
wire frames) had never crossed a real socket. This module closes that
gap with PURE-STDLIB implementations of both ends of the published
Kafka protocol (public knowledge: the Kafka protocol guide at
kafka.apache.org/protocol and KIP-98's record-batch v2 layout):

- :class:`WireKafkaClient` — blocking client speaking ApiVersions v0,
  Metadata v1, Produce v3, Fetch v4, ListOffsets v1 over TCP, with
  record batches in the **v2 (magic 2) format**: varint/zigzag record
  framing, CRC32C (Castagnoli) batch checksums — the same bytes a
  modern Java client puts on the wire (reference produce/consume loop:
  ProdutorAvro.java:67-95, ConsumidorAvro.java:57-125).
- :class:`StubBroker` — a threading TCP server with an in-memory log
  (one batch list per topic-partition) that validates produce CRCs,
  assigns base offsets, and serves metadata/fetch/list-offsets. It
  exists so the loopback tests drive the REAL framing end-to-end; it
  is not a storage engine.

Scale notes: on a cluster the heavy data path is the Spark Kafka
connector (spark-sql-kafka-0-10) — executors fetch in parallel, one
task per TopicPartition (io_kafka.py O8). This client is the
*driver-side* control surface (offset discovery for tail-N pruning,
O9) plus the loopback test harness; it never sits in a hot loop over
100 TB. ``io_kafka.fetch_offsets`` falls back to it when kafka-python
is absent, so offset discovery works on a bare environment.
"""

from __future__ import annotations

import io
import socket
import socketserver
import struct
import threading
import time

from teste_carga_avro_vs_json_spark.sources import compression

try:  # pickle-by-value: executors don't need the repo on PYTHONPATH
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:  # noqa: BLE001
    pass

# ------------------------------------------------------------- CRC32C
# Castagnoli polynomial (reflected 0x82F63B78), slice-by-8 tables — the
# checksum record-batch v2 mandates (zlib.crc32 is CRC32/IEEE, wrong
# polynomial). Public-knowledge slice-by-8 construction: T[0] is the
# classic byte-at-a-time table; T[k][i] advances a byte k positions
# further, so the hot loop folds 8 input bytes per iteration after one
# C-speed struct.unpack. Measured 1.2-1.3x the plain loop in CPython
# (interpreter overhead dominates; no C crc32c ships in this env) —
# taken because this runs 3x over every produced payload: client
# encode, broker validate, consumer decode.
_CRC32C_T = [[0] * 256 for _ in range(8)]
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC32C_T[0][_n] = _c
for _k in range(1, 8):
    for _n in range(256):
        _p = _CRC32C_T[_k - 1][_n]
        _CRC32C_T[_k][_n] = (_p >> 8) ^ _CRC32C_T[0][_p & 0xFF]
_CRC32C_TABLE = _CRC32C_T[0]  # byte-at-a-time tail


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    t0, t1, t2, t3, t4, t5, t6, t7 = reversed(_CRC32C_T)
    n8 = len(data) & ~7
    if n8:
        # one C-speed unpack, then 8 bytes per loop iteration
        words = struct.unpack_from(f"<{n8 >> 2}I", data)
        for j in range(0, n8 >> 2, 2):
            lo = crc ^ words[j]
            hi = words[j + 1]
            crc = (
                t0[lo & 0xFF]
                ^ t1[(lo >> 8) & 0xFF]
                ^ t2[(lo >> 16) & 0xFF]
                ^ t3[lo >> 24]
                ^ t4[hi & 0xFF]
                ^ t5[(hi >> 8) & 0xFF]
                ^ t6[(hi >> 16) & 0xFF]
                ^ t7[hi >> 24]
            )
    for b in data[n8:]:
        crc = _CRC32C_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


# -------------------------------------------------- protocol primitives
def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def write_varint(n: int) -> bytes:
    """Zigzag varint (record framing in batch v2)."""
    v = _zigzag(n) & 0xFFFFFFFFFFFFFFFF
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def read_varint(buf: io.BytesIO) -> int:
    shift, v = 0, 0
    while True:
        b = buf.read(1)[0]
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return _unzigzag(v)
        shift += 7


class _W:
    """Big-endian primitive writer."""

    def __init__(self):
        self.b = bytearray()

    def i8(self, v):
        self.b += struct.pack(">b", v)
        return self

    def i16(self, v):
        self.b += struct.pack(">h", v)
        return self

    def i32(self, v):
        self.b += struct.pack(">i", v)
        return self

    def i64(self, v):
        self.b += struct.pack(">q", v)
        return self

    def u32(self, v):
        self.b += struct.pack(">I", v)
        return self

    def string(self, s: str | None):
        if s is None:
            return self.i16(-1)
        raw = s.encode()
        self.i16(len(raw))
        self.b += raw
        return self

    def bytes_(self, raw: bytes | None):
        if raw is None:
            return self.i32(-1)
        self.i32(len(raw))
        self.b += raw
        return self

    def raw(self, raw: bytes):
        self.b += raw
        return self


class _R:
    """Big-endian primitive reader."""

    def __init__(self, data: bytes):
        self.buf = io.BytesIO(data)

    def _unpack(self, fmt, n):
        return struct.unpack(fmt, self.buf.read(n))[0]

    def i8(self):
        return self._unpack(">b", 1)

    def i16(self):
        return self._unpack(">h", 2)

    def i32(self):
        return self._unpack(">i", 4)

    def i64(self):
        return self._unpack(">q", 8)

    def u32(self):
        return self._unpack(">I", 4)

    def string(self):
        n = self.i16()
        return None if n < 0 else self.buf.read(n).decode()

    def bytes_(self):
        n = self.i32()
        return None if n < 0 else self.buf.read(n)

    def remaining(self) -> bytes:
        return self.buf.read()


# --------------------------------------------------- record batch (v2)
def encode_record_batch(
    records: list[tuple[bytes | None, bytes | None]],
    base_offset: int = 0,
    base_timestamp: int = 0,
    codec: str | None = None,
    producer_id: int = -1,
    producer_epoch: int = -1,
    base_sequence: int = -1,
    transactional: bool = False,
    control: bool = False,
) -> bytes:
    """Record batch, magic 2 (KIP-98 layout): header + varint-framed
    records, CRC32C over everything after the crc field. ``codec``:
    None or one of gzip / snappy / lz4 / zstd (the reference's full
    codec matrix, ConfiguracaoKafka.java:112-118; its DEFAULT is lz4)
    — the records section (everything after recordCount) is compressed
    as one blob and attributes bits 0-2 carry the codec id, per the
    published format. gzip is stdlib; snappy (xerial-framed), lz4
    (frame format, independent blocks) and zstd compress through
    pyarrow's bundled codecs, framed by :mod:`sources.compression`."""
    body = bytearray()
    for i, (key, value) in enumerate(records):
        rec = bytearray()
        rec += b"\x00"  # record attributes
        rec += write_varint(0)  # timestampDelta
        rec += write_varint(i)  # offsetDelta
        for payload in (key, value):
            if payload is None:
                rec += write_varint(-1)
            else:
                rec += write_varint(len(payload))
                rec += payload
        rec += write_varint(0)  # headers
        body += write_varint(len(rec))
        body += rec

    if codec is None or codec == "none":
        attributes = 0
    else:
        if codec not in compression.KAFKA_CODEC_IDS:
            raise NotImplementedError(
                f"unsupported compression codec {codec!r}"
            )
        attributes = compression.KAFKA_CODEC_IDS[codec]
        body = compression.compress(codec, bytes(body))
    if transactional:
        attributes |= 0x10  # bit 4: isTransactional (KIP-98)
    if control:
        attributes |= 0x20  # bit 5: isControlBatch (txn markers)
    after_crc = (
        _W()
        .i16(attributes)  # bits 0-2 = compression codec, CREATE_TIME
        .i32(len(records) - 1)  # lastOffsetDelta
        .i64(base_timestamp)
        .i64(base_timestamp)  # maxTimestamp
        .i64(producer_id)
        .i16(producer_epoch)
        .i32(base_sequence)
        .i32(len(records))
        .raw(bytes(body))
        .b
    )
    batch = (
        _W()
        .i64(base_offset)
        .i32(4 + 1 + 4 + len(after_crc))  # partitionLeaderEpoch..end
        .i32(-1)  # partitionLeaderEpoch
        .i8(2)  # magic
        .u32(crc32c(bytes(after_crc)))
        .raw(bytes(after_crc))
    )
    return bytes(batch.b)


# attributes..recordCount header (40 B) + partitionLeaderEpoch/magic/crc
_MIN_BATCH_LEN = 4 + 1 + 4 + 40


def jvm_crc32c_fn():
    """Optional CRC32C accelerator: ``java.util.zip.CRC32C`` through the
    live Spark py4j gateway (~50 MB/s transfer-bound vs ~13 MB/s for the
    pure-Python slice-by-8 — measured in this container). Driver-side
    only (executor workers have no gateway); returns None when no JVM is
    up, keeping the module pure-stdlib by default. PySpark's pinned-
    thread ClientServer gives each Python thread its own connection, so
    broker handler threads may call this concurrently."""
    try:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession() or SparkSession._instantiatedSession
        if spark is None:
            return None
        jvm = spark._jvm
        jvm.java.util.zip.CRC32C  # probe

        def crc(data: bytes) -> int:
            c = jvm.java.util.zip.CRC32C()
            c.update(data, 0, len(data))
            return c.getValue()

        # self-check against the known CRC32C vector before trusting it
        if crc(b"123456789") != 0xE3069283:  # pragma: no cover
            return None
        return crc
    except Exception:  # noqa: BLE001 - any py4j/session failure -> pure path
        return None


def count_records_validated(record_set: bytes, crc_fn=None) -> int:
    """CRC32C-validate every batch and return the total record count
    WITHOUT parsing record internals — what a real broker's produce
    validation does (it checks batch CRCs and trusts the CRC-covered
    recordCount header field; it never decompresses or walks records).
    r7: this replaced a full record decode in the StubBroker append
    path, which was the produce soak's GIL bottleneck.
    ``crc_fn`` overrides the CRC32C implementation (the broker passes
    the JVM accelerator when one is live — :func:`jvm_crc32c_fn`).
    Raises ValueError on CRC mismatch / malformed framing."""
    if crc_fn is None:
        crc_fn = crc32c
    total = 0
    pos = 0
    n = len(record_set)
    while pos + 12 <= n:
        base_hdr = struct.unpack_from(">qi", record_set, pos)
        batch_len = base_hdr[1]
        if batch_len < _MIN_BATCH_LEN:
            raise ValueError(f"record batch length {batch_len} too small")
        if pos + 12 + batch_len > n:
            raise ValueError("truncated record batch")
        magic = record_set[pos + 16]
        if magic != 2:
            raise ValueError(f"unsupported record batch magic {magic}")
        (crc,) = struct.unpack_from(">I", record_set, pos + 17)
        after_crc = record_set[pos + 21 : pos + 12 + batch_len]
        if crc_fn(after_crc) != crc:
            raise ValueError("record batch CRC32C mismatch")
        # attributes(2) lastOffsetDelta(4) ts(8+8) pid(8) epoch(2) seq(4)
        (count,) = struct.unpack_from(">i", after_crc, 36)
        if count < 0:
            raise ValueError(f"negative record count {count}")
        total += count
        pos += 12 + batch_len
    return total


def decode_batches_meta(
    data: bytes, check_crc: bool = True
) -> list[tuple[dict, list[tuple[int, bytes | None, bytes | None]]]]:
    """Batch-granular decode (r12, transactions): each element is
    ``(meta, records)`` where meta carries ``base_offset``,
    ``producer_id``, ``producer_epoch``, ``transactional`` (attributes
    bit 4) and ``control`` (bit 5) — what a read_committed consumer
    needs to skip markers and aborted ranges. Malformed input (hostile
    or truncated mid-field) raises a clean ``ValueError`` — never
    hangs, loops, or leaks struct errors."""
    try:
        return _decode_batches_meta(data, check_crc)
    except NotImplementedError:
        raise
    except ValueError:
        raise
    except Exception as e:  # struct.error, zlib.error, IndexError, EOF
        raise ValueError(f"malformed record batch: {e}") from e


def _decode_batches_meta(data: bytes, check_crc: bool):
    out = []
    pos = 0
    while pos + 12 <= len(data):
        r = _R(data[pos:])
        base_offset = r.i64()
        batch_len = r.i32()
        if batch_len < _MIN_BATCH_LEN:
            # also guards a negative length walking `pos` backwards
            raise ValueError(f"record batch length {batch_len} too small")
        if pos + 12 + batch_len > len(data):
            break  # partial batch at the tail (broker may truncate)
        r.i32()  # partitionLeaderEpoch
        magic = r.i8()
        if magic != 2:
            raise ValueError(f"unsupported record batch magic {magic}")
        crc = r.u32()
        after_crc = data[pos + 12 + 4 + 1 + 4 : pos + 12 + batch_len]
        if check_crc and crc32c(after_crc) != crc:
            raise ValueError("record batch CRC32C mismatch")
        rr = _R(after_crc)
        attributes = rr.i16()
        rr.i32()  # lastOffsetDelta
        rr.i64()
        rr.i64()
        b_pid = rr.i64()
        b_epoch = rr.i16()
        rr.i32()
        count = rr.i32()
        comp = attributes & 0x07
        if comp:  # gzip(1)/snappy(2)/lz4(3)/zstd(4)
            name = compression.KAFKA_CODECS.get(comp)
            if name is None:
                raise NotImplementedError(
                    f"unknown compression codec id {comp}"
                )
            rr = _R(compression.decompress(name, rr.remaining()))
        recs = []
        for _ in range(count):
            read_varint(rr.buf)  # record length
            rr.i8()  # attributes
            read_varint(rr.buf)  # timestampDelta
            off_delta = read_varint(rr.buf)
            klen = read_varint(rr.buf)
            key = None if klen < 0 else rr.buf.read(klen)
            vlen = read_varint(rr.buf)
            value = None if vlen < 0 else rr.buf.read(vlen)
            for _h in range(read_varint(rr.buf)):
                hk = read_varint(rr.buf)
                rr.buf.read(max(hk, 0))
                hv = read_varint(rr.buf)
                rr.buf.read(max(hv, 0))
            recs.append((base_offset + off_delta, key, value))
        out.append((
            {
                "base_offset": base_offset,
                "producer_id": b_pid,
                "producer_epoch": b_epoch,
                "transactional": bool(attributes & 0x10),
                "control": bool(attributes & 0x20),
            },
            recs,
        ))
        pos += 12 + batch_len
    return out


# ------------------------------------------------------------- client
_API_PRODUCE, _API_FETCH, _API_LIST_OFFSETS = 0, 1, 2
_API_METADATA, _API_VERSIONS = 3, 18
_API_SASL_HANDSHAKE = 17
_API_OFFSET_COMMIT, _API_OFFSET_FETCH, _API_FIND_COORDINATOR = 8, 9, 10
_API_JOIN_GROUP, _API_HEARTBEAT, _API_LEAVE_GROUP, _API_SYNC_GROUP = (
    11, 12, 13, 14,
)
_API_DESCRIBE_GROUPS, _API_LIST_GROUPS = 15, 16
_API_DELETE_GROUPS = 42
_API_INIT_PRODUCER_ID = 22
_API_ADD_PARTITIONS_TO_TXN, _API_END_TXN = 24, 26
_API_ADD_OFFSETS_TO_TXN, _API_TXN_OFFSET_COMMIT = 25, 28
_API_SASL_AUTHENTICATE = 36
EARLIEST, LATEST = -2, -1

#: security.protocol values, mirroring the Kafka client config surface
#: the reference uses (ConfiguracaoKafka.java:134-138 runs SASL_SSL).
SECURITY_PROTOCOLS = ("PLAINTEXT", "SSL", "SASL_PLAINTEXT", "SASL_SSL")


class SaslAuthenticationError(ConnectionError):
    """SASL handshake/authenticate rejected by the broker (error 58 =
    SASL_AUTHENTICATION_FAILED, 33 = UNSUPPORTED_SASL_MECHANISM)."""


# ------------------------------------------------ SCRAM (RFC 5802/7677)
#: mechanism name -> hashlib constructor (Kafka ships both)
SCRAM_ALGOS = {"SCRAM-SHA-256": "sha256", "SCRAM-SHA-512": "sha512"}


def _scram_saslname(name: str) -> str:
    """RFC 5802 §5.1 saslname escaping ('=' -> =3D, ',' -> =2C)."""
    return name.replace("=", "=3D").replace(",", "=2C")


def _scram_hi(password: bytes, salt: bytes, iterations: int, algo: str) -> bytes:
    import hashlib

    return hashlib.pbkdf2_hmac(algo, password, salt, iterations)


def _scram_keys(
    password: str, salt: bytes, iterations: int, algo: str
) -> tuple[bytes, bytes]:
    """(StoredKey, ServerKey) — what a server persists per user (the
    broker never needs the cleartext password, RFC 5802 §3)."""
    import hashlib
    import hmac as _hmac

    salted = _scram_hi(password.encode("utf-8"), salt, iterations, algo)
    client_key = _hmac.new(salted, b"Client Key", algo).digest()
    stored_key = hashlib.new(algo, client_key).digest()
    server_key = _hmac.new(salted, b"Server Key", algo).digest()
    return stored_key, server_key


class ScramClient:
    """Client side of one SCRAM exchange (RFC 5802; SHA-256 flavor
    pinned against the full RFC 7677 example vector in
    test_kafka_sasl.py). ``nonce`` is injectable for the vector test;
    the default draws fresh randomness per exchange as the RFC
    requires."""

    #: RFC 7677 norm and the floor production SCRAM clients enforce. A
    #: spoofed broker advertising a tiny i= would otherwise harvest a
    #: proof derived from a nearly-unstretched PBKDF2 hash (offline
    #: cracking downgrade) that the later server-signature check can't
    #: undo — so reject before computing the proof.
    MIN_ITERATIONS = 4096

    def __init__(
        self,
        username: str,
        password: str,
        algo: str = "sha256",
        nonce: str | None = None,
        min_iterations: int = MIN_ITERATIONS,
    ):
        if nonce is None:
            import base64
            import os as _os

            nonce = base64.b64encode(_os.urandom(18)).decode("ascii")
        self._user = username
        self._password = password
        self._algo = algo
        self._nonce = nonce
        self._min_iterations = min_iterations
        self._first_bare = f"n={_scram_saslname(username)},r={nonce}"
        self.server_signature: bytes | None = None

    def first(self) -> bytes:
        return ("n,," + self._first_bare).encode("utf-8")

    def final(self, server_first: bytes) -> bytes:
        import base64
        import hashlib
        import hmac as _hmac

        attrs = dict(
            kv.split("=", 1) for kv in server_first.decode("utf-8").split(",")
        )
        combined = attrs["r"]
        if not combined.startswith(self._nonce):
            raise SaslAuthenticationError("server nonce does not extend ours")
        salt = base64.b64decode(attrs["s"])
        iterations = int(attrs["i"])
        if iterations < self._min_iterations:
            raise SaslAuthenticationError(
                f"SCRAM iteration count {iterations} below the "
                f"{self._min_iterations} floor (downgrade attempt?)"
            )
        salted = _scram_hi(
            self._password.encode("utf-8"), salt, iterations, self._algo
        )
        client_key = _hmac.new(salted, b"Client Key", self._algo).digest()
        stored_key = hashlib.new(self._algo, client_key).digest()
        final_no_proof = f"c=biws,r={combined}"
        auth_message = (
            self._first_bare
            + ","
            + server_first.decode("utf-8")
            + ","
            + final_no_proof
        ).encode("utf-8")
        client_sig = _hmac.new(stored_key, auth_message, self._algo).digest()
        proof = bytes(a ^ b for a, b in zip(client_key, client_sig))
        server_key = _hmac.new(salted, b"Server Key", self._algo).digest()
        self.server_signature = _hmac.new(
            server_key, auth_message, self._algo
        ).digest()
        return (
            final_no_proof + ",p=" + base64.b64encode(proof).decode("ascii")
        ).encode("utf-8")

    def verify(self, server_final: bytes) -> None:
        """Mutual auth: the server proves it holds ServerKey — a fake
        broker that accepted our proof without the credential DB fails
        here (RFC 5802 §9)."""
        import base64
        import hmac as _hmac

        msg = server_final.decode("utf-8")
        if msg.startswith("e="):
            raise SaslAuthenticationError(f"SCRAM server error: {msg[2:]}")
        attrs = dict(kv.split("=", 1) for kv in msg.split(","))
        got = base64.b64decode(attrs["v"])
        if not _hmac.compare_digest(got, self.server_signature or b""):
            raise SaslAuthenticationError(
                "server signature mismatch (not a holder of our "
                "credentials — possible MITM)"
            )


class _ScramServerExchange:
    """Broker side of one SCRAM exchange over stored (not cleartext)
    credentials."""

    def __init__(self, users: dict[str, str], algo: str):
        self._users = users
        self._algo = algo
        self._state = "first"
        self._auth_prefix = ""
        self._combined = ""
        self._stored_key = b""
        self._server_key = b""

    # fixed, deterministic per-user salt parameters for the stub (a
    # real broker stores per-user random salts in ZooKeeper/KRaft)
    ITERATIONS = 4096

    def _salt_for(self, user: str) -> bytes:
        import hashlib

        return hashlib.sha256(b"stub-salt\x00" + user.encode()).digest()[:16]

    def step(self, token: bytes) -> tuple[bytes, bool, bool]:
        """-> (response_token, done, ok)."""
        import base64
        import hashlib
        import hmac as _hmac

        if self._state == "first":
            msg = token.decode("utf-8")
            if not msg.startswith("n,,"):
                return b"e=channel-binding-not-supported", True, False
            bare = msg[3:]
            attrs = dict(kv.split("=", 1) for kv in bare.split(","))
            user = attrs.get("n", "").replace("=2C", ",").replace("=3D", "=")
            cnonce = attrs.get("r", "")
            if user not in self._users or not cnonce:
                return b"e=unknown-user", True, False
            snonce = base64.b64encode(
                hashlib.sha256(cnonce.encode()).digest()[:12]
            ).decode("ascii")
            self._combined = cnonce + snonce
            salt = self._salt_for(user)
            self._stored_key, self._server_key = _scram_keys(
                self._users[user], salt, self.ITERATIONS, self._algo
            )
            server_first = (
                f"r={self._combined},"
                f"s={base64.b64encode(salt).decode('ascii')},"
                f"i={self.ITERATIONS}"
            )
            self._auth_prefix = bare + "," + server_first
            self._state = "final"
            return server_first.encode("utf-8"), False, True
        msg = token.decode("utf-8")
        attrs = dict(kv.split("=", 1) for kv in msg.split(","))
        if attrs.get("r") != self._combined:
            return b"e=other-error", True, False
        final_no_proof = msg.rsplit(",p=", 1)[0]
        auth_message = (self._auth_prefix + "," + final_no_proof).encode()
        client_sig = _hmac.new(
            self._stored_key, auth_message, self._algo
        ).digest()
        try:
            proof = base64.b64decode(attrs["p"])
        except (KeyError, ValueError):
            return b"e=invalid-proof", True, False
        client_key = bytes(a ^ b for a, b in zip(proof, client_sig))
        if hashlib.new(self._algo, client_key).digest() != self._stored_key:
            return b"e=invalid-proof", True, False
        server_sig = _hmac.new(
            self._server_key, auth_message, self._algo
        ).digest()
        return (
            b"v=" + __import__("base64").b64encode(server_sig),
            True,
            True,
        )

class ProducerFencedError(ValueError):
    """KIP-98 zombie fencing: this producer's (id, epoch) was
    superseded — a newer incarnation ran InitProducerId with the same
    transactional.id, bumping the epoch. The fenced instance must
    stop; its open transaction was aborted by the coordinator."""


class InvalidTxnStateError(ValueError):
    """A transactional operation out of order (EndTxn with no ongoing
    transaction, transactional produce to an unregistered partition)."""


class OutOfOrderSequenceError(ValueError):
    """KIP-98 idempotent produce: the broker's expected next sequence
    for this (producer, partition) does not match the batch's — a
    non-retriable sequence regression/gap (re-sending the same bytes
    can never fix it; the producer must re-init its producer id)."""


# the protocol error codes this stack produces/interprets
ERR_CORRUPT_MESSAGE = 2
ERR_OUT_OF_ORDER_SEQUENCE = 45
ERR_INVALID_PRODUCER_EPOCH = 47
ERR_INVALID_TXN_STATE = 48
ERR_ILLEGAL_GENERATION = 22
ERR_INCONSISTENT_GROUP_PROTOCOL = 23
ERR_UNKNOWN_MEMBER_ID = 25
ERR_REBALANCE_IN_PROGRESS = 27
_ERR_NAMES = {
    2: "CORRUPT_MESSAGE",
    22: "ILLEGAL_GENERATION",
    23: "INCONSISTENT_GROUP_PROTOCOL",
    25: "UNKNOWN_MEMBER_ID",
    27: "REBALANCE_IN_PROGRESS",
    33: "UNSUPPORTED_SASL_MECHANISM",
    68: "NON_EMPTY_GROUP",
    69: "GROUP_ID_NOT_FOUND",
    34: "ILLEGAL_SASL_STATE",
    45: "OUT_OF_ORDER_SEQUENCE_NUMBER",
    47: "INVALID_PRODUCER_EPOCH",
    48: "INVALID_TXN_STATE",
    58: "SASL_AUTHENTICATION_FAILED",
}


def _err_name(code: int) -> str:
    return _ERR_NAMES.get(code, f"error {code}")


# -------------------------------------------------- group membership
# JoinGroup/SyncGroup/Heartbeat/LeaveGroup — the broker-coordinated
# consumer-group protocol the reference's consume model relies on: 18
# KafkaConsumer threads subscribe()d to ONE group, each handed a
# disjoint partition slice by the coordinator and re-seeked by a
# ConsumerRebalanceListener on reassignment
# (ConsumidorAvro.java:61-68; group.id wiring ConfiguracaoKafka.java:169).
# Wire formats follow the published Kafka protocol guide (JoinGroup v1,
# SyncGroup/Heartbeat/LeaveGroup v0) and the ConsumerProtocol v0
# subscription/assignment schemas used by every Java assignor.


class GroupCoordinatorError(ValueError):
    """A coordinator answered a group API with a retriable/fencing
    error code. Subclasses map the three codes the membership loop
    must react to."""

    code: int = -1

    def __init__(self, ctx: str):
        super().__init__(f"{ctx}: {_err_name(self.code)}")


class IllegalGenerationError(GroupCoordinatorError):
    """Generation fencing (err 22): the request carried a generation
    that is no longer current — a rebalance completed behind the
    member's back; rejoin before retrying."""

    code = ERR_ILLEGAL_GENERATION


class UnknownMemberIdError(GroupCoordinatorError):
    """Err 25: the member was evicted (session expiry / missed
    rebalance); rejoin with an EMPTY member id."""

    code = ERR_UNKNOWN_MEMBER_ID


class RebalanceInProgressError(GroupCoordinatorError):
    """Err 27: the group entered PreparingRebalance — the member must
    rejoin (this is the signal the Java client surfaces to its
    ConsumerRebalanceListener)."""

    code = ERR_REBALANCE_IN_PROGRESS


_GROUP_ERRS = {
    ERR_ILLEGAL_GENERATION: IllegalGenerationError,
    ERR_UNKNOWN_MEMBER_ID: UnknownMemberIdError,
    ERR_REBALANCE_IN_PROGRESS: RebalanceInProgressError,
}


def _raise_group_err(code: int, ctx: str) -> None:
    if code:
        raise _GROUP_ERRS.get(code, lambda c: ValueError(
            f"{ctx}: {_err_name(code)}"
        ))(ctx)


def encode_consumer_metadata(topics: list[str], user_data: bytes = b"") -> bytes:
    """ConsumerProtocol Subscription v0: version, [topics], user_data."""
    w = _W().i16(0).i32(len(topics))
    for t in topics:
        w.string(t)
    w.bytes_(user_data)
    return bytes(w.b)


def decode_consumer_metadata(raw: bytes) -> list[str]:
    r = _R(raw)
    r.i16()  # version
    return [r.string() for _ in range(r.i32())]


def encode_member_assignment(
    assignment: dict[str, list[int]], user_data: bytes = b""
) -> bytes:
    """ConsumerProtocol Assignment v0: version, [(topic, [parts])],
    user_data. Topics sorted for deterministic bytes."""
    w = _W().i16(0).i32(len(assignment))
    for topic in sorted(assignment):
        parts = assignment[topic]
        w.string(topic).i32(len(parts))
        for p in sorted(parts):
            w.i32(p)
    w.bytes_(user_data)
    return bytes(w.b)


def decode_member_assignment(raw: bytes) -> dict[str, list[int]]:
    if not raw:
        return {}
    r = _R(raw)
    r.i16()  # version
    out: dict[str, list[int]] = {}
    for _ in range(r.i32()):
        topic = r.string()
        out[topic] = [r.i32() for _ in range(r.i32())]
    return out


def range_assign(
    member_topics: dict[str, list[str]],
    partitions_by_topic: dict[str, list[int]],
) -> dict[str, dict[str, list[int]]]:
    """The RangeAssignor: per topic, subscribed members in sorted
    member-id order each take a contiguous slice of the sorted
    partition list — ceil-sized slices for the first n%k members.
    Deterministic given the same membership, like the Java default."""
    out: dict[str, dict[str, list[int]]] = {m: {} for m in member_topics}
    for topic in sorted(partitions_by_topic):
        members = sorted(
            m for m, ts in member_topics.items() if topic in ts
        )
        if not members:
            continue
        parts = sorted(partitions_by_topic[topic])
        base, extra = divmod(len(parts), len(members))
        start = 0
        for i, m in enumerate(members):
            n = base + (1 if i < extra else 0)
            if n:
                out[m][topic] = parts[start:start + n]
            start += n
    return out


class WireKafkaClient:
    """Blocking wire-protocol client (one persistent socket, locked).

    Speaks: ApiVersions v0, Metadata v1, Produce v3 (acks=-1),
    Fetch v4, ListOffsets v1, OffsetCommit v2 / OffsetFetch v1 /
    FindCoordinator v0 (broker-stored offsets), JoinGroup v1 /
    SyncGroup / Heartbeat / LeaveGroup v0 (broker-coordinated group
    membership — r10), SaslHandshake v1 + SaslAuthenticate v0
    (PLAIN and SCRAM-SHA-256/512) — the set the reference's authenticated
    grouped produce/consume loop needs (ConsumidorAvro.java:57-125;
    ConfiguracaoKafka.java:134-138 runs security.protocol=SASL_SSL
    with sasl.mechanism=PLAIN against Confluent Cloud).

    ``security_protocol`` follows the Kafka client config values:
    ``SSL``/``SASL_SSL`` wrap the socket in TLS before any byte of
    Kafka protocol (``ssl_context`` defaults to
    ``ssl.create_default_context()`` — pass a CA-loaded or
    verification-relaxed context for self-signed test brokers);
    ``SASL_*`` runs the handshake+authenticate exchange immediately
    after connect, before any other API, exactly like the real client.
    """

    def __init__(
        self,
        host: str,
        port: int,
        client_id: str = "spark-graft",
        *,
        security_protocol: str = "PLAINTEXT",
        sasl_mechanism: str = "PLAIN",
        sasl_username: str | None = None,
        sasl_password: str | None = None,
        ssl_context: "ssl.SSLContext | None" = None,
        server_hostname: str | None = None,
    ):
        if security_protocol not in SECURITY_PROTOCOLS:
            raise ValueError(
                f"security_protocol {security_protocol!r}; "
                f"use one of {SECURITY_PROTOCOLS}"
            )
        self.client_id = client_id
        self._corr = 0
        self._lock = threading.Lock()
        sock = socket.create_connection((host, port), timeout=30)
        if security_protocol in ("SSL", "SASL_SSL"):
            import ssl as _ssl

            ctx = ssl_context or _ssl.create_default_context()
            sock = ctx.wrap_socket(
                sock, server_hostname=server_hostname or host
            )
        self._sock = sock
        if security_protocol in ("SASL_PLAINTEXT", "SASL_SSL"):
            if sasl_mechanism != "PLAIN" and sasl_mechanism not in SCRAM_ALGOS:
                raise ValueError(
                    f"unsupported sasl_mechanism {sasl_mechanism!r}: "
                    "PLAIN (the reference's choice) and "
                    "SCRAM-SHA-256/512 are implemented"
                )
            if sasl_username is None or sasl_password is None:
                raise ValueError(
                    "SASL requires sasl_username and sasl_password "
                    "(KAFKA_CLUSTER_API_KEY/SECRET in the reference)"
                )
            try:
                if sasl_mechanism == "PLAIN":
                    self._sasl_plain(sasl_username, sasl_password)
                else:
                    self._sasl_scram(
                        sasl_mechanism, sasl_username, sasl_password
                    )
            except BaseException:
                self._sock.close()
                raise

    def _sasl_plain(self, username: str, password: str) -> None:
        """SaslHandshake v1 + SaslAuthenticate v0 with a PLAIN token
        (RFC 4616: ``authzid NUL authcid NUL passwd`` — empty authzid,
        the shape every Kafka client sends)."""
        r = self._call(_API_SASL_HANDSHAKE, 1, bytes(_W().string("PLAIN").b))
        err = r.i16()
        mechanisms = [r.string() for _ in range(r.i32())]
        if err:
            raise SaslAuthenticationError(
                f"SaslHandshake: {_err_name(err)}; broker offers "
                f"{mechanisms}"
            )
        token = b"\x00" + username.encode() + b"\x00" + password.encode()
        r = self._call(
            _API_SASL_AUTHENTICATE, 0, bytes(_W().bytes_(token).b)
        )
        err = r.i16()
        msg = r.string()
        r.bytes_()  # server auth bytes (empty for PLAIN)
        if err:
            raise SaslAuthenticationError(
                f"SaslAuthenticate: {_err_name(err)}"
                + (f" ({msg})" if msg else "")
            )

    def _sasl_scram(self, mechanism: str, username: str, password: str):
        """SaslHandshake v1 + the multi-round SaslAuthenticate v0
        exchange SCRAM needs (client-first → server-first,
        client-final → server-final, RFC 5802), with mandatory mutual
        server-signature verification."""
        r = self._call(
            _API_SASL_HANDSHAKE, 1, bytes(_W().string(mechanism).b)
        )
        err = r.i16()
        mechanisms = [r.string() for _ in range(r.i32())]
        if err:
            raise SaslAuthenticationError(
                f"SaslHandshake: {_err_name(err)}; broker offers "
                f"{mechanisms}"
            )
        scram = ScramClient(username, password, SCRAM_ALGOS[mechanism])

        def authenticate(token: bytes) -> bytes:
            resp = self._call(
                _API_SASL_AUTHENTICATE, 0, bytes(_W().bytes_(token).b)
            )
            code = resp.i16()
            msg = resp.string()
            server_token = resp.bytes_() or b""
            if code:
                raise SaslAuthenticationError(
                    f"SaslAuthenticate: {_err_name(code)}"
                    + (f" ({msg})" if msg else "")
                )
            return server_token

        server_first = authenticate(scram.first())
        server_final = authenticate(scram.final(server_first))
        scram.verify(server_final)

    @classmethod
    def connect(
        cls,
        bootstrap_servers: str,
        client_id: str = "spark-graft",
        **security: object,
    ) -> "WireKafkaClient":
        """Connect to the first reachable host in a standard multi-host
        bootstrap string (``h1:9092,h2:9092``) — the failover every real
        client performs; a malformed entry or unreachable host moves on
        to the next, and exhaustion raises one clear error listing every
        attempt instead of an opaque ``int()`` ValueError."""
        errors = []
        for entry in bootstrap_servers.split(","):
            entry = entry.strip()
            if not entry:
                continue
            host, _, port_s = entry.rpartition(":")
            try:
                return cls(host, int(port_s), client_id, **security)
            except SaslAuthenticationError:
                raise  # bad credentials fail the same on every host
            except (OSError, ValueError) as e:
                errors.append(f"{entry}: {e}")
        raise ConnectionError(
            f"no reachable broker in {bootstrap_servers!r}"
            + (f" ({'; '.join(errors)})" if errors else " (empty list)")
        )

    def close(self):
        self._sock.close()

    # -- framing
    def _call(self, api_key: int, api_version: int, body: bytes) -> _R:
        with self._lock:
            self._corr += 1
            corr = self._corr
            header = (
                _W().i16(api_key).i16(api_version).i32(corr).string(self.client_id)
            )
            frame = bytes(header.b) + body
            self._sock.sendall(struct.pack(">i", len(frame)) + frame)
            raw = self._recv_frame()
        r = _R(raw)
        got_corr = r.i32()
        if got_corr != corr:
            raise ValueError(f"correlation mismatch {got_corr} != {corr}")
        return r

    def _recv_frame(self) -> bytes:
        size_raw = self._recv_exact(4)
        (size,) = struct.unpack(">i", size_raw)
        return self._recv_exact(size)

    def _recv_exact(self, n: int) -> bytes:
        chunks = bytearray()
        while len(chunks) < n:
            chunk = self._sock.recv(n - len(chunks))
            if not chunk:
                raise ConnectionError("broker closed connection")
            chunks += chunk
        return bytes(chunks)

    # -- APIs
    def api_versions(self) -> dict[int, tuple[int, int]]:
        r = self._call(_API_VERSIONS, 0, b"")
        if r.i16() != 0:
            raise ValueError("ApiVersions error")
        return {r.i16(): (r.i16(), r.i16()) for _ in range(r.i32())}

    def metadata(self, topic: str) -> dict:
        body = _W().i32(1).string(topic)
        r = self._call(_API_METADATA, 1, bytes(body.b))
        brokers = [
            (r.i32(), r.string(), r.i32(), r.string()) for _ in range(r.i32())
        ]
        r.i32()  # controller_id
        topics = {}
        for _ in range(r.i32()):
            err, name, _internal = r.i16(), r.string(), r.i8()
            parts = {}
            for _p in range(r.i32()):
                perr, pid, leader = r.i16(), r.i32(), r.i32()
                replicas = [r.i32() for _x in range(r.i32())]
                isr = [r.i32() for _x in range(r.i32())]
                parts[pid] = {
                    "error": perr,
                    "leader": leader,
                    "replicas": replicas,
                    "isr": isr,
                }
            topics[name] = {"error": err, "partitions": parts}
        return {"brokers": brokers, "topics": topics}

    def partitions_for(self, topic: str) -> list[int]:
        return sorted(self.metadata(topic)["topics"][topic]["partitions"])

    def init_producer_id(
        self, transactional_id: str | None = None
    ) -> tuple[int, int]:
        """InitProducerId v0 (KIP-98): broker-assigned (producer_id,
        epoch) for idempotent produce. With a ``transactional_id`` the
        pid is STABLE for that id and the epoch BUMPS on every call —
        the zombie-fencing handshake (an older incarnation's produce
        then fails with INVALID_PRODUCER_EPOCH, and any transaction it
        left open is aborted by the coordinator)."""
        body = _W().string(transactional_id).i32(30000)
        r = self._call(_API_INIT_PRODUCER_ID, 0, bytes(body.b))
        r.i32()  # throttle_time
        err = r.i16()
        if err:
            raise ValueError(f"init_producer_id error code {err}")
        return r.i64(), r.i16()

    def add_partitions_to_txn(
        self,
        transactional_id: str,
        producer_id: int,
        producer_epoch: int,
        topic: str,
        partitions: list[int],
    ) -> None:
        """AddPartitionsToTxn v0: register partitions in the ongoing
        transaction (the coordinator needs the set to place commit/
        abort markers at EndTxn)."""
        body = (
            _W()
            .string(transactional_id)
            .i64(producer_id)
            .i16(producer_epoch)
            .i32(1)
            .string(topic)
            .i32(len(partitions))
        )
        for part in partitions:
            body.i32(part)
        r = self._call(_API_ADD_PARTITIONS_TO_TXN, 0, bytes(body.b))
        r.i32()  # throttle_time
        for _ in range(r.i32()):
            r.string()
            for _p in range(r.i32()):
                r.i32()  # partition
                err = r.i16()
                if err == ERR_INVALID_PRODUCER_EPOCH:
                    raise ProducerFencedError(
                        f"producer epoch {producer_epoch} for "
                        f"{transactional_id!r} was fenced"
                    )
                if err:
                    raise ValueError(
                        f"add_partitions_to_txn error {err} "
                        f"({_err_name(err)})"
                    )

    def end_txn(
        self,
        transactional_id: str,
        producer_id: int,
        producer_epoch: int,
        committed: bool,
    ) -> None:
        """EndTxn v0: commit or abort — the coordinator writes a
        control marker batch into every registered partition."""
        body = (
            _W()
            .string(transactional_id)
            .i64(producer_id)
            .i16(producer_epoch)
            .i8(1 if committed else 0)
        )
        r = self._call(_API_END_TXN, 0, bytes(body.b))
        r.i32()  # throttle_time
        err = r.i16()
        if err == ERR_INVALID_PRODUCER_EPOCH:
            raise ProducerFencedError(
                f"producer epoch {producer_epoch} for "
                f"{transactional_id!r} was fenced"
            )
        if err == ERR_INVALID_TXN_STATE:
            raise InvalidTxnStateError(
                f"no ongoing transaction for {transactional_id!r}"
            )
        if err:
            raise ValueError(f"end_txn error {err} ({_err_name(err)})")

    def add_offsets_to_txn(
        self,
        transactional_id: str,
        producer_id: int,
        producer_epoch: int,
        group: str,
    ) -> None:
        """AddOffsetsToTxn v0 (KIP-98 part 2, r13): register a consumer
        GROUP's offsets in the ongoing transaction — the coordinator
        treats the group's offsets store like a registered partition,
        so offsets staged via :meth:`txn_offset_commit` commit or die
        atomically with the transaction's data."""
        body = (
            _W()
            .string(transactional_id)
            .i64(producer_id)
            .i16(producer_epoch)
            .string(group)
        )
        r = self._call(_API_ADD_OFFSETS_TO_TXN, 0, bytes(body.b))
        r.i32()  # throttle_time
        err = r.i16()
        if err == ERR_INVALID_PRODUCER_EPOCH:
            raise ProducerFencedError(
                f"producer epoch {producer_epoch} for "
                f"{transactional_id!r} was fenced"
            )
        if err:
            raise ValueError(
                f"add_offsets_to_txn error {err} ({_err_name(err)})"
            )

    def txn_offset_commit(
        self,
        transactional_id: str,
        group: str,
        producer_id: int,
        producer_epoch: int,
        offsets: dict[tuple[str, int], int],
        metadata: str = "",
        generation_id: int = -1,
        member_id: str = "",
        instance_id: str | None = None,
    ) -> None:
        """TxnOffsetCommit (KIP-98 part 2, r13): stage consumer
        offsets INSIDE the transaction. They are invisible to
        OffsetFetch until EndTxn(commit) applies them atomically with
        the data markers; an abort discards them. The group must have
        been registered via :meth:`add_offsets_to_txn` first.

        With membership credentials (``generation_id``/``member_id``,
        optionally ``instance_id``) the request goes out as v3 —
        KIP-447: the coordinator fences the CONSUMER side too, so a
        member that lost its partitions in a rebalance cannot commit
        transactional offsets for them (the zombie-consumer half of
        the exactly-once story; producer zombies are fenced by the
        epoch either way). The default (-1, "") v0 shape mirrors the
        standalone simple-consumer path."""
        v3 = generation_id != -1 or member_id or instance_id is not None
        by_topic: dict[str, list[tuple[int, int]]] = {}
        for (topic, partition), off in sorted(offsets.items()):
            by_topic.setdefault(topic, []).append((partition, off))
        w = (
            _W()
            .string(transactional_id)
            .string(group)
            .i64(producer_id)
            .i16(producer_epoch)
        )
        if v3:
            w.i32(generation_id).string(member_id).string(instance_id)
        w.i32(len(by_topic))
        for topic, parts in by_topic.items():
            w.string(topic).i32(len(parts))
            for partition, off in parts:
                w.i32(partition).i64(off).string(metadata)
        r = self._call(_API_TXN_OFFSET_COMMIT, 3 if v3 else 0, bytes(w.b))
        r.i32()  # throttle_time
        for _ in range(r.i32()):
            r.string()
            for _p in range(r.i32()):
                r.i32()  # partition
                err = r.i16()
                if err == ERR_INVALID_PRODUCER_EPOCH:
                    raise ProducerFencedError(
                        f"producer epoch {producer_epoch} for "
                        f"{transactional_id!r} was fenced"
                    )
                if err == ERR_INVALID_TXN_STATE:
                    raise InvalidTxnStateError(
                        f"group {group!r} not registered in "
                        f"{transactional_id!r}'s transaction — "
                        "add_offsets_to_txn first"
                    )
                _raise_group_err(err, "txn_offset_commit")
                if err:
                    raise ValueError(
                        f"txn_offset_commit error {err} ({_err_name(err)})"
                    )

    def produce(
        self,
        topic: str,
        partition: int,
        records: list[tuple[bytes | None, bytes | None]],
        timeout_ms: int = 30000,
        codec: str | None = None,
        producer_id: int = -1,
        producer_epoch: int = -1,
        base_sequence: int = -1,
        transactional_id: str | None = None,
    ) -> int:
        """Produce one batch; returns the assigned base offset. With a
        ``producer_id`` + ``base_sequence`` the broker dedupes retries
        (idempotent produce, KIP-98): re-sending a batch the broker has
        already appended returns its ORIGINAL base offset instead of
        appending twice. With a ``transactional_id`` the batch carries
        the transactional attribute bit and lands inside that id's
        ongoing transaction (invisible to read_committed consumers
        until EndTxn commits)."""
        batch = encode_record_batch(
            records,
            codec=codec,
            producer_id=producer_id,
            producer_epoch=producer_epoch,
            base_sequence=base_sequence,
            transactional=transactional_id is not None,
        )
        body = (
            _W()
            .string(transactional_id)
            .i16(-1)  # acks=all
            .i32(timeout_ms)
            .i32(1)
            .string(topic)
            .i32(1)
            .i32(partition)
            .bytes_(batch)
        )
        r = self._call(_API_PRODUCE, 3, bytes(body.b))
        n_topics = r.i32()
        assert n_topics == 1, n_topics
        r.string()
        n_parts = r.i32()
        assert n_parts == 1, n_parts
        r.i32()  # partition
        err = r.i16()
        if err == ERR_OUT_OF_ORDER_SEQUENCE:
            raise OutOfOrderSequenceError(
                f"produce sequence regression on {topic}[{partition}]: "
                f"base_sequence={base_sequence} is not the broker's "
                "expected next sequence (KIP-98 — the producer's "
                "sequence state diverged; re-init the producer id)"
            )
        if err == ERR_INVALID_PRODUCER_EPOCH:
            raise ProducerFencedError(
                f"producer epoch {producer_epoch} on {topic}"
                f"[{partition}] was fenced by a newer incarnation"
            )
        if err == ERR_INVALID_TXN_STATE:
            raise InvalidTxnStateError(
                f"transactional produce to {topic}[{partition}] outside "
                "an ongoing transaction / unregistered partition"
            )
        if err:
            raise ValueError(f"produce error code {err} ({_err_name(err)})")
        base = r.i64()
        r.i64()  # log_append_time
        return base

    def list_offset(self, topic: str, partition: int, timestamp: int) -> int:
        """ListOffsets v1: ``EARLIEST`` → log start, ``LATEST`` → high
        watermark (the next offset to be assigned)."""
        body = (
            _W()
            .i32(-1)  # replica_id
            .i32(1)
            .string(topic)
            .i32(1)
            .i32(partition)
            .i64(timestamp)
        )
        r = self._call(_API_LIST_OFFSETS, 1, bytes(body.b))
        r.i32()
        r.string()
        r.i32()
        r.i32()  # partition
        err = r.i16()
        if err:
            raise ValueError(f"list_offsets error code {err}")
        r.i64()  # timestamp
        return r.i64()

    # -- consumer-group offsets (KIP-faithful storage semantics only:
    # commit/fetch against the coordinator. The full rebalance protocol
    # (JoinGroup/SyncGroup/Heartbeat) is deliberately out of scope —
    # this engine's Spark sources assign partitions statically, one
    # task per TopicPartition, so only the offset STORE is needed to
    # resume a bounded read where the last one stopped.)
    def find_coordinator(self, group: str) -> tuple[int, str, int]:
        """FindCoordinator v0 → (node_id, host, port). The StubBroker
        is single-node, so it always answers with itself; against a
        real cluster the caller would reconnect to the returned
        host:port before committing."""
        r = self._call(_API_FIND_COORDINATOR, 0, bytes(_W().string(group).b))
        err = r.i16()
        if err:
            raise ValueError(f"find_coordinator: {_err_name(err)}")
        return r.i32(), r.string(), r.i32()

    def offset_commit(
        self,
        group: str,
        offsets: dict[tuple[str, int], int],
        metadata: str = "",
        generation_id: int = -1,
        member_id: str = "",
    ) -> None:
        """OffsetCommit v2 (broker-stored offsets, retention -1 =
        broker default). ``offsets`` maps (topic, partition) → offset
        to commit (the NEXT offset to read, Kafka convention).
        ``generation_id``/``member_id`` default to the standalone
        (-1, "") simple-consumer shape; group members pass their
        membership so the coordinator can FENCE commits from evicted
        members or stale generations (raises the typed group errors)."""
        by_topic: dict[str, list[tuple[int, int]]] = {}
        for (topic, partition), off in sorted(offsets.items()):
            by_topic.setdefault(topic, []).append((partition, off))
        w = (
            _W()
            .string(group)
            .i32(generation_id)
            .string(member_id)
            .i64(-1)       # retention_time
            .i32(len(by_topic))
        )
        for topic, parts in by_topic.items():
            w.string(topic).i32(len(parts))
            for partition, off in parts:
                w.i32(partition).i64(off).string(metadata)
        r = self._call(_API_OFFSET_COMMIT, 2, bytes(w.b))
        for _ in range(r.i32()):
            r.string()
            for _p in range(r.i32()):
                r.i32()
                _raise_group_err(r.i16(), "offset_commit")

    def offset_fetch(
        self, group: str, topic: str, partitions: list[int]
    ) -> dict[int, int]:
        """OffsetFetch v1 (broker-stored offsets) → {partition:
        committed_offset}; partitions with no commit are ABSENT from
        the result (the broker answers -1 for them)."""
        w = _W().string(group).i32(1).string(topic).i32(len(partitions))
        for p in partitions:
            w.i32(p)
        r = self._call(_API_OFFSET_FETCH, 1, bytes(w.b))
        out: dict[int, int] = {}
        for _ in range(r.i32()):
            r.string()  # topic
            for _p in range(r.i32()):
                partition = r.i32()
                off = r.i64()
                r.string()  # metadata
                err = r.i16()
                if err:
                    raise ValueError(f"offset_fetch: {_err_name(err)}")
                if off >= 0:
                    out[partition] = off
        return out

    # ---------------------------------------------- group membership
    def join_group(
        self,
        group: str,
        topics: list[str],
        member_id: str = "",
        session_timeout_ms: int = 10_000,
        rebalance_timeout_ms: int = 10_000,
        protocol: str = "range",
        instance_id: str | None = None,
    ) -> dict:
        """JoinGroup v1 — or v5 when ``instance_id`` is given (KIP-345
        static membership: the request carries ``group.instance.id``
        after member_id, and the response's member list carries each
        member's instance id). Blocks (server-side) until the
        coordinator completes the rebalance — all known members
        rejoined or the rebalance timeout expired (stragglers
        evicted). A STATIC member that dropped and rejoins within its
        session timeout gets its previous assignment back at the
        CURRENT generation with no rebalance. Returns ``{generation,
        member_id, leader, protocol, members}`` where ``members`` is
        ``[(member_id, subscribed_topics)]`` — populated only for the
        LEADER, which must compute the assignment and deliver it via
        :meth:`sync_group` (the Java client split)."""
        version = 5 if instance_id is not None else 1
        body = (
            _W()
            .string(group)
            .i32(session_timeout_ms)
            .i32(rebalance_timeout_ms)
            .string(member_id)
        )
        if version >= 5:
            body.string(instance_id)
        body.string("consumer").i32(1).string(protocol).bytes_(
            encode_consumer_metadata(topics)
        )
        r = self._call(_API_JOIN_GROUP, version, bytes(body.b))
        if version >= 2:
            r.i32()  # throttle_time_ms
        _raise_group_err(r.i16(), "join_group")
        generation = r.i32()
        proto = r.string()
        leader = r.string()
        me = r.string()
        members = []
        for _ in range(r.i32()):
            mid = r.string()
            if version >= 5:
                r.string()  # member's group_instance_id
            meta = r.bytes_() or b""
            members.append((mid, decode_consumer_metadata(meta)))
        return {
            "generation": generation,
            "protocol": proto,
            "leader": leader,
            "member_id": me,
            "members": members,
        }

    def sync_group(
        self,
        group: str,
        generation: int,
        member_id: str,
        assignments: dict[str, dict[str, list[int]]] | None = None,
    ) -> dict[str, list[int]]:
        """SyncGroup v0: the leader passes ``assignments``
        (member_id -> {topic: [partitions]}); followers pass None.
        Blocks until the leader's assignment lands, then returns THIS
        member's ``{topic: [partitions]}``."""
        body = _W().string(group).i32(generation).string(member_id)
        if assignments:
            body.i32(len(assignments))
            for mid in sorted(assignments):
                body.string(mid).bytes_(
                    encode_member_assignment(assignments[mid])
                )
        else:
            body.i32(0)
        r = self._call(_API_SYNC_GROUP, 0, bytes(body.b))
        _raise_group_err(r.i16(), "sync_group")
        return decode_member_assignment(r.bytes_() or b"")

    def heartbeat_group(
        self, group: str, generation: int, member_id: str
    ) -> None:
        """Heartbeat v0 — raises :class:`RebalanceInProgressError`
        when the member must rejoin (the liveness + rebalance-signal
        channel of the Java client's background heartbeat thread)."""
        body = _W().string(group).i32(generation).string(member_id)
        r = self._call(_API_HEARTBEAT, 0, bytes(body.b))
        _raise_group_err(r.i16(), "heartbeat")

    def leave_group(self, group: str, member_id: str) -> None:
        """LeaveGroup v0 — a clean shutdown triggers an IMMEDIATE
        rebalance for the survivors instead of a session-timeout wait."""
        body = _W().string(group).string(member_id)
        r = self._call(_API_LEAVE_GROUP, 0, bytes(body.b))
        _raise_group_err(r.i16(), "leave_group")

    def list_groups(self) -> list[tuple[str, str]]:
        """ListGroups v0 — ``[(group_id, protocol_type)]``, the
        `kafka-consumer-groups --list` surface an operator points at
        the reference's group (``ConfiguracaoKafka.java:85-96``)."""
        r = self._call(_API_LIST_GROUPS, 0, b"")
        err = r.i16()
        if err:
            raise ValueError(f"list_groups error {err} ({_err_name(err)})")
        return [
            (r.string() or "", r.string() or "") for _ in range(r.i32())
        ]

    def describe_group(self, group: str) -> dict:
        """DescribeGroups v0 — state machine + membership + each
        member's subscription metadata and current assignment (the
        `kafka-consumer-groups --describe` surface): ``{group, state,
        protocol_type, protocol, members: [{member_id, client_id,
        client_host, metadata, assignment}]}``. An unknown group
        answers state ``Dead`` with no members, like the real
        coordinator."""
        body = _W().i32(1).string(group)
        r = self._call(_API_DESCRIBE_GROUPS, 0, bytes(body.b))
        n = r.i32()
        assert n == 1, n
        err = r.i16()
        if err:
            raise ValueError(
                f"describe_group error {err} ({_err_name(err)})"
            )
        out = {
            "group": r.string() or "",
            "state": r.string() or "",
            "protocol_type": r.string() or "",
            "protocol": r.string() or "",
            "members": [],
        }
        for _ in range(r.i32()):
            out["members"].append(
                {
                    "member_id": r.string() or "",
                    "client_id": r.string() or "",
                    "client_host": r.string() or "",
                    "metadata": r.bytes_() or b"",
                    "assignment": r.bytes_() or b"",
                }
            )
        return out

    def delete_groups(self, groups: list[str]) -> dict[str, int]:
        """DeleteGroups v0 — the `kafka-consumer-groups --delete`
        surface completing the group lifecycle: per-group error code
        (0 = deleted with its stored offsets; 68 NON_EMPTY_GROUP for a
        group that still has live members — leave first; 69
        GROUP_ID_NOT_FOUND)."""
        body = _W().i32(len(groups))
        for g in groups:
            body.string(g)
        r = self._call(_API_DELETE_GROUPS, 0, bytes(body.b))
        r.i32()  # throttle_time_ms
        return {
            (r.string() or ""): r.i16() for _ in range(r.i32())
        }

    def fetch(
        self,
        topic: str,
        partition: int,
        offset: int,
        max_bytes: int = 1 << 20,
        max_wait_ms: int = 100,
        isolation: int = 0,
    ) -> tuple[int, list[tuple[int, bytes | None, bytes | None]]]:
        """One fetch round: returns (high_watermark, records at
        ``offset`` or later). A batch whose base is below ``offset``
        may still ride along (Kafka semantics) — records below the
        requested offset are filtered client-side, as real clients do.
        Control batches (transaction markers) are skipped in BOTH
        isolation levels, like the real consumer.

        ``isolation=1`` (read_committed, r12): the broker serves only
        up to the last stable offset (no open-transaction data), and
        the returned watermark IS the LSO — pagination then naturally
        stalls at an open transaction. Records of ABORTED transactions
        are dropped client-side using the response's aborted list +
        the abort markers, the real client's algorithm."""
        body = (
            _W()
            .i32(-1)  # replica_id
            .i32(max_wait_ms)
            .i32(1)  # min_bytes
            .i32(max_bytes)
            .i8(isolation)
            .i32(1)
            .string(topic)
            .i32(1)
            .i32(partition)
            .i64(offset)
            .i32(max_bytes)
        )
        r = self._call(_API_FETCH, 4, bytes(body.b))
        r.i32()  # throttle_time
        r.i32()  # n topics (1)
        r.string()
        r.i32()  # n partitions (1)
        r.i32()  # partition
        err = r.i16()
        if err:
            raise ValueError(f"fetch error code {err}")
        hw = r.i64()
        lso = r.i64()  # last_stable_offset
        aborted: dict[int, list[int]] = {}
        n_aborted = r.i32()
        for _ in range(max(n_aborted, 0)):
            a_pid, a_first = r.i64(), r.i64()
            aborted.setdefault(a_pid, []).append(a_first)
        for firsts in aborted.values():
            firsts.sort()
        record_set = r.bytes_() or b""
        recs: list[tuple[int, bytes | None, bytes | None]] = []
        active_abort: set[int] = set()
        pos = offset  # consumed position: markers advance it silently
        for meta, batch_recs in decode_batches_meta(record_set):
            if batch_recs:
                pos = max(pos, batch_recs[-1][0] + 1)
            pid = meta["producer_id"]
            if (
                isolation == 1
                and meta["transactional"]
                and pid in aborted
                and aborted[pid]
                and meta["base_offset"] >= aborted[pid][0]
            ):
                active_abort.add(pid)
            if meta["control"]:
                # marker ends the pid's current transaction
                if pid in active_abort:
                    active_abort.discard(pid)
                    if aborted.get(pid):
                        aborted[pid].pop(0)
                continue
            if pid in active_abort:
                continue  # aborted transaction's data
            recs.extend(t for t in batch_recs if t[0] >= offset)
        self._last_fetch_pos = pos
        return (lso if isolation == 1 else hw), recs

    def fetch_until(
        self,
        topic: str,
        partition: int,
        offset: int,
        end: int,
        max_bytes: int = 1 << 20,
        attempts: int = 5,
    ):
        """Generator of ``(offset, key, value)`` draining
        ``[offset, end)``. A transient empty fetch while ``offset < end``
        (max_wait expiry, replication lag on a real broker) is RETRIED up
        to ``attempts`` times and then raises — a read that promises
        completeness must never truncate silently (r7, ADVICE fix)."""
        empty = 0
        while offset < end:
            _hw, recs = self.fetch(topic, partition, offset, max_bytes)
            recs = [t for t in recs if t[0] < end]
            if not recs:
                # transaction markers occupy offsets but yield no
                # records (r12): the consumed POSITION still advances
                # past them, exactly like the real consumer — only a
                # fetch that moved nothing counts toward the budget
                next_pos = getattr(self, "_last_fetch_pos", offset)
                if next_pos > offset:
                    offset = next_pos
                    empty = 0
                    continue
                empty += 1
                if empty >= attempts:
                    raise RuntimeError(
                        f"fetch returned no records for {topic}-{partition}"
                        f" at offset {offset} < end {end} after {attempts}"
                        " attempts — refusing to truncate a bounded read"
                    )
                continue
            empty = 0
            yield from recs
            offset = max(
                recs[-1][0] + 1,
                getattr(self, "_last_fetch_pos", recs[-1][0] + 1),
            )

    def consume_from(
        self, topic: str, starts: dict[int, int]
    ) -> list[tuple[int, int, bytes | None, bytes | None]]:
        """Drain each partition from its start offset to the current
        high watermark: the reference's bounded tail-N consume loop
        (ConsumidorAvro.java:57-125 poll loop + io_kafka.tail_n_offsets
        arithmetic). Returns (partition, offset, key, value) rows."""
        out = []
        for p, start in sorted(starts.items()):
            hw = self.list_offset(topic, p, LATEST)
            for off, key, value in self.fetch_until(topic, p, start, hw):
                out.append((p, off, key, value))
        return out


class TransactionalProducer:
    """KIP-98 transactional producer (r12): atomic multi-partition
    produce with zombie fencing — the full exactly-once produce story
    with idempotent per-partition sequences.

    - ``InitProducerId(transactional.id)`` at construction: the pid is
      stable for the id, the EPOCH BUMPS — any older incarnation is
      fenced (its next produce/EndTxn raises
      :class:`ProducerFencedError`) and its open transaction is
      aborted by the coordinator, exactly the real semantics;
    - :meth:`send` lazily registers partitions (AddPartitionsToTxn)
      and produces with the transactional attribute bit + idempotent
      sequences;
    - :meth:`commit_transaction` / :meth:`abort_transaction` run
      EndTxn: the broker writes a CONTROL marker batch into every
      registered partition; read_committed consumers
      (``fetch(isolation=1)``) see a committed transaction atomically
      and an aborted one not at all, while read_uncommitted sees
      everything immediately.

    Not thread-safe (one socket, one transaction stream)."""

    def __init__(
        self, host: str, port: int, transactional_id: str, **client_kwargs
    ):
        if not transactional_id:
            raise ValueError("transactional_id required")
        self._client = WireKafkaClient(host, port, **client_kwargs)
        self.transactional_id = transactional_id
        self.producer_id, self.producer_epoch = (
            self._client.init_producer_id(transactional_id)
        )
        self._seq: dict[tuple[str, int], int] = {}
        self._in_txn = False
        self._txn_parts: set[tuple[str, int]] = set()
        self._txn_groups: set[str] = set()

    def begin_transaction(self) -> None:
        if self._in_txn:
            raise InvalidTxnStateError("transaction already in progress")
        self._in_txn = True

    def send(
        self,
        topic: str,
        partition: int,
        records: list[tuple[bytes | None, bytes | None]],
        codec: str | None = None,
    ) -> int:
        if not self._in_txn:
            raise InvalidTxnStateError(
                "send outside a transaction — call begin_transaction()"
            )
        key = (topic, partition)
        if key not in self._txn_parts:
            self._client.add_partitions_to_txn(
                self.transactional_id,
                self.producer_id,
                self.producer_epoch,
                topic,
                [partition],
            )
            self._txn_parts.add(key)
        seq = self._seq.setdefault(key, 0)
        base = self._client.produce(
            topic,
            partition,
            records,
            codec=codec,
            producer_id=self.producer_id,
            producer_epoch=self.producer_epoch,
            base_sequence=seq,
            transactional_id=self.transactional_id,
        )
        self._seq[key] = seq + len(records)
        return base

    def send_offsets_to_transaction(
        self,
        offsets: dict[tuple[str, int], int],
        group: str,
        generation_id: int = -1,
        member_id: str = "",
        instance_id: str | None = None,
    ) -> None:
        """KIP-98 part 2 (r13): make the consumed POSITIONS part of the
        transaction — the consume-transform-produce exactly-once loop.
        ``offsets`` maps (topic, partition) → next offset to read (a
        GroupConsumer's ``positions`` dict verbatim, the Kafka
        convention). The offsets become visible to OffsetFetch
        atomically at :meth:`commit_transaction`; an abort (including
        a crash + the next incarnation's fencing re-init) discards
        them, so the batch replays — and its transactional output is
        invisible to read_committed consumers, keeping the end-to-end
        effect exactly-once.

        Pass the consumer's ``generation_id``/``member_id`` (KIP-447,
        TxnOffsetCommit v3) so the coordinator also fences a consumer
        that lost its partitions in a rebalance — without them, two
        incarnations of the same logical consumer with DIFFERENT
        transactional ids could both commit a batch (the producer
        epoch only fences same-transactional-id zombies)."""
        if not self._in_txn:
            raise InvalidTxnStateError(
                "send_offsets outside a transaction — call "
                "begin_transaction()"
            )
        if group not in self._txn_groups:
            self._client.add_offsets_to_txn(
                self.transactional_id,
                self.producer_id,
                self.producer_epoch,
                group,
            )
            self._txn_groups.add(group)
        self._client.txn_offset_commit(
            self.transactional_id,
            group,
            self.producer_id,
            self.producer_epoch,
            dict(offsets),
            generation_id=generation_id,
            member_id=member_id,
            instance_id=instance_id,
        )

    def _end(self, committed: bool) -> None:
        if not self._in_txn:
            raise InvalidTxnStateError("no transaction in progress")
        if self._txn_parts or self._txn_groups:
            self._client.end_txn(
                self.transactional_id,
                self.producer_id,
                self.producer_epoch,
                committed,
            )
        self._in_txn = False
        self._txn_parts = set()
        self._txn_groups = set()

    def commit_transaction(self) -> None:
        self._end(True)

    def abort_transaction(self) -> None:
        self._end(False)

    def close(self) -> None:
        if self._in_txn and (self._txn_parts or self._txn_groups):
            # real client behavior: an unfinished transaction aborts
            try:
                self._end(False)
            except Exception:  # noqa: BLE001 - already fenced/broken
                pass
        self._client.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


# ------------------------------------------------------------- broker
class _PartitionLog:
    """In-memory partition: list of (base_offset, batch_bytes).

    Idempotent-produce state (KIP-98): ``next_seq[pid]`` is the
    expected base_sequence of the next batch from that producer
    (sequences advance by RECORD count, not batch count);
    ``recent[pid]`` maps the last 5 batches' base_sequence -> original
    base offset for duplicate acks, mirroring the real broker's
    5-deep ProducerStateManager cache."""

    def __init__(self):
        self.batches: list[tuple[int, bytes]] = []
        self.next_offset = 0
        self.next_seq: dict[int, int] = {}
        self.recent: dict[int, dict[int, int]] = {}
        #: ABORTED transaction ranges (producer_id, first_offset,
        #: marker_offset) — read_committed fetches are served the
        #: (pid, first) pairs of ranges OVERLAPPING the request, i.e.
        #: marker >= fetch offset (the real broker's aborted-txn
        #: index; serving ALL ranges would re-activate aborts whose
        #: marker is behind the fetch start and eat committed data)
        self.aborted: list[tuple[int, int, int]] = []
        #: last producer epoch seen per pid — a bump resets sequences
        self.last_epoch: dict[int, int] = {}


class _CloseConnection(Exception):
    """Internal: drop the client connection without a response (the
    real broker's reaction to requests in an illegal SASL state)."""


class _ConnState:
    """Per-connection SASL progress (each TCP connection authenticates
    independently, like a real broker's SaslServerAuthenticator)."""

    __slots__ = (
        "authenticated", "handshake_done", "close_after",
        "mechanism", "scram",
    )

    def __init__(self, authenticated: bool):
        self.authenticated = authenticated
        self.handshake_done = False
        self.close_after = False
        self.mechanism = None
        self.scram = None


class _GroupMeta:
    """Coordinator state for ONE consumer group (the GroupMetadata
    state machine of the real GroupCoordinator):

    Empty -> PreparingRebalance -> CompletingRebalance -> Stable

    Every join lands the group in PreparingRebalance; the join call
    BLOCKS (per-connection handler thread) on ``cond`` until all known
    members have rejoined or ``deadline`` passes (stragglers evicted).
    ``initial`` marks the KIP-134 empty-group delay: the first joiner
    waits out the full window so concurrently-starting members land in
    one generation instead of causing join storms."""

    __slots__ = (
        "generation", "state", "members", "joined", "assignments",
        "leader", "protocol", "next_member", "deadline", "initial",
        "session", "cond", "static",
    )

    def __init__(self):
        self.generation = 0
        self.state = "Empty"
        # member_id -> {protocol_name: metadata} from its latest join
        self.members: dict[str, dict[str, bytes]] = {}
        self.joined: set[str] = set()
        self.assignments: dict[str, bytes] = {}
        self.leader: str | None = None
        self.protocol: str | None = None
        self.next_member = 1
        self.deadline = 0.0
        self.initial = False
        # member_id -> (session_timeout_sec, last_contact_monotonic)
        self.session: dict[str, tuple[float, float]] = {}
        # KIP-345 static membership: group.instance.id -> member_id.
        # A static member that rejoins within its session timeout is
        # handed its previous member id + assignment at the CURRENT
        # generation — no rebalance (mapping entries pointing at
        # evicted members are inert: the rejoin check requires the
        # member to still be live).
        self.static: dict[str, str] = {}
        self.cond = threading.Condition()


class StubBroker:
    """Loopback broker for protocol-level end-to-end tests.

    Single node, in-memory, auto-creates topics with
    ``num_partitions``. Validates produce CRC32C, assigns contiguous
    base offsets, serves fetches from the stored batches (re-based so
    offsets are real). Runs on an ephemeral port:
    ``with StubBroker(num_partitions=6) as b: WireKafkaClient(*b.addr)``.
    """

    def __init__(
        self,
        num_partitions: int = 3,
        host: str = "127.0.0.1",
        sasl_plain: dict[str, str] | None = None,
        sasl_scram: dict[str, str] | None = None,
        ssl_context: "ssl.SSLContext | None" = None,
        initial_rebalance_delay_ms: int = 200,
    ):
        """Idempotent produce follows real-broker semantics: per-
        (producer, partition) sequence contiguity per KIP-98 — a new pid
        may start anywhere (KIP-360-style state reset), each batch must
        then continue at last_seq + record_count, one of the last 5
        batches re-sent acks with its original offset, and anything else
        fails with OUT_OF_ORDER_SEQUENCE_NUMBER (45)."""
        self.num_partitions = num_partitions
        # ``sasl_plain={user: password}`` makes the broker REQUIRE a
        # SaslHandshake/SaslAuthenticate exchange before any API other
        # than ApiVersions, like a real SASL listener: out-of-order
        # requests drop the connection (IllegalSaslState), a failed
        # authenticate answers error 58 then drops. ``ssl_context`` (a
        # server-side SSLContext) wraps every accepted socket in TLS
        # first — together they reproduce the SASL_SSL listener the
        # reference runs against (ConfiguracaoKafka.java:134-138).
        # ``sasl_scram={user: password}`` additionally (or instead)
        # enables SCRAM-SHA-256/512; the broker stores only the derived
        # StoredKey/ServerKey pairs, never cleartext (RFC 5802 §3).
        self._sasl = dict(sasl_plain) if sasl_plain else None
        self._scram = dict(sasl_scram) if sasl_scram else None
        self._ssl_ctx = ssl_context
        # CRC32C accelerator (JVM via py4j) when a Spark driver is live;
        # None -> pure-Python slice-by-8 (the stdlib-only default)
        self._crc_fn = jvm_crc32c_fn()
        self._logs: dict[tuple[str, int], _PartitionLog] = {}
        # broker-stored consumer-group offsets (the __consumer_offsets
        # equivalent): (group, topic, partition) -> (offset, metadata)
        self._group_offsets: dict[tuple[str, str, int], tuple[int, str]] = {}
        # coordinator state per group (membership/rebalance)
        self._groups: dict[str, _GroupMeta] = {}
        self.initial_rebalance_delay = initial_rebalance_delay_ms / 1000.0
        self._lock = threading.Lock()
        self._next_pid = 1000
        # transaction coordinator state (KIP-98, r12): per
        # transactional.id -> stable pid, current epoch, the ongoing
        # transaction's partitions with their first data offsets
        self._txns: dict[str, dict] = {}
        broker = self

        class Handler(socketserver.BaseRequestHandler):
            def handle(self):
                conn = _ConnState(
                    authenticated=not broker._sasl_required()
                )
                try:
                    while True:
                        raw = self._recv_frame()
                        if raw is None:
                            return
                        try:
                            resp = broker._dispatch(raw, conn)
                        except _CloseConnection:
                            return  # real-broker behavior for
                            # illegal SASL state: drop the connection
                        self.request.sendall(
                            struct.pack(">i", len(resp)) + resp
                        )
                        if conn.close_after:
                            return  # auth failure: error sent, drop
                except (ConnectionError, OSError):
                    return

            def _recv_frame(self):
                head = b""
                while len(head) < 4:
                    chunk = self.request.recv(4 - len(head))
                    if not chunk:
                        return None
                    head += chunk
                (size,) = struct.unpack(">i", head)
                data = b""
                while len(data) < size:
                    chunk = self.request.recv(size - len(data))
                    if not chunk:
                        return None
                    data += chunk
                return data

        class Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

            def get_request(_srv):
                sock, addr = socketserver.ThreadingTCPServer.get_request(
                    _srv
                )
                if broker._ssl_ctx is not None:
                    sock = broker._ssl_ctx.wrap_socket(
                        sock, server_side=True
                    )
                return sock, addr

            def handle_error(_srv, request, client_address):
                # TLS handshake failures from probing clients are an
                # expected rejection, not a stub bug worth a traceback
                import ssl as _ssl
                import sys as _sys

                exc = _sys.exc_info()[1]
                if isinstance(exc, (_ssl.SSLError, ConnectionError,
                                    OSError)):
                    return
                socketserver.ThreadingTCPServer.handle_error(
                    _srv, request, client_address
                )

        self._server = Server((host, 0), Handler)
        self.addr = self._server.server_address
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._server.shutdown()
        self._server.server_close()

    def _sasl_required(self) -> bool:
        return self._sasl is not None or self._scram is not None

    def _enabled_mechanisms(self) -> list[str]:
        out = []
        if self._sasl is not None:
            out.append("PLAIN")
        if self._scram is not None:
            out += ["SCRAM-SHA-256", "SCRAM-SHA-512"]
        return out

    # -- request dispatch
    def _log(self, topic: str, partition: int) -> _PartitionLog:
        key = (topic, partition)
        if key not in self._logs:
            for p in range(self.num_partitions):
                self._logs.setdefault((topic, p), _PartitionLog())
        return self._logs[key]

    def _topic_partitions(self, topic: str) -> list[int]:
        with self._lock:
            self._log(topic, 0)  # auto-create
            return sorted(p for t, p in self._logs if t == topic)

    # -- group coordinator
    def _group(self, group: str) -> _GroupMeta:
        with self._lock:
            if group not in self._groups:
                self._groups[group] = _GroupMeta()
            return self._groups[group]

    @staticmethod
    def _expire_members(g: _GroupMeta, now: float) -> None:
        """Session expiry (cond held): members silent past their
        session timeout are evicted; survivors get a rebalance. Only
        a Stable group expires lazily — during a rebalance, the
        rebalance deadline itself evicts stragglers."""
        if g.state != "Stable":
            return
        dead = [
            m for m, (timeout, last) in g.session.items()
            if now - last > timeout
        ]
        if not dead:
            return
        for m in dead:
            g.members.pop(m, None)
            g.session.pop(m, None)
        # an expired static incarnation loses its binding: the next
        # rejoin with that instance id is a FULL join (KIP-345 — the
        # no-rebalance path only covers restarts within the timeout)
        g.static = {i: m for i, m in g.static.items() if m in g.members}
        if g.members:
            g.state = "PreparingRebalance"
            g.joined = set()
            g.deadline = now + 5.0
        else:
            g.state = "Empty"
        g.cond.notify_all()

    @staticmethod
    def _complete_join(g: _GroupMeta) -> None:
        """cond held: seal the generation — pick the protocol every
        member supports (first joiner's preference order), keep the
        old leader if it rejoined else the lexicographically first
        member (deterministic), move to CompletingRebalance."""
        if not g.joined:  # everyone left/evicted while rebalancing
            g.members = {}
            g.session = {}
            g.leader = None
            g.state = "Empty"
            g.cond.notify_all()
            return
        g.members = {m: g.members[m] for m in g.joined}
        g.session = {m: s for m, s in g.session.items() if m in g.joined}
        ordered = sorted(g.joined)
        common = None
        for name in g.members[ordered[0]]:
            if all(name in protos for protos in g.members.values()):
                common = name
                break
        # no protocol every member supports: the generation completes
        # with protocol None and every waiter is answered
        # INCONSISTENT_GROUP_PROTOCOL (err 23), like the real
        # coordinator's candidates-intersection check
        g.protocol = common
        g.leader = g.leader if g.leader in g.joined else ordered[0]
        g.generation += 1
        g.assignments = {}
        g.state = "CompletingRebalance"
        g.initial = False
        g.cond.notify_all()

    def _handle_join_group(
        self,
        group: str,
        member_id: str,
        session_ms: int,
        rebalance_ms: int,
        protocols: dict[str, bytes],
        instance_id: str | None = None,
    ) -> tuple:
        """Returns (err,) or (0, generation, protocol, leader,
        member_id, members_for_leader)."""
        g = self._group(group)
        with g.cond:
            now = time.monotonic()
            self._expire_members(g, now)
            if instance_id is not None and not member_id:
                # KIP-345 static rejoin: a restart within the session
                # timeout whose previous incarnation is still a LIVE
                # member of a STABLE generation with the SAME
                # subscription re-acquires that member id and its
                # assignment at the current generation — no rebalance,
                # no generation bump. (Simplification vs the real
                # coordinator, which mints a fresh member id and
                # transplants the assignment; the observable contract
                # — same assignment, same generation — is identical.)
                old = g.static.get(instance_id)
                if (
                    old is not None
                    and old in g.members
                    and g.state == "Stable"
                    and g.members[old] == dict(protocols)
                ):
                    g.session[old] = (session_ms / 1000.0, now)
                    members = []
                    if old == g.leader:
                        inst_of = {m: i for i, m in g.static.items()}
                        members = [
                            (m, inst_of.get(m), protos.get(g.protocol, b""))
                            for m, protos in sorted(g.members.items())
                        ]
                    return (0, g.generation, g.protocol, g.leader,
                            old, members)
            if member_id and member_id not in g.members:
                # stale id from an evicted member: real coordinator
                # answers UNKNOWN_MEMBER_ID, client rejoins with ""
                return (ERR_UNKNOWN_MEMBER_ID,)
            if not member_id and instance_id is not None:
                old = g.static.get(instance_id)
                if old is not None and old in g.members:
                    # full-join path for a LIVE previous incarnation
                    # (changed subscription, or mid-rebalance): take
                    # over its member id — the KIP-345 replacement, so
                    # the group never waits for the ghost to rejoin
                    member_id = old
            if not member_id:
                member_id = f"member-{g.next_member}"
                g.next_member += 1
            if instance_id is not None:
                # bind the instance id to this member — an expired or
                # first-time incarnation lands here and rebalances
                # normally
                g.static[instance_id] = member_id
            others = {
                m: protos for m, protos in g.members.items()
                if m != member_id
            }
            if others:
                # entry check (real-coordinator behavior): a joiner
                # sharing NO protocol with the current members is
                # rejected here, without disturbing the group
                candidates = set(protocols)
                for protos in others.values():
                    candidates &= set(protos)
                if not candidates:
                    return (ERR_INCONSISTENT_GROUP_PROTOCOL,)
            if g.state == "Empty":
                # KIP-134 initial delay: hold the first generation
                # open briefly so concurrently-starting members land
                # together instead of causing a join storm
                g.state = "PreparingRebalance"
                g.joined = set()
                g.initial = True
                g.deadline = now + self.initial_rebalance_delay
            elif g.state != "PreparingRebalance":
                g.state = "PreparingRebalance"
                g.joined = set()
                g.initial = False
                g.deadline = now + rebalance_ms / 1000.0
            g.members[member_id] = dict(protocols)
            g.joined.add(member_id)
            g.session[member_id] = (session_ms / 1000.0, now)
            g.cond.notify_all()
            while g.state == "PreparingRebalance":
                if not g.initial and g.joined >= set(g.members):
                    self._complete_join(g)
                    break
                remaining = g.deadline - time.monotonic()
                if remaining <= 0:
                    g.joined &= set(g.members)
                    self._complete_join(g)
                    break
                g.cond.wait(remaining)
            if member_id not in g.members:
                # a racing deadline evicted us while we slept
                return (ERR_UNKNOWN_MEMBER_ID,)
            if g.protocol is None:
                return (ERR_INCONSISTENT_GROUP_PROTOCOL,)
            members = []
            if member_id == g.leader:
                inst_of = {m: i for i, m in g.static.items()}
                members = [
                    (m, inst_of.get(m), protos.get(g.protocol, b""))
                    for m, protos in sorted(g.members.items())
                ]
            return (0, g.generation, g.protocol, g.leader, member_id,
                    members)

    def _handle_sync_group(
        self,
        group: str,
        generation: int,
        member_id: str,
        assignments: dict[str, bytes],
    ) -> tuple[int, bytes]:
        g = self._group(group)
        with g.cond:
            if member_id not in g.members:
                return ERR_UNKNOWN_MEMBER_ID, b""
            if generation != g.generation:
                return ERR_ILLEGAL_GENERATION, b""
            if g.state == "PreparingRebalance":
                return ERR_REBALANCE_IN_PROGRESS, b""
            if member_id == g.leader and assignments:
                g.assignments = dict(assignments)
                g.state = "Stable"
                g.cond.notify_all()
            deadline = time.monotonic() + 10.0
            while (
                g.state == "CompletingRebalance"
                and generation == g.generation
            ):
                remaining = deadline - time.monotonic()
                if remaining <= 0:
                    return ERR_REBALANCE_IN_PROGRESS, b""
                g.cond.wait(remaining)
            if g.state != "Stable" or generation != g.generation:
                return ERR_REBALANCE_IN_PROGRESS, b""
            now = time.monotonic()
            timeout, _last = g.session[member_id]
            g.session[member_id] = (timeout, now)
            return 0, g.assignments.get(member_id, b"")

    def _handle_heartbeat(
        self, group: str, generation: int, member_id: str
    ) -> int:
        g = self._group(group)
        with g.cond:
            now = time.monotonic()
            self._expire_members(g, now)
            if member_id not in g.members:
                return ERR_UNKNOWN_MEMBER_ID
            if generation != g.generation:
                return ERR_ILLEGAL_GENERATION
            timeout, _last = g.session[member_id]
            g.session[member_id] = (timeout, now)
            if g.state != "Stable":
                return ERR_REBALANCE_IN_PROGRESS
            return 0

    def _handle_leave_group(self, group: str, member_id: str) -> int:
        g = self._group(group)
        with g.cond:
            if member_id not in g.members:
                return ERR_UNKNOWN_MEMBER_ID
            g.members.pop(member_id)
            g.session.pop(member_id, None)
            g.joined.discard(member_id)
            g.static = {
                i: m for i, m in g.static.items() if m != member_id
            }
            if g.members:
                # survivors must rejoin — their next heartbeat sees
                # REBALANCE_IN_PROGRESS (the listener signal). If a
                # rebalance is ALREADY in flight, keep its joined set
                # (members waiting in JoinGroup must not be wiped).
                if g.state != "PreparingRebalance":
                    g.state = "PreparingRebalance"
                    g.joined = set()
                    g.deadline = time.monotonic() + 5.0
                g.initial = False
            else:
                g.state = "Empty"
                g.leader = None
            g.cond.notify_all()
            return 0

    def _check_commit_fencing(
        self, group: str, generation: int, member_id: str
    ) -> int:
        """OffsetCommit fencing: while a group uses MEMBERSHIP, only
        the current generation's members may commit (an evicted member
        must not clobber its successor's offsets — the exactly-once
        guard). Groups used purely as offset namespaces (generation
        -1, no members — the r9 simple-consumer path) stay open."""
        with self._lock:
            g = self._groups.get(group)
        if g is None:
            return 0
        with g.cond:
            if not g.members:
                return 0
            if member_id not in g.members:
                return ERR_UNKNOWN_MEMBER_ID
            if generation != g.generation:
                return ERR_ILLEGAL_GENERATION
            if g.state != "Stable":
                return ERR_REBALANCE_IN_PROGRESS
            return 0

    def _dispatch(self, raw: bytes, conn: _ConnState | None = None) -> bytes:
        if conn is None:  # direct-call tests without a socket
            conn = _ConnState(authenticated=not self._sasl_required())
        r = _R(raw)
        api_key, api_version, corr = r.i16(), r.i16(), r.i32()
        r.string()  # client_id
        w = _W().i32(corr)
        if not conn.authenticated and api_key not in (
            _API_VERSIONS,
            _API_SASL_HANDSHAKE,
            _API_SASL_AUTHENTICATE,
        ):
            # real brokers drop the connection on any other API
            # before authentication completes
            raise _CloseConnection()
        if api_key == _API_VERSIONS:
            apis = (
                (_API_PRODUCE, 0, 3),
                (_API_FETCH, 0, 4),
                (_API_LIST_OFFSETS, 0, 1),
                (_API_METADATA, 0, 1),
                (_API_OFFSET_COMMIT, 0, 2),
                (_API_OFFSET_FETCH, 0, 1),
                (_API_FIND_COORDINATOR, 0, 0),
                (_API_JOIN_GROUP, 0, 5),  # v5 = KIP-345 instance ids
                (_API_HEARTBEAT, 0, 0),
                (_API_LEAVE_GROUP, 0, 0),
                (_API_SYNC_GROUP, 0, 0),
                (_API_DESCRIBE_GROUPS, 0, 0),
                (_API_LIST_GROUPS, 0, 0),
                (_API_DELETE_GROUPS, 0, 0),
                (_API_SASL_HANDSHAKE, 0, 1),
                (_API_VERSIONS, 0, 0),
                (_API_INIT_PRODUCER_ID, 0, 0),
                (_API_ADD_PARTITIONS_TO_TXN, 0, 0),
                (_API_ADD_OFFSETS_TO_TXN, 0, 0),
                (_API_END_TXN, 0, 0),
                (_API_TXN_OFFSET_COMMIT, 0, 3),  # v3 = KIP-447 fencing
                (_API_SASL_AUTHENTICATE, 0, 0),
            )
            # count DERIVED from the list — a hardcoded count silently
            # truncates the tail when an API joins (caught by the SASL
            # gate test when DeleteGroups displaced SaslAuthenticate)
            w.i16(0).i32(len(apis))
            for k, lo, hi in apis:
                w.i16(k).i16(lo).i16(hi)
        elif api_key == _API_SASL_HANDSHAKE:
            mech = r.string()
            enabled = self._enabled_mechanisms()
            if not enabled:
                # no SASL listener configured: mirror a PLAINTEXT
                # listener receiving a handshake — illegal state
                raise _CloseConnection()
            if mech not in enabled:
                w.i16(33)  # UNSUPPORTED_SASL_MECHANISM
                w.i32(len(enabled))
                for m in enabled:
                    w.string(m)
                conn.close_after = True
            else:
                conn.handshake_done = True
                conn.mechanism = mech
                if mech in SCRAM_ALGOS:
                    conn.scram = _ScramServerExchange(
                        self._scram, SCRAM_ALGOS[mech]
                    )
                w.i16(0).i32(len(enabled))
                for m in enabled:
                    w.string(m)
        elif api_key == _API_SASL_AUTHENTICATE:
            token = r.bytes_() or b""
            if not self._sasl_required() or not conn.handshake_done:
                raise _CloseConnection()  # authenticate before handshake
            if conn.mechanism in SCRAM_ALGOS:
                out_token, done, ok = conn.scram.step(token)
                if not ok:
                    w.i16(58).string(
                        "Authentication failed during SCRAM exchange: "
                        + out_token.decode("utf-8", "replace")
                    ).bytes_(out_token)
                    conn.close_after = True
                else:
                    if done:
                        conn.authenticated = True
                    w.i16(0).string(None).bytes_(out_token)
            else:
                parts = token.split(b"\x00")
                ok = (
                    len(parts) == 3
                    and self._sasl is not None
                    and self._sasl.get(parts[1].decode("utf-8", "replace"))
                    == parts[2].decode("utf-8", "replace")
                )
                if ok:
                    conn.authenticated = True
                    w.i16(0).string(None).bytes_(b"")
                else:
                    w.i16(58).string(
                        "Authentication failed: Invalid username or password"
                    ).bytes_(b"")
                    conn.close_after = True
        elif api_key == _API_FIND_COORDINATOR:
            r.string()  # group id — single-node: always us
            host, port = self.addr
            w.i16(0).i32(0).string(host).i32(port)
        elif api_key == _API_OFFSET_COMMIT:
            group = r.string()
            generation_id = r.i32()
            commit_member = r.string() or ""
            r.i64()  # retention_time
            fence_err = self._check_commit_fencing(
                group, generation_id, commit_member
            )
            n_topics = r.i32()
            # One response block per TOPIC with its partition array —
            # the real broker encoding; one block per (topic,
            # partition) pair would leave trailing blocks the client
            # never parses, so later per-partition error codes would
            # be silently unchecked.
            by_topic: dict[str, list[int]] = {}
            for _ in range(n_topics):
                topic = r.string()
                for _p in range(r.i32()):
                    partition = r.i32()
                    off = r.i64()
                    meta = r.string() or ""
                    if not fence_err:
                        with self._lock:
                            self._group_offsets[
                                (group, topic, partition)
                            ] = (off, meta)
                    by_topic.setdefault(topic, []).append(partition)
            w.i32(len(by_topic))
            for topic, partitions in by_topic.items():
                w.string(topic).i32(len(partitions))
                for partition in partitions:
                    w.i32(partition).i16(fence_err)
        elif api_key == _API_JOIN_GROUP:
            group = r.string()
            session_ms = r.i32()
            rebalance_ms = r.i32() if api_version >= 1 else session_ms
            member_id = r.string() or ""
            # v5 (KIP-345): nullable group.instance.id after member_id
            instance_id = r.string() if api_version >= 5 else None
            r.string()  # protocol_type
            protocols: dict[str, bytes] = {}
            for _ in range(r.i32()):
                name = r.string()
                protocols[name] = r.bytes_() or b""
            res = self._handle_join_group(
                group, member_id, session_ms, rebalance_ms, protocols,
                instance_id,
            )
            if api_version >= 2:
                w.i32(0)  # throttle_time_ms
            if res[0]:
                w.i16(res[0]).i32(-1).string("").string("").string("")
                w.i32(0)
            else:
                _err, gen, proto, leader, mid, members = res
                w.i16(0).i32(gen).string(proto).string(leader).string(mid)
                w.i32(len(members))
                for m, inst, meta in members:
                    w.string(m)
                    if api_version >= 5:
                        w.string(inst)  # nullable
                    w.bytes_(meta)
        elif api_key == _API_SYNC_GROUP:
            group = r.string()
            generation_id = r.i32()
            member_id = r.string() or ""
            assignments: dict[str, bytes] = {}
            for _ in range(r.i32()):
                m = r.string()
                assignments[m] = r.bytes_() or b""
            err, assignment = self._handle_sync_group(
                group, generation_id, member_id, assignments
            )
            w.i16(err).bytes_(assignment)
        elif api_key == _API_HEARTBEAT:
            group = r.string()
            generation_id = r.i32()
            member_id = r.string() or ""
            w.i16(self._handle_heartbeat(group, generation_id, member_id))
        elif api_key == _API_LEAVE_GROUP:
            group = r.string()
            member_id = r.string() or ""
            w.i16(self._handle_leave_group(group, member_id))
        elif api_key == _API_OFFSET_FETCH:
            group = r.string()
            n_topics = r.i32()
            w.i32(n_topics)
            for _ in range(n_topics):
                topic = r.string()
                n_parts = r.i32()
                w.string(topic).i32(n_parts)
                for _p in range(n_parts):
                    partition = r.i32()
                    with self._lock:
                        off, meta = self._group_offsets.get(
                            (group, topic, partition), (-1, "")
                        )
                    w.i32(partition).i64(off).string(meta).i16(0)
        elif api_key == _API_LIST_GROUPS:
            with self._lock:
                groups = sorted(self._groups)
            w.i16(0).i32(len(groups))
            for g in groups:
                w.string(g).string("consumer")
        elif api_key == _API_DESCRIBE_GROUPS:
            names = [r.string() or "" for _ in range(r.i32())]
            w.i32(len(names))
            for name in names:
                with self._lock:
                    g = self._groups.get(name)
                    if g is None:
                        # the real coordinator's answer for an unknown
                        # group: no error, state Dead, no members
                        w.i16(0).string(name).string("Dead")
                        w.string("consumer").string("").i32(0)
                        continue
                    state = g.state
                    protocol = g.protocol or ""
                    members = [
                        (
                            m,
                            g.members.get(m, {}),
                            g.assignments.get(m, b""),
                        )
                        for m in sorted(g.members)
                    ]
                w.i16(0).string(name).string(state)
                w.string("consumer").string(protocol)
                w.i32(len(members))
                for member_id, metas, assignment in members:
                    w.string(member_id).string("").string("")
                    w.bytes_(metas.get(protocol) or b"")
                    w.bytes_(assignment if state == "Stable" else b"")
        elif api_key == _API_DELETE_GROUPS:
            names = [r.string() or "" for _ in range(r.i32())]
            w.i32(0)  # throttle_time_ms
            w.i32(len(names))
            for name in names:
                with self._lock:
                    g = self._groups.get(name)
                    has_offsets = any(
                        k[0] == name for k in self._group_offsets
                    )
                    if g is not None and g.members:
                        err = 68  # NON_EMPTY_GROUP: leave first
                    elif g is None and not has_offsets:
                        err = 69  # GROUP_ID_NOT_FOUND
                    else:
                        err = 0
                        self._groups.pop(name, None)
                        for k in [
                            k
                            for k in self._group_offsets
                            if k[0] == name
                        ]:
                            del self._group_offsets[k]
                w.string(name).i16(err)
        elif api_key == _API_INIT_PRODUCER_ID:
            tid = r.string()  # transactional_id (None: idempotence only)
            r.i32()  # transaction_timeout_ms
            if tid is None:
                with self._lock:
                    pid = self._next_pid
                    self._next_pid += 1
                w.i32(0).i16(0).i64(pid).i16(0)
            else:
                # stable pid per transactional.id; epoch BUMPS every
                # init — the zombie-fencing handshake. Any transaction
                # the previous incarnation left open is ABORTED.
                with self._lock:
                    entry = self._txns.get(tid)
                    if entry is None:
                        entry = {
                            "pid": self._next_pid, "epoch": 0,
                            "open": False, "parts": {},
                            "groups": set(), "pending_offsets": {},
                        }
                        self._next_pid += 1
                        self._txns[tid] = entry
                    else:
                        entry["epoch"] += 1
                    pid, epoch = entry["pid"], entry["epoch"]
                    leftover = dict(entry["parts"]) if entry["open"] else {}
                # Markers + aborted index land BEFORE the open state
                # clears (r13, ADVICE): while the txn still reads as
                # open, a concurrent read_committed fetch keeps LSO at
                # the txn's first offset and withholds the data —
                # clearing first opened a window where LSO=hw with no
                # aborted entry served aborted data as committed.
                self._write_txn_markers(pid, epoch, leftover, committed=False)
                with self._lock:
                    entry["open"] = False
                    entry["parts"] = {}
                    # the abandoned txn's staged offsets die with it
                    entry["groups"] = set()
                    entry["pending_offsets"] = {}
                w.i32(0).i16(0).i64(pid).i16(epoch)
        elif api_key == _API_ADD_PARTITIONS_TO_TXN:
            tid = r.string() or ""
            pid, epoch = r.i64(), r.i16()
            req: list[tuple[str, list[int]]] = []
            for _ in range(r.i32()):
                topic = r.string()
                req.append((topic, [r.i32() for _p in range(r.i32())]))
            with self._lock:
                err = self._txn_check(tid, pid, epoch)
                if not err:
                    entry = self._txns[tid]
                    entry["open"] = True
                    for topic, parts in req:
                        for part in parts:
                            entry["parts"].setdefault((topic, part), None)
            w.i32(0).i32(len(req))  # throttle, n_topics
            for topic, parts in req:
                w.string(topic).i32(len(parts))
                for part in parts:
                    w.i32(part).i16(err)
        elif api_key == _API_ADD_OFFSETS_TO_TXN:
            tid = r.string() or ""
            pid, epoch = r.i64(), r.i16()
            group = r.string() or ""
            with self._lock:
                err = self._txn_check(tid, pid, epoch)
                if not err:
                    # registering the group's offsets store opens the
                    # txn exactly like a data partition would — a
                    # consume-only transaction is legal
                    entry = self._txns[tid]
                    entry["open"] = True
                    entry["groups"].add(group)
            w.i32(0).i16(err)
        elif api_key == _API_TXN_OFFSET_COMMIT:
            tid = r.string() or ""
            group = r.string() or ""
            pid, epoch = r.i64(), r.i16()
            generation_id, commit_member = -1, ""
            if api_version >= 3:
                # KIP-447: membership credentials ride the request so
                # the coordinator can fence zombie CONSUMERS
                generation_id = r.i32()
                commit_member = r.string() or ""
                r.string()  # group_instance_id (nullable)
            n_topics = r.i32()
            staged: list[tuple[str, int, int, str]] = []
            by_topic: dict[str, list[int]] = {}
            for _ in range(n_topics):
                topic = r.string() or ""
                for _p in range(r.i32()):
                    partition = r.i32()
                    off = r.i64()
                    meta = r.string() or ""
                    staged.append((topic, partition, off, meta))
                    by_topic.setdefault(topic, []).append(partition)
            with self._lock:
                err = self._txn_check(tid, pid, epoch)
                if not err:
                    entry = self._txns[tid]
                    if not entry["open"] or group not in entry["groups"]:
                        # AddOffsetsToTxn must register the group first
                        err = ERR_INVALID_TXN_STATE
            if not err and api_version >= 3:
                # same fencing as plain OffsetCommit (takes its own
                # locks — run outside self._lock)
                err = self._check_commit_fencing(
                    group, generation_id, commit_member
                )
            if not err:
                with self._lock:
                    # staged, NOT applied: OffsetFetch keeps answering
                    # the pre-transaction offset until EndTxn commits
                    for topic, partition, off, meta in staged:
                        entry["pending_offsets"][
                            (group, topic, partition)
                        ] = (off, meta)
            w.i32(0)  # throttle_time
            w.i32(len(by_topic))
            for topic, partitions in by_topic.items():
                w.string(topic).i32(len(partitions))
                for partition in partitions:
                    w.i32(partition).i16(err)
        elif api_key == _API_END_TXN:
            tid = r.string() or ""
            pid, epoch = r.i64(), r.i16()
            committed = bool(r.i8())
            with self._lock:
                err = self._txn_check(tid, pid, epoch)
                if not err and not self._txns[tid]["open"]:
                    err = ERR_INVALID_TXN_STATE
                if not err:
                    entry = self._txns[tid]
                    parts = dict(entry["parts"])
            if not err:
                # markers + aborted index BEFORE clearing open state
                # (r13, ADVICE): the still-open txn pins LSO at its
                # first offset, so no read_committed fetch can observe
                # the marker-less / index-less intermediate state
                self._write_txn_markers(pid, epoch, parts, committed)
                with self._lock:
                    if committed:
                        # KIP-98 part 2: staged offsets become visible
                        # atomically with the commit markers; an abort
                        # discards them with the data
                        for key_off, val in entry["pending_offsets"].items():
                            self._group_offsets[key_off] = val
                    entry["open"] = False
                    entry["parts"] = {}
                    entry["groups"] = set()
                    entry["pending_offsets"] = {}
            w.i32(0).i16(err)
        elif api_key == _API_METADATA:
            n = r.i32()
            topics = [r.string() for _ in range(max(n, 0))]
            host, port = self.addr
            w.i32(1).i32(0).string(host).i32(port).string(None)  # brokers
            w.i32(0)  # controller_id
            w.i32(len(topics))
            for t in topics:
                parts = self._topic_partitions(t)
                w.i16(0).string(t).i8(0).i32(len(parts))
                for p in parts:
                    w.i16(0).i32(p).i32(0).i32(1).i32(0).i32(1).i32(0)
        elif api_key == _API_PRODUCE:
            tid = r.string()  # transactional_id
            r.i16()  # acks
            r.i32()  # timeout
            n_topics = r.i32()
            # Group results one block per TOPIC (real-broker encoding):
            # a per-(topic, partition) block would leave trailing blocks
            # a spec-conforming client never parses when one topic
            # carries several partitions in the same request.
            results: dict[str, list[tuple[int, int, int]]] = {}
            for _ in range(n_topics):
                topic = r.string()
                for _p in range(r.i32()):
                    partition = r.i32()
                    record_set = r.bytes_() or b""
                    if tid is not None:
                        # transactional produce: fence stale epochs
                        # and require a registered ongoing txn.
                        # Hardened (r13, decoder rule): a short/garbled
                        # record set answers ERR_CORRUPT_MESSAGE like
                        # _append's validated path, never struct.error
                        if len(record_set) < 57:
                            results.setdefault(topic, []).append(
                                (partition, ERR_CORRUPT_MESSAGE, -1)
                            )
                            continue
                        b_pid = struct.unpack(">q", record_set[43:51])[0]
                        b_epoch = struct.unpack(
                            ">h", record_set[51:53]
                        )[0]
                        with self._lock:
                            err = self._txn_check(tid, b_pid, b_epoch)
                            if not err:
                                entry = self._txns[tid]
                                if (
                                    not entry["open"]
                                    or (topic, partition)
                                    not in entry["parts"]
                                ):
                                    err = ERR_INVALID_TXN_STATE
                        if err:
                            results.setdefault(topic, []).append(
                                (partition, err, -1)
                            )
                            continue
                    rc, base = self._append(topic, partition, record_set)
                    if tid is not None and rc == 0:
                        with self._lock:
                            parts = self._txns[tid]["parts"]
                            if parts.get((topic, partition)) is None:
                                parts[(topic, partition)] = base
                    results.setdefault(topic, []).append(
                        (partition, rc, base)
                    )
            w.i32(len(results))
            for topic, parts in results.items():
                w.string(topic).i32(len(parts))
                for partition, err, base in parts:
                    w.i32(partition).i16(err).i64(base).i64(-1)
            w.i32(0)  # throttle_time
        elif api_key == _API_LIST_OFFSETS:
            r.i32()  # replica_id
            n_topics = r.i32()
            w.i32(n_topics)
            for _ in range(n_topics):
                topic = r.string()
                n_parts = r.i32()
                w.string(topic).i32(n_parts)
                for _p in range(n_parts):
                    partition, ts = r.i32(), r.i64()
                    with self._lock:
                        log = self._log(topic, partition)
                        off = 0 if ts == EARLIEST else log.next_offset
                    w.i32(partition).i16(0).i64(-1).i64(off)
        elif api_key == _API_FETCH:
            r.i32()  # replica_id
            r.i32()  # max_wait
            r.i32()  # min_bytes
            max_bytes = r.i32()
            isolation = r.i8()
            n_topics = r.i32()
            w.i32(0).i32(n_topics)  # throttle_time
            for _ in range(n_topics):
                topic = r.string()
                n_parts = r.i32()
                w.string(topic).i32(n_parts)
                for _p in range(n_parts):
                    partition, offset, pmax = r.i32(), r.i64(), r.i32()
                    with self._lock:
                        log = self._log(topic, partition)
                        hw = log.next_offset
                        # LSO = first offset of any OPEN transaction on
                        # this partition, else the high watermark;
                        # read_committed is served only below it
                        open_firsts = [
                            first
                            for t in self._txns.values()
                            if t["open"]
                            for (tt, pp), first in t["parts"].items()
                            if tt == topic and pp == partition
                            and first is not None
                        ]
                        lso = min(open_firsts) if open_firsts else hw
                        fence = lso if isolation == 1 else hw
                        aborted = (
                            [
                                (p, f)
                                for p, f, m in log.aborted
                                if m >= offset and f < fence
                            ]
                            if isolation == 1
                            else []
                        )
                        chunks, size = [], 0
                        for base, batch in log.batches:
                            # lastOffset = base + lastOffsetDelta
                            last_delta = struct.unpack(
                                ">i", batch[23:27]
                            )[0]
                            if base + last_delta < offset:
                                continue
                            if base >= fence:
                                break  # withheld: open-txn data
                            if size and size + len(batch) > min(
                                max_bytes, pmax
                            ):
                                break
                            chunks.append(batch)
                            size += len(batch)
                    w.i32(partition).i16(0).i64(hw).i64(lso)
                    w.i32(len(aborted))
                    for a_pid, a_first in aborted:
                        w.i64(a_pid).i64(a_first)
                    w.bytes_(b"".join(chunks))
        else:
            raise ValueError(f"stub broker: unsupported api_key {api_key}")
        return bytes(w.b)

    def _txn_check(self, tid: str, pid: int, epoch: int) -> int:
        """Zombie fencing (caller holds the lock): 0 when (pid, epoch)
        is the transactional.id's CURRENT incarnation;
        INVALID_PRODUCER_EPOCH for a stale epoch or wrong pid (the
        fenced producer must stop)."""
        entry = self._txns.get(tid)
        if entry is None or entry["pid"] != pid or epoch < entry["epoch"]:
            return ERR_INVALID_PRODUCER_EPOCH
        if epoch > entry["epoch"]:  # pragma: no cover - defensive
            return ERR_INVALID_PRODUCER_EPOCH
        return 0

    def _write_txn_markers(
        self,
        pid: int,
        epoch: int,
        parts: dict[tuple[str, int], int | None],
        committed: bool,
    ) -> None:
        """EndTxn's effect: append a CONTROL marker batch (KIP-98
        control record: key = int16 version 0 + int16 type, 0=abort
        1=commit) to every partition the transaction touched; aborted
        data ranges are remembered for read_committed fetches."""
        for (topic, partition), first in sorted(parts.items()):
            if first is None:
                continue  # registered but never produced to
            marker = encode_record_batch(
                [(struct.pack(">hh", 0, 1 if committed else 0), b"")],
                producer_id=pid,
                producer_epoch=epoch,
                transactional=True,
                control=True,
            )
            rc, marker_base = self._append(topic, partition, marker)
            if rc:  # pragma: no cover - defensive
                raise RuntimeError(f"txn marker append failed: {rc}")
            if not committed:
                with self._lock:
                    self._log(topic, partition).aborted.append(
                        (pid, first, marker_base)
                    )

    def _append(
        self, topic: str, partition: int, record_set: bytes
    ) -> tuple[int, int]:
        """Validate + append a produced record set; returns
        (error_code, base_offset). Error 2 = CORRUPT_MESSAGE.

        Validation is header-level like a real broker's: CRC32C over
        each batch + the CRC-covered recordCount field — no record
        parsing, no decompression (r7; full decode here was the produce
        soak's GIL bottleneck)."""
        try:
            n_records = count_records_validated(record_set, self._crc_fn)
        except ValueError:
            return ERR_CORRUPT_MESSAGE, -1
        # idempotent produce (KIP-98): producerId at batch bytes 43:51,
        # producerEpoch at 51:53, baseSequence at 53:57 (fixed header
        # offsets in magic 2)
        pid = struct.unpack(">q", record_set[43:51])[0]
        epoch = struct.unpack(">h", record_set[51:53])[0]
        seq = struct.unpack(">i", record_set[53:57])[0]
        with self._lock:
            log = self._log(topic, partition)
            if pid >= 0:
                # producer-state epoch tracking (KIP-98): a bumped
                # epoch RESETS the sequence state (sequences restart
                # at 0 per epoch); an older epoch is a fenced zombie
                prev_epoch = log.last_epoch.get(pid)
                if prev_epoch is not None and epoch < prev_epoch:
                    return ERR_INVALID_PRODUCER_EPOCH, -1
                if prev_epoch is None or epoch > prev_epoch:
                    log.last_epoch[pid] = epoch
                    log.next_seq.pop(pid, None)
                    log.recent.pop(pid, None)
            if pid >= 0 and seq >= 0:
                expected = log.next_seq.get(pid)
                recent = log.recent.setdefault(pid, {})
                if seq in recent:  # last-5 window: duplicate ack
                    return 0, recent[seq]
                if expected is not None and seq != expected:
                    return ERR_OUT_OF_ORDER_SEQUENCE, -1
                # new pid: any start (state reset); else contiguous
                log.next_seq[pid] = seq + n_records
                recent[seq] = log.next_offset
                while len(recent) > 5:
                    recent.pop(next(iter(recent)))
            base = log.next_offset
            # re-base the batch so stored offsets are the real ones
            rebased = struct.pack(">q", base) + record_set[8:]
            log.batches.append((base, rebased))
            log.next_offset = base + n_records
        return 0, base
