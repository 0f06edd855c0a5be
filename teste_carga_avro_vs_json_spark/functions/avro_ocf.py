"""Avro Object Container File (OCF) writer/reader — pure Python.

Complements functions/avro_codec.py (the per-record binary codec) with
the standard *.avro file container so the engine's Avro datasets are
readable by any Avro tooling, matching what the reference's ecosystem
(Confluent tooling, avro-maven-plugin artifacts — pom.xml:97-113)
expects of "Avro files". Spec: Avro 1.12 "Object Container Files":

- magic ``Obj\\x01``
- file metadata map: ``avro.schema`` (JSON), ``avro.codec``
  (``null`` | ``deflate``; deflate = raw zlib, wbits=-15)
- 16-byte sync marker, repeated after every block
- block = varint record-count, varint byte-length, records, sync

The sync marker is derived deterministically (md5 of the schema +
a caller token) so outputs are bit-reproducible — the oracle's
determinism rule applied to the container layer.

Spark integration lives in sources/io_files.py: executor-side writes
via ``mapInPandas`` (local-FS sink; a real cluster would mount DFS or
use the JVM spark-avro package, absent in this install —
VERDICT round 1 environment note).
"""

from __future__ import annotations

import hashlib
import json
import zlib

from teste_carga_avro_vs_json_spark.functions.avro_codec import (
    _read_long,
    _write_long,
    decode_mensagem_at,
)
from teste_carga_avro_vs_json_spark.schemas import MENSAGEM_CARGA_AVSC

MAGIC = b"Obj\x01"
_SCHEMA_JSON = json.dumps(MENSAGEM_CARGA_AVSC, separators=(",", ":"))


def sync_marker(token: str = "") -> bytes:
    return hashlib.md5((_SCHEMA_JSON + token).encode()).digest()


def _write_bytes(buf: bytearray, raw: bytes) -> None:
    _write_long(buf, len(raw))
    buf += raw


def write_ocf(
    records: list[bytes],
    codec: str = "null",
    block_records: int = 1000,
    sync_token: str = "",
) -> bytes:
    """Serialize pre-encoded MensagemCarga record bytes into one OCF
    byte string."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported avro.codec: {codec!r}")
    sync = sync_marker(sync_token)
    buf = bytearray(MAGIC)
    # metadata map: one block of 2 entries, then end-of-map 0
    _write_long(buf, 2)
    _write_bytes(buf, b"avro.schema")
    _write_bytes(buf, _SCHEMA_JSON.encode())
    _write_bytes(buf, b"avro.codec")
    _write_bytes(buf, codec.encode())
    _write_long(buf, 0)
    buf += sync
    for i in range(0, len(records), block_records):
        chunk = records[i : i + block_records]
        payload = b"".join(chunk)
        if codec == "deflate":
            payload = zlib.compress(payload, 6)[2:-4]  # raw deflate, no zlib frame
        _write_long(buf, len(chunk))
        _write_bytes(buf, payload)
        buf += sync
    return bytes(buf)


def _parse_header(data: bytes) -> tuple[dict[str, bytes], bytes, int]:
    """(metadata map, sync marker, position after header)."""
    if data[:4] != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        count, pos = _read_long(data, pos)
        if count == 0:
            break
        if count < 0:
            _, pos = _read_long(data, pos)  # skip block byte-size
            count = -count
        for _ in range(count):
            klen, pos = _read_long(data, pos)
            key = data[pos : pos + klen].decode()
            pos += klen
            vlen, pos = _read_long(data, pos)
            meta[key] = data[pos : pos + vlen]
            pos += vlen
    sync = data[pos : pos + 16]
    return meta, sync, pos + 16


def _iter_blocks(data: bytes, codec: str, sync: bytes, pos: int):
    while pos < len(data):
        n_rec, pos = _read_long(data, pos)
        n_bytes, pos = _read_long(data, pos)
        payload = data[pos : pos + n_bytes]
        pos += n_bytes
        if codec == "deflate":
            payload = zlib.decompress(payload, wbits=-15)
        yield n_rec, payload
        if data[pos : pos + 16] != sync:
            raise ValueError("sync marker mismatch — corrupt block boundary")
        pos += 16


def read_ocf(data: bytes) -> list[dict]:
    """Parse an OCF byte string into decoded MensagemCarga dicts (the
    hot fixed-schema path)."""
    meta, sync, pos = _parse_header(data)
    codec = meta.get("avro.codec", b"null").decode()
    out: list[dict] = []
    for n_rec, payload in _iter_blocks(data, codec, sync, pos):
        rpos = 0
        for _ in range(n_rec):
            rec, rpos = decode_mensagem_at(payload, rpos)
            out.append(rec)
    return out


__all__ = ["MAGIC", "write_ocf", "read_ocf", "sync_marker"]
