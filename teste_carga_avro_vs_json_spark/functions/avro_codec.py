"""Pure-Python Avro binary codec for the MensagemCarga schema (O3/O4).

The JVM ``spark-avro`` SQL module is not present in this PySpark
install (only core avro-1.12.1.jar), so ``to_avro``/``from_avro`` are
unavailable. This module implements the Avro *binary encoding* of the
reference schema directly — the same bytes the generated SpecificRecord
coders produce (/root/reference/src/main/java/br/com/sandbox/kafka/avro/
MensagemCarga.java:604-628, Registro.java:567-580; schema at
src/main/resources/avro/MensagemCarga.avsc:1-30):

- int/long: zigzag varint
- double:   8 bytes IEEE-754 little-endian
- string:   varint byte-length prefix + UTF-8 bytes
- array:    one block (varint count, items...) + 0x00 terminator
- record:   fields concatenated in schema order (encoding is positional)

The scalar ``encode_mensagem``/``decode_mensagem`` functions here are
the reference implementation and property-test oracle. Spark sees one
codec: ``to_avro``/``from_avro``/``roundtrip_avro`` are ``arrow_udf``
wrappers (pyspark >= 4.1) over the numpy/pyarrow batch codec in
``avro_vec.py`` — one Python invocation per Arrow batch, never
row-at-a-time. On a cluster the UDF runs on executors; the driver never
sees payloads.

Confluent wire framing (magic 0x00 + 4-byte big-endian schema id,
ConfiguracaoKafka.java:150-156) is provided as cheap JVM-side
``concat``/``substring`` column wrappers — no Python involved.
"""

from __future__ import annotations

import struct

from pyspark.sql import Column
import pyspark.sql.functions as F

from teste_carga_avro_vs_json_spark.schemas import MENSAGEM_CARGA

# Pickle this module's functions by value so executors don't need the
# repo on PYTHONPATH (the harness may import us from a non-installed
# path; local[*] workers only see the pyspark defaults).
try:  # pragma: no cover - environment-dependent
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:  # noqa: BLE001
    pass

# ----------------------------------------------------------- primitives


def _write_long(buf: bytearray, n: int) -> None:
    """Zigzag varint (Avro spec 'Primitive Types: long').

    Python's arbitrary-precision ints make ``(n << 1) ^ (n >> 63)``
    correct for negatives too (n >> 63 == -1 → flips all bits).
    """
    n = (n << 1) ^ (n >> 63)
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            break


def _read_long(data: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        b = data[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not (b & 0x80):
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


def _write_string(buf: bytearray, s: str) -> None:
    raw = s.encode("utf-8")
    _write_long(buf, len(raw))
    buf += raw


def _read_string(data: bytes, pos: int) -> tuple[str, int]:
    n, pos = _read_long(data, pos)
    return data[pos : pos + n].decode("utf-8"), pos + n


# -------------------------------------------------------- record codecs
def encode_mensagem(row: dict) -> bytes:
    """MensagemCarga dict -> Avro binary (field order MensagemCarga.avsc:6-29)."""
    buf = bytearray()
    _write_string(buf, row["id"])
    _write_long(buf, row["timestamp"])
    _write_long(buf, row["sequencia"])
    dados = row["dados"]
    if len(dados) > 0:
        _write_long(buf, len(dados))
        for r in dados:
            _write_long(buf, r["indice"])
            _write_string(buf, r["texto"])
            buf += struct.pack("<d", r["numero"])
            _write_long(buf, r["timestamp"])
            _write_string(buf, r["uuid"])
    buf.append(0)  # array terminator block
    _write_string(buf, row["versao"])
    return bytes(buf)


def decode_mensagem(data: bytes) -> dict:
    """Avro binary -> MensagemCarga dict (handles multi-block arrays and
    negative block counts per the Avro spec)."""
    return decode_mensagem_at(data, 0)[0]


def decode_mensagem_at(data: bytes, pos: int) -> tuple[dict, int]:
    """Decode one record starting at ``pos``; returns (record, end_pos)
    so container formats (avro_ocf blocks) can walk concatenated
    records."""
    id_, pos = _read_string(data, pos)
    ts, pos = _read_long(data, pos)
    seq, pos = _read_long(data, pos)
    dados: list[dict] = []
    while True:
        count, pos = _read_long(data, pos)
        if count == 0:
            break
        if count < 0:  # negative count => block byte-size follows (skippable)
            _, pos = _read_long(data, pos)
            count = -count
        for _ in range(count):
            indice, pos = _read_long(data, pos)
            texto, pos = _read_string(data, pos)
            numero = struct.unpack_from("<d", data, pos)[0]
            pos += 8
            rts, pos = _read_long(data, pos)
            uuid, pos = _read_string(data, pos)
            dados.append(
                {
                    "indice": indice,
                    "texto": texto,
                    "numero": numero,
                    "timestamp": rts,
                    "uuid": uuid,
                }
            )
    versao, pos = _read_string(data, pos)
    return {
        "id": id_,
        "timestamp": ts,
        "sequencia": seq,
        "dados": dados,
        "versao": versao,
    }, pos


# ------------------------------------------------------------ Spark UDFs
# Built lazily and cached: the arrow_udf wrappers pull in avro_vec
# (numpy/pyarrow) only when a Spark plan first needs them, so importing
# this module for the scalar reference codec stays light.
_UDF_CACHE: dict[str, object] = {}


def _encode_arrow_udf():
    if "enc_vec" not in _UDF_CACHE:
        from pyspark.sql.functions import arrow_udf
        from pyspark.sql.types import BinaryType

        from teste_carga_avro_vs_json_spark.functions import avro_vec

        # no annotations: PEP-563 string hints ('pa.Array') defeat
        # Spark's eval-type inference; explicit returnType is enough
        @arrow_udf(BinaryType())
        def avro_encode_vec(msg):
            """struct<MENSAGEM_CARGA> -> binary, zero Python-object
            materialization (see avro_vec module docstring)."""
            return avro_vec.encode_batch(msg)

        _UDF_CACHE["enc_vec"] = avro_encode_vec
    return _UDF_CACHE["enc_vec"]


def _decode_arrow_udf():
    if "dec_vec" not in _UDF_CACHE:
        from pyspark.sql.functions import arrow_udf

        from teste_carga_avro_vs_json_spark.functions import avro_vec

        @arrow_udf(MENSAGEM_CARGA)
        def avro_decode_vec(data):
            """binary -> struct<MENSAGEM_CARGA>, vectorized lockstep
            varint parsing (full Avro block grammar)."""
            return avro_vec.decode_batch(data)

        _UDF_CACHE["dec_vec"] = avro_decode_vec
    return _UDF_CACHE["dec_vec"]


def _roundtrip_arrow_udf():
    if "rt_vec" not in _UDF_CACHE:
        from pyspark.sql.functions import arrow_udf

        from teste_carga_avro_vs_json_spark.functions import avro_vec

        @arrow_udf(MENSAGEM_CARGA)
        def avro_roundtrip_vec(msg):
            """struct -> binary -> struct as ONE udf invocation.

            Spark already collapses the chained to_avro->from_avro pair
            into a single ArrowEvalPython node (chained-UDF rewrite),
            but the worker still evaluates them as two udf steps with
            an Arrow materialization of the intermediate binary column
            between them. Composing in Python hands the encode output
            straight to the decoder (same avro_vec batch functions,
            same values) — measured 0.981 s vs 1.130 s interleaved min
            on the avro_e2e lane shape."""
            return avro_vec.decode_batch(avro_vec.encode_batch(msg))

        _UDF_CACHE["rt_vec"] = avro_roundtrip_vec
    return _UDF_CACHE["rt_vec"]


def roundtrip_avro(msg_struct: Column) -> Column:
    """Fused to_avro->from_avro for the Arrow-native codec (r14): one
    ArrowEvalPython node instead of two. Values are the exact
    composition of :func:`to_avro` and :func:`from_avro` (pytest- and
    oracle-pinned); use the separate functions when the encoded bytes
    themselves are needed."""
    return _roundtrip_arrow_udf()(msg_struct)


def to_avro(msg_struct: Column) -> Column:
    """Engine twin of pyspark.sql.avro.functions.to_avro for the
    MensagemCarga schema (Arrow-native codec, see avro_vec)."""
    return _encode_arrow_udf()(msg_struct)


def from_avro(data: Column) -> Column:
    """Engine twin of from_avro for the MensagemCarga schema."""
    return _decode_arrow_udf()(data)


# ----------------------------------------------- Confluent wire framing
MAGIC_BYTE = b"\x00"


def confluent_wrap(avro_bytes: Column, schema_id: int) -> Column:
    """Prepend the Confluent 5-byte header (magic 0x00 + 4-byte BE id)
    — KafkaAvroSerializer wire format (ConfiguracaoKafka.java:150-156).
    JVM-side concat: no Python cost."""
    header = MAGIC_BYTE + struct.pack(">I", schema_id)
    return F.concat(F.lit(header), avro_bytes)


def confluent_unwrap(wire_bytes: Column) -> Column:
    """Strip the 5-byte Confluent header (read-side framing,
    SURVEY.md §7a). JVM-side substring: no Python cost."""
    return wire_bytes.substr(F.lit(6), F.length(wire_bytes) - 5)


def confluent_schema_id(wire_bytes: Column) -> Column:
    """Extract the 4-byte big-endian schema id from the wire header.
    Long, not int: Confluent ids are unsigned 32-bit, so ids >= 2^31
    would overflow a signed-int cast to NULL."""
    return F.conv(F.hex(wire_bytes.substr(2, 4)), 16, 10).cast("long")
