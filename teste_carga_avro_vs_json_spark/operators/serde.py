"""Serialization round trips (reference O3-O6) — the benchmark's core.

The reference's whole purpose is encode→transport→decode for Avro vs
JSON (GeradorCargaEstruturada.java:48-59, GeradorMensagemJson.java:81-83,
ConfiguracaoKafka.java:150-158). Spark-first mapping:

- JSON: ``to_json(struct(*))`` / ``from_json`` — pure JVM built-ins,
  whole-stage-codegen eligible, zero Python. Field order is the struct
  order (deterministic — a strengthening over the reference's HashMap).
- Avro: ``arrow_udf`` wrappers over the numpy/pyarrow binary codec
  (functions/avro_codec.py, functions/avro_vec.py) because the JVM
  spark-avro module is absent.

Scale: both paths are embarrassingly parallel projections — no shuffle,
no driver involvement; the Avro path pays one Python hop per Arrow
batch. Round-trip queries project back to the flat registro view so the
DuckDB oracle can hash-compare against the original generation
(SURVEY.md §7 hard-part 3: the oracle checks the *post-round-trip
projection*, which equals the generator output iff the codec is
lossless).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from teste_carga_avro_vs_json_spark.functions.avro_codec import (
    from_avro,
    roundtrip_avro,
    to_avro,
)
from teste_carga_avro_vs_json_spark.schemas import MENSAGEM_CARGA

_MSG_COLS = ["id", "timestamp", "sequencia", "dados", "versao"]


def _msg_struct() -> F.Column:
    return F.struct(*[F.col(c) for c in _MSG_COLS])


# ------------------------------------------------------------- JSON path
def json_encode(msgs: DataFrame) -> DataFrame:
    """O5: message columns -> one JSON text column ``valor_json``
    (GeradorCargaEstruturada.java:48-59 builds the same payload via
    Gson; to_json is the declarative equivalent)."""
    return msgs.select(
        F.col("sequencia"),
        F.to_json(_msg_struct()).alias("valor_json"),
    )


def json_decode(encoded: DataFrame, value_col: str = "valor_json") -> DataFrame:
    """O6: JSON text -> typed message struct (GeradorMensagemJson.java:81-83;
    schema-on-read replaces the reference's untyped Map)."""
    return encoded.select(
        F.from_json(F.col(value_col), MENSAGEM_CARGA).alias("msg")
    ).select("msg.*")


def json_roundtrip(msgs: DataFrame) -> DataFrame:
    """encode→decode, returning the message columns (lossless iff equal
    to input — asserted by the oracle + property tests)."""
    return json_decode(json_encode(msgs))


# ------------------------------------------------------------- Avro path
def avro_encode(msgs: DataFrame) -> DataFrame:
    """O3: message columns -> Avro binary column ``valor_avro``."""
    return msgs.select(
        F.col("sequencia"),
        to_avro(_msg_struct()).alias("valor_avro"),
    )


def avro_decode(encoded: DataFrame, value_col: str = "valor_avro") -> DataFrame:
    """O4: Avro binary -> typed message struct."""
    return encoded.select(
        from_avro(F.col(value_col)).alias("msg")
    ).select("msg.*")


def avro_roundtrip(msgs: DataFrame) -> DataFrame:
    """encode→decode fused into one udf invocation (r14): Spark already
    merges a chained to_avro→from_avro pair into one ArrowEvalPython
    node, but materializes the intermediate binary as Arrow between the
    two udfs. ~13% on the e2e lane; values = the exact composition of
    :func:`avro_encode` and :func:`avro_decode`."""
    return msgs.select(
        roundtrip_avro(_msg_struct()).alias("msg")
    ).select("msg.*")


# ----------------------------------------------------- transport lengths
def payload_sizes(msgs: DataFrame) -> DataFrame:
    """Per-message serialized sizes for both formats — the honest
    'real bytes' figure SURVEY.md §5 requires alongside the reference's
    structural estimate (ConsumidorAvro.java:182-191 vs
    ConsumidorJson.java:91,146)."""
    return msgs.select(
        F.col("sequencia"),
        F.octet_length(F.to_json(_msg_struct())).cast("long").alias("bytes_json"),
        F.octet_length(to_avro(_msg_struct())).cast("long").alias("bytes_avro"),
    )
