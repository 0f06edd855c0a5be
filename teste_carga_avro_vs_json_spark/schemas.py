"""Canonical schemas (the single source of truth — SURVEY.md §1.4).

Derived from the reference Avro schema
`/root/reference/src/main/resources/avro/MensagemCarga.avsc:1-30` and the
generator value ranges `GeradorCargaEstruturada.java:20-26`:

- ``Registro``: indice int, texto string(100 chars, [A-Za-z0-9]),
  numero double in [0, 1000), timestamp epoch-millis long, uuid string(36)
- ``MensagemCarga``: id uuid-string, timestamp long, sequencia long,
  dados array<Registro>, versao string default "1.0"
  (default at MensagemCarga.avsc:28)
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

REGISTRO = StructType(
    [
        StructField("indice", IntegerType(), False),
        StructField("texto", StringType(), False),
        StructField("numero", DoubleType(), False),
        StructField("timestamp", LongType(), False),
        StructField("uuid", StringType(), False),
    ]
)

MENSAGEM_CARGA = StructType(
    [
        StructField("id", StringType(), False),
        StructField("timestamp", LongType(), False),
        StructField("sequencia", LongType(), False),
        StructField("dados", ArrayType(REGISTRO, False), False),
        StructField("versao", StringType(), False),
    ]
)

# Avro schema (dict form of the reference .avsc) driving the pure-Python
# binary codec in functions/avro_codec.py. Field order matters: Avro
# binary encoding is positional (MensagemCarga.avsc:6-29).
REGISTRO_AVSC: dict = {
    "type": "record",
    "name": "Registro",
    "fields": [
        {"name": "indice", "type": "int"},
        {"name": "texto", "type": "string"},
        {"name": "numero", "type": "double"},
        {"name": "timestamp", "type": "long"},
        {"name": "uuid", "type": "string"},
    ],
}

MENSAGEM_CARGA_AVSC: dict = {
    "type": "record",
    "name": "MensagemCarga",
    "namespace": "br.com.sandbox.kafka.avro",
    "fields": [
        {"name": "id", "type": "string"},
        {"name": "timestamp", "type": "long"},
        {"name": "sequencia", "type": "long"},
        {"name": "dados", "type": {"type": "array", "items": REGISTRO_AVSC}},
        {"name": "versao", "type": "string", "default": "1.0"},
    ],
}
