"""File-based sinks/sources (O7 stand-in + north-star format comparison).

The reference's sink is an 18-partition Kafka topic with explicit
per-record routing (ProdutorAvro.java:67-90); its sources are
thread-per-partition consumers (ConsumidorAvro.java:45-125). Without a
broker, the faithful batch equivalents are partitioned file datasets:

- ``write_json`` / ``read_json``   — the JSON wire format as text files,
  one serialized message per line (exactly what the String serializer
  puts on the wire, ConfiguracaoKafka.java:158).
- ``write_avro`` / ``read_avro``   — Avro *binary* values from the
  pure-Python codec, stored as a one-binary-column parquet dataset.
  (The JVM spark-avro module is absent, so .format("avro") OCF files
  are unavailable; the payload bytes ARE real Avro binary — the
  container differs, the wire semantics don't.)
- ``write_parquet`` / ``read_parquet`` — the columnar baseline the
  reference never had; at 100 TB this is the layout that wins, so the
  comparison bench includes it.

All writes partition by the routing column ``particao = (seq-1) % P``
(``partitionBy`` → one directory per partition, matching the topic
layout). Compression passes through per format (lz4 default where the
format supports it, mirroring COMPRESSION_TYPE,
ConfiguracaoKafka.java:112-118).

Scale notes: ``partitionBy("particao")`` with P partitions writes P
dirs per task — fine for P=18; repartition("particao") first when task
count × P would explode small files. Reads prune on ``particao``
(directory pruning) so tail-N consumers touch only their partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from teste_carga_avro_vs_json_spark.operators import routing
from teste_carga_avro_vs_json_spark.schemas import MENSAGEM_CARGA

# Compression per format (COMPRESSION_TYPE lz4 default; JSON text lines
# support gzip-family codecs, parquet supports lz4/zstd/snappy).
_JSON_CODEC = {"none": None, "gzip": "gzip", "snappy": None, "lz4": None, "zstd": None}


def _routed(msgs: DataFrame, num_particoes: int) -> DataFrame:
    return routing.route(msgs, num_particoes)


# ------------------------------------------------------------------ JSON
def write_json(
    msgs: DataFrame,
    path: str,
    num_particoes: int = 18,
    compression: str = "none",
) -> None:
    """Messages -> line-delimited JSON text files partitioned by the
    routing arithmetic. The text written is the exact wire payload
    (to_json of the message struct)."""
    routed = _routed(msgs, num_particoes)
    wire = routed.select(
        "particao",
        F.to_json(
            F.struct("id", "timestamp", "sequencia", "dados", "versao")
        ).alias("value"),
    )
    writer = wire.repartition("particao").write.mode("overwrite").partitionBy(
        "particao"
    )
    codec = _JSON_CODEC.get(compression)
    if codec:
        writer = writer.option("compression", codec)
    writer.text(path)


def read_json(spark: SparkSession, path: str) -> DataFrame:
    """JSON text files -> typed messages + particao (from the directory
    layout). Schema-on-read replaces the reference's untyped Gson Map
    (GeradorMensagemJson.java:81-83)."""
    raw = spark.read.text(path)
    # partition dir column comes back automatically via partition discovery
    return raw.select(
        F.col("particao").cast("int").alias("particao"),
        F.from_json(F.col("value"), MENSAGEM_CARGA).alias("msg"),
    ).select("particao", "msg.*")


# ------------------------------------------------------------------ Avro
def write_avro(
    msgs: DataFrame,
    path: str,
    num_particoes: int = 18,
    compression: str = "lz4",
) -> None:
    """Messages -> Avro-binary values (pure-Python codec) in a
    one-binary-column parquet dataset partitioned by routing."""
    routed = _routed(msgs, num_particoes)
    enc = routed.select(
        "particao",
        F.col("sequencia"),
        _avro_value(routed).alias("value"),
    )
    (
        enc.repartition("particao")
        .write.mode("overwrite")
        .partitionBy("particao")
        .option("compression", _parquet_codec(compression))
        .parquet(path)
    )


def _avro_value(msgs: DataFrame) -> F.Column:
    from teste_carga_avro_vs_json_spark.functions.avro_codec import to_avro

    return to_avro(F.struct("id", "timestamp", "sequencia", "dados", "versao"))


def _parquet_codec(compression: str) -> str:
    return {"none": "uncompressed", "gzip": "gzip", "snappy": "snappy",
            "lz4": "lz4", "zstd": "zstd"}.get(compression, "lz4")


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro-binary parquet -> decoded typed messages + particao."""
    from teste_carga_avro_vs_json_spark.functions.avro_codec import from_avro

    raw = spark.read.parquet(path)
    return raw.select(
        F.col("particao").cast("int").alias("particao"),
        from_avro(F.col("value")).alias("msg"),
    ).select("particao", "msg.*")


# ------------------------------------------------------- Avro OCF (*.avro)
def write_avro_ocf(
    msgs: DataFrame,
    path: str,
    num_particoes: int = 18,
    compression: str = "none",
) -> DataFrame:
    """True Avro Object Container Files (*.avro), one per (task,
    particao) under ``particao=N/`` dirs — readable by any Avro tool.

    Executor-side write via mapInPandas (no driver collect); the
    returned frame is the write manifest (one row per file). Local-FS
    sink: on a real cluster, mount DFS or use the JVM spark-avro
    package (absent in this install — functions/avro_ocf.py docstring).
    """
    import os

    from teste_carga_avro_vs_json_spark.functions import avro_ocf

    codec = "deflate" if compression in ("gzip", "deflate") else "null"
    routed = _routed(msgs, num_particoes)
    enc = routed.select(
        "particao", F.col("sequencia"), _avro_value(routed).alias("value")
    ).repartition("particao")

    def _write(batches):
        import pandas as pd
        from pyspark import TaskContext

        task_id = TaskContext.get().partitionId()
        per_part: dict[int, list[bytes]] = {}
        for pdf in batches:
            for part, val in zip(pdf["particao"].tolist(), pdf["value"].tolist()):
                per_part.setdefault(int(part), []).append(bytes(val))
        rows = []
        for part, records in per_part.items():
            d = os.path.join(path, f"particao={part}")
            os.makedirs(d, exist_ok=True)
            fpath = os.path.join(d, f"part-{task_id:05d}.avro")
            blob = avro_ocf.write_ocf(
                records, codec=codec, sync_token=f"{part}-{task_id}"
            )
            with open(fpath, "wb") as f:
                f.write(blob)
            rows.append((fpath, part, len(records), len(blob)))
        yield pd.DataFrame(rows, columns=["file", "particao", "n_records", "n_bytes"])

    manifest = enc.mapInPandas(
        _write, "file string, particao int, n_records long, n_bytes long"
    ).localCheckpoint()  # eager: files hit disk exactly once
    return manifest


def read_avro_ocf(spark: SparkSession, path: str) -> DataFrame:
    """*.avro OCF dataset -> decoded typed messages + particao (from the
    directory layout). binaryFile source reads whole files per task;
    decoding is Arrow-batched Python."""
    from teste_carga_avro_vs_json_spark.functions import avro_ocf

    raw = spark.read.format("binaryFile").load(f"{path}/particao=*/*.avro")

    def _decode(batches):
        import re

        import pandas as pd

        for pdf in batches:
            rows = []
            for fpath, blob in zip(pdf["path"].tolist(), pdf["content"].tolist()):
                part = int(re.search(r"particao=(\d+)", fpath).group(1))
                for rec in avro_ocf.read_ocf(bytes(blob)):
                    rows.append(
                        (part, rec["id"], rec["timestamp"], rec["sequencia"],
                         rec["dados"], rec["versao"])
                    )
            yield pd.DataFrame(
                rows,
                columns=["particao", "id", "timestamp", "sequencia", "dados", "versao"],
            )

    schema = (
        "particao int, id string, timestamp long, sequencia long, "
        "dados array<struct<indice:int,texto:string,numero:double,"
        "timestamp:bigint,uuid:string>>, versao string"
    )
    return raw.select("path", "content").mapInPandas(_decode, schema)


# --------------------------------------------------------------- Parquet
def write_parquet(
    msgs: DataFrame,
    path: str,
    num_particoes: int = 18,
    compression: str = "lz4",
) -> None:
    """Columnar-native sink: the typed message struct as parquet columns
    (no wire encoding at all — the layout the engine prefers at scale)."""
    routed = _routed(msgs, num_particoes)
    (
        routed.select("particao", "id", "timestamp", "sequencia", "dados", "versao")
        .repartition("particao")
        .write.mode("overwrite")
        .partitionBy("particao")
        .option("compression", _parquet_codec(compression))
        .parquet(path)
    )


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    df = spark.read.parquet(path)
    return df.select(
        F.col("particao").cast("int").alias("particao"),
        "id", "timestamp", "sequencia", "dados", "versao",
    )
