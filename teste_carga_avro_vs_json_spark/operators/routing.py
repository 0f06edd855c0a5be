"""Partition routing, offset pruning, transport mode (O7, O9, O11).

Reference behaviors re-expressed as declarative plans:

- **Routing** (ProdutorAvro.java:67-70): key ``"msg-"+i``, explicit
  partition ``(i-1) % numParticoes``. One ``pmod`` projection — on a
  real Kafka sink this is the ``partition`` column the connector honors.
- **Tail-N seek** (ConsumidorAvro.java:163-180): per assigned partition
  seek to ``max(begin, end − ceil(target/numPartitions))``. On data we
  express it as: per-partition max offset (tiny agg) broadcast-joined
  back, then a filter — NOT a global sort. At 100 TB the agg reduces to
  P rows (P = #partitions) and the join is a broadcast; raw data never
  shuffles.
- **Size estimate** (ConsumidorAvro.java:182-191): the Avro consumer's
  structural estimate Σ(4+8+8+len(texto)+len(uuid)) per registro — a
  higher-order ``aggregate`` over the nested array, fully JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F
from pyspark.sql.window import Window


def route(msgs: DataFrame, num_particoes: int = 18) -> DataFrame:
    """O7 routing arithmetic: chave + particao columns
    (ProdutorAvro.java:67-70)."""
    return msgs.selectExpr(
        "*",
        "concat('msg-', CAST(sequencia AS STRING)) AS chave",
        f"CAST(pmod(sequencia - 1, {num_particoes}) AS INT) AS particao",
    )


def with_offsets(routed: DataFrame) -> DataFrame:
    """Assign per-partition 0-based offsets (Kafka log order stand-in).

    Window by particao ordered by sequencia. Only used by file-mode
    fixtures (F3); real Kafka provides offsets natively.
    """
    w = Window.partitionBy("particao").orderBy("sequencia")
    return routed.withColumn("offset", F.row_number().over(w).cast("long") - 1)


def tail_n(
    transporte: DataFrame, target_total: int, num_particoes: int = 18
) -> DataFrame:
    """O9: keep only the last ~target_total records across partitions —
    ``posicionarNoFimMenosN`` (ConsumidorAvro.java:163-180):
    per-partition start = max(begin, end+1 − ceil(target/P)).

    Plan shape: groupBy(particao).max(offset) → broadcast join → filter.
    The agg output is P rows, so the join is always broadcastable; the
    big side never shuffles (predicate evaluated where the row lives).
    """
    per_part = -(-target_total // num_particoes)  # ceil
    ends = transporte.groupBy("particao").agg(
        (F.max("offset") + 1).alias("end_offset")
    )
    return (
        transporte.join(F.broadcast(ends), "particao")
        .filter(
            F.col("offset")
            >= F.greatest(F.lit(0), F.col("end_offset") - F.lit(per_part))
        )
        .drop("end_offset")
    )


def size_estimate(msgs: DataFrame) -> DataFrame:
    """O11: the reference's structural Avro size estimate per message
    (tamanhoAvroEstruturado, ConsumidorAvro.java:182-191):
    Σ over registros of 4+8+8+len(texto)+len(uuid)."""
    return msgs.select(
        "sequencia",
        F.expr(
            "aggregate(dados, CAST(0 AS BIGINT), "
            "(acc, r) -> acc + 20 + length(r.texto) + length(r.uuid))"
        ).alias("tamanho_estimado"),
    )


def kafka_sink_options(cfg) -> dict[str, str]:
    """Producer tuning passthrough (ConfiguracaoKafka.java:142-148) for
    a real cluster run; documented here so the batch file-mode engine
    and the Kafka mode share one source of truth."""
    return {
        "kafka.acks": "1",
        "kafka.batch.size": str(32 * 1024),
        "kafka.linger.ms": "10",
        "kafka.buffer.memory": str(64 * 1024 * 1024),
        "kafka.max.request.size": str(3 * 1024 * 1024),
        "kafka.compression.type": cfg.compression_type,
    }
