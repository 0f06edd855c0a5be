"""Kafka batch/streaming IO (reference O7/O8/O9/O17) — connector plumbing.

With the Spark Kafka connector (spark-sql-kafka-0-10) on the classpath,
``format("kafka")`` serves batch + streaming; its option dicts are pure
builders pinned by tests. Without the jar, bounded reads go through
``format("kafka_wire")`` (:mod:`sources.kafka_wire_source`) over the
stdlib wire client; that path and the wire offset helpers here run
over real sockets against ``kafka_wire.StubBroker`` in the tests.

Mappings:

- **Sink with explicit routing** (ProdutorAvro.java:67-90): the Kafka
  sink honors a ``partition`` column; ``to_wire_frame`` produces
  (key, value, partition) with the reference's ``msg-{i}`` key and
  ``(i-1) % P`` routing. Producer tuning passes through ``kafka.*``
  options (operators/routing.kafka_sink_options).
- **Parallel source** (O8): one Spark input partition per
  TopicPartition — the reference's thread-per-partition fan-out is the
  connector's default; ``minPartitions`` oversubscribes.
- **Offset pruning / tail-N** (O9, ConsumidorAvro.java:163-180):
  ``starting_offsets_tail_n`` computes per-partition
  ``max(begin, end - ceil(target/P))`` as the ``startingOffsets`` JSON.
- **Flow control** (O17): ``maxOffsetsPerTrigger`` when streaming.
"""

from __future__ import annotations

import json
import math

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from teste_carga_avro_vs_json_spark.operators import routing
from teste_carga_avro_vs_json_spark.sources.kafka_wire import (
    EARLIEST,
    LATEST,
    WireKafkaClient,
)

# the wire offset helpers run inside format("kafka_wire") tasks:
# pickle-by-value, so executors don't need the repo on PYTHONPATH
try:
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:  # noqa: BLE001
    pass


# ----------------------------------------------------- offset arithmetic
def tail_n_offsets(
    begin_offsets: dict[int, int], end_offsets: dict[int, int], target_total: int
) -> dict[int, int]:
    """posicionarNoFimMenosN (ConsumidorAvro.java:163-180): per
    partition, start at ``max(begin, end - ceil(target/P))``."""
    num_particoes = len(end_offsets)
    per_part = math.ceil(target_total / num_particoes)
    return {
        p: max(begin_offsets.get(p, 0), end - per_part)
        for p, end in end_offsets.items()
    }


def starting_offsets_tail_n(
    topic: str,
    begin_offsets: dict[int, int],
    end_offsets: dict[int, int],
    target_total: int,
) -> str:
    """The ``startingOffsets`` JSON for a tail-N batch/stream read."""
    starts = tail_n_offsets(begin_offsets, end_offsets, target_total)
    return json.dumps({topic: {str(p): o for p, o in sorted(starts.items())}})


def fetch_offsets(bootstrap_servers: str, topic: str) -> tuple[dict, dict]:
    """Begin/end offsets for tail-N pruning (O9) — kafka-python when
    installed, else the stdlib wire-protocol client
    (:mod:`sources.kafka_wire`), so offset discovery works against any
    broker on a bare environment (SURVEY.md §4: plain driver-side
    helper, not a Catalyst concern)."""
    try:
        from kafka import KafkaConsumer, TopicPartition  # type: ignore
    except ImportError:
        return fetch_offsets_wire(bootstrap_servers, topic)
    consumer = KafkaConsumer(bootstrap_servers=bootstrap_servers)
    parts = [TopicPartition(topic, p) for p in consumer.partitions_for_topic(topic)]
    begins = consumer.beginning_offsets(parts)
    ends = consumer.end_offsets(parts)
    return (
        {tp.partition: o for tp, o in begins.items()},
        {tp.partition: o for tp, o in ends.items()},
    )


def fetch_committed_offsets_wire(
    bootstrap_servers: str,
    group: str,
    topic: str,
    partitions: list[int],
    security: dict | None = None,
) -> dict[int, int]:
    """Broker-stored committed offsets for ``group`` (OffsetFetch v1)
    — partitions with no commit are absent."""
    client = WireKafkaClient.connect(
        bootstrap_servers, **(security or {})
    )
    try:
        return client.offset_fetch(group, topic, partitions)
    finally:
        client.close()


def commit_offsets_wire(
    bootstrap_servers: str,
    group: str,
    topic: str,
    offsets: dict[int, int],
    security: dict | None = None,
) -> None:
    """Commit {partition: next_offset} for ``group`` (OffsetCommit v2)
    — the explicit post-materialization step that makes bounded batch
    reads resumable (``format("kafka_wire")`` with a ``group`` option
    starts from these)."""
    client = WireKafkaClient.connect(
        bootstrap_servers, **(security or {})
    )
    try:
        client.offset_commit(
            group, {(topic, p): off for p, off in offsets.items()}
        )
    finally:
        client.close()


def fetch_offsets_wire(
    bootstrap_servers: str, topic: str, security: dict | None = None
) -> tuple[dict, dict]:
    """Begin/end offsets via the stdlib Kafka wire-protocol client
    (Metadata v1 + ListOffsets v1) — no third-party dependency; the
    loopback broker test drives this against a real socket."""
    client = WireKafkaClient.connect(
        bootstrap_servers, **(security or {})
    )
    try:
        parts = client.partitions_for(topic)
        begins = {
            p: client.list_offset(topic, p, EARLIEST) for p in parts
        }
        ends = {
            p: client.list_offset(topic, p, LATEST) for p in parts
        }
        return begins, ends
    finally:
        client.close()


# ----------------------------------------------------------- wire frames
def to_wire_frame(msgs: DataFrame, value: F.Column, num_particoes: int = 18) -> DataFrame:
    """(key, value, partition) in the Kafka sink contract, with the
    reference's key/routing (ProdutorAvro.java:67-70)."""
    routed = routing.route(msgs, num_particoes)
    return routed.select(
        F.col("chave").alias("key"),
        value.alias("value"),
        F.col("particao").alias("partition"),
    )


# ----------------------------------------------------- option contracts
# Pure builders for the exact option dicts handed to format("kafka") —
# split out so the connector contract is testable without a broker (the
# container ships neither a broker nor spark-sql-kafka): the tests pin
# these dicts and the wire-frame schema; on a cluster the load()/save()
# wrappers below are one jar away from live.


def kafka_write_options(bootstrap_servers: str, topic: str, cfg=None) -> dict[str, str]:
    """Options for a batch produce (sink contract, ProdutorAvro tuning
    via routing.kafka_sink_options)."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
    }
    if cfg is not None:
        opts.update(routing.kafka_sink_options(cfg))
    return opts


def kafka_tail_n_read_options(
    bootstrap_servers: str,
    topic: str,
    begin_offsets: dict[int, int],
    end_offsets: dict[int, int],
    target_total: int,
    min_partitions: int | None = None,
) -> dict[str, str]:
    """Options for a bounded tail-N batch consume (O9): startingOffsets
    carries the per-partition end-N arithmetic."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets_tail_n(
            topic, begin_offsets, end_offsets, target_total
        ),
        "endingOffsets": "latest",
    }
    if min_partitions:
        opts["minPartitions"] = str(min_partitions)
    return opts


def kafka_stream_read_options(
    bootstrap_servers: str,
    topic: str,
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """Options for a streaming consume with O17 flow control
    (maxOffsetsPerTrigger replaces the sleep-every-1000,
    ProdutorAvro.java:93-95)."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": "earliest",
    }
    if max_offsets_per_trigger:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def write_kafka(
    wire: DataFrame, bootstrap_servers: str, topic: str, cfg=None
) -> None:
    """Batch produce. ``wire`` must have key/value(/partition) columns."""
    wire.write.format("kafka").options(
        **kafka_write_options(bootstrap_servers, topic, cfg)
    ).save()


def read_kafka_tail_n(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    target_total: int,
    min_partitions: int | None = None,
) -> DataFrame:
    """Batch consume of the last ~target_total records (O9): compute
    end-N offsets driver-side, then a bounded Kafka scan. One task per
    TopicPartition (O8); raw bytes come back — decode with
    operators/serde or functions/avro_codec downstream.

    Connector autodetect (r6): uses the JVM connector
    (spark-sql-kafka-0-10) when its jar is on the classpath — the
    production path — else reads through ``format("kafka_wire")``
    (same partition-parallel shape, no dependencies), so this API works
    against any broker on a bare PySpark install. Column sets match
    except the JVM connector's extra timestamp/timestampType columns."""
    if not _jvm_kafka_connector_available(spark):
        from teste_carga_avro_vs_json_spark.sources import kafka_wire_source

        kafka_wire_source.register(spark)
        return (
            spark.read.format("kafka_wire")
            .options(
                bootstrap=bootstrap_servers, topic=topic,
                target_total=target_total,
            )
            .load()
        )
    begins, ends = fetch_offsets(bootstrap_servers, topic)
    return (
        spark.read.format("kafka")
        .options(
            **kafka_tail_n_read_options(
                bootstrap_servers, topic, begins, ends, target_total,
                min_partitions,
            )
        )
        .load()
    )


def _jvm_kafka_connector_available(spark: SparkSession) -> bool:
    """True when spark-sql-kafka-0-10 is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:  # noqa: BLE001 - py4j raises wrapped JVM errors
        return False


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming consume with O17 flow control."""
    return (
        spark.readStream.format("kafka")
        .options(
            **kafka_stream_read_options(
                bootstrap_servers, topic, max_offsets_per_trigger
            )
        )
        .load()
    )
