"""Soak the wire-protocol Kafka path at bench scale: produce N 1 KB
Avro messages through ``format("kafka_wire")`` into the loopback
broker, then read the topic back through the distributed source and
decode — the reference's full scenario at 100k-message volume, over
real sockets, with throughput per phase on one JSON line.

This is evidence the r6 surface is not a toy: the stdlib client/broker
sustain bench-scale volume. (The production data path at cluster scale
remains the JVM connector — SCALE.md.)

Usage: python tools/soak_kafka_wire.py [n_msgs]  (default 100_000)
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main() -> None:
    n_msgs = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    parts = 18  # the reference's partition count

    import pyspark.sql.functions as F

    from teste_carga_avro_vs_json_spark.functions.avro_codec import to_avro
    from teste_carga_avro_vs_json_spark.operators import serde
    from teste_carga_avro_vs_json_spark.session import get_spark
    from teste_carga_avro_vs_json_spark.sources import (
        generator,
        io_kafka,
        kafka_wire_source,
    )
    from teste_carga_avro_vs_json_spark.sources.kafka_wire import StubBroker

    spark = get_spark("soak-kafka-wire")
    spark.sparkContext.setLogLevel("ERROR")
    kafka_wire_source.register(spark)

    out: dict = {
        "n_msgs": n_msgs,
        "cpus": spark.sparkContext.defaultParallelism,
        "partitions": parts,
    }
    with StubBroker(num_partitions=parts) as broker:
        bootstrap = f"{broker.addr[0]}:{broker.addr[1]}"
        msgs = generator.mensagens(spark, n_msgs, tamanho_kb=1)
        wire = io_kafka.to_wire_frame(
            msgs,
            to_avro(F.struct("id", "timestamp", "sequencia", "dados", "versao")),
            num_particoes=parts,
        )
        # co-locate each Kafka partition in one task (the JVM sink's
        # shuffle-to-partition shape): full-size record batches, one
        # producer session per partition instead of tasks x partitions
        # small chunks (r7; also lets KIP-98 sequences stay dense)
        wire = wire.repartition(parts, "partition")
        # warm lap (same protocol as bench.py): Python worker spin-up +
        # codegen + the broker's JVM-CRC py4j connections, on a tiny
        # throwaway topic so the measured topic stays clean
        (
            wire.limit(2000).write.format("kafka_wire")
            .option("bootstrap", bootstrap)
            .option("topic", "warm")
            .mode("append")
            .save()
        )
        t0 = time.perf_counter()
        (
            wire.write.format("kafka_wire")
            .option("bootstrap", bootstrap)
            .option("topic", "soak")
            .mode("append")
            .save()
        )
        dt = time.perf_counter() - t0
        out["produce_sec"] = round(dt, 2)
        out["produce_msgs_per_sec"] = round(n_msgs / dt, 1)

        t0 = time.perf_counter()
        raw = (
            spark.read.format("kafka_wire")
            .option("bootstrap", bootstrap)
            .option("topic", "soak")
            .load()
        )
        decoded = serde.avro_decode(raw.withColumnRenamed("value", "valor_avro"))
        agg = decoded.agg(
            F.count(F.lit(1)).alias("n"), F.max("sequencia").alias("mx")
        ).first()
        dt = time.perf_counter() - t0
        out["consume_decode_sec"] = round(dt, 2)
        out["consume_msgs_per_sec"] = round(n_msgs / dt, 1)
        out["rows_consumed"] = agg["n"]
        out["max_sequencia"] = agg["mx"]
        out["broker_bytes"] = sum(
            len(b) for log in broker._logs.values() for _, b in log.batches
        )

    # ---- authenticated lane (r9): the SAME consume through a
    # SASL-PLAIN-requiring broker — auth is a per-connection handshake
    # (one round trip per TopicPartition task socket), so throughput
    # must be ~the plaintext lane, which this lane evidences.
    with StubBroker(
        num_partitions=parts, sasl_plain={"soak-key": "soak-secret"}
    ) as broker:
        bootstrap = f"{broker.addr[0]}:{broker.addr[1]}"
        sasl_opts = {
            "security_protocol": "SASL_PLAINTEXT",
            "sasl_username": "soak-key",
            "sasl_password": "soak-secret",
        }
        n_auth = max(n_msgs // 5, 2000)
        wire_auth = io_kafka.to_wire_frame(
            generator.mensagens(spark, n_auth, tamanho_kb=1),
            to_avro(F.struct("id", "timestamp", "sequencia", "dados", "versao")),
            num_particoes=parts,
        ).repartition(parts, "partition")
        writer = wire_auth.write.format("kafka_wire").option(
            "bootstrap", bootstrap
        ).option("topic", "soak_auth").mode("append")
        for k, v in sasl_opts.items():
            writer = writer.option(k, v)
        t0 = time.perf_counter()
        writer.save()
        dt = time.perf_counter() - t0
        out["sasl_produce_sec"] = round(dt, 2)
        out["sasl_produce_msgs_per_sec"] = round(n_auth / dt, 1)
        reader = spark.read.format("kafka_wire").option(
            "bootstrap", bootstrap
        ).option("topic", "soak_auth")
        for k, v in sasl_opts.items():
            reader = reader.option(k, v)
        t0 = time.perf_counter()
        n_read = reader.load().count()
        dt = time.perf_counter() - t0
        out["sasl_consume_sec"] = round(dt, 2)
        out["sasl_rows_consumed"] = n_read
        out["sasl_n_msgs"] = n_auth
        out["sasl_exact"] = n_read == n_auth
    try:
        out["loadavg_1m"] = round(os.getloadavg()[0], 1)
    except OSError:
        pass
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
