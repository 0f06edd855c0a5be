"""Soak the paper's own transport: the cli Kafka apps, end to end.

Each cell is one ``cli.run_app`` pair, PRODUTOR_* then CONSUMIDOR_*
(E2E_PARSE), of N 1 KB messages against the loopback ``StubBroker``
with the reference's 18 partitions, for AVRO and JSON × the codecs
``none`` and ``lz4`` (the cli default). One warm lap of small pairs
runs first (Python-worker spin-up, codegen, the broker's py4j
connections). A last cell runs one Avro/lz4 pair through a broker that
requires SASL PLAIN (``security_protocol=SASL_PLAINTEXT``).

Prints one JSON line: per cell the producer and consumer wall times,
the rows produced, stored by the broker and consumed, and the bytes
the broker stored.

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

PARTS = 18  # the reference's partition count
FORMATS = ("AVRO", "JSON")
CODECS = ("none", "lz4")


def _cell(spark, broker, fmt: str, codec: str, n: int, topic: str,
          **security) -> dict:
    """One producer app then one consumer app on a fresh ``topic``."""
    from teste_carga_avro_vs_json_spark.cli import run_app
    from teste_carga_avro_vs_json_spark.config import EngineConfig

    cfg = EngineConfig(
        total_mensagens=n,
        tamanho_mensagem_kb=1,
        num_particoes=PARTS,
        bootstrap_servers=f"{broker.addr[0]}:{broker.addr[1]}",
        compression_type=codec,
        topico_avro=topic,
        topico_json=topic,
        **security,
    )
    t0 = time.perf_counter()
    prod = run_app(f"PRODUTOR_{fmt}", "", cfg, spark)
    t1 = time.perf_counter()
    cons = run_app(f"CONSUMIDOR_{fmt}", "", cfg, spark)
    t2 = time.perf_counter()
    logs = [broker._log(topic, p) for p in range(PARTS)]
    return {
        "produce_s": round(t1 - t0, 2),
        "produce_msgs_per_s": round(n / (t1 - t0), 1),
        "consume_s": round(t2 - t1, 2),
        "consume_msgs_per_s": round(n / (t2 - t1), 1),
        "rows_produced": prod["total_mensagens"],
        "rows_stored": sum(log.next_offset for log in logs),
        "rows_consumed": cons["total_mensagens"],
        "broker_bytes": sum(len(b) for log in logs for _, b in log.batches),
    }


def main() -> None:
    n_msgs = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000

    from teste_carga_avro_vs_json_spark.session import get_spark
    from teste_carga_avro_vs_json_spark.sources.kafka_wire import StubBroker

    spark = get_spark("soak-kafka-wire")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {
        "n_msgs": n_msgs,
        "kb": 1,
        "cpus": spark.sparkContext.defaultParallelism,
        "partitions": PARTS,
        "cells": {},
    }
    with StubBroker(num_partitions=PARTS) as broker:
        for fmt in FORMATS:
            _cell(spark, broker, fmt, "lz4", 2000, f"warm-{fmt.lower()}")
        for codec in CODECS:
            for fmt in FORMATS:
                name = f"{fmt.lower()}_{codec}"
                out["cells"][name] = _cell(
                    spark, broker, fmt, codec, n_msgs, f"soak-{name}"
                )
    n_auth = max(n_msgs // 5, 2000)
    with StubBroker(
        num_partitions=PARTS, sasl_plain={"soak-key": "soak-secret"}
    ) as broker:
        out["cells"]["sasl_avro_lz4"] = _cell(
            spark, broker, "AVRO", "lz4", n_auth, "soak-sasl",
            security_protocol="SASL_PLAINTEXT",
            cluster_api_key="soak-key",
            cluster_api_secret="soak-secret",
        )
    cells = out["cells"]
    out["exact"] = all(
        c["rows_produced"] == c["rows_stored"] == c["rows_consumed"]
        for c in cells.values()
    )
    out["lz4_vs_none_produce"] = {
        fmt.lower(): round(
            cells[f"{fmt.lower()}_lz4"]["produce_s"]
            / cells[f"{fmt.lower()}_none"]["produce_s"], 3
        )
        for fmt in FORMATS
    }
    try:
        out["loadavg_1m"] = round(os.getloadavg()[0], 1)
    except OSError:
        pass
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
