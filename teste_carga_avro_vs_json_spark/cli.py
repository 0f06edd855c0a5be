"""App dispatcher (reference O18) — file-mode batch apps.

The reference fat-jar selects one of four applications from
``TIPO_APLICACAO`` and exits 1 on an invalid value
(AplicacaoPrincipal.java:14-59). The engine's equivalent apps run the
same pipelines against a partitioned file dataset — or, when
``KAFKA_BOOTSTRAP_SERVERS`` is set (r6), against a REAL broker topic
through the wire-protocol DataSource (``format("kafka_wire")``), which
is the reference's actual produce/consume scenario:

- PRODUTOR_AVRO / PRODUTOR_JSON: generate TOTAL_MENSAGENS messages of
  TAMANHO_MENSAGEM_KB, serialize, write the partitioned wire dataset,
  then print the producer metrics report (ProdutorAvro.java:105-139).
- CONSUMIDOR_AVRO / CONSUMIDOR_JSON: read the wire dataset back,
  decode per BENCH_MODE (E2E_PARSE parses, TRANSPORTE counts raw
  bytes — ConfiguracaoKafka.java:98-106), apply WARMUP_MENSAGENS,
  aggregate, print the report.

Usage::

    python -m teste_carga_avro_vs_json_spark --app PRODUTOR_JSON \
        --path /tmp/carga-json [--total N] [--kb K]
"""

from __future__ import annotations

import argparse
import json
import sys

import pyspark.sql.functions as F

from teste_carga_avro_vs_json_spark.config import APPS, EngineConfig
from teste_carga_avro_vs_json_spark.operators import metrics, routing
from teste_carga_avro_vs_json_spark.session import get_spark
from teste_carga_avro_vs_json_spark.sources import generator, io_files


def _report(msgs, warmup: int):
    """Metrics report over a message frame: structural size estimate,
    all success (file writes either all land or the job fails — acks=1
    semantics collapse to job success in batch). ``registrar`` keeps
    (sequencia, tamanho_bytes, sucesso); the event clock is rebuilt
    from ``sequencia`` after it (the generator's EPOCH0 + sequencia)."""
    src = metrics.registrar(
        routing.size_estimate(msgs),
        bytes_col="tamanho_estimado",
        sucesso_col=F.lit(True),
    ).withColumn("ts_ms", F.lit(generator.EPOCH0) + F.col("sequencia"))
    return metrics.relatorio(metrics.metricas_agg(metrics.warmup_filter(src, warmup)))


def run_app(app: str, path: str, cfg: EngineConfig, spark=None) -> dict:
    """Execute one app; returns the report row as a plain dict
    (imprimirRelatorio + gerarRelatorioJson, MetricasDesempenho.java:74-133).
    """
    app = app.strip().upper()
    if app not in APPS:
        raise ValueError(f"TIPO_APLICACAO invalido: {app!r}; use {APPS}")
    spark = spark or get_spark(app_name=f"engine-{app.lower()}")
    total, kb, P = cfg.total_mensagens, cfg.tamanho_mensagem_kb, cfg.num_particoes
    warmup = cfg.warmup_mensagens

    if cfg.bench_mode == "MICRO":
        # Kafka-free in-memory encode->decode->aggregate: documented in
        # the reference (.env.template:17) but implemented nowhere —
        # SURVEY.md §5 makes it the engine's minimum slice. No files.
        msgs = generator.mensagens(spark, total, kb)
        from teste_carga_avro_vs_json_spark.operators import serde

        decoded = (
            serde.json_roundtrip(msgs)
            if app.endswith("JSON")
            else serde.avro_roundtrip(msgs)
        )
        report = _report(decoded, warmup)
    elif cfg.bootstrap_servers:
        # TRUE Kafka mode (r6): the reference's actual scenario — the
        # producer app publishes keyed, partition-routed wire frames to
        # a broker topic; the consumer app reads the topic back and
        # reports. Runs against any broker speaking the wire protocol
        # (loopback StubBroker in tests; a real cluster in prod) via
        # the registered format("kafka_wire") DataSource.
        from teste_carga_avro_vs_json_spark.functions.avro_codec import to_avro
        from teste_carga_avro_vs_json_spark.operators import serde
        from teste_carga_avro_vs_json_spark.sources import io_kafka, kafka_wire_source

        kafka_wire_source.register(spark)
        is_json = app.endswith("JSON")
        topic = cfg.topico_json if is_json else cfg.topico_avro
        # kafka_security()'s keys are the source's option names
        conn = dict(
            bootstrap=cfg.bootstrap_servers, topic=topic, **cfg.kafka_security()
        )
        if app.startswith("PRODUTOR"):
            # generated once: the write fills the lazy checkpoint and
            # the report reads it back
            msgs = generator.mensagens(spark, total, kb)
            msgs = msgs.localCheckpoint(eager=False)
            struct = F.struct("id", "timestamp", "sequencia", "dados", "versao")
            value = (
                F.encode(F.to_json(struct), "UTF-8") if is_json else to_avro(struct)
            )
            wire = io_kafka.to_wire_frame(msgs, value, P)
            (
                wire.write.format("kafka_wire")
                .options(**conn, compression=cfg.compression_type)
                .mode("append")
                .save()
            )
            report = _report(msgs, warmup)
        else:
            # the reference consumer positions at end-N before reading
            # (posicionarNoFimMenosN, ConsumidorAvro.java:163-180): only
            # the LAST total_mensagens records count toward the report
            if cfg.consumo_em_grupo:
                # r10: the reference's ACTUAL threading model — N
                # GroupConsumer threads in ONE broker-coordinated
                # group (grupo-carga-*-1, ConsumidorAvro.java:29,
                # 57-68), each tail-seeking on (re)assignment
                from teste_carga_avro_vs_json_spark.sources.kafka_group import (
                    grouped_tail_read,
                )

                rows = grouped_tail_read(
                    cfg.bootstrap_servers,
                    topic,
                    group=(
                        "grupo-carga-json-1" if is_json
                        else "grupo-carga-avro-1"
                    ),
                    n_threads=cfg.threads,
                    target_total=total,
                    security=cfg.kafka_security(),
                )
                raw = spark.createDataFrame(
                    [(p, off, k, v) for (p, off, k, v) in rows],
                    "partition int, offset long, key binary, value binary",
                )
            else:
                raw = (
                    spark.read.format("kafka_wire")
                    .options(**conn, target_total=total)
                    .load()
                )
            if cfg.bench_mode == "TRANSPORTE":
                src = raw.select(
                    F.col("offset").alias("sequencia"),
                    F.octet_length("value").cast("long").alias("tamanho_bytes"),
                    F.lit(True).alias("sucesso"),
                    F.lit(generator.EPOCH0).alias("ts_ms"),
                )
                report = metrics.relatorio(metrics.metricas_agg(src))
            else:  # E2E_PARSE
                decoded = (
                    serde.json_decode(
                        raw.select(F.decode("value", "UTF-8").alias("valor_json"))
                    )
                    if is_json
                    else serde.avro_decode(
                        raw.withColumnRenamed("value", "valor_avro")
                    )
                )
                report = _report(decoded, warmup)
    elif app.startswith("PRODUTOR"):
        # generated once, as in the Kafka producer above
        msgs = generator.mensagens(spark, total, kb)
        msgs = msgs.localCheckpoint(eager=False)
        if app == "PRODUTOR_JSON":
            io_files.write_json(msgs, path, P, cfg.compression_type)
        else:
            io_files.write_avro(msgs, path, P, cfg.compression_type)
        report = _report(msgs, warmup)
    else:
        if cfg.bench_mode == "TRANSPORTE":
            # raw bytes, no parse (ConsumidorJson.java:59-114)
            if app == "CONSUMIDOR_JSON":
                raw = spark.read.text(path).select(
                    F.octet_length("value").cast("long").alias("tamanho_bytes")
                )
            else:
                raw = spark.read.parquet(path).select(
                    F.octet_length("value").cast("long").alias("tamanho_bytes")
                )
            src = raw.select(
                F.monotonically_increasing_id().alias("sequencia"),
                "tamanho_bytes",
                F.lit(True).alias("sucesso"),
                F.lit(generator.EPOCH0).alias("ts_ms"),
            )
            report = metrics.relatorio(metrics.metricas_agg(src))
        else:  # E2E_PARSE
            decoded = (
                io_files.read_json(spark, path)
                if app == "CONSUMIDOR_JSON"
                else io_files.read_avro(spark, path)
            )
            report = _report(decoded, warmup)

    [row] = report.collect()
    return row.asDict()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="teste_carga_avro_vs_json_spark")
    ap.add_argument("--app", required=True, help=f"one of {APPS}")
    ap.add_argument("--path", required=True, help="wire dataset directory")
    ap.add_argument("--total", type=int, default=None)
    ap.add_argument("--kb", type=int, default=None)
    args = ap.parse_args(argv)

    cfg = EngineConfig.from_env()
    if args.total is not None:
        cfg.total_mensagens = args.total
    if args.kb is not None:
        cfg.tamanho_mensagem_kb = args.kb
    try:
        report = run_app(args.app, args.path, cfg)
    except ValueError as e:
        print(str(e), file=sys.stderr)
        return 1  # AplicacaoPrincipal.java:44-50 exit-1 on invalid app
    print(json.dumps(report, ensure_ascii=False))
    return 0


if __name__ == "__main__":
    sys.exit(main())
