"""File sinks/sources (O7 stand-in), streaming bounded drain (O16),
CLI dispatcher (O18)."""

import pyspark.sql.functions as F
import pytest

from teste_carga_avro_vs_json_spark.config import EngineConfig
from teste_carga_avro_vs_json_spark.cli import run_app
from teste_carga_avro_vs_json_spark.operators import metrics
from teste_carga_avro_vs_json_spark.sources import generator, io_files


def _msgs(spark, n=30):
    return generator.mensagens(spark, n, tamanho_kb=1)


def _flat_set(df):
    return {tuple(r) for r in generator.registros_flat(df).collect()}


@pytest.mark.parametrize("fmt", ["json", "avro", "parquet"])
def test_file_roundtrip_lossless(spark, tmp_path, fmt):
    msgs = _msgs(spark)
    path = str(tmp_path / fmt)
    writer, reader = {
        "json": (io_files.write_json, io_files.read_json),
        "avro": (io_files.write_avro, io_files.read_avro),
        "parquet": (io_files.write_parquet, io_files.read_parquet),
    }[fmt]
    writer(msgs, path, num_particoes=6)
    back = reader(spark, path)
    # directory layout == routing arithmetic
    routed = {r.sequencia: r.particao for r in back.collect()}
    assert all(p == (s - 1) % 6 for s, p in routed.items())
    assert _flat_set(back.drop("particao")) == _flat_set(msgs)


@pytest.mark.parametrize("compression", ["none", "gzip"])
def test_avro_ocf_roundtrip(spark, tmp_path, compression):
    msgs = _msgs(spark, 24)
    path = str(tmp_path / f"ocf-{compression}")
    manifest = io_files.write_avro_ocf(msgs, path, num_particoes=4,
                                       compression=compression)
    files = manifest.collect()
    assert sum(r.n_records for r in files) == 24
    back = io_files.read_avro_ocf(spark, path)
    routed = {r.sequencia: r.particao for r in back.collect()}
    assert all(p == (s - 1) % 4 for s, p in routed.items())
    assert _flat_set(back.drop("particao")) == _flat_set(msgs)


def test_avro_ocf_header_is_spec_shaped(spark, tmp_path):
    from teste_carga_avro_vs_json_spark.functions import avro_ocf

    msgs = _msgs(spark, 3)
    path = str(tmp_path / "ocf-hdr")
    [f] = io_files.write_avro_ocf(msgs, path, num_particoes=1).collect()
    blob = open(f.file, "rb").read()
    assert blob[:4] == avro_ocf.MAGIC
    assert b"avro.schema" in blob[:2048]
    assert b"br.com.sandbox.kafka.avro" in blob[:2048]  # reference namespace


def test_stream_metrics_equals_batch(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.registry import (
        _eventos_como_mensagens,
        q_stream_metrics_agg,
    )

    batch = metrics.metricas_agg(_eventos_como_mensagens(spark, sf_dir))
    stream = q_stream_metrics_agg(spark, sf_dir)
    assert stream.columns == batch.columns
    assert [tuple(r) for r in stream.collect()] == [tuple(r) for r in batch.collect()]


def test_stream_dedup_exactly_once(spark, sf_dir):
    """Doubled at-least-once input -> exactly-once output: the
    watermarked stream dedup emits precisely the original row set."""
    from teste_carga_avro_vs_json_spark.registry import q_stream_dedup
    from teste_carga_avro_vs_json_spark.session import load_table

    out = q_stream_dedup(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    assert out.count() == docs.count()
    assert out.select("doc_id").distinct().count() == docs.count()


def test_stream_stream_join_equals_batch(spark, sf_dir):
    """Two live streams joined on key + time-range emit exactly the
    batch join's row set (inner stream-stream joins add no rows and
    lose none when state outlives the drain)."""
    from teste_carga_avro_vs_json_spark.registry import q_stream_stream_join
    from teste_carga_avro_vs_json_spark.session import load_table

    out = q_stream_stream_join(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.expr("ts div 1000000").alias("ms")
    )
    p = ev.filter(F.col("event_type") == "purchase").alias("p")
    c = ev.filter(F.col("event_type") == "click").alias("c")
    batch = p.join(
        c,
        (F.col("c.user_id") == F.col("p.user_id"))
        & (F.col("c.ms") <= F.col("p.ms"))
        & (F.col("c.ms") >= F.col("p.ms") - 86400000),
    ).select(
        F.col("p.event_id").alias("purchase_id"),
        F.col("p.user_id").alias("user_id"),
        F.col("c.event_id").alias("click_id"),
        F.col("p.ms").alias("p_ms"),
        F.col("c.ms").alias("c_ms"),
    )
    assert out.columns == batch.columns
    assert set(map(tuple, out.collect())) == set(map(tuple, batch.collect()))
    assert out.count() == batch.count()


def test_stream_json_wire_decode(spark, tmp_path):
    from teste_carga_avro_vs_json_spark.streaming import (
        json_wire_stream,
        run_bounded,
    )

    msgs = _msgs(spark, 12)
    path = str(tmp_path / "wire")
    io_files.write_json(msgs, path, num_particoes=3)
    decoded = run_bounded(
        json_wire_stream(spark, path), query_name="t_stream_decode",
        output_mode="append",
    )
    assert _flat_set(decoded) == _flat_set(msgs)


def test_observe_live_metrics(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.registry import _eventos_como_mensagens
    from teste_carga_avro_vs_json_spark.streaming import (
        eventos_stream,
        metricas_stream,
        run_bounded,
    )
    from teste_carga_avro_vs_json_spark.streaming.pipeline import with_live_metrics

    src = with_live_metrics(eventos_stream(spark, sf_dir))
    out = run_bounded(metricas_stream(src), query_name="t_observe")
    n = _eventos_como_mensagens(spark, sf_dir).count()
    [row] = out.collect()
    assert row.total_mensagens == n


def test_row_target_listener_accumulates():
    from teste_carga_avro_vs_json_spark.streaming.pipeline import RowTargetStop

    listener = RowTargetStop("no-such-query", 100)

    class _Progress:
        name = "no-such-query"
        numInputRows = 60

    class _Event:
        progress = _Progress()

    listener.onQueryProgress(_Event())
    assert listener.seen == 60
    listener.onQueryProgress(_Event())  # crosses target; no live query -> no-op
    assert listener.seen == 120


def test_multimodal_resize(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.operators import multimodal

    media = multimodal.synth_media(
        spark.read.parquet(f"{sf_dir}/documents.parquet").limit(10)
    )
    out = multimodal.resize(media, 224, 224).collect()
    assert len(out) == 10
    for r in out:
        assert (r.width, r.height) == (224, 224)
        assert len(r.payload) >= 1


def test_cli_producer_consumer_json(spark, tmp_path):
    cfg = EngineConfig(
        total_mensagens=25, tamanho_mensagem_kb=1, num_particoes=4,
        warmup_mensagens=5,
    )
    path = str(tmp_path / "cli-json")
    prod = run_app("PRODUTOR_JSON", path, cfg, spark)
    assert prod["total_mensagens"] == 20  # 25 - 5 warmup
    cons = run_app("CONSUMIDOR_JSON", path, cfg, spark)
    assert cons["total_mensagens"] == 20
    assert cons["taxa_sucesso_porcentagem"] == "100.00"
    # the event clock is EPOCH0 + sequencia; warmup drops sequences 1-5
    from teste_carga_avro_vs_json_spark.sources.generator import EPOCH0

    for rep in (prod, cons):
        assert rep["timestamp_inicio"] == EPOCH0 + 6
        assert rep["timestamp_fim"] == EPOCH0 + 25


def test_cli_transport_mode(spark, tmp_path):
    cfg = EngineConfig(
        total_mensagens=10, tamanho_mensagem_kb=1, num_particoes=2,
        bench_mode="TRANSPORTE",
    )
    path = str(tmp_path / "cli-avro")
    run_app("PRODUTOR_AVRO", path, cfg, spark)
    rep = run_app("CONSUMIDOR_AVRO", path, cfg, spark)
    assert rep["total_mensagens"] == 10
    assert rep["total_bytes"] > 0


def test_cli_micro_mode(spark, tmp_path):
    # MICRO: in-memory serde round trip, no files written
    cfg = EngineConfig(
        total_mensagens=15, tamanho_mensagem_kb=1, num_particoes=2,
        bench_mode="MICRO",
    )
    path = str(tmp_path / "micro-nothing")
    rep = run_app("PRODUTOR_AVRO", path, cfg, spark)
    assert rep["total_mensagens"] == 15
    import os

    assert not os.path.exists(path)


def test_cli_invalid_app_exits_1(spark, tmp_path):
    with pytest.raises(ValueError, match="TIPO_APLICACAO"):
        run_app("PRODUTOR_XML", str(tmp_path), EngineConfig(), spark)


def test_cli_main_invalid_app_rc1(tmp_path):
    from teste_carga_avro_vs_json_spark.cli import main

    rc = main(["--app", "NOPE", "--path", str(tmp_path), "--total", "1"])
    assert rc == 1


def test_windowed_metrics_stream_equals_batch(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.operators import metrics as m
    from teste_carga_avro_vs_json_spark.registry import _eventos_como_mensagens
    from teste_carga_avro_vs_json_spark.streaming import eventos_stream, run_bounded
    from teste_carga_avro_vs_json_spark.streaming.pipeline import (
        metricas_stream_janela,
    )

    batch = {
        tuple(r)
        for r in m.metricas_por_janela(
            _eventos_como_mensagens(spark, sf_dir), janela_ms=60_000
        ).collect()
    }
    # complete mode: bounded drain must emit every window (no watermark)
    stream = run_bounded(
        metricas_stream_janela(
            eventos_stream(spark, sf_dir), janela_s=60, watermark_s=None
        ),
        query_name="t_windowed",
    )
    assert {tuple(r) for r in stream.collect()} == batch


def test_run_bounded_stream_state_partitions_follow_host(spark, sf_dir):
    """A stateful query pins its state-store partition count at first
    start and AQE never coalesces it, so run_bounded starts its query
    with one shuffle partition per task slot; the session keeps its
    batch value."""
    from pyspark.sql.streaming import StreamingQueryListener

    from teste_carga_avro_vs_json_spark.streaming import eventos_stream, run_bounded
    from teste_carga_avro_vs_json_spark.streaming.pipeline import (
        metricas_stream_janela,
    )

    class Progress(StreamingQueryListener):
        def __init__(self):
            super().__init__()
            self.seen = []

        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            if event.progress.name == "t_state_partitions":
                self.seen.append(event.progress)

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    key = "spark.sql.shuffle.partitions"
    batch_partitions = spark.conf.get(key)
    listener = Progress()
    spark.streams.addListener(listener)
    try:
        run_bounded(
            metricas_stream_janela(
                eventos_stream(spark, sf_dir), janela_s=60, watermark_s=None
            ),
            query_name="t_state_partitions",
        )
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    assert listener.seen, "no progress event for the query"
    last = listener.seen[-1]
    assert last.stateOperators
    assert {op.numShufflePartitions for op in last.stateOperators} == {
        spark.sparkContext.defaultParallelism
    }
    assert spark.conf.get(key) == batch_partitions


def test_stateful_sequence_audit(spark, tmp_path):
    """applyInPandasWithState gap detector: drop known sequences from a
    routed wire dataset; the audit must count exactly those holes."""
    import pyspark.sql.functions as F

    from teste_carga_avro_vs_json_spark.streaming.pipeline import (
        json_wire_stream,
        run_bounded,
    )
    from teste_carga_avro_vs_json_spark.streaming.stateful import (
        auditoria_sequencia,
    )

    P = 3
    dropped = {7, 13, 14}  # partitions (7-1)%3=0, (13-1)%3=0, (14-1)%3=1
    msgs = _msgs(spark, 30).filter(~F.col("sequencia").isin(*dropped))
    path = str(tmp_path / "audit-wire")
    io_files.write_json(msgs, path, num_particoes=P)
    decoded = json_wire_stream(spark, path).select(
        F.pmod(F.col("sequencia") - 1, F.lit(P)).cast("int").alias("particao"),
        "sequencia",
    )
    out = run_bounded(
        auditoria_sequencia(decoded, num_particoes=P), query_name="t_audit",
        output_mode="update",
    )
    # update mode may emit once per batch; keep the final row per particao
    final = {}
    for r in out.collect():
        cur = final.get(r.particao)
        if cur is None or r.total_linhas > cur.total_linhas:
            final[r.particao] = r
    assert final[0].n_faltando == 2   # seqs 7 and 13 missing from particao 0
    assert final[1].n_faltando == 1   # seq 14 missing from particao 1
    assert final[2].n_faltando == 0
    assert sum(r.total_linhas for r in final.values()) == 27
    assert all(r.n_fora_de_ordem == 0 for r in final.values())


# ------------------------------------------------- kafka connector contract
# No broker / spark-sql-kafka jar ships in this container, so these pin
# the exact contract the connector would receive: the wire-frame schema
# + routing values and the option dicts (the only engine-owned parts;
# format("kafka") itself is Spark's).
def test_wire_frame_schema_and_routing(spark):
    from teste_carga_avro_vs_json_spark.sources import io_kafka

    msgs = _msgs(spark, 40)
    wire = io_kafka.to_wire_frame(
        msgs, F.to_json(F.struct("sequencia")).alias("v"), num_particoes=18
    )
    assert wire.columns == ["key", "value", "partition"]
    assert dict(wire.dtypes)["partition"] == "int"
    rows = {r.key: r for r in wire.collect()}
    # ProdutorAvro.java:67-70: key = "msg-{i}", partition = (i-1) % P
    for seq in (1, 18, 19, 40):
        r = rows[f"msg-{seq}"]
        assert r.partition == (seq - 1) % 18
        assert f'"sequencia":{seq}' in r.value


def test_kafka_write_options_producer_tuning():
    from teste_carga_avro_vs_json_spark.config import EngineConfig
    from teste_carga_avro_vs_json_spark.sources import io_kafka

    assert io_kafka.kafka_write_options("b:9092", "t") == {
        "kafka.bootstrap.servers": "b:9092",
        "topic": "t",
    }
    opts = io_kafka.kafka_write_options(
        "b:9092", "t", EngineConfig(compression_type="lz4")
    )
    # ConfiguracaoKafka.java:142-148 producer tuning passthrough
    assert opts["kafka.acks"] == "1"
    assert opts["kafka.batch.size"] == str(32 * 1024)
    assert opts["kafka.linger.ms"] == "10"
    assert opts["kafka.compression.type"] == "lz4"


def test_kafka_tail_n_read_options_offsets_json():
    import json as _json

    from teste_carga_avro_vs_json_spark.sources import io_kafka

    begins = {0: 5, 1: 0, 2: 0}
    ends = {0: 100, 1: 30, 2: 7}
    opts = io_kafka.kafka_tail_n_read_options(
        "b:9092", "t", begins, ends, 60, min_partitions=6
    )
    assert opts["kafka.bootstrap.servers"] == "b:9092"
    assert opts["subscribe"] == "t"
    assert opts["endingOffsets"] == "latest"
    assert opts["minPartitions"] == "6"
    # ConsumidorAvro.java:163-180: start = max(begin, end - ceil(60/3))
    assert _json.loads(opts["startingOffsets"]) == {
        "t": {"0": 80, "1": 10, "2": 0}
    }


def test_kafka_stream_read_options_flow_control():
    from teste_carga_avro_vs_json_spark.sources import io_kafka

    opts = io_kafka.kafka_stream_read_options("b:9092", "t", 1000)
    assert opts == {
        "kafka.bootstrap.servers": "b:9092",
        "subscribe": "t",
        "startingOffsets": "earliest",
        "maxOffsetsPerTrigger": "1000",
    }
    assert "maxOffsetsPerTrigger" not in io_kafka.kafka_stream_read_options(
        "b:9092", "t"
    )


def test_stream_sessionize_equals_batch(spark, sf_dir):
    """Registry-retired twin (registry capped at 50 driver-checked
    entries): the watermarked streaming session_window drain must emit
    exactly the sessions the batch session_window computes (and batch
    session_window == lag+cumsum is pinned in test_llmops)."""
    from teste_carga_avro_vs_json_spark import registry

    got = {
        (r.user_id, r.start_ms, r.n_events)
        for r in registry.q_stream_sessionize(spark, sf_dir).collect()
    }
    from teste_carga_avro_vs_json_spark.session import load_table

    batch = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.timestamp_millis(F.expr("ts div 1000000")).alias("evt"),
        )
        .groupBy("user_id", F.session_window("evt", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_millis(F.col("session_window.start")).alias("start_ms"),
            "n_events",
        )
    )
    want = {(r.user_id, r.start_ms, r.n_events) for r in batch.collect()}
    assert got == want


def test_write_kafka_reaches_connector_boundary(spark):
    """Broker-less sink validation one step past the option dicts: the
    full write path (wire frame -> options -> format("kafka").save())
    must execute up to Spark's data-source resolution and fail there
    with the canonical missing-connector error — NOT an options/schema
    error. On a cluster with spark-sql-kafka-0-10 on the classpath the
    identical call is live (SURVEY.md §4 known-gap #1)."""
    from teste_carga_avro_vs_json_spark.sources import io_kafka

    wire = io_kafka.to_wire_frame(
        _msgs(spark, 5),
        F.to_json(F.struct("sequencia")).alias("v"),
        num_particoes=3,
    )
    with pytest.raises(Exception) as ei:
        io_kafka.write_kafka(wire, "broker:9092", "t")
    msg = str(ei.value)
    assert "kafka" in msg.lower()
    # Spark 4's missing-provider error class; anything else means the
    # sink contract itself (columns/options) was rejected first
    assert "DATA_SOURCE_NOT_FOUND" in msg or "Failed to find" in msg


def test_read_kafka_reaches_connector_boundary(spark):
    """Read-side twin of the write boundary test. Since r6
    read_kafka_tail_n AUTODETECTS the missing JVM connector and falls
    back to format("kafka_wire"), so the plan composes lazily; offset
    discovery happens when the scan is planned, so the failure surface
    moved from data-source resolution to the socket connect at
    execution time (there is no broker at this address) — the API
    itself is total now."""
    from teste_carga_avro_vs_json_spark.sources import io_kafka

    df = io_kafka.read_kafka_tail_n(
        spark,
        "127.0.0.1:1",  # nothing listens here
        "t",
        target_total=100,
    )
    assert df.columns == ["topic", "partition", "offset", "key", "value"]
    with pytest.raises(Exception) as ei:
        df.collect()  # execution reaches the (dead) socket
    assert "refused" in str(ei.value).lower() or "Connection" in str(ei.value)


def test_read_kafka_stream_reaches_connector_boundary(spark):
    """Streaming-read twin of the write boundary test: the consume side
    of the paper's flow (options from kafka_stream_read_options ->
    readStream.format("kafka").load()) gets as far as Spark's
    data-source resolution and fails there with the missing-connector
    error, not an options error."""
    from teste_carga_avro_vs_json_spark.sources import io_kafka

    with pytest.raises(Exception) as ei:
        io_kafka.read_kafka_stream(
            spark, "broker:9092", "t", max_offsets_per_trigger=1000
        )
    msg = str(ei.value)
    assert "kafka" in msg.lower()
    assert "DATA_SOURCE_NOT_FOUND" in msg or "Failed to find" in msg


def test_fetch_offsets_drives_kafka_python_api_contract(monkeypatch):
    """fetch_offsets' kafka-python usage pinned end-to-end against a
    fake `kafka` module injected via sys.modules (the lib isn't in this
    container): partitions_for_topic -> TopicPartition list ->
    beginning_offsets/end_offsets keyed BY TopicPartition. A real
    kafka-python install satisfies exactly these shapes, so the gate
    flips live with no code change — same approach as the schema
    registry's loopback server test."""
    import sys
    import types

    from teste_carga_avro_vs_json_spark.sources import io_kafka

    calls = {}

    class TopicPartition:
        def __init__(self, topic, partition):
            self.topic, self.partition = topic, partition

        def __hash__(self):
            return hash((self.topic, self.partition))

        def __eq__(self, other):
            return (self.topic, self.partition) == (other.topic, other.partition)

    class KafkaConsumer:
        def __init__(self, bootstrap_servers=None):
            calls["bootstrap"] = bootstrap_servers

        def partitions_for_topic(self, topic):
            calls["topic"] = topic
            return {0, 1, 2}

        def beginning_offsets(self, parts):
            calls["begin_parts"] = sorted(p.partition for p in parts)
            return {p: 5 * p.partition for p in parts}

        def end_offsets(self, parts):
            return {p: 100 + 10 * p.partition for p in parts}

    fake = types.ModuleType("kafka")
    fake.KafkaConsumer = KafkaConsumer
    fake.TopicPartition = TopicPartition
    monkeypatch.setitem(sys.modules, "kafka", fake)

    begins, ends = io_kafka.fetch_offsets("b1:9092,b2:9092", "carga")
    assert calls == {
        "bootstrap": "b1:9092,b2:9092",
        "topic": "carga",
        "begin_parts": [0, 1, 2],
    }
    assert begins == {0: 0, 1: 5, 2: 10}
    assert ends == {0: 100, 1: 110, 2: 120}
    # and the offsets feed the tail-N arithmetic unchanged
    opts = io_kafka.kafka_tail_n_read_options(
        "b1:9092", "carga", begins, ends, target_total=30
    )
    assert opts["startingOffsets"] == (
        '{"carga": {"0": 90, "1": 100, "2": 110}}'
    )


def test_cli_apps_against_live_broker(spark):
    """r6: the reference's TRUE scenario — all four apps run against a
    broker socket. Producer apps publish keyed, partition-routed wire
    frames to the topic via format("kafka_wire"); consumer apps read
    the topic back (E2E_PARSE decodes, TRANSPORTE counts raw bytes) and
    report the same metrics contract as the file mode."""
    from teste_carga_avro_vs_json_spark.sources.kafka_wire import (
        StubBroker,
        WireKafkaClient,
    )

    with StubBroker(num_partitions=4) as broker:
        bootstrap = f"{broker.addr[0]}:{broker.addr[1]}"
        cfg = EngineConfig(
            total_mensagens=24, tamanho_mensagem_kb=1, num_particoes=4,
            warmup_mensagens=4, bootstrap_servers=bootstrap,
        )
        cfg.validate(require_kafka=True)  # fail-fast contract holds

        prod = run_app("PRODUTOR_AVRO", "", cfg, spark)
        assert prod["total_mensagens"] == 20  # 24 - 4 warmup
        # the broker REALLY holds the messages, routed (i-1) % P
        c = WireKafkaClient(*broker.addr)
        try:
            per_part = {
                p: c.list_offset(cfg.topico_avro, p, -1) for p in range(4)
            }
        finally:
            c.close()
        assert sum(per_part.values()) == 24
        assert all(n == 6 for n in per_part.values())  # 24/4 round-robin

        cons = run_app("CONSUMIDOR_AVRO", "", cfg, spark)
        assert cons["total_mensagens"] == 20
        assert cons["taxa_sucesso_porcentagem"] == "100.00"

        prod_j = run_app("PRODUTOR_JSON", "", cfg, spark)
        assert prod_j["total_mensagens"] == 20
        cons_j = run_app("CONSUMIDOR_JSON", "", cfg, spark)
        assert cons_j["total_mensagens"] == 20

        cfg_t = EngineConfig(
            total_mensagens=24, tamanho_mensagem_kb=1, num_particoes=4,
            bench_mode="TRANSPORTE", bootstrap_servers=bootstrap,
        )
        rep = run_app("CONSUMIDOR_AVRO", "", cfg_t, spark)
        assert rep["total_mensagens"] == 24
        assert rep["total_bytes"] > 0


def test_cli_kafka_consumer_tail_n_positioning(spark):
    """The Kafka-mode consumer applies the reference's end-N start
    positioning (ConsumidorAvro.java:163-180): with older messages
    already on the topic, the report counts only the LAST
    total_mensagens."""
    from teste_carga_avro_vs_json_spark.sources.kafka_wire import StubBroker

    with StubBroker(num_partitions=3) as broker:
        bootstrap = f"{broker.addr[0]}:{broker.addr[1]}"
        # epoch 1: 30 older messages
        cfg_old = EngineConfig(
            total_mensagens=30, tamanho_mensagem_kb=1, num_particoes=3,
            bootstrap_servers=bootstrap,
        )
        run_app("PRODUTOR_AVRO", "", cfg_old, spark)
        # epoch 2: 12 fresh messages; consumer configured for 12
        cfg = EngineConfig(
            total_mensagens=12, tamanho_mensagem_kb=1, num_particoes=3,
            bootstrap_servers=bootstrap,
        )
        run_app("PRODUTOR_AVRO", "", cfg, spark)
        rep = run_app("CONSUMIDOR_AVRO", "", cfg, spark)
    # tail-12 over 42 on the topic -> exactly 12 in the report
    assert rep["total_mensagens"] == 12


def test_stream_stream_join_state_eviction(spark, tmp_path):
    """Watermark must actually EVICT join state mid-run (the r7 stress
    held every input row in state because its delay spanned the whole
    corpus). Time-ordered file buckets + a tight delay: peak state
    stays well below total input while the output is still exact."""
    import json
    import os
    import time as _t

    import pyspark.sql.functions as F

    from teste_carga_avro_vs_json_spark.streaming import stream_stream_join

    # 6 event-time buckets, 1 day apart; clicks precede purchases by
    # 1 minute so every purchase matches exactly its own click within
    # the 1-hour gap.
    base_ms = 1_704_067_200_000
    day = 86_400_000
    mt = _t.time() - 600
    n_per_bucket, n_buckets = 50, 6
    for b in range(n_buckets):
        rows = [
            (b * n_per_bucket + i, 1000 + i, base_ms + b * day + i * 1000)
            for i in range(n_per_bucket)
        ]
        p = spark.createDataFrame(
            rows, "purchase_id long, user_id long, p_ms long"
        )
        c = spark.createDataFrame(
            [(pid, uid, ms - 60_000) for pid, uid, ms in rows],
            "click_id long, user_id long, c_ms long",
        )
        for sub, df in (("p", p), ("c", c)):
            d = f"{tmp_path}/{sub}/b{b:02d}"
            df.coalesce(1).write.parquet(d)
            for fn in os.listdir(d):
                if fn.endswith(".parquet"):
                    os.utime(f"{d}/{fn}", (mt + b, mt + b))
    ps = (
        spark.readStream.schema("purchase_id long, user_id long, p_ms long")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp_path}/p/b*")
        .withColumn("p_ts", F.timestamp_millis("p_ms"))
    )
    cs = (
        spark.readStream.schema("click_id long, user_id long, c_ms long")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp_path}/c/b*")
        .withColumn("c_ts", F.timestamp_millis("c_ms"))
    )
    joined = stream_stream_join(
        ps, cs, "user_id", "p_ts", "c_ts", max_gap="1 hour", delay="1 minute"
    ).select("purchase_id", "click_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("evict_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    peak_state = total_in = dropped = 0
    batches = 0
    for prog in q.recentProgress:
        p = prog if isinstance(prog, dict) else json.loads(prog.json)
        if p.get("numInputRows", 0) > 0:
            batches += 1
            total_in += p["numInputRows"]
        for op in p.get("stateOperators", []):
            peak_state = max(peak_state, op.get("numRowsTotal", 0))
            dropped += op.get("numRowsDroppedByWatermark", 0)
    q.stop()
    got = spark.table("evict_join")
    # exact: each purchase pairs with exactly its own click
    assert got.count() == n_per_bucket * n_buckets
    assert dropped == 0, "ordered ingestion must never drop late rows"
    assert batches >= n_buckets // 2, "must span multiple micro-batches"
    assert total_in == 2 * n_per_bucket * n_buckets
    # the actual eviction pin: day-spaced buckets with a 1-minute delay
    # retain at most ~2 buckets of state at any instant
    assert peak_state <= 2 * 2 * n_per_bucket, (
        f"state never evicted: peak {peak_state} of {total_in} input rows"
    )


def test_cli_consumer_grouped_mode_matches_static(spark):
    """r10: consumo_em_grupo routes the consumer app through the
    broker-coordinated group (N GroupConsumer threads in ONE group,
    the reference's 18-thread model, ConsumidorAvro.java:57-68) — the
    report must MATCH the static-assignment path exactly, and the
    group's offsets land broker-side under the reference's group id."""
    from teste_carga_avro_vs_json_spark.sources.kafka_wire import StubBroker

    with StubBroker(num_partitions=4, initial_rebalance_delay_ms=300) as b:
        bootstrap = f"{b.addr[0]}:{b.addr[1]}"
        cfg = EngineConfig(
            total_mensagens=24, tamanho_mensagem_kb=1, num_particoes=4,
            warmup_mensagens=4, bootstrap_servers=bootstrap,
        )
        run_app("PRODUTOR_AVRO", "", cfg, spark)
        static = run_app("CONSUMIDOR_AVRO", "", cfg, spark)

        cfg_g = EngineConfig(
            total_mensagens=24, tamanho_mensagem_kb=1, num_particoes=4,
            warmup_mensagens=4, bootstrap_servers=bootstrap,
            consumo_em_grupo=True, consumer_threads=2,
        )
        grouped = run_app("CONSUMIDOR_AVRO", "", cfg_g, spark)
        assert grouped["total_mensagens"] == static["total_mensagens"] == 20
        assert grouped["taxa_sucesso_porcentagem"] == "100.00"
        assert grouped["total_bytes"] == static["total_bytes"]
