"""Loopback Kafka wire-protocol tests (VERDICT r5 item 5): the engine's
produce → offset-discovery → tail-N consume loop runs end-to-end over a
REAL TCP socket with real Kafka framing (record batch v2, CRC32C,
varints) — the last previously-untested real-user surface.

Reference behavior being mirrored: ProdutorAvro.java:67-95 (keyed,
partition-routed produce) and ConsumidorAvro.java:57-180 (tail-N
offset arithmetic + bounded poll loop)."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from teste_carga_avro_vs_json_spark.sources import io_kafka, kafka_wire
from teste_carga_avro_vs_json_spark.sources.kafka_wire import (
    EARLIEST,
    LATEST,
    StubBroker,
    WireKafkaClient,
    crc32c,
    decode_batches_meta,
    encode_record_batch,
    read_varint,
    write_varint,
)


def _records(data: bytes):
    """Flat ``(offset, key, value)`` records of ``decode_batches_meta``."""
    return [rec for _meta, recs in decode_batches_meta(data) for rec in recs]


# ------------------------------------------------------------ unit level
def test_crc32c_known_answers():
    # Castagnoli check value from the CRC catalogue (public)
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"") == 0


def test_varint_zigzag_roundtrip():
    import io

    for n in [0, 1, -1, 63, 64, -64, -65, 300, -300, 2**31, -(2**31), 2**62]:
        assert read_varint(io.BytesIO(write_varint(n))) == n


def test_record_batch_roundtrip_and_crc():
    recs = [(b"k1", b"v1"), (None, b"v2"), (b"k3", None), (b"", b"")]
    batch = encode_record_batch(recs, base_offset=7)
    out = _records(batch)
    assert out == [(7 + i, k, v) for i, (k, v) in enumerate(recs)]
    # corrupting any payload byte must trip the CRC32C
    corrupt = bytearray(batch)
    corrupt[-1] ^= 0xFF
    with pytest.raises(ValueError, match="CRC32C"):
        _records(bytes(corrupt))
    # two concatenated batches decode as one stream (fetch responses)
    two = batch + encode_record_batch([(b"x", b"y")], base_offset=11)
    assert _records(two)[-1] == (11, b"x", b"y")


def test_record_batch_gzip_codec():
    """Compressed batches: attributes bits carry codec 1 (gzip), the
    records section is one compressed blob, decode is transparent."""
    recs = [(b"k", b"v" * 500), (None, b"w" * 500)]
    plain = encode_record_batch(recs)
    gz = encode_record_batch(recs, codec="gzip")
    assert len(gz) < len(plain)  # repetitive payloads compress
    assert _records(gz) == _records(plain)
    # r7: the full reference codec matrix encodes + decodes transparently
    for codec in ("snappy", "lz4", "zstd"):
        cz = encode_record_batch(recs, codec=codec)
        assert len(cz) < len(plain), codec
        assert _records(cz) == _records(plain), codec
    with pytest.raises(NotImplementedError, match="codec"):
        encode_record_batch(recs, codec="brotli")
    # a reserved codec id (5) is a clear error, not garbage
    tampered = bytearray(plain)
    # attributes live right after the 21-byte pre-crc header
    tampered[21 + 1] = 5
    import struct as _s

    after = bytes(tampered[21:])
    tampered[17:21] = _s.pack(">I", crc32c(after))
    with pytest.raises(NotImplementedError, match="codec"):
        _records(bytes(tampered))
    # gzip survives the socket: broker CRC-validates + re-serves it
    with StubBroker(num_partitions=1) as broker:
        c = WireKafkaClient(*broker.addr)
        try:
            c.produce("gz", 0, recs, codec="gzip")
            _hw, out = c.fetch("gz", 0, 0)
            assert [(k, v) for _, k, v in out] == recs
        finally:
            c.close()


# ------------------------------------------------------- socket loopback
def test_broker_produce_fetch_list_offsets():
    with StubBroker(num_partitions=3) as broker:
        c = WireKafkaClient(*broker.addr)
        try:
            versions = c.api_versions()
            assert versions[0][1] >= 3 and versions[1][1] >= 4
            md = c.metadata("carga")
            assert sorted(md["topics"]["carga"]["partitions"]) == [0, 1, 2]
            assert md["brokers"][0][2] == broker.addr[1]

            # two batches on partition 1; offsets must be contiguous
            assert c.produce("carga", 1, [(b"a", b"1"), (b"b", b"2")]) == 0
            assert c.produce("carga", 1, [(b"c", b"3")]) == 2
            assert c.list_offset("carga", 1, EARLIEST) == 0
            assert c.list_offset("carga", 1, LATEST) == 3
            assert c.list_offset("carga", 0, LATEST) == 0

            hw, recs = c.fetch("carga", 1, 0)
            assert hw == 3
            assert [(o, k, v) for o, k, v in recs] == [
                (0, b"a", b"1"),
                (1, b"b", b"2"),
                (2, b"c", b"3"),
            ]
            # fetch from mid-batch offset: rider records below the
            # requested offset are filtered client-side (Kafka semantics)
            _, tail = c.fetch("carga", 1, 1)
            assert [o for o, _, _ in tail] == [1, 2]
            # corrupt produce -> CORRUPT_MESSAGE, log untouched
            bad = bytearray(encode_record_batch([(b"z", b"9")]))
            bad[-1] ^= 0xFF
            body = (
                kafka_wire._W()
                .string(None)
                .i16(-1)
                .i32(1000)
                .i32(1)
                .string("carga")
                .i32(1)
                .i32(1)
                .bytes_(bytes(bad))
            )
            r = c._call(kafka_wire._API_PRODUCE, 3, bytes(body.b))
            r.i32(); r.string(); r.i32(); r.i32()
            assert r.i16() == 2  # CORRUPT_MESSAGE
            assert c.list_offset("carga", 1, LATEST) == 3
        finally:
            c.close()


def test_broker_multi_partition_produce_response_grouped_per_topic():
    """A produce request carrying SEVERAL partitions under ONE topic (the
    real Java client's batching shape) must get a response with exactly
    one topic block grouping all partition results — one block per
    (topic, partition) pair leaves trailing bytes a spec-conforming
    client never parses, silently hiding per-partition error codes."""
    with StubBroker(num_partitions=3) as broker:
        c = WireKafkaClient(*broker.addr)
        try:
            good = encode_record_batch([(b"k", b"v")])
            bad = bytearray(encode_record_batch([(b"z", b"9")]))
            bad[-1] ^= 0xFF  # CRC-broken -> per-partition error code 2
            body = (
                kafka_wire._W()
                .string(None)
                .i16(-1)
                .i32(1000)
                .i32(1)  # ONE topic...
                .string("carga")
                .i32(3)  # ...THREE partitions in the same request
                .i32(0)
                .bytes_(good)
                .i32(1)
                .bytes_(good)
                .i32(2)
                .bytes_(bytes(bad))
            )
            r = c._call(kafka_wire._API_PRODUCE, 3, bytes(body.b))
            assert r.i32() == 1  # one topic block, not three
            assert r.string() == "carga"
            assert r.i32() == 3  # all partitions grouped under it
            results = {}
            for _ in range(3):
                partition = r.i32()
                err, base = r.i16(), r.i64()
                r.i64()  # log_append_time
                results[partition] = (err, base)
            r.i32()  # throttle_time
            assert not r.remaining()  # response fully consumed
            assert results[0] == (0, 0) and results[1] == (0, 0)
            assert results[2][0] == 2  # CORRUPT_MESSAGE surfaced, not hidden
            assert c.list_offset("carga", 0, LATEST) == 1
            assert c.list_offset("carga", 2, LATEST) == 0  # bad batch dropped
        finally:
            c.close()


def test_concurrent_producers_offsets_contiguous():
    """Broker thread-safety: N threads producing batches to the SAME
    partition concurrently must yield contiguous offsets with no loss
    or duplication (the lock covers assign+append atomically)."""
    import threading

    n_threads, batches_each = 6, 20
    with StubBroker(num_partitions=1) as broker:
        bases: list[list[int]] = [[] for _ in range(n_threads)]

        def worker(t):
            c = WireKafkaClient(*broker.addr)
            try:
                for i in range(batches_each):
                    bases[t].append(
                        c.produce(
                            "hot", 0,
                            [(f"{t}".encode(), f"{t}:{i}".encode()), (None, b"x")],
                        )
                    )
            finally:
                c.close()

        threads = [
            threading.Thread(target=worker, args=(t,)) for t in range(n_threads)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()

        c = WireKafkaClient(*broker.addr)
        try:
            hw = c.list_offset("hot", 0, LATEST)
            _hw, recs = c.fetch("hot", 0, 0, max_bytes=1 << 24)
        finally:
            c.close()
    total = n_threads * batches_each * 2
    assert hw == total
    # every base offset unique and even (2 records per batch)
    all_bases = sorted(b for bs in bases for b in bs)
    assert all_bases == list(range(0, total, 2))
    # fetched stream is exactly offsets 0..total-1, no loss/dup
    assert [o for o, _, _ in recs] == list(range(total))


def test_tail_n_consume_end_to_end(spark):
    """The full reference loop over a socket: route + Avro-encode 54
    messages into 6 partitions, produce with real wire framing, discover
    offsets via the stdlib client (io_kafka.fetch_offsets fallback),
    apply the tail-N arithmetic, drain the bounded consume, and
    Avro-decode the fetched bytes back through the engine's codec."""
    from teste_carga_avro_vs_json_spark.functions.avro_codec import to_avro
    from teste_carga_avro_vs_json_spark.operators import serde
    from teste_carga_avro_vs_json_spark.sources import generator

    n, parts, target = 54, 6, 18
    msgs = generator.mensagens(spark, n, tamanho_kb=1)
    wire = io_kafka.to_wire_frame(
        msgs, to_avro(F.struct("id", "timestamp", "sequencia", "dados", "versao")),
        num_particoes=parts,
    )
    rows = wire.collect()  # loopback harness: bounded driver-side produce
    assert len(rows) == n

    with StubBroker(num_partitions=parts) as broker:
        c = WireKafkaClient(*broker.addr)
        try:
            by_part: dict[int, list] = {}
            for r in rows:
                by_part.setdefault(r.partition, []).append(
                    (r.key.encode(), bytes(r.value))
                )
            for p, recs in by_part.items():
                # two batches per partition so fetch crosses batches
                half = len(recs) // 2
                c.produce("carga", p, recs[:half])
                c.produce("carga", p, recs[half:])

            bootstrap = f"{broker.addr[0]}:{broker.addr[1]}"
            begins, ends = io_kafka.fetch_offsets_wire(bootstrap, "carga")
            assert begins == {p: 0 for p in range(parts)}
            assert ends == {p: len(by_part[p]) for p in range(parts)}

            starts = io_kafka.tail_n_offsets(begins, ends, target)
            per_part = math.ceil(target / parts)
            fetched = c.consume_from("carga", starts)
        finally:
            c.close()

    assert len(fetched) == per_part * parts
    # decode the fetched Avro bytes through the engine codec and check
    # they are exactly the LAST per_part messages of each partition
    got = spark.createDataFrame(
        [(p, o, k.decode(), bytearray(v)) for p, o, k, v in fetched],
        "partition int, offset long, key string, valor_avro binary",
    )
    dec = serde.avro_decode(got.select("partition", "key", "valor_avro"))
    seqs = sorted(r.sequencia for r in dec.collect())
    expected = sorted(
        seq
        for p in range(parts)
        for seq in [s for s in range(1, n + 1) if (s - 1) % parts == p][-per_part:]
    )
    assert seqs == expected
    # keys carry the reference's msg-{i} contract across the wire
    keys = {k.decode() for _, _, k, _ in fetched}
    assert keys == {f"msg-{s}" for s in expected}


def test_kafka_wire_distributed_source(spark):
    """The wire client as a DISTRIBUTED Spark source through
    format("kafka_wire"): one input partition per TopicPartition, each
    task fetches over its own socket, output contract matches
    format("kafka"). Tail-N bounds (O9) and the full read both
    verified against produced data."""
    from teste_carga_avro_vs_json_spark.functions.avro_codec import to_avro
    from teste_carga_avro_vs_json_spark.operators import serde
    from teste_carga_avro_vs_json_spark.sources import (
        generator,
        kafka_wire_source,
    )

    kafka_wire_source.register(spark)

    n, parts = 54, 6
    msgs = generator.mensagens(spark, n, tamanho_kb=1)
    wire = io_kafka.to_wire_frame(
        msgs, to_avro(F.struct("id", "timestamp", "sequencia", "dados", "versao")),
        num_particoes=parts,
    )
    rows = wire.collect()
    with StubBroker(num_partitions=parts) as broker:
        c = WireKafkaClient(*broker.addr)
        try:
            by_part: dict[int, list] = {}
            for r in rows:
                by_part.setdefault(r.partition, []).append(
                    (r.key.encode(), bytes(r.value))
                )
            for p, recs in by_part.items():
                c.produce("carga", p, recs)
        finally:
            c.close()
        bootstrap = f"{broker.addr[0]}:{broker.addr[1]}"

        opts = {"bootstrap": bootstrap, "topic": "carga"}
        full = spark.read.format("kafka_wire").options(**opts).load()
        assert full.columns == ["topic", "partition", "offset", "key", "value"]
        got = full.collect()
        assert len(got) == n
        assert {r.topic for r in got} == {"carga"}
        # per-partition offsets are contiguous from 0
        for p in range(parts):
            offs = sorted(r.offset for r in got if r.partition == p)
            assert offs == list(range(len(by_part[p])))

        # tail-N bounded read decodes through the engine codec
        tail = (
            spark.read.format("kafka_wire")
            .options(**opts, target_total=18)
            .load()
        )
        # rename value -> valor_avro for the serde contract
        tail2 = tail.withColumnRenamed("value", "valor_avro")
        dec = serde.avro_decode(tail2.select("partition", "valor_avro"))
        seqs = sorted(r.sequencia for r in dec.collect())
        expected = sorted(
            s
            for p in range(parts)
            for s in [x for x in range(1, n + 1) if (x - 1) % parts == p][-3:]
        )
        assert seqs == expected


def test_fetch_offsets_falls_back_to_wire(monkeypatch):
    """io_kafka.fetch_offsets uses the stdlib wire client when
    kafka-python is absent (ImportError), against a real socket."""
    import builtins
    import sys

    monkeypatch.delitem(sys.modules, "kafka", raising=False)
    real_import = builtins.__import__

    def no_kafka(name, *a, **kw):
        if name == "kafka" or name.startswith("kafka."):
            raise ImportError(name)
        return real_import(name, *a, **kw)

    monkeypatch.setattr(builtins, "__import__", no_kafka)
    with StubBroker(num_partitions=2) as broker:
        c = WireKafkaClient(*broker.addr)
        try:
            c.produce("t", 0, [(None, b"a"), (None, b"b")])
        finally:
            c.close()
        bootstrap = f"{broker.addr[0]}:{broker.addr[1]}"
        begins, ends = io_kafka.fetch_offsets(bootstrap, "t")
    assert begins == {0: 0, 1: 0}
    assert ends == {0: 2, 1: 0}


def test_decoder_rejects_garbage_cleanly():
    """Fuzz the batch decoder: arbitrary bytes must fail with a clean
    exception (or decode to records for crafted prefixes) — never hang
    or corrupt state. Brokers face hostile/truncated input."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.binary(max_size=200))
    def check(data):
        try:
            out = _records(data)
        except (ValueError, NotImplementedError):  # the full contract
            return
        assert isinstance(out, list)

    check()
    # truncated REAL batch at every split point: clean behavior
    batch = encode_record_batch([(b"k", b"v"), (None, b"w" * 50)])
    for cut in range(len(batch)):
        try:
            out = _records(batch[:cut])
            assert out == []  # partial tail is ignored per fetch semantics
        except (ValueError, IndexError):
            pass


def test_crc32c_slice_by_8_equals_reference():
    """The slice-by-8 fast path must equal the byte-at-a-time table
    construction on every alignment/length class (heads, 8-byte
    blocks, tails)."""
    import random

    from teste_carga_avro_vs_json_spark.sources.kafka_wire import _CRC32C_TABLE

    def ref(data):
        crc = 0xFFFFFFFF
        for b in data:
            crc = _CRC32C_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
        return crc ^ 0xFFFFFFFF

    rnd = random.Random(20240814)
    for ln in [0, 1, 3, 7, 8, 9, 15, 16, 17, 31, 64, 100, 1000, 4097]:
        d = bytes(rnd.getrandbits(8) for _ in range(ln))
        assert crc32c(d) == ref(d), ln


def test_crc32c_matches_jdk_implementation(spark):
    """Pin our CRC32C against the JDK's java.util.zip.CRC32C (the same
    implementation Kafka's Java client uses for batch checksums) on
    random payloads of every alignment class."""
    import random

    jvm = spark._jvm
    rnd = random.Random(99)
    for ln in [0, 1, 7, 8, 9, 63, 100, 1000, 4096, 70001]:
        d = bytes(rnd.getrandbits(8) for _ in range(ln))
        j = jvm.java.util.zip.CRC32C()
        j.update(d, 0, len(d))
        assert crc32c(d) == j.getValue(), ln


def test_read_kafka_tail_n_falls_back_to_wire_source(spark):
    """read_kafka_tail_n — the public O9 batch API — autodetects that
    the JVM connector jar is absent and serves the bounded read through
    the wire source, so the API works on a bare PySpark install."""
    from teste_carga_avro_vs_json_spark.sources.io_kafka import (
        _jvm_kafka_connector_available,
        read_kafka_tail_n,
    )

    assert not _jvm_kafka_connector_available(spark)  # this environment
    with StubBroker(num_partitions=2) as broker:
        c = WireKafkaClient(*broker.addr)
        try:
            for p in range(2):
                c.produce(
                    "t", p, [(None, f"{p}:{i}".encode()) for i in range(8)]
                )
        finally:
            c.close()
        df = read_kafka_tail_n(
            spark, f"{broker.addr[0]}:{broker.addr[1]}", "t", target_total=6
        )
        rows = df.collect()
    assert sorted((r.partition, r.offset) for r in rows) == [
        (0, 5), (0, 6), (0, 7), (1, 5), (1, 6), (1, 7),
    ]
