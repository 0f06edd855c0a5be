"""``format("kafka_wire")`` — a Spark 4 Python DataSource over the
stdlib wire-protocol client (:mod:`sources.kafka_wire`).

Gives the engine a REGISTERED Kafka source/sink usable through the
standard reader/writer API with zero non-stdlib dependencies:

- **batch read** — the driver discovers per-partition ``[start, end)``
  bounds (tail-N pruning via ``target_total``, O9) and emits ONE
  ``InputPartition`` per TopicPartition; each Spark task fetches its
  partition over its own socket (O8, the same execution model as the
  JVM connector).
- **batch write** — each task groups its rows by the ``partition``
  column (the reference's explicit routing, O7 —
  ProdutorAvro.java:67-90) and produces record batches per partition.
- **streaming read** — a ``SimpleDataSourceStreamReader`` that walks
  per-partition offsets; ``maxRecordsPerBatch`` bounds each micro-batch
  (flow control, O17 — the ``maxOffsetsPerTrigger`` analogue).

Options: ``bootstrap`` (host:port, required), ``topic`` (required),
``target_total`` (tail-N bound, batch read), ``group`` (resume from
the group's committed offsets, batch read), ``max_bytes`` (per fetch),
``maxRecordsPerBatch`` (streaming), ``batch_size`` and ``compression``
(write), ``idempotent`` (streaming write), and the security options
read by ``_security``.

Scale notes: this source speaks SSL, SASL (PLAIN, SCRAM) and the
group offset store (commit-back is the caller's explicit
``io_kafka.commit_offsets_wire``). What the JVM connector
(spark-sql-kafka-0-10) adds on a cluster is rack-aware replica
fetching and JVM-side tasks. The *shape* is the connector's
(partition-parallel fetch, no driver traffic on the data path); Python
data sources pay one Python worker hop per task — the same cost class
as the engine's Avro codec path.

Reference parity: ConsumidorAvro.java:57-180 (bounded tail-N consume),
ProdutorAvro.java:67-95 (keyed, partition-routed produce).
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from teste_carga_avro_vs_json_spark.sources.io_kafka import (
    fetch_committed_offsets_wire,
    fetch_offsets_wire,
    tail_n_offsets,
)
from teste_carga_avro_vs_json_spark.sources.kafka_wire import WireKafkaClient

# pickle-by-value, and every helper a task calls comes from a module that
# is pickled by value too (io_kafka, kafka_wire): executors don't need
# the repo on PYTHONPATH
try:
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:  # noqa: BLE001
    pass

_SCHEMA = "topic string, partition int, offset long, key binary, value binary"


def _client(options):
    # standard multi-host bootstrap ("h1:9092,h2:9092") with failover
    return WireKafkaClient.connect(
        options["bootstrap"], **_security(options)
    )


def _security(options) -> dict:
    """Security kwargs from DataSource options — mirrors the Kafka
    DataSource option names ("kafka.security.protocol" etc. minus the
    prefix) so a SASL cluster (the reference's Confluent setup,
    ConfiguracaoKafka.java:134-138) works via ``.option()``. TLS for
    the DataSource path needs executor-constructible cert material, so
    ``ssl_ca_file`` takes a PATH (shipped via ``--files`` on a real
    cluster), never a live SSLContext."""
    security = {}
    if "security_protocol" in options:
        security["security_protocol"] = options["security_protocol"]
    if "sasl_username" in options:
        security.update(
            sasl_username=options["sasl_username"],
            sasl_password=options.get("sasl_password", ""),
            sasl_mechanism=options.get("sasl_mechanism", "PLAIN"),
        )
        security.setdefault("security_protocol", "SASL_PLAINTEXT")
    if "ssl_ca_file" in options:
        import ssl as _ssl

        ctx = _ssl.create_default_context(cafile=options["ssl_ca_file"])
        if options.get("ssl_check_hostname", "true").lower() == "false":
            ctx.check_hostname = False
        security["ssl_context"] = ctx
        if security.get("security_protocol") == "SASL_PLAINTEXT":
            security["security_protocol"] = "SASL_SSL"
        security.setdefault("security_protocol", "SSL")
    return security


class _TP(InputPartition):
    def __init__(self, partition: int, start: int, end: int):
        self.partition = partition
        self.start = start
        self.end = end


class KafkaWireBatchReader(DataSourceReader):
    def __init__(self, options):
        self.options = options
        self.topic = options["topic"]
        self.max_bytes = int(options.get("max_bytes", 1 << 20))

    def partitions(self):
        begins, ends = fetch_offsets_wire(
            self.options["bootstrap"], self.topic,
            security=_security(self.options),
        )
        target = self.options.get("target_total")
        starts = (
            tail_n_offsets(begins, ends, int(target))
            if target is not None
            else begins
        )
        group = self.options.get("group")
        if group is not None:
            # resume from the group's broker-stored offsets (r9) —
            # commit-back stays the caller's explicit step, see
            # io_kafka.commit_offsets_wire
            committed = fetch_committed_offsets_wire(
                self.options["bootstrap"], group, self.topic,
                sorted(ends), security=_security(self.options),
            )
            starts = {
                p: committed.get(p, starts.get(p, 0)) for p in ends
            }
        return [
            _TP(p, int(starts.get(p, 0)), int(end))
            for p, end in sorted(ends.items())
        ]

    def read(self, part: _TP):
        client = _client(self.options)
        try:
            # fetch_until retries transient empty fetches and raises
            # rather than silently truncating the bounded read (r7)
            for off, key, value in client.fetch_until(
                self.topic, part.partition, part.start, part.end, self.max_bytes
            ):
                yield (self.topic, part.partition, off, key, value)
        finally:
            client.close()


class _Committed(WriterCommitMessage):
    def __init__(self, n: int):
        self.n = n


def _produce_rows(options, rows, idempotent: bool = False) -> "_Committed":
    """Shared per-task produce: group rows by their ``partition``
    column (missing/null → partition 0), send one record batch per
    ``batch_size`` rows per partition; ``compression`` option applies
    the reference's codec matrix (none/gzip/snappy/lz4/zstd).

    With ``idempotent`` (KIP-98) the task opens its own producer
    session — InitProducerId on first send, then per-partition
    sequences contiguous from 0 advancing by record count. This is
    exactly what a real broker's ProducerStateManager enforces and what
    the JVM connector's idempotent producer does: wire-level re-sends
    within the session dedupe; a Spark TASK retry is a new session and
    appends again (at-least-once)."""
    topic = options["topic"]
    batch_size = int(options.get("batch_size", 500))
    codec = options.get("compression") or None
    if codec == "none":
        codec = None
    client = None
    pending: dict[int, list] = {}
    n = 0
    producer_id = producer_epoch = -1
    seq_next: dict[int, int] = {}

    def as_bytes(v):
        if isinstance(v, (bytes, bytearray)):
            return bytes(v)
        return v.encode() if v is not None else None

    def send(p, recs):
        nonlocal client, producer_id, producer_epoch
        if client is None:
            client = _client(options)
            if idempotent:
                producer_id, producer_epoch = client.init_producer_id()
        seq = -1
        if producer_id >= 0:
            seq = seq_next.get(p, 0)
            seq_next[p] = seq + len(recs)  # sequences advance by RECORD count
        client.produce(
            topic, p, recs,
            codec=codec,
            producer_id=producer_id,
            producer_epoch=producer_epoch,
            base_sequence=seq,
        )

    try:
        for row in rows:
            d = row.asDict()
            p = int(d.get("partition") or 0)
            pending.setdefault(p, []).append(
                (as_bytes(d.get("key")), as_bytes(d.get("value")))
            )
            n += 1
            if len(pending[p]) >= batch_size:
                send(p, pending.pop(p))
        for p, recs in pending.items():
            send(p, recs)
    finally:
        if client is not None:
            client.close()
    return _Committed(n)


class KafkaWireBatchWriter(DataSourceWriter):
    def __init__(self, options):
        self.options = options

    def write(self, rows):
        return _produce_rows(self.options, rows)


class KafkaWireStreamWriter(DataSourceStreamWriter):
    """Micro-batch streaming produce — ``writeStream.format("kafka_wire")``.
    The reference's continuous producer loop (ProdutorAvro.java:67-95)
    as a Structured Streaming sink.

    Semantics (default ``idempotent=true``): each task opens its own
    KIP-98 producer session (InitProducerId + per-partition sequences
    contiguous from 0) — valid against a REAL broker's sequence
    enforcement, and matching the JVM connector's idempotent
    (non-transactional) producer: wire-level re-sends within a session
    dedupe; task retries and query restarts append again, so the
    end-to-end contract is AT-LEAST-ONCE — pair with the engine's
    streaming dedup downstream for exactly-once. ``idempotent=false``
    opts out entirely."""

    def __init__(self, options):
        self.options = options
        self.idempotent = (
            str(options.get("idempotent", "true")).lower() != "false"
        )

    def write(self, rows):
        return _produce_rows(self.options, rows, idempotent=self.idempotent)

    def commit(self, messages, batchId) -> None:
        # appends are already durable in the broker; nothing to finalize
        pass

    def abort(self, messages, batchId) -> None:
        # at-least-once: produced rows of a failed batch remain (see
        # class docstring); nothing to roll back in the wire protocol
        pass


class KafkaWireStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch reader: the offset is a per-partition dict; each
    ``read`` drains up to ``maxRecordsPerBatch`` NEW records across
    partitions (round-robin by partition order) and returns the
    advanced offset. An empty poll returns the same offset, so
    ``processAllAvailable`` terminates when the broker is drained."""

    def __init__(self, options):
        self.options = options
        self.topic = options["topic"]
        self.max_bytes = int(options.get("max_bytes", 1 << 20))
        self.per_batch = int(options.get("maxRecordsPerBatch", 10_000))

    def initialOffset(self) -> dict:
        begins, ends = fetch_offsets_wire(
            self.options["bootstrap"], self.topic,
            security=_security(self.options),
        )
        source = (
            ends
            if self.options.get("startingOffsets", "earliest") == "latest"
            else begins
        )
        return {str(p): int(o) for p, o in sorted(source.items())}

    def read(self, start: dict):
        client = _client(self.options)
        rows, offsets = [], dict(start)
        budget = self.per_batch
        try:
            for p_str in sorted(offsets, key=int):
                if budget <= 0:
                    break
                p, offset = int(p_str), int(offsets[p_str])
                while budget > 0:
                    hw, recs = client.fetch(self.topic, p, offset, self.max_bytes)
                    if offset >= hw or not recs:
                        break
                    for off, key, value in recs[:budget]:
                        rows.append((self.topic, p, off, key, value))
                        offset = off + 1
                    budget -= len(recs[:budget])
                offsets[p_str] = offset
        finally:
            client.close()
        return iter(rows), offsets

    def readBetweenOffsets(self, start: dict, end: dict):
        client = _client(self.options)
        rows = []
        try:
            for p_str in sorted(start, key=int):
                p = int(p_str)
                offset, stop = int(start[p_str]), int(end.get(p_str, start[p_str]))
                # committed-range replay must be COMPLETE: retry empty
                # fetches, raise instead of silently truncating (r7)
                for off, key, value in client.fetch_until(
                    self.topic, p, offset, stop, self.max_bytes
                ):
                    rows.append((self.topic, p, off, key, value))
        finally:
            client.close()
        return iter(rows)


class KafkaWireDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "kafka_wire"

    def schema(self) -> str:
        return _SCHEMA

    def reader(self, schema):
        return KafkaWireBatchReader(self.options)

    def writer(self, schema, overwrite: bool):
        return KafkaWireBatchWriter(self.options)

    def streamWriter(self, schema, overwrite: bool):
        return KafkaWireStreamWriter(self.options)

    def simpleStreamReader(self, schema):
        return KafkaWireStreamReader(self.options)


def register(spark) -> None:
    """``spark.dataSource.register`` wrapper (idempotent)."""
    spark.dataSource.register(KafkaWireDataSource)
