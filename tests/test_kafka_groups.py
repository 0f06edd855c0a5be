"""Consumer-group offset storage over the wire (r9): OffsetCommit v2 /
OffsetFetch v1 / FindCoordinator v0 against the StubBroker, and the
resume semantics they give bounded batch reads — commit the frontier
after materializing, next read starts exactly there. The rebalance
protocol (JoinGroup/SyncGroup/Heartbeat/LeaveGroup) landed in r10 —
see test_kafka_rebalance.py; Spark sources still assign partitions
statically (documented in io_kafka)."""

from __future__ import annotations

import pytest

from teste_carga_avro_vs_json_spark.sources import io_kafka, kafka_wire_source
from teste_carga_avro_vs_json_spark.sources.kafka_wire import (
    StubBroker,
    WireKafkaClient,
)


def _read(spark, bootstrap, **opts):
    kafka_wire_source.register(spark)
    return (
        spark.read.format("kafka_wire")
        .options(bootstrap=bootstrap, topic="carga", **opts)
        .load()
    )


def test_offset_commit_fetch_roundtrip():
    with StubBroker(num_partitions=3) as b:
        c = WireKafkaClient(*b.addr)
        try:
            # coordinator discovery: single-node stub answers itself
            node, host, port = c.find_coordinator("g1")
            assert (host, port) == b.addr
            # nothing committed yet
            assert c.offset_fetch("g1", "carga", [0, 1, 2]) == {}
            c.offset_commit("g1", {("carga", 0): 5, ("carga", 2): 9})
            assert c.offset_fetch("g1", "carga", [0, 1, 2]) == {0: 5, 2: 9}
            # groups are isolated
            assert c.offset_fetch("g2", "carga", [0, 1, 2]) == {}
            # re-commit overwrites
            c.offset_commit("g1", {("carga", 0): 7})
            assert c.offset_fetch("g1", "carga", [0]) == {0: 7}
        finally:
            c.close()


def test_batch_read_resumes_from_committed(spark):
    """Produce 12 records, read with a group, commit the frontier,
    produce 6 more, read again with the same group: the second read
    must return ONLY the new records."""
    with StubBroker(num_partitions=2) as b:
        bootstrap = f"{b.addr[0]}:{b.addr[1]}"
        c = WireKafkaClient(*b.addr)
        try:
            for p in (0, 1):
                c.produce(
                    "carga", p,
                    [(f"k{p}-{i}".encode(), f"v{p}-{i}".encode())
                     for i in range(6)],
                )
        finally:
            c.close()

        first = _read(spark, bootstrap, group="g1")
        rows = first.collect()
        assert len(rows) == 12
        # commit the frontier (next offset per partition)
        frontier = {}
        for r in rows:
            frontier[r.partition] = max(
                frontier.get(r.partition, 0), r.offset + 1
            )
        io_kafka.commit_offsets_wire(bootstrap, "g1", "carga", frontier)

        c = WireKafkaClient(*b.addr)
        try:
            for p in (0, 1):
                c.produce(
                    "carga", p,
                    [(f"n{p}-{i}".encode(), f"w{p}-{i}".encode())
                     for i in range(3)],
                )
        finally:
            c.close()

        second = _read(spark, bootstrap, group="g1")
        got = sorted(bytes(r.value).decode() for r in second.collect())
        assert got == sorted(
            f"w{p}-{i}" for p in (0, 1) for i in range(3)
        )
        # a different group still reads everything (earliest)
        full = _read(spark, bootstrap, group="fresh")
        assert full.count() == 18
        # and no group at all is unchanged behavior
        assert _read(spark, bootstrap).count() == 18


def test_group_offsets_require_auth_when_sasl_enabled():
    with StubBroker(
        num_partitions=1, sasl_plain={"u": "p"}
    ) as b:
        anon = WireKafkaClient(*b.addr)
        try:
            with pytest.raises((ConnectionError, OSError)):
                anon.offset_fetch("g1", "carga", [0])
        finally:
            anon.close()
        host, port = b.addr
        authed = WireKafkaClient(
            host, port,
            security_protocol="SASL_PLAINTEXT",
            sasl_username="u", sasl_password="p",
        )
        try:
            authed.offset_commit("g1", {("carga", 0): 3})
            assert authed.offset_fetch("g1", "carga", [0]) == {0: 3}
        finally:
            authed.close()


def test_format_kafka_wire_group_option(spark):
    with StubBroker(num_partitions=1) as b:
        bootstrap = f"{b.addr[0]}:{b.addr[1]}"
        c = WireKafkaClient(*b.addr)
        try:
            c.produce("carga", 0, [(b"a", b"v0"), (b"b", b"v1")])
            c.offset_commit("g1", {("carga", 0): 1})
        finally:
            c.close()
        df = _read(spark, bootstrap, group="g1")
        assert [bytes(r.value) for r in df.collect()] == [b"v1"]


def test_offset_commit_multi_partition_one_topic_response_parsed():
    """A commit of MULTIPLE partitions under ONE topic must produce a
    response the client fully parses (one block per topic with a
    partition array, the real broker encoding) — a per-(topic,
    partition) block layout would leave trailing bytes the client
    never checks, silently dropping per-partition error codes."""
    with StubBroker(num_partitions=4) as b:
        c = WireKafkaClient(*b.addr)
        try:
            c.offset_commit(
                "g1",
                {("carga", 0): 1, ("carga", 1): 2, ("carga", 2): 3,
                 ("carga", 3): 4},
            )
            assert c.offset_fetch("g1", "carga", [0, 1, 2, 3]) == {
                0: 1, 1: 2, 2: 3, 3: 4,
            }
            # a second call on the SAME connection proves no trailing
            # bytes were left unread by the first response parse
            c.offset_commit("g1", {("carga", 1): 9, ("carga", 3): 11})
            assert c.offset_fetch("g1", "carga", [0, 1, 2, 3]) == {
                0: 1, 1: 9, 2: 3, 3: 11,
            }
        finally:
            c.close()


def test_delete_groups_completes_the_lifecycle():
    """DeleteGroups v0: a standalone-offsets group deletes (offsets
    gone, absent from ListGroups), a group with LIVE members answers
    NON_EMPTY_GROUP until its member leaves, unknown groups answer
    GROUP_ID_NOT_FOUND."""
    from teste_carga_avro_vs_json_spark.sources.kafka_wire import (
        StubBroker,
        WireKafkaClient,
    )

    with StubBroker(num_partitions=2) as broker:
        host, port = broker.addr
        c = WireKafkaClient(host, port)
        try:
            # standalone offsets only (no membership)
            c.offset_commit("solo", {("t", 0): 41})
            assert c.offset_fetch("solo", "t", [0]) == {0: 41}
            res = c.delete_groups(["solo", "ghost"])
            assert res["solo"] == 0
            assert res["ghost"] == 69  # GROUP_ID_NOT_FOUND
            assert c.offset_fetch("solo", "t", [0]) == {}
            assert "solo" not in [g for g, _ in c.list_groups()]

            # live membership blocks deletion until LeaveGroup
            from teste_carga_avro_vs_json_spark.sources.kafka_group import (
                GroupConsumer,
            )

            gc_client = WireKafkaClient(host, port)
            gc = GroupConsumer(gc_client, "viva", ["t"])
            gc.join()
            try:
                assert c.delete_groups(["viva"])["viva"] == 68
            finally:
                gc.close()
                gc_client.close()
            assert c.delete_groups(["viva"])["viva"] == 0
        finally:
            c.close()
