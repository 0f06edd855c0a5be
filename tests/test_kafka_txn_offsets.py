"""KIP-98 part 2 (r13, VERDICT r12 order #2): transactional offset
commits — AddOffsetsToTxn + TxnOffsetCommit on the wire, staged-until-
EndTxn visibility, fencing, and the consume-transform-produce
exactly-once loop — all against the real socket path (StubBroker).

Reference context: the reference's consumer commits offsets every 10k
records independently of any downstream effect
(ConsumidorAvro.java:111-115); a crash between produce and
offset-commit reprocesses a batch. The transactional offset leg makes
read-process-write atomic.

Also pins the r13 ADVICE fixes: the idempotent producer poisons itself
after retry exhaustion (an in-doubt batch must not dedup-swallow new
records), and a malformed transactional produce answers
CORRUPT_MESSAGE instead of killing the connection.
"""

import pytest

from teste_carga_avro_vs_json_spark.sources.kafka_group import (
    GroupConsumer,
    consume_transform_produce,
)
from teste_carga_avro_vs_json_spark.sources.kafka_wire import (
    _API_PRODUCE,
    _W,
    ERR_CORRUPT_MESSAGE,
    InvalidTxnStateError,
    ProducerFencedError,
    StubBroker,
    TransactionalProducer,
    WireKafkaClient,
)


def _committed(client, group, topic, parts):
    return client.offset_fetch(group, topic, parts)


def test_offsets_staged_until_commit():
    """TxnOffsetCommit stages; OffsetFetch keeps answering the
    pre-transaction offset until EndTxn(commit) applies the staged
    value atomically."""
    with StubBroker(num_partitions=1) as broker:
        c = WireKafkaClient(*broker.addr)
        try:
            c.produce("in", 0, [(b"k", b"v%d" % i) for i in range(6)])
            c.offset_commit("g", {("in", 0): 3})  # pre-txn state
            tp = TransactionalProducer(*broker.addr, transactional_id="a")
            tp.begin_transaction()
            tp.send("out", 0, [(b"k", b"o1")])
            tp.send_offsets_to_transaction({("in", 0): 5}, "g")
            assert _committed(c, "g", "in", [0]) == {0: 3}  # still staged
            tp.commit_transaction()
            assert _committed(c, "g", "in", [0]) == {0: 5}
            tp.close()
        finally:
            c.close()


def test_abort_discards_staged_offsets():
    with StubBroker(num_partitions=1) as broker:
        c = WireKafkaClient(*broker.addr)
        try:
            c.offset_commit("g", {("in", 0): 2})
            tp = TransactionalProducer(*broker.addr, transactional_id="a")
            tp.begin_transaction()
            tp.send_offsets_to_transaction({("in", 0): 9}, "g")
            tp.abort_transaction()
            assert _committed(c, "g", "in", [0]) == {0: 2}
            # never-committed group: abort leaves NO offset behind
            tp.begin_transaction()
            tp.send_offsets_to_transaction({("in", 0): 9}, "g2")
            tp.abort_transaction()
            assert _committed(c, "g2", "in", [0]) == {}
            tp.close()
        finally:
            c.close()


def test_txn_offset_commit_requires_add_offsets_first():
    """The wire-level guard: a TxnOffsetCommit for a group the
    transaction never registered answers INVALID_TXN_STATE."""
    with StubBroker(num_partitions=1) as broker:
        tp = TransactionalProducer(*broker.addr, transactional_id="a")
        tp.begin_transaction()
        tp.send("out", 0, [(b"k", b"v")])  # txn open via data partition
        with pytest.raises(InvalidTxnStateError, match="not registered"):
            tp._client.txn_offset_commit(
                "a", "g", tp.producer_id, tp.producer_epoch,
                {("in", 0): 1},
            )
        tp.close()


def test_fenced_producer_offset_commit_raises():
    """A zombie incarnation's offset leg is fenced end to end: both
    AddOffsetsToTxn and TxnOffsetCommit answer INVALID_PRODUCER_EPOCH
    after a newer InitProducerId bumped the epoch."""
    with StubBroker(num_partitions=1) as broker:
        old = TransactionalProducer(*broker.addr, transactional_id="a")
        old.begin_transaction()
        new = TransactionalProducer(*broker.addr, transactional_id="a")
        assert new.producer_epoch == old.producer_epoch + 1
        with pytest.raises(ProducerFencedError):
            old.send_offsets_to_transaction({("in", 0): 1}, "g")
        # register the group with the LIVE producer, then try the
        # zombie's TxnOffsetCommit directly: fenced too
        new.begin_transaction()
        new.send_offsets_to_transaction({("in", 0): 1}, "g")
        with pytest.raises(ProducerFencedError):
            old._client.txn_offset_commit(
                "a", "g", old.producer_id, old.producer_epoch,
                {("in", 0): 2},
            )
        new.commit_transaction()
        new.close()
        old._client.close()


def test_leftover_abort_discards_staged_offsets():
    """A crash-restart (new InitProducerId) aborts the zombie's open
    transaction INCLUDING its staged offsets — the group resumes from
    the last committed position, not the zombie's."""
    with StubBroker(num_partitions=1) as broker:
        c = WireKafkaClient(*broker.addr)
        try:
            c.offset_commit("g", {("in", 0): 1})
            old = TransactionalProducer(*broker.addr, transactional_id="a")
            old.begin_transaction()
            old.send("out", 0, [(b"k", b"zombie")])
            old.send_offsets_to_transaction({("in", 0): 7}, "g")
            # crash: no commit; the next incarnation fences + aborts
            TransactionalProducer(
                *broker.addr, transactional_id="a"
            ).close()
            assert _committed(c, "g", "in", [0]) == {0: 1}
            _lso, rc = c.fetch("out", 0, 0, isolation=1)
            assert rc == []  # zombie output invisible too
            old._client.close()
        finally:
            c.close()


def test_consume_only_transaction_is_legal():
    """AddOffsetsToTxn alone opens a transaction (no data partitions)
    and EndTxn commits it — the all-records-filtered batch shape."""
    with StubBroker(num_partitions=1) as broker:
        c = WireKafkaClient(*broker.addr)
        try:
            tp = TransactionalProducer(*broker.addr, transactional_id="a")
            tp.begin_transaction()
            tp.send_offsets_to_transaction({("in", 0): 4}, "g")
            tp.commit_transaction()
            assert _committed(c, "g", "in", [0]) == {0: 4}
            tp.close()
        finally:
            c.close()


def _run_ctp(broker, group, tid, transform=None):
    """One consume-transform-produce incarnation over topic in->out."""
    client = WireKafkaClient(*broker.addr)
    consumer = GroupConsumer(client, group, ["in"])
    consumer.join()
    producer = TransactionalProducer(*broker.addr, transactional_id=tid)
    n = consume_transform_produce(
        consumer,
        producer,
        transform or (lambda t, p, o, k, v: (k, b"T:" + (v or b""))),
        "out",
    )
    producer.close()
    consumer.close()
    client.close()
    return n


def test_consume_transform_produce_end_to_end():
    """The helper drains the input exactly once: output carries every
    transformed record once (read_committed), the group's offsets sit
    at the high watermark, and a second run processes nothing."""
    with StubBroker(
        num_partitions=2, initial_rebalance_delay_ms=0
    ) as broker:
        c = WireKafkaClient(*broker.addr)
        try:
            for p in (0, 1):
                c.produce(
                    "in", p,
                    [(b"k", b"p%d-%d" % (p, i)) for i in range(5)],
                )
            assert _run_ctp(broker, "g", "app") == 10
            got = []
            for p in (0, 1):
                hw = c.list_offset("out", p, -1)
                lso, recs = c.fetch("out", p, 0, isolation=1)
                got += [v for _o, _k, v in recs]
            assert sorted(got) == sorted(
                b"T:p%d-%d" % (p, i) for p in (0, 1) for i in range(5)
            )
            assert _committed(c, "g", "in", [0, 1]) == {0: 5, 1: 5}
            # idempotent re-run: offsets already at the watermark
            assert _run_ctp(broker, "g", "app") == 0
        finally:
            c.close()


def test_crash_between_produce_and_offset_commit_replays_exactly_once():
    """THE exactly-once pin: incarnation 1 produces its transformed
    batch but crashes before the offsets commit. Incarnation 2 fences
    it (leftover txn aborts), REPLAYS the batch from the group's
    committed position, and commits. Downstream read_committed sees
    each input's output exactly once — the aborted first attempt is
    invisible."""
    with StubBroker(
        num_partitions=1, initial_rebalance_delay_ms=0
    ) as broker:
        c = WireKafkaClient(*broker.addr)
        try:
            c.produce("in", 0, [(b"k", b"v%d" % i) for i in range(4)])

            # incarnation 1: poll + produce, then CRASH before offsets
            cl1 = WireKafkaClient(*broker.addr)
            gc1 = GroupConsumer(cl1, "g", ["in"])
            gc1.join()
            recs = []
            for _ in range(6):
                recs.extend(gc1.poll())
                if len(recs) >= 4:
                    break
            tp1 = TransactionalProducer(
                *broker.addr, transactional_id="app"
            )
            tp1.begin_transaction()
            tp1.send(
                "out", 0, [(k, b"T:" + v) for _t, _p, _o, k, v in recs]
            )
            # crash: no send_offsets, no commit, no clean close
            cl1.close()

            # incarnation 2: fences the zombie, replays, commits
            assert _run_ctp(broker, "g", "app") == 4
            _lso, out = c.fetch("out", 0, 0, isolation=1)
            assert [v for _o, _k, v in out] == [
                b"T:v0", b"T:v1", b"T:v2", b"T:v3"
            ]
            assert _committed(c, "g", "in", [0]) == {0: 4}
            tp1._client.close()
        finally:
            c.close()


def test_all_dropped_batch_still_commits_offsets():
    with StubBroker(
        num_partitions=1, initial_rebalance_delay_ms=0
    ) as broker:
        c = WireKafkaClient(*broker.addr)
        try:
            c.produce("in", 0, [(b"k", b"v%d" % i) for i in range(3)])
            n = _run_ctp(
                broker, "g", "app", transform=lambda t, p, o, k, v: None
            )
            assert n == 3
            assert c.list_offset("out", 0, -1) == 0  # nothing produced
            assert _committed(c, "g", "in", [0]) == {0: 3}
        finally:
            c.close()


# ----------------------------------------------------- r13 ADVICE pins


def test_malformed_transactional_produce_answers_corrupt_message():
    """ADVICE r12 (low): a short/garbled record set on the
    transactional produce path answers CORRUPT_MESSAGE per the r8
    decoder-hardening rule instead of struct.error killing the
    connection."""
    with StubBroker(num_partitions=1) as broker:
        c = WireKafkaClient(*broker.addr)
        try:
            body = (
                _W().string("a").i16(-1).i32(30000)
                .i32(1).string("t").i32(1).i32(0).bytes_(b"short")
            )
            r = c._call(_API_PRODUCE, 3, bytes(body.b))
            assert r.i32() == 1  # one topic block
            assert r.string() == "t"
            assert r.i32() == 1
            assert r.i32() == 0  # partition
            assert r.i16() == ERR_CORRUPT_MESSAGE
            # the connection SURVIVES (no struct.error kill)
            assert c.list_offset("t", 0, -1) == 0
        finally:
            c.close()


# --------------------------------------------------- KIP-447 (v3) pins
def test_txn_offset_commit_v3_fences_stale_generation():
    """KIP-447: with membership credentials the coordinator fences the
    CONSUMER side of the transaction — a member whose generation went
    stale (or that was never in the group) cannot stage offsets, even
    though its PRODUCER epoch is perfectly live."""
    from teste_carga_avro_vs_json_spark.sources.kafka_wire import (
        IllegalGenerationError,
        UnknownMemberIdError,
    )

    with StubBroker(
        num_partitions=1, initial_rebalance_delay_ms=0
    ) as broker:
        cl = WireKafkaClient(*broker.addr)
        gc = GroupConsumer(cl, "g", ["in"])
        gc.join()
        tp = TransactionalProducer(*broker.addr, transactional_id="app")
        tp.begin_transaction()
        with pytest.raises(IllegalGenerationError):
            tp.send_offsets_to_transaction(
                {("in", 0): 1}, "g",
                generation_id=gc.generation + 7,
                member_id=gc.member_id,
            )
        tp.abort_transaction()
        tp.begin_transaction()
        with pytest.raises(UnknownMemberIdError):
            tp.send_offsets_to_transaction(
                {("in", 0): 1}, "g",
                generation_id=gc.generation,
                member_id="ghost-member",
            )
        tp.abort_transaction()
        # the CURRENT member's credentials pass and commit atomically
        tp.begin_transaction()
        tp.send_offsets_to_transaction(
            {("in", 0): 2}, "g",
            generation_id=gc.generation,
            member_id=gc.member_id,
        )
        tp.commit_transaction()
        assert cl.offset_fetch("g", "in", [0]) == {0: 2}
        tp.close()
        gc.close()
        cl.close()


def test_eos_loop_aborts_when_consumer_fenced_mid_batch():
    """The consume-transform-produce loop passes its membership
    credentials (v3); a consumer whose generation went stale mid-batch
    has its WHOLE transaction aborted — output invisible to
    read_committed, group offsets unmoved — instead of committing a
    batch it no longer owns."""
    with StubBroker(
        num_partitions=1, initial_rebalance_delay_ms=0
    ) as broker:
        c = WireKafkaClient(*broker.addr)
        try:
            c.produce("in", 0, [(b"k", b"v0"), (b"k", b"v1")])
            cl = WireKafkaClient(*broker.addr)
            gc = GroupConsumer(cl, "g", ["in"])
            gc.join()
            recs = []
            for _ in range(6):
                recs.extend(gc.poll())
                if len(recs) >= 2:
                    break
            tp = TransactionalProducer(
                *broker.addr, transactional_id="app"
            )
            tp.begin_transaction()
            tp.send("out", 0, [(k, b"T:" + v) for *_x, k, v in recs])
            # simulate the rebalance landing mid-batch: stale generation
            from teste_carga_avro_vs_json_spark.sources.kafka_wire import (
                IllegalGenerationError,
            )

            with pytest.raises(IllegalGenerationError):
                tp.send_offsets_to_transaction(
                    dict(gc.positions), "g",
                    generation_id=gc.generation + 1,
                    member_id=gc.member_id,
                )
            tp.abort_transaction()
            _lso, out = c.fetch("out", 0, 0, isolation=1)
            assert out == []  # aborted batch invisible
            assert c.offset_fetch("g", "in", [0]) == {}  # offsets unmoved
            tp.close()
            gc.close()
            cl.close()
        finally:
            c.close()


def test_ctp_helper_passes_credentials_and_commits():
    """consume_transform_produce rides v3 end to end: the committed
    offsets land under the member's live generation."""
    with StubBroker(
        num_partitions=1, initial_rebalance_delay_ms=0
    ) as broker:
        c = WireKafkaClient(*broker.addr)
        try:
            c.produce("in", 0, [(b"k", b"v%d" % i) for i in range(3)])
            assert _run_ctp(broker, "g", "app") == 3
            assert c.offset_fetch("g", "in", [0]) == {0: 3}
            _lso, out = c.fetch("out", 0, 0, isolation=1)
            assert len(out) == 3
        finally:
            c.close()
