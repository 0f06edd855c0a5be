"""format("snapshot") — streaming consumption of snapshot tables.
Pinned by stream==batch equality (the documented
convention for streaming surfaces: no SQL oracle, DuckDB has no
streaming)."""

import os

import pyspark.sql.functions as F
import pytest

from teste_carga_avro_vs_json_spark.operators import maintenance as mt
from teste_carga_avro_vs_json_spark.sources import snapshot_source as ss


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text"
    )


def _drain(spark, tdir, name, checkpoint, **options):
    ss.register(spark)
    reader = spark.readStream.format("snapshot")
    for k, v in options.items():
        reader = reader.option(k, v)
    q = (
        reader.load(tdir)
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"select * from {name}")


def _same(a, b):
    return (
        a.exceptAll(b).count() == 0
        and b.exceptAll(a).count() == 0
        and a.count() == b.count()
    )


def test_stream_equals_batch_over_appends(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.filter("doc_id % 3 = 0"), tdir)
    mt.snapshot_commit(docs.filter("doc_id % 3 = 1"), tdir, mode="append")
    out = _drain(spark, tdir, "snap_s1", str(tmp_path / "cp1"))
    assert _same(out, mt.snapshot_read(spark, tdir))
    assert out.columns == ["doc_id", "lang", "text"]


def test_stream_resumes_exactly_once_across_restarts(
    spark, sf_dir, tmp_path
):
    """New commits between runs of the SAME checkpointed query arrive
    exactly once — the incremental-consumer contract."""
    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    cp = str(tmp_path / "cp2")
    sink = str(tmp_path / "sink2")
    ss.register(spark)

    def run_once():
        # file sink: the one that actually supports checkpoint recovery
        q = (
            spark.readStream.format("snapshot")
            .load(tdir)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    mt.snapshot_commit(docs.filter("doc_id < 100"), tdir)
    run_once()
    assert (
        spark.read.parquet(sink).count()
        == docs.filter("doc_id < 100").count()
    )
    mt.snapshot_commit(
        docs.filter("doc_id >= 100 and doc_id < 150"), tdir, mode="append"
    )
    # restart with the same checkpoint: only the NEW commit arrives,
    # and nothing is duplicated
    run_once()
    out = spark.read.parquet(sink)
    assert _same(out, docs.filter("doc_id < 150"))


def test_starting_version_latest_sees_only_new_commits(
    spark, sf_dir, tmp_path
):
    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.filter("doc_id < 200"), tdir)
    # nothing new yet -> empty batch
    out = _drain(
        spark, tdir, "snap_s3a", str(tmp_path / "cp3a"),
        starting_version="latest",
    )
    assert out.count() == 0
    # integer starting_version = consumed through N
    mt.snapshot_commit(
        docs.filter("doc_id >= 200 and doc_id < 260"), tdir, mode="append"
    )
    out2 = _drain(
        spark, tdir, "snap_s3b", str(tmp_path / "cp3b"),
        starting_version="1",
    )
    assert out2.count() == docs.filter(
        "doc_id >= 200 and doc_id < 260"
    ).count()


def test_rewrite_commit_fails_by_default_and_skips_on_option(
    spark, sf_dir, tmp_path
):
    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.filter("doc_id < 50"), tdir)
    # a SEMANTIC overwrite (content replaced, not a reorg commit)
    mt.snapshot_commit(
        docs.filter("doc_id < 50"), tdir, mode="overwrite"
    )
    mt.snapshot_commit(
        docs.filter("doc_id >= 50 and doc_id < 80"), tdir, mode="append"
    )
    with pytest.raises(Exception, match="copy-on-write|rewrite"):
        _drain(spark, tdir, "snap_s4a", str(tmp_path / "cp4a"))
    out = _drain(
        spark, tdir, "snap_s4b", str(tmp_path / "cp4b"),
        on_rewrite="skip",
    )
    # v1 rows + v3 rows; the v2 rewrite contributes nothing
    want = docs.filter("doc_id < 80")
    assert _same(out, want)


def test_reorg_commits_are_stream_transparent(spark, sf_dir, tmp_path):
    """compact/cluster_by preserve content exactly and stamp
    extra.reorg (Delta's dataChange=false) — the stream passes over
    them WITHOUT on_rewrite='skip', emitting nothing for them."""
    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.filter("doc_id < 50"), tdir)
    mt.snapshot_cluster_by(spark, tdir, "doc_id", n_files=2)
    mt.snapshot_compact(spark, tdir)
    mt.snapshot_commit(
        docs.filter("doc_id >= 50 and doc_id < 80"), tdir, mode="append"
    )
    out = _drain(spark, tdir, "snap_s4c", str(tmp_path / "cp4c"))
    assert _same(out, docs.filter("doc_id < 80"))


def test_mor_delete_commit_is_a_change_commit(spark, sf_dir, tmp_path):
    """A merge-on-read delete adds no files but CHANGES rows — the
    stream must treat it exactly like a rewrite: fail by default,
    contribute nothing under on_rewrite='skip' (Delta's
    skipChangeCommits semantics; the deletions are not replayed)."""
    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.filter("doc_id < 50"), tdir)
    mt.snapshot_delete(spark, tdir, "doc_id = 7", mode="mor")
    mt.snapshot_commit(
        docs.filter("doc_id >= 50 and doc_id < 80"), tdir, mode="append"
    )
    with pytest.raises(Exception, match="copy-on-write|rewrite"):
        _drain(spark, tdir, "snap_mor_a", str(tmp_path / "cpma"))
    out = _drain(
        spark, tdir, "snap_mor_b", str(tmp_path / "cpmb"),
        on_rewrite="skip",
    )
    # appended rows stream; the delete-mor commit contributes nothing
    assert _same(out, docs.filter("doc_id < 80"))


def test_max_versions_per_batch_paces_batches(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    for i in range(3):
        mt.snapshot_commit(
            docs.filter(f"doc_id % 3 = {i}"), tdir, mode="append"
        )
    reader = ss.SnapshotStreamReader(
        {"path": tdir, "max_versions_per_batch": "1"}
    )

    def batch_rows(start, end):
        rows = []
        for part in reader.partitions(start, end):
            rows.extend(reader.read(part))
        return rows

    off0 = reader.initialOffset()
    off1 = reader.latestOffset()
    assert off1 == {"version": 1}  # paced: one version per trigger
    assert len(batch_rows(off0, off1)) == docs.filter(
        "doc_id % 3 = 0"
    ).count()
    off2 = reader.latestOffset()
    assert off2 == {"version": 2}
    # replay of a committed range is byte-stable (immutable manifests:
    # restart recovery re-plans the identical partitions)
    a = sorted(batch_rows(off0, off1))
    b = sorted(batch_rows(off0, off1))
    assert a == b
    # drained head stays put
    reader.latestOffset()
    assert reader.latestOffset() == {"version": 3}
    assert batch_rows({"version": 3}, {"version": 3}) == []


def _retire(tdir, *versions):
    """Retire versions the way a retention process does: their
    manifests go."""
    for v in versions:
        os.remove(mt._manifest_path(tdir, v))


def test_vacuumed_parent_raises(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    for i in range(4):
        mt.snapshot_commit(
            docs.filter(f"doc_id % 4 = {i}"), tdir, mode="append"
        )
    _retire(tdir, 1, 2)
    reader = ss.SnapshotStreamReader({"path": tdir})
    with pytest.raises(Exception, match="vacuum"):
        reader.partitions({"version": 2}, {"version": 4})


def test_vacuumed_parent_only_gates_ops_that_need_it(
    spark, sf_dir, tmp_path
):
    """Only append (file diff) and delete-mor (DV diff) read the
    parent manifest — a CDF stream restarting on a merge or cow-delete
    commit whose parent was vacuumed must still plan, matching the
    batch classifier (r11 fix; previously every op raised)."""
    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.filter("doc_id < 60"), tdir)           # v1
    mt.snapshot_merge(                                             # v2
        docs.filter("doc_id < 10").withColumn("text", F.lit("m")),
        tdir, keys=["doc_id"],
    )
    mt.snapshot_commit(                                            # v3
        docs.filter("doc_id >= 60 and doc_id < 80"), tdir, mode="append"
    )
    _retire(tdir, 1)  # v2's parent
    reader = ss.SnapshotStreamReader(
        {"path": tdir, "read_changes": "true"}
    )
    # v2 is a merge: its change files are self-contained — plans fine
    parts = reader._change_plan(2)
    assert parts and all(p.kind == "cdf_file" for p in parts)
    # v3 is an append whose parent v2 EXISTS — plans fine
    assert reader._change_plan(3)
    # an append whose parent is vacuumed still raises
    mt.snapshot_commit(
        docs.filter("doc_id >= 80 and doc_id < 90"), tdir, mode="append"
    )                                                              # v4
    _retire(tdir, 2)  # v3's parent
    with pytest.raises(Exception, match="vacuum"):
        reader._change_plan(3)
    with pytest.raises(Exception, match="vacuum"):
        ss.SnapshotStreamReader({"path": tdir})._added_paths(3)


def test_schema_evolution_projection(spark, sf_dir, tmp_path):
    """Files appended with EXTRA columns stream with them dropped;
    the pinned schema rules (documented merge-schema caveat)."""
    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.filter("doc_id < 20"), tdir)
    evolved = docs.filter("doc_id >= 20 and doc_id < 30").withColumn(
        "extra", F.lit(7)
    )
    mt.snapshot_commit(evolved, tdir, mode="append")
    out = _drain(spark, tdir, "snap_s6", str(tmp_path / "cp6"))
    assert out.columns == ["doc_id", "lang", "text"]
    assert out.count() == docs.filter("doc_id < 30").count()


def test_snapshot_stream_to_kafka_wire_sink_e2e(spark, sf_dir, tmp_path):
    """Composition pin across the r10 surfaces: a snapshot table
    streams through format('snapshot') into the format('kafka_wire')
    stream sink (StubBroker socket), and the broker's content — read
    back over the wire — equals the table exactly. A second commit +
    restart relays ONLY the delta (exactly-once through both halves)."""
    from teste_carga_avro_vs_json_spark.sources import (
        kafka_wire_source,
    )
    from teste_carga_avro_vs_json_spark.sources.kafka_wire import (
        StubBroker,
    )

    ss.register(spark)
    kafka_wire_source.register(spark)
    docs = _docs(spark, sf_dir).filter("doc_id < 60")
    tdir = str(tmp_path / "table")
    cp = str(tmp_path / "cp_relay")
    mt.snapshot_commit(docs.filter("doc_id < 40"), tdir)

    with StubBroker(num_partitions=2) as broker:
        bootstrap = f"{broker.addr[0]}:{broker.addr[1]}"

        def relay_once():
            q = (
                spark.readStream.format("snapshot")
                .load(tdir)
                .selectExpr(
                    "cast(cast(doc_id as string) as binary) as key",
                    "cast(text as binary) as value",
                    "cast(doc_id % 2 as int) as partition",
                )
                .writeStream.format("kafka_wire")
                .option("bootstrap", bootstrap)
                .option("topic", "corpus")
                .option("checkpointLocation", cp)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        def broker_rows():
            return (
                spark.read.format("kafka_wire")
                .option("bootstrap", bootstrap)
                .option("topic", "corpus")
                .load()
                .selectExpr(
                    "cast(cast(key as string) as long) as doc_id",
                    "cast(value as string) as text",
                )
            )

        relay_once()
        assert _same(
            broker_rows(), docs.filter("doc_id < 40").select("doc_id", "text")
        )
        # append a delta; restart relays only the new rows
        mt.snapshot_commit(
            docs.filter("doc_id >= 40"), tdir, mode="append"
        )
        relay_once()
        assert _same(broker_rows(), docs.select("doc_id", "text"))


# -------------------------------------------------------------- writers


def test_batch_writer_append_overwrite_and_schema_guard(
    spark, sf_dir, tmp_path
):
    """df.write.format('snapshot'): append unions versions, overwrite
    replaces, stats/bloom config inherits, and appending a different
    COLUMN SET is refused loudly (first-file-schema reads would
    corrupt silently)."""
    ss.register(spark)
    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    docs.filter("doc_id < 200").repartition(3).write.format(
        "snapshot"
    ).mode("append").save(tdir)
    assert mt.snapshot_versions(tdir) == [1]
    assert _same(mt.snapshot_read(spark, tdir), docs.filter("doc_id < 200"))
    # entries carry footer stats like snapshot_commit's
    assert all(
        "stats" in f and f.get("rows")
        for f in mt._read_manifest(tdir, 1)["files"]
    )
    docs.filter("doc_id >= 200").write.format("snapshot").mode(
        "append"
    ).save(tdir)
    assert _same(mt.snapshot_read(spark, tdir), docs)
    docs.filter("doc_id = 7").write.format("snapshot").mode(
        "overwrite"
    ).save(tdir)
    assert mt.snapshot_read(spark, tdir).count() == 1
    assert mt.snapshot_read(spark, tdir, 2).count() == docs.count()
    # schema guard: appending different columns raises, table unharmed
    with pytest.raises(Exception, match="table schema"):
        docs.selectExpr("doc_id", "text as renamed").write.format(
            "snapshot"
        ).mode("append").save(tdir)
    assert mt.snapshot_versions(tdir) == [1, 2, 3]
    assert mt.snapshot_read(spark, tdir).count() == 1


def test_batch_writer_commit_races_via_publish_loop(
    spark, sf_dir, tmp_path
):
    """Two writers committing CONCURRENTLY both land: the create-
    exclusive publish serializes them into consecutive append versions
    with no lost rows (the multi-writer rule through the writer API —
    raced at the commit-protocol level; Spark's Python-datasource
    LOOKUP itself is not thread-safe for concurrent .save() calls,
    which is a driver-API artifact, not a commit-safety one)."""
    import threading

    import pyarrow as pa

    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    pdf = docs.toPandas()
    halves = [
        pa.RecordBatch.from_pandas(pdf.iloc[:250]),
        pa.RecordBatch.from_pandas(pdf.iloc[250:]),
    ]
    writers = [
        ss.SnapshotBatchWriter({"path": tdir}, overwrite=False)
        for _ in halves
    ]
    msgs = [w.write(iter([b])) for w, b in zip(writers, halves)]
    errs = []

    def commit(i):
        try:
            writers[i].commit([msgs[i]])
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=commit, args=(i,)) for i in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    assert mt.snapshot_versions(tdir) == [1, 2]
    assert _same(mt.snapshot_read(spark, tdir), docs)


def test_stream_writer_sink_exactly_once_and_resume(
    spark, sf_dir, tmp_path
):
    """The full snapshot→snapshot pipe: readStream format('snapshot')
    → writeStream format('snapshot'). Each epoch is one stamped append
    version; RESTARTING the same checkpointed query after new source
    commits delivers only the delta (our sink, unlike memory, resumes
    checkpoints)."""
    ss.register(spark)
    docs = _docs(spark, sf_dir)
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    cp = str(tmp_path / "cp")
    mt.snapshot_commit(docs.filter("doc_id < 150"), src)

    def pipe():
        q = (
            spark.readStream.format("snapshot")
            .load(src)
            .writeStream.format("snapshot")
            .option("path", dst)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    pipe()
    assert _same(mt.snapshot_read(spark, dst), docs.filter("doc_id < 150"))
    extra = mt._read_manifest(dst, mt.snapshot_versions(dst)[-1])["extra"]
    assert extra["stream_writer_id"] == "stream"
    assert extra["stream_batch_id"] == 0
    # two more source commits, then resume: exactly the delta arrives
    mt.snapshot_commit(
        docs.filter("doc_id >= 150 and doc_id < 300"), src, mode="append"
    )
    mt.snapshot_commit(docs.filter("doc_id >= 300"), src, mode="append")
    pipe()
    assert _same(mt.snapshot_read(spark, dst), docs)
    # and a replay-free third run commits nothing new
    versions_before = mt.snapshot_versions(dst)
    pipe()
    assert mt.snapshot_versions(dst) == versions_before


def test_stream_writer_replayed_epoch_is_noop(spark, sf_dir, tmp_path):
    """Simulated epoch replay (failure after commit, before the
    checkpoint acked): committing the SAME batchId again must publish
    no version and remove the re-written files."""
    import glob
    import os as _os

    ss.register(spark)
    docs = _docs(spark, sf_dir).limit(20).toPandas()
    import pyarrow as pa

    tdir = str(tmp_path / "table")
    batch = pa.RecordBatch.from_pandas(docs)

    w = ss.SnapshotStreamWriter({"path": tdir}, overwrite=False)
    msg = w.write(iter([batch]))  # driver-side call works fine locally
    w.commit([msg], 0)
    assert mt.snapshot_versions(tdir) == [1]
    w2 = ss.SnapshotStreamWriter({"path": tdir}, overwrite=False)
    msg2 = w2.write(iter([batch]))
    w2.commit([msg2], 0)  # replay of epoch 0
    assert mt.snapshot_versions(tdir) == [1]  # no new version
    assert not _os.path.exists(msg2.path)  # replayed files removed
    live = {
        f["path"] for f in mt._read_manifest(tdir, 1)["files"]
    }
    on_disk = {
        _os.path.relpath(p, tdir)
        for p in glob.glob(_os.path.join(tdir, "data", "*", "*.parquet"))
    }
    assert on_disk == live
    # the NEXT epoch commits normally
    w3 = ss.SnapshotStreamWriter({"path": tdir}, overwrite=False)
    w3.commit([w3.write(iter([batch]))], 1)
    assert mt.snapshot_versions(tdir) == [1, 2]


def test_read_changes_stream_equals_batch_cdf(spark, sf_dir, tmp_path):
    """option('read_changes') — the readChangeFeed twin: the streamed
    change rows over a mixed history (appends, merge, reorg, mor
    delete) equal maintenance.snapshot_changes(0) exactly, and merge /
    mor-delete commits STREAM in CDF mode (no on_rewrite needed —
    their row deltas are recorded)."""
    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.filter("doc_id < 150"), tdir)
    mt.snapshot_merge(
        docs.filter("doc_id < 30").withColumn(
            "text", F.concat(F.lit("re:"), F.col("text"))
        ).unionByName(docs.filter("doc_id >= 150 and doc_id < 160")),
        tdir,
        keys=["doc_id"],
    )
    mt.snapshot_cluster_by(spark, tdir, "doc_id", n_files=2)
    mt.snapshot_delete(spark, tdir, "doc_id % 10 = 4", mode="mor")
    mt.snapshot_commit(
        docs.filter("doc_id >= 160 and doc_id < 180"), tdir, mode="append"
    )
    out = _drain(
        spark, tdir, "snap_cdf1", str(tmp_path / "cpc1"),
        read_changes="true",
    )
    want = mt.snapshot_changes(spark, tdir, 0)
    assert set(out.columns) == set(want.columns)
    order = sorted(out.columns)
    assert _same(out.select(*order), want.select(*order))
    # every change class actually occurred in this history
    assert {
        r[0] for r in out.select("_change_type").distinct().collect()
    } == {"insert", "delete", "update_preimage", "update_postimage"}


def test_read_changes_policy_on_unrecoverable_commits(
    spark, sf_dir, tmp_path
):
    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.filter("doc_id < 50"), tdir)
    # a SEMANTIC overwrite has no recorded row delta even for CDF
    mt.snapshot_commit(
        docs.filter("doc_id < 20"), tdir, mode="overwrite"
    )
    mt.snapshot_commit(
        docs.filter("doc_id >= 50 and doc_id < 70"), tdir, mode="append"
    )
    with pytest.raises(Exception, match="row delta|rewrite"):
        _drain(
            spark, tdir, "snap_cdf2a", str(tmp_path / "cpc2a"),
            read_changes="true",
        )
    out = _drain(
        spark, tdir, "snap_cdf2b", str(tmp_path / "cpc2b"),
        read_changes="true", on_rewrite="skip",
    )
    # v1 + v3 inserts stream; the overwrite contributes nothing
    assert {
        r[0] for r in out.select("_commit_version").distinct().collect()
    } == {1, 3}
    assert out.where("_change_type != 'insert'").count() == 0


def test_read_changes_resumes_exactly_once_across_restarts(
    spark, sf_dir, tmp_path
):
    """CDF stream + checkpoint: changes committed between runs of the
    same query arrive exactly once (parquet sink, the checkpoint-
    recovering one) — the incremental CDC-consumer contract."""
    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    cp = str(tmp_path / "cpcdf")
    sink = str(tmp_path / "sinkcdf")
    ss.register(spark)

    def run_once():
        q = (
            spark.readStream.format("snapshot")
            .option("read_changes", "true")
            .load(tdir)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    mt.snapshot_commit(docs.filter("doc_id < 100"), tdir)
    run_once()
    out1 = spark.read.parquet(sink)
    assert out1.count() == 100
    # churn between runs: an update-merge and a mor delete
    mt.snapshot_merge(
        docs.filter("doc_id < 5").withColumn("text", F.lit("v2")),
        tdir, keys=["doc_id"],
    )
    mt.snapshot_delete(spark, tdir, "doc_id = 42", mode="mor")
    run_once()
    out2 = spark.read.parquet(sink)
    want = mt.snapshot_changes(spark, tdir, 0)
    order = sorted(want.columns)
    assert _same(out2.select(*order), want.select(*order))
    # nothing duplicated: exactly 100 inserts + 5+5 updates + 1 delete
    assert out2.count() == 100 + 10 + 1
