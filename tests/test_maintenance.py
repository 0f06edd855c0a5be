"""Snapshot tables (operators/maintenance.py): commits, time travel,
merge/delete, manifest stats and blooms, the change feed, replication
and the maintenance policy. Compaction and clustering must preserve
content exactly and hit the planned file counts; clustering must
leave per-file manifest ranges that prune point lookups."""

import pyspark.sql.functions as F
import pytest

from teste_carga_avro_vs_json_spark.operators import maintenance as mt


def _same_multiset(a, b):
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_plan_output_files_math():
    mb = 1024 * 1024
    assert mt.plan_output_files(0, 256) == 1
    assert mt.plan_output_files(1, 256) == 1
    assert mt.plan_output_files(256 * mb, 256) == 1
    assert mt.plan_output_files(256 * mb + 1, 256) == 2
    assert mt.plan_output_files(10 * 256 * mb, 256) == 10


# ----------------------------------------------------------- snapshots


def _sums(df):
    import pyspark.sql.functions as F

    r = df.agg(
        F.count("*").alias("n"), F.sum(F.crc32(F.col("text"))).alias("h")
    ).collect()[0]
    return r["n"], r["h"]


def test_snapshot_time_travel_exact(spark, sf_dir, tmp_path):
    from teste_carga_avro_vs_json_spark.operators import maintenance as mt

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    a = docs.filter("doc_id % 2 = 0")
    b = docs.filter("doc_id % 2 = 1")
    tdir = str(tmp_path / "table")
    v1 = mt.snapshot_commit(a, tdir, mode="append")
    v2 = mt.snapshot_commit(b, tdir, mode="append")
    assert (v1, v2) == (1, 2)
    assert mt.snapshot_versions(tdir) == [1, 2]
    # time travel: v1 = evens only, v2 = full corpus
    assert _sums(mt.snapshot_read(spark, tdir, 1)) == _sums(a)
    assert _sums(mt.snapshot_read(spark, tdir, 2)) == _sums(docs)
    assert _sums(mt.snapshot_read(spark, tdir)) == _sums(docs)

    # overwrite replaces the view; older versions stay readable
    v3 = mt.snapshot_commit(a.limit(10), tdir, mode="overwrite")
    assert mt.snapshot_read(spark, tdir, v3).count() == 10
    assert _sums(mt.snapshot_read(spark, tdir, 2)) == _sums(docs)


def test_snapshot_manifest_is_the_commit_point(spark, sf_dir, tmp_path):
    import os

    from teste_carga_avro_vs_json_spark.operators import maintenance as mt

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.limit(50), tdir)
    # simulate a crashed writer: data directory without a manifest
    orphan = os.path.join(tdir, "data", "v99999999")
    docs.limit(7).write.parquet(orphan)
    assert mt.snapshot_versions(tdir) == [1]
    assert mt.snapshot_read(spark, tdir).count() == 50  # orphan invisible


def test_snapshot_compact(spark, sf_dir, tmp_path):
    from teste_carga_avro_vs_json_spark.operators import maintenance as mt

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    tdir = str(tmp_path / "table")
    # many-file ingest: 3 appends at 8 partitions each = 24 tiny files
    for i in range(3):
        mt.snapshot_commit(
            docs.filter(f"doc_id % 3 = {i}").repartition(8), tdir
        )
    before = _sums(mt.snapshot_read(spark, tdir))
    pre_manifest_files = len(
        mt._read_manifest(tdir, mt.snapshot_versions(tdir)[-1])["files"]
    )
    assert pre_manifest_files >= 24

    info = mt.snapshot_compact(spark, tdir, target_mb=128.0)
    assert info["version"] == 4
    after = mt.snapshot_read(spark, tdir)
    assert _sums(after) == before  # content preserved exactly
    post_files = len(mt._read_manifest(tdir, 4)["files"])
    assert post_files <= info["planned_files"] <= pre_manifest_files

    # pinned reader on v3 still works after compaction
    assert _sums(mt.snapshot_read(spark, tdir, 3)) == before


def test_snapshot_concurrent_appends_both_commit(spark, sf_dir, tmp_path):
    """r9 multi-writer story: two interleaved appenders — exactly one
    wins each version, the loser retries cleanly, and BOTH datasets
    are present in the final version (no lost update, no clobbered
    data dir)."""
    import threading

    from teste_carga_avro_vs_json_spark.operators import maintenance as mt

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.limit(10), tdir)  # v1

    a = docs.filter("doc_id % 2 = 0").limit(20)
    b = docs.filter("doc_id % 2 = 1").limit(20)
    results, errors = {}, []
    barrier = threading.Barrier(2)

    def commit(name, df):
        try:
            barrier.wait()
            results[name] = mt.snapshot_commit(df, tdir, mode="append")
        except Exception as e:  # noqa: BLE001
            errors.append((name, e))

    threads = [
        threading.Thread(target=commit, args=("a", a)),
        threading.Thread(target=commit, args=("b", b)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert sorted(results.values()) == [2, 3]  # one won v2, loser got v3
    assert mt.snapshot_versions(tdir) == [1, 2, 3]
    final = mt.snapshot_read(spark, tdir)
    assert final.count() == 50  # 10 + 20 + 20: no lost update
    # v2 holds v1 + exactly one of the writers' rows
    assert mt.snapshot_read(spark, tdir, 2).count() == 30


def test_snapshot_version_race_retries_against_prepublished(
    spark, sf_dir, tmp_path
):
    """Deterministic CAS probe: another writer publishes v2 between
    our data write and our manifest publish — snapshot_commit must
    NOT overwrite v2; it re-reads the new parent and lands v3 with
    the union file list."""
    import json
    import os

    from teste_carga_avro_vs_json_spark.operators import maintenance as mt

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.limit(5), tdir)  # v1
    v1_manifest = mt._read_manifest(tdir, 1)

    # adversary: hand-publish v2 reusing v1's file list
    foreign = dict(v1_manifest, version=2, op="append")
    path2 = mt._manifest_path(tdir, 2)
    with open(path2, "w") as f:
        json.dump(foreign, f)
    before = os.path.getmtime(path2)

    v = mt.snapshot_commit(docs.limit(7), tdir, mode="append")
    assert v == 3
    assert os.path.getmtime(path2) == before  # v2 untouched
    assert mt.snapshot_read(spark, tdir, 3).count() == 12
    # no stray .tmp manifests left behind by the losing attempt
    snap = os.path.join(tdir, mt._SNAP_DIR)
    assert [n for n in os.listdir(snap) if n.endswith(".tmp")] == []


def test_snapshot_commit_retries_on_stale_version_read(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Force the EEXIST path deterministically: the first version read
    is stale (claims v1 is latest while v2 already exists), so the
    first link() attempt collides and the retry must land v3."""
    from teste_carga_avro_vs_json_spark.operators import maintenance as mt

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.limit(5), tdir)   # v1
    mt.snapshot_commit(docs.limit(6), tdir)   # v2

    real = mt.snapshot_versions
    calls = {"n": 0}

    def stale_once(table_dir):
        calls["n"] += 1
        out = real(table_dir)
        return out[:-1] if calls["n"] == 1 else out

    monkeypatch.setattr(mt, "snapshot_versions", stale_once)
    v = mt.snapshot_commit(docs.limit(7), tdir, mode="append")
    assert v == 3
    assert calls["n"] >= 2  # the EEXIST retry re-read the log
    assert mt.snapshot_read(spark, tdir, 3).count() == 5 + 6 + 7


def test_snapshot_read_empty_version_returns_zero_rows(spark, sf_dir, tmp_path):
    """An empty-manifest version must return ZERO rows with the
    table's schema — never fall back to scanning data/, which with
    attempt-unique c-* dirs can hold parquet from other versions or
    failed commit attempts that are not part of this version."""
    import pytest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    import json
    import os

    def _force_empty_manifest(table_dir, version):
        # synthesize the zero-survivor shape: a committed version
        # whose file list is literally empty (a 0-row write still
        # emits a part file, so go through the manifest directly)
        path = mt._manifest_path(table_dir, version)
        with open(path) as f:
            m = json.load(f)
        m["files"], m["n_files"], m["n_bytes"] = [], 0, 0
        with open(path, "w") as f:
            json.dump(m, f)

    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.limit(20), tdir)                     # v1: 20 rows
    v2 = mt.snapshot_commit(docs.limit(0), tdir, mode="overwrite")  # v2: empty
    _force_empty_manifest(tdir, v2)
    # plant an orphan in data/ — a failed/concurrent attempt's output
    # that must NOT leak into the empty version
    orphan = os.path.join(tdir, "data")
    docs.limit(5).write.mode("append").parquet(
        os.path.join(orphan, "c-orphan")
    )
    empty = mt.snapshot_read(spark, tdir, v2)
    assert empty.count() == 0
    assert empty.columns == ["doc_id", "text"]
    assert mt.snapshot_read(spark, tdir, 1).count() == 20  # v1 untouched

    # a table whose ONLY version is empty has no knowable schema
    t2 = str(tmp_path / "t2")
    v = mt.snapshot_commit(docs.limit(0), t2)
    _force_empty_manifest(t2, v)
    with pytest.raises(ValueError, match="no files"):
        mt.snapshot_read(spark, t2, 1)


def test_snapshot_merge_rewrites_only_affected_files(spark, sf_dir, tmp_path):
    """r10 copy-on-write MERGE: an upsert keyed on doc_id rewrites
    ONLY the files containing matched keys (manifest-diff evidence),
    carries every other file by reference, inserts new keys, and time
    travel still shows the pre-merge version exactly."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).limit(200)
    tdir = str(tmp_path / "table")
    # 4 disjoint doc_id-range files so "affected" is a real subset
    v1 = mt.snapshot_commit(docs.repartitionByRange(4, "doc_id"), tdir)
    m1 = mt._read_manifest(tdir, v1)
    assert m1["n_files"] == 4
    lo = [r.doc_id for r in docs.orderBy("doc_id").limit(3).collect()]
    hi_id = docs.agg(F.max("doc_id")).first()[0] + 10_000

    delta = spark.createDataFrame(
        [(int(i), f"recrawl-{i}") for i in lo]
        + [(int(hi_id), "brand-new-doc")],
        "doc_id long, text string",
    )
    res = mt.snapshot_merge(delta, tdir, keys=["doc_id"])
    # only the one lowest-range file contained the 3 matched keys
    assert res["files_rewritten"] == 1
    assert res["files_kept"] == 3
    assert res["rows_replaced"] == 3
    assert res["rows_inserted"] == 1
    m2 = mt._read_manifest(tdir, res["version"])
    kept_paths = {f["path"] for f in m1["files"]} & {
        f["path"] for f in m2["files"]
    }
    assert len(kept_paths) == 3  # manifest diff: 3 carried by reference

    latest = mt.snapshot_read(spark, tdir)
    assert latest.count() == 201
    got = {
        r.doc_id: r.text
        for r in latest.where(F.col("doc_id").isin([*lo, hi_id])).collect()
    }
    assert got == {**{i: f"recrawl-{i}" for i in lo}, hi_id: "brand-new-doc"}
    # time travel: v1 still has the ORIGINAL texts
    old = mt.snapshot_read(spark, tdir, v1)
    assert old.count() == 200
    assert old.where(F.col("text").startswith("recrawl-")).count() == 0

    # merging only NEW keys appends without rewriting anything
    res2 = mt.snapshot_merge(
        spark.createDataFrame(
            [(int(hi_id) + 1, "another-new")], "doc_id long, text string"
        ),
        tdir,
        keys=["doc_id"],
    )
    assert res2["files_rewritten"] == 0 and res2["rows_inserted"] == 1
    assert mt.snapshot_read(spark, tdir).count() == 202

    # duplicate keys in the delta are a caller bug, not silent dupes
    import pytest

    dupes = spark.createDataFrame(
        [(1, "a"), (1, "b")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="duplicate merge keys"):
        mt.snapshot_merge(dupes, tdir, keys=["doc_id"])


def test_snapshot_merge_concurrent_one_wins_one_retries(
    spark, sf_dir, tmp_path
):
    """Two mergers computed against the same head, REAL threads.

    r12 update (disjoint-file cow rebase, VERDICT r11 order #2): when
    the two merges touch keys in DIFFERENT files of a range-clustered
    table, the loser of the publish race REBASES past the winner's
    rewrite and BOTH commit with no caller retry. A same-file race
    (single-file table) still surfaces SnapshotConflictError to
    exactly one of them, and its plain re-run succeeds."""
    import threading

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).limit(100)
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())

    deltas = {
        "a": spark.createDataFrame(
            [(int(ids[0]), "merge-a")], "doc_id long, text string"
        ),
        "b": spark.createDataFrame(
            [(int(ids[-1]), "merge-b")], "doc_id long, text string"
        ),
    }

    def storm(tdir):
        results: dict = {}
        barrier = threading.Barrier(2)

        def run(name):
            barrier.wait()
            try:
                results[name] = mt.snapshot_merge(
                    deltas[name], tdir, keys=["doc_id"]
                )
            except mt.SnapshotConflictError as e:
                results[name] = e

        ts = [threading.Thread(target=run, args=(n,)) for n in deltas]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=120)
        return results

    # disjoint files (range-clustered): both commit, no caller retry
    tdir = str(tmp_path / "clustered")
    mt.snapshot_commit(docs.repartitionByRange(4, "doc_id"), tdir)
    results = storm(tdir)
    assert all(isinstance(results[n], dict) for n in deltas), results
    assert sorted(results[n]["version"] for n in deltas) == [2, 3]
    latest = mt.snapshot_read(spark, tdir)
    texts = {
        r.text for r in latest.where(
            F.col("doc_id").isin([int(ids[0]), int(ids[-1])])
        ).collect()
    }
    assert texts == {"merge-a", "merge-b"}  # both merges landed
    assert latest.count() == 100

    # same file: exactly one loses, loudly; its re-run lands
    tdir2 = str(tmp_path / "onefile")
    mt.snapshot_commit(docs.coalesce(1), tdir2)
    results2 = storm(tdir2)
    outcomes = sorted(
        isinstance(results2[n], mt.SnapshotConflictError) for n in deltas
    )
    assert outcomes == [False, True], results2
    loser = next(
        n for n in deltas
        if isinstance(results2[n], mt.SnapshotConflictError)
    )
    retry = mt.snapshot_merge(deltas[loser], tdir2, keys=["doc_id"])
    assert retry["rows_replaced"] == 1
    latest2 = mt.snapshot_read(spark, tdir2)
    texts2 = {
        r.text for r in latest2.where(
            F.col("doc_id").isin([int(ids[0]), int(ids[-1])])
        ).collect()
    }
    assert texts2 == {"merge-a", "merge-b"}
    assert latest2.count() == 100


def test_snapshot_cluster_by_bounds_merge_rewrites(spark, sf_dir, tmp_path):
    """snapshot_cluster_by is the maintenance op that keeps merges
    cheap: after clustering on doc_id, per-file footer ranges are
    disjoint and a 2-key upsert rewrites exactly the files holding
    those keys; the scattered pre-cluster layout would rewrite most of
    the table."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).limit(400)
    tdir = str(tmp_path / "table")
    # scattered initial layout: 6 files, doc_ids interleaved
    mt.snapshot_commit(docs.repartition(6, F.col("text")), tdir)
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    delta = spark.createDataFrame(
        [(int(ids[0]), "u0"), (int(ids[1]), "u1")],
        "doc_id long, text string",
    )
    scattered = mt.snapshot_merge(delta, tdir, keys=["doc_id"])
    assert scattered["files_rewritten"] >= 2  # interleaved: spread out

    res = mt.snapshot_cluster_by(spark, tdir, "doc_id", n_files=4)
    assert res["output_files"] == 4
    latest = mt.snapshot_read(spark, tdir)
    assert latest.count() == 400  # content preserved exactly
    # adjacent keys now live in ONE file: the same-shape merge
    # rewrites exactly one
    delta2 = spark.createDataFrame(
        [(int(ids[2]), "u2"), (int(ids[3]), "u3")],
        "doc_id long, text string",
    )
    clustered = mt.snapshot_merge(delta2, tdir, keys=["doc_id"])
    assert clustered["files_rewritten"] == 1
    assert clustered["files_kept"] == 3
    got = {
        r.doc_id: r.text
        for r in mt.snapshot_read(spark, tdir)
        .where(F.col("doc_id").isin([int(i) for i in ids[:4]]))
        .collect()
    }
    assert got == {ids[0]: "u0", ids[1]: "u1", ids[2]: "u2", ids[3]: "u3"}


def test_snapshot_schema_evolution_read(spark, sf_dir, tmp_path):
    """Appends may ADD columns; merge_schema=True reads the union
    schema with old rows null-filled, the default read keeps the
    original column set, and time travel is unaffected."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).limit(50)
    tdir = str(tmp_path / "table")
    v1 = mt.snapshot_commit(docs, tdir)
    evolved = docs.limit(10).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "text",
        F.lit("pt").alias("lang"),
    )
    mt.snapshot_commit(evolved, tdir, mode="append")

    wide = mt.snapshot_read(spark, tdir, merge_schema=True)
    assert set(wide.columns) == {"doc_id", "text", "lang"}
    assert wide.count() == 60
    assert wide.where(F.col("lang").isNull()).count() == 50  # null-fill
    assert wide.where(F.col("lang") == "pt").count() == 10
    # default read: original column order/width (oracle-pin behavior)
    assert mt.snapshot_read(spark, tdir).columns[:2] == ["doc_id", "text"]
    # time travel: v1 never sees the new column even merged
    old = mt.snapshot_read(spark, tdir, v1, merge_schema=True)
    assert set(old.columns) == {"doc_id", "text"}


def test_merge_on_evolved_table_keeps_union_schema(
    spark, sf_dir, tmp_path
):
    """r11 (VERDICT order #2): a merge over files written before a
    schema evolution must NOT silently operate on first-file schema.
    Merge on the evolved-then-unmerged table == compact-then-merge,
    and the evolved column survives with old rows null-filled."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).limit(60)
    delta = docs.limit(8).select(
        "doc_id", F.lit("merged").alias("text"), F.lit("pt").alias("lang")
    )

    def build(tdir):
        mt.snapshot_commit(docs, tdir)
        evolved = docs.limit(10).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            "text",
            F.lit("en").alias("lang"),
        )
        mt.snapshot_commit(evolved, tdir, mode="append")

    t_direct = str(tmp_path / "direct")
    build(t_direct)
    mt.snapshot_merge(delta, t_direct, keys=["doc_id"])

    t_compacted = str(tmp_path / "compacted")
    build(t_compacted)
    mt.snapshot_compact(spark, t_compacted)  # consolidates the union
    mt.snapshot_merge(delta, t_compacted, keys=["doc_id"])

    a = mt.snapshot_read(spark, t_direct, merge_schema=True)
    b = mt.snapshot_read(spark, t_compacted, merge_schema=True)
    assert set(a.columns) == {"doc_id", "text", "lang"}
    order = sorted(a.columns)
    assert _same_multiset(a.select(*order), b.select(*order))
    # the evolved column's data survived the merge rewrite
    assert a.where("lang = 'en'").count() == 10
    assert a.where("lang = 'pt'").count() == 8
    assert a.where("lang is null").count() == 60 - 8

    # a delta carrying the OLD column set null-fills the evolved col
    t2 = str(tmp_path / "olddelta")
    build(t2)
    mt.snapshot_merge(
        docs.limit(3).select("doc_id", F.lit("old-shape").alias("text")),
        t2, keys=["doc_id"],
    )
    got = mt.snapshot_read(spark, t2, merge_schema=True)
    assert set(got.columns) == {"doc_id", "text", "lang"}
    assert got.where("text = 'old-shape' and lang is null").count() == 3

    # unknown delta columns refuse loudly (no accidental evolution)
    import pytest

    with pytest.raises(ValueError, match="absent from the table"):
        mt.snapshot_merge(
            delta.withColumn("mystery", F.lit(1)), t2, keys=["doc_id"]
        )


def test_delete_on_evolved_table_sees_union_schema(
    spark, sf_dir, tmp_path
):
    """cow DELETE WHERE on an evolved column: matches only rows that
    HAVE the column (old rows null-filled, null condition = no match);
    the rewrite keeps the union schema."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).limit(40)
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs, tdir)
    evolved = docs.limit(10).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "text",
        F.when(F.col("doc_id") % 2 == 0, "drop-me")
        .otherwise("keep").alias("tag"),
    )
    n_drop = evolved.where("tag = 'drop-me'").count()
    assert 0 < n_drop < 10  # both classes present
    mt.snapshot_commit(evolved, tdir, mode="append")
    r = mt.snapshot_delete(spark, tdir, "tag = 'drop-me'", mode="cow")
    assert r["rows_deleted"] == n_drop
    got = mt.snapshot_read(spark, tdir, merge_schema=True)
    assert got.count() == 50 - n_drop
    # survivors of the rewritten evolved file keep their column; the
    # old rows (null tag) were never touched
    assert got.where("tag = 'keep'").count() == 10 - n_drop
    assert got.where("tag = 'drop-me'").count() == 0
    assert got.where("tag is null").count() == 40
    # mor mode on the same shape
    tdir2 = str(tmp_path / "table2")
    mt.snapshot_commit(docs, tdir2)
    mt.snapshot_commit(
        docs.limit(5).select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            "text",
            F.lit("x").alias("tag"),
        ),
        tdir2, mode="append",
    )
    r2 = mt.snapshot_delete(spark, tdir2, "tag = 'x'", mode="mor")
    assert r2["rows_deleted"] == 5
    assert mt.snapshot_read(spark, tdir2, merge_schema=True).count() == 40


def test_snapshot_delete_where_copy_on_write(spark, sf_dir, tmp_path):
    """Copy-on-write DELETE: only files containing matches rewrite;
    time travel keeps pre-delete versions (the documented erasure
    caveat); a no-match condition publishes nothing."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).limit(200)
    tdir = str(tmp_path / "table")
    v1 = mt.snapshot_commit(docs.repartitionByRange(4, "doc_id"), tdir)
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    low3 = [int(i) for i in ids[:3]]

    res = mt.snapshot_delete(
        spark, tdir, f"doc_id in ({','.join(map(str, low3))})"
    )
    assert res["rows_deleted"] == 3
    assert res["files_rewritten"] == 1  # clustered: all 3 in one file
    assert res["files_kept"] == 3
    latest = mt.snapshot_read(spark, tdir)
    assert latest.count() == 197
    assert latest.where(F.col("doc_id").isin(low3)).count() == 0
    # time travel: erased rows still in v1 (the point of snapshots)
    assert mt.snapshot_read(spark, tdir, v1).count() == 200

    # no-match delete: nothing published, same head
    res2 = mt.snapshot_delete(spark, tdir, "doc_id = -42")
    assert res2["version"] == res["version"]
    assert res2["rows_deleted"] == 0
    assert mt.snapshot_versions(tdir)[-1] == res["version"]

    # deleting EVERY row of a file drops the file without a rewrite
    hi = int(ids[-1])
    res3 = mt.snapshot_delete(spark, tdir, f"doc_id <= {hi}")
    assert res3["rows_deleted"] == 197
    assert res3["files_new"] == 0  # nothing survived: pure file drop
    empty = mt.snapshot_read(spark, tdir)
    assert empty.count() == 0
    assert empty.columns == ["doc_id", "text"]  # schema preserved


# ---------------------------------------- manifest stats + data skipping
def test_snapshot_commit_records_footer_stats(spark, sf_dir, tmp_path):
    """Every committed file entry carries rows + usable min/max from
    the parquet footer (no data scan), and the recorded bounds match
    the data exactly."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.repartition(4), tdir)
    manifest = mt._read_manifest(tdir, 1)
    assert len(manifest["files"]) == 4
    lo = hi = None
    total_rows = 0
    for f in manifest["files"]:
        total_rows += f["rows"]
        st = f["stats"]
        assert "doc_id" in st and "lang" in st
        mn, mx = st["doc_id"]
        lo = mn if lo is None else min(lo, mn)
        hi = mx if hi is None else max(hi, mx)
    agg = docs.agg(
        F.min("doc_id"), F.max("doc_id"), F.count("*")
    ).collect()[0]
    assert (lo, hi, total_rows) == (agg[0], agg[1], agg[2])


def test_snapshot_prune_on_clustered_table(spark, sf_dir, tmp_path):
    """The headline composition: cluster_by gives disjoint per-file
    doc_id ranges, so a narrow prune plans ~1 file — and the result
    equals the unpruned filter EXACTLY."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs, tdir)
    mt.snapshot_cluster_by(spark, tdir, "doc_id", n_files=8)
    lo, hi = 100, 140
    report = mt.snapshot_prune_report(tdir, {"doc_id": (lo, hi)})
    assert report["n_files"] == 8
    assert report["n_kept"] <= 2          # disjoint ranges: 1-2 files
    assert report["n_skipped"] >= 6
    got = mt.snapshot_read(spark, tdir, prune={"doc_id": (lo, hi)})
    want = mt.snapshot_read(spark, tdir).where(
        (F.col("doc_id") >= lo) & (F.col("doc_id") <= hi)
    )
    assert _same_multiset(got, want)
    # the Spark plan really scans fewer files: inputFiles reflects the
    # pruned list
    assert len(got.inputFiles()) == report["n_kept"]


def test_snapshot_prune_equality_and_open_ranges(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs, tdir)
    mt.snapshot_cluster_by(spark, tdir, "doc_id", n_files=6)
    full = mt.snapshot_read(spark, tdir)
    # equality
    got = mt.snapshot_read(spark, tdir, prune={"doc_id": 42})
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in full.where("doc_id = 42").collect()
    ]
    assert len(got.inputFiles()) == 1
    # one-sided ranges
    hi_only = mt.snapshot_read(spark, tdir, prune={"doc_id": (None, 10)})
    assert hi_only.count() == full.where("doc_id <= 10").count()
    lo_only = mt.snapshot_read(spark, tdir, prune={"doc_id": (10, None)})
    assert lo_only.count() == full.where("doc_id >= 10").count()
    # prune-to-empty: schema-correct zero-row frame
    empty = mt.snapshot_read(spark, tdir, prune={"doc_id": (10**9, None)})
    assert empty.count() == 0
    assert empty.columns == full.columns


def test_snapshot_prune_never_skips_without_stats(spark, sf_dir, tmp_path):
    """Entries with stats stripped (old-format manifests, exotic
    types) are ALWAYS kept — pruning degrades to a plain filtered
    read, never to a wrong answer."""
    import json

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.repartition(4), tdir)
    mpath = mt._manifest_path(tdir, 1)
    manifest = json.load(open(mpath))
    for f in manifest["files"]:
        f.pop("stats", None)
        f.pop("rows", None)
    json.dump(manifest, open(mpath, "w"))
    report = mt.snapshot_prune_report(tdir, {"doc_id": (0, 5)})
    assert report["n_skipped"] == 0
    got = mt.snapshot_read(spark, tdir, prune={"doc_id": (0, 5)})
    assert got.count() == docs.where("doc_id between 0 and 5").count()
    # type-mismatched predicate vs int stats: keep, row filter decides
    assert mt._prune_keep(
        {"stats": {"doc_id": [0, 9]}}, {"doc_id": ("a", "b")}
    )


def test_snapshot_stats_skip_long_strings_and_survive_append(
    spark, sf_dir, tmp_path
):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.filter("doc_id < 50"), tdir)
    v1_files = mt._read_manifest(tdir, 1)["files"]
    for f in v1_files:
        # fixture text exceeds the 64-char stats cap -> no text bounds;
        # short lang codes keep theirs
        assert "text" not in f.get("stats", {})
        assert "lang" in f["stats"]
    # an append carries v1 entries (with stats) by reference
    mt.snapshot_commit(docs.filter("doc_id >= 50"), tdir, mode="append")
    v2_files = mt._read_manifest(tdir, 2)["files"]
    assert v1_files == v2_files[: len(v1_files)]
    # string-range prune on lang is exact
    got = mt.snapshot_read(spark, tdir, prune={"lang": "pt"})
    assert got.count() == docs.where("lang = 'pt'").count()


def test_snapshot_merge_rewrites_carry_fresh_stats(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs, tdir)
    mt.snapshot_cluster_by(spark, tdir, "doc_id", n_files=4)
    delta = docs.where("doc_id between 0 and 3").withColumn(
        "text", F.lit("recrawled")
    )
    res = mt.snapshot_merge(delta, tdir, keys=["doc_id"])
    files = mt._read_manifest(tdir, res["version"])["files"]
    assert all("stats" in f and "rows" in f for f in files)
    # pruned point-read sees the merged row
    got = mt.snapshot_read(spark, tdir, prune={"doc_id": 2}).collect()
    assert [r.text for r in got] == ["recrawled"]


# ---------------------------------------------------------------- blooms


def _scattered(spark, sf_dir):
    """documents with a string key, ROUND-ROBIN partitioned so every
    file's min/max key range spans (nearly) the whole key space —
    the shape where range stats prune nothing and only a per-file
    membership structure can skip."""
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            F.format_string("k%04d", F.col("doc_id")).alias("key"),
            "doc_id",
            "text",
        )
        .repartition(8)
    )


def test_snapshot_bloom_prunes_scattered_point_lookup(
    spark, sf_dir, tmp_path
):
    """On a scattered high-cardinality key min/max skips 0 files; the
    manifest bloom skips all files not containing the key — and the
    pruned read equals the plain filtered read exactly."""
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(_scattered(spark, sf_dir), tdir, bloom_cols=["key"])
    report = mt.snapshot_prune_report(tdir, {"key": "k0042"})
    assert report["n_files"] == 8
    assert report["n_skipped_minmax"] == 0  # ranges span everything
    assert report["n_skipped_bloom"] >= 6   # blooms do the skipping
    assert report["n_kept"] <= 2
    got = mt.snapshot_read(spark, tdir, prune={"key": "k0042"})
    assert len(got.inputFiles()) == report["n_kept"]
    full = mt.snapshot_read(spark, tdir)
    assert _same_multiset(got, full.where("key = 'k0042'"))
    # a key that exists nowhere prunes to the empty frame
    miss = mt.snapshot_read(spark, tdir, prune={"key": "k9999"})
    assert miss.count() == 0 and miss.columns == full.columns


def test_snapshot_bloom_zero_false_negatives_exhaustive(
    spark, sf_dir, tmp_path
):
    """For EVERY key in EVERY file, _prune_keep must keep that file —
    the bloom zero-false-negative property, checked at the manifest
    level against the actual parquet contents (int AND string cols)."""
    import os as _os

    import pyarrow.parquet as pq

    tdir = str(tmp_path / "table")
    mt.snapshot_commit(
        _scattered(spark, sf_dir), tdir, bloom_cols=["key", "doc_id"]
    )
    manifest = mt._read_manifest(tdir, 1)
    checked = 0
    for entry in manifest["files"]:
        assert set(entry["bloom"]) == {"key", "doc_id"}
        table = pq.read_table(
            _os.path.join(tdir, entry["path"]), columns=["key", "doc_id"]
        )
        for key, did in zip(
            table.column("key").to_pylist(), table.column("doc_id").to_pylist()
        ):
            assert mt._prune_keep(entry, {"key": key})
            assert mt._prune_keep(entry, {"doc_id": did})
            checked += 1
    assert checked == 500


def test_snapshot_bloom_ranges_never_consult_bloom(spark, sf_dir, tmp_path):
    """Range predicates can't use membership structures: on the
    scattered layout a range prune skips nothing (min/max spans all),
    n_skipped_bloom stays 0, and results are exact."""
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(_scattered(spark, sf_dir), tdir, bloom_cols=["key"])
    report = mt.snapshot_prune_report(tdir, {"key": ("k0010", "k0020")})
    assert report["n_skipped_bloom"] == 0
    got = mt.snapshot_read(
        spark, tdir, prune={"key": ("k0010", "k0020")}
    )
    full = mt.snapshot_read(spark, tdir)
    assert _same_multiset(
        got, full.where("key between 'k0010' and 'k0020'")
    )


def test_snapshot_bloom_inherited_by_append_merge_and_optout(
    spark, sf_dir, tmp_path
):
    """One bloom-indexed commit keeps the table indexed: appends with
    the default bloom_cols inherit the parent's columns, merge
    rewrites re-index, and an explicit () stops indexing new files."""
    docs = _scattered(spark, sf_dir)
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.where("doc_id < 400"), tdir, bloom_cols=["key"])
    # append WITHOUT naming bloom_cols -> inherits ["key"]
    mt.snapshot_commit(
        docs.where("doc_id >= 400").repartition(2), tdir, mode="append"
    )
    m2 = mt._read_manifest(tdir, 2)
    assert all("key" in (f.get("bloom") or {}) for f in m2["files"])
    # a point lookup on the appended slice prunes across BOTH commits:
    # min/max retires the first commit's files (all keys < k0400),
    # the bloom splits the two appended round-robin files
    report = mt.snapshot_prune_report(tdir, {"key": "k0450"})
    assert report["n_kept"] == 1
    assert report["n_skipped_minmax"] >= 8
    assert report["n_skipped_bloom"] >= 1
    got = mt.snapshot_read(spark, tdir, prune={"key": "k0450"})
    assert got.count() == 1
    # merge rewrites carry blooms on the new files too
    delta = docs.where("doc_id = 450").withColumn(
        "text", F.lit("recrawled")
    )
    mt.snapshot_merge(delta, tdir, keys=["key"])
    m3 = mt._read_manifest(tdir, 3)
    assert all("key" in (f.get("bloom") or {}) for f in m3["files"])
    got = mt.snapshot_read(spark, tdir, prune={"key": "k0450"})
    assert [r["text"] for r in got.collect()] == ["recrawled"]
    # explicit opt-out: new files unindexed
    mt.snapshot_commit(
        docs.limit(5), tdir, mode="append", bloom_cols=()
    )
    m4 = mt._read_manifest(tdir, 4)
    assert any("bloom" not in f for f in m4["files"])


def test_snapshot_bloom_cap_and_unindexable_types(spark, tmp_path):
    """A file whose distinct-key count needs a bitmap over the cap
    gets NO bloom (omission safe); float columns are never indexed and
    float equality predicates never wrongly skip."""
    big = spark.range(30000).select(
        F.format_string("v%07d", F.col("id")).alias("v"),
        (F.col("id") * 0.5).alias("x"),
    ).coalesce(1)
    tdir = str(tmp_path / "big")
    mt.snapshot_commit(big, tdir, bloom_cols=["v", "x"])
    entry = mt._read_manifest(tdir, 1)["files"][0]
    # 30k distinct needs m > _BLOOM_MAX_BITS at 1% fpp -> omitted
    assert "v" not in (entry.get("bloom") or {})
    assert "x" not in (entry.get("bloom") or {})
    got = mt.snapshot_read(spark, tdir, prune={"x": 7.5})
    assert got.count() == 1  # row filter still exact, no wrong skip
    # small table: bloom present, floats still unindexed
    small = spark.range(100).select(
        F.format_string("v%03d", F.col("id")).alias("v"),
        (F.col("id") * 0.5).alias("x"),
    ).coalesce(1)
    tdir2 = str(tmp_path / "small")
    mt.snapshot_commit(small, tdir2, bloom_cols=["v", "x"])
    entry2 = mt._read_manifest(tdir2, 1)["files"][0]
    assert "v" in entry2["bloom"] and "x" not in entry2["bloom"]


# ------------------------------------------------------- merge-on-read


def _docs(spark, sf_dir, n_parts=6):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "lang", "text")
        .repartition(n_parts)
    )


def test_snapshot_delete_mor_rewrites_nothing(spark, sf_dir, tmp_path):
    """Merge-on-read delete: the commit records positional delete
    vectors — the data file list (and the bytes on disk) is UNCHANGED,
    reads exclude the rows exactly, and time travel still sees them."""
    import os as _os

    tdir = str(tmp_path / "table")
    mt.snapshot_commit(_docs(spark, sf_dir), tdir)
    m1 = mt._read_manifest(tdir, 1)
    mtimes = {
        f["path"]: _os.path.getmtime(_os.path.join(tdir, f["path"]))
        for f in m1["files"]
    }
    want_deleted = (
        mt.snapshot_read(spark, tdir).where("doc_id % 7 = 0").count()
    )
    res = mt.snapshot_delete(
        spark, tdir, "doc_id % 7 = 0", mode="mor"
    )
    assert res["files_rewritten"] == 0 and res["files_new"] == 0
    assert res["rows_deleted"] == want_deleted
    m2 = mt._read_manifest(tdir, 2)
    assert [f["path"] for f in m2["files"]] == [
        f["path"] for f in m1["files"]
    ]
    assert m2["op"] == "delete-mor"
    assert m2["dv"]["n_rows"] == want_deleted
    for f in m2["files"]:  # bytes untouched
        assert (
            _os.path.getmtime(_os.path.join(tdir, f["path"]))
            == mtimes[f["path"]]
        )
    latest = mt.snapshot_read(spark, tdir)
    assert latest.where("doc_id % 7 = 0").count() == 0
    assert latest.count() == 500 - want_deleted
    # and the non-deleted rows are exactly the original ones
    assert _same_multiset(
        latest,
        mt.snapshot_read(spark, tdir, 1).where("doc_id % 7 != 0"),
    )
    # time travel: v1 still has everything
    assert mt.snapshot_read(spark, tdir, 1).count() == 500


def test_snapshot_delete_mor_stacks_without_double_count(
    spark, sf_dir, tmp_path
):
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(_docs(spark, sf_dir), tdir)
    r1 = mt.snapshot_delete(spark, tdir, "doc_id < 100", mode="mor")
    r2 = mt.snapshot_delete(spark, tdir, "doc_id < 150", mode="mor")
    assert r1["rows_deleted"] == 100 and r2["rows_deleted"] == 50
    assert mt._read_manifest(tdir, 3)["dv"]["n_rows"] == 150
    # re-deleting already-deleted rows publishes NO new version
    r3 = mt.snapshot_delete(spark, tdir, "doc_id < 150", mode="mor")
    assert r3["rows_deleted"] == 0
    assert mt.snapshot_versions(tdir)[-1] == 3
    assert mt.snapshot_read(spark, tdir).count() == 350
    # intermediate version: only the first delete applied
    assert mt.snapshot_read(spark, tdir, 2).count() == 400


def test_snapshot_mor_composes_with_prune_append_and_merge(
    spark, sf_dir, tmp_path
):
    """DVs apply under pruned reads, survive appends (carried), and
    snapshot_merge neither resurrects deleted rows nor counts them as
    replaced."""
    tdir = str(tmp_path / "table")
    docs = _docs(spark, sf_dir)
    mt.snapshot_commit(docs.where("doc_id < 400"), tdir)
    mt.snapshot_delete(spark, tdir, "doc_id = 42", mode="mor")
    # pruned read: exact, deleted row absent
    got = mt.snapshot_read(spark, tdir, prune={"doc_id": (40, 45)})
    assert sorted(r["doc_id"] for r in got.collect()) == [40, 41, 43, 44, 45]
    # append carries the DV
    mt.snapshot_commit(docs.where("doc_id >= 400"), tdir, mode="append")
    assert mt._read_manifest(tdir, 3)["dv"]["n_rows"] == 1
    full = mt.snapshot_read(spark, tdir)
    assert full.count() == 499
    assert full.where("doc_id = 42").count() == 0
    # merge a delta touching a LIVE key: the deleted row must not be
    # resurrected by the rewrite of its file, and rows_replaced counts
    # only live rows
    delta = docs.where("doc_id = 43").withColumn("text", F.lit("re"))
    res = mt.snapshot_merge(delta, tdir, keys=["doc_id"])
    assert res["rows_replaced"] == 1 and res["rows_inserted"] == 0
    after = mt.snapshot_read(spark, tdir)
    assert after.count() == 499
    assert after.where("doc_id = 42").count() == 0
    assert [r["text"] for r in after.where("doc_id = 43").collect()] == ["re"]
    # merge a delta REINSERTING the deleted key: counts as an insert
    back = docs.where("doc_id = 42").withColumn("text", F.lit("back"))
    res2 = mt.snapshot_merge(back, tdir, keys=["doc_id"])
    assert res2["rows_inserted"] == 1
    assert mt.snapshot_read(spark, tdir).where("doc_id = 42").count() == 1


def test_snapshot_mor_compact_folds_dv(spark, sf_dir, tmp_path):
    """Compaction rewrites from the DV-applied read: the new version
    has NO dv and the same rows."""
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(_docs(spark, sf_dir), tdir)
    mt.snapshot_delete(spark, tdir, "doc_id % 5 = 0", mode="mor")
    want = mt.snapshot_read(spark, tdir)
    n_live = want.count()
    mt.snapshot_compact(spark, tdir, target_mb=64)
    m3 = mt._read_manifest(tdir, 3)
    assert "dv" not in m3
    got = mt.snapshot_read(spark, tdir)
    assert got.count() == n_live
    assert got.where("doc_id % 5 = 0").count() == 0


def test_snapshot_cow_delete_on_dv_table_no_resurrection(
    spark, sf_dir, tmp_path
):
    """A copy-on-write delete over a table carrying DVs must compute
    survivors from the LIVE rows: rewritten files may not resurrect
    mor-deleted rows, and rows_deleted counts only live matches."""
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(_docs(spark, sf_dir, n_parts=3), tdir)
    mt.snapshot_delete(spark, tdir, "doc_id = 10", mode="mor")
    res = mt.snapshot_delete(spark, tdir, "doc_id < 20", mode="cow")
    assert res["rows_deleted"] == 19  # 0..19 minus the already-dead 10
    after = mt.snapshot_read(spark, tdir)
    assert after.count() == 480
    assert after.where("doc_id < 20").count() == 0


# ------------------------------------------------- change data feed


def _cdf_cols(changes):
    return [
        c
        for c in changes.columns
        if c not in (mt.CHANGE_TYPE_COL, mt.COMMIT_VERSION_COL)
    ]


def _replay(base, changes):
    """Apply a change feed to a copy of the starting version — the
    downstream-sync contract snapshot_changes promises: remove
    preimages/deletes, add inserts/postimages, commit by commit."""
    cols = _cdf_cols(changes)
    cur = base.select(*cols)
    versions = [
        r[0]
        for r in changes.select(mt.COMMIT_VERSION_COL)
        .distinct()
        .sort(mt.COMMIT_VERSION_COL)
        .collect()
    ]
    for v in versions:
        cv = changes.where(F.col(mt.COMMIT_VERSION_COL) == v)
        remove = cv.where(
            F.col(mt.CHANGE_TYPE_COL).isin("delete", "update_preimage")
        ).select(*cols)
        add = cv.where(
            F.col(mt.CHANGE_TYPE_COL).isin("insert", "update_postimage")
        ).select(*cols)
        cur = cur.exceptAll(remove).unionByName(add)
    return cur


def test_changes_appends_are_inserts(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    a = docs.filter("doc_id < 100")
    b = docs.filter("doc_id >= 100 and doc_id < 160")
    mt.snapshot_commit(a, tdir)
    mt.snapshot_commit(b, tdir, mode="append")
    ch = mt.snapshot_changes(spark, tdir, 0)
    assert set(ch.columns) == set(
        docs.columns + [mt.CHANGE_TYPE_COL, mt.COMMIT_VERSION_COL]
    )
    types = {r[0] for r in ch.select(mt.CHANGE_TYPE_COL).distinct().collect()}
    assert types == {"insert"}
    assert _same_multiset(
        ch.where(F.col(mt.COMMIT_VERSION_COL) == 1).select(*docs.columns),
        a,
    )
    assert _same_multiset(
        ch.where(F.col(mt.COMMIT_VERSION_COL) == 2).select(*docs.columns),
        b,
    )
    # the half-open range convention: (1, 2] sees only the second commit
    ch2 = mt.snapshot_changes(spark, tdir, 1)
    assert _same_multiset(ch2.select(*docs.columns), b)


def test_changes_merge_records_update_pre_and_post_images(
    spark, sf_dir, tmp_path
):
    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    base = docs.filter("doc_id < 200")
    mt.snapshot_commit(base, tdir)
    updates = base.filter("doc_id < 30").withColumn(
        "text", F.concat(F.lit("v2:"), F.col("text"))
    )
    inserts = docs.filter(
        "doc_id >= 200 and doc_id < 220"
    )
    res = mt.snapshot_merge(
        updates.unionByName(inserts), tdir, keys=["doc_id"]
    )
    assert res["rows_replaced"] == 30 and res["rows_inserted"] == 20
    ch = mt.snapshot_changes(spark, tdir, 1)
    pre = ch.where(F.col(mt.CHANGE_TYPE_COL) == "update_preimage")
    post = ch.where(F.col(mt.CHANGE_TYPE_COL) == "update_postimage")
    ins = ch.where(F.col(mt.CHANGE_TYPE_COL) == "insert")
    assert _same_multiset(
        pre.select(*docs.columns), base.filter("doc_id < 30")
    )
    assert _same_multiset(post.select(*docs.columns), updates)
    assert _same_multiset(ins.select(*docs.columns), inserts)
    # replaying the feed onto v1 reproduces v2 exactly
    got = _replay(mt.snapshot_read(spark, tdir, 1), ch)
    assert _same_multiset(got, mt.snapshot_read(spark, tdir, 2))
    # manifest records the change files + row count
    m2 = mt._read_manifest(tdir, 2)
    assert m2["cdf"]["n_rows"] == 2 * 30 + 20


def test_changes_delete_cow_equals_mor(spark, sf_dir, tmp_path):
    """The same DELETE WHERE produces the SAME change rows whether
    executed copy-on-write (commit-time change files) or merge-on-read
    (derived from the delete vectors at read time)."""
    docs = _docs(spark, sf_dir)
    t_cow = str(tmp_path / "cow")
    t_mor = str(tmp_path / "mor")
    mt.snapshot_commit(docs, t_cow)
    mt.snapshot_commit(docs, t_mor)
    cond = "doc_id % 9 = 3"
    mt.snapshot_delete(spark, t_cow, cond, mode="cow")
    mt.snapshot_delete(spark, t_mor, cond, mode="mor")
    ch_cow = mt.snapshot_changes(spark, t_cow, 1)
    ch_mor = mt.snapshot_changes(spark, t_mor, 1)
    want = docs.where(cond)
    for ch in (ch_cow, ch_mor):
        types = {
            r[0]
            for r in ch.select(mt.CHANGE_TYPE_COL).distinct().collect()
        }
        assert types == {"delete"}
        assert _same_multiset(ch.select(*docs.columns), want)
    assert _same_multiset(
        ch_cow.select(*docs.columns), ch_mor.select(*docs.columns)
    )


def test_changes_reorg_and_policies(spark, sf_dir, tmp_path):
    import pytest

    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.filter("doc_id < 100"), tdir)
    mt.snapshot_cluster_by(spark, tdir, "doc_id", n_files=2)  # v2 reorg
    mt.snapshot_compact(spark, tdir)  # v3 reorg
    mt.snapshot_commit(
        docs.filter("doc_id >= 100 and doc_id < 130"), tdir, mode="append"
    )  # v4
    ch = mt.snapshot_changes(spark, tdir, 1)
    # reorg commits emit nothing; the append streams through
    assert {
        r[0] for r in ch.select(mt.COMMIT_VERSION_COL).distinct().collect()
    } == {4}
    assert _same_multiset(
        ch.select(*docs.columns),
        docs.filter("doc_id >= 100 and doc_id < 130"),
    )
    # a SEMANTIC overwrite is unrecoverable: fail raises, skip moves on
    mt.snapshot_commit(docs.filter("doc_id < 10"), tdir, mode="overwrite")
    with pytest.raises(ValueError, match="overwrite"):
        mt.snapshot_changes(spark, tdir, 4)
    assert (
        mt.snapshot_changes(spark, tdir, 4, on_rewrite="skip").count() == 0
    )
    # a merge written with cdf=False is equally unrecoverable
    mt.snapshot_merge(
        docs.filter("doc_id < 5").withColumn("text", F.lit("x")),
        tdir,
        keys=["doc_id"],
        cdf=False,
    )
    with pytest.raises(ValueError, match="cdf=False"):
        mt.snapshot_changes(spark, tdir, 5)
    assert (
        mt.snapshot_changes(spark, tdir, 5, on_rewrite="skip").count() == 0
    )


def test_changes_full_history_replay(spark, sf_dir, tmp_path):
    """End-to-end pin: replaying the ENTIRE feed from the empty table
    through appends, a merge, a mor delete and a cow delete (with
    reorg commits interleaved) reconstructs the latest version
    exactly."""
    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.filter("doc_id < 150"), tdir)
    mt.snapshot_commit(
        docs.filter("doc_id >= 150 and doc_id < 250"), tdir, mode="append"
    )
    mt.snapshot_merge(
        docs.filter("doc_id < 40").withColumn(
            "text", F.concat(F.lit("re:"), F.col("text"))
        ).unionByName(docs.filter("doc_id >= 250 and doc_id < 270")),
        tdir,
        keys=["doc_id"],
    )
    mt.snapshot_cluster_by(spark, tdir, "doc_id", n_files=3)
    mt.snapshot_delete(spark, tdir, "doc_id % 11 = 5", mode="mor")
    mt.snapshot_delete(spark, tdir, "doc_id % 13 = 2", mode="cow")
    ch = mt.snapshot_changes(spark, tdir, 0)
    latest = mt.snapshot_read(spark, tdir)
    empty = latest.limit(0)
    assert _same_multiset(_replay(empty, ch), latest)


def test_changes_vacuum_interaction(spark, sf_dir, tmp_path):
    import os as _os

    import pytest

    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.filter("doc_id < 100"), tdir)
    mt.snapshot_merge(
        docs.filter("doc_id < 20").withColumn("text", F.lit("m")),
        tdir,
        keys=["doc_id"],
    )
    mt.snapshot_commit(
        docs.filter("doc_id >= 100 and doc_id < 120"), tdir, mode="append"
    )
    # retire v1: the feed over the retained range (v2 merge with its
    # change files, v3 append) still works; a range starting before
    # the retained history raises
    _os.remove(mt._manifest_path(tdir, 1))
    assert mt.snapshot_changes(spark, tdir, 2).count() == 20
    with pytest.raises(ValueError, match="vacuum"):
        mt.snapshot_changes(spark, tdir, 0)


# ---------------------------------------- merge deletes + replication


def test_merge_with_delete_keys(spark, sf_dir, tmp_path):
    """WHEN MATCHED THEN DELETE: upserts and keyed deletes land in ONE
    merge commit, with the delete preimages in the change feed."""
    import pytest

    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.filter("doc_id < 200"), tdir)
    ups = docs.filter("doc_id < 10").withColumn(
        "text", F.lit("fresh")
    ).unionByName(docs.filter("doc_id >= 200 and doc_id < 205"))
    dels = docs.filter("doc_id >= 190 and doc_id < 200").select("doc_id")
    res = mt.snapshot_merge(ups, tdir, keys=["doc_id"], delete_keys=dels)
    assert res["rows_replaced"] == 10
    assert res["rows_inserted"] == 5
    assert res["rows_deleted"] == 10
    got = mt.snapshot_read(spark, tdir)
    assert got.count() == 200 + 5 - 10
    assert got.where("doc_id >= 190 and doc_id < 200").count() == 0
    assert got.where("text = 'fresh'").count() == 10
    ch = mt.snapshot_changes(spark, tdir, 1)
    assert _same_multiset(
        ch.where(F.col(mt.CHANGE_TYPE_COL) == "delete").select(
            *docs.columns
        ),
        docs.filter("doc_id >= 190 and doc_id < 200"),
    )
    # replaying the feed still reconstructs the head exactly
    assert _same_multiset(
        _replay(mt.snapshot_read(spark, tdir, 1), ch), got
    )
    # a key both upserted and deleted is ambiguous
    with pytest.raises(ValueError, match="overlap"):
        mt.snapshot_merge(
            ups, tdir, keys=["doc_id"],
            delete_keys=ups.select("doc_id").limit(1),
        )


def test_replicate_bootstrap_increment_and_noop(spark, sf_dir, tmp_path):
    """CDC apply loop: bootstrap sync == source; incremental sync
    lands net changes only; an already-synced head is a no-op; a
    reorg-only tail applies nothing."""
    import pytest

    docs = _docs(spark, sf_dir)
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    mt.snapshot_commit(docs.filter("doc_id < 150"), src)
    mt.snapshot_commit(
        docs.filter("doc_id >= 150 and doc_id < 250"), src, mode="append"
    )
    r1 = mt.snapshot_replicate(spark, src, dst, keys=["doc_id"])
    assert r1["applied"] and r1["from_version"] == 0
    assert r1["rows_upserted"] == 250 and r1["rows_deleted"] == 0
    assert _same_multiset(
        mt.snapshot_read(spark, dst), mt.snapshot_read(spark, src)
    )

    # source evolves: update, insert, mor delete, then a reorg
    mt.snapshot_merge(
        docs.filter("doc_id < 25").withColumn(
            "text", F.concat(F.lit("v2:"), F.col("text"))
        ).unionByName(docs.filter("doc_id >= 250 and doc_id < 260")),
        src,
        keys=["doc_id"],
    )
    mt.snapshot_delete(spark, src, "doc_id % 17 = 3", mode="mor")
    mt.snapshot_cluster_by(spark, src, "doc_id", n_files=2)
    r2 = mt.snapshot_replicate(spark, src, dst, keys=["doc_id"])
    assert r2["applied"] and r2["from_version"] == r1["to_version"]
    assert _same_multiset(
        mt.snapshot_read(spark, dst), mt.snapshot_read(spark, src)
    )
    # the increment was a keyed merge, not a table rewrite: the dst
    # table has exactly one more version and recorded the high water
    hw = mt._read_manifest(dst, mt.snapshot_versions(dst)[-1])["extra"]
    assert hw["replicate_src_version"] == r2["to_version"]

    # already synced -> no-op
    r3 = mt.snapshot_replicate(spark, src, dst, keys=["doc_id"])
    assert not r3["applied"] and r3["version"] is None

    # reorg-only tail: nothing to apply, content still equal
    mt.snapshot_compact(spark, src)
    r4 = mt.snapshot_replicate(spark, src, dst, keys=["doc_id"])
    assert not r4["applied"]
    assert _same_multiset(
        mt.snapshot_read(spark, dst), mt.snapshot_read(spark, src)
    )

    # a destination is bound to ONE source feed
    other = str(tmp_path / "other")
    mt.snapshot_commit(docs.limit(5), other)
    with pytest.raises(ValueError, match="one source feed"):
        mt.snapshot_replicate(spark, other, dst, keys=["doc_id"])


def test_replicate_net_collapses_intermediate_states(
    spark, sf_dir, tmp_path
):
    """A key updated twice then deleted lands as ONE delete; a key
    deleted then re-inserted lands as its final row — the net-outcome
    reduction, so a chatty source does not thrash the destination."""
    docs = _docs(spark, sf_dir)
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    mt.snapshot_commit(docs.filter("doc_id < 50"), src)
    mt.snapshot_replicate(spark, src, dst, keys=["doc_id"])

    mt.snapshot_merge(
        docs.filter("doc_id = 7").withColumn("text", F.lit("a")),
        src, keys=["doc_id"],
    )
    mt.snapshot_merge(
        docs.filter("doc_id = 7").withColumn("text", F.lit("b")),
        src, keys=["doc_id"],
    )
    mt.snapshot_delete(spark, src, "doc_id = 7", mode="cow")
    mt.snapshot_delete(spark, src, "doc_id = 9", mode="cow")
    mt.snapshot_commit(
        docs.filter("doc_id = 9").withColumn("text", F.lit("back")),
        src, mode="append",
    )
    r = mt.snapshot_replicate(spark, src, dst, keys=["doc_id"])
    assert r["rows_deleted"] == 1  # doc 7 once, not three events
    assert r["rows_upserted"] == 1  # doc 9's final row only
    got = mt.snapshot_read(spark, dst)
    assert got.where("doc_id = 7").count() == 0
    assert [r2["text"] for r2 in got.where("doc_id = 9").collect()] == [
        "back"
    ]
    assert _same_multiset(got, mt.snapshot_read(spark, src))


# ------------------------------- optimistic concurrency (r11, Delta
# conflict check): the deterministic race — land a commit between the
# cow op's computation and its publish by interposing on the publish
# step itself (racing real threads is nondeterministic; this pins the
# exact interleaving every time)
def _land_between(monkeypatch, commit_fn):
    real_pub = mt._publish_cow_manifest

    def racing_pub(*args, **kw):
        monkeypatch.setattr(mt, "_publish_cow_manifest", real_pub)
        commit_fn()
        return real_pub(*args, **kw)

    monkeypatch.setattr(mt, "_publish_cow_manifest", racing_pub)


def test_merge_rebases_past_disjoint_append(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Concurrent merge + append to DISJOINT keys both commit with no
    caller retry: the merge folds the winner's files in and publishes
    against the new head."""
    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.filter("doc_id < 100"), tdir)
    # synthesize append keys OUTSIDE the table's range (the sf fixture
    # has no high doc_ids — filtering for them yields an empty frame)
    appended = docs.filter("doc_id < 20").withColumn(
        "doc_id", F.col("doc_id") + 1000
    )
    assert appended.count() == 20
    _land_between(
        monkeypatch,
        lambda: mt.snapshot_commit(appended, tdir, mode="append"),
    )
    delta = docs.filter("doc_id < 5").withColumn("text", F.lit("m"))
    r = mt.snapshot_merge(delta, tdir, keys=["doc_id"])
    # the append published v2; the merge rebased onto it as v3
    assert r["version"] == 3
    got = mt.snapshot_read(spark, tdir)
    assert got.count() == 120  # nothing lost on either side
    assert got.where("text = 'm'").count() == 5
    assert got.where("doc_id >= 1000").count() == 20


def test_merge_conflicts_on_overlapping_append_and_merge(
    spark, sf_dir, tmp_path, monkeypatch
):
    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.filter("doc_id < 100"), tdir)
    # winner appends a row whose key the merge upserts -> conflict
    _land_between(
        monkeypatch,
        lambda: mt.snapshot_commit(
            docs.filter("doc_id = 3"), tdir, mode="append"
        ),
    )
    delta = docs.filter("doc_id < 5").withColumn("text", F.lit("m"))
    with pytest.raises(mt.SnapshotConflictError, match="overlap"):
        mt.snapshot_merge(delta, tdir, keys=["doc_id"])
    # winner is itself a merge that rewrote the SAME file this merge
    # reads (single-file table -> affected sets must overlap) ->
    # conflict even with disjoint keys
    tdir2 = str(tmp_path / "table2")
    mt.snapshot_commit(docs.filter("doc_id < 100").coalesce(1), tdir2)
    _land_between(
        monkeypatch,
        lambda: mt.snapshot_merge(
            docs.filter("doc_id = 90").withColumn("text", F.lit("w")),
            tdir2, keys=["doc_id"],
        ),
    )
    with pytest.raises(mt.SnapshotConflictError, match="rewrote"):
        mt.snapshot_merge(delta, tdir2, keys=["doc_id"])


def test_delete_rebases_past_nonmatching_append(
    spark, sf_dir, tmp_path, monkeypatch
):
    """cow and mor DELETE rebase past appends whose rows cannot match
    the condition; an append WITH matching rows conflicts (rebasing
    would leave them alive)."""
    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.filter("doc_id < 100"), tdir)

    def shifted(lo, hi):
        return docs.filter(f"doc_id >= {lo} and doc_id < {hi}").withColumn(
            "doc_id", F.col("doc_id") + 1000
        )

    _land_between(
        monkeypatch,
        lambda: mt.snapshot_commit(shifted(0, 10), tdir, mode="append"),
    )
    r = mt.snapshot_delete(spark, tdir, "doc_id < 10", mode="cow")
    assert r["version"] == 3 and r["rows_deleted"] == 10
    got = mt.snapshot_read(spark, tdir)
    assert got.count() == 100  # 100 - 10 deleted + 10 appended
    assert got.where("doc_id >= 1000").count() == 10

    # mor twin
    _land_between(
        monkeypatch,
        lambda: mt.snapshot_commit(shifted(10, 15), tdir, mode="append"),
    )
    r2 = mt.snapshot_delete(spark, tdir, "doc_id < 20", mode="mor")
    assert r2["rows_deleted"] == 10
    assert mt.snapshot_read(spark, tdir).count() == 95

    # matching append -> conflict
    _land_between(
        monkeypatch,
        lambda: mt.snapshot_commit(shifted(15, 20), tdir, mode="append"),
    )
    with pytest.raises(mt.SnapshotConflictError, match="matching"):
        mt.snapshot_delete(spark, tdir, "doc_id >= 1000", mode="cow")


def test_reorg_folds_concurrent_append_instead_of_dropping_it(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A compact losing the race to an append FOLDS the appended files
    in (they ride along unreorganized) — the blind overwrite used to
    silently DROP those rows. snapshot_maintain inherits the fix."""
    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.filter("doc_id < 100").repartition(6), tdir)
    appended = docs.filter("doc_id < 30").withColumn(
        "doc_id", F.col("doc_id") + 1000
    )

    real_pub = mt._publish_files
    state = {"done": False}

    def racing_pub(*args, **kw):
        if not state["done"]:
            state["done"] = True
            monkeypatch.setattr(mt, "_publish_files", real_pub)
            mt.snapshot_commit(appended, tdir, mode="append")
        return real_pub(*args, **kw)

    monkeypatch.setattr(mt, "_publish_files", racing_pub)
    mt.snapshot_compact(spark, tdir)
    got = mt.snapshot_read(spark, tdir)
    assert got.count() == 130  # the appended rows survived the reorg
    assert got.where("doc_id >= 1000").count() == 30
    # a reorg racing a MERGE still refuses (its rewrite is stale);
    # compact publishes via _publish_files, so stage the merge
    # through that window
    state2 = {"done": False}

    def racing_pub2(*args, **kw):
        if not state2["done"]:
            state2["done"] = True
            monkeypatch.setattr(mt, "_publish_files", real_pub)
            mt.snapshot_merge(
                docs.filter("doc_id = 7").withColumn(
                    "text", F.lit("w")
                ),
                tdir, keys=["doc_id"],
            )
        return real_pub(*args, **kw)

    monkeypatch.setattr(mt, "_publish_files", racing_pub2)
    with pytest.raises(mt.SnapshotConflictError, match="rewrote"):
        mt.snapshot_compact(spark, tdir)


def test_merge_rebases_past_disjoint_file_merge(
    spark, sf_dir, tmp_path, monkeypatch
):
    """r12 (VERDICT order #2): two concurrent merges on DISJOINT keys
    over a key-clustered table BOTH commit with no caller retry — the
    winner's rewritten+removed files are disjoint from this merge's
    affected set, so the loser folds the winner's output in (its own
    files are byte-identical at the new head); the same-file overlap
    case still raises (pinned above on a coalesce(1) table)."""
    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.filter("doc_id < 100"), tdir)
    mt.snapshot_cluster_by(spark, tdir, "doc_id", n_files=10)
    _land_between(
        monkeypatch,
        lambda: mt.snapshot_merge(
            docs.filter("doc_id = 95").withColumn("text", F.lit("w")),
            tdir, keys=["doc_id"],
        ),
    )
    r = mt.snapshot_merge(
        docs.filter("doc_id < 5").withColumn("text", F.lit("m")),
        tdir, keys=["doc_id"],
    )
    # v2 = cluster_by, v3 = winner merge, v4 = this merge rebased
    assert r["version"] == 4
    got = mt.snapshot_read(spark, tdir)
    assert got.count() == 100  # neither merge's rewrite was lost
    assert got.where("text = 'm'").count() == 5
    assert got.where("text = 'w'").count() == 1


def test_delete_rebases_past_disjoint_file_merge(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A cow DELETE racing a merge that rewrote DISJOINT files
    rebases; a winner merge whose OUTPUT rows match the delete
    condition still conflicts (those rows were never scanned —
    rebasing would leave them alive)."""
    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.filter("doc_id < 100"), tdir)
    mt.snapshot_cluster_by(spark, tdir, "doc_id", n_files=10)
    _land_between(
        monkeypatch,
        lambda: mt.snapshot_merge(
            docs.filter("doc_id = 95").withColumn("text", F.lit("w")),
            tdir, keys=["doc_id"],
        ),
    )
    r = mt.snapshot_delete(spark, tdir, "doc_id < 10", mode="cow")
    assert r["version"] == 4 and r["rows_deleted"] == 10
    got = mt.snapshot_read(spark, tdir)
    assert got.count() == 90
    assert got.where("text = 'w'").count() == 1  # winner survived

    # winner merge INSERTS a row matching the delete condition ->
    # the row-level guard over its output files conflicts (fresh
    # table so the delete has its own affected files and publishes)
    tdir2 = str(tmp_path / "table2")
    mt.snapshot_commit(docs.filter("doc_id < 100"), tdir2)
    mt.snapshot_cluster_by(spark, tdir2, "doc_id", n_files=10)
    _land_between(
        monkeypatch,
        lambda: mt.snapshot_merge(
            docs.filter("doc_id = 20").withColumn(
                "doc_id", F.lit(2000).cast("long")
            ),
            tdir2, keys=["doc_id"],
        ),
    )
    with pytest.raises(mt.SnapshotConflictError, match="matching"):
        mt.snapshot_delete(spark, tdir2, "doc_id >= 90", mode="cow")


def test_replicate_duplicate_rows_in_one_commit_is_deterministic(
    spark, sf_dir, tmp_path
):
    """One source append carrying duplicate rows for a key: the net
    window's tie-break is pinned by value (r11: xxhash64 secondary
    sort key), so the replicated row is the same across runs and
    plans — row_number alone was nondeterministic."""
    docs = _docs(spark, sf_dir)
    src = str(tmp_path / "src")
    mt.snapshot_commit(docs.filter("doc_id < 10"), src)
    dup = (
        docs.filter("doc_id = 3").withColumn("text", F.lit("x"))
        .unionByName(
            docs.filter("doc_id = 3").withColumn("text", F.lit("y"))
        )
    )
    mt.snapshot_commit(dup, src, mode="append")

    def run(n):
        dst = str(tmp_path / f"dst{n}")
        mt.snapshot_replicate(spark, src, dst, keys=["doc_id"])
        return sorted(
            (r.doc_id, r.text)
            for r in mt.snapshot_read(spark, dst)
            .where("doc_id = 3").collect()
        )

    first = run(0)
    assert len(first) == 1  # net outcome: one row per key
    for n in (1, 2):
        assert run(n) == first


# ------------------------------------------------- auto-maintenance
def test_snapshot_maintain_policy_thresholds(spark, sf_dir, tmp_path):
    """snapshot_maintain: no-op inside budget (no new version), fires
    on the DV fraction (folds them), fires on small-file churn
    (compacts), and decides from the MANIFEST alone."""
    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    # compact base layout: the fixture's 6 tiny files would already
    # trip the file budget (planned=1 at this size) — which is the
    # policy working, not the no-op case under test
    mt.snapshot_commit(docs.coalesce(1), tdir)

    r0 = mt.snapshot_maintain(spark, tdir)
    assert not r0["acted"] and r0["reason"] is None
    assert mt.snapshot_versions(tdir)[-1] == 1  # truly no new version

    # mor-delete 10% of rows -> dv fraction trips (budget 2%)
    mt.snapshot_delete(spark, tdir, "doc_id % 10 = 3", mode="mor")
    r1 = mt.snapshot_maintain(spark, tdir)
    assert r1["acted"] and r1["reason"] == "dv_fraction"
    head = mt._read_manifest(tdir, mt.snapshot_versions(tdir)[-1])
    assert "dv" not in head  # folded away
    assert mt.snapshot_read(spark, tdir).where(
        "doc_id % 10 = 3"
    ).count() == 0

    # fragment with many tiny appends -> file count trips
    for i in range(6):
        mt.snapshot_commit(
            docs.limit(5).repartition(4), tdir, mode="append"
        )
    n_before = mt._read_manifest(
        tdir, mt.snapshot_versions(tdir)[-1]
    )["n_files"]
    r2 = mt.snapshot_maintain(spark, tdir, cluster_col="doc_id")
    assert r2["acted"] and r2["reason"] == "file_count"
    assert r2["n_files"] == n_before
    head2 = mt._read_manifest(tdir, mt.snapshot_versions(tdir)[-1])
    assert head2["n_files"] < n_before
    assert (head2.get("extra") or {}).get("reorg")  # stream-transparent
    # immediately after: back inside budget
    assert not mt.snapshot_maintain(spark, tdir)["acted"]


# -------------------------------- WHEN NOT MATCHED BY SOURCE (r12)
def test_merge_when_not_matched_by_source_deletes(spark, sf_dir, tmp_path):
    """Delta's third MERGE clause: live keys absent from the source
    die in the same commit; CDF records them as deletes."""
    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "t")
    mt.snapshot_commit(docs.filter("doc_id < 100"), tdir)
    delta = docs.filter("doc_id < 40").withColumn("text", F.lit("s"))
    r = mt.snapshot_merge(
        delta, tdir, keys=["doc_id"], not_matched_by_source="delete"
    )
    got = mt.snapshot_read(spark, tdir)
    assert got.count() == 40
    assert r["rows_deleted"] == 60 and r["rows_replaced"] == 40
    assert got.where("text <> 's'").count() == 0
    ch = mt.snapshot_changes(spark, tdir, r["version"] - 1, r["version"])
    assert ch.where("_change_type = 'delete'").count() == 60
    # bad args surface loudly
    with pytest.raises(ValueError, match="keep.*or.*delete"):
        mt.snapshot_merge(
            delta, tdir, keys=["doc_id"], not_matched_by_source="nuke"
        )


# ------------------------------------------------- r13 DV-aware rebase
def test_merge_rebases_past_disjoint_mor_delete(
    spark, sf_dir, tmp_path, monkeypatch
):
    """r13 (VERDICT order #3): a winner mor-delete whose delete
    vectors touch only files DISJOINT from this merge's affected set
    rebases — the winner's DV entries ride forward in the rebased
    manifest, so its deletions on kept files survive; rows exact,
    CDF consistent."""
    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.filter("doc_id < 100"), tdir)
    mt.snapshot_cluster_by(spark, tdir, "doc_id", n_files=10)
    _land_between(
        monkeypatch,
        lambda: mt.snapshot_delete(
            spark, tdir, "doc_id >= 90", mode="mor"
        ),
    )
    r = mt.snapshot_merge(
        docs.filter("doc_id < 5").withColumn("text", F.lit("m")),
        tdir, keys=["doc_id"],
    )
    # v2 = cluster_by, v3 = winner mor delete, v4 = rebased merge
    assert r["version"] == 4
    got = mt.snapshot_read(spark, tdir)
    assert got.count() == 90  # winner's 10 DV deletions survived
    assert got.where("text = 'm'").count() == 5
    assert got.where("doc_id >= 90").count() == 0
    # the rebased manifest CARRIES the winner's dv entries
    m4 = mt._read_manifest(tdir, 4)
    m3 = mt._read_manifest(tdir, 3)
    assert m4["dv"]["files"] == m3["dv"]["files"]
    assert m4["dv"]["n_rows"] == 10
    # CDF across both commits: the winner's deletes + the merge's
    # updates, each stamped with its own commit version
    ch = mt.snapshot_changes(spark, tdir, 2)
    dels = ch.where("_change_type = 'delete'")
    assert dels.count() == 10
    assert dels.select("_commit_version").distinct().collect()[0][0] == 3
    posts = ch.where("_change_type = 'update_postimage'")
    assert posts.where("text = 'm'").count() == 5


def test_merge_conflicts_with_overlapping_mor_delete(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A winner mor-delete whose vectors touch a file this merge
    rewrote still conflicts — the merge recomputed that file from
    pre-delete rows, so rebasing would resurrect the deleted rows."""
    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.filter("doc_id < 100"), tdir)
    mt.snapshot_cluster_by(spark, tdir, "doc_id", n_files=10)
    _land_between(
        monkeypatch,
        lambda: mt.snapshot_delete(
            spark, tdir, "doc_id = 7", mode="mor"
        ),
    )
    with pytest.raises(mt.SnapshotConflictError, match="delete vectors"):
        mt.snapshot_merge(
            docs.filter("doc_id < 5").withColumn("text", F.lit("m")),
            tdir, keys=["doc_id"],
        )


def test_mor_delete_rebases_past_disjoint_mor_delete(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Two concurrent mor deletes touching DISJOINT files both commit
    (neither rewrites anything; their DV sets union); two touching the
    SAME file conflict conservatively instead of double-counting."""
    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.filter("doc_id < 100"), tdir)
    mt.snapshot_cluster_by(spark, tdir, "doc_id", n_files=10)
    _land_between(
        monkeypatch,
        lambda: mt.snapshot_delete(
            spark, tdir, "doc_id = 95", mode="mor"
        ),
    )
    r = mt.snapshot_delete(spark, tdir, "doc_id = 3", mode="mor")
    assert r["version"] == 4 and r["rows_deleted"] == 1
    got = mt.snapshot_read(spark, tdir)
    assert got.count() == 98
    assert got.where("doc_id in (3, 95)").count() == 0
    assert mt._read_manifest(tdir, 4)["dv"]["n_rows"] == 2

    tdir2 = str(tmp_path / "table2")
    mt.snapshot_commit(docs.filter("doc_id < 100"), tdir2)
    mt.snapshot_cluster_by(spark, tdir2, "doc_id", n_files=10)
    _land_between(
        monkeypatch,
        lambda: mt.snapshot_delete(
            spark, tdir2, "doc_id = 95", mode="mor"
        ),
    )
    with pytest.raises(mt.SnapshotConflictError, match="delete vectors"):
        mt.snapshot_delete(spark, tdir2, "doc_id = 96", mode="mor")


def test_cow_delete_rebases_past_disjoint_mor_delete(
    spark, sf_dir, tmp_path, monkeypatch
):
    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.filter("doc_id < 100"), tdir)
    mt.snapshot_cluster_by(spark, tdir, "doc_id", n_files=10)
    _land_between(
        monkeypatch,
        lambda: mt.snapshot_delete(
            spark, tdir, "doc_id = 95", mode="mor"
        ),
    )
    r = mt.snapshot_delete(spark, tdir, "doc_id < 10", mode="cow")
    assert r["version"] == 4 and r["rows_deleted"] == 10
    got = mt.snapshot_read(spark, tdir)
    assert got.count() == 89
    assert got.where("doc_id = 95").count() == 0


# ------------------------------------------- r13 sync maintain policy
def _rewritten_fraction(tdir, v):
    prev = {f["path"] for f in mt._read_manifest(tdir, v - 1)["files"]}
    cur = {f["path"] for f in mt._read_manifest(tdir, v)["files"]}
    return len(prev - cur) / max(1, len(prev))


def test_replicate_maintain_keeps_rewrite_fraction_bounded(
    spark, sf_dir, tmp_path
):
    """r13 (VERDICT order #6): maintain_cluster_col makes
    bootstrap→sync→cluster one call — the bootstrap append (one
    unclustered blob) reclusters immediately via the rewrite-fraction
    trigger, so the NEXT narrow sync rewrites a bounded fraction of
    files; the unmaintained control replica rewrites everything."""
    docs = _docs(spark, sf_dir)
    src = str(tmp_path / "src")
    dst_a = str(tmp_path / "dst_a")
    dst_b = str(tmp_path / "dst_b")
    mt.snapshot_commit(docs.filter("doc_id < 300"), src)
    ra = mt.snapshot_replicate(
        spark, src, dst_a, keys=["doc_id"],
        maintain_cluster_col="doc_id", target_mb=0.01,
    )
    assert ra["maintain"]["acted"]
    assert ra["maintain"]["reason"] == "rewrite_fraction"
    n_clustered = mt._read_manifest(
        dst_a, mt.snapshot_versions(dst_a)[-1]
    )["n_files"]
    assert n_clustered > 2  # the recluster actually split the blob
    mt.snapshot_replicate(spark, src, dst_b, keys=["doc_id"])

    # narrow source update -> one-key sync
    mt.snapshot_merge(
        docs.filter("doc_id = 5").withColumn("text", F.lit("u")),
        src, keys=["doc_id"],
    )
    ra2 = mt.snapshot_replicate(
        spark, src, dst_a, keys=["doc_id"],
        maintain_cluster_col="doc_id", target_mb=0.01,
    )
    rb2 = mt.snapshot_replicate(spark, src, dst_b, keys=["doc_id"])
    frac_a = _rewritten_fraction(dst_a, ra2["version"])
    frac_b = _rewritten_fraction(dst_b, rb2["version"])
    assert frac_a < 0.5 < frac_b, (frac_a, frac_b)
    # healthy sync: the policy inspected and did NOT recluster
    assert ra2["maintain"]["acted"] is False
    assert _same_multiset(
        mt.snapshot_read(spark, dst_a), mt.snapshot_read(spark, src)
    )


def test_snapshot_read_as_of_ts(spark, sf_dir, tmp_path):
    """r13: Delta's timestampAsOf — newest version with ts <= the
    given epoch; before-first-commit raises; version+ts together
    raise."""
    docs = _docs(spark, sf_dir)
    tdir = str(tmp_path / "table")
    mt.snapshot_commit(docs.filter("doc_id < 50"), tdir, ts=1000)
    mt.snapshot_commit(
        docs.filter("doc_id >= 50 and doc_id < 80"), tdir,
        mode="append", ts=2000,
    )
    mt.snapshot_commit(
        docs.filter("doc_id >= 80 and doc_id < 90"), tdir,
        mode="append", ts=3000,
    )
    assert mt.snapshot_read(spark, tdir, as_of_ts=1000).count() == 50
    assert mt.snapshot_read(spark, tdir, as_of_ts=2500).count() == 80
    assert mt.snapshot_read(spark, tdir, as_of_ts=9999).count() == 90
    with pytest.raises(ValueError, match="at or before"):
        mt.snapshot_read(spark, tdir, as_of_ts=999)
    with pytest.raises(ValueError, match="not both"):
        mt.snapshot_read(spark, tdir, version=1, as_of_ts=2000)
