"""One-call corpus builder pins (pipelines.build_training_corpus):
the ledger is complete (every stage accounted, monotone rows, dropped
counts, the >95%-drop warning — no silent deaths), the decontamination
stage removes planted contamination, and the packing plan is
hole-free."""

import pytest
import pyspark.sql.functions as F

from teste_carga_avro_vs_json_spark import pipelines

_STAGES = [
    "input", "normalize", "c4_line_filter", "blocklist", "quality",
    "perplexity", "exact_dedup", "neardup", "exact_substring",
    "decontaminate", "pack_sequences",
]


def _same_multiset(a, b):
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _docs(spark, sf_dir, n=300):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(n)
        .select("doc_id", "text")
    )


def test_ledger_complete_and_monotone(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    test = docs.limit(10).select(
        "doc_id", F.concat(F.lit("bench "), "text").alias("text")
    )
    # fixture text is word soup, not prose — the C4 line gate is
    # domain-mismatched here (see test_prose_gate_warns_loudly)
    packed, stats = pipelines.build_training_corpus(
        docs, test, seq_len=256, line_filter=False
    )
    assert [s["stage"] for s in stats] == _STAGES
    doc_stages = [
        s for s in stats
        if s["stage"] != "pack_sequences" and "skipped" not in s
    ]
    rows = [s["rows"] for s in doc_stages]
    assert all(r is not None for r in rows)
    # monotone: no stage ADDS documents; dropped counts reconcile
    assert all(a >= b for a, b in zip(rows, rows[1:]))
    for prev, s in zip(rows, doc_stages[1:]):
        assert s["dropped"] == prev - s["rows"]
    # the quantile gate really cuts to ~keep_frac
    ppl = next(s for s in doc_stages if s["stage"] == "perplexity")
    idx = doc_stages.index(ppl)
    assert ppl["rows"] <= 0.75 * rows[idx - 1] + 1
    # survivors exist and the packing plan covers them all
    assert rows[-1] > 0
    assert stats[-1]["rows"] == rows[-1]
    assert packed.where(F.col("n_tokens") > 0).count() > 0


def test_prose_gate_warns_loudly(spark, sf_dir):
    """Running the C4 line gate on non-prose text erases the corpus —
    the ledger must SAY so (the no-silent-caps rule), not hand zeros
    to the next stage quietly."""
    docs = _docs(spark, sf_dir, 100)
    _, stats = pipelines.build_training_corpus(
        docs, None, seq_len=256, line_filter=True
    )
    c4 = next(s for s in stats if s["stage"] == "c4_line_filter")
    assert c4["rows"] == 0
    assert c4["warn"] == "stage dropped >95% of the corpus"


def test_skipped_decontamination_is_loud(spark, sf_dir):
    docs = _docs(spark, sf_dir, 80)
    _, stats = pipelines.build_training_corpus(
        docs, None, seq_len=256, line_filter=False
    )
    dec = next(s for s in stats if s["stage"] == "decontaminate")
    assert dec["skipped"] == "no test set supplied"


def test_decontamination_removes_planted_leak(spark, sf_dir):
    docs = _docs(spark, sf_dir, 120)
    # the test set IS a corpus doc's text: that doc cannot survive
    leaked = docs.orderBy("doc_id").limit(1).collect()[0]
    test = spark.createDataFrame(
        [(999999, leaked["text"])], "doc_id long, text string"
    )
    packed, _ = pipelines.build_training_corpus(
        docs, test, seq_len=256, keep_frac=1.0, line_filter=False
    )
    survivors = {r["doc_id"] for r in packed.select("doc_id").collect()}
    assert leaked["doc_id"] not in survivors


def test_packing_plan_is_contiguous(spark, sf_dir):
    docs = _docs(spark, sf_dir, 100)
    packed, _ = pipelines.build_training_corpus(
        docs, None, seq_len=128, line_filter=False
    )
    rows = sorted(
        packed.select("start_tok", "n_tokens").collect(),
        key=lambda r: r["start_tok"],
    )
    pos = 0
    for r in rows:
        assert r["start_tok"] == pos  # end-to-end layout, no holes
        pos += r["n_tokens"]


@pytest.mark.slow
def test_incremental_build_processes_only_the_delta(spark, sf_dir, tmp_path):
    """Two crawl batches land in a raw snapshot table; the incremental
    builder cleans batch 1, then a second run must (a) read ONLY batch
    2's files, (b) drop re-crawled duplicates of batch 1 via the Bloom
    gate, (c) append survivors, and (d) a third run with no new raw
    version is a no-op that commits nothing."""
    from teste_carga_avro_vs_json_spark.operators import maintenance as mt
    from teste_carga_avro_vs_json_spark.pipelines import (
        build_corpus_incremental,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    raw = str(tmp_path / "raw")
    clean = str(tmp_path / "clean")

    batch1 = docs.where("doc_id % 2 = 0").limit(40)
    mt.snapshot_commit(batch1, raw)  # raw v1
    r1 = build_corpus_incremental(
        spark, raw, clean, line_filter=False, keep_frac=1.0
    )
    assert r1["status"] == "appended" and r1["raw_version"] == 1
    assert r1["n_bloom_dropped"] == 0
    n1 = mt.snapshot_read(spark, clean).count()
    assert n1 > 0
    stages = {s["stage"]: s for s in r1["ledger"]}
    assert stages["input"]["rows"] == r1["n_delta_docs"] == 40

    # batch 2 = new odd docs + 10 RE-CRAWLED batch-1 docs
    recrawl = batch1.limit(10)
    batch2 = docs.where("doc_id % 2 = 1").limit(30).unionByName(recrawl)
    mt.snapshot_commit(batch2, raw)  # raw v2
    r2 = build_corpus_incremental(
        spark, raw, clean, line_filter=False, keep_frac=1.0
    )
    assert r2["status"] == "appended" and r2["raw_version"] == 2
    assert r2["raw_version_prev"] == 1
    # only batch 2's files were read
    assert r2["n_delta_docs"] == 40
    # the bloom gate dropped the re-crawls that survived batch-1
    # cleaning (cleaning may drop some of the 10 before they entered
    # the clean table, so the bound is <=10 and >0 for this fixture)
    assert 0 < r2["n_bloom_dropped"] <= 10
    n2 = mt.snapshot_read(spark, clean).count()
    assert n2 > n1
    # time travel still shows run-1's corpus unchanged
    assert mt.snapshot_read(spark, clean, r1["clean_version"]).count() == n1

    r3 = build_corpus_incremental(spark, raw, clean)
    assert r3 == {
        "status": "up_to_date",
        "raw_version": 2,
        "clean_version": r2["clean_version"],
        "n_delta_docs": 0,
    }
    assert mt.snapshot_versions(clean) == [
        r1["clean_version"], r2["clean_version"]
    ]


@pytest.mark.slow
def test_incremental_build_survives_vacuum(spark, sf_dir, tmp_path):
    """Housekeeping composition: vacuuming old clean versions (and raw
    versions) must not break the incremental state — the high-water
    mark rides the LATEST manifest, which vacuum always retains."""
    from teste_carga_avro_vs_json_spark.operators import maintenance as mt
    from teste_carga_avro_vs_json_spark.pipelines import (
        build_corpus_incremental,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    raw = str(tmp_path / "raw")
    clean = str(tmp_path / "clean")
    mt.snapshot_commit(docs.limit(20), raw)
    build_corpus_incremental(spark, raw, clean, line_filter=False,
                             keep_frac=1.0)
    mt.snapshot_commit(docs.where("doc_id >= 100").limit(15), raw)
    build_corpus_incremental(spark, raw, clean, line_filter=False,
                             keep_frac=1.0)
    n_before = mt.snapshot_read(spark, clean).count()

    mt.snapshot_vacuum(clean, keep_last=1, grace_sec=0)
    mt.snapshot_vacuum(raw, keep_last=1, grace_sec=0)
    assert mt.snapshot_read(spark, clean).count() == n_before
    # still up to date after vacuum (state intact in the latest manifest)
    r = build_corpus_incremental(spark, raw, clean)
    assert r["status"] == "up_to_date"
    # and a NEW raw commit still processes only its delta
    mt.snapshot_commit(docs.where("doc_id >= 300").limit(10), raw)
    r2 = build_corpus_incremental(spark, raw, clean, line_filter=False,
                                  keep_frac=1.0)
    assert r2["status"] == "appended" and r2["n_delta_docs"] == 10


def test_incremental_update_mode_replaces_recrawled_docs(
    spark, sf_dir, tmp_path
):
    """r10 update mode: a re-crawled doc whose text CHANGED passes the
    Bloom gate and REPLACES its stale row via snapshot_merge (one row
    per doc_id, new text wins); unchanged re-crawls still drop at the
    gate; genuinely new docs insert. Time travel keeps the pre-merge
    corpus readable."""
    from teste_carga_avro_vs_json_spark.operators import maintenance as mt
    from teste_carga_avro_vs_json_spark.pipelines import (
        build_corpus_incremental,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    raw = str(tmp_path / "raw")
    clean = str(tmp_path / "clean")

    batch1 = docs.where("doc_id % 2 = 0").limit(40)
    mt.snapshot_commit(batch1, raw)
    r1 = build_corpus_incremental(
        spark, raw, clean, line_filter=False, keep_frac=1.0, mode="update"
    )
    # first run: nothing to merge into yet — plain append
    assert r1["status"] == "appended"
    v1_docs = {
        r.doc_id: r.text for r in mt.snapshot_read(spark, clean).collect()
    }
    assert len(v1_docs) > 0

    # batch 2: 5 re-crawls with CHANGED text, 5 unchanged re-crawls,
    # and fresh odd docs
    survived = sorted(v1_docs)[:10]
    changed = spark.createDataFrame(
        [(int(i), f"updated corpus text for {i} with several words")
         for i in survived[:5]],
        "doc_id long, text string",
    )
    unchanged = batch1.where(F.col("doc_id").isin(survived[5:10]))
    fresh = docs.where("doc_id % 2 = 1").limit(20)
    mt.snapshot_commit(
        changed.unionByName(unchanged).unionByName(fresh), raw,
        mode="append",
    )

    r2 = build_corpus_incremental(
        spark, raw, clean, line_filter=False, keep_frac=1.0, mode="update"
    )
    assert r2["status"] == "merged"
    assert r2["merge"]["rows_replaced"] == 5  # the changed re-crawls
    assert r2["n_bloom_dropped"] >= 5         # the unchanged ones

    latest = {
        r.doc_id: r.text for r in mt.snapshot_read(spark, clean).collect()
    }
    for i in survived[:5]:
        assert latest[i].startswith("updated corpus text")  # replaced
        assert latest[i] != v1_docs[i]
    for i in survived[5:10]:
        assert latest[i] == v1_docs[i]                      # untouched
    # one row per doc_id — the merge contract
    df = mt.snapshot_read(spark, clean)
    assert df.count() == df.select("doc_id").distinct().count()
    # time travel: the pre-merge corpus still reads exactly
    old = {
        r.doc_id: r.text
        for r in mt.snapshot_read(
            spark, clean, r1["clean_version"]
        ).collect()
    }
    assert old == v1_docs


def test_incremental_corpus_replicates_into_downstream_index(
    spark, sf_dir, tmp_path
):
    """Composition pin across the r10 surfaces: the incremental
    builder's clean-corpus table feeds a downstream 'index' replica
    through snapshot_replicate — each crawl batch lands as one bounded
    CDC sync, the replica stays multiset-equal to the corpus, and an
    in-place re-crawl (update-mode merge) flows through as an UPDATE,
    not a duplicate."""
    from teste_carga_avro_vs_json_spark.operators import maintenance as mt
    from teste_carga_avro_vs_json_spark.pipelines import (
        build_corpus_incremental,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    raw = str(tmp_path / "raw")
    clean = str(tmp_path / "clean")
    index = str(tmp_path / "index")

    mt.snapshot_commit(docs.where("doc_id % 2 = 0").limit(40), raw)
    build_corpus_incremental(
        spark, raw, clean, line_filter=False, keep_frac=1.0
    )
    r1 = mt.snapshot_replicate(spark, clean, index, keys=["doc_id"])
    assert r1["applied"]
    assert _same_multiset(
        mt.snapshot_read(spark, index), mt.snapshot_read(spark, clean)
    )

    # batch 2 appends; sync carries only the delta
    mt.snapshot_commit(
        docs.where("doc_id % 2 = 1").limit(30), raw, mode="append"
    )
    build_corpus_incremental(
        spark, raw, clean, line_filter=False, keep_frac=1.0
    )
    r2 = mt.snapshot_replicate(spark, clean, index, keys=["doc_id"])
    assert r2["applied"] and r2["rows_deleted"] == 0
    assert r2["rows_upserted"] < r1["rows_upserted"] + 30
    assert _same_multiset(
        mt.snapshot_read(spark, index), mt.snapshot_read(spark, clean)
    )

    # update-mode re-crawl: changed text merges in place upstream and
    # arrives at the index as an update (row count unchanged)
    changed = (
        mt.snapshot_read(spark, clean).limit(5)
        .select("doc_id")
        .join(docs, on="doc_id")
        .selectExpr("doc_id", "concat('re: ', text) as text")
    )
    mt.snapshot_commit(changed, raw, mode="append")
    build_corpus_incremental(
        spark, raw, clean, line_filter=False, keep_frac=1.0,
        mode="update",
    )
    n_before = mt.snapshot_read(spark, index).count()
    r3 = mt.snapshot_replicate(spark, clean, index, keys=["doc_id"])
    assert r3["applied"] and r3["rows_deleted"] == 0
    assert mt.snapshot_read(spark, index).count() == n_before
    assert _same_multiset(
        mt.snapshot_read(spark, index), mt.snapshot_read(spark, clean)
    )
