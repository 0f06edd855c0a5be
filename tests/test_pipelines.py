"""One-call corpus builder pins (pipelines.build_training_corpus):
the ledger is complete (every stage accounted, monotone rows, dropped
counts, the >95%-drop warning — no silent deaths), the decontamination
stage removes planted contamination, and the packing plan is
hole-free."""

import pyspark.sql.functions as F

from teste_carga_avro_vs_json_spark import pipelines

_STAGES = [
    "input", "normalize", "c4_line_filter", "blocklist", "quality",
    "perplexity", "exact_dedup", "neardup", "exact_substring",
    "decontaminate", "pack_sequences",
]


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


def test_build_releases_its_cached_frames(spark, sf_dir):
    """The near-dup candidate caches are released once their stage is
    checkpointed, and nothing else is cached: a build leaves the
    session's cache as empty as it found it."""
    spark.catalog.clearCache()
    pipelines.build_training_corpus(
        _docs(spark, sf_dir, 120), None, seq_len=256, line_filter=False
    )
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
