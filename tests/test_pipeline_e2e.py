"""End-to-end training-data pipeline composition: every cleaning /
dedup / gating / packing operator chained the way a real pre-training
corpus build runs them. This is the proof the operators COMPOSE — one
DataFrame flows through the whole chain without materialization
boundaries, collect()s, or schema fights."""

import pyspark.sql.functions as F

from teste_carga_avro_vs_json_spark.operators import (
    corpus,
    decontam,
    dedup,
    lm,
    text,
)


def test_full_corpus_pipeline(spark, sf_dir):
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n0 = raw.count()

    # 0. line-level hygiene (RefinedWeb): strip lines shared by > 30
    # docs — a rewrite pass, every doc survives as a row
    lined = corpus.line_dedup(raw, max_df=30).select(
        "doc_id", F.col("clean_text").alias("text")
    ).join(raw.select("doc_id", "lang", "source"), "doc_id")
    docs = lined
    assert docs.count() == n0

    # 1. PII scrub (rewrite pass — no row loss)
    scrubbed = text.pii_scrub(docs).select(
        "doc_id", F.col("clean_text").alias("text")
    ).join(docs.select("doc_id", "lang", "source"), "doc_id")
    assert scrubbed.count() == n0

    # 2. heuristic quality gate
    q = text.quality_score(scrubbed)
    gated = scrubbed.join(
        q.filter(F.col("quality") >= 0.5).select("doc_id"), "doc_id"
    )
    n_gated = gated.count()
    assert 0 < n_gated <= n0

    # 3. repetition gate (Gopher)
    rep = text.repetition_profile(gated)
    unrepetitive = gated.join(
        rep.filter(~F.col("repetitive")).select("doc_id"), "doc_id"
    )
    n_rep = unrepetitive.count()
    assert 0 < n_rep <= n_gated

    # 4. perplexity gate (CCNet)
    ppl = lm.perplexity_score(unrepetitive)
    fluent = unrepetitive.join(
        ppl.filter("keep").select("doc_id"), "doc_id"
    )
    n_ppl = fluent.count()
    assert 0 < n_ppl <= n_rep

    # 5. exact dedup then near-dup clustering (keep canonicals)
    exact = dedup.exact_dedup(fluent)
    kept_exact = fluent.join(
        exact.select(F.col("keep_doc_id").alias("doc_id")), "doc_id"
    )
    clusters = dedup.neardup_clusters(kept_exact.select("doc_id", "text"))
    non_canonical = clusters.filter(~F.col("is_canonical")).select("doc_id")
    # phase boundary: a production build materializes between the
    # gate phase and the dedup phase (truncates the combined DAG the
    # local[4] test session would otherwise re-execute per action)
    unique = kept_exact.join(
        non_canonical, "doc_id", "left_anti"
    ).localCheckpoint()
    n_unique = unique.count()
    assert 0 < n_unique <= n_ppl

    # 6. decontaminate against a held-out "benchmark" split
    test_split = docs.filter(F.col("doc_id") % 17 == 0).select(
        "doc_id", "text"
    )
    decon = decontam.decontaminate(
        unique.select("doc_id", "text"), test_split, n=5
    )
    clean = unique.join(
        decon.filter(~F.col("contaminated")).select("doc_id"), "doc_id"
    ).localCheckpoint()
    n_clean = clean.count()
    assert 0 < n_clean <= n_unique

    # 7. temperature mixture over the skewed lang distribution
    mixed = corpus.temperature_sample(
        clean, alpha=0.5, budget=max(50, n_clean // 2), group_col="lang"
    )
    picked = clean.join(mixed.select("doc_id"), "doc_id")
    n_mixed = picked.count()
    assert 0 < n_mixed <= n_clean

    # 8. pack into fixed-length training sequences; exact tiling
    packed = corpus.pack_sequences(picked, seq_len=256)
    agg = packed.agg(
        F.sum("n_tokens").alias("total"),
        F.max(F.col("start_tok") + F.col("n_tokens")).alias("hi"),
    ).first()
    assert agg.total == agg.hi  # gap-free tiling over the final corpus
    assert packed.count() == n_mixed

    # 9. learn a BPE vocabulary from the FINAL corpus and tokenize it
    # (the tokenizer-training step a real build runs on the cleaned
    # mix). The final corpus is checkpointed first — BPE's merge loop
    # would otherwise re-execute the whole 8-operator lineage per
    # iteration, exactly the stage boundary a production build
    # materializes.
    from teste_carga_avro_vs_json_spark.operators import bpe

    final = picked.select("doc_id", "text").localCheckpoint()
    merges = bpe.bpe_learn(final, num_merges=10)
    assert len(merges) > 0
    toks = bpe.bpe_tokenize(final, merges)
    assert toks.count() == n_mixed
    assert toks.filter(F.col("n_bpe_tokens") <= 0).count() == 0

    # 10. token-space ExactSubstr over the tokenized corpus (the
    # published Lee et al. shape: dedup spans in BPE-token space)
    from teste_carga_avro_vs_json_spark.operators import substr_dedup

    spans = substr_dedup.exact_substring_spans(
        toks.select("doc_id", "tokens"), min_len=20, token_col="tokens"
    )
    assert spans.count() == n_mixed

    # the funnel must actually funnel
    assert n_mixed < n0
