"""10x stress harness for the corpus-scale operators (SCALE.md evidence).

Builds a worst-case-duplication corpus — 10 near-identical replicas of
EVERY sf0.1 document (each replica appends a distinct token, so replicas
are near-dups of their original without being exact dups) — and runs the
heavy lanes end-to-end:

- ``corpus_clean`` (full gate -> exact dedup -> LSH -> anti-join)
- ``neardup_clusters`` (reports propagation ROUND COUNT at 10x — the
  scale question is whether the replica cliques still close in O(1)
  rounds)
- ``token_budget_sample`` (distributed prefix sum over 10x rows at a
  proportionally scaled budget)
- ``minhash_lsh_candidates_scale`` (the candidate-join shape on a corpus
  where every band bucket is 10x hotter)

Prints one JSON line. Surviving at all is the OOM check (the fused
array-carrying LSH variant measured executor-OOM on exactly this
corpus); timings + output sizes are the SCALE.md table rows.

Usage: python tools/stress10x.py [replicas]  (default 10; r6 graduates
the heavy lanes to 30 per VERDICT item 4). Knob: SPARK_GRAFT_SF_DIR.
The session is ``get_spark``'s (host cores, 8g driver), so every run
answers whether the engine's default driver sizing holds at that scale.

Shuffle evidence: the Spark UI REST API is scraped at the end for the
peak per-stage shuffle write and the run total — committed artifacts
carry measured shuffle volume, not prose claims.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _shuffle_stats(ui_url: str) -> dict:
    """Max per-stage + total shuffle write bytes via the status REST API."""
    with urllib.request.urlopen(f"{ui_url}/api/v1/applications") as r:
        app_id = json.load(r)[0]["id"]
    with urllib.request.urlopen(
        f"{ui_url}/api/v1/applications/{app_id}/stages?status=complete"
    ) as r:
        stages = json.load(r)
    writes = [s.get("shuffleWriteBytes", 0) for s in stages]
    return {
        "peak_stage_shuffle_write_bytes": max(writes, default=0),
        "total_shuffle_write_bytes": sum(writes),
        "stages": len(stages),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 10

    import pyspark.sql.functions as F

    from teste_carga_avro_vs_json_spark.operators import corpus, dedup
    from teste_carga_avro_vs_json_spark.session import get_spark, load_table

    spark = get_spark("stress10x")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism

    docs = load_table(spark, sf_dir, "documents")
    # 10 near-identical replicas per doc: replica r keeps the text and
    # appends one distinct token => shingle sets differ only at the tail,
    # Jaccard >> threshold => every original becomes a 10-doc near-dup
    # clique. doc_id = original*10 + r keeps ids unique and makes the
    # original (r=0) the canonical min.
    corpus10 = (
        docs.crossJoin(spark.range(replicas).select(F.col("id").alias("r")))
        .select(
            (F.col("doc_id") * replicas + F.col("r")).alias("doc_id"),
            F.concat(
                F.col("text"), F.lit(" zrep"), F.col("r").cast("string")
            ).alias("text"),
            "source",
            "lang",
        )
        .repartition(cpus)
        .persist()
    )
    n10 = corpus10.count()

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    out: dict = {"sf_dir": sf_dir, "cpus": cpus, "replicas": replicas,
               "driver_memory": spark.conf.get("spark.driver.memory"),
               "rows_10x": n10}

    t0 = time.perf_counter()
    run(dedup.minhash_lsh_candidates_scale(corpus10.select("doc_id", "text")))
    out["lsh_candidates_sec"] = round(time.perf_counter() - t0, 2)
    pairs = dedup.minhash_lsh_candidates_scale(
        corpus10.select("doc_id", "text")
    ).count()
    out["lsh_candidate_pairs"] = pairs

    stats: dict = {}
    t0 = time.perf_counter()
    clusters = dedup.neardup_clusters(
        corpus10.select("doc_id", "text"), scale=True, stats=stats
    )
    n_clustered = clusters.count()
    out["neardup_clusters_sec"] = round(time.perf_counter() - t0, 2)
    out["neardup_clustered_docs"] = n_clustered
    out["neardup_propagation_rounds"] = stats.get("rounds")
    out["neardup_canonicals"] = clusters.filter("is_canonical").count()

    t0 = time.perf_counter()
    cleaned = corpus.corpus_clean(corpus10, scale=True)
    n_clean = cleaned.count()
    out["corpus_clean_sec"] = round(time.perf_counter() - t0, 2)
    out["corpus_clean_survivors"] = n_clean

    t0 = time.perf_counter()
    sampled = corpus.token_budget_sample(
        corpus10, budget_tokens=100_000, n_buckets=cpus
    )
    n_samp = sampled.count()
    out["token_budget_sample_sec"] = round(time.perf_counter() - t0, 2)
    out["token_budget_sampled_docs"] = n_samp

    # ---- sequence packing at Nx rows (r7) --------------------------
    t0 = time.perf_counter()
    packed = corpus.pack_sequences(corpus10, seq_len=2048, n_buckets=cpus)
    agg = packed.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.col("start_tok") + F.col("n_tokens")).alias("total_toks"),
        F.sum("n_tokens").alias("sum_toks"),
    ).first()
    out["pack_sequences_sec"] = round(time.perf_counter() - t0, 2)
    out["pack_sequences_docs"] = agg.n
    # exact-tiling check at stress scale: max(start+len) == sum(len)
    out["pack_sequences_tiling_exact"] = bool(agg.total_toks == agg.sum_toks)

    # ---- window materialization: every token moves once ------------
    t0 = time.perf_counter()
    wins = corpus.pack_windows(corpus10, seq_len=2048, n_buckets=cpus)
    wagg = wins.agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("n_tokens").alias("total_toks"),
        F.sum(
            F.when(F.col("n_tokens") != 2048, F.lit(1)).otherwise(F.lit(0))
        ).alias("short_windows"),
    ).first()
    out["pack_windows_sec"] = round(time.perf_counter() - t0, 2)
    out["pack_windows_count"] = wagg.n_windows
    out["pack_windows_tokens"] = wagg.total_toks
    # only the final window may be short
    out["pack_windows_exact"] = bool(wagg.short_windows <= 1)

    # ---- decontamination at Nx train rows (r7) ---------------------
    # Worst-ish case: every replica family shares most grams with its
    # original, and the test split (every 17th doc family) contaminates
    # all its near-replicas — gram fan-out scales with corpus size and
    # hit density is high. xxhash64 keys (the scale path) ride the join.
    from teste_carga_avro_vs_json_spark.operators import decontam

    fam = F.floor(F.col("doc_id") / replicas)
    t0 = time.perf_counter()
    decon = decontam.decontaminate(
        corpus10.filter(fam % 17 != 0),
        corpus10.filter(fam % 17 == 0),
        n=5,
        scale=True,
    )
    out["decontaminate_contaminated"] = decon.filter("contaminated").count()
    out["decontaminate_sec"] = round(time.perf_counter() - t0, 2)
    out["decontaminate_train_docs"] = decon.count()

    # ---- repetition profile at Nx rows (r7-late) -------------------
    # Zero-shuffle scan lane: the question is pure per-row fold cost
    # growth (sorted gram arrays), not shuffle survival.
    from teste_carga_avro_vs_json_spark.operators import text as text_ops

    t0 = time.perf_counter()
    rep = text_ops.repetition_profile(corpus10)
    out["repetition_profile_repetitive"] = rep.filter("repetitive").count()
    out["repetition_profile_sec"] = round(time.perf_counter() - t0, 2)

    # ---- ExactSubstr span dedup at Nx rows (r7-late) ---------------
    # Worst case by construction: every 20-gram of every doc body
    # occurs in all `replicas` near-copies, so the gram-count agg sees
    # uniform hot keys (count == replicas) and nearly every token ends
    # up covered — maximal join-back volume AND maximal per-doc start
    # lists for the interval fold. xxhash64 gram keys (scale path).
    from teste_carga_avro_vs_json_spark.operators import substr_dedup

    t0 = time.perf_counter()
    ess = substr_dedup.exact_substring_spans(corpus10, scale=True).agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.when(F.col("n_spans") > 0, 1).otherwise(0)).alias("hit"),
        F.sum("n_dup_tokens").alias("dup_toks"),
        F.sum("n_tokens").alias("toks"),
    ).first()
    out["exact_substring_sec"] = round(time.perf_counter() - t0, 2)
    out["exact_substring_docs_with_spans"] = int(ess.hit)
    out["exact_substring_dup_token_share"] = round(
        ess.dup_toks / max(ess.toks, 1), 4
    )

    # ---- LM / selection / passage operators at Nx rows (r7-late) ---
    from teste_carga_avro_vs_json_spark.operators import lm as lm_ops

    t0 = time.perf_counter()
    ppl = lm_ops.perplexity_score(corpus10)
    out["lm_perplexity_kept"] = ppl.filter("keep").count()
    out["lm_perplexity_sec"] = round(time.perf_counter() - t0, 2)

    # quantile gate (CCNet's actual bucketing): kept count must be
    # ~keep_frac × docs regardless of the corpus' absolute NLL range —
    # the r7 absolute-threshold footgun (kept 0 under stress) can't
    # happen here by construction
    t0 = time.perf_counter()
    pplq = lm_ops.perplexity_score(corpus10, keep_frac=0.5)
    nq = pplq.count()
    kq = pplq.filter("keep").count()
    out["lm_perplexity_frac_kept"] = kq
    out["lm_perplexity_frac_kept_share"] = round(kq / max(nq, 1), 4)
    out["lm_perplexity_frac_sec"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    sel = lm_ops.dsir_select(corpus10, budget=5000)
    out["dsir_selected"] = sel.count()
    out["dsir_sec"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    ts = corpus.temperature_sample(
        corpus10, budget=5000, group_col="lang"
    )
    out["temperature_sampled"] = ts.count()
    out["temperature_sec"] = round(time.perf_counter() - t0, 2)

    # shared passages: replica families share most fingerprints; the
    # stop-fingerprint cap (df > max_df) is the quadratic-blowup guard
    # this corpus exists to test — at replicas > max_df the family
    # fps stop-list themselves and pair counts collapse by design.
    t0 = time.perf_counter()
    sp = text_ops.shared_passages(corpus10)
    out["shared_passage_pairs"] = sp.count()
    out["shared_passages_sec"] = round(time.perf_counter() - t0, 2)

    # no-silent-caps: the companion stats frame makes the stop-fp drop
    # observable — 0 pairs above must come with n_fp_stop > 0 here
    # (cap zeroed recall), never be mistaken for "no shared passages"
    t0 = time.perf_counter()
    st = text_ops.shared_passages_stats(corpus10).first()
    out["shared_passages_stats"] = {
        k: int(st[k]) if st[k] is not None else None
        for k in (
            "n_fp_distinct", "n_fp_stop", "n_fp_singleton", "n_fp_live",
            "n_docs_affected", "df_p50", "df_p99", "df_max",
        )
    }
    out["shared_passages_stats_sec"] = round(time.perf_counter() - t0, 2)

    # the 100 TB production shape (SCALE.md "wall anatomy"): fingerprint
    # ONCE to parquet, then feed df-stats AND the pair join from the
    # artifact — total wall should beat running both operators from text
    import shutil
    import tempfile

    t0 = time.perf_counter()
    fp_dir = tempfile.mkdtemp(prefix="sp_fps_")
    try:
        text_ops.winnow_fingerprints(corpus10).select(
            "doc_id", "fp"
        ).write.mode("overwrite").parquet(fp_dir)
        fps = spark.read.parquet(fp_dir)
        df_ok = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("n_df"))
            .filter((F.col("n_df") >= 2) & (F.col("n_df") <= 10))
            .select("fp")
        )
        live = fps.join(df_ok, "fp")
        a, b = live.alias("a"), live.alias("b")
        pairs = (
            a.join(
                b.hint("shuffle_hash"),
                (F.col("a.fp") == F.col("b.fp"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= 2)
        )
        out["shared_passages_materialized_pairs"] = pairs.count()
        out["shared_passages_materialized_sec"] = round(
            time.perf_counter() - t0, 2
        )
    finally:
        shutil.rmtree(fp_dir, ignore_errors=True)

    # ---- SemDeDup at Nx embeddings (r7-late) -----------------------
    # Each vector gets `replicas` exact copies with distinct vec_ids —
    # the realistic semantic-dedup scenario (near-identical content
    # re-crawled). Cluster count follows the SemDeDup scaling rule
    # n_centroids ~ n / target_cluster_size so per-cluster pair cost
    # (and the GEMM twin's per-task O(c^2) memory) stays bounded as the
    # corpus grows — THE knob a 100 TB run turns.
    from teste_carga_avro_vs_json_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    emb_n = (
        emb.crossJoin(spark.range(replicas).select(F.col("id").alias("r")))
        .select(
            (F.col("vec_id") * replicas + F.col("r")).alias("vec_id"),
            "embedding",
        )
        .repartition(cpus)
        .persist()
    )
    n_emb = emb_n.count()
    out["emb_rows_nx"] = n_emb
    n_cent = max(16, n_emb // 1000)
    out["semantic_dedup_n_centroids"] = n_cent
    t0 = time.perf_counter()
    sd = similarity.semantic_dedup_np(emb_n, n_centroids=n_cent)
    kept = sd.filter("kept").count()
    out["semantic_dedup_sec"] = round(time.perf_counter() - t0, 2)
    out["semantic_dedup_kept"] = kept
    out["semantic_dedup_dropped"] = n_emb - kept
    # every exact-replica family must collapse to >= its original; the
    # keep rate can't exceed the unique-vector count
    out["semantic_dedup_kept_le_uniques"] = bool(kept <= n_emb // replicas)

    # ---- BM25 retrieval at Nx docs (r8-late) -----------------------
    # Saturated-df worst case: the common query terms match EVERY doc,
    # so the per-query top-k window sees the whole corpus — the scale
    # concern the operator docstring documents. The broadcast probe +
    # (doc, term)-keyed agg must stay flat; only the final per-query
    # window grows with matches.
    from teste_carga_avro_vs_json_spark.operators import retrieval

    t0 = time.perf_counter()
    bm = retrieval.bm25_topk(corpus10.select("doc_id", "text"))
    out["bm25_rows"] = bm.count()
    out["bm25_sec"] = round(time.perf_counter() - t0, 2)

    # ---- perceptual image near-dup at Nx images (r8-late) ----------
    # Each base image (one real decodable BMP per sf-doc) appears
    # `replicas` times under distinct doc_ids — the re-crawled-asset
    # scenario. Decode+hash cost is linear in image count (the UDF
    # lane); the band join sees per-family key df == replicas, so
    # fan-out is bounded and the exact-dup pair count is KNOWN:
    # every family contributes C(replicas, 2) hamming-0 pairs.
    from teste_carga_avro_vs_json_spark.operators import multimodal, phash

    media_base = multimodal.synth_bmp_media(docs).persist()
    n_imgs_base = media_base.count()
    media_n = (
        media_base.crossJoin(
            spark.range(replicas).select(F.col("id").alias("r"))
        )
        .select(
            (F.col("doc_id") * replicas + F.col("r")).alias("doc_id"),
            "payload",
            "format",
        )
        .repartition(cpus)
        .persist()
    )
    out["phash_images_nx"] = media_n.count()
    ph_stats: dict = {}
    t0 = time.perf_counter()
    pairs_img = phash.phash_neardup(
        media_n, max_hamming=3, max_band_df=1000, stats=ph_stats
    )
    n_pairs_img = pairs_img.count()
    out["phash_neardup_sec"] = round(time.perf_counter() - t0, 2)
    out["phash_pairs"] = n_pairs_img
    out["phash_band_keys_stop"] = ph_stats.get("band_keys_stop")
    expected = n_imgs_base * replicas * (replicas - 1) // 2
    out["phash_pairs_ge_exact_dup_families"] = bool(n_pairs_img >= expected)
    media_n.unpersist()
    media_base.unpersist()

    # ---- Kneser-Ney perplexity at Nx docs (r8-late) ----------------
    # Same two-scan shape as the add-one lane plus three extra aggs of
    # the vocab^2-bounded bigram table — wall should track the add-one
    # lane, not the corpus replica factor.
    t0 = time.perf_counter()
    knq = lm_ops.perplexity_score(corpus10, smoothing="kn", keep_frac=0.5)
    nk = knq.count()
    kk = knq.filter("keep").count()
    out["lm_perplexity_kn_kept_share"] = round(kk / max(nk, 1), 4)
    out["lm_perplexity_kn_sec"] = round(time.perf_counter() - t0, 2)

    # ---- temporal operators at 10x events (1M rows) ----------------
    # Replicas get DISTINCT user_id/event_id namespaces (offset by
    # r * 10^9): 10x the KEYS with the per-key history preserved — the
    # realistic cluster scale-up for window-partitioned operators (a
    # 10x-per-key variant would instead grow window state; per-key
    # volume is bounded by human behavior, key count is not).
    from teste_carga_avro_vs_json_spark.operators import asof

    events = load_table(spark, sf_dir, "events")
    events10 = (
        events.crossJoin(spark.range(replicas).select(F.col("id").alias("r")))
        .select(
            (F.col("event_id") + F.col("r") * 1_000_000_000).alias("event_id"),
            (F.col("user_id") + F.col("r") * 1_000_000_000).alias("user_id"),
            "event_type",
            "ts",
            "value",
            "props",
        )
        .repartition(cpus)
        .persist()
    )
    out["events_rows_10x"] = events10.count()

    t0 = time.perf_counter()
    run(asof.attribution(events10))
    out["asof_attribution_sec"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    run(asof.sessionize(events10))
    out["sessionize_sec"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    run(asof.error_sessions(events10))
    out["interval_join_sec"] = round(time.perf_counter() - t0, 2)

    try:
        out["loadavg_1m"] = round(os.getloadavg()[0], 1)
    except OSError:
        pass
    try:
        out.update(_shuffle_stats(spark.sparkContext.uiWebUrl))
    except Exception as e:  # noqa: BLE001 - diagnostics only
        out["shuffle_stats_error"] = str(e)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
