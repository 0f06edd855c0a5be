"""Oracle re-verification of the REGISTRY-RETIRED queries.

The driver checks only the first 50 ``registry.queries()`` entries
(CLAUDE.md hard cap), so queries retired during the r4 consolidation
survive as pytest pins only. This tool restores the full Spark-vs-DuckDB
hash check for every retired query that is oracle-capable — the same
comparison protocol as ``tools/check_correctness.py`` — so each round
can commit a ``CORRECTNESS_LOCAL_r{N}.json`` artifact proving the
retired surface is still green, not merely unit-consistent.

Retired inventory (r3 registry minus r4's 50-entry window; COVERAGE.md):

- q_lang_id / q_quality_score / q_token_count / q_fingerprint — fused
  into ``q_doc_profile`` (components still exported standalone);
- q_media_features / q_media_resize — fused into ``q_media_pipeline``;
- q_file_json_roundtrip / q_file_parquet_roundtrip — avro kept as the
  registry representative of the file surface;
- q_cosine_topk_scale (salted twin), q_salted_agg — skew-shape twins of
  oracle-identical plain queries;
- q_stream_sessionize — streaming twin of q_sessionize (function still
  lives in registry.py, unlisted);
- q_anti_join (r7) — slot given to q_decontaminate; the LeftAnti shape
  stays plan-pinned (test_anti_join_probe_side_projects_key_only and
  corpus_clean's drop-list join);
- q_topk_per_group (r7) — slot given to q_pack_sequences; the
  partitioned rank-window shape stays in-window three times via the
  ANN top-k queries;
- q_simhash (r7-late) — slot given to q_repetition_profile; the
  per-doc signature family stays in-window via q_minhash_lsh and
  q_ngram_jaccard;
- q_embedding_neardup (r7-late) — slot given to q_semantic_dedup, its
  cluster-bounded successor (the brute all-pairs form stays the pytest
  ground truth for the single-cluster equivalence pin);
- q_file_avro_roundtrip (r10) — slot given to q_domain_cap (promoted
  from this tool's extra section into the driver window); the OCF twin
  q_file_avro_ocf_roundtrip remains the registry's avro file surface;
- q_stream_json_e2e (r10) — slot given to q_chunk_documents (same
  promotion); stream==batch stays in-window via q_stream_metrics_agg;
- q_file_avro_ocf_roundtrip (r11) — slot given to q_gopher_rules
  (promoted from this tool's extras); overlaps q_avro_roundtrip (same
  codec, file vs inline);
- q_windowed_metrics (r11) — slot given to q_chunk_sentences (same
  promotion); overlaps q_stream_metrics_agg + q_metrics_agg.

Beyond retirements, this tool also hash-checks EXTRA oracle-capable
surfaces that never held a registry slot (the 50-entry window is a
driver cap, not a correctness cap):

- q_lm_perplexity — CCNet-style bigram-LM perplexity filter
  (operators/lm.py), full Spark-vs-DuckDB oracle incl. the quantized
  ln discipline;
- q_temperature_sample — multilingual α-sampling
  (corpus.temperature_sample), quantized-pow quotas + portable-hash
  ranks;
- q_shared_passages — cross-doc shared-passage pairs via winnowing
  fingerprints with stop-fingerprint fan-out capping
  (text.shared_passages);
- q_semantic_decontaminate — bipartite SemDeDup: train vectors with a
  >=-threshold test-split neighbor in the same k-means cluster
  (similarity.semantic_decontaminate);
- q_dsir_select — DSIR importance resampling: top-budget docs by the
  target-vs-raw bigram-LM log-likelihood ratio (lm.dsir_select);
- q_exact_substring — ExactSubstr dedup (Lee et al. 2021): maximal
  duplicated >=L-token spans merged per doc + cleaned text
  (operators/substr_dedup.py), full relational oracle incl. the
  LAG-based islands merge;
- q_url_dedup — URL canonicalization + URL-level dedup
  (operators/crawl.py): the synth/canon/dedup chain rebuilt in
  DuckDB SQL with RE2-syntax regex twins;
- q_hard_negatives — BM25 hard-negative mining (the DPR recipe:
  top-k scored docs per query excluding the positives, ranks
  renumbered; retrieval.hard_negatives);
- q_cluster_sample — cluster-balanced diversity sampling (α-temperature
  quotas over the deterministic k-means clusters — the post-SemDeDup
  selection step; similarity.cluster_sample, oracle via the shared
  k-means CTE replay + the temperature-quota arithmetic);
- q_ivf_ann_topk — IVF ANN (registry-RETIRED r13: its slot went to
  q_ivf_pq_topk, whose IVF-PQ plan subsumes the coarse-inverted-list
  shape and adds the PQ/LUT scoring path; oracle = the deterministic
  Lloyd CTE unroll, similarity.ivf_topk).

r11 promoted q_gopher_rules + q_chunk_sentences from this section
into the driver window (registry.py carries their fixtures now);
r12 promoted q_hard_negatives + q_cluster_sample the same way;
r13 promoted q_ivf_pq_topk (an r12 extra) the same way.

Usage: python tools/check_retired.py [sf_dir] [query ...] [--json OUT]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pyspark.sql.functions as F

from teste_carga_avro_vs_json_spark import registry
from teste_carga_avro_vs_json_spark.operators import (
    asof,
    multimodal,
    similarity,
    skew,
    text,
)
from teste_carga_avro_vs_json_spark.session import get_spark, load_table
from teste_carga_avro_vs_json_spark.sources import generator
from tools.check_correctness import TABLES, _hash


def _q_lang_id(spark, sf_dir):
    return text.lang_id(load_table(spark, sf_dir, "documents"))


def _q_quality_score(spark, sf_dir):
    return text.quality_score(load_table(spark, sf_dir, "documents"))


def _q_token_count(spark, sf_dir):
    return text.token_counts(load_table(spark, sf_dir, "documents"))


def _q_fingerprint(spark, sf_dir):
    return text.fingerprint(load_table(spark, sf_dir, "documents"))


def _q_media_features(spark, sf_dir):
    return multimodal.media_features(load_table(spark, sf_dir, "documents"))


def _q_media_resize(spark, sf_dir):
    media = multimodal.synth_media(load_table(spark, sf_dir, "documents"))
    return multimodal.resize(media).select(
        "doc_id",
        "width",
        "height",
        F.octet_length("payload").cast("long").alias("n_bytes"),
    )


def _q_cosine_topk_scale(spark, sf_dir):
    return similarity.cosine_topk_scale(load_table(spark, sf_dir, "embeddings"))


def _q_salted_agg(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", F.length("props").cast("long").alias("nbytes")
    )
    return skew.salted_agg(
        ev,
        keys=["event_type"],
        aggs=[
            ("count", "user_id", "n"),
            ("sum", "nbytes", "total_bytes"),
            ("min", "user_id", "min_user"),
            ("max", "user_id", "max_user"),
        ],
    ).orderBy("event_type")


def _q_file_json_roundtrip(spark, sf_dir):
    return registry._file_roundtrip(spark, "json")


def _q_file_parquet_roundtrip(spark, sf_dir):
    return registry._file_roundtrip(spark, "parquet")


def _q_file_avro_roundtrip(spark, sf_dir):
    # r10-retired: slot given to q_domain_cap; the OCF twin stays the
    # registry representative of the avro file surface
    return registry.q_file_avro_roundtrip(spark, sf_dir)


def _q_stream_json_e2e(spark, sf_dir):
    # r10-retired: slot given to q_chunk_documents; stream==batch for
    # the metrics agg stays in-window via q_stream_metrics_agg
    return registry.q_stream_json_e2e(spark, sf_dir)


def _q_file_avro_ocf_roundtrip(spark, sf_dir):
    # r11-retired: slot given to q_gopher_rules; overlaps
    # q_avro_roundtrip (same codec, file vs inline)
    return registry.q_file_avro_ocf_roundtrip(spark, sf_dir)


def _q_windowed_metrics(spark, sf_dir):
    # r11-retired: slot given to q_chunk_sentences; overlaps
    # q_stream_metrics_agg + q_metrics_agg
    return registry.q_windowed_metrics(spark, sf_dir)


def _media_resize_sql() -> str:
    from teste_carga_avro_vs_json_spark.functions.portable import hex32_sql

    w_hash = hex32_sql("'w-' || doc_id")
    h_hash = hex32_sql("'h-' || doc_id")
    w = f"({w_hash} % 1920 + 1)"
    h = f"({h_hash} % 1080 + 1)"
    return f"""
        SELECT doc_id,
               224 AS width,
               224 AS height,
               GREATEST(1, FLOOR(64 * ((224.0 * 224.0) / ({w} * {h}))))::BIGINT
                   AS n_bytes
        FROM documents
    """


def _salted_agg_sql() -> str:
    return """
        SELECT event_type,
               COUNT(user_id) AS n,
               SUM(length(props))::BIGINT AS total_bytes,
               MIN(user_id) AS min_user,
               MAX(user_id) AS max_user
        FROM events GROUP BY event_type ORDER BY event_type
    """


def _anti_join_sql() -> str:
    from teste_carga_avro_vs_json_spark.operators import analytics

    return analytics.orders_without_items_sql()


def _topk_per_group_sql() -> str:
    from teste_carga_avro_vs_json_spark.operators import analytics

    return analytics.topk_per_group_sql()


def _simhash_sql() -> str:
    from teste_carga_avro_vs_json_spark.operators import dedup

    return dedup.simhash_sql()


def _q_lm_perplexity(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.operators import lm

    return lm.perplexity_score(load_table(spark, sf_dir, "documents"))


def _lm_perplexity_sql() -> str:
    from teste_carga_avro_vs_json_spark.operators import lm

    return lm.perplexity_score_sql()


def _q_lm_perplexity_frac(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.operators import lm

    return lm.perplexity_score(
        load_table(spark, sf_dir, "documents"), keep_frac=0.7
    )


def _lm_perplexity_frac_sql() -> str:
    from teste_carga_avro_vs_json_spark.operators import lm

    return lm.perplexity_score_sql(keep_frac=0.7)


def _q_lm_perplexity_kn(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.operators import lm

    return lm.perplexity_score(
        load_table(spark, sf_dir, "documents"), smoothing="kn", keep_frac=0.7
    )


def _lm_perplexity_kn_sql() -> str:
    from teste_carga_avro_vs_json_spark.operators import lm

    return lm.perplexity_score_sql(smoothing="kn", keep_frac=0.7)


def _q_temperature_sample(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.operators import corpus

    # group by lang: the fixture's sources are uniform (α-sampling is
    # a no-op there); the lang mixture is skewed, so this checks real
    # flattening arithmetic
    return corpus.temperature_sample(
        load_table(spark, sf_dir, "documents"), group_col="lang"
    )


def _temperature_sample_sql() -> str:
    from teste_carga_avro_vs_json_spark.operators import corpus

    return corpus.temperature_sample_sql(group_col="lang")


def _q_shared_passages(spark, sf_dir):
    return text.shared_passages(load_table(spark, sf_dir, "documents"))


def _q_shared_passages_stats(spark, sf_dir):
    return text.shared_passages_stats(load_table(spark, sf_dir, "documents"))


def _q_semantic_decontaminate(spark, sf_dir):
    return similarity.semantic_decontaminate(
        load_table(spark, sf_dir, "embeddings")
    )


def _q_dsir_select(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.operators import lm

    return lm.dsir_select(load_table(spark, sf_dir, "documents"))


def _q_blocklist_filter(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.operators import corpus

    return corpus.blocklist_filter(load_table(spark, sf_dir, "documents"))


def _blocklist_filter_sql() -> str:
    from teste_carga_avro_vs_json_spark.operators import corpus

    return corpus.blocklist_filter_sql()


def _q_bm25_topk(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.operators import retrieval

    return retrieval.bm25_topk(load_table(spark, sf_dir, "documents"))


def _bm25_topk_sql() -> str:
    from teste_carga_avro_vs_json_spark.operators import retrieval

    return retrieval.bm25_topk_sql()


def _q_normalize_text(spark, sf_dir):
    return text.normalize_text(load_table(spark, sf_dir, "documents"))


def _q_url_dedup(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.operators import crawl

    return crawl.url_dedup(
        crawl.synth_urls(load_table(spark, sf_dir, "documents"))
    )


def _url_dedup_sql() -> str:
    from teste_carga_avro_vs_json_spark.operators import crawl

    return crawl.url_dedup_sql()


def _q_domain_profile(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.operators import crawl

    return crawl.domain_profile(
        crawl.synth_urls(load_table(spark, sf_dir, "documents"))
    )


def _domain_profile_sql() -> str:
    from teste_carga_avro_vs_json_spark.operators import crawl

    return crawl.domain_profile_sql()


def _q_fim_transform(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.operators import corpus

    return corpus.fim_transform(load_table(spark, sf_dir, "documents"))


def _fim_transform_sql() -> str:
    from teste_carga_avro_vs_json_spark.operators import corpus

    return corpus.fim_transform_sql()


def _q_pseudonymize(spark, sf_dir):
    """Keyed PII tokenization over the q_pii_scrub injection fixture —
    the email is injected TWICE so n_occurrences > 1 is exercised."""
    import pyspark.sql.functions as F

    from teste_carga_avro_vs_json_spark.operators import text

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ip 10.0."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
            F.lit("."),
            F.pmod(F.col("doc_id"), F.lit(100)).cast("string"),
            F.lit(" tel +55-"),
            F.lpad(F.col("doc_id").cast("string"), 4, "0"),
            F.lit(" cc user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
        ).alias("text"),
    )
    return text.pseudonymize(docs)


def _pseudonymize_sql() -> str:
    from teste_carga_avro_vs_json_spark.operators import text

    fixture = """(
        SELECT doc_id,
               text || ' contact user' || doc_id::VARCHAR
                    || '@example.com ip 10.0.' || (doc_id % 256)::VARCHAR
                    || '.' || (doc_id % 100)::VARCHAR
                    || ' tel +55-' || lpad(doc_id::VARCHAR, 4, '0')
                    || ' cc user' || doc_id::VARCHAR || '@example.com' AS text
        FROM documents
    )"""
    return text.pseudonymize_sql(fixture)


def _q_frame_sample(spark, sf_dir):
    # r12-retired: slot given to q_hard_negatives; the frame-walk byte
    # arithmetic overlaps q_media_pipeline and stays pytest-pinned in
    # test_multimodal
    return registry.q_frame_sample(spark, sf_dir)


def _q_corpus_report(spark, sf_dir):
    # r12-retired: slot given to q_cluster_sample; overlaps
    # q_corpus_mix + q_quantile_profile coverage
    return registry.q_corpus_report(spark, sf_dir)


def _q_c4_line_filter(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.operators import corpus

    return corpus.c4_line_filter(load_table(spark, sf_dir, "documents"))


def _c4_line_filter_sql() -> str:
    from teste_carga_avro_vs_json_spark.operators import corpus

    return corpus.c4_line_filter_sql()


def _q_line_dedup(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.operators import corpus

    return corpus.line_dedup(load_table(spark, sf_dir, "documents"))


def _line_dedup_sql() -> str:
    from teste_carga_avro_vs_json_spark.operators import corpus

    return corpus.line_dedup_sql()


def _q_exact_substring(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.operators import substr_dedup

    return substr_dedup.exact_substring_spans(
        load_table(spark, sf_dir, "documents")
    )


def _exact_substring_sql() -> str:
    from teste_carga_avro_vs_json_spark.operators import substr_dedup

    return substr_dedup.exact_substring_spans_sql()


def _dsir_select_sql() -> str:
    from teste_carga_avro_vs_json_spark.operators import lm

    return lm.dsir_select_sql()


def _stream_sessionize_sql() -> str:
    return f"""
        SELECT user_id, start_ms, n_events
        FROM ({asof.sessionize_sql()})
        ORDER BY user_id, start_ms
    """


def retired_queries() -> dict:
    return {
        "q_lang_id": _q_lang_id,
        "q_quality_score": _q_quality_score,
        "q_token_count": _q_token_count,
        "q_fingerprint": _q_fingerprint,
        "q_media_features": _q_media_features,
        "q_media_resize": _q_media_resize,
        "q_file_json_roundtrip": _q_file_json_roundtrip,
        "q_file_parquet_roundtrip": _q_file_parquet_roundtrip,
        "q_cosine_topk_scale": _q_cosine_topk_scale,
        "q_salted_agg": _q_salted_agg,
        "q_stream_sessionize": registry.q_stream_sessionize,
        "q_anti_join": registry.q_anti_join,
        "q_topk_per_group": registry.q_topk_per_group,
        "q_simhash": registry.q_simhash,
        "q_embedding_neardup": registry.q_embedding_neardup,
        "q_lm_perplexity": _q_lm_perplexity,
        "q_lm_perplexity_frac": _q_lm_perplexity_frac,
        "q_lm_perplexity_kn": _q_lm_perplexity_kn,
        "q_temperature_sample": _q_temperature_sample,
        "q_shared_passages": _q_shared_passages,
        "q_shared_passages_stats": _q_shared_passages_stats,
        "q_semantic_decontaminate": _q_semantic_decontaminate,
        "q_dsir_select": _q_dsir_select,
        "q_exact_substring": _q_exact_substring,
        "q_c4_line_filter": _q_c4_line_filter,
        "q_line_dedup": _q_line_dedup,
        "q_normalize_text": _q_normalize_text,
        "q_blocklist_filter": _q_blocklist_filter,
        "q_bm25_topk": _q_bm25_topk,
        "q_url_dedup": _q_url_dedup,
        "q_domain_profile": _q_domain_profile,
        "q_fim_transform": _q_fim_transform,
        "q_pseudonymize": _q_pseudonymize,
        # r12: q_hard_negatives + q_cluster_sample PROMOTED into the
        # driver window (registry.py carries them now)
        # r11: q_gopher_rules + q_chunk_sentences PROMOTED into the
        # driver window (registry.py carries their fixtures now)
        # r10 retirements (slots given to q_domain_cap +
        # q_chunk_documents, which moved INTO the driver window)
        "q_file_avro_roundtrip": _q_file_avro_roundtrip,
        "q_stream_json_e2e": _q_stream_json_e2e,
        # r11 retirements (slots given to q_gopher_rules +
        # q_chunk_sentences)
        "q_file_avro_ocf_roundtrip": _q_file_avro_ocf_roundtrip,
        "q_windowed_metrics": _q_windowed_metrics,
        # r13: q_ivf_pq_topk PROMOTED into the driver window; its slot
        # came from q_ivf_ann_topk, retired here (plan shape subsumed)
        "q_ivf_ann_topk": registry.q_ivf_ann_topk,
        # r12 retirements (slots given to q_hard_negatives +
        # q_cluster_sample)
        "q_frame_sample": _q_frame_sample,
        "q_corpus_report": _q_corpus_report,
    }


def retired_oracle_sql() -> dict:
    flat = generator.registros_flat_sql(registry.GEN_TOTAL, registry.GEN_KB)
    return {
        "q_lang_id": text.lang_id_sql(),
        "q_quality_score": text.quality_score_sql(),
        "q_token_count": text.token_counts_sql(),
        "q_fingerprint": text.fingerprint_sql(),
        "q_media_features": multimodal.media_features_sql(),
        "q_media_resize": _media_resize_sql(),
        "q_file_json_roundtrip": flat,
        "q_file_parquet_roundtrip": flat,
        "q_cosine_topk_scale": similarity.cosine_topk_sql(),
        "q_salted_agg": _salted_agg_sql(),
        "q_stream_sessionize": _stream_sessionize_sql(),
        "q_anti_join": _anti_join_sql(),
        "q_topk_per_group": _topk_per_group_sql(),
        "q_simhash": _simhash_sql(),
        "q_embedding_neardup": similarity.embedding_neardup_sql(),
        "q_lm_perplexity": _lm_perplexity_sql(),
        "q_lm_perplexity_frac": _lm_perplexity_frac_sql(),
        "q_lm_perplexity_kn": _lm_perplexity_kn_sql(),
        "q_temperature_sample": _temperature_sample_sql(),
        "q_shared_passages": text.shared_passages_sql(),
        "q_shared_passages_stats": text.shared_passages_stats_sql(),
        "q_semantic_decontaminate": similarity.semantic_decontaminate_sql(),
        "q_dsir_select": _dsir_select_sql(),
        "q_exact_substring": _exact_substring_sql(),
        "q_c4_line_filter": _c4_line_filter_sql(),
        "q_line_dedup": _line_dedup_sql(),
        "q_normalize_text": text.normalize_text_sql(),
        "q_blocklist_filter": _blocklist_filter_sql(),
        "q_bm25_topk": _bm25_topk_sql(),
        "q_url_dedup": _url_dedup_sql(),
        "q_domain_profile": _domain_profile_sql(),
        "q_fim_transform": _fim_transform_sql(),
        "q_pseudonymize": _pseudonymize_sql(),

        "q_file_avro_roundtrip": flat,
        "q_stream_json_e2e": registry._stream_json_e2e_sql(),
        "q_file_avro_ocf_roundtrip": flat,
        "q_windowed_metrics": registry.metrics.metricas_por_janela_sql(
            registry._EVENTOS_SQL
        ),
        "q_ivf_ann_topk": similarity.ivf_topk_sql(),
        "q_frame_sample": registry._frame_sample_sql(),
        "q_corpus_report": registry.corpus.corpus_report_sql(),
    }


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--json"]
    out_json = None
    if "--json" in sys.argv:
        i = sys.argv.index("--json")
        out_json = sys.argv[i + 1]
        args = [a for a in sys.argv[1:] if a not in ("--json", out_json)]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    spark = get_spark("check-retired")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = retired_oracle_sql()
    results: dict = {}
    failures = 0
    for name, fn in retired_queries().items():
        if only and name not in only:
            continue
        t0 = time.time()
        rec: dict = {
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "err": None,
        }
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            rec["spark_rows"], rec["oracle_rows"] = len(srows), len(orows)
            rec["rows_match"] = len(srows) == len(orows)
            rec["schema_match"] = sorted(scols) == sorted(ocols)
            if rec["schema_match"]:
                rec["hash_match"] = _hash(
                    scols, [tuple(r) for r in srows]
                ) == _hash(ocols, orows)
        except Exception as e:  # noqa: BLE001
            rec["err"] = f"{type(e).__name__}: {e}"
        ok = rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
        if not ok:
            failures += 1
        print(
            f"{'ok  ' if ok else 'FAIL'} {name}: "
            f"{rec.get('spark_rows', '?')} rows  ({time.time() - t0:.1f}s)"
            + (f"  err={rec['err']}" if rec["err"] else "")
        )
        results[name] = rec
    print("failures:", failures)
    if out_json:
        with open(out_json, "w") as f:
            json.dump(results, f, indent=2)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
