"""Benchmark harness: times the headline workloads, one JSON line out.

    python bench.py                      # every lane
    python bench.py json_e2e avro_e2e    # only the named lanes (A/B: run
                                         # the same lanes in two checkouts)

Runs at ``$SPARK_GRAFT_SF_DIR`` (default the sf0.1 test data) on a
session sized from the host (``perfbench.host.start_session``:
``local[nproc]``, driver memory 30 % of RAM capped at 8 g) and prints
ONE JSON line::

    {"metric": "headline_total_sec", "value": N, "unit": "sec",
     "queries": {...}, "samples": {...}, "sf": ..., ...}

Headline set mirrors the reference's own benchmark (BASELINE.md: 100k
messages of ~1 KB through encode→decode→aggregate — README.md:155-172
of the reference) scaled to the sf dir's events count, plus the
LLM-pipeline extension operators at corpus scale. Every workload is
executed to completion with the noop sink (full plan runs, nothing is
collected to the driver).

Estimator: one untimed warm lap over the selected lanes, then per lane
one untimed warm rep and the MIN of ``REPS`` timed reps (host contention
only ever adds time). Raw per-rep walls are emitted as ``samples``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

REPS = 5

# Diagnostic lanes are timed and reported but EXCLUDED from
# headline_total so round-over-round totals stay comparable to
# BENCH_BASELINE.
DIAGNOSTIC = frozenset({
    "avro_generic_e2e",
    "decontaminate",
    "pack_windows",
    "repetition_profile",
    "semantic_dedup",
    "exact_substring",
    "bm25_topk",
    "url_dedup",
    "ivf_pq_topk",
})


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _n_msgs(spark, sf_dir: str) -> int:
    from teste_carga_avro_vs_json_spark.session import load_table

    return load_table(spark, sf_dir, "events").count()  # 100k at sf0.1


def lanes(spark, sf_dir: str, cpus: int) -> dict:
    """The lane table: name -> zero-arg callable that runs one lane to
    completion. ``cpus`` sizes the corpus and embedding repartitions."""
    import pyspark.sql.functions as F

    from teste_carga_avro_vs_json_spark import registry
    from teste_carga_avro_vs_json_spark.operators import (
        corpus,
        dedup,
        routing,
        serde,
        similarity,
        text,
    )
    from teste_carga_avro_vs_json_spark.session import load_table
    from teste_carga_avro_vs_json_spark.sources import generator

    n_msgs = _n_msgs(spark, sf_dir)

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    def w_json_e2e():
        # Reference flagship: generate -> JSON encode -> decode -> route ->
        # size -> metrics agg (PRODUTOR/CONSUMIDOR_JSON E2E_PARSE).
        msgs = generator.mensagens(spark, n_msgs, tamanho_kb=1)
        enc = serde.json_encode(msgs)
        dec = serde.json_decode(enc)
        sized = routing.size_estimate(routing.route(dec, 18))
        run(
            sized.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("tamanho_estimado").alias("bytes"),
            )
        )

    def w_avro_e2e():
        # Same pipeline as w_json_e2e through the Arrow-native Avro
        # codec — same (default) source partitioning so the avro-vs-json
        # delta is codec cost, not a scheduling change. r3's cpus//2
        # undersubscription was measured WORSE (16 parts: 3.14 s vs 32
        # parts: 1.69 s median) — halving partitions halved parallelism
        # of generate+encode+decode; reverted.
        msgs = generator.mensagens(spark, n_msgs, tamanho_kb=1)
        dec = serde.avro_roundtrip(msgs)
        sized = routing.size_estimate(routing.route(dec, 18))
        run(
            sized.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("tamanho_estimado").alias("bytes"),
            )
        )

    def w_avro_generic():
        # Diagnostic lane (r6): the any-schema generic codec on the same
        # pipeline — tracks the cost of schema-driven dispatch vs the
        # fixed hand-rolled codec, with the struct re-encoded under the
        # reference schema and decoded back through the generic resolver.
        import json as _json

        from teste_carga_avro_vs_json_spark.functions import avro_generic
        from teste_carga_avro_vs_json_spark.schemas import MENSAGEM_CARGA_AVSC

        schema = _json.dumps(MENSAGEM_CARGA_AVSC)
        msgs = generator.mensagens(spark, n_msgs, tamanho_kb=1)
        enc = msgs.select(
            avro_generic.to_avro_any(
                F.struct("id", "timestamp", "sequencia", "dados", "versao"),
                schema,
            ).alias("raw")
        )
        dec = enc.select(
            avro_generic.from_avro_any(F.col("raw"), schema).alias("msg")
        ).select("msg.*")
        sized = routing.size_estimate(routing.route(dec, 18))
        run(
            sized.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("tamanho_estimado").alias("bytes"),
            )
        )

    def w_metrics():
        run(registry.q_report_format(spark, sf_dir))

    def w_transport():
        # TRANSPORTE mode: raw payload lengths, no parse.
        msgs = generator.mensagens(spark, n_msgs, tamanho_kb=1)
        run(
            serde.json_encode(msgs).agg(
                F.sum(F.octet_length("valor_json")).alias("bytes")
            )
        )

    # The corpus tables arrive as ONE small parquet file locally, which
    # Spark scans as one partition; per-row CPU-heavy operators would run
    # serially. Repartition to the core count — on a real cluster the
    # corpus is many files/splits and this step is a no-op.
    def docs_df():
        return load_table(spark, sf_dir, "documents").repartition(cpus)

    def emb_df():
        return load_table(spark, sf_dir, "embeddings").repartition(cpus)

    def w_dedup():
        run(dedup.exact_dedup_scale(docs_df()))

    def w_minhash():
        run(dedup.minhash_lsh_candidates_scale(docs_df()))

    def w_text():
        docs = docs_df()
        run(text.quality_score(docs))
        run(text.lang_id(docs))

    def w_corpus_clean():
        # full cleaning pipeline on the production (xxhash64) LSH path
        run(corpus.corpus_clean(docs_df(), scale=True))

    def w_decontaminate():
        # diagnostic lane (r7, not in headline_total): n-gram
        # decontamination on the production xxhash64 gram keys
        from teste_carga_avro_vs_json_spark.operators import decontam

        docs = docs_df()
        run(
            decontam.decontaminate(
                docs.filter(F.col("doc_id") % 17 != 0),
                docs.filter(F.col("doc_id") % 17 == 0),
                n=5,
                scale=True,
            )
        )

    def w_pack_windows():
        # diagnostic lane (r7, not in headline_total): full packing
        # materialization — every corpus token through one shuffle
        run(corpus.pack_windows(docs_df(), seq_len=2048))

    def w_repetition_profile():
        # diagnostic lane (r7-late, not in headline_total): Gopher
        # repetition signals — zero-shuffle sorted-gram fold
        run(text.repetition_profile(docs_df()))

    def w_semantic_dedup():
        # diagnostic lane (r7-late, not in headline_total): SemDeDup on
        # the production per-cluster GEMM path
        run(similarity.semantic_dedup_np(emb_df()))

    def w_exact_substring():
        # diagnostic lane (r7-late, not in headline_total): ExactSubstr
        # span dedup on the production xxhash64 gram keys
        from teste_carga_avro_vs_json_spark.operators import substr_dedup

        run(substr_dedup.exact_substring_spans(docs_df(), scale=True))

    def w_bm25():
        # diagnostic lane (r8-late, not in headline_total): BM25 top-k
        # retrieval — broadcast query-term probe, matched-only agg,
        # per-query window top-k
        from teste_carga_avro_vs_json_spark.operators import retrieval

        run(retrieval.bm25_topk(docs_df()))

    def w_url_dedup():
        # diagnostic lane (r8-late, not in headline_total): URL
        # canonicalization + dedup — pure JVM regex chain + the
        # two-phase distinct agg.
        from teste_carga_avro_vs_json_spark.operators import crawl

        run(crawl.url_dedup(crawl.synth_urls(docs_df())))

    def w_pii_scrub():
        run(
            text.pii_scrub(docs_df()).agg(
                F.sum("n_emails").alias("e"),
                F.sum(F.length("clean_text")).alias("b"),
            )
        )

    def w_intra_doc_dedup():
        run(
            corpus.intra_doc_dedup(docs_df()).agg(
                F.sum("n_chunks").alias("c"), F.sum("n_kept").alias("k")
            )
        )

    def w_topk():
        # production path: numpy-matmul scoring (pytest-pinned == the
        # HOF/oracle path; 4.5x faster at 10x corpus, tied at sf0.1)
        run(similarity.cosine_topk_np(emb_df()))

    def w_ann():
        run(similarity.lsh_ann_topk(emb_df(), vectorized=True))

    def w_ivf_pq():
        # diagnostic lane (r13-opt, not in headline_total): IVF-PQ ANN
        # end-to-end on the production path — fused coarse+codebook
        # training (similarity.multi_kmeans: one sample collect + one
        # job per Lloyd iteration for all 9 spaces), auto-scaled coarse
        # quantizer, numpy encode twin, LUT-scored candidates +
        # IVFADC-R refine. Added so the r13 builder optimization
        # (OPTIMIZATION_r13.md #1) is tracked round over round.
        run(similarity.ivf_pq_topk(emb_df(), vectorized_encode=True))

    from teste_carga_avro_vs_json_spark.sources import io_files

    def _file_roundtrip(fmt):
        # north star (BASELINE.json:7): DataFrame write+read with the
        # Avro/JSON wire formats as partitioned file datasets
        writer, reader = {
            "json": (io_files.write_json, io_files.read_json),
            "avro": (io_files.write_avro, io_files.read_avro),
            "parquet": (io_files.write_parquet, io_files.read_parquet),
        }[fmt]
        path = tempfile.mkdtemp(prefix=f"bench_{fmt}_")
        try:
            writer(generator.mensagens(spark, n_msgs, tamanho_kb=1), path, 18)
            run(
                reader(spark, path).agg(
                    F.count(F.lit(1)).alias("n"), F.max("sequencia").alias("mx")
                )
            )
        finally:
            shutil.rmtree(path, ignore_errors=True)

    return {
        "json_e2e": w_json_e2e,
        "avro_e2e": w_avro_e2e,
        "avro_generic_e2e": w_avro_generic,
        "file_json": lambda: _file_roundtrip("json"),
        "file_avro": lambda: _file_roundtrip("avro"),
        "file_parquet": lambda: _file_roundtrip("parquet"),
        "transport": w_transport,
        "metrics_report": w_metrics,
        "dedup_exact": w_dedup,
        "minhash_lsh": w_minhash,
        "text_analysis": w_text,
        "corpus_clean": w_corpus_clean,
        "decontaminate": w_decontaminate,
        "pack_windows": w_pack_windows,
        "repetition_profile": w_repetition_profile,
        "semantic_dedup": w_semantic_dedup,
        "exact_substring": w_exact_substring,
        "bm25_topk": w_bm25,
        "url_dedup": w_url_dedup,
        "pii_scrub": w_pii_scrub,
        "intra_doc_dedup": w_intra_doc_dedup,
        "cosine_topk": w_topk,
        "lsh_ann_topk": w_ann,
        "ivf_pq_topk": w_ivf_pq,
    }


def main(selected: list[str]) -> None:
    from perfbench.host import start_session, stop_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    local_dir = tempfile.mkdtemp(prefix="bench_")
    spark, stamp = start_session(local_dir)
    try:
        cpus = stamp["cores"]
        table = lanes(spark, sf_dir, cpus)
        unknown = [name for name in selected if name not in table]
        if unknown:
            raise SystemExit(f"unknown lane(s) {unknown}; one of {sorted(table)}")
        workloads = {name: table[name] for name in selected or table}

        # Warm-up lap (untimed): JIT compilation, codegen, Python UDF worker
        # spin-up — the reference excludes warm-up messages from its metrics
        # the same way (WARMUP_MENSAGENS, ConfiguracaoKafka.java:120-124).
        for fn in workloads.values():
            fn()

        # Per-lane blocks: one untimed warm rep right before each lane's
        # timed reps, so Python-worker spin-up is never paid on rep 1 and
        # the min does not depend on what ran in between.
        samples: dict[str, list[float]] = {}
        for name, fn in workloads.items():
            fn()
            laps = []
            for _ in range(REPS):
                t0 = time.perf_counter()
                fn()
                laps.append(time.perf_counter() - t0)
            samples[name] = laps

        timings = {name: round(min(xs), 3) for name, xs in samples.items()}
        total = round(
            sum(t for name, t in timings.items() if name not in DIAGNOSTIC), 3
        )
        out = {
            "metric": "headline_total_sec",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "samples": {
                name: [round(x, 3) for x in xs] for name, xs in samples.items()
            },
            "sf": _sf_of(sf_dir),
            "n_msgs": _n_msgs(spark, sf_dir),
            "cpus": cpus,
            "driver_mem_mb": stamp["driver_mem_mb"],
            "estimator": "min",
            "reps": REPS,
        }
        # per-lane deltas vs the committed floor, only at its sf/cpu shape
        with open(os.path.join(_REPO, "BENCH_BASELINE.json")) as f:
            base = json.load(f)
        if base["sf"] == out["sf"] and base["cpus"] == cpus:
            out["delta_pct_vs_baseline"] = {
                name: round(100.0 * (t - base["queries"][name])
                            / base["queries"][name], 1)
                for name, t in timings.items()
                if name in base["queries"]
            }
        print(json.dumps(out), flush=True)
    finally:
        stop_session(spark)
        shutil.rmtree(local_dir, ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1:])
