"""Per-lane build-vs-execute profile of the bench lanes (r14).

The bench times builder+execute per rep by design (so does any real
interactive driver); the r13 optimization showed driver-side DataFrame
CONSTRUCTION (py4j round trips) was 35-65% of several lanes. This tool
splits each lane into build (construct the DataFrame) and exec (noop
write of an already-built DataFrame) so the remaining budget is visible
per lane.

Usage: python tools/profile_lanes.py [sf_dir] [laps] [lane ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    laps = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    only = set(sys.argv[3:])
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyspark.sql import SparkSession
    import pyspark.sql.functions as F

    from teste_carga_avro_vs_json_spark.operators import (
        corpus,
        decontam,
        dedup,
        retrieval,
        routing,
        serde,
        similarity,
        substr_dedup,
        text,
    )
    from teste_carga_avro_vs_json_spark.session import configure, load_table
    from teste_carga_avro_vs_json_spark.sources import generator

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("profile_lanes")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    configure(spark)
    spark.sparkContext.setLogLevel("ERROR")

    n_msgs = load_table(spark, sf_dir, "events").count()

    def docs_df():
        return load_table(spark, sf_dir, "documents").repartition(cpus)

    def emb_df():
        return load_table(spark, sf_dir, "embeddings").repartition(cpus)

    builders = {
        "json_e2e": lambda: routing.size_estimate(
            routing.route(
                serde.json_decode(
                    serde.json_encode(
                        generator.mensagens(spark, n_msgs, tamanho_kb=1)
                    )
                ),
                18,
            )
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("tamanho_estimado").alias("bytes"),
        ),
        "avro_e2e": lambda: routing.size_estimate(
            routing.route(
                serde.avro_roundtrip(
                    generator.mensagens(spark, n_msgs, tamanho_kb=1)
                ),
                18,
            )
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("tamanho_estimado").alias("bytes"),
        ),
        "transport": lambda: serde.json_encode(
            generator.mensagens(spark, n_msgs, tamanho_kb=1)
        ).agg(F.sum(F.octet_length("valor_json")).alias("bytes")),
        "dedup_exact": lambda: dedup.exact_dedup_scale(docs_df()),
        "minhash_lsh": lambda: dedup.minhash_lsh_candidates_scale(docs_df()),
        "quality_score": lambda: text.quality_score(docs_df()),
        "lang_id": lambda: text.lang_id(docs_df()),
        "corpus_clean": lambda: corpus.corpus_clean(docs_df(), scale=True),
        "decontaminate": lambda: decontam.decontaminate(
            docs_df().filter(F.col("doc_id") % 17 != 0),
            docs_df().filter(F.col("doc_id") % 17 == 0),
            n=5,
            scale=True,
        ),
        "pack_windows": lambda: corpus.pack_windows(docs_df(), seq_len=2048),
        "repetition_profile": lambda: text.repetition_profile(docs_df()),
        "semantic_dedup": lambda: similarity.semantic_dedup_np(emb_df()),
        "exact_substring": lambda: substr_dedup.exact_substring_spans(
            docs_df(), scale=True
        ),
        "bm25_topk": lambda: retrieval.bm25_topk(docs_df()),
        "pii_scrub": lambda: text.pii_scrub(docs_df()).agg(
            F.sum("n_emails").alias("e"),
            F.sum(F.length("clean_text")).alias("b"),
        ),
        "intra_doc_dedup": lambda: corpus.intra_doc_dedup(docs_df()).agg(
            F.sum("n_chunks").alias("c"), F.sum("n_kept").alias("k")
        ),
        "cosine_topk": lambda: similarity.cosine_topk_np(emb_df()),
        "lsh_ann_topk": lambda: similarity.lsh_ann_topk(
            emb_df(), vectorized=True
        ),
        "ivf_pq_topk": lambda: similarity.ivf_pq_topk(
            emb_df(), vectorized_encode=True
        ),
        "url_dedup": lambda: __import__(
            "teste_carga_avro_vs_json_spark.operators.crawl",
            fromlist=["crawl"],
        ).url_dedup(
            __import__(
                "teste_carga_avro_vs_json_spark.operators.crawl",
                fromlist=["crawl"],
            ).synth_urls(docs_df())
        ),
    }
    if only:
        builders = {k: v for k, v in builders.items() if k in only}

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    out = {}
    for name, build in builders.items():
        # warm lap (build+exec)
        spark.sparkContext.setJobDescription(f"profile:{name}:warm")
        run(build())
        b_times, e_times = [], []
        for _ in range(laps):
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            spark.sparkContext.setJobDescription(f"profile:{name}")
            run(df)
            t2 = time.perf_counter()
            b_times.append(t1 - t0)
            e_times.append(t2 - t1)
        out[name] = {
            "build_min": round(min(b_times), 3),
            "exec_min": round(min(e_times), 3),
            "build_all": [round(t, 3) for t in b_times],
            "exec_all": [round(t, 3) for t in e_times],
        }
        print(
            f"{name}: build {out[name]['build_min']}s exec "
            f"{out[name]['exec_min']}s",
            flush=True,
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
