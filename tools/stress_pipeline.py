"""Full-recipe corpus build at sf scale: run
pipelines.build_training_corpus over the ENTIRE sf documents table
(plus a held-out split as the decontamination test set) and emit the
per-stage ledger as one JSON line — the end-to-end wall/survivor
evidence for the composed pipeline (commit under bench_runs/ as
r{N}_pipeline_sf01.json).

Usage: python tools/stress_pipeline.py [replicas]   (default 1 = the
plain sf table; N>1 replicates every doc with near-identical variants
— the stress10x convention — so the dedup stages have real work).
Knob: SPARK_GRAFT_SF_DIR.
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
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 1

    import pyspark.sql.functions as F

    from teste_carga_avro_vs_json_spark import pipelines
    from teste_carga_avro_vs_json_spark.session import get_spark, load_table

    spark = get_spark("stress-pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    if replicas > 1:
        docs = docs.crossJoin(
            spark.range(replicas).select(F.col("id").alias("r"))
        ).select(
            (F.col("doc_id") * replicas + F.col("r")).alias("doc_id"),
            F.concat(
                F.col("text"), F.lit(" zrep"), F.col("r").cast("string")
            ).alias("text"),
        )
    # held-out decontamination split: every 97th doc plays the
    # benchmark set (deterministic, non-trivial overlap by design —
    # fixture texts share passages)
    test = docs.where("doc_id % 97 = 0").select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    train = docs.where("doc_id % 97 != 0").repartition(cpus).persist()
    n_train = train.count()

    t0 = time.perf_counter()
    packed, stats = pipelines.build_training_corpus(
        train, test, seq_len=1024, line_filter=False
    )
    seqs = packed.agg(
        F.sum("n_tokens").alias("tokens"),
        (F.max(F.col("start_tok") + F.col("n_tokens"))).alias("stream_len"),
    ).collect()[0]
    wall = round(time.perf_counter() - t0, 2)

    out = {
        "sf_dir": sf_dir,
        "cpus": cpus,
        "replicas": replicas,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "train_docs": n_train,
        "test_docs": test.count(),
        "stages": stats,
        "total_sec": wall,
        "docs_per_sec": round(n_train / wall, 1),
        "packed_tokens": int(seqs["tokens"] or 0),
        "packed_stream_contiguous": bool(
            (seqs["tokens"] or 0) == (seqs["stream_len"] or 0)
        ),
    }
    try:
        out["loadavg_1m"] = round(os.getloadavg()[0], 1)
    except OSError:
        pass
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
