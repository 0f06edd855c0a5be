"""WARC ingest + URL dedup stress: replicate the sf corpus Nx, render
HTML pages, write real per-record-gzip WARC shards to disk, read them
back through the tolerant parser and extract text — the full crawl
front door at a scale the fixture never reaches. Emits one JSON line
(commit under bench_runs/ as r{N}_stress{M}x_warc.json).

Usage: python tools/stress_warc.py [replicas]   (default 10)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 10

    import pyspark.sql.functions as F

    from teste_carga_avro_vs_json_spark.operators import crawl, html_extract
    from teste_carga_avro_vs_json_spark.session import get_spark, load_table
    from teste_carga_avro_vs_json_spark.sources import warc

    spark = get_spark("stress-warc")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism

    docs = load_table(spark, sf_dir, "documents")
    corpus = (
        docs.crossJoin(spark.range(replicas).select(F.col("id").alias("r")))
        .select(
            (F.col("doc_id") * replicas + F.col("r")).alias("doc_id"),
            F.concat(
                F.col("text"), F.lit(" zrep"), F.col("r").cast("string")
            ).alias("text"),
        )
        .repartition(cpus)
        .persist()
    )
    n = corpus.count()
    out: dict = {
        "sf_dir": sf_dir,
        "cpus": cpus,
        "replicas": replicas,
        "rows_nx": n,
        "driver_memory": spark.conf.get("spark.driver.memory"),
    }

    pages = html_extract.synth_html(corpus).select(
        "doc_id",
        F.concat(
            F.lit("https://stress.test/"), F.col("doc_id").cast("string")
        ).alias("url"),
        "html",
    )

    path = tempfile.mkdtemp(prefix="stress_warc_")
    try:
        t0 = time.perf_counter()
        manifest = warc.write_warc(pages, path, num_files=cpus)
        rows = manifest.collect()
        out["warc_write_sec"] = round(time.perf_counter() - t0, 2)
        out["warc_files"] = len(rows)
        out["warc_records"] = int(sum(r.n_records for r in rows))
        out["warc_bytes"] = int(sum(r.n_bytes for r in rows))

        t0 = time.perf_counter()
        extracted = html_extract.extract_text(
            warc.read_warc_responses(spark, path)
        )
        agg = extracted.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("text")).alias("text_bytes"),
        ).collect()[0]
        out["warc_read_extract_sec"] = round(time.perf_counter() - t0, 2)
        out["warc_docs_roundtripped"] = int(agg["n"])
        out["warc_text_bytes"] = int(agg["text_bytes"])
        out["warc_roundtrip_complete"] = bool(agg["n"] == n)
        out["warc_ingest_docs_per_sec"] = round(
            n / max(1e-9, out["warc_read_extract_sec"]), 1
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)

    # URL dedup at Nx: each replicated doc gets its own messy URL but
    # the canonical bucket structure (doc_id % 101 after replication)
    # still collapses hard — the family count stays bounded while the
    # input grows Nx, exactly the re-crawl shape.
    t0 = time.perf_counter()
    dd = crawl.url_dedup(crawl.synth_urls(corpus))
    fam = dd.agg(
        F.count(F.lit(1)).alias("families"),
        F.sum("n_docs").alias("total"),
        F.max("n_docs").alias("max_family"),
    ).collect()[0]
    out["url_dedup_sec"] = round(time.perf_counter() - t0, 2)
    out["url_families"] = int(fam["families"])
    out["url_docs_total"] = int(fam["total"])
    out["url_max_family"] = int(fam["max_family"])

    try:
        out["loadavg_1m"] = round(os.getloadavg()[0], 1)
    except OSError:
        pass
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
