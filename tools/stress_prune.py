"""Data-skipping stress: replicate the sf corpus Nx into a snapshot
table, range-cluster it, then measure manifest-level pruning — point
lookups and narrow ranges must PLAN ~1 file (not scan-and-discard),
and pruned results must equal the unpruned filter exactly. Also times
the commit-side footer stats collection (the cost data skipping buys
with). Emits one JSON line (commit under bench_runs/ as
r{N}_stress_prune.json).

Usage: python tools/stress_prune.py [replicas]   (default 20)
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
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 20

    import pyspark.sql.functions as F

    from teste_carga_avro_vs_json_spark.operators import maintenance as mt
    from teste_carga_avro_vs_json_spark.session import get_spark, load_table

    spark = get_spark("stress-prune")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    corpus = docs.crossJoin(
        spark.range(replicas).select(F.col("id").alias("r"))
    ).select(
        (F.col("doc_id") * replicas + F.col("r")).alias("doc_id"),
        "lang",
        "text",
    )
    n_rows = corpus.count()
    out = {"sf_dir": sf_dir, "cpus": cpus, "replicas": replicas,
           "rows_nx": n_rows}

    work = tempfile.mkdtemp(prefix="stress-prune-")
    tdir = os.path.join(work, "table")
    try:
        t0 = time.perf_counter()
        mt.snapshot_commit(corpus.repartition(cpus), tdir)
        out["commit_with_stats_sec"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        res = mt.snapshot_cluster_by(spark, tdir, "doc_id", n_files=64)
        out["cluster_sec"] = round(time.perf_counter() - t0, 2)
        out["n_files"] = res["output_files"]

        # point lookups: each must PLAN at most 2 files (range-cluster
        # boundaries can split a key across neighbors) and match the
        # full-scan filter exactly
        point_ids = [7, n_rows // 3, n_rows - 13]
        max_planned = 0
        point_sec = 0.0
        exact = True
        for pid in point_ids:
            t0 = time.perf_counter()
            got = mt.snapshot_read(spark, tdir, prune={"doc_id": pid})
            rows = got.collect()
            point_sec += time.perf_counter() - t0
            max_planned = max(max_planned, len(got.inputFiles()))
            want = (
                mt.snapshot_read(spark, tdir)
                .where(F.col("doc_id") == pid)
                .collect()
            )
            exact = exact and sorted(map(tuple, rows)) == sorted(
                map(tuple, want)
            )
        out["point_reads"] = len(point_ids)
        out["point_max_files_planned"] = max_planned
        out["point_total_sec"] = round(point_sec, 2)

        # a ~1% range: skipped share must be ~99% of files
        lo, hi = n_rows // 2, n_rows // 2 + n_rows // 100
        report = mt.snapshot_prune_report(tdir, {"doc_id": (lo, hi)})
        out["range_files_total"] = report["n_files"]
        out["range_files_kept"] = report["n_kept"]
        t0 = time.perf_counter()
        n_pruned = mt.snapshot_read(
            spark, tdir, prune={"doc_id": (lo, hi)}
        ).count()
        out["range_pruned_sec"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        n_full = (
            mt.snapshot_read(spark, tdir)
            .where(F.col("doc_id").between(lo, hi))
            .count()
        )
        out["range_full_sec"] = round(time.perf_counter() - t0, 2)
        exact = exact and n_pruned == n_full
        out["range_rows"] = n_pruned

        # bloom lane: a SCATTERED string key (url-hash shape) — every
        # file's min/max spans the key space, so range stats prune 0;
        # the manifest blooms must carry point lookups alone
        bdir = os.path.join(work, "bloom_table")
        scattered = (
            mt.snapshot_read(spark, tdir)
            .select(
                F.md5(F.col("doc_id").cast("string")).alias("key"),
                "doc_id",
                "lang",
            )
            .repartition(64)
        )
        t0 = time.perf_counter()
        mt.snapshot_commit(scattered, bdir, bloom_cols=["key"])
        out["bloom_commit_sec"] = round(time.perf_counter() - t0, 2)
        bloom_exact = True
        bloom_kept_max = 0
        bloom_minmax_skips = 0
        t0 = time.perf_counter()
        for pid in point_ids:
            key = mt.snapshot_read(spark, bdir).where(
                F.col("doc_id") == pid
            ).select("key").collect()[0][0]
            rep = mt.snapshot_prune_report(bdir, {"key": key})
            bloom_kept_max = max(bloom_kept_max, rep["n_kept"])
            bloom_minmax_skips += rep["n_skipped_minmax"]
            got = mt.snapshot_read(spark, bdir, prune={"key": key})
            rows = got.collect()
            bloom_exact = bloom_exact and (
                sorted(r["doc_id"] for r in rows)
                == [pid]
            )
        out["bloom_point_total_sec"] = round(time.perf_counter() - t0, 2)
        out["bloom_files_total"] = rep["n_files"]
        out["bloom_point_max_files_kept"] = bloom_kept_max
        out["bloom_minmax_skips"] = bloom_minmax_skips  # expect 0
        out["bloom_exact"] = bloom_exact

        out["prune_exact"] = exact
        out["ok"] = (
            exact
            and bloom_exact
            and max_planned <= 2
            and report["n_kept"] <= max(2, report["n_files"] // 16)
            and bloom_kept_max <= max(3, rep["n_files"] // 16)
        )
        try:
            out["loadavg_1m"] = round(os.getloadavg()[0], 1)
        except OSError:
            pass
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
