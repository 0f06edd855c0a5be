"""Frames are reused through local checkpoints, never through the
session cache: an operator leaves the CacheManager as empty as it found
it on every exit path, and a corpus-ledger stage materializes its
output and counts its rows in one job."""

import time

import pytest
import pyspark.sql.functions as F

from teste_carga_avro_vs_json_spark import pipelines
from teste_carga_avro_vs_json_spark.operators import corpus, lm, similarity
from teste_carga_avro_vs_json_spark.sources import generator, io_files


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _docs(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(120)
        .select("doc_id", "text")
    )


def _failing_lloyd(spark, tmp_path, sf_dir):
    """k-means whose seed sample succeeds and whose first Lloyd job
    fails: the last vector, outside the seed window, is one element
    short, so the worker cannot stack its batch."""
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0] if i < 199 else [1.0]) for i in range(200)],
        "vec_id long, embedding array<double>",
    ).repartition(1)
    with pytest.raises(Exception, match="PythonException|ValueError"):
        similarity.multi_kmeans(emb, [(2, 0, None)], iters=1)


_OPERATORS = {
    "corpus_clean": lambda spark, tmp_path, sf_dir: corpus.corpus_clean(
        _docs(spark, sf_dir)
    ).collect(),
    "perplexity_score": lambda spark, tmp_path, sf_dir: lm.perplexity_score(
        _docs(spark, sf_dir), keep_frac=0.7
    ).collect(),
    "dsir_select": lambda spark, tmp_path, sf_dir: lm.dsir_select(
        _docs(spark, sf_dir), budget=10
    ).collect(),
    "write_avro_ocf": lambda spark, tmp_path, sf_dir: io_files.write_avro_ocf(
        generator.mensagens(spark, 40), str(tmp_path / "ocf"), num_particoes=2
    ).collect(),
    "multi_kmeans_failed_lloyd": _failing_lloyd,
}


@pytest.mark.parametrize("name", sorted(_OPERATORS))
def test_operator_leaves_the_cache_empty(spark, sf_dir, tmp_path, name):
    spark.catalog.clearCache()
    _OPERATORS[name](spark, tmp_path, sf_dir)
    assert _cache_empty(spark)


def test_ledger_stage_is_one_job(spark, sf_dir, jobs_run):
    """The stage's checkpoint and its row count share one job, and the
    count is exact."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    n = docs.count()
    led = pipelines._Ledger()
    t0 = time.perf_counter()
    assert jobs_run(lambda: led.stage("input", docs, t0)) == 1
    frame = []
    kept = docs.where(F.col("doc_id") % 2 == 0)
    assert jobs_run(lambda: frame.append(led.stage("even", kept, t0))) == 1
    assert led.stats[0]["rows"] == n
    assert led.stats[1]["rows"] == kept.count() == frame[0].count()
    assert led.stats[1]["dropped"] == n - led.stats[1]["rows"]
