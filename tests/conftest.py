import uuid

import pytest

from teste_carga_avro_vs_json_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("engine-tests", master="local[4]")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture
def jobs_run(spark):
    """``jobs_run(fn)``: how many jobs the status tracker saw while
    ``fn()`` ran."""
    sc = spark.sparkContext

    def run(fn) -> int:
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return run


# Two-tier gate (r8 VERDICT order #5): the full suite is ~580 s and
# growing ~50%/round — the per-round artifact stays `pytest tests/ -q`
# (full), but inner-loop work uses `-m "not slow"` (< 2 min). Slow
# modules are integration-grade surfaces whose pins don't change when
# touching operator/plan code: codec sweeps, fuzz, JVM interop,
# streaming drains, distributed trainers, e2e pipeline chains.
_SLOW_MODULES = {
    "test_pipeline_e2e",
    "test_pipelines",
    "test_io_and_streaming",
    "test_kafka_wire_source",
    "test_evolution_e2e",
    "test_bpe",
    "test_avro_generic",
    "test_imageio_interop",
    "test_fuzz_decoders",
    "test_phash",
    "test_substr_dedup",
    "test_flac",
    "test_jpeg",
    "test_gif",
    "test_llmops",
    "test_kafka_wire",
    "test_kafka_sasl",
    "test_avro_vec",
    "test_crawl",
    "test_warc",
    "test_ivfpq",
    "test_kafka_txn",
    "test_kafka_txn_offsets",
    "test_kafka_groups",
    "test_kafka_rebalance",
    "test_bench_lanes",
    "test_cache_release",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        name = item.module.__name__.rpartition(".")[2] if item.module else ""
        if name in _SLOW_MODULES:
            item.add_marker(pytest.mark.slow)
