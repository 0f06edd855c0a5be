"""Focused A/B micro-bench for individual bench.py lanes.

Times ONLY the named lanes (default: the two r4 perf-watch lanes,
``metrics_report`` and ``text_analysis``) with the same warm-up +
median-of-N protocol as bench.py, and prints one JSON line per lane
plus the host-contention context. Run it from ANY checkout (a git
worktree of an older round works — the script imports the package from
its own repo root), so r3-vs-r4 code can be compared on the same quiet
window:

    python tools/ab_bench.py [lane ...]

Knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_REPS
(default 5 here — this is a jitter-sensitive tool).
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
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))

    from pyspark.sql import SparkSession
    import pyspark.sql.functions as F

    from teste_carga_avro_vs_json_spark import registry
    from teste_carga_avro_vs_json_spark.operators import (
        corpus,
        dedup,
        routing,
        serde,
        text,
    )
    from teste_carga_avro_vs_json_spark.session import configure, load_table
    from teste_carga_avro_vs_json_spark.sources import generator

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("ab_bench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    configure(spark)
    spark.sparkContext.setLogLevel("ERROR")

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    def docs_df():
        return load_table(spark, sf_dir, "documents").repartition(cpus)

    def w_metrics():
        run(registry.q_report_format(spark, sf_dir))

    def w_text():
        docs = docs_df()
        run(text.quality_score(docs))
        run(text.lang_id(docs))

    n_msgs = 100_000

    def w_avro():
        msgs = generator.mensagens(spark, n_msgs, tamanho_kb=1)
        dec = serde.avro_roundtrip(msgs)
        sized = routing.size_estimate(routing.route(dec, 18))
        run(
            sized.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("tamanho_estimado").alias("bytes"),
            )
        )

    lanes = {
        "metrics_report": w_metrics,
        "text_analysis": w_text,
        "corpus_clean": lambda: run(corpus.corpus_clean(docs_df(), scale=True)),
        "minhash_lsh": lambda: run(
            dedup.minhash_lsh_candidates_scale(docs_df())
        ),
        "avro_e2e": w_avro,
    }
    wanted = sys.argv[1:] or list(lanes)
    picked = {name: lanes[name] for name in wanted}

    for fn in picked.values():  # warm lap (codegen / UDF worker spin-up)
        fn()

    samples: dict[str, list[float]] = {name: [] for name in picked}
    for _ in range(reps):
        for name, fn in picked.items():
            t0 = time.perf_counter()
            fn()
            samples[name].append(time.perf_counter() - t0)

    def _median(xs: list[float]) -> float:
        s = sorted(xs)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2

    out = {
        "repo": _REPO,
        "reps": reps,
        "cpus": cpus,
        "medians": {n: round(_median(xs), 3) for n, xs in samples.items()},
        "all_samples": {n: [round(x, 3) for x in xs] for n, xs in samples.items()},
    }
    try:
        out["loadavg_1m"] = round(os.getloadavg()[0], 1)
    except OSError:
        pass
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
