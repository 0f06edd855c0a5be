"""Structured Streaming pipelines (reference consumers, O8/O16/O17).

The reference consumer is a thread-per-partition poll loop that stops
after 30 s of inactivity or a row target (ConsumidorAvro.java:57-125).
Spark-first mapping:

- parallel consume (O8): the file/Kafka streaming source creates one
  input partition per split/TopicPartition — thread fan-out is free;
- bounded termination (O16): ``trigger(availableNow=True)`` drains
  everything available then stops — the honest batch-bounded equivalent
  of the 30 s inactivity timer (SURVEY.md §5 quirk table);
- flow control (O17): ``maxFilesPerTrigger`` / ``maxOffsetsPerTrigger``
  replace the producer's sleep-every-1000 (ProdutorAvro.java:93-95);
- metrics: the SAME operators/metrics.py aggregation runs on the
  streaming frame in complete mode — Spark keeps the partial state the
  reference kept in AtomicLongs.

Everything lands in a memory sink named by the caller; ``run_bounded``
drains and hands back the batch result frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F
from pyspark.sql.streaming import StreamingQueryListener

from teste_carga_avro_vs_json_spark.operators import metrics
from teste_carga_avro_vs_json_spark.schemas import MENSAGEM_CARGA
from teste_carga_avro_vs_json_spark.session import (
    configure,
    load_table,
    normalize_events_ts,
)


_SCHEMA_CACHE: dict[str, object] = {}


def eventos_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming view of the events table in the message-metrics shape
    (sequencia, tamanho_bytes, sucesso, ts_ms) — the same mapping the
    batch registry uses, so stream results are batch-comparable."""
    configure(spark)
    # the stream reader needs the RAW file schema (ts may be a
    # timestamp type on disk); normalize to the engine's nanos-long
    # clock after the scan, same as load_table. Cached per sf_dir: the
    # eager footer read costs a driver round-trip per call otherwise
    # (testdata is immutable for a session, so staleness is moot).
    if sf_dir not in _SCHEMA_CACHE:
        _SCHEMA_CACHE[sf_dir] = spark.read.parquet(
            f"{sf_dir}/events.parquet"
        ).schema
    schema = _SCHEMA_CACHE[sf_dir]
    # the testdata table is a single file; the file-stream source only
    # accepts directories or globs, so express the file as a glob
    ev = normalize_events_ts(
        spark.readStream.schema(schema)
        .format("parquet")
        .load(f"{sf_dir}/events.parque[t]")
    )
    return ev.select(
        F.col("event_id").alias("sequencia"),
        F.length("props").cast("long").alias("tamanho_bytes"),
        (F.col("event_type") != F.lit("error")).alias("sucesso"),
        F.expr("ts div 1000000").alias("ts_ms"),
    )


def json_wire_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming consumer of a JSON wire dataset written by
    io_files.write_json: text lines -> typed messages (E2E_PARSE)."""
    configure(spark)
    raw = spark.readStream.format("text").load(path)
    return raw.select(
        F.from_json(F.col("value"), MENSAGEM_CARGA).alias("msg")
    ).select("msg.*")


def metricas_stream(src: DataFrame, warmup: int = 0) -> DataFrame:
    """Streaming metrics aggregation: warm-up filter + the exact batch
    counter set (operators/metrics.py) as a complete-mode global agg."""
    filtered = metrics.warmup_filter(src, warmup) if warmup else src
    return metrics.metricas_agg(filtered)


def metricas_stream_janela(
    src: DataFrame, janela_s: int = 60, watermark_s: int | None = 10
) -> DataFrame:
    """Event-time windowed metrics on a stream: tumbling ``janela_s``
    windows over the data clock with optional watermark for late data.

    Spark's tumbling windows align to the epoch, so ``window.start`` in
    epoch-millis equals the batch bucket ``ts_ms - ts_ms % janela_ms``
    (operators/metrics.metricas_por_janela) — the two paths emit
    identical rows. Use a watermark + append sink unbounded (state for
    closed windows is dropped); complete mode for bounded drains where
    every window must emit.
    """
    from teste_carga_avro_vs_json_spark.operators.metrics import _COUNTERS_SX

    with_ts = src.withColumn("_ts", F.timestamp_millis(F.col("ts_ms")))
    if watermark_s is not None:
        with_ts = with_ts.withWatermark("_ts", f"{watermark_s} seconds")
    agg = with_ts.groupBy(F.window("_ts", f"{janela_s} seconds").alias("_w")).agg(
        *map(F.expr, _COUNTERS_SX)
    )
    return agg.select(
        F.unix_millis(F.col("_w.start")).alias("janela_inicio_ms"),
        "total_mensagens",
        "total_bytes",
        "mensagens_sucesso",
        "mensagens_erro",
    )


def stream_dedup(
    src: DataFrame,
    key_cols: list[str],
    event_time_col: str,
    delay: str = "10 seconds",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state: emit each key's first
    arrival, drop re-arrivals within the watermark delay, and let Spark
    evict key state once the watermark passes it.

    This is the ingestion-side twin of ``dedup.exact_dedup``: a 100 TB
    firehose can't keep every fingerprint forever, so state is scoped to
    the dedup window — the standard at-least-once-source → exactly-once
    pipeline building block. State per key is just the key + timestamp
    (no payload), and eviction is watermark-driven, so state size is
    bounded by (arrival rate × delay), independent of stream lifetime.
    """
    return src.withWatermark(event_time_col, delay).dropDuplicatesWithinWatermark(
        key_cols
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    max_gap: str = "30 minutes",
    delay: str = "10 seconds",
) -> DataFrame:
    """Watermarked stream-stream inner join: every left row pairs with
    the same-key right rows whose event time falls in
    ``[left_ts - max_gap, left_ts]`` — e.g. purchases joined to all
    clicks in the preceding half hour.

    The time-range predicate is REQUIRED, not a filter: it is what lets
    Spark bound each side's join state (a right row can be dropped once
    the left watermark passes ``right_ts + max_gap``). Without it the
    state grows forever — the stream-stream equivalent of a cartesian.
    State per key is (rows within max_gap), independent of stream
    lifetime, so this holds at firehose scale.
    """
    l, r = left.withWatermark(left_ts, delay), right.withWatermark(right_ts, delay)
    cond = (
        (l[key] == r[key])
        & (r[right_ts] <= l[left_ts])
        & (r[right_ts] >= l[left_ts] - F.expr(f"INTERVAL {max_gap}"))
    )
    return l.join(r, cond, "inner").drop(r[key])


def run_bounded(
    sdf: DataFrame,
    query_name: str = "bounded_run",
    output_mode: str = "complete",
    timeout_s: int = 300,
) -> DataFrame:
    """Drain everything available, then stop (O16) — returns the final
    result as a batch frame from the memory sink.

    ``output_mode``: ``complete`` for global aggs, which keep running
    state exactly like the reference's shared counters, minus the data
    race (ConsumidorAvro.java:48,97); ``append`` for non-aggregated
    streams (transport mode, decode-only, dedup, joins); ``update`` for
    stateful operators (applyInPandasWithState emits updated rows per
    micro-batch).
    """
    spark = sdf.sparkSession
    for q in spark.streams.active:
        if q.name == query_name:
            q.stop()
    # A stateful query pins its state-store partition count at first
    # start, and AQE never coalesces it: this always-fresh query runs one
    # partition per task slot, not the batch session's 32. start() clones
    # the session conf, so the batch value comes back right after.
    key = "spark.sql.shuffle.partitions"
    batch_partitions = spark.conf.get(key)
    spark.conf.set(key, str(spark.sparkContext.defaultParallelism))
    try:
        query = (
            sdf.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set(key, batch_partitions)
    query.awaitTermination(timeout_s)
    query.stop()
    return spark.table(query_name)


class RowTargetStop(StreamingQueryListener):
    """Stops a named query once ≥ target input rows have been processed
    — the reference's row-target termination (``processados >= alvo``,
    ConsumidorAvro.java:76-85) for genuinely unbounded sources where
    ``availableNow`` doesn't apply.

    Use: ``spark.streams.addListener(RowTargetStop("q", 100_000))``.
    """

    def __init__(self, query_name: str, target_rows: int) -> None:
        super().__init__()
        self.query_name = query_name
        self.target_rows = target_rows
        self.seen = 0

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        if p.name != self.query_name:
            return
        self.seen += p.numInputRows
        if self.seen >= self.target_rows:
            from pyspark.sql import SparkSession

            session = SparkSession.getActiveSession()
            if session is None:
                return
            for q in session.streams.active:
                if q.name == self.query_name:
                    q.stop()

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def with_live_metrics(sdf: DataFrame, name: str = "metricas") -> DataFrame:
    """Attach ``observe()`` counters to a streaming frame — the engine's
    progress-log equivalent of the reference's every-100k prints
    (ProdutorAvro.java:81-85): per-microbatch row/byte/success counts
    surface in StreamingQueryProgress.observedMetrics."""
    return sdf.observe(
        name,
        F.count(F.lit(1)).alias("mensagens"),
        F.sum(F.col("tamanho_bytes")).alias("bytes"),
        F.count_if(F.col("sucesso")).alias("sucesso"),
    )
