"""Metrics pipeline (reference O10, O12-O15) — Spark-first.

The reference collects counters in AtomicLongs shared across 18 threads
(MetricasDesempenho.java:12-27) and derives rates in getters
(MetricasDesempenho.java:45-72). Here the same semantics are ONE global
hash aggregation: Spark's partial→final agg IS the reference's
per-thread-counter + merge design, but exact by construction (the
reference's consumer counter is racy — ConsumidorAvro.java:48,97).

Scale notes (100 TB): a single global agg is the cheapest possible
shape — map-side partial aggregation reduces each partition to one
counter row, and the final reduce touches #partitions rows, not data
rows. No shuffle of raw data ever happens. All derived doubles are
computed AFTER aggregation from exact longs, so results are
bit-deterministic regardless of partitioning/order (required by the
DuckDB value-hash oracle).

Every builder has a DuckDB SQL twin (…_sql) used by oracle_sql().
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

# ------------------------------------------------------------------ O10
def warmup_filter(df: DataFrame, warmup: int, seq_col: str = "sequencia") -> DataFrame:
    """Exclude the first ``warmup`` records from metrics
    (ProdutorAvro.java:78-79, ConsumidorAvro.java:42,97-100).

    A plain filter: Catalyst pushes it into the scan, so at scale the
    excluded rows are never materialized past the source.
    """
    return df.filter(F.col(seq_col) > F.lit(warmup))


# ------------------------------------------------------------------ O12
def registrar(
    df: DataFrame,
    bytes_col: Column | str,
    sucesso_col: Column | str,
    seq_col: str = "sequencia",
) -> DataFrame:
    """Normalize a message-event frame to the metrics input shape
    (sequencia, tamanho_bytes, sucesso) — registrarMensagem()'s
    signature (MetricasDesempenho.java:29-39)."""
    b = F.col(bytes_col) if isinstance(bytes_col, str) else bytes_col
    s = F.col(sucesso_col) if isinstance(sucesso_col, str) else sucesso_col
    return df.select(
        F.col(seq_col).cast("long").alias("sequencia"),
        b.cast("long").alias("tamanho_bytes"),
        s.cast("boolean").alias("sucesso"),
    )


# ------------------------------------------------------------- O13 (agg)
# The report is built from parsed SQL fragments (the discipline of
# generator._registro_sx): one selectExpr parses a whole projection or
# aggregate in a few py4j calls, where the Column API pays calls per
# node. Double literals carry the ``D`` suffix — Spark SQL parses a bare
# ``1000.0`` as DECIMAL.

# registrarMensagem (MetricasDesempenho.java:29-39): bytes only counted
# when > 0; erro rows contribute 0 bytes.
_COUNTERS_SX = [
    "count(1) AS total_mensagens",
    "CAST(coalesce(sum(CASE WHEN tamanho_bytes > 0 THEN tamanho_bytes"
    " ELSE 0 END), 0) AS BIGINT) AS total_bytes",
    "count_if(sucesso) AS mensagens_sucesso",
    "count_if(NOT sucesso) AS mensagens_erro",
]

_COUNTERS_SQL = """
        COUNT(*) AS total_mensagens,
        COALESCE(SUM(CASE WHEN tamanho_bytes > 0 THEN tamanho_bytes ELSE 0 END), 0)::BIGINT
            AS total_bytes,
        COUNT(*) FILTER (sucesso)     AS mensagens_sucesso,
        COUNT(*) FILTER (NOT sucesso) AS mensagens_erro"""


def _derived(df: DataFrame) -> DataFrame:
    """Derived rates from exact counters — the getter formulas of
    MetricasDesempenho.java:45-72, evaluated post-agg so every double
    is one fixed sequence of IEEE-754 ops (oracle-stable)."""
    dur_ms = "(fim_ms - inicio_ms)"
    dur_s = f"({dur_ms} / 1000.0D)"
    return df.selectExpr(
        "*",
        f"CAST({dur_ms} AS BIGINT) AS duracao_ms",
        f"CASE WHEN {dur_s} > 0 THEN total_mensagens / {dur_s}"
        " ELSE 0.0D END AS throughput_msgs_s",
        f"CASE WHEN {dur_s} > 0 THEN (total_bytes / 1048576.0D) / {dur_s}"
        " ELSE 0.0D END AS throughput_mb_s",
        f"CASE WHEN total_mensagens > 0 THEN CAST({dur_ms} AS DOUBLE)"
        " / total_mensagens ELSE 0.0D END AS tempo_por_msg_ms",
        "CASE WHEN total_mensagens > 0"
        " THEN (mensagens_sucesso * 100.0D) / total_mensagens"
        " ELSE 0.0D END AS taxa_sucesso",
    )


_DERIVED_SQL = """
        (fim_ms - inicio_ms)::BIGINT AS duracao_ms,
        CASE WHEN (fim_ms - inicio_ms) / 1000.0 > 0
             THEN total_mensagens / ((fim_ms - inicio_ms) / 1000.0)
             ELSE 0.0 END AS throughput_msgs_s,
        CASE WHEN (fim_ms - inicio_ms) / 1000.0 > 0
             THEN (total_bytes / (1024.0 * 1024.0)) / ((fim_ms - inicio_ms) / 1000.0)
             ELSE 0.0 END AS throughput_mb_s,
        CASE WHEN total_mensagens > 0
             THEN (fim_ms - inicio_ms)::DOUBLE / total_mensagens
             ELSE 0.0 END AS tempo_por_msg_ms,
        CASE WHEN total_mensagens > 0
             THEN (mensagens_sucesso * 100.0) / total_mensagens
             ELSE 0.0 END AS taxa_sucesso"""


def metricas_agg(df: DataFrame) -> DataFrame:
    """Global metrics over (sequencia, tamanho_bytes, sucesso, ts_ms).

    The clock pair comes from the data (min/max ts_ms) instead of
    wall-clock (MetricasDesempenho.java:22,41-43) — deterministic, and
    reports the data's own span rather than the harness's.
    """
    agg = df.selectExpr(
        *_COUNTERS_SX, "min(ts_ms) AS inicio_ms", "max(ts_ms) AS fim_ms"
    )
    return _derived(agg)


def metricas_agg_sql(source_sql: str) -> str:
    """DuckDB twin of metricas_agg; ``source_sql`` must yield columns
    (sequencia, tamanho_bytes, sucesso, ts_ms)."""
    return f"""
        WITH src AS ({source_sql}),
        agg AS (
            SELECT {_COUNTERS_SQL},
                MIN(ts_ms) AS inicio_ms,
                MAX(ts_ms) AS fim_ms
            FROM src
        )
        SELECT total_mensagens, total_bytes, mensagens_sucesso, mensagens_erro,
               inicio_ms, fim_ms, {_DERIVED_SQL}
        FROM agg
    """


# ----------------------------------------------------------- O14 (merge)
def metricas_merge(runs: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Combine per-shard metric rows (FIXTURES.md F4: one row per
    (aplicacao, shard) with the MetricasDesempenho.java:12-27 counters
    and the inicio_ms/fim_ms clock pair) — merge()
    adds counters (MetricasDesempenho.java:112-117); the clock pair
    widens to the envelope. This is literally Spark's partial→final
    combine expressed over materialized partials: union + re-agg.
    """
    keys = group_cols if group_cols is not None else ["aplicacao"]
    agg = runs.groupBy(*keys).agg(
        F.sum("total_mensagens").cast("long").alias("total_mensagens"),
        F.sum("total_bytes").cast("long").alias("total_bytes"),
        F.sum("mensagens_sucesso").cast("long").alias("mensagens_sucesso"),
        F.sum("mensagens_erro").cast("long").alias("mensagens_erro"),
        F.min("inicio_ms").alias("inicio_ms"),
        F.max("fim_ms").alias("fim_ms"),
    )
    return _derived(agg)


def metricas_merge_sql(runs_sql: str, group_cols: list[str] | None = None) -> str:
    keys = ", ".join(group_cols if group_cols is not None else ["aplicacao"])
    return f"""
        WITH runs AS ({runs_sql}),
        agg AS (
            SELECT {keys},
                SUM(total_mensagens)::BIGINT  AS total_mensagens,
                SUM(total_bytes)::BIGINT      AS total_bytes,
                SUM(mensagens_sucesso)::BIGINT AS mensagens_sucesso,
                SUM(mensagens_erro)::BIGINT   AS mensagens_erro,
                MIN(inicio_ms) AS inicio_ms,
                MAX(fim_ms)    AS fim_ms
            FROM runs GROUP BY {keys}
        )
        SELECT {keys}, total_mensagens, total_bytes, mensagens_sucesso,
               mensagens_erro, inicio_ms, fim_ms, {_DERIVED_SQL}
        FROM agg
    """


# ---------------------------------------------------------- O15 (report)
def relatorio(met: DataFrame) -> DataFrame:
    """Fixed-decimal report row (gerarRelatorio(),
    MetricasDesempenho.java:74-105): counters verbatim + '%.2f' strings
    (MetricasDesempenho.java:80-86).
    """
    return met.selectExpr(
        "total_mensagens",
        "mensagens_sucesso",
        "mensagens_erro",
        "total_bytes",
        "format_string('%.2f', total_bytes / 1048576.0D) AS total_mb",
        "duracao_ms",
        "format_string('%.2f', duracao_ms / 1000.0D) AS duracao_segundos",
        "format_string('%.2f', throughput_msgs_s)"
        " AS throughput_mensagens_por_segundo",
        "format_string('%.2f', throughput_mb_s) AS throughput_mb_por_segundo",
        "format_string('%.2f', tempo_por_msg_ms) AS tempo_por_mensagem_ms",
        "format_string('%.2f', taxa_sucesso) AS taxa_sucesso_porcentagem",
        "inicio_ms AS timestamp_inicio",
        "fim_ms AS timestamp_fim",
    )


def metricas_por_janela(df: DataFrame, janela_ms: int = 60_000) -> DataFrame:
    """Event-time windowed metrics: the counter set per tumbling window
    of ``janela_ms`` over the data clock (ts_ms).

    The reference only has processing-time totals; this is the
    event-time extension a streaming deployment needs (progress curves,
    late-data accounting). Window key = integer bucket of the epoch
    clock, so batch and streaming (with watermark) produce identical
    rows and the DuckDB oracle can check it as plain integer division.
    """
    bucket = (F.col("ts_ms") - (F.col("ts_ms") % F.lit(janela_ms))).alias(
        "janela_inicio_ms"
    )
    return (
        df.groupBy(bucket)
        .agg(*map(F.expr, _COUNTERS_SX))
        .orderBy("janela_inicio_ms")
    )


def metricas_por_janela_sql(source_sql: str, janela_ms: int = 60_000) -> str:
    return f"""
        WITH src AS ({source_sql})
        SELECT (ts_ms - (ts_ms % {janela_ms}))::BIGINT AS janela_inicio_ms,
               {_COUNTERS_SQL}
        FROM src
        GROUP BY janela_inicio_ms
        ORDER BY janela_inicio_ms
    """


def relatorio_json(met: DataFrame, aplicacao: str = "PRODUTOR_JSON") -> DataFrame:
    """O15 sink shape: the report row as ONE JSON text column plus the
    app-context fields — gerarRelatorioJson() + enviarMetricas()
    (MetricasDesempenho.java:107-109, ProdutorAvro.java:122-139). Write
    with ``df.write.text``/Kafka sink; field order is the struct order
    (deterministic — Gson's HashMap order was not)."""
    rep = relatorio(met).withColumn("aplicacao", F.lit(aplicacao))
    cols = [c for c in rep.columns if c != "aplicacao"]
    return rep.select(
        F.to_json(F.struct("aplicacao", *cols)).alias("relatorio_json")
    )


def relatorio_sql(met_sql: str) -> str:
    """DuckDB twin of relatorio(). printf('%.2f', …) matches Java's
    String.format for non-tie values (our derived rates never land on
    exact half-cent boundaries by construction of the fixtures)."""
    return f"""
        WITH met AS ({met_sql})
        SELECT total_mensagens, mensagens_sucesso, mensagens_erro, total_bytes,
               printf('%.2f', total_bytes / (1024.0 * 1024.0)) AS total_mb,
               duracao_ms,
               printf('%.2f', duracao_ms / 1000.0) AS duracao_segundos,
               printf('%.2f', throughput_msgs_s)   AS throughput_mensagens_por_segundo,
               printf('%.2f', throughput_mb_s)     AS throughput_mb_por_segundo,
               printf('%.2f', tempo_por_msg_ms)    AS tempo_por_mensagem_ms,
               printf('%.2f', taxa_sucesso)        AS taxa_sucesso_porcentagem,
               inicio_ms AS timestamp_inicio,
               fim_ms    AS timestamp_fim
        FROM met
    """
