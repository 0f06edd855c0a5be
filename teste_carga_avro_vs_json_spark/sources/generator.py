"""Synthetic load-message generator (reference O1/O2) — Spark-first.

The reference builds each message in a driver-side Java loop
(ProdutorAvro.java:53-65 -> GeradorCargaEstruturada.java:17-30): N
messages, each with ``max(1, kb*1024/200)`` nested Registro elements
filled from Random/UUID/wall-clock. Here the whole thing is ONE
declarative plan:

    spark.range(1, N+1)                         -- distributed rows
      .withColumn(dados, transform(sequence(0, k-1), build_registro))

so generation runs on executors — no Python, no driver loop, no shuffle.
It is not fully compiled: ``transform`` (``ArrayTransform``, like
``ArrayAggregate``) is ``CodegenFallback`` in Spark 4.1.2, so the
registro lambda is interpreted per element, and ``pseudo_uuid_sx``
evaluates ``md5`` five times per registro (once per substring). At
100 TB this scales linearly
with executors: `spark.range` splits into `numPartitions` evenly sized
partitions and every derived column is computed where the row lives.

Determinism (required by the DuckDB oracle): all fields are md5-derived
from (sequencia, indice) via functions/portable.py; timestamps use the
logical clock ``EPOCH0 + sequencia`` (FIXTURES.md F1/F2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from teste_carga_avro_vs_json_spark.config import n_registros
from teste_carga_avro_vs_json_spark.functions.portable import (
    hex32_sql,
    pseudo_double_sql,
    pseudo_double_sx,
    pseudo_uuid_sql,
    pseudo_uuid_sx,
    rand_text_sql,
    rand_text_sx,
)

# Logical clock origin (FIXTURES.md F1): replaces System.currentTimeMillis()
# at ProdutorAvro.java:61 / GeradorCargaEstruturada.java:24.
EPOCH0 = 1_700_000_000_000

TEXT_LEN = 100  # GeradorCargaEstruturada.java:22


def _registro_sx(seq: str, idx: str) -> str:
    """One nested Registro struct (MensagemCarga.avsc:17-23) as a Spark
    SQL fragment: the whole message projection parses in a handful of
    py4j calls (this builder runs per bench rep in every generator-fed
    lane; see operators/text.py tokens_sx note)."""
    rk = f"concat(CAST({seq} AS STRING), '-', CAST({idx} AS STRING))"
    key_t = f"concat({rk}, '-t')"
    key_n = f"concat({rk}, '-n')"
    key_u = f"concat({rk}, '-u')"
    return (
        "named_struct("
        f"'indice', CAST({idx} AS INT), "
        f"'texto', {rand_text_sx(key_t, TEXT_LEN)}, "
        f"'numero', {pseudo_double_sx(key_n)}, "
        f"'timestamp', CAST({EPOCH0} + {seq} AS BIGINT), "
        f"'uuid', {pseudo_uuid_sx(key_u)})"
    )


def mensagens_from_seq(seq_df: DataFrame, tamanho_kb: int = 1) -> DataFrame:
    """Attach the full MensagemCarga columns to a frame with a
    ``sequencia`` (long, 1-based) column."""
    k = n_registros(tamanho_kb)
    uid = pseudo_uuid_sx("concat('id-', CAST(sequencia AS STRING))")
    return seq_df.select(
        F.expr(uid).alias("id"),
        F.expr(f"CAST({EPOCH0} + sequencia AS BIGINT)").alias("timestamp"),
        F.expr("CAST(sequencia AS BIGINT)").alias("sequencia"),
        F.expr(
            f"transform(sequence(0, {k - 1}), "
            f"j -> {_registro_sx('sequencia', 'j')})"
        ).alias("dados"),
        F.lit("1.0").alias("versao"),
    )


def mensagens(
    spark: SparkSession,
    total: int,
    tamanho_kb: int = 1,
    num_partitions: int | None = None,
) -> DataFrame:
    """N synthetic messages, sequencia 1..N (ProdutorAvro.java:53-65)."""
    rng = spark.range(1, total + 1, numPartitions=num_partitions).toDF("sequencia")
    return mensagens_from_seq(rng, tamanho_kb)


def registros_flat(msgs: DataFrame) -> DataFrame:
    """Exploded one-row-per-Registro view (FIXTURES.md F2) — the shape
    the SQL oracle checks without UNNEST gymnastics.

    ``explode_outer``, not ``explode`` (r7): on a non-outer explode,
    Catalyst's InferFiltersFromGenerate inserts ``size(dados) > 0``
    below the Generate, and predicate pushdown substitutes the aliased
    array EXPRESSION into it — when ``dados`` is built by the generator
    (a transform building ~1 KB of registro strings) or decoded by
    ``from_json``, the whole construction/parse ran TWICE per row
    (plan-audited). ``dados`` is non-empty by construction
    (n_registros >= 1 per message; FIXTURES.md F1) so outer vs inner
    explode emit identical rows — oracle-pinned — and outer infers no
    filter. For pathological input a null/empty ``dados`` now yields
    one null-registro row instead of silently dropping the message —
    the lossless behavior a flat *view* should have anyway."""
    return msgs.select(
        "sequencia",
        "id",
        F.col("timestamp").alias("msg_ts"),
        "versao",
        F.explode_outer("dados").alias("r"),
    ).select(
        "sequencia",
        "id",
        "msg_ts",
        "versao",
        F.col("r.indice").alias("indice"),
        F.col("r.texto").alias("texto"),
        F.col("r.numero").alias("numero"),
        F.col("r.timestamp").alias("reg_ts"),
        F.col("r.uuid").alias("uuid"),
    )


# --------------------------------------------------------------- oracle
def registros_flat_sql(total: int, tamanho_kb: int = 1) -> str:
    """DuckDB twin of mensagens() -> registros_flat(): the exact same
    rows from pure SQL (generate_series + portable md5 arithmetic)."""
    k = n_registros(tamanho_kb)
    rk = "(sequencia || '-' || indice)"
    return f"""
        WITH msgs AS (
            SELECT i::BIGINT AS sequencia FROM generate_series(1, {total}) t(i)
        ),
        flat AS (
            SELECT m.sequencia, j::INT AS indice
            FROM msgs m, generate_series(0, {k - 1}) u(j)
        )
        SELECT
            sequencia,
            {pseudo_uuid_sql("'id-' || sequencia")} AS id,
            ({EPOCH0} + sequencia)::BIGINT AS msg_ts,
            '1.0' AS versao,
            indice,
            {rand_text_sql(rk + " || '-t'", TEXT_LEN)} AS texto,
            {pseudo_double_sql(rk + " || '-n'")} AS numero,
            ({EPOCH0} + sequencia)::BIGINT AS reg_ts,
            {pseudo_uuid_sql(rk + " || '-u'")} AS uuid
        FROM flat
    """


def size_estimate_sql(total: int, tamanho_kb: int = 1) -> str:
    """DuckDB twin of the Avro consumer's structural size estimate
    (ConsumidorAvro.java:182-191): sum over registros of
    4 + 8 + 8 + len(texto) + len(uuid) = 20 + len(texto) + len(uuid)."""
    k = n_registros(tamanho_kb)
    rk = "(sequencia || '-' || indice)"
    return f"""
        WITH msgs AS (
            SELECT i::BIGINT AS sequencia FROM generate_series(1, {total}) t(i)
        ),
        flat AS (
            SELECT m.sequencia, j::INT AS indice
            FROM msgs m, generate_series(0, {k - 1}) u(j)
        )
        SELECT sequencia,
               SUM(20 + length({rand_text_sql(rk + " || '-t'", TEXT_LEN)})
                      + length({pseudo_uuid_sql(rk + " || '-u'")}))::BIGINT
                   AS tamanho_estimado
        FROM flat
        GROUP BY sequencia
    """


__all__ = [
    "EPOCH0",
    "TEXT_LEN",
    "mensagens",
    "mensagens_from_seq",
    "registros_flat",
    "registros_flat_sql",
    "size_estimate_sql",
    "hex32_sql",
]
