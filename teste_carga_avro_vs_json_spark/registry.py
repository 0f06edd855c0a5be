"""Query registry: every implemented operator as a (spark, sf_dir) ->
DataFrame callable with a DuckDB oracle twin.

This is the driver-contract surface (``__spark_entry__.py`` re-exports
it): each SURVEY.md §2 operator registers here; the driver hash-compares
Spark vs DuckDB at sf=0.01 (CORRECTNESS_r{N}.json).

Determinism rules that keep the value-hash oracle green:
- every double is either a per-row expression (one fixed IEEE-754 op
  sequence) or derived post-agg from exact longs — never an
  order-dependent double SUM;
- timestamps truncate to epoch-millis on BOTH sides (the parquet is
  TIMESTAMP(NANOS): Spark reads exact nanos via nanosAsLong, DuckDB
  truncates to micros — millis is the shared precision);
- every computed column is aliased identically in Spark and SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from teste_carga_avro_vs_json_spark.operators import (
    analytics,
    corpus,
    crawl,
    decontam,
    dedup,
    metrics,
    multimodal,
    routing,
    serde,
    similarity,
    text,
)
from teste_carga_avro_vs_json_spark.session import configure, load_table
from teste_carga_avro_vs_json_spark.sources import generator, io_files

# Fixed fixture constants — baked into both dialects.
GEN_TOTAL = 200          # messages for generator-based queries
GEN_KB = 1               # -> max(1, 1024//200) = 5 registros per message
ROUTE_TOTAL = 500
ROUTE_PARTS = 18
TAIL_TARGET = 100
WARMUP = 100
MERGE_SHARDS = 4

QueryFn = Callable[[SparkSession, str], DataFrame]


# ----------------------------------------------------------- event source
def _eventos_como_mensagens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the driver's ``events`` table onto the message-metrics shape
    (FIXTURES.md F5): sequencia=event_id, bytes=length(props),
    sucesso = event_type != 'error', ts_ms = event time in millis."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").alias("sequencia"),
        F.length("props").cast("long").alias("tamanho_bytes"),
        (F.col("event_type") != F.lit("error")).alias("sucesso"),
        F.expr("ts div 1000000").alias("ts_ms"),
    )


_EVENTOS_SQL = """
    SELECT event_id AS sequencia,
           length(props)::BIGINT AS tamanho_bytes,
           (event_type <> 'error') AS sucesso,
           epoch_ms(ts) AS ts_ms
    FROM events
"""


# ------------------------------------------------------------- generators
def q_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = generator.mensagens(spark, GEN_TOTAL, GEN_KB)
    return generator.registros_flat(msgs)


def q_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = generator.mensagens(spark, GEN_TOTAL, GEN_KB)
    return routing.size_estimate(msgs)


# ------------------------------------------------------------------ serde
def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = generator.mensagens(spark, GEN_TOTAL, GEN_KB)
    return generator.registros_flat(serde.json_roundtrip(msgs))


def q_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = generator.mensagens(spark, GEN_TOTAL, GEN_KB)
    return generator.registros_flat(serde.avro_roundtrip(msgs))


# -------------------------------------------------------------- file IO
def _file_roundtrip(spark: SparkSession, fmt: str) -> DataFrame:
    """write partitioned wire dataset -> read back -> flat registro view
    (lossless iff equal to the generator output — same oracle as
    q_generator)."""
    import tempfile

    msgs = generator.mensagens(spark, GEN_TOTAL, GEN_KB)
    path = tempfile.mkdtemp(prefix=f"wire_{fmt}_")
    writer, reader = {
        "json": (io_files.write_json, io_files.read_json),
        "avro": (io_files.write_avro, io_files.read_avro),
        "parquet": (io_files.write_parquet, io_files.read_parquet),
    }[fmt]
    writer(msgs, path, ROUTE_PARTS)
    back = reader(spark, path).drop("particao")
    return generator.registros_flat(back)


def q_file_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _file_roundtrip(spark, "avro")


def q_file_avro_ocf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True *.avro Object Container Files through the pure-Python OCF
    layer (functions/avro_ocf.py) — write, read, flat projection.

    Registry-RETIRED r11 (slot given to q_gopher_rules): overlaps
    q_avro_roundtrip (same codec, file vs inline) — the OCF file
    surface stays oracle-checked via tools/check_retired.py and
    pytest-pinned in test_io_and_streaming/test_avro_generic."""
    import tempfile

    msgs = generator.mensagens(spark, GEN_TOTAL, GEN_KB)
    path = tempfile.mkdtemp(prefix="wire_ocf_")
    io_files.write_avro_ocf(msgs, path, ROUTE_PARTS, compression="gzip")
    back = io_files.read_avro_ocf(spark, path).drop("particao")
    return generator.registros_flat(back)


# -------------------------------------------------------------- streaming
def q_stream_metrics_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8/O16: bounded streaming drain of the events table through the
    SAME metrics aggregation as q_metrics_agg — results must be
    identical to the batch path (and hash-match the same oracle)."""
    from teste_carga_avro_vs_json_spark.streaming import (
        eventos_stream,
        metricas_stream,
        run_bounded,
    )

    src = eventos_stream(spark, sf_dir)
    return run_bounded(metricas_stream(src), query_name="q_stream_metrics_agg")


def q_stream_json_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming consumer E2E (the reference CONSUMIDOR_JSON E2E_PARSE
    path as a stream): write the wire dataset, stream-decode it, compute
    the structural size aggregate — deterministic, so fully
    oracle-checkable."""
    import tempfile

    from teste_carga_avro_vs_json_spark.streaming import (
        json_wire_stream,
        run_bounded,
    )

    msgs = generator.mensagens(spark, GEN_TOTAL, GEN_KB)
    path = tempfile.mkdtemp(prefix="wire_stream_")
    io_files.write_json(msgs, path, ROUTE_PARTS)
    sized = routing.size_estimate(json_wire_stream(spark, path))
    agg = sized.agg(
        F.count(F.lit(1)).alias("total_mensagens"),
        F.sum("tamanho_estimado").cast("long").alias("total_estimado"),
        F.min("sequencia").alias("min_seq"),
        F.max("sequencia").alias("max_seq"),
    )
    return run_bounded(agg, query_name="q_stream_json_e2e")


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dedup (bounded state): the documents table
    is written to the wire TWICE (an at-least-once source); the stream
    must emit each row exactly once. Dedup key = md5(doc_id|text) so
    injected copies are the only collisions; duplicate rows are
    byte-identical, so whichever copy survives, the output is
    deterministic and the oracle is just the original table."""
    import tempfile

    from teste_carga_avro_vs_json_spark.streaming import (
        run_bounded,
        stream_dedup,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wire = docs.select(F.to_json(F.struct("doc_id", "text")).alias("value"))
    path = tempfile.mkdtemp(prefix="dedup_stream_")
    wire.unionByName(wire).write.mode("overwrite").format("text").save(path)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .json(path)
        .withColumn("fp", F.md5(F.concat_ws("|", "doc_id", "text")))
        .withColumn(
            "ev", F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id"))
        )
    )
    # Delay must exceed the event-time span of the fixture (doc_id
    # seconds: 5e4 s even at sf1): exactly-once here requires a
    # fingerprint's state to outlive the whole drain even if availableNow
    # splits it into micro-batches — with the default 10s delay a later
    # batch could advance the watermark past an evicted fingerprint and
    # re-emit its duplicate.
    out = stream_dedup(stream, ["fp"], "ev", delay="30 days").select(
        "doc_id", "fp"
    )
    return run_bounded(out, query_name="q_stream_dedup", output_mode="append")


def _stream_dedup_sql() -> str:
    return """
        SELECT doc_id, md5(doc_id::VARCHAR || '|' || text) AS fp
        FROM documents
    """


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join (streaming/pipeline.py):
    each purchase event pairs with the same user's click events in the
    preceding 24 h — two live streams, neither side static. The
    time-range predicate bounds both sides' join state (the firehose
    requirement); the oracle is the equivalent batch self-join. Delay
    is sized past the fixture's event-time span so state provably
    outlives a multi-batch availableNow drain (same rule as
    q_stream_dedup)."""
    import tempfile

    from teste_carga_avro_vs_json_spark.streaming import (
        run_bounded,
        stream_stream_join,
    )

    ev = load_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="ss_join_")
    for etype, cols, sub in (
        ("purchase", ("purchase_id", "p_ms"), "p"),
        ("click", ("click_id", "c_ms"), "c"),
    ):
        ev.filter(F.col("event_type") == etype).select(
            F.col("event_id").alias(cols[0]),
            "user_id",
            F.expr("ts div 1000000").alias(cols[1]),
        ).write.mode("overwrite").parquet(f"{base}/{sub}")
    p = (
        spark.readStream.schema("purchase_id long, user_id long, p_ms long")
        .parquet(f"{base}/p")
        .withColumn("p_ts", F.timestamp_millis("p_ms"))
    )
    c = (
        spark.readStream.schema("click_id long, user_id long, c_ms long")
        .parquet(f"{base}/c")
        .withColumn("c_ts", F.timestamp_millis("c_ms"))
    )
    joined = stream_stream_join(
        p, c, "user_id", "p_ts", "c_ts", max_gap="24 hours", delay="30 days"
    )
    out = joined.select("purchase_id", "user_id", "click_id", "p_ms", "c_ms")
    return run_bounded(
        out, query_name="q_stream_stream_join", output_mode="append"
    )


def _stream_stream_join_sql() -> str:
    return """
        SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
               epoch_ms(p.ts)::BIGINT AS p_ms, epoch_ms(c.ts)::BIGINT AS c_ms
        FROM events p
        JOIN events c ON c.user_id = p.user_id
         AND p.event_type = 'purchase' AND c.event_type = 'click'
         AND epoch_ms(c.ts) <= epoch_ms(p.ts)
         AND epoch_ms(c.ts) >= epoch_ms(p.ts) - 86400000
    """


def _stream_json_e2e_sql() -> str:
    return f"""
        WITH se AS ({generator.size_estimate_sql(GEN_TOTAL, GEN_KB)})
        SELECT COUNT(*) AS total_mensagens,
               SUM(tamanho_estimado)::BIGINT AS total_estimado,
               MIN(sequencia) AS min_seq,
               MAX(sequencia) AS max_seq
        FROM se
    """


AUDIT_DROP = 97  # drop every 97th sequence → deterministic gaps


def q_stream_sequence_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sequence audit (applyInPandasWithState,
    streaming/stateful.py): events are routed to partitions with ~1% of
    sequences deterministically dropped; the stream reports running
    (total, max_seq, missing, out-of-order) per partition. The fixture
    is a single file drained by one availableNow batch, so the in-batch
    walk is sorted and the oracle is the telescoping gap sum
    (max-min)/stride - (count-1); cross-batch out-of-order arrivals are
    exercised in pytest (injected regressions) instead."""
    import tempfile

    from pyspark.sql.window import Window

    from teste_carga_avro_vs_json_spark.streaming import run_bounded
    from teste_carga_avro_vs_json_spark.streaming.stateful import (
        auditoria_sequencia,
    )

    msgs = _eventos_como_mensagens(spark, sf_dir).select("sequencia")
    kept = msgs.filter(F.col("sequencia") % AUDIT_DROP != 0)
    routed = routing.route(kept, ROUTE_PARTS).select("particao", "sequencia")
    path = tempfile.mkdtemp(prefix="seq_audit_")
    routed.coalesce(1).write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema("particao int, sequencia long").parquet(path)
    out = run_bounded(
        auditoria_sequencia(stream, ROUTE_PARTS),
        query_name="q_stream_sequence_audit",
        output_mode="update",
    )
    # update mode emits one row per key per micro-batch; keep the final
    # (largest-total) state per partition.
    w = Window.partitionBy("particao").orderBy(F.col("total_linhas").desc())
    return (
        out.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .drop("_r")
        .orderBy("particao")
    )


def _stream_sequence_audit_sql() -> str:
    return f"""
        WITH kept AS (
            SELECT event_id AS sequencia FROM events
            WHERE event_id % {AUDIT_DROP} <> 0
        ),
        routed AS (
            SELECT ((sequencia - 1) % {ROUTE_PARTS})::INT AS particao,
                   sequencia
            FROM kept
        )
        SELECT particao,
               COUNT(*)::BIGINT AS total_linhas,
               MAX(sequencia) AS max_seq,
               ((MAX(sequencia) - MIN(sequencia)) // {ROUTE_PARTS}
                   - (COUNT(*) - 1))::BIGINT AS n_faltando,
               0::BIGINT AS n_fora_de_ordem
        FROM routed GROUP BY particao ORDER BY particao
    """


# ---------------------------------------------------------------- routing
def q_partition_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = generator.mensagens(spark, ROUTE_TOTAL, GEN_KB).select("sequencia")
    routed = routing.route(msgs, ROUTE_PARTS)
    return (
        routed.groupBy("particao")
        .agg(
            F.count(F.lit(1)).alias("n_msgs"),
            F.min("sequencia").alias("min_seq"),
            F.max("sequencia").alias("max_seq"),
            F.min("chave").alias("first_chave"),
        )
        .orderBy("particao")
    )


def _routing_sql() -> str:
    return f"""
        WITH msgs AS (
            SELECT i::BIGINT AS sequencia,
                   'msg-' || i AS chave,
                   ((i - 1) % {ROUTE_PARTS})::INT AS particao
            FROM generate_series(1, {ROUTE_TOTAL}) t(i)
        )
        SELECT particao, COUNT(*) AS n_msgs, MIN(sequencia) AS min_seq,
               MAX(sequencia) AS max_seq, MIN(chave) AS first_chave
        FROM msgs GROUP BY particao ORDER BY particao
    """


def q_tail_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = generator.mensagens(spark, ROUTE_TOTAL, GEN_KB).select("sequencia")
    transporte = routing.with_offsets(routing.route(msgs, ROUTE_PARTS))
    kept = routing.tail_n(transporte, TAIL_TARGET, ROUTE_PARTS)
    return kept.select("particao", "offset", "sequencia").orderBy(
        "particao", "offset"
    )


def _tail_n_sql() -> str:
    per_part = -(-TAIL_TARGET // ROUTE_PARTS)
    return f"""
        WITH msgs AS (
            SELECT i::BIGINT AS sequencia, ((i - 1) % {ROUTE_PARTS})::INT AS particao
            FROM generate_series(1, {ROUTE_TOTAL}) t(i)
        ),
        com_offset AS (
            SELECT particao, sequencia,
                   (ROW_NUMBER() OVER (PARTITION BY particao ORDER BY sequencia)
                        - 1)::BIGINT AS "offset"
            FROM msgs
        ),
        ends AS (
            SELECT particao, MAX("offset") + 1 AS end_offset
            FROM com_offset GROUP BY particao
        )
        SELECT c.particao, c."offset", c.sequencia
        FROM com_offset c JOIN ends e USING (particao)
        WHERE c."offset" >= GREATEST(0, e.end_offset - {per_part})
        ORDER BY c.particao, c."offset"
    """


# ---------------------------------------------------------------- metrics
def q_warmup_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = metrics.warmup_filter(_eventos_como_mensagens(spark, sf_dir), WARMUP)
    return src.agg(
        F.count(F.lit(1)).alias("total_mensagens"),
        F.sum("tamanho_bytes").cast("long").alias("total_bytes"),
        F.min("sequencia").alias("min_seq"),
    )


def _warmup_sql() -> str:
    return f"""
        WITH src AS ({_EVENTOS_SQL})
        SELECT COUNT(*) AS total_mensagens,
               SUM(tamanho_bytes)::BIGINT AS total_bytes,
               MIN(sequencia) AS min_seq
        FROM src WHERE sequencia > {WARMUP}
    """


def q_success_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _eventos_como_mensagens(spark, sf_dir)
    agg = src.agg(
        F.count(F.lit(1)).alias("total_mensagens"),
        F.count_if(F.col("sucesso")).alias("mensagens_sucesso"),
        F.count_if(~F.col("sucesso")).alias("mensagens_erro"),
    )
    return agg.withColumn(
        "taxa_sucesso",
        (F.col("mensagens_sucesso") * F.lit(100.0)) / F.col("total_mensagens"),
    )


def _success_sql() -> str:
    return f"""
        WITH src AS ({_EVENTOS_SQL})
        SELECT COUNT(*) AS total_mensagens,
               COUNT(*) FILTER (sucesso) AS mensagens_sucesso,
               COUNT(*) FILTER (NOT sucesso) AS mensagens_erro,
               (COUNT(*) FILTER (sucesso) * 100.0) / COUNT(*) AS taxa_sucesso
        FROM src
    """


def q_metrics_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return metrics.metricas_agg(_eventos_como_mensagens(spark, sf_dir))


def q_metrics_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _eventos_como_mensagens(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("sequencia"),
        F.col("event_type").alias("aplicacao"),
        F.pmod(F.col("user_id"), F.lit(MERGE_SHARDS)).cast("int").alias("shard"),
    )
    runs = (
        src.join(ev, "sequencia")
        .groupBy("aplicacao", "shard")
        .agg(
            F.count(F.lit(1)).alias("total_mensagens"),
            F.sum(
                F.when(F.col("tamanho_bytes") > 0, F.col("tamanho_bytes")).otherwise(0)
            ).cast("long").alias("total_bytes"),
            F.count_if(F.col("sucesso")).alias("mensagens_sucesso"),
            F.count_if(~F.col("sucesso")).alias("mensagens_erro"),
            F.min("ts_ms").alias("inicio_ms"),
            F.max("ts_ms").alias("fim_ms"),
        )
    )
    return metrics.metricas_merge(runs).orderBy("aplicacao")


def _merge_sql() -> str:
    runs = f"""
        WITH src AS ({_EVENTOS_SQL}),
        ev AS (
            SELECT event_id AS sequencia, event_type AS aplicacao,
                   (user_id % {MERGE_SHARDS})::INT AS shard
            FROM events
        )
        SELECT aplicacao, shard,
               COUNT(*) AS total_mensagens,
               SUM(CASE WHEN tamanho_bytes > 0 THEN tamanho_bytes ELSE 0 END)::BIGINT
                   AS total_bytes,
               COUNT(*) FILTER (sucesso) AS mensagens_sucesso,
               COUNT(*) FILTER (NOT sucesso) AS mensagens_erro,
               MIN(ts_ms) AS inicio_ms,
               MAX(ts_ms) AS fim_ms
        FROM src JOIN ev USING (sequencia)
        GROUP BY aplicacao, shard
    """
    return metrics.metricas_merge_sql(runs) + " ORDER BY aplicacao"


def q_report_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    return metrics.relatorio(q_metrics_agg(spark, sf_dir))


def q_windowed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window metrics (1-minute buckets over the
    data clock) — the streaming twin in streaming/pipeline.py emits
    identical rows (test_io_and_streaming).

    Registry-RETIRED r11 (slot given to q_chunk_sentences): overlaps
    q_stream_metrics_agg + q_metrics_agg (same aggregation family) —
    stays oracle-checked via tools/check_retired.py."""
    return metrics.metricas_por_janela(
        _eventos_como_mensagens(spark, sf_dir), janela_ms=60_000
    )


# ------------------------------------------------------------------- text
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.text_stats(load_table(spark, sf_dir, "documents"))


#: gopher_rules fixture (promoted r11 from tools/check_retired.py):
#: the sf documents are single-line word soup, so inject deterministic
#: STRUCTURE (bullet lines, ellipsis endings, symbol runs, extra stop
#: words) keyed on doc_id — every rule then varies across the corpus
#: instead of being vacuously true
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher document-shape gate (Rae et al. 2021 §A1.1): word
    count / mean word length / symbol ratio / bullet + ellipsis lines /
    alphabetic share / required stop words as integer-only rules —
    zero-shuffle projection (operators/text.py:gopher_rules)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\n- bullet item "),
            F.pmod(F.col("doc_id"), F.lit(5)).cast("string"),
            F.when(
                F.pmod(F.col("doc_id"), F.lit(2)) == 0,
                F.lit("\nwith that and have of closing words"),
            ).otherwise(F.lit("\nplain closing words here")),
            F.when(
                F.pmod(F.col("doc_id"), F.lit(3)) == 0,
                F.lit("\nthis line trails off..."),
            ).otherwise(F.lit("\nfinal line stays put")),
            F.when(
                F.pmod(F.col("doc_id"), F.lit(7)) == 0,
                F.lit("\n## ### #"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return text.gopher_rules(docs, min_words=40)


def _gopher_rules_sql() -> str:
    fixture = """(
        SELECT doc_id,
               text || chr(10) || '- bullet item ' || (doc_id % 5)::VARCHAR
                    || chr(10) || CASE WHEN doc_id % 2 = 0
                        THEN 'with that and have of closing words'
                        ELSE 'plain closing words here' END
                    || chr(10) || CASE WHEN doc_id % 3 = 0
                        THEN 'this line trails off...'
                        ELSE 'final line stays put' END
                    || CASE WHEN doc_id % 7 = 0
                        THEN chr(10) || '## ### #' ELSE '' END AS text
        FROM documents
    )"""
    return text.gopher_rules_sql(fixture, min_words=40)


#: chunk_sentences fixture (promoted r11): the sf documents have no
#: punctuation (one giant sentence — boundaries never exercised), so
#: inject terminators deterministically on common vocabulary tokens in
#: BOTH engines
def q_chunk_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-aware RAG chunking (corpus.chunk_sentences): RE2-safe
    segmentation + exact-integer prefix-sum chunk assignment, sentences
    never split; ONE doc-keyed shuffle reused by window + agg."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.replace(
                F.replace(
                    F.col("text"),
                    F.lit(" table"),
                    F.lit(". table"),
                ),
                F.lit(" window"),
                F.lit("! window"),
            ),
            F.lit("."),
        ).alias("text"),
    )
    return corpus.chunk_sentences(docs, chunk_chars=160)


def _chunk_sentences_sql() -> str:
    fixture = """(
        SELECT doc_id,
               replace(replace(text, ' table', '. table'),
                       ' window', '! window') || '.' AS text
        FROM documents
    )"""
    return corpus.chunk_sentences_sql(chunk_chars=160, table=fixture)


def q_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused per-doc profile (token counts + lang-ID + quality +
    fingerprint) in one scan — the registry twin for the four component
    operators, each still standalone + pytest-pinned (registry capped at
    50 entries: the driver's correctness window checks exactly the first
    50, CORRECTNESS_r02/r03)."""
    return text.doc_profile(load_table(spark, sf_dir, "documents"))


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic doc sample keeps the DuckDB twin cheap (its list
    lambdas evaluate md5 per k-gram serially)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 0
    )
    return text.winnow_fingerprints(docs)


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over a fixture that injects one email / IPv4 /
    phone per document (the synthetic corpus contains none) — both
    engines append the identical suffix before scrubbing."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ip 10.0."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
            F.lit("."),
            F.pmod(F.col("doc_id"), F.lit(100)).cast("string"),
            F.lit(" tel +55-"),
            F.lpad(F.col("doc_id").cast("string"), 4, "0"),
        ).alias("text"),
    )
    return text.pii_scrub(docs)


def _pii_scrub_sql() -> str:
    fixture = """(
        SELECT doc_id,
               text || ' contact user' || doc_id::VARCHAR
                    || '@example.com ip 10.0.' || (doc_id % 256)::VARCHAR
                    || '.' || (doc_id % 100)::VARCHAR
                    || ' tel +55-' || lpad(doc_id::VARCHAR, 4, '0') AS text
        FROM documents
    )"""
    return text.pii_scrub_sql(fixture)


def q_intra_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition removal over a fixture that prepends
    the first 20 tokens to every 7th document (chunk-aligned
    duplication the operator must detect and drop)."""
    staged = load_table(spark, sf_dir, "documents").select(
        "doc_id", text.tokens(F.col("text")).alias("tk")
    )
    docs = staged.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat_ws(" ", F.concat(F.slice("tk", 1, 20), F.col("tk"))),
        )
        .otherwise(F.concat_ws(" ", "tk"))
        .alias("text"),
    )
    return corpus.intra_doc_dedup(docs)


def _intra_doc_dedup_sql() -> str:
    from teste_carga_avro_vs_json_spark.operators.text import tokens_sql

    fixture = f"""(
        WITH tk AS (
            SELECT doc_id, {tokens_sql("text")} AS tk FROM documents
        )
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0
                    THEN array_to_string(list_concat(tk[1:20], tk), ' ')
                    ELSE array_to_string(tk, ' ')
               END AS text
        FROM tk
    )"""
    return corpus.intra_doc_dedup_sql(fixture)


_MIX_WEIGHTS = {f"src{i}": 10 + (i % 4) * 20 for i in range(20)}


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted training-mix sampling: per-source keep rates 10/30/50/70%
    via the deterministic hash gate; result aggregated per source so the
    oracle row set is compact."""
    kept = corpus.corpus_mix(
        load_table(spark, sf_dir, "documents"), _MIX_WEIGHTS
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("source")
    )


def _asof_attribution_sql() -> str:
    from teste_carga_avro_vs_json_spark.operators import asof

    return asof.attribution_sql()


def _corpus_mix_sql() -> str:
    inner = corpus.corpus_mix_sql("documents", _MIX_WEIGHTS)
    return f"""
        SELECT source,
               COUNT(*)::BIGINT AS n_kept,
               SUM(n_chars)::BIGINT AS sum_chars,
               MIN(doc_id) AS first_doc
        FROM ({inner}) GROUP BY source ORDER BY source
    """


def q_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (click→purchase attribution): Spark runs the
    union-marker + running-last window formulation; the DuckDB oracle
    runs its native ASOF LEFT JOIN planner rule — two independent
    algorithms that must agree row-for-row (incl. NULL gaps for
    unattributed purchases)."""
    from teste_carga_avro_vs_json_spark.operators import asof

    return asof.attribution(load_table(spark, sf_dir, "events"))


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity-gap sessionization over events (30-min gap)."""
    from teste_carga_avro_vs_json_spark.operators import asof

    return asof.sessionize(load_table(spark, sf_dir, "events"))


def _sessionize_sql() -> str:
    from teste_carga_avro_vs_json_spark.operators import asof

    return asof.sessionize_sql()


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming sessionization: Spark's session_window
    gap-merge with a 0s watermark over a bounded drain. A sentinel
    event 2 days past the corpus max advances the final watermark so
    every real session closes and emits (append mode only emits
    watermark-complete sessions); the sentinel is filtered back out.
    Oracle = the batch lag+cumsum formulation — a third independent
    algorithm (pytest already pins batch lag+cumsum == batch
    session_window)."""
    import tempfile

    from teste_carga_avro_vs_json_spark.streaming import run_bounded

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("ts div 1000000").alias("ts_ms")
    )
    mx = ev.agg(F.max("ts_ms")).first()[0]
    sentinel = spark.createDataFrame(
        [(-1, mx + 2 * 86400 * 1000)], ["user_id", "ts_ms"]
    )
    path = tempfile.mkdtemp(prefix="sess_stream_")
    ev.unionByName(sentinel).coalesce(1).write.mode("overwrite").parquet(path)
    stream = (
        spark.readStream.schema("user_id long, ts_ms long")
        .parquet(path)
        .withColumn("evt", F.timestamp_millis("ts_ms"))
    )
    sess = (
        stream.withWatermark("evt", "0 seconds")
        .groupBy("user_id", F.session_window("evt", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_bounded(sess, query_name="q_stream_sessionize", output_mode="append")
    return (
        out.filter(F.col("user_id") >= 0)
        .select(
            "user_id",
            F.unix_millis(F.col("session_window.start")).alias("start_ms"),
            "n_events",
        )
        .orderBy("user_id", "start_ms")
    )


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus report card (volume, dup rate, quality, lang
    purity) — one scan + one agg."""
    return corpus.corpus_report(load_table(spark, sf_dir, "documents"))


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized range join: every error event placed inside its user's
    session. Oracle = DuckDB's plain BETWEEN range join (independent
    algorithm)."""
    from teste_carga_avro_vs_json_spark.operators import asof

    return asof.error_sessions(load_table(spark, sf_dir, "events"))


def _interval_join_sql() -> str:
    from teste_carga_avro_vs_json_spark.operators import asof

    return asof.error_sessions_sql()


# ------------------------------------------------------------------ dedup
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_candidates(load_table(spark, sf_dir, "documents"))


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry-RETIRED r7-late (slot given to q_repetition_profile; the
    signature family stays in-window via q_minhash_lsh/q_ngram_jaccard
    and this query is re-oracled each round by tools/check_retired.py)."""
    return dedup.simhash(load_table(spark, sf_dir, "documents"))


def q_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-doc repetition signals (operators/text.py):
    duplicate words, modal-bigram char share, duplicated-bigram char
    mass — zero-shuffle row-local fold over sorted gram arrays."""
    return text.repetition_profile(load_table(spark, sf_dir, "documents"))


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.neardup_clusters(load_table(spark, sf_dir, "documents"))


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.corpus_clean(load_table(spark, sf_dir, "documents"))


def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.token_budget_sample(load_table(spark, sf_dir, "documents"))


# ------------------------------------------------------------- similarity
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk(load_table(spark, sf_dir, "embeddings"))


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry-RETIRED r7-late (slot given to q_semantic_dedup, its
    cluster-bounded successor; re-oracled each round by
    tools/check_retired.py)."""
    return similarity.embedding_neardup(load_table(spark, sf_dir, "embeddings"))


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/similarity.py): deterministic-k-means
    clusters bound the candidate pairs; keep-lowest-id within each
    near-dup neighborhood. Oracle replays the Lloyd loop as a CTE
    chain (same machinery as q_ivf_ann_topk)."""
    return similarity.semantic_dedup(load_table(spark, sf_dir, "embeddings"))


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN variant — oracle-backed: the Lloyd loop is deterministic
    (lowest-vec_id init + quantized-exact centroid means), so the DuckDB
    twin unrolls it as a CTE chain and reproduces the ANN output
    exactly; pytest additionally pins exact-recall equivalence at full
    probe count.
    Registry-RETIRED r13 (slot given to q_ivf_pq_topk, whose IVF-PQ
    plan subsumes the coarse-inverted-list shape and adds the O(m)
    LUT-scored PQ candidate path); re-oracled each round by
    tools/check_retired.py."""
    return similarity.ivf_topk(load_table(spark, sf_dir, "embeddings"))


def q_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (Jégou, Douze, Schmid 2011; operators/similarity.py):
    coarse inverted lists + 8-byte PQ codes riding the candidate join,
    scored in O(m) per candidate from a per-query ADC lookup table,
    then IVFADC-R exact re-ranking of the shortlist via broadcast
    ids-first fetch. n_centroids pinned to 16 so the DuckDB twin (one
    prefixed k-means CTE chain per subspace + codeword equi-joins)
    replays the same Lloyd unroll; the operator's default auto-scales
    to max(16, √n). Promoted into the driver window r13 (VERDICT r12
    order #1)."""
    return similarity.ivf_pq_topk(
        load_table(spark, sf_dir, "embeddings"), n_centroids=16
    )


def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN variant — oracle-backed: the md5-seeded hyperplanes are
    deterministic, so the DuckDB twin inlines them as literals and
    reproduces buckets + candidate top-k exactly; pytest additionally
    asserts recall vs q_cosine_topk."""
    return similarity.lsh_ann_topk(load_table(spark, sf_dir, "embeddings"))


# -------------------------------------------------- star-schema analytics
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped wide partial agg (operators/analytics.py);
    money quantized to cents per row, averages post-agg from longs."""
    return analytics.pricing_summary(load_table(spark, sf_dir, "lineitem"))


def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5-shaped star join with broadcast dims + pushed filters."""
    return analytics.star_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


def q_rollup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets over orders with grouping-id tags."""
    return analytics.rollup_report(load_table(spark, sf_dir, "orders"))


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti integrity audit: orders with no lineitem rows.
    Registry-RETIRED r7 (the LeftAnti shape is already plan-pinned in
    corpus_clean and test_anti_join_probe_side_projects_key_only);
    re-oracled each round by tools/check_retired.py. Its 50-window slot
    went to q_decontaminate."""
    return analytics.orders_without_items(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: per-train-doc word n-gram overlap
    against the deterministic doc_id % 17 == 0 test split (n = 5 here —
    the synthetic docs are ~50 words, so the published 13-gram default
    would make the hit set degenerate; the operator defaults to 13)."""
    docs = load_table(spark, sf_dir, "documents")
    return decontam.decontaminate(
        docs.filter(F.col("doc_id") % 17 != 0),
        docs.filter(F.col("doc_id") % 17 == 0),
        n=5,
    )


def q_quantile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete percentiles per market segment (cume_dist)."""
    return analytics.quantile_profile(load_table(spark, sf_dir, "customer"))


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per priority via row_number window.
    Registry-RETIRED r7 (the partitioned rank-window shape is already
    in-window three times via q_cosine_topk / q_lsh_ann_topk /
    q_ivf_ann_topk); re-oracled each round by tools/check_retired.py.
    Its 50-window slot went to q_pack_sequences."""
    return analytics.topk_per_group(load_table(spark, sf_dir, "orders"))


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing plan over documents at seq_len=512 (small
    enough that the synthetic ~50-word docs produce straddling docs and
    multi-sequence spans; the operator default is 2048)."""
    return corpus.pack_sequences(
        load_table(spark, sf_dir, "documents"), seq_len=512
    )


# ------------------------------------------------------------- multimodal
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join via bucketed tables (sources/bucketed.py): both
    sides are written bucketed by the join key, so the join itself
    plans with ZERO exchange — the materialized-shuffle strategy for
    repeated 100 TB joins. Results are layout-independent, so the
    oracle is the plain equi-join; the no-Exchange plan shape is pinned
    in test_plan_shapes.py."""
    import tempfile

    from teste_carga_avro_vs_json_spark.sources import bucketed

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(text.tokens(F.col("text"))).cast("long").alias("words"),
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), F.col("label").cast("int").alias("label")
    )
    base = tempfile.mkdtemp(prefix="bucketed_join_")
    bucketed.write_bucketed(docs, "q_bj_docs", f"{base}/docs", "doc_id", 8)
    bucketed.write_bucketed(emb, "q_bj_emb", f"{base}/emb", "doc_id", 8)
    return bucketed.bucketed_join(spark, "q_bj_docs", "q_bj_emb", "doc_id").select(
        "doc_id", "words", "label"
    )


def _bucketed_join_sql() -> str:
    from teste_carga_avro_vs_json_spark.operators.text import tokens_sql

    return f"""
        SELECT d.doc_id,
               len({tokens_sql("d.text")})::BIGINT AS words,
               e.label::INT AS label
        FROM documents d
        JOIN embeddings e ON e.vec_id = d.doc_id
    """


def q_confluent_framing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confluent wire framing (magic 0x00 + 4-byte BE schema id,
    ConfiguracaoKafka.java:150-156) over utf-8 payloads: the oracle
    hash pins the full wire bytes (so the header layout is checked
    byte-for-byte) while sid/roundtrip are computed Spark-side by the
    header parse/strip functions against oracle-declared expectations
    (DuckDB 1.0 cannot slice BLOBs, so it cannot re-parse the header).

    The wire column is emitted HEX-encoded (``wire_hex``): byte-for-byte
    header checking survives hexification, and the driver's pandas
    canonicalizer cannot sort/hash raw bytearray cells (r3's sole red
    row was exactly that TypeError)."""
    from teste_carga_avro_vs_json_spark.functions import avro_codec

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    payload = F.encode(F.col("text"), "UTF-8")
    wire = avro_codec.confluent_wrap(payload, schema_id=7)
    return docs.select(
        "doc_id",
        F.hex(wire).alias("wire_hex"),
        avro_codec.confluent_schema_id(wire).alias("sid"),
        (avro_codec.confluent_unwrap(wire) == payload).alias("roundtrip"),
    )


def _confluent_framing_sql() -> str:
    return r"""
        SELECT doc_id,
               upper(hex('\x00\x00\x00\x00\x07'::BLOB || encode(text)))
                   AS wire_hex,
               7::BIGINT AS sid,
               TRUE AS roundtrip
        FROM documents
    """


def q_media_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline — the registry twin for media_features,
    resize, AND extract_audio_features (registry capped at 50 entries
    for the driver's correctness window): the image chain (resize →
    feature-extract, two mapInPandas stages in one shuffle-free Python
    pipeline) merged with the audio feature frame on doc_id — the
    standard multi-modality feature-join shape (tiny payload-free
    feature rows on both sides, so the join moves features, never
    payloads). The oracle checks the post-resize byte arithmetic
    (area-ratio scaling, clip >= 1), format/leading-byte preservation,
    and the audio byte-stat arithmetic (s16le sample count, 16 kHz
    duration, max-byte peak)."""
    docs = load_table(spark, sf_dir, "documents")
    img = multimodal.extract_features(
        multimodal.resize(multimodal.synth_media(docs))
    ).select("doc_id", "format", "width", "height", "n_bytes", "first_byte")
    aud = multimodal.extract_audio_features(
        multimodal.synth_audio(docs)
    ).select(
        "doc_id",
        F.col("format").alias("a_format"),
        F.col("n_bytes").alias("a_n_bytes"),
        F.col("n_samples").alias("a_n_samples"),
        F.col("duration_ms").alias("a_duration_ms"),
        F.col("peak").alias("a_peak"),
    )
    return img.join(aud, "doc_id")


def _media_pipeline_sql() -> str:
    from teste_carga_avro_vs_json_spark.functions.portable import hex32_sql

    fmt_arr = "['png', 'jpeg', 'webp']"
    afmt_arr = "['wav', 'flac', 'ogg']"
    w_hash = hex32_sql("'w-' || doc_id")
    h_hash = hex32_sql("'h-' || doc_id")
    fmt_hash = hex32_sql("'fmt-' || doc_id")
    afmt_hash = hex32_sql("'afmt-' || doc_id")
    w = f"({w_hash} % 1920 + 1)"
    h = f"({h_hash} % 1080 + 1)"
    # audio fake: payload = md5(text)*8 = 128 bytes of s16le at 16 kHz
    # -> 64 samples, 4 ms; peak = max of the 16 distinct md5 bytes
    md5_bytes = ", ".join(
        f"('0x' || substr(md5(text), {2 * i + 1}, 2))::INT" for i in range(16)
    )
    # pandas: int(clip(64 * ratio, min=1)) == GREATEST(1, FLOOR(...));
    # payload = md5(text)*4 repeated/truncated, so byte 0 survives resize
    return f"""
        SELECT doc_id,
               {fmt_arr}[({fmt_hash} % 3 + 1)::INT]
                   AS format,
               224 AS width,
               224 AS height,
               GREATEST(1, FLOOR(64 * ((224.0 * 224.0) / ({w} * {h}))))::BIGINT
                   AS n_bytes,
               ('0x' || substr(md5(text), 1, 2))::INT AS first_byte,
               {afmt_arr}[({afmt_hash} % 3 + 1)::INT] AS a_format,
               128::BIGINT AS a_n_bytes,
               64::BIGINT AS a_n_samples,
               4::BIGINT AS a_duration_ms,
               GREATEST({md5_bytes})::INT AS a_peak
        FROM documents
    """


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing over a variable-length fake payload
    (doc_id%5+1 16-byte 'frames' per doc); keep every 2nd frame."""
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        "doc_id",
        F.unhex(
            F.expr("repeat(md5(text), cast(doc_id % 5 + 1 as int))")
        ).alias("payload"),
    )
    return multimodal.frame_sample(media, every_n=2).orderBy(
        "doc_id", "frame_idx"
    )


def _frame_sample_sql() -> str:
    return """
        WITH m AS (
            SELECT doc_id, (doc_id % 5 + 1) AS n_frames FROM documents
        ),
        f AS (
            SELECT doc_id, unnest(range(0, n_frames)) AS fi FROM m
        )
        SELECT doc_id, fi::INT AS frame_idx, (fi * 16)::INT AS frame_offset
        FROM f WHERE fi % 2 = 0
        ORDER BY doc_id, frame_idx
    """


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPR-style BM25 hard-negative mining (Karpukhin et al. 2020):
    rank-1 as weak positive, next-k as hard negatives — ONE ranking
    pass sharing ``_bm25_agg`` with the BM25 search op
    (operators/retrieval.py:221). Promoted into the driver window r12
    (VERDICT r11 order #3) from the check_retired local-oracle set."""
    from teste_carga_avro_vs_json_spark.operators import retrieval

    return retrieval.hard_negatives(load_table(spark, sf_dir, "documents"))


def _hard_negatives_sql() -> str:
    from teste_carga_avro_vs_json_spark.operators import retrieval

    return retrieval.hard_negatives_sql()


def q_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity sampling: α-temperature quotas over
    the deterministic k-means clusters (the post-SemDeDup selection
    stage; operators/similarity.py:1206). Promoted into the driver
    window r12 alongside q_hard_negatives; the oracle replays k-means
    via the shared ``_kmeans_assign_ctes`` CTE."""
    return similarity.cluster_sample(
        load_table(spark, sf_dir, "embeddings"), budget=150
    )


def _cluster_sample_sql() -> str:
    return similarity.cluster_sample_sql(budget=150)


# ------------------------------------------------------------ crawl/RAG
def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style per-domain document budget: canonical-host
    rank windows, deterministic keep order (operators/crawl.py:451).
    Promoted into the driver window r10 (VERDICT r9 order #3) from the
    check_retired local-oracle set."""
    return crawl.domain_cap(
        crawl.synth_urls(load_table(spark, sf_dir, "documents"))
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG chunking: fixed char windows + overlap as a zero-shuffle
    row-local explode (operators/corpus.py:1262). Promoted into the
    driver window r10 alongside q_domain_cap."""
    return corpus.chunk_documents(
        load_table(spark, sf_dir, "documents"), 300, 60
    )


# -------------------------------------------------------------- registry
# HARD CAP: 50 entries. The driver's correctness harness checks exactly
# the first 50 entries of this dict (CORRECTNESS_r02/r03 evidence) —
# anything past position 50 silently gets NO oracle row. Consolidated
# r4: redundant twins live on as pytest pins (test_skew, test_llmops,
# test_io_and_streaming), per-doc text queries fused into q_doc_profile,
# media feature/resize fused into q_media_pipeline.
def queries() -> dict[str, QueryFn]:
    return {
        "q_generator": q_generator,
        "q_size_estimate": q_size_estimate,
        "q_json_roundtrip": q_json_roundtrip,
        "q_avro_roundtrip": q_avro_roundtrip,
        # r10: q_file_avro_roundtrip retired into q_file_avro_ocf_roundtrip
        # and q_stream_json_e2e into q_stream_metrics_agg; slots given to
        # q_domain_cap + q_chunk_documents (VERDICT r9 order #3).
        # r11: q_file_avro_ocf_roundtrip retired into q_avro_roundtrip
        # (same codec, file vs inline) and q_windowed_metrics into
        # q_stream_metrics_agg + q_metrics_agg; slots given to
        # q_gopher_rules + q_chunk_sentences (VERDICT r10 order #4).
        # All retirees stay oracle-checked via tools/check_retired.py.
        "q_gopher_rules": q_gopher_rules,
        "q_stream_metrics_agg": q_stream_metrics_agg,
        "q_domain_cap": q_domain_cap,
        "q_chunk_documents": q_chunk_documents,
        "q_stream_dedup": q_stream_dedup,
        "q_stream_stream_join": q_stream_stream_join,
        "q_stream_sequence_audit": q_stream_sequence_audit,
        "q_partition_routing": q_partition_routing,
        "q_tail_n": q_tail_n,
        "q_warmup_filter": q_warmup_filter,
        "q_success_rate": q_success_rate,
        "q_metrics_agg": q_metrics_agg,
        "q_metrics_merge": q_metrics_merge,
        "q_report_format": q_report_format,
        "q_chunk_sentences": q_chunk_sentences,
        "q_text_stats": q_text_stats,
        "q_doc_profile": q_doc_profile,
        "q_pii_scrub": q_pii_scrub,
        "q_corpus_mix": q_corpus_mix,
        # r12: q_corpus_report retired (overlaps q_corpus_mix +
        # q_quantile_profile coverage) and q_frame_sample retired
        # (folds into q_media_pipeline — same multimodal byte
        # arithmetic); slots given to q_hard_negatives +
        # q_cluster_sample (VERDICT r11 order #3). Retirees stay
        # oracle-checked via tools/check_retired.py.
        "q_hard_negatives": q_hard_negatives,
        "q_asof_attribution": q_asof_attribution,
        "q_sessionize": q_sessionize,
        "q_interval_join": q_interval_join,
        "q_intra_doc_dedup": q_intra_doc_dedup,
        "q_winnow_fingerprints": q_winnow_fingerprints,
        "q_dedup_exact": q_dedup_exact,
        "q_ngram_jaccard": q_ngram_jaccard,
        "q_minhash_lsh": q_minhash_lsh,
        "q_neardup_clusters": q_neardup_clusters,
        "q_corpus_clean": q_corpus_clean,
        "q_token_budget_sample": q_token_budget_sample,
        "q_repetition_profile": q_repetition_profile,
        "q_cosine_topk": q_cosine_topk,
        "q_semantic_dedup": q_semantic_dedup,
        "q_lsh_ann_topk": q_lsh_ann_topk,
        # r13: q_ivf_ann_topk retired (plan shape subsumed by IVF-PQ);
        # slot given to q_ivf_pq_topk (VERDICT r12 order #1). Retiree
        # stays oracle-checked via tools/check_retired.py.
        "q_ivf_pq_topk": q_ivf_pq_topk,
        "q_confluent_framing": q_confluent_framing,
        "q_bucketed_join": q_bucketed_join,
        "q_pricing_summary": q_pricing_summary,
        "q_star_join": q_star_join,
        "q_rollup_report": q_rollup_report,
        "q_decontaminate": q_decontaminate,
        "q_quantile_profile": q_quantile_profile,
        "q_pack_sequences": q_pack_sequences,
        "q_media_pipeline": q_media_pipeline,
        "q_cluster_sample": q_cluster_sample,
    }


def oracle_sql() -> dict[str, str]:
    flat = generator.registros_flat_sql(GEN_TOTAL, GEN_KB)
    return {
        "q_generator": flat,
        "q_size_estimate": generator.size_estimate_sql(GEN_TOTAL, GEN_KB),
        # lossless round trips == the original generation
        "q_json_roundtrip": flat,
        "q_avro_roundtrip": flat,
        "q_gopher_rules": _gopher_rules_sql(),
        # stream == batch: identical agg, identical oracle
        "q_stream_metrics_agg": metrics.metricas_agg_sql(_EVENTOS_SQL),
        "q_domain_cap": crawl.domain_cap_sql(),
        "q_chunk_documents": corpus.chunk_documents_sql(300, 60),
        "q_stream_dedup": _stream_dedup_sql(),
        "q_stream_stream_join": _stream_stream_join_sql(),
        "q_stream_sequence_audit": _stream_sequence_audit_sql(),
        "q_partition_routing": _routing_sql(),
        "q_tail_n": _tail_n_sql(),
        "q_warmup_filter": _warmup_sql(),
        "q_success_rate": _success_sql(),
        "q_metrics_agg": metrics.metricas_agg_sql(_EVENTOS_SQL),
        "q_metrics_merge": _merge_sql(),
        "q_report_format": metrics.relatorio_sql(
            metrics.metricas_agg_sql(_EVENTOS_SQL)
        ),
        "q_chunk_sentences": _chunk_sentences_sql(),
        "q_text_stats": text.text_stats_sql(),
        "q_doc_profile": text.doc_profile_sql(),
        "q_pii_scrub": _pii_scrub_sql(),
        "q_corpus_mix": _corpus_mix_sql(),
        "q_hard_negatives": _hard_negatives_sql(),
        "q_asof_attribution": _asof_attribution_sql(),
        "q_sessionize": _sessionize_sql(),
        "q_interval_join": _interval_join_sql(),
        "q_intra_doc_dedup": _intra_doc_dedup_sql(),
        "q_winnow_fingerprints": text.winnow_fingerprints_sql(
            table="(SELECT * FROM documents WHERE doc_id % 5 = 0)"
        ),
        "q_dedup_exact": dedup.exact_dedup_sql(),
        "q_ngram_jaccard": dedup.ngram_jaccard_sql(),
        "q_minhash_lsh": dedup.minhash_lsh_sql(),
        "q_neardup_clusters": dedup.neardup_clusters_sql(),
        "q_corpus_clean": corpus.corpus_clean_sql(),
        "q_token_budget_sample": corpus.token_budget_sample_sql(),
        "q_repetition_profile": text.repetition_profile_sql(),
        "q_cosine_topk": similarity.cosine_topk_sql(),
        "q_semantic_dedup": similarity.semantic_dedup_sql(),
        "q_lsh_ann_topk": similarity.lsh_ann_topk_sql(),
        "q_ivf_pq_topk": similarity.ivf_pq_topk_sql(),
        "q_confluent_framing": _confluent_framing_sql(),
        "q_bucketed_join": _bucketed_join_sql(),
        "q_pricing_summary": analytics.pricing_summary_sql(),
        "q_star_join": analytics.star_revenue_sql(),
        "q_rollup_report": analytics.rollup_report_sql(),
        "q_decontaminate": decontam.decontaminate_sql(n=5),
        "q_quantile_profile": analytics.quantile_profile_sql(),
        "q_pack_sequences": corpus.pack_sequences_sql(seq_len=512),
        "q_media_pipeline": _media_pipeline_sql(),
        "q_cluster_sample": _cluster_sample_sql(),
    }


# ------------------------------------------------------------- flagship
def entry(spark: SparkSession) -> DataFrame:
    """Flagship E2E over sf0.001: generate → JSON round-trip → routing →
    warm-up filter → metrics agg → report row, with the events table
    driving the metrics clock (exercises O1-O2, O5-O7, O10-O15)."""
    configure(spark)
    sf_dir = "/root/testdata/sf0.001"
    ev = _eventos_como_mensagens(spark, sf_dir)
    n = ev.count()
    msgs = generator.mensagens(spark, max(n, 1), GEN_KB)
    decoded = serde.json_roundtrip(msgs)
    routed = routing.route(decoded, ROUTE_PARTS)
    sized = routing.size_estimate(routed)
    registrado = metrics.registrar(
        sized.join(ev.select("sequencia", "ts_ms", "sucesso"), "sequencia"),
        bytes_col="tamanho_estimado",
        sucesso_col="sucesso",
    ).join(ev.select("sequencia", "ts_ms"), "sequencia")
    filtered = metrics.warmup_filter(registrado, warmup=10)
    return metrics.relatorio(metrics.metricas_agg(filtered))
