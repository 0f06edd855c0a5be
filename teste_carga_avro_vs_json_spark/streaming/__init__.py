"""Structured Streaming mode (reference O8/O16/O17 semantics)."""

from teste_carga_avro_vs_json_spark.streaming.pipeline import (  # noqa: F401
    eventos_stream,
    json_wire_stream,
    metricas_stream,
    run_bounded,
    stream_dedup,
    stream_stream_join,
)
