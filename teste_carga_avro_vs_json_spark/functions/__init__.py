"""Engine column-function library.

``portable`` holds deterministic expression builders that exist in BOTH
Spark SQL and DuckDB SQL with bit-identical results — the foundation of
the driver's DuckDB hash oracle. ``avro_codec`` is the pure-Python Avro
binary codec used where the JVM spark-avro module is unavailable.
"""

from teste_carga_avro_vs_json_spark.functions.portable import (  # noqa: F401
    hex32,
    hex32_sql,
    pseudo_uuid_sql,
    rand_text_sql,
    pseudo_double_sql,
)
