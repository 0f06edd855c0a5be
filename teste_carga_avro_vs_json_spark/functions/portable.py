"""Portable deterministic expressions (Spark Column + DuckDB SQL twins).

The reference generates payloads with `Random`/`UUID`/wall-clock
(GeradorCargaEstruturada.java:14,21-25), which the DuckDB hash oracle
cannot reproduce. Per SURVEY.md §7(c) we replace them with md5-derived
arithmetic that evaluates identically in Spark SQL and DuckDB SQL:

- md5(text) -> same 32-char lowercase hex in both engines
- hex -> bigint: Spark ``conv(h,16,10)`` == DuckDB ``('0x'||h)::BIGINT``
- base64(md5-bytes) -> same standard alphabet in both engines

Every builder here returns a *pair of dialects*: ``f_sx(expr)`` gives the
Spark SQL fragment (``hex32`` also keeps a Column form), ``f_sql(expr)``
the DuckDB SQL fragment. Keeping them adjacent in one module is what
keeps the two dialects in lockstep.

All md5-derived integers are taken from the first 8 hex chars, i.e.
uniform in [0, 2^32) — always positive, so ``%`` is sign-safe in both
engines.

Scale note: md5-as-hash is the *portability* path used by oracle-checked
queries. Hot paths that do not need a DuckDB twin (MinHash at 100 TB)
use ``F.xxhash64`` instead — see operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import Column
import pyspark.sql.functions as F


def _as_col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------- hex32
def hex32(key: Column | str) -> Column:
    """Deterministic uniform bigint in [0, 2^32) from a string key."""
    return F.conv(F.substring(F.md5(_as_col(key)), 1, 8), 16, 10).cast("long")


def hex32_sql(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 8))::BIGINT)"


def hex32_sx(expr: str) -> str:
    """SPARK-SQL fragment twin of :func:`hex32` (r13-opt: parsed in one
    py4j call — see operators/text.py tokens_sx note; ``hex32_sql``
    above stays the DuckDB dialect)."""
    return f"CAST(conv(substring(md5({expr}), 1, 8), 16, 10) AS BIGINT)"


# ----------------------------------------------------------- pseudo uuid
def pseudo_uuid_sx(expr: str) -> str:
    """36-char uuid-shaped string from md5 (replaces UUID.randomUUID(),
    ProdutorAvro.java:60 / GeradorCargaEstruturada.java:25), as a
    Spark SQL fragment (one py4j parse — see operators/text.py
    tokens_sx note)."""
    m = f"md5({expr})"
    return (
        f"concat_ws('-', substring({m}, 1, 8), substring({m}, 9, 4), "
        f"substring({m}, 13, 4), substring({m}, 17, 4), "
        f"substring({m}, 21, 12))"
    )


def pseudo_uuid_sql(expr: str) -> str:
    m = f"md5({expr})"
    return (
        f"concat_ws('-', substr({m},1,8), substr({m},9,4), substr({m},13,4), "
        f"substr({m},17,4), substr({m},21,12))"
    )


# ------------------------------------------------------------- rand text
# base64(16 md5 bytes) = 22 chars + '==' padding; translate maps '+'->a,
# '/'->b and deletes '='. Repeating 5x gives >=110 chars; slice to length.
# Alphabet stays inside the reference's [A-Za-z0-9]
# (GeradorCargaEstruturada.java:69).
def rand_text_sx(expr: str, length: int = 100) -> str:
    """Deterministic noise text of exactly ``length`` chars (replaces
    gerarTextoAleatorio, GeradorCargaEstruturada.java:67-74)."""
    reps = (length // 22) + 2
    block = f"translate(base64(unhex(md5({expr}))), '+/=', 'ab')"
    return f"substring(repeat({block}, {reps}), 1, {length})"


def rand_text_sql(expr: str, length: int = 100) -> str:
    reps = (length // 22) + 2
    block = f"translate(to_base64(from_hex(md5({expr}))), '+/=', 'ab')"
    return f"substr(repeat({block}, {reps}), 1, {length})"


# ---------------------------------------------------------- pseudo double
def pseudo_double_sx(expr: str, scale: float = 1000.0) -> str:
    """Deterministic uniform double in [0, scale) with 3 decimal digits
    (replaces random.nextDouble()*1000, GeradorCargaEstruturada.java:23),
    as a Spark SQL fragment. Exact cross-engine: integer in [0, 1e6)
    divided by 1000.0 — the same IEEE-754 division in both engines; the
    divisor is emitted via repr + D suffix (exact double round-trip,
    the similarity._dlit discipline)."""
    return (
        f"(({hex32_sx(expr)} % 1000000) / {1_000_000.0 / scale!r}D)"
    )


def pseudo_double_sql(expr: str, scale: float = 1000.0) -> str:
    # CAST to DOUBLE so DuckDB doesn't parse a long literal as DECIMAL,
    # which would not round-trip to the exact IEEE-754 double Spark uses.
    return f"(({hex32_sql(expr)} % 1000000) / CAST({1_000_000.0 / scale!r} AS DOUBLE))"
