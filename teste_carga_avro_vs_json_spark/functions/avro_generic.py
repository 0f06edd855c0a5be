"""Generic, schema-driven Avro binary codec with reader/writer schema
RESOLUTION (the Avro specification's "Schema Resolution" rules).

The fixed-schema codec (:mod:`functions.avro_codec`) covers the
reference's MensagemCarga hot path; this module generalizes the engine
to ANY Avro schema — the capability a real consumer needs the moment a
producer evolves its schema behind a registry id
(:mod:`functions.schema_registry` resolves ids → writer schemas; this
module decodes writer bytes INTO the reader's shape):

- full type coverage: null/boolean/int/long/float/double/bytes/string,
  record, enum, array, map, union, fixed — including named-type
  references and namespaces;
- spec resolution: field matching by name + reader aliases, reader
  defaults for writer-missing fields, skipping writer-only fields,
  numeric promotions (int→long/float/double, long→float/double,
  float→double), string↔bytes, enum reader-default fallback, union
  branch re-resolution on both sides;
- Spark exposure: :func:`from_avro_any` / :func:`to_avro_any` —
  Arrow-batched pandas UDFs (never per-row Python UDFs) with the Spark
  result type derived from the reader schema.

The resolver compiles a (writer, reader) pair ONCE into a tree of
decode closures; per-row work is tight loops over plain bytes — the
same executor-side cost model as the fixed codec. At 100 TB the JVM
spark-avro module is still the production path (SCALE.md); this is the
portable fallback and the only schema-evolution-aware decoder in this
environment.

Reference scope: the reference pins one schema version
(/root/reference/src/main/resources/avro/MensagemCarga.avsc:1-30) and
delegates evolution to Confluent serdes
(ConfiguracaoKafka.java:150-158); this module implements what those
serdes do, from the public spec.
"""

from __future__ import annotations

import json
import struct

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from teste_carga_avro_vs_json_spark.functions.avro_codec import (
    _read_long,
    _read_string,
    _write_long,
    _write_string,
)

try:  # pickle-by-value: executors don't need the repo on PYTHONPATH
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:  # noqa: BLE001
    pass

_PRIMITIVES = {
    "null", "boolean", "int", "long", "float", "double", "bytes", "string",
}


class AvroResolutionError(ValueError):
    """Writer and reader schemas cannot be resolved per the spec."""


# ------------------------------------------------------- schema parsing
def parse_schema(schema) -> tuple[object, dict]:
    """Parse a schema (JSON string or already-loaded object) and return
    ``(root, env)`` where ``env`` maps fullnames of named types to their
    definitions (so name references resolve)."""
    if isinstance(schema, str) and schema.lstrip()[:1] in "[{\"":
        schema = json.loads(schema)
    env: dict[str, dict] = {}
    root = _walk(schema, None, env)
    return root, env


def _fullname(name: str, namespace: str | None) -> str:
    return name if "." in name or not namespace else f"{namespace}.{name}"


def _walk(node, ns: str | None, env: dict):
    if isinstance(node, str):
        if node in _PRIMITIVES:
            return node
        return _fullname(node, ns)  # named-type reference
    if isinstance(node, list):
        return [_walk(b, ns, env) for b in node]
    t = node["type"]
    if t in ("record", "enum", "fixed"):
        ns2 = node.get("namespace", ns)
        full = _fullname(node["name"], ns2)
        out = dict(node)
        out["fullname"] = full
        env[full] = out
        if t == "record":
            out["fields"] = [
                {**f, "type": _walk(f["type"], ns2, env)}
                for f in node["fields"]
            ]
        return out
    if t == "array":
        return {"type": "array", "items": _walk(node["items"], ns, env)}
    if t == "map":
        return {"type": "map", "values": _walk(node["values"], ns, env)}
    if t in _PRIMITIVES:
        if "logicalType" in node:  # annotation rides on the base type
            keep = {"type", "logicalType", "precision", "scale"}
            return {k: v for k, v in node.items() if k in keep}
        return t
    return _walk(t, ns, env)  # {"type": {...}} wrapper


def _deref(schema, env):
    if isinstance(schema, str) and schema not in _PRIMITIVES:
        return env[schema]
    return schema


def _type_of(schema, env) -> str:
    schema = _deref(schema, env)
    if isinstance(schema, str):
        return schema
    if isinstance(schema, list):
        return "union"
    return schema["type"]


# ------------------------------------------------------------- encoding
def encode_value(schema, value, buf: bytearray, env: dict) -> None:
    schema = _deref(schema, env)
    t = _type_of(schema, env)
    if t == "null":
        return
    if t == "boolean":
        buf.append(1 if value else 0)
    elif t in ("int", "long"):
        _write_long(buf, int(value))
    elif t == "float":
        buf += struct.pack("<f", float(value))
    elif t == "double":
        buf += struct.pack("<d", float(value))
    elif t == "bytes":
        raw = bytes(value)
        _write_long(buf, len(raw))
        buf += raw
    elif t == "string":
        _write_string(buf, value)
    elif t == "fixed":
        raw = bytes(value)
        if len(raw) != schema["size"]:
            raise ValueError(
                f"fixed {schema['fullname']} needs {schema['size']} bytes"
            )
        buf += raw
    elif t == "enum":
        buf_idx = schema["symbols"].index(value)
        _write_long(buf, buf_idx)
    elif t == "array":
        items = list(value)
        if items:
            _write_long(buf, len(items))
            for it in items:
                encode_value(schema["items"], it, buf, env)
        buf.append(0)
    elif t == "map":
        entries = dict(value)
        if entries:
            _write_long(buf, len(entries))
            for k, v in entries.items():
                _write_string(buf, k)
                encode_value(schema["values"], v, buf, env)
        buf.append(0)
    elif t == "record":
        for f in schema["fields"]:
            encode_value(f["type"], value[f["name"]], buf, env)
    elif t == "union":
        idx = _pick_branch(schema, value, env)
        _write_long(buf, idx)
        encode_value(schema[idx], value, buf, env)
    else:  # pragma: no cover - parse guards
        raise ValueError(f"unknown schema type {t}")


def _pick_branch(union: list, value, env) -> int:
    """First union branch that accepts the value (deterministic)."""
    kinds = [_type_of(b, env) for b in union]

    def first(*wanted):
        for w in wanted:
            if w in kinds:
                return kinds.index(w)
        return None

    if value is None:
        idx = first("null")
    elif isinstance(value, bool):
        idx = first("boolean")
    elif isinstance(value, int):
        idx = first("long", "int", "double", "float")
    elif isinstance(value, float):
        idx = first("double", "float")
    elif isinstance(value, str):
        idx = first("string", "enum", "bytes")
    elif isinstance(value, (bytes, bytearray)):
        idx = first("bytes", "fixed", "string")
    elif isinstance(value, dict):
        idx = first("record", "map")
    elif isinstance(value, (list, tuple)):
        idx = first("array")
    else:
        idx = None
    if idx is None:
        raise ValueError(f"no union branch for {type(value).__name__}")
    return idx


def encode(schema, value) -> bytes:
    root, env = schema if isinstance(schema, tuple) else parse_schema(schema)
    buf = bytearray()
    encode_value(root, value, buf, env)
    return bytes(buf)


# ----------------------------------------------------- decoding / skip
def _make_decoder(schema, env, _cache: dict | None = None):
    """Compile ``schema`` into a closure ``(data, pos) -> (value, pos)``.
    ``_cache`` makes recursive named types (a record referencing
    itself, e.g. a linked list) compile to a finite closure tree via a
    late-bound trampoline instead of recursing forever."""
    if _cache is None:
        _cache = {}
    schema = _deref(schema, env)
    t = _type_of(schema, env)
    if t == "null":
        return lambda d, p: (None, p)
    if t == "boolean":
        return lambda d, p: (d[p] != 0, p + 1)
    if t in ("int", "long"):
        return _read_long
    if t == "float":
        return lambda d, p: (struct.unpack_from("<f", d, p)[0], p + 4)
    if t == "double":
        return lambda d, p: (struct.unpack_from("<d", d, p)[0], p + 8)
    if t == "bytes":
        def _bytes(d, p):
            n, p = _read_long(d, p)
            return bytes(d[p : p + n]), p + n

        return _bytes
    if t == "string":
        return _read_string
    if t == "fixed":
        size = schema["size"]
        return lambda d, p: (bytes(d[p : p + size]), p + size)
    if t == "enum":
        symbols = schema["symbols"]

        def _enum(d, p):
            i, p = _read_long(d, p)
            return symbols[i], p

        return _enum
    if t == "array":
        item = _make_decoder(schema["items"], env, _cache)

        def _array(d, p):
            out = []
            while True:
                n, p = _read_long(d, p)
                if n == 0:
                    return out, p
                if n < 0:  # negative block: size prefix follows
                    _sz, p = _read_long(d, p)
                    n = -n
                for _ in range(n):
                    v, p = item(d, p)
                    out.append(v)

        return _array
    if t == "map":
        val = _make_decoder(schema["values"], env, _cache)

        def _map(d, p):
            out = {}
            while True:
                n, p = _read_long(d, p)
                if n == 0:
                    return out, p
                if n < 0:
                    _sz, p = _read_long(d, p)
                    n = -n
                for _ in range(n):
                    k, p = _read_string(d, p)
                    out[k], p = val(d, p)

        return _map
    if t == "record":
        full = schema.get("fullname")
        if full is not None and full in _cache:
            return _cache[full]
        holder: dict = {}
        if full is not None:  # trampoline: recursion binds late
            _cache[full] = lambda d, p: holder["fn"](d, p)
        parts = [
            (f["name"], _make_decoder(f["type"], env, _cache))
            for f in schema["fields"]
        ]

        def _record(d, p):
            out = {}
            for name, dec in parts:
                out[name], p = dec(d, p)
            return out, p

        holder["fn"] = _record
        return _record
    if t == "union":
        branches = [_make_decoder(b, env, _cache) for b in schema]

        def _union(d, p):
            i, p = _read_long(d, p)
            return branches[i](d, p)

        return _union
    raise ValueError(f"unknown schema type {t}")  # pragma: no cover


def _make_skipper(schema, env):
    """Closure ``(data, pos) -> pos`` that skips one value (for writer
    fields absent from the reader)."""
    dec = _make_decoder(schema, env)
    return lambda d, p: dec(d, p)[1]


def decode(schema, data: bytes):
    root, env = schema if isinstance(schema, tuple) else parse_schema(schema)
    value, pos = _make_decoder(root, env)(data, 0)
    if pos != len(data):
        raise ValueError(f"{len(data) - pos} trailing bytes")
    return value


# ------------------------------------------------------------ defaults
def default_value(schema, dflt, env):
    """Convert a JSON default to the runtime value (spec: bytes/fixed
    defaults are latin-1 strings; union defaults type the FIRST branch)."""
    schema = _deref(schema, env)
    t = _type_of(schema, env)
    if t == "union":
        return default_value(schema[0], dflt, env)
    if t in ("bytes", "fixed"):
        return dflt.encode("latin-1") if isinstance(dflt, str) else bytes(dflt)
    if t == "array":
        return [default_value(schema["items"], v, env) for v in dflt]
    if t == "map":
        return {k: default_value(schema["values"], v, env) for k, v in dflt.items()}
    if t == "record":
        out = {}
        for f in schema["fields"]:
            if f["name"] in dflt:
                out[f["name"]] = default_value(f["type"], dflt[f["name"]], env)
            elif "default" in f:
                out[f["name"]] = default_value(f["type"], f["default"], env)
            else:
                raise AvroResolutionError(
                    f"record default missing field {f['name']}"
                )
        return out
    if t == "float" or t == "double":
        return float(dflt)
    return dflt


# ----------------------------------------------------------- resolution
_PROMOTIONS = {
    "int": {"int", "long", "float", "double"},
    "long": {"long", "float", "double"},
    "float": {"float", "double"},
    "double": {"double"},
    "string": {"string", "bytes"},
    "bytes": {"bytes", "string"},
}


def _names_match(w: dict, r: dict) -> bool:
    """Spec Schema Resolution name rule for named types (record / enum /
    fixed): the schemas match when their unqualified names are equal, or
    the reader declares an alias for the writer's (full or unqualified)
    name. Without this gate, structurally-similar named types resolve
    against each other — and writer-union branch selection can bind the
    wrong branch (a real Confluent registry rejects such evolutions)."""
    wf, rf = w.get("fullname"), r.get("fullname")
    if wf is None or rf is None:  # defensive: named types always carry one
        return True
    if wf.split(".")[-1] == rf.split(".")[-1]:
        return True
    aliases = set(r.get("aliases", []))
    return wf in aliases or wf.split(".")[-1] in aliases


def make_resolver(writer, reader, w_env: dict, r_env: dict, _cache: dict | None = None):
    """Compile (writer, reader) into ``(data, pos) -> (value, pos)``
    that reads WRITER bytes and yields READER-shaped values, per the
    spec's Schema Resolution section. Raises AvroResolutionError on an
    incompatible pair (at compile time wherever the spec allows).
    ``_cache`` late-binds recursive record pairs (same trampoline as
    ``_make_decoder``)."""
    if _cache is None:
        _cache = {}
    w, r = _deref(writer, w_env), _deref(reader, r_env)
    wt, rt = _type_of(w, w_env), _type_of(r, r_env)

    if wt == "union":
        # read the branch index, then resolve that branch against reader
        branch_resolvers = [
            _lazy_resolver(b, reader, w_env, r_env, _cache) for b in w
        ]

        def _union_w(d, p):
            i, p = _read_long(d, p)
            return branch_resolvers[i](d, p)

        return _union_w
    if rt == "union":
        # writer not a union: first reader branch that resolves
        for b in r:
            try:
                return make_resolver(writer, b, w_env, r_env, _cache)
            except AvroResolutionError:
                continue
        raise AvroResolutionError(f"no reader union branch matches {wt}")

    if wt in _PRIMITIVES or rt in _PRIMITIVES:
        if rt not in _PROMOTIONS.get(wt, {wt} if wt == rt else set()):
            raise AvroResolutionError(f"cannot promote {wt} -> {rt}")
        base = _make_decoder(w, w_env)
        if wt == rt:
            return base
        if rt in ("float", "double") and wt in ("int", "long"):
            return lambda d, p: (lambda v, q: (float(v), q))(*base(d, p))
        if wt == "string" and rt == "bytes":
            return lambda d, p: (lambda v, q: (v.encode("utf-8"), q))(*base(d, p))
        if wt == "bytes" and rt == "string":
            return lambda d, p: (lambda v, q: (v.decode("utf-8"), q))(*base(d, p))
        return base  # int->long, float->double: representation identical

    if wt != rt:
        raise AvroResolutionError(f"{wt} vs {rt}")
    if wt == "array":
        item = make_resolver(w["items"], r["items"], w_env, r_env, _cache)

        def _array(d, p):
            out = []
            while True:
                n, p = _read_long(d, p)
                if n == 0:
                    return out, p
                if n < 0:
                    _sz, p = _read_long(d, p)
                    n = -n
                for _ in range(n):
                    v, p = item(d, p)
                    out.append(v)

        return _array
    if wt == "map":
        val = make_resolver(w["values"], r["values"], w_env, r_env, _cache)

        def _map(d, p):
            out = {}
            while True:
                n, p = _read_long(d, p)
                if n == 0:
                    return out, p
                if n < 0:
                    _sz, p = _read_long(d, p)
                    n = -n
                for _ in range(n):
                    k, p = _read_string(d, p)
                    out[k], p = val(d, p)

        return _map
    if wt == "fixed":
        if not _names_match(w, r) or w["size"] != r["size"]:
            raise AvroResolutionError("fixed name/size mismatch")
        return _make_decoder(w, w_env)
    if wt == "enum":
        if not _names_match(w, r):
            raise AvroResolutionError(
                f"enum name mismatch: writer {w.get('fullname')} vs "
                f"reader {r.get('fullname')}"
            )
        r_symbols = r["symbols"]
        fallback = r.get("default")
        mapped = []
        for s in w["symbols"]:
            if s in r_symbols:
                mapped.append(s)
            elif fallback is not None:
                mapped.append(fallback)
            else:
                mapped.append(None)  # error only if actually read

        def _enum(d, p):
            i, p = _read_long(d, p)
            s = mapped[i]
            if s is None:
                raise AvroResolutionError(
                    f"writer symbol {w['symbols'][i]} not in reader enum"
                )
            return s, p

        return _enum
    if wt == "record":
        if not _names_match(w, r):
            raise AvroResolutionError(
                f"record name mismatch: writer {w.get('fullname')} vs "
                f"reader {r.get('fullname')} (no matching reader alias)"
            )
        pair = (w.get("fullname"), r.get("fullname"))
        if pair[0] is not None and pair in _cache:
            return _cache[pair]
        holder: dict = {}
        if pair[0] is not None:  # trampoline: recursion binds late
            _cache[pair] = lambda d, p: holder["fn"](d, p)
        try:
            return _resolve_record(w, r, w_env, r_env, _cache, holder)
        except Exception:
            _cache.pop(pair, None)  # failed pairs must not leave a stub
            raise
    raise AvroResolutionError(f"unsupported type {wt}")  # pragma: no cover


def _resolve_record(w, r, w_env, r_env, _cache, holder):
        # match by reader field name OR reader field aliases
        w_fields = {f["name"]: f for f in w["fields"]}
        steps = []  # (kind, name, fn) kind: read|default
        matched = set()
        for rf in r["fields"]:
            names = [rf["name"], *rf.get("aliases", [])]
            src = next((n for n in names if n in w_fields), None)
            if src is not None:
                matched.add(src)
                steps.append(
                    (
                        "read",
                        rf["name"],
                        make_resolver(
                            w_fields[src]["type"], rf["type"], w_env, r_env,
                            _cache,
                        ),
                        w_fields[src],
                    )
                )
            elif "default" in rf:
                steps.append(
                    (
                        "default",
                        rf["name"],
                        default_value(rf["type"], rf["default"], r_env),
                        None,
                    )
                )
            else:
                raise AvroResolutionError(
                    f"reader field {rf['name']} missing and has no default"
                )
        # writer fields the reader ignores are skipped IN ORDER
        order = []
        read_by_src = {
            s[3]["name"]: s for s in steps if s[0] == "read"
        }
        for wf in w["fields"]:
            if wf["name"] in read_by_src:
                order.append(read_by_src[wf["name"]])
            else:
                order.append(("skip", wf["name"], _make_skipper(wf["type"], w_env), None))
        defaults = [s for s in steps if s[0] == "default"]

        def _record(d, p):
            out = {}
            for kind, name, fn, _src in order:
                if kind == "read":
                    out[name], p = fn(d, p)
                else:
                    p = fn(d, p)
            for _kind, name, val, _src in defaults:
                out[name] = val
            return out, p

        holder["fn"] = _record
        return _record


def _lazy_resolver(writer, reader, w_env, r_env, _cache):
    """Defer branch-vs-reader resolution errors until the branch is
    actually read (the spec resolves per-datum for writer unions)."""
    try:
        return make_resolver(writer, reader, w_env, r_env, _cache)
    except AvroResolutionError as e:
        msg = str(e)

        def _fail(d, p):
            raise AvroResolutionError(msg)

        return _fail


# ------------------------------------------------------- spark exposure
def spark_type_of(schema, env=None, _visiting: frozenset = frozenset()) -> T.DataType:
    """Spark type for an Avro schema. Unions must be [null, X] (Spark
    has no variant column type); enum→string, fixed/bytes→binary.
    Recursive records raise (Spark has no recursive struct type)."""
    if env is None:
        schema, env = parse_schema(schema)
    schema = _deref(schema, env)
    t = _type_of(schema, env)
    if t == "record":
        full = schema.get("fullname")
        if full in _visiting:
            raise ValueError(
                f"recursive record {full} has no Spark column type"
            )
        _visiting = _visiting | {full}
    lt = schema.get("logicalType") if isinstance(schema, dict) else None
    if lt == "date":
        return T.DateType()
    if lt in ("timestamp-millis", "timestamp-micros"):
        return T.TimestampType()
    if lt == "decimal":
        return T.DecimalType(schema["precision"], schema.get("scale", 0))
    if lt in ("time-millis", "time-micros"):
        return T.TimeType()
    # uuid / unknown logical types fall through to the base type
    simple = {
        "null": T.NullType(),
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "bytes": T.BinaryType(),
        "string": T.StringType(),
    }
    if t in simple:
        return simple[t]
    if t == "enum":
        return T.StringType()
    if t == "fixed":
        return T.BinaryType()
    if t == "array":
        return T.ArrayType(spark_type_of(schema["items"], env, _visiting))
    if t == "map":
        return T.MapType(
            T.StringType(), spark_type_of(schema["values"], env, _visiting)
        )
    if t == "record":
        return T.StructType(
            [
                T.StructField(
                    f["name"], spark_type_of(f["type"], env, _visiting), True
                )
                for f in schema["fields"]
            ]
        )
    if t == "union":
        non_null = [b for b in schema if _type_of(b, env) != "null"]
        if len(non_null) != 1:
            raise ValueError(
                "only [null, X] unions map to a Spark column type"
            )
        return spark_type_of(non_null[0], env, _visiting)
    raise ValueError(f"unknown schema type {t}")  # pragma: no cover


# -------------------------------------------------------- logical types
# Wire representation is ALWAYS the base type (spec: logical types are
# annotations); these converters translate at the Spark boundary only —
# pure decode()/encode() keep the raw representation.
_EPOCH = None  # lazy: datetime import stays off the module import path


def _epoch():
    global _EPOCH
    if _EPOCH is None:
        import datetime

        _EPOCH = (
            datetime.date(1970, 1, 1),
            datetime.datetime(1970, 1, 1),
            datetime.timedelta,
        )
    return _EPOCH


def _make_reader_converter(schema, env, _seen: frozenset = frozenset()):
    """Closure converting a decoded raw value into the Spark-facing
    value per the schema's logical types — or None when the subtree has
    no logical types (identity, zero overhead)."""
    schema = _deref(schema, env)
    t = _type_of(schema, env)
    lt = schema.get("logicalType") if isinstance(schema, dict) else None
    if lt == "date":
        def _date(v):
            d0, _dt0, td = _epoch()
            return d0 + td(days=v)

        return _date
    if lt in ("timestamp-millis", "timestamp-micros"):
        unit = "milliseconds" if lt == "timestamp-millis" else "microseconds"

        def _ts(v):
            _d0, dt0, td = _epoch()
            return dt0 + td(**{unit: v})

        return _ts
    if lt == "decimal":
        import decimal

        scale = schema.get("scale", 0)

        def _dec(v):
            n = int.from_bytes(v, "big", signed=True) if v else 0
            return decimal.Decimal(n).scaleb(-scale)

        return _dec
    if lt in ("time-millis", "time-micros"):
        import datetime

        mult = 1000 if lt == "time-millis" else 1

        def _time(v):
            us = v * mult
            return datetime.time(
                us // 3_600_000_000,
                us // 60_000_000 % 60,
                us // 1_000_000 % 60,
                us % 1_000_000,
            )

        return _time
    if t == "record":
        full = schema.get("fullname")
        if full in _seen:
            return None  # recursion: no Spark type anyway (guarded above)
        sub = [
            (f["name"], _make_reader_converter(f["type"], env, _seen | {full}))
            for f in schema["fields"]
        ]
        if all(c is None for _n, c in sub):
            return None
        convs = [(n, c) for n, c in sub if c is not None]

        def _rec(v):
            out = dict(v)
            for n, c in convs:
                if out.get(n) is not None:
                    out[n] = c(out[n])
            return out

        return _rec
    if t == "array":
        item = _make_reader_converter(schema["items"], env, _seen)
        return (lambda v: [item(x) if x is not None else None for x in v]) if item else None
    if t == "map":
        val = _make_reader_converter(schema["values"], env, _seen)
        return (
            lambda v: {k: val(x) if x is not None else None for k, x in v.items()}
        ) if val else None
    if t == "union":
        subs = [_make_reader_converter(b, env, _seen) for b in schema]
        if all(c is None for c in subs):
            return None
        non_null = [c for b, c in zip(schema, subs) if _type_of(b, env) != "null"]
        if not non_null:  # [null]-only unions have nothing to convert
            return None
        conv = non_null[0]  # [null, X] unions only reach Spark
        return lambda v: conv(v) if (v is not None and conv) else v
    return None


def _make_writer_converter(schema, env, _seen: frozenset = frozenset()):
    """Inverse of :func:`_make_reader_converter`: Spark-facing values →
    the raw base-type representation the encoder expects."""
    schema = _deref(schema, env)
    t = _type_of(schema, env)
    lt = schema.get("logicalType") if isinstance(schema, dict) else None
    if lt == "date":
        def _date(v):
            d0, _dt0, _td = _epoch()
            return (v - d0).days

        return _date
    if lt in ("timestamp-millis", "timestamp-micros"):
        div = 1000 if lt == "timestamp-millis" else 1

        def _ts(v):
            if hasattr(v, "value"):  # pandas Timestamp: ns since epoch
                return v.value // (1000 * div)
            _d0, dt0, _td = _epoch()
            delta = v.replace(tzinfo=None) - dt0
            micros = (delta.days * 86_400_000_000 + delta.seconds * 1_000_000
                      + delta.microseconds)
            return micros // div

        return _ts
    if lt == "decimal":
        scale = schema.get("scale", 0)
        size = schema.get("size") if isinstance(schema, dict) else None

        def _dec(v):
            n = int(v.scaleb(scale).to_integral_value())
            length = size or (n.bit_length() // 8) + 1
            return n.to_bytes(length, "big", signed=True)

        return _dec
    if lt in ("time-millis", "time-micros"):
        div = 1000 if lt == "time-millis" else 1

        def _time(v):
            us = (
                (v.hour * 3600 + v.minute * 60 + v.second) * 1_000_000
                + v.microsecond
            )
            return us // div

        return _time
    if t == "record":
        full = schema.get("fullname")
        if full in _seen:
            return None
        sub = [
            (f["name"], _make_writer_converter(f["type"], env, _seen | {full}))
            for f in schema["fields"]
        ]
        if all(c is None for _n, c in sub):
            return None
        convs = [(n, c) for n, c in sub if c is not None]

        def _rec(v):
            out = dict(v)
            for n, c in convs:
                if out.get(n) is not None:
                    out[n] = c(out[n])
            return out

        return _rec
    if t == "array":
        item = _make_writer_converter(schema["items"], env, _seen)
        return (lambda v: [item(x) if x is not None else None for x in v]) if item else None
    if t == "map":
        val = _make_writer_converter(schema["values"], env, _seen)
        return (
            lambda v: {k: val(x) if x is not None else None for k, x in v.items()}
        ) if val else None
    if t == "union":
        subs = [_make_writer_converter(b, env, _seen) for b in schema]
        if all(c is None for c in subs):
            return None
        non_null = [c for b, c in zip(schema, subs) if _type_of(b, env) != "null"]
        if not non_null:  # [null]-only unions have nothing to convert
            return None
        conv = non_null[0]
        return lambda v: conv(v) if (v is not None and conv) else v
    return None


def from_avro_any(
    col: Column, writer_schema: str, reader_schema: str | None = None
) -> Column:
    """Decode an Avro binary column written with ``writer_schema`` into
    the shape of ``reader_schema`` (defaults to the writer schema) —
    Arrow-batched, resolver compiled once per executor."""
    reader = reader_schema or writer_schema
    out_type = spark_type_of(reader)
    is_struct = isinstance(out_type, T.StructType)
    names = [f.name for f in out_type.fields] if is_struct else None

    _state: dict = {}  # worker-local: resolver compiles ONCE, not per batch

    def _resolve():
        if "one" not in _state:
            w_root, w_env = parse_schema(writer_schema)
            r_root, r_env = parse_schema(reader)
            resolver = make_resolver(w_root, r_root, w_env, r_env)
            conv = _make_reader_converter(r_root, r_env)
            _state["one"] = (
                (lambda b: resolver(b, 0)[0])
                if conv is None
                else (lambda b: conv(resolver(b, 0)[0]))
            )
        return _state["one"]

    if is_struct:  # struct results ride back as a pandas DataFrame
        # null input cells (Kafka tombstones, nullable columns) decode
        # to a row of all-null fields — the closest a pandas-UDF struct
        # return can get to the JVM from_avro's null struct (a plain
        # DataFrame has no per-row null marker)
        @pandas_udf(out_type)
        def _decode(s: pd.Series) -> pd.DataFrame:
            one = _resolve()
            return pd.DataFrame(
                [one(bytes(b)) if b is not None else {} for b in s],
                columns=names,
            )

    else:

        @pandas_udf(out_type)
        def _decode(s: pd.Series) -> pd.Series:
            one = _resolve()
            return pd.Series(
                [one(bytes(b)) if b is not None else None for b in s]
            )

    return _decode(col)


def to_avro_any(col: Column, schema: str) -> Column:
    """Encode a Spark column (struct/array/map/scalar) to Avro binary
    under ``schema`` — Arrow-batched. Struct inputs arrive as a pandas
    DataFrame per the pandas-UDF contract; nested structs arrive as
    dicts in the cells, matching the codec's record representation."""

    root, env = parse_schema(schema)
    is_record = _type_of(root, env) == "record"

    _state: dict = {}  # worker-local: schema parses ONCE, not per batch

    def _one_fn():
        if "one" not in _state:
            parsed = parse_schema(schema)
            conv = _make_writer_converter(parsed[0], parsed[1])

            def one(v):
                if conv is not None:
                    v = conv(v)
                buf = bytearray()
                encode_value(parsed[0], v, buf, parsed[1])
                return bytes(buf)

            _state["one"] = one
        return _state["one"]

    if is_record:  # struct inputs arrive as a pandas DataFrame

        @pandas_udf(T.BinaryType())
        def _encode(s: pd.DataFrame) -> pd.Series:
            one = _one_fn()
            return pd.Series([one(v) for v in s.to_dict("records")])

    else:

        @pandas_udf(T.BinaryType())
        def _encode(s: pd.Series) -> pd.Series:
            one = _one_fn()
            return pd.Series([one(v) for v in s])

    return _encode(col)
