"""Generic schema-driven Avro codec + spec Schema Resolution
(functions/avro_generic.py): full-type round-trips, the evolution
matrix a registry-backed consumer hits (added/removed fields,
promotions, aliases, enum defaults, union changes), and the
Arrow-batched Spark exposure."""

from __future__ import annotations

import json

import pytest

from teste_carga_avro_vs_json_spark.functions import avro_generic as ag


def _decode_resolved(writer_schema, reader_schema, data: bytes):
    """Decode one datum written with ``writer_schema`` under
    ``reader_schema`` through ``ag.make_resolver`` (the resolver
    ``from_avro_any`` and ``schema_registry.can_read`` compile)."""
    w_root, w_env = ag.parse_schema(writer_schema)
    r_root, r_env = ag.parse_schema(reader_schema)
    value, pos = ag.make_resolver(w_root, r_root, w_env, r_env)(data, 0)
    if pos != len(data):
        raise ValueError(f"{len(data) - pos} trailing bytes")
    return value


KITCHEN_SINK = json.dumps(
    {
        "type": "record",
        "name": "Everything",
        "namespace": "test.ns",
        "fields": [
            {"name": "b", "type": "boolean"},
            {"name": "i", "type": "int"},
            {"name": "l", "type": "long"},
            {"name": "f", "type": "float"},
            {"name": "d", "type": "double"},
            {"name": "s", "type": "string"},
            {"name": "by", "type": "bytes"},
            {"name": "fx", "type": {"type": "fixed", "name": "F8", "size": 8}},
            {
                "name": "e",
                "type": {"type": "enum", "name": "Color", "symbols": ["RED", "GREEN"]},
            },
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "string"}},
            {"name": "u", "type": ["null", "string"]},
            {
                "name": "nested",
                "type": {
                    "type": "record",
                    "name": "Inner",
                    "fields": [{"name": "x", "type": "int"}],
                },
            },
            {"name": "nested2", "type": "Inner"},  # named-type reference
        ],
    }
)

SINK_VALUE = {
    "b": True,
    "i": -42,
    "l": 1 << 40,
    "f": 1.5,
    "d": -2.25,
    "s": "héllo",
    "by": b"\x00\xff",
    "fx": b"12345678",
    "e": "GREEN",
    "arr": [1, -2, 3],
    "m": {"k1": "v1", "k2": "v2"},
    "u": "set",
    "nested": {"x": 7},
    "nested2": {"x": -9},
}


def test_kitchen_sink_roundtrip():
    raw = ag.encode(KITCHEN_SINK, SINK_VALUE)
    assert ag.decode(KITCHEN_SINK, raw) == SINK_VALUE
    # null union branch
    v2 = dict(SINK_VALUE, u=None)
    assert ag.decode(KITCHEN_SINK, ag.encode(KITCHEN_SINK, v2))["u"] is None


def test_resolution_added_removed_promoted_aliased():
    writer = json.dumps(
        {
            "type": "record",
            "name": "V1",
            "fields": [
                {"name": "id", "type": "int"},
                {"name": "legacy", "type": {"type": "array", "items": "string"}},
                {"name": "score", "type": "int"},
                {"name": "tag", "type": "string"},
            ],
        }
    )
    reader = json.dumps(
        {
            "type": "record",
            "name": "V1",
            "fields": [
                # promoted int -> long
                {"name": "id", "type": "long"},
                # writer 'legacy' is SKIPPED (absent here)
                # promoted int -> double
                {"name": "score", "type": "double"},
                # renamed via alias
                {"name": "label", "type": "string", "aliases": ["tag"]},
                # added with default
                {"name": "added", "type": "string", "default": "dflt"},
                # added nullable with null default
                {"name": "opt", "type": ["null", "long"], "default": None},
            ],
        }
    )
    raw = ag.encode(writer, {"id": 7, "legacy": ["a", "b"], "score": 3, "tag": "t"})
    out = _decode_resolved(writer, reader, raw)
    assert out == {
        "id": 7,
        "score": 3.0,
        "label": "t",
        "added": "dflt",
        "opt": None,
    }
    assert isinstance(out["score"], float)


def test_resolution_enum_default_and_union_shapes():
    w_enum = json.dumps(
        {"type": "enum", "name": "E", "symbols": ["A", "B", "NEW"]}
    )
    r_enum = json.dumps(
        {"type": "enum", "name": "E", "symbols": ["A", "B", "OTHER"], "default": "OTHER"}
    )
    assert _decode_resolved(w_enum, r_enum, ag.encode(w_enum, "NEW")) == "OTHER"
    assert _decode_resolved(w_enum, r_enum, ag.encode(w_enum, "B")) == "B"
    # no default -> error only when the unknown symbol is actually read
    r_strict = json.dumps({"type": "enum", "name": "E", "symbols": ["A", "B"]})
    assert _decode_resolved(w_enum, r_strict, ag.encode(w_enum, "A")) == "A"
    with pytest.raises(ag.AvroResolutionError):
        _decode_resolved(w_enum, r_strict, ag.encode(w_enum, "NEW"))
    # writer non-union -> reader union
    assert _decode_resolved('"int"', '["null", "long"]', ag.encode('"int"', 5)) == 5
    # writer union -> reader single type: ok branch decodes, bad branch raises
    w_u = '["null", "string", "long"]'
    assert _decode_resolved(w_u, '"string"', ag.encode(w_u, "x")) == "x"
    with pytest.raises(ag.AvroResolutionError):
        _decode_resolved(w_u, '"string"', ag.encode(w_u, 9))
    # string <-> bytes both ways
    assert _decode_resolved('"string"', '"bytes"', ag.encode('"string"', "ab")) == b"ab"
    assert _decode_resolved('"bytes"', '"string"', ag.encode('"bytes"', b"ab")) == "ab"
    # incompatible pair fails at compile time
    with pytest.raises(ag.AvroResolutionError):
        _decode_resolved('"long"', '"int"', ag.encode('"long"', 1))


def test_resolution_named_type_name_matching():
    """Spec Schema Resolution name rule (r7, ADVICE fix): record/enum
    renames without a reader alias are incompatible; a reader alias (full
    or unqualified writer name) permits the rename; namespaces alone do
    not break the match (unqualified-name rule, as for fixed)."""
    w = json.dumps(
        {"type": "record", "name": "Old", "fields": [{"name": "a", "type": "int"}]}
    )
    renamed = {"type": "record", "name": "New",
               "fields": [{"name": "a", "type": "int"}]}
    with pytest.raises(ag.AvroResolutionError, match="name mismatch"):
        _decode_resolved(w, json.dumps(renamed), ag.encode(w, {"a": 1}))
    # reader alias for the writer name lifts the mismatch
    aliased = dict(renamed, aliases=["Old"])
    assert _decode_resolved(w, json.dumps(aliased), ag.encode(w, {"a": 1})) == {"a": 1}
    # same unqualified name under different namespaces still matches
    ns = json.dumps(
        {"type": "record", "name": "Old", "namespace": "com.y",
         "fields": [{"name": "a", "type": "int"}]}
    )
    assert _decode_resolved(w, ns, ag.encode(w, {"a": 1})) == {"a": 1}
    # enum rename: same rule
    we = json.dumps({"type": "enum", "name": "E1", "symbols": ["A"]})
    re_bad = json.dumps({"type": "enum", "name": "E2", "symbols": ["A"]})
    with pytest.raises(ag.AvroResolutionError, match="name mismatch"):
        _decode_resolved(we, re_bad, ag.encode(we, "A"))
    re_ok = json.dumps(
        {"type": "enum", "name": "E2", "aliases": ["E1"], "symbols": ["A"]}
    )
    assert _decode_resolved(we, re_ok, ag.encode(we, "A")) == "A"
    # union branch selection now binds by NAME, not just structure:
    # writer union [Old, New] with identical shapes decodes the New
    # branch against reader New, and REJECTS the structurally-identical
    # Old branch (hand-framed union bytes: zigzag branch idx + record)
    w_u = json.dumps([json.loads(w), renamed])
    rec = ag.encode(json.dumps(renamed), {"a": 7})
    assert _decode_resolved(w_u, json.dumps(renamed), b"\x02" + rec) == {"a": 7}
    with pytest.raises(ag.AvroResolutionError):
        _decode_resolved(w_u, json.dumps(renamed), b"\x00" + rec)


def test_reader_missing_field_without_default_is_an_error():
    writer = json.dumps(
        {"type": "record", "name": "R", "fields": [{"name": "a", "type": "int"}]}
    )
    reader = json.dumps(
        {
            "type": "record",
            "name": "R",
            "fields": [
                {"name": "a", "type": "int"},
                {"name": "b", "type": "string"},
            ],
        }
    )
    with pytest.raises(ag.AvroResolutionError, match="no default"):
        _decode_resolved(writer, reader, ag.encode(writer, {"a": 1}))


def test_bytes_default_and_record_default():
    reader = json.dumps(
        {
            "type": "record",
            "name": "R",
            "fields": [
                {"name": "a", "type": "int"},
                {"name": "blob", "type": "bytes", "default": "\u00ff\u0000"},
                {
                    "name": "sub",
                    "type": {
                        "type": "record",
                        "name": "S",
                        "fields": [
                            {"name": "x", "type": "int", "default": 3},
                        ],
                    },
                    "default": {},
                },
            ],
        }
    )
    writer = json.dumps(
        {"type": "record", "name": "R", "fields": [{"name": "a", "type": "int"}]}
    )
    out = _decode_resolved(writer, reader, ag.encode(writer, {"a": 2}))
    assert out == {"a": 2, "blob": b"\xff\x00", "sub": {"x": 3}}


def test_matches_fixed_codec_on_reference_schema():
    """The generic codec must produce byte-identical output to the
    hand-rolled MensagemCarga codec (same spec, two implementations)."""
    from teste_carga_avro_vs_json_spark.functions import avro_codec
    from teste_carga_avro_vs_json_spark.schemas import MENSAGEM_CARGA_AVSC

    row = {
        "id": "msg-1",
        "timestamp": 1700000000123,
        "sequencia": 1,
        "dados": [
            {
                "indice": 0,
                "texto": "abc",
                "numero": 1.25,
                "timestamp": 1700000000124,
                "uuid": "u-1",
            }
        ],
        "versao": "1.0",
    }
    assert ag.encode(MENSAGEM_CARGA_AVSC, row) == avro_codec.encode_mensagem(row)
    assert ag.decode(MENSAGEM_CARGA_AVSC, avro_codec.encode_mensagem(row)) == row


def _schema_and_value():
    """Hypothesis strategy: a random (schema, matching value) pair over
    the full generic type system (records/arrays/maps/unions/enums/
    fixed/primitives, bounded depth)."""
    from hypothesis import strategies as st

    prim = st.sampled_from(
        ["boolean", "int", "long", "float", "double", "bytes", "string"]
    )

    def value_for(schema):
        t = schema if isinstance(schema, str) else (
            "union" if isinstance(schema, list) else schema["type"]
        )
        if t == "boolean":
            return st.booleans()
        if t == "int":
            return st.integers(-(2**31), 2**31 - 1)
        if t == "long":
            return st.integers(-(2**63), 2**63 - 1)
        if t == "float":
            # restrict to exactly float32-representable values
            return st.integers(-1000, 1000).map(lambda n: float(n) / 4)
        if t == "double":
            return st.floats(allow_nan=False, allow_infinity=False, width=64)
        if t == "bytes":
            return st.binary(max_size=20)
        if t == "string":
            return st.text(max_size=20)
        if t == "enum":
            return st.sampled_from(schema["symbols"])
        if t == "fixed":
            return st.binary(min_size=schema["size"], max_size=schema["size"])
        if t == "array":
            return st.lists(value_for(schema["items"]), max_size=4)
        if t == "map":
            return st.dictionaries(
                st.text(max_size=8), value_for(schema["values"]), max_size=4
            )
        if t == "union":  # [null, X] unions only (deterministic branch pick)
            return st.one_of(st.none(), value_for(schema[1]))
        if t == "record":
            return st.fixed_dictionaries(
                {f["name"]: value_for(f["type"]) for f in schema["fields"]}
            )
        raise AssertionError(t)

    counter = st.shared(st.just([0]), key="name-counter")

    def named(kind):
        # unique names per draw via a shared mutable counter
        def mk(c):
            c[0] += 1
            if kind == "enum":
                return {
                    "type": "enum",
                    "name": f"E{c[0]}",
                    "symbols": ["A", "B", "C"],
                }
            return {"type": "fixed", "name": f"X{c[0]}", "size": 4}

        return counter.map(mk)

    schema = st.recursive(
        st.one_of(prim, named("enum"), named("fixed")),
        lambda children: st.one_of(
            st.builds(lambda i: {"type": "array", "items": i}, children),
            st.builds(lambda v: {"type": "map", "values": v}, children),
            st.builds(lambda b: ["null", b], children.filter(
                lambda s: not isinstance(s, list)
            )),
            st.builds(
                lambda fs, c: {
                    "type": "record",
                    "name": (c.__setitem__(0, c[0] + 1), f"R{c[0]}")[1],
                    "fields": [
                        {"name": f"f{i}", "type": t} for i, t in enumerate(fs)
                    ],
                },
                st.lists(children, min_size=1, max_size=4),
                counter,
            ),
        ),
        max_leaves=8,
    )

    # record roots only (matches real datasets; also exercises nesting)
    root = schema.map(
        lambda s: {
            "type": "record",
            "name": "Root",
            "namespace": "prop.test",
            "fields": [{"name": "v", "type": s}],
        }
    )
    return root.flatmap(
        lambda s: st.tuples(st.just(s), value_for(s))
    )


def test_property_roundtrip_random_schemas():
    """Any schema the generator builds must round-trip encode→decode
    exactly, and resolve against ITSELF to the identical value (the
    resolver's no-evolution case must equal plain decode)."""
    from hypothesis import given, settings

    @settings(max_examples=120, deadline=None)
    @given(_schema_and_value())
    def check(sv):
        schema, value = sv
        s = json.dumps(schema)
        raw = ag.encode(s, value)
        assert ag.decode(s, raw) == value
        assert _decode_resolved(s, s, raw) == value

    check()


def test_logical_types_spark_boundary(spark):
    """date / timestamp-micros / timestamp-millis / decimal logical
    types: wire representation stays the base type (pure decode returns
    raw ints/bytes), the Spark boundary converts both directions and
    the derived column types are Date/Timestamp/Decimal."""
    import datetime
    from decimal import Decimal

    import pyspark.sql.functions as F

    schema = json.dumps(
        {
            "type": "record",
            "name": "Evt",
            "fields": [
                {"name": "d", "type": {"type": "int", "logicalType": "date"}},
                {
                    "name": "ts",
                    "type": {"type": "long", "logicalType": "timestamp-micros"},
                },
                {
                    "name": "tsm",
                    "type": {"type": "long", "logicalType": "timestamp-millis"},
                },
                {
                    "name": "amt",
                    "type": {
                        "type": "bytes",
                        "logicalType": "decimal",
                        "precision": 10,
                        "scale": 2,
                    },
                },
                {
                    "name": "opt_d",
                    "type": [
                        "null",
                        {"type": "int", "logicalType": "date"},
                    ],
                    "default": None,
                },
            ],
        }
    )
    assert ag.spark_type_of(schema).simpleString() == (
        "struct<d:date,ts:timestamp,tsm:timestamp,amt:decimal(10,2),opt_d:date>"
    )
    df = spark.createDataFrame(
        [
            (
                datetime.date(2024, 2, 29),
                datetime.datetime(2024, 2, 29, 12, 34, 56, 789123),
                datetime.datetime(2024, 2, 29, 12, 34, 56, 789000),
                Decimal("-12345.67"),
                datetime.date(1969, 12, 31),
            ),
            (
                datetime.date(1970, 1, 1),
                datetime.datetime(1970, 1, 1),
                datetime.datetime(1970, 1, 1),
                Decimal("0.05"),
                None,
            ),
        ],
        "d date, ts timestamp, tsm timestamp, amt decimal(10,2), opt_d date",
    )
    enc = df.select(
        ag.to_avro_any(F.struct("d", "ts", "tsm", "amt", "opt_d"), schema).alias("raw")
    )
    # pure decode sees RAW representations (annotation, not wire change)
    raw0 = sorted(
        (r["d"], r["ts"], r["amt"], r["opt_d"])
        for r in (ag.decode(schema, bytes(x.raw)) for x in enc.collect())
    )
    assert raw0[1][0] == (datetime.date(2024, 2, 29) - datetime.date(1970, 1, 1)).days
    assert raw0[1][2] == int.to_bytes(-1234567, 3, "big", signed=True)
    assert raw0[0] == (0, 0, b"\x05", None)
    assert raw0[1][3] == -1  # 1969-12-31
    dec = enc.select(ag.from_avro_any(F.col("raw"), schema).alias("m")).select("m.*")
    back = {r.d: r for r in dec.collect()}
    r1 = back[datetime.date(2024, 2, 29)]
    assert r1.ts == datetime.datetime(2024, 2, 29, 12, 34, 56, 789123)
    assert r1.tsm == datetime.datetime(2024, 2, 29, 12, 34, 56, 789000)
    assert r1.amt == Decimal("-12345.67")
    assert r1.opt_d == datetime.date(1969, 12, 31)
    r2 = back[datetime.date(1970, 1, 1)]
    assert r2.amt == Decimal("0.05") and r2.opt_d is None


def test_recursive_schema_linked_list():
    """Recursive named types (legal Avro) compile to finite closure
    trees via the late-bound trampoline — encode/decode/resolve a
    linked list; Spark typing raises clearly (no recursive structs)."""
    lst = json.dumps(
        {
            "type": "record",
            "name": "Node",
            "fields": [
                {"name": "v", "type": "int"},
                {"name": "next", "type": ["null", "Node"]},
            ],
        }
    )
    chain = {"v": 1, "next": {"v": 2, "next": {"v": 3, "next": None}}}
    raw = ag.encode(lst, chain)
    assert ag.decode(lst, raw) == chain
    # resolution on a recursive pair: evolved node adds a defaulted tag
    lst2 = json.dumps(
        {
            "type": "record",
            "name": "Node",
            "fields": [
                {"name": "v", "type": "long"},
                {"name": "tag", "type": "string", "default": "-"},
                {"name": "next", "type": ["null", "Node"]},
            ],
        }
    )
    out = _decode_resolved(lst, lst2, raw)
    assert out == {
        "v": 1, "tag": "-",
        "next": {"v": 2, "tag": "-", "next": {"v": 3, "tag": "-", "next": None}},
    }
    with pytest.raises(ValueError, match="recursive"):
        ag.spark_type_of(lst)


def test_spark_from_avro_any_evolution(spark):
    """Executor-side: encode under writer v1, decode under an evolved
    reader v2 — Arrow-batched, schema-derived Spark types."""
    import pyspark.sql.functions as F

    writer = json.dumps(
        {
            "type": "record",
            "name": "Doc",
            "fields": [
                {"name": "id", "type": "int"},
                {"name": "text", "type": "string"},
                {"name": "junk", "type": {"type": "map", "values": "long"}},
            ],
        }
    )
    reader = json.dumps(
        {
            "type": "record",
            "name": "Doc",
            "fields": [
                {"name": "id", "type": "long"},
                {"name": "text", "type": "string"},
                {"name": "lang", "type": "string", "default": "und"},
            ],
        }
    )
    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(50)], "id int, text string"
    ).select(
        F.struct("id", "text", F.create_map(F.lit("k"), F.lit(1).cast("long")).alias("junk")).alias("v")
    )
    enc = df.select(ag.to_avro_any(F.col("v"), writer).alias("raw"))
    dec = enc.select(ag.from_avro_any(F.col("raw"), writer, reader).alias("msg")).select("msg.*")
    assert [f.dataType.simpleString() for f in dec.schema.fields] == [
        "bigint",
        "string",
        "string",
    ]
    rows = {r.id: r for r in dec.collect()}
    assert len(rows) == 50
    assert rows[7].text == "t7" and rows[7].lang == "und"


def test_spark_from_avro_any_null_cells(spark):
    """Null binary cells (Kafka tombstones) decode to null instead of
    killing the task (r7, ADVICE fix): scalar readers yield NULL, struct
    readers yield a row of null fields (a pandas-UDF struct return has
    no per-row null marker)."""
    import pyspark.sql.functions as F

    rec = json.dumps(
        {"type": "record", "name": "R",
         "fields": [{"name": "a", "type": "int"},
                    {"name": "s", "type": "string"}]}
    )
    payload = ag.encode(rec, {"a": 5, "s": "x"})
    df = spark.createDataFrame(
        [(1, bytearray(payload)), (2, None)], "id int, raw binary"
    )
    out = df.select(
        "id", ag.from_avro_any(F.col("raw"), rec).alias("msg")
    ).orderBy("id").collect()
    assert out[0].msg.asDict() == {"a": 5, "s": "x"}
    assert out[1].msg.a is None and out[1].msg.s is None
    # scalar reader: plain NULL
    df2 = spark.createDataFrame(
        [(1, bytearray(ag.encode('"string"', "hi"))), (2, None)],
        "id int, raw binary",
    )
    sc = df2.select(
        "id", ag.from_avro_any(F.col("raw"), '"string"').alias("v")
    ).orderBy("id").collect()
    assert sc[0].v == "hi" and sc[1].v is None


def test_time_logical_types(spark):
    """time-millis/time-micros map to Spark 4's TimeType with the
    base-int wire representation (micros/millis since midnight)."""
    import datetime

    import pyspark.sql.functions as F

    schema = json.dumps(
        {
            "type": "record",
            "name": "T",
            "fields": [
                {"name": "id", "type": "long"},
                {"name": "tm", "type": {"type": "long", "logicalType": "time-micros"}},
                {"name": "tms", "type": {"type": "int", "logicalType": "time-millis"}},
            ],
        }
    )
    assert (
        ag.spark_type_of(schema).simpleString()
        == "struct<id:bigint,tm:time(6),tms:time(6)>"
    )
    t1 = datetime.time(13, 45, 30, 123456)
    t2 = datetime.time(0, 0, 0, 5000)  # millis-representable
    df = spark.createDataFrame(
        [(1, t1, t2)], "id long, tm time, tms time"
    )
    enc = df.select(ag.to_avro_any(F.struct("id", "tm", "tms"), schema).alias("raw"))
    raw = ag.decode(schema, bytes(enc.first().raw))
    assert raw["tm"] == ((13 * 3600 + 45 * 60 + 30) * 1_000_000 + 123456)
    assert raw["tms"] == 5
    back = enc.select(ag.from_avro_any(F.col("raw"), schema).alias("m")).select("m.*").first()
    assert back.tm == t1 and back.tms == t2


def test_interop_with_apache_avro_java(spark):
    """Cross-validation against the REAL Apache Avro implementation
    (the avro-1.12 jar inside Spark's JVM, driven over py4j): bytes our
    codec produces must decode in Java and re-encode to the IDENTICAL
    bytes (proves canonical binary form for every type incl. unions,
    fixed, maps, nested records), and Java's own schema-resolution of a
    (writer, reader) pair must agree with make_resolver."""
    jvm = spark._jvm

    def java_roundtrip(schema_json, raw):
        sch = jvm.org.apache.avro.Schema.Parser().parse(schema_json)
        reader = jvm.org.apache.avro.generic.GenericDatumReader(sch)
        dec = jvm.org.apache.avro.io.DecoderFactory.get().binaryDecoder(raw, None)
        rec = reader.read(None, dec)
        writer = jvm.org.apache.avro.generic.GenericDatumWriter(sch)
        baos = jvm.java.io.ByteArrayOutputStream()
        enc = jvm.org.apache.avro.io.EncoderFactory.get().binaryEncoder(baos, None)
        writer.write(rec, enc)
        enc.flush()
        return bytes(baos.toByteArray())

    # kitchen sink: every type class, byte-for-byte canonical
    raw = ag.encode(KITCHEN_SINK, SINK_VALUE)
    assert java_roundtrip(KITCHEN_SINK, raw) == raw

    # the reference schema through the fixed codec, same law
    from teste_carga_avro_vs_json_spark.functions import avro_codec
    from teste_carga_avro_vs_json_spark.schemas import MENSAGEM_CARGA_AVSC

    row = {
        "id": "m-1", "timestamp": 123, "sequencia": 9,
        "dados": [
            {"indice": 0, "texto": "t", "numero": 0.5,
             "timestamp": 124, "uuid": "u"},
        ],
        "versao": "1.0",
    }
    raw2 = avro_codec.encode_mensagem(row)
    assert java_roundtrip(json.dumps(MENSAGEM_CARGA_AVSC), raw2) == raw2

    # schema RESOLUTION parity with Java: promotion + default + skip + alias
    writer_s = json.dumps(
        {
            "type": "record", "name": "V", "fields": [
                {"name": "id", "type": "int"},
                {"name": "drop", "type": "string"},
                {"name": "tag", "type": "string"},
            ],
        }
    )
    reader_s = json.dumps(
        {
            "type": "record", "name": "V", "fields": [
                {"name": "id", "type": "double"},
                {"name": "label", "type": "string", "aliases": ["tag"]},
                {"name": "lang", "type": "string", "default": "und"},
            ],
        }
    )
    wraw = ag.encode(writer_s, {"id": 6, "drop": "x", "tag": "hello"})
    ours = _decode_resolved(writer_s, reader_s, wraw)
    wsch = jvm.org.apache.avro.Schema.Parser().parse(writer_s)
    rsch = jvm.org.apache.avro.Schema.Parser().parse(reader_s)
    jreader = jvm.org.apache.avro.generic.GenericDatumReader(wsch, rsch)
    dec = jvm.org.apache.avro.io.DecoderFactory.get().binaryDecoder(wraw, None)
    jrec = jreader.read(None, dec)
    assert json.loads(jrec.toString()) == ours == {
        "id": 6.0, "label": "hello", "lang": "und",
    }


def test_property_random_schemas_byte_canonical_vs_java(spark):
    """Property-level interop: RANDOM schemas/values must produce bytes
    the real Apache Avro implementation decodes and re-encodes
    IDENTICALLY — canonical binary form verified against the reference
    implementation, not just our own decoder."""
    from hypothesis import given, settings

    jvm = spark._jvm
    parser_cls = jvm.org.apache.avro.Schema.Parser
    reader_cls = jvm.org.apache.avro.generic.GenericDatumReader
    writer_cls = jvm.org.apache.avro.generic.GenericDatumWriter
    dec_factory = jvm.org.apache.avro.io.DecoderFactory.get()
    enc_factory = jvm.org.apache.avro.io.EncoderFactory.get()

    def has_map(node):
        if isinstance(node, dict):
            if node.get("type") == "map":
                return True
            return any(
                has_map(v) for k, v in node.items() if k in ("items", "values", "fields", "type")
            ) or any(has_map(f) for f in node.get("fields", []))
        if isinstance(node, list):
            return any(has_map(b) for b in node)
        return False

    @settings(max_examples=40, deadline=None)
    @given(_schema_and_value())
    def check(sv):
        schema, value = sv
        s = json.dumps(schema)
        raw = ag.encode(s, value)
        sch = parser_cls().parse(s)
        rec = reader_cls(sch).read(None, dec_factory.binaryDecoder(raw, None))
        baos = jvm.java.io.ByteArrayOutputStream()
        enc = enc_factory.binaryEncoder(baos, None)
        writer_cls(sch).write(rec, enc)
        enc.flush()
        jbytes = bytes(baos.toByteArray())
        if not has_map(schema):
            # byte-canonical where the format IS canonical
            assert jbytes == raw
        # values survive the full cross-implementation loop either way:
        # our encode -> Java decode -> Java encode -> our decode
        assert ag.decode(s, jbytes) == value

    check()


def test_ocf_files_readable_by_apache_avro_java(spark):
    """The 'readable by any Avro tooling' claim, proven: MensagemCarga
    container files from write_ocf open in Java's DataFileReader
    (magic, metadata map, sync markers, deflate codec, multi-block)
    and yield the same records in order."""
    jvm = spark._jvm
    from teste_carga_avro_vs_json_spark.functions import avro_ocf
    from teste_carga_avro_vs_json_spark.functions.avro_codec import (
        encode_mensagem,
    )
    from teste_carga_avro_vs_json_spark.schemas import MENSAGEM_CARGA_AVSC

    recs = [
        {
            "id": f"id-{i}", "timestamp": 1_700_000_000_000 + i,
            "sequencia": i,
            "dados": [
                {"indice": j, "texto": f"t{i}-{j}", "numero": j + 0.5,
                 "timestamp": -j, "uuid": f"u{i}{j}"}
                for j in range(i % 3)
            ],
            "versao": "1.0",
        }
        for i in range(10)
    ]
    want_schema = jvm.org.apache.avro.Schema.Parser().parse(
        json.dumps(MENSAGEM_CARGA_AVSC)
    )
    for codec in ("null", "deflate"):
        blob = avro_ocf.write_ocf(
            [encode_mensagem(r) for r in recs], codec=codec, block_records=4
        )
        sin = jvm.org.apache.avro.file.SeekableByteArrayInput(blob)
        jreader = jvm.org.apache.avro.file.DataFileReader(
            sin, jvm.org.apache.avro.generic.GenericDatumReader()
        )
        assert jreader.getSchema().equals(want_schema)
        out = []
        while jreader.hasNext():
            out.append(json.loads(jreader.next().toString()))
        jreader.close()
        assert out == recs, codec
