"""Confluent Schema Registry contract (broker-less): id semantics,
canonicalization, REST request shapes, and the produce-side framing
glue (KafkaAvroSerializer equivalent, ConfiguracaoKafka.java:152-156)."""

import json

import pyspark.sql.functions as F
import pytest

from teste_carga_avro_vs_json_spark.functions import avro_codec, schema_registry
from teste_carga_avro_vs_json_spark.functions import avro_generic as ag

SCHEMA = '{"type": "record", "name": "M", "fields": [{"name": "id", "type": "string"}]}'
SCHEMA_REORDERED = '{"fields": [{"type": "string", "name": "id"}], "name": "M", "type": "record"}'
OTHER = '{"type": "record", "name": "N", "fields": []}'


def test_in_memory_ids_are_monotone_and_idempotent():
    reg = schema_registry.InMemorySchemaRegistry()
    sid = reg.register("topic-value", SCHEMA)
    assert sid == 1
    # same schema (even reformatted / key-reordered) -> same id
    assert reg.register("topic-value", SCHEMA_REORDERED) == sid
    # different schema -> next id; lookup round-trips the canonical form
    # (record rename M->N is a BACKWARD-incompatible evolution on a real
    # registry since the r7 name-match fix - lift the gate for the id test)
    reg.set_compatibility("topic-value", "NONE")
    sid2 = reg.register("topic-value", OTHER)
    assert sid2 == 2
    assert reg.get_by_id(sid) == schema_registry.canonical_schema(SCHEMA)
    assert reg.latest("topic-value") == (
        sid2, schema_registry.canonical_schema(OTHER)
    )
    # ids are GLOBAL content identity (Confluent semantics): the same
    # schema registered under another subject reuses the same id
    assert reg.register("other-topic-value", SCHEMA) == sid
    assert reg.latest("other-topic-value") == (
        sid, schema_registry.canonical_schema(SCHEMA)
    )


def test_http_register_quotes_subject():
    calls = []

    def opener(method, url, body):
        calls.append(url)
        return 200, b'{"id": 1}'

    reg = schema_registry.HttpSchemaRegistry("http://sr:8081", opener=opener)
    reg.register("a/b c", SCHEMA)
    assert calls == ["http://sr:8081/subjects/a%2Fb%20c/versions"]


def test_http_client_pins_rest_contract():
    calls = []

    def opener(method, url, body):
        calls.append((method, url, body))
        if method == "POST":
            return 200, b'{"id": 42}'
        return 200, json.dumps(
            {"schema": schema_registry.canonical_schema(SCHEMA)}
        ).encode()

    reg = schema_registry.HttpSchemaRegistry("http://sr:8081/", opener=opener)
    assert reg.register("t-value", SCHEMA) == 42
    assert reg.get_by_id(42) == schema_registry.canonical_schema(SCHEMA)
    post, get = calls
    assert post[0:2] == ("POST", "http://sr:8081/subjects/t-value/versions")
    assert json.loads(post[2]) == {
        "schema": schema_registry.canonical_schema(SCHEMA)
    }
    assert get[0:2] == ("GET", "http://sr:8081/schemas/ids/42")


def test_http_client_raises_on_error_status():
    reg = schema_registry.HttpSchemaRegistry(
        "http://sr:8081", opener=lambda m, u, b: (500, b"boom")
    )
    with pytest.raises(RuntimeError, match="HTTP 500"):
        reg.register("s", SCHEMA)


def test_serialize_confluent_frames_with_registered_id(spark):
    """End-to-end produce-side glue: auto-register, frame, and the
    header parse must recover the assigned id + payload."""
    reg = schema_registry.InMemorySchemaRegistry()
    reg.register("warmup", OTHER)  # bump the counter so id != 1
    df = spark.range(3).select(
        F.encode(F.concat(F.lit("p-"), F.col("id")), "UTF-8").alias("payload")
    )
    wire, sid = schema_registry.serialize_confluent(
        F.col("payload"), reg, "topic-value", SCHEMA
    )
    assert sid == 2
    out = df.select(
        avro_codec.confluent_schema_id(wire).alias("sid"),
        (avro_codec.confluent_unwrap(wire) == F.col("payload")).alias("rt"),
    ).collect()
    assert all(r.sid == sid and r.rt for r in out)


SCHEMA_DOCED = (
    '{"type": "record", "name": "M", "doc": "a doc", "aliases": ["OldM"],'
    ' "fields": [{"name": "id", "type": "string", "doc": "pk"}]}'
)


def test_canonicalization_strips_doc_and_aliases():
    """Documentation-only variants (doc/aliases, at any nesting level)
    resolve to the SAME id (Avro PCF [STRIP] semantics); default/order
    are deliberately kept (they alter schema-resolution reads)."""
    assert schema_registry.canonical_schema(
        SCHEMA_DOCED
    ) == schema_registry.canonical_schema(SCHEMA)
    reg = schema_registry.InMemorySchemaRegistry()
    assert reg.register("s", SCHEMA) == reg.register("s", SCHEMA_DOCED)
    with_default = SCHEMA.replace(
        '"type": "string"}', '"type": "string", "default": "x"}'
    )
    assert schema_registry.canonical_schema(
        with_default
    ) != schema_registry.canonical_schema(SCHEMA)


REF_PCF = (
    '{"name":"br.com.sandbox.kafka.avro.MensagemCarga","type":"record",'
    '"fields":[{"name":"id","type":"string"},'
    '{"name":"timestamp","type":"long"},'
    '{"name":"sequencia","type":"long"},'
    '{"name":"dados","type":{"type":"array","items":'
    '{"name":"br.com.sandbox.kafka.avro.Registro","type":"record",'
    '"fields":[{"name":"indice","type":"int"},'
    '{"name":"texto","type":"string"},'
    '{"name":"numero","type":"double"},'
    '{"name":"timestamp","type":"long"},'
    '{"name":"uuid","type":"string"}]}}},'
    '{"name":"versao","type":"string"}]}'
)


def test_pcf_golden_reference_schema():
    """Full Parsing Canonical Form of the engine's MensagemCarga schema
    (dict twin of /root/reference MensagemCarga.avsc:1-30): namespace
    inlined into every name (Registro INHERITS the enclosing
    namespace), doc/default stripped, spec [ORDER] key order, no
    whitespace — the hand-derived golden below applies the spec's
    transformation steps to the .avsc by hand."""
    from teste_carga_avro_vs_json_spark.schemas import MENSAGEM_CARGA_AVSC

    pcf = schema_registry.parsing_canonical_form(
        json.dumps(MENSAGEM_CARGA_AVSC)
    )
    assert pcf == REF_PCF


def test_pcf_variants_resolve_to_one_id():
    """The r5 residual divergence classes — field-default presence,
    attribute order, namespace spelled inline vs as an attribute,
    {"type":"string"} vs bare "string", logicalType — are all PCF-equal
    and must resolve to ONE registry id, as on a live Confluent
    deployment. The stored (decoder-facing) schema keeps the FIRST
    registration's defaults."""
    base = (
        '{"type": "record", "name": "M", "namespace": "com.x", "fields":'
        ' [{"name": "v", "type": "string", "default": "1.0"}]}'
    )
    no_default = (
        '{"type": "record", "name": "com.x.M", "fields":'
        ' [{"type": {"type": "string"}, "name": "v"}]}'
    )
    logical = (
        '{"type": "record", "name": "com.x.M", "fields": [{"name": "v",'
        ' "type": {"type": "string", "logicalType": "uuid"}}]}'
    )
    pcfs = {
        schema_registry.parsing_canonical_form(s)
        for s in (base, no_default, logical)
    }
    assert len(pcfs) == 1
    reg = schema_registry.InMemorySchemaRegistry()
    sid = reg.register("s", base)
    assert reg.register("s", no_default) == sid
    assert reg.register("s", logical) == sid
    # stored form keeps the first registration's default for decoders
    assert json.loads(reg.get_by_id(sid))["fields"][0]["default"] == "1.0"
    # a genuinely different schema still gets a new id (rename = an
    # incompatible evolution under BACKWARD since r7; lift the gate)
    reg.set_compatibility("s", "NONE")
    assert reg.register("s", OTHER) == sid + 1


def test_pcf_primitives_unions_enums_fixed():
    """PCF across the non-record schema forms: bare primitives quote as
    JSON strings, unions stay ordered lists, enum/fixed keep only their
    parsing attributes with fullnames."""
    pcf = schema_registry.parsing_canonical_form
    assert pcf('{"type": "string"}') == '"string"'
    assert pcf('"int"') == '"int"'
    assert (
        pcf('["null", {"type": "long"}]') == '["null","long"]'
    )
    enum = (
        '{"type": "enum", "name": "E", "namespace": "n.s", "doc": "d",'
        ' "symbols": ["A", "B"], "default": "A"}'
    )
    assert pcf(enum) == '{"name":"n.s.E","type":"enum","symbols":["A","B"]}'
    fixed = '{"type": "fixed", "name": "n.s.F", "size": 16, "aliases": ["G"]}'
    assert pcf(fixed) == '{"name":"n.s.F","type":"fixed","size":16}'
    # map values + named-type reference pick up the enclosing namespace
    rec = (
        '{"type": "record", "name": "R", "namespace": "n.s", "fields":'
        ' [{"name": "m", "type": {"type": "map", "values": "F"}}]}'
    )
    assert (
        pcf(rec)
        == '{"name":"n.s.R","type":"record","fields":'
        '[{"name":"m","type":{"type":"map","values":"n.s.F"}}]}'
    )


def _loopback_registry_server():
    """Minimal in-process Schema Registry speaking the two REST
    endpoints the client uses, with Confluent id semantics."""
    import http.server

    store: dict = {}
    next_id = [1]

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):  # keep pytest output clean
            pass

        def _send(self, status, obj):
            body = json.dumps(obj).encode()
            self.send_response(status)
            self.send_header(
                "Content-Type", "application/vnd.schemaregistry.v1+json"
            )
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self):
            if not (
                self.path.startswith("/subjects/")
                and self.path.endswith("/versions")
            ):
                return self._send(
                    404, {"error_code": 40401, "message": "not found"}
                )
            n = int(self.headers["Content-Length"])
            try:
                schema = json.loads(self.rfile.read(n))["schema"]
                json.loads(schema)  # must itself be valid JSON
            except (ValueError, KeyError):
                return self._send(
                    422, {"error_code": 42201, "message": "invalid schema"}
                )
            sid = store.get(schema)
            if sid is None:
                sid = next_id[0]
                next_id[0] += 1
                store[schema] = sid
                store[sid] = schema
            self._send(200, {"id": sid})

        def do_GET(self):
            if self.path.startswith("/schemas/ids/"):
                sid = int(self.path.rsplit("/", 1)[1])
                if sid in store:
                    return self._send(200, {"schema": store[sid]})
                return self._send(
                    404, {"error_code": 40403, "message": "Schema not found"}
                )
            self._send(404, {"error_code": 40401, "message": "not found"})

    return http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)


def test_http_client_against_loopback_server():
    """End-to-end over REAL sockets with the DEFAULT opener (no
    injection): register / idempotent re-register / get_by_id round
    trip, plus 4xx error paths arriving via urllib's HTTPError and
    normalized to the client's RuntimeError contract."""
    import threading

    srv = _loopback_registry_server()
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        reg = schema_registry.HttpSchemaRegistry(base)
        sid = reg.register("t-value", SCHEMA)
        assert sid == 1
        # canonically-equal variants are idempotent across the wire
        assert reg.register("t-value", SCHEMA_REORDERED) == sid
        assert reg.register("t-value", SCHEMA_DOCED) == sid
        assert reg.get_by_id(sid) == schema_registry.canonical_schema(SCHEMA)
        assert reg.register("t-value", OTHER) == 2
        # 4xx paths through the real opener
        with pytest.raises(RuntimeError, match="HTTP 404"):
            reg.get_by_id(999)
        with pytest.raises(RuntimeError, match="HTTP 404"):
            schema_registry.HttpSchemaRegistry(f"{base}/bad").get_by_id(1)
    finally:
        srv.shutdown()
        srv.server_close()
        thread.join(timeout=5)


def test_canonicalization_never_touches_default_values():
    """A field default is JSON DATA — a record default containing keys
    named doc/aliases must survive canonicalization verbatim (only
    schema-level attributes are stripped)."""
    s = (
        '{"type": "record", "name": "R", "fields": ['
        '{"name": "f", "doc": "strip me", "type": {"type": "record",'
        ' "name": "Sub", "fields": [{"name": "doc", "type": "long"},'
        ' {"name": "aliases", "type": "long"}]},'
        ' "default": {"doc": 7, "aliases": 9}}]}'
    )
    canon = json.loads(schema_registry.canonical_schema(s))
    field = canon["fields"][0]
    assert "doc" not in field  # schema attribute stripped
    assert field["default"] == {"doc": 7, "aliases": 9}  # data kept
    # subfields NAMED doc/aliases are name VALUES, not attribute keys
    subnames = [f["name"] for f in field["type"]["fields"]]
    assert subnames == ["doc", "aliases"]


def test_compatibility_modes_and_enforcement():
    """Confluent subject-compatibility semantics, checked by COMPILING
    the resolver (so the verdict can't drift from what decode does):
    BACKWARD = new reader reads old data, FORWARD = old reader reads
    new data, FULL = both; the in-memory registry enforces the mode on
    register() like a live registry's 409."""
    import json

    from teste_carga_avro_vs_json_spark.functions.schema_registry import (
        IncompatibleSchemaError,
        InMemorySchemaRegistry,
        can_read,
        check_compatible,
    )

    def rec(fields):
        return json.dumps(
            {"type": "record", "name": "S", "fields": fields}
        )

    v1 = rec([{"name": "a", "type": "int"}])
    add_default = rec(
        [{"name": "a", "type": "int"}, {"name": "b", "type": "string", "default": "x"}]
    )
    add_required = rec(
        [{"name": "a", "type": "int"}, {"name": "b", "type": "string"}]
    )
    promote = rec([{"name": "a", "type": "long"}])

    # resolver ground truth
    assert can_read(v1, add_default)           # default fills
    assert not can_read(v1, add_required)      # no default -> unreadable
    assert can_read(add_required, v1)          # extra writer field skips
    assert can_read(v1, promote) and not can_read(promote, v1)

    # mode semantics
    assert check_compatible(add_default, v1, "BACKWARD")
    assert not check_compatible(add_required, v1, "BACKWARD")
    assert check_compatible(add_required, v1, "FORWARD")
    assert check_compatible(add_default, v1, "FULL")
    assert not check_compatible(promote, v1, "FULL")  # one-way promotion
    assert check_compatible(add_required, v1, "NONE")

    # registry enforcement (default BACKWARD)
    reg = InMemorySchemaRegistry()
    reg.register("s-value", v1)
    with pytest.raises(IncompatibleSchemaError, match="BACKWARD"):
        reg.register("s-value", add_required)
    sid2 = reg.register("s-value", add_default)  # compatible evolution
    assert reg.latest("s-value")[0] == sid2
    # NONE lifts the gate; FULL rejects the one-way promotion
    reg.set_compatibility("s-value", "NONE")
    reg.register("s-value", add_required)
    reg.set_compatibility("s-value", "FULL")
    with pytest.raises(IncompatibleSchemaError, match="FULL"):
        reg.register("s-value", rec([{"name": "a", "type": "double"},
                                     {"name": "b", "type": "string"}]))
    with pytest.raises(ValueError, match="unknown compatibility"):
        reg.set_compatibility("s-value", "SIDEWAYS")
    # re-registering an existing version of the subject never trips the
    # gate (idempotent re-register of the CURRENT schema)
    assert reg.register("s-value", add_required) is not None


def test_http_compatibility_endpoint_contract():
    """POST /compatibility/subjects/{s}/versions/{v} request shape and
    is_compatible parsing (the pre-flight alternative to the 409)."""
    calls = []

    def opener(method, url, body):
        calls.append((method, url, json.loads(body)))
        return 200, b'{"is_compatible": true}'

    reg = schema_registry.HttpSchemaRegistry("http://sr:8081", opener=opener)
    assert reg.test_compatibility("t value", SCHEMA) is True
    m, url, payload = calls[0]
    assert m == "POST"
    assert url == "http://sr:8081/compatibility/subjects/t%20value/versions/latest"
    assert payload == {"schema": schema_registry.canonical_schema(SCHEMA)}
    bad = schema_registry.HttpSchemaRegistry(
        "http://sr:8081", opener=lambda m, u, b: (404, b"{}")
    )
    with pytest.raises(RuntimeError, match="HTTP 404"):
        bad.test_compatibility("t", SCHEMA)


def test_pcf_matches_apache_avro_java(spark):
    """Parsing Canonical Form pinned against the reference
    implementation (org.apache.avro SchemaNormalization in the
    avro-1.12 jar): the strings must be equal."""
    jvm = spark._jvm

    from teste_carga_avro_vs_json_spark.schemas import MENSAGEM_CARGA_AVSC

    cases = [
        '"int"',
        '["null","string"]',
        SCHEMA,
        SCHEMA_DOCED,
        json.dumps(MENSAGEM_CARGA_AVSC),
        '{"type":"record","name":"M","namespace":"ns","doc":"d",'
        '"fields":[{"name":"id","type":"string","default":"x"},'
        '{"name":"e","type":{"type":"enum","name":"E","symbols":["A"]}},'
        '{"name":"f","type":{"type":"fixed","name":"F","size":4}},'
        '{"name":"m","type":{"type":"map","values":"long"}}]}',
    ]
    for s in cases:
        sch = jvm.org.apache.avro.Schema.Parser().parse(s)
        jpcf = jvm.org.apache.avro.SchemaNormalization.toParsingForm(sch)
        assert schema_registry.parsing_canonical_form(s) == jpcf, s


def test_http_set_compatibility_contract():
    """PUT /config/{subject} request shape + response parsing; invalid
    modes rejected client-side before any request."""
    calls = []

    def opener(method, url, body):
        calls.append((method, url, json.loads(body)))
        return 200, b'{"compatibility": "FULL"}'

    reg = schema_registry.HttpSchemaRegistry("http://sr:8081", opener=opener)
    assert reg.set_compatibility("t value", "full") == "FULL"
    assert calls == [
        ("PUT", "http://sr:8081/config/t%20value", {"compatibility": "FULL"})
    ]
    with pytest.raises(ValueError, match="unknown compatibility"):
        reg.set_compatibility("t", "SIDEWAYS")
    assert len(calls) == 1  # invalid mode never hit the wire


# ---------------------------------------- stdlib HTTP registry server
def test_sr_server_register_encode_decode_roundtrip_with_auth(spark):
    """r8 VERDICT order #6: the Confluent SR REST protocol over a REAL
    stdlib http.server with USER_INFO basic auth — register a schema
    over the wire, frame a Spark column with the returned id, unwrap
    and resolve the id back to the schema, decode the payload."""
    from teste_carga_avro_vs_json_spark.functions.schema_registry import (
        HttpSchemaRegistry,
        SchemaRegistryServer,
        canonical_schema,
        serialize_confluent,
    )

    with SchemaRegistryServer(auth=("sr-key", "sr-secret")) as srv:
        client = HttpSchemaRegistry(srv.url, auth=("sr-key", "sr-secret"))
        df = spark.createDataFrame(
            [("a",), ("b",)], "id string"
        ).select(ag.to_avro_any(F.struct("id"), SCHEMA).alias("p"))
        wire, sid = serialize_confluent(df["p"], client, "t-value", SCHEMA)
        framed = df.select(wire.alias("w"))
        assert sid == 1
        # idempotent re-register of a canonical variant over the wire
        assert client.register("t-value", SCHEMA_REORDERED) == sid
        # consumer side: id from the frame -> schema from the registry
        got_id = framed.select(
            avro_codec.confluent_schema_id(F.col("w")).alias("sid")
        ).first().sid
        writer_schema = client.get_by_id(got_id)
        assert writer_schema == canonical_schema(SCHEMA)
        payload = framed.select(
            avro_codec.confluent_unwrap(F.col("w")).alias("p")
        )
        dec = payload.select(
            ag.from_avro_any(F.col("p"), writer_schema).alias("m")
        )
        assert sorted(r.m.id for r in dec.collect()) == ["a", "b"]
        assert client.latest("t-value") == (sid, canonical_schema(SCHEMA))


def test_sr_server_rejects_wrong_and_missing_credentials():
    from teste_carga_avro_vs_json_spark.functions.schema_registry import (
        HttpSchemaRegistry,
        SchemaRegistryServer,
    )

    with SchemaRegistryServer(auth=("sr-key", "sr-secret")) as srv:
        bad = HttpSchemaRegistry(srv.url, auth=("sr-key", "wrong"))
        with pytest.raises(RuntimeError, match="HTTP 401"):
            bad.register("t-value", SCHEMA)
        anon = HttpSchemaRegistry(srv.url)
        with pytest.raises(RuntimeError, match="HTTP 401"):
            anon.get_by_id(1)
        # correct credentials work on the same server
        ok = HttpSchemaRegistry(srv.url, auth=("sr-key", "sr-secret"))
        assert ok.register("t-value", SCHEMA) == 1


def test_sr_server_compat_409_and_config_over_the_wire():
    """An incompatible evolution returns HTTP 409 (raised as
    IncompatibleSchemaError by the client); PUT /config lifts the
    mode; the pre-flight compat endpoint answers before registering."""
    from teste_carga_avro_vs_json_spark.functions.schema_registry import (
        HttpSchemaRegistry,
        IncompatibleSchemaError,
        SchemaRegistryServer,
    )

    incompatible = (
        '{"type": "record", "name": "M", "fields": '
        '[{"name": "id", "type": "string"}, '
        '{"name": "extra", "type": "string"}]}'
    )
    with SchemaRegistryServer() as srv:
        client = HttpSchemaRegistry(srv.url)
        client.register("t-value", SCHEMA)
        assert client.test_compatibility("t-value", incompatible) is False
        with pytest.raises(IncompatibleSchemaError):
            client.register("t-value", incompatible)
        assert client.set_compatibility("t-value", "NONE") == "NONE"
        assert client.register("t-value", incompatible) == 2
        # unknown id -> 404 with the Confluent error body shape
        with pytest.raises(RuntimeError, match="40403"):
            client.get_by_id(99)
        # unparsable schema -> 422 (raw POST: the client canonicalizes
        # client-side, so only a non-client REST caller can hit this)
        import urllib.request

        req = urllib.request.Request(
            f"{srv.url}/subjects/t-value/versions",
            data=json.dumps({"schema": "{not json"}).encode(),
            method="POST",
        )
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(req)
        assert ei.value.code == 422
        assert json.loads(ei.value.read())["error_code"] == 42201


def test_sr_server_over_https_with_auth(tmp_path):
    """The reference's actual SR shape: https + USER_INFO basic auth
    (ConfiguracaoKafka.java:152-156) — TLS-wrapped stdlib server, CA-
    pinned client context, register/get round trip over the wire;
    an un-pinned client (default trust store) must fail the handshake."""
    import ssl
    import urllib.error

    pytest.importorskip("cryptography")
    from tests.test_kafka_sasl import _tls_contexts

    server_ctx, client_ctx = _tls_contexts(tmp_path)
    from teste_carga_avro_vs_json_spark.functions.schema_registry import (
        HttpSchemaRegistry,
        SchemaRegistryServer,
        canonical_schema,
    )

    with SchemaRegistryServer(
        auth=("srk", "srs"), ssl_context=server_ctx
    ) as srv:
        assert srv.url.startswith("https://")
        client = HttpSchemaRegistry(
            srv.url, auth=("srk", "srs"), tls_context=client_ctx
        )
        sid = client.register("t-value", SCHEMA)
        assert client.get_by_id(sid) == canonical_schema(SCHEMA)
        # wrong password over TLS: still 401
        bad = HttpSchemaRegistry(
            srv.url, auth=("srk", "wrong"), tls_context=client_ctx
        )
        with pytest.raises(RuntimeError, match="HTTP 401"):
            bad.get_by_id(sid)
        # a client without the CA pinned must refuse the connection
        untrusting = HttpSchemaRegistry(srv.url, auth=("srk", "srs"))
        with pytest.raises((ssl.SSLError, OSError, urllib.error.URLError)):
            untrusting.get_by_id(sid)
