"""Confluent Schema Registry contract — broker-less client.

The reference auto-registers its Avro schema on first produce through
KafkaAvroSerializer and resolves writer schemas by id on consume
(/root/reference/src/main/java/br/com/sandbox/kafka/config/
ConfiguracaoKafka.java:152-156: ``schema.registry.url`` +
``auto.register.schemas``). No registry service ships in this
container, so the engine provides the same contract two ways:

- :class:`InMemorySchemaRegistry` — the full semantics (subjects,
  monotone ids, idempotent re-registration of the canonically-equal
  schema, id -> schema lookup), fully tested;
- :class:`HttpSchemaRegistry` — the standard REST endpoints
  (``POST /subjects/{s}/versions``, ``GET /schemas/ids/{id}``) over a
  pluggable opener so the request contract is testable without a
  server; pointing it at a live registry is a URL away.

Wire glue: :func:`serialize_confluent` registers (or resolves) the
schema and emits the Confluent 5-byte-framed column via
``avro_codec.confluent_wrap`` — the produce-side path the reference
delegates to KafkaAvroSerializer.

Scale note: registration is a driver-side, O(1)-per-schema call made
once per job, never per row/partition — executors only ever see the
resolved integer id baked into the plan as a literal.
"""

from __future__ import annotations

import json
import urllib.error
import urllib.parse
import urllib.request
from typing import Callable

from pyspark.sql import Column


def _strip_nonidentity(node):
    """Recursively drop Avro attributes that never affect parsing —
    ``doc`` and ``aliases`` (the [STRIP] step of Avro's Parsing
    Canonical Form, spec §"Transforming into Parsing Canonical Form")
    — so documentation-only edits don't mint new schema ids.

    ``default`` values are JSON DATA, not schema: a record default may
    legitimately contain keys named ``doc``/``aliases``, so recursion
    stops at them (they pass through verbatim)."""
    if isinstance(node, dict):
        return {
            k: (v if k == "default" else _strip_nonidentity(v))
            for k, v in node.items()
            if k not in ("doc", "aliases")
        }
    if isinstance(node, list):
        return [_strip_nonidentity(v) for v in node]
    return node


def canonical_schema(schema: str) -> str:
    """STORED canonical form — what :meth:`InMemorySchemaRegistry.
    get_by_id` hands back to decoders: parsed JSON with ``doc``/
    ``aliases`` stripped, re-dumped with sorted keys and no whitespace.
    ``default`` and ``order`` are KEPT because they matter to
    schema-resolution reads; schema IDENTITY (which id a registration
    resolves to) uses the full :func:`parsing_canonical_form` instead,
    matching a real Confluent registry's dedup."""
    return json.dumps(
        _strip_nonidentity(json.loads(schema)),
        sort_keys=True,
        separators=(",", ":"),
    )


# --------------------------------------------- Parsing Canonical Form
# Avro spec, §"Transforming into Parsing Canonical Form" (public):
# [PRIMITIVES] {"type":"string"} -> "string"; [FULLNAMES] namespaces
# inlined into every name, namespace attribute dropped; [STRIP] only
# the eight parsing-relevant attributes survive (doc/aliases/default/
# order/logicalType/... all go); [ORDER] object keys emitted in the
# fixed order name,type,fields,symbols,items,values,size; [STRINGS]/
# [WHITESPACE] minimal-escape, whitespace-free JSON.
_PRIMITIVES = {
    "null", "boolean", "int", "long", "float", "double", "bytes", "string",
}


def _fullname(name: str, namespace: str | None) -> str:
    if "." in name or not namespace:
        return name
    return f"{namespace}.{name}"


def _resolve_name(node: dict, ns: str | None) -> tuple[str, str | None]:
    """(fullname, namespace-for-children) of a named-type node. A dotted
    ``name`` wins over any ``namespace`` attribute (Avro spec, §Names);
    children inherit the namespace the type itself landed in."""
    name = node["name"]
    if "." in name:
        return name, name.rsplit(".", 1)[0]
    namespace = node.get("namespace", ns)
    return _fullname(name, namespace), namespace


def _pcf_node(node, ns: str | None):
    if isinstance(node, str):
        return node if node in _PRIMITIVES else _fullname(node, ns)
    if isinstance(node, list):  # union
        return [_pcf_node(branch, ns) for branch in node]
    t = node.get("type")
    if isinstance(t, (dict, list)):  # {"type": <nested schema>} wrapper
        return _pcf_node(t, ns)
    if t in ("record", "error"):
        full, child_ns = _resolve_name(node, ns)
        return {
            "name": full,
            "type": t,
            "fields": [
                {"name": f["name"], "type": _pcf_node(f["type"], child_ns)}
                for f in node["fields"]
            ],
        }
    if t == "enum":
        full, _ = _resolve_name(node, ns)
        return {"name": full, "type": "enum", "symbols": node["symbols"]}
    if t == "fixed":
        full, _ = _resolve_name(node, ns)
        return {"name": full, "type": "fixed", "size": int(node["size"])}
    if t == "array":
        return {"type": "array", "items": _pcf_node(node["items"], ns)}
    if t == "map":
        return {"type": "map", "values": _pcf_node(node["values"], ns)}
    if t in _PRIMITIVES:  # primitive with extra attrs (logicalType, …)
        return t
    return _fullname(t, ns)  # named-type reference with extra attrs


def parsing_canonical_form(schema: str) -> str:
    """Full Avro Parsing Canonical Form of an Avro schema JSON string.
    Two schemas have the same PCF iff an Avro binary decoder treats them
    identically — this is the identity a real Confluent Schema Registry
    resolves registrations by, so the engine's ids line up with a live
    deployment (r5 residual: doc/alias-stripping alone still gave
    distinct ids to default/order/namespace-form variants).

    The dicts are BUILT in the spec's [ORDER] key order and dumped
    without sort_keys, giving the mandated attribute ordering;
    ``ensure_ascii=False`` keeps [STRINGS] minimal-escape."""
    return json.dumps(
        _pcf_node(json.loads(schema), None),
        separators=(",", ":"),
        ensure_ascii=False,
    )


class InMemorySchemaRegistry:
    """Subject -> versioned schema store with Confluent id semantics:
    ids are GLOBAL content identity — the same canonical schema gets
    the same id in every subject (Confluent guarantees this), new
    schemas get monotone ids, and re-registration is idempotent."""

    DEFAULT_COMPATIBILITY = "BACKWARD"  # the live registry's default

    def __init__(self) -> None:
        self._subject_versions: dict[str, list[int]] = {}
        self._id_by_canon: dict[str, int] = {}
        self._by_id: dict[int, str] = {}
        self._compat: dict[str, str] = {}
        self._next_id = 1

    def set_compatibility(self, subject: str, mode: str) -> None:
        """Per-subject compatibility mode (BACKWARD/FORWARD/FULL/NONE);
        the Confluent config API equivalent."""
        check_compatible('"int"', '"int"', mode)  # validates the name
        self._compat[subject] = mode.upper()

    def register(self, subject: str, schema: str) -> int:
        # identity = full PCF (what a live Confluent registry dedups
        # by); stored form = canonical_schema, which keeps default/order
        # for decoders. First registration's stored form wins for an id.
        canon = parsing_canonical_form(schema)
        sid = self._id_by_canon.get(canon)
        versions = self._subject_versions.setdefault(subject, [])
        if versions and (sid is None or sid not in versions):
            # evolving the subject: enforce its compatibility mode
            # against the latest version, as a live registry does (409)
            mode = self._compat.get(subject, self.DEFAULT_COMPATIBILITY)
            latest = self._by_id[versions[-1]]
            if not check_compatible(schema, latest, mode):
                raise IncompatibleSchemaError(
                    f"schema is {mode}-incompatible with the latest "
                    f"version of subject {subject!r}"
                )
        if sid is None:
            sid = self._next_id
            self._next_id += 1
            self._id_by_canon[canon] = sid
            self._by_id[sid] = canonical_schema(schema)
        if sid not in versions:
            versions.append(sid)
        return sid

    def get_by_id(self, schema_id: int) -> str:
        return self._by_id[schema_id]

    def latest(self, subject: str) -> tuple[int, str]:
        """(id, schema) of the most recently registered version under
        ``subject`` (registration order, matching Confluent versions)."""
        sid = self._subject_versions[subject][-1]
        return sid, self._by_id[sid]


Opener = Callable[[str, str, bytes | None], tuple[int, bytes]]


def _default_opener(method: str, url: str, body: bytes | None) -> tuple[int, bytes]:
    return _open_http(method, url, body, headers=None, tls=None)


def _open_http(
    method: str,
    url: str,
    body: bytes | None,
    headers: dict | None,
    tls: "object | None",
) -> tuple[int, bytes]:
    req = urllib.request.Request(
        url,
        data=body,
        method=method,
        headers={
            "Content-Type": "application/vnd.schemaregistry.v1+json",
            **(headers or {}),
        },
    )
    kwargs = {"context": tls} if tls is not None else {}
    try:
        with urllib.request.urlopen(req, **kwargs) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        # 4xx/5xx arrive as HTTPError, not a response object — normalize
        # to (status, body) so the class's RuntimeError contract holds
        # for the real opener exactly as it does for injected ones
        return e.code, e.read()


def _basic_auth_opener(
    auth: tuple[str, str] | None, tls: "object | None" = None
) -> Opener:
    """Default opener + ``Authorization: Basic`` on every request —
    the USER_INFO credentials source the reference configures
    (ConfiguracaoKafka.java:153-156: ``basic.auth.credentials.source=
    USER_INFO``, ``basic.auth.user.info=key:secret``) — plus an
    optional ``ssl.SSLContext`` for https registries (the reference's
    SR URL is https; pass a CA-loaded context for self-signed test
    servers)."""
    headers = None
    if auth is not None:
        import base64

        token = base64.b64encode(
            f"{auth[0]}:{auth[1]}".encode("utf-8")
        ).decode("ascii")
        headers = {"Authorization": f"Basic {token}"}

    def opener(method: str, url: str, body: bytes | None):
        return _open_http(method, url, body, headers, tls)

    return opener


def _error_detail(body: bytes) -> str:
    """Confluent error bodies are ``{"error_code": N, "message": s}``."""
    try:
        err = json.loads(body)
        return f" ({err.get('error_code')}: {err.get('message')})"
    except (ValueError, AttributeError):
        return ""


class HttpSchemaRegistry:
    """REST client for the Confluent Schema Registry API. ``opener`` is
    injectable so the request contract (method, URL, payload shape) is
    pinned by tests without a live service; ``auth=(key, secret)``
    sends USER_INFO basic auth (ignored when an opener is injected —
    the opener owns the transport). Socket-verified end-to-end against
    :class:`SchemaRegistryServer`."""

    def __init__(
        self,
        base_url: str,
        opener: Opener | None = None,
        auth: tuple[str, str] | None = None,
        tls_context: "object | None" = None,
    ) -> None:
        self._base = base_url.rstrip("/")
        if opener is None:
            if auth is not None or tls_context is not None:
                opener = _basic_auth_opener(auth, tls_context)
            else:
                opener = _default_opener
        self._open = opener

    def register(self, subject: str, schema: str) -> int:
        payload = json.dumps({"schema": canonical_schema(schema)}).encode()
        quoted = urllib.parse.quote(subject, safe="")
        status, body = self._open(
            "POST", f"{self._base}/subjects/{quoted}/versions", payload
        )
        if status == 409:
            raise IncompatibleSchemaError(
                f"registration rejected for subject {subject!r}"
                + _error_detail(body)
            )
        if status != 200:
            raise RuntimeError(
                f"schema registration failed: HTTP {status}"
                + _error_detail(body)
            )
        return int(json.loads(body)["id"])

    def latest(self, subject: str) -> tuple[int, str]:
        """(id, schema) of the subject's latest version
        (``GET /subjects/{s}/versions/latest``) — parity with
        :meth:`InMemorySchemaRegistry.latest`."""
        quoted = urllib.parse.quote(subject, safe="")
        status, body = self._open(
            "GET", f"{self._base}/subjects/{quoted}/versions/latest", None
        )
        if status != 200:
            raise RuntimeError(
                f"latest lookup failed: HTTP {status}" + _error_detail(body)
            )
        obj = json.loads(body)
        return int(obj["id"]), obj["schema"]

    def get_by_id(self, schema_id: int) -> str:
        status, body = self._open(
            "GET", f"{self._base}/schemas/ids/{schema_id}", None
        )
        if status != 200:
            raise RuntimeError(
                f"schema lookup failed: HTTP {status}" + _error_detail(body)
            )
        return json.loads(body)["schema"]

    def set_compatibility(self, subject: str, mode: str) -> str:
        """``PUT /config/{subject}`` — set the subject's compatibility
        mode (the Confluent config API; mirrors
        InMemorySchemaRegistry.set_compatibility)."""
        check_compatible('"int"', '"int"', mode)  # validates the name
        payload = json.dumps({"compatibility": mode.upper()}).encode()
        quoted = urllib.parse.quote(subject, safe="")
        status, body = self._open(
            "PUT", f"{self._base}/config/{quoted}", payload
        )
        if status != 200:
            raise RuntimeError(f"config update failed: HTTP {status}")
        return json.loads(body)["compatibility"]

    def test_compatibility(
        self, subject: str, schema: str, version: str = "latest"
    ) -> bool:
        """The registry's pre-flight check endpoint
        (``POST /compatibility/subjects/{subject}/versions/{version}``)
        — ask before registering instead of handling the 409."""
        payload = json.dumps({"schema": canonical_schema(schema)}).encode()
        quoted = urllib.parse.quote(subject, safe="")
        status, body = self._open(
            "POST",
            f"{self._base}/compatibility/subjects/{quoted}/versions/{version}",
            payload,
        )
        if status != 200:
            raise RuntimeError(f"compatibility check failed: HTTP {status}")
        return bool(json.loads(body)["is_compatible"])


# --------------------------------------------- HTTP registry server
class SchemaRegistryServer:
    """Stdlib ``http.server`` Schema Registry speaking the Confluent
    REST protocol over a real socket (r8 VERDICT order #6) — the
    loopback twin of :class:`StubBroker`: register / get-by-id /
    latest / config / compatibility endpoints backed by an
    :class:`InMemorySchemaRegistry`, with optional USER_INFO basic
    auth (``auth=("key", "secret")`` — wrong or missing credentials
    get 401 with a Confluent-style error body). Errors use the
    documented shapes: 404 {"error_code": 40401/40403}, 409 for
    compatibility rejections, 422 {"error_code": 42201} for unparsable
    schemas.

    Usage::

        with SchemaRegistryServer(auth=("k", "s")) as srv:
            client = HttpSchemaRegistry(srv.url, auth=("k", "s"))
            sid = client.register("t-value", SCHEMA)
    """

    def __init__(
        self,
        auth: tuple[str, str] | None = None,
        host: str = "127.0.0.1",
        ssl_context: "object | None" = None,
    ) -> None:
        import base64
        import http.server

        self.registry = InMemorySchemaRegistry()
        expected = (
            "Basic "
            + base64.b64encode(f"{auth[0]}:{auth[1]}".encode()).decode()
            if auth
            else None
        )
        registry = self.registry

        class Handler(http.server.BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *a):  # quiet test output
                pass

            def _send(self, status: int, obj) -> None:
                body = json.dumps(obj).encode()
                self.send_response(status)
                self.send_header(
                    "Content-Type",
                    "application/vnd.schemaregistry.v1+json",
                )
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _authed(self) -> bool:
                if expected is None:
                    return True
                if self.headers.get("Authorization") == expected:
                    return True
                self._send(
                    401,
                    {"error_code": 401, "message": "Unauthorized"},
                )
                return False

            def _body(self) -> dict:
                n = int(self.headers.get("Content-Length", "0"))
                return json.loads(self.rfile.read(n) or b"{}")

            def do_GET(self):
                if not self._authed():
                    return
                parts = self.path.strip("/").split("/")
                if (
                    len(parts) == 3
                    and parts[:2] == ["schemas", "ids"]
                    and parts[2].isdigit()
                ):
                    try:
                        schema = registry.get_by_id(int(parts[2]))
                    except KeyError:
                        return self._send(
                            404,
                            {
                                "error_code": 40403,
                                "message": "Schema not found",
                            },
                        )
                    return self._send(200, {"schema": schema})
                if (
                    len(parts) == 4
                    and parts[0] == "subjects"
                    and parts[2:] == ["versions", "latest"]
                ):
                    subject = urllib.parse.unquote(parts[1])
                    try:
                        sid, schema = registry.latest(subject)
                    except KeyError:
                        return self._send(
                            404,
                            {
                                "error_code": 40401,
                                "message": "Subject not found",
                            },
                        )
                    version = registry._subject_versions[subject].index(
                        sid
                    ) + 1
                    return self._send(
                        200,
                        {
                            "subject": subject,
                            "id": sid,
                            "version": version,
                            "schema": schema,
                        },
                    )
                self._send(
                    404, {"error_code": 404, "message": "Not found"}
                )

            def do_POST(self):
                if not self._authed():
                    return
                parts = self.path.strip("/").split("/")
                if (
                    len(parts) == 3
                    and parts[0] == "subjects"
                    and parts[2] == "versions"
                ):
                    subject = urllib.parse.unquote(parts[1])
                    try:
                        schema = self._body()["schema"]
                        json.loads(schema)  # must be parsable Avro JSON
                    except (ValueError, KeyError):
                        return self._send(
                            422,
                            {
                                "error_code": 42201,
                                "message": "Invalid schema",
                            },
                        )
                    try:
                        sid = registry.register(subject, schema)
                    except IncompatibleSchemaError as e:
                        return self._send(
                            409,
                            {"error_code": 409, "message": str(e)},
                        )
                    return self._send(200, {"id": sid})
                if (
                    len(parts) == 5
                    and parts[:2] == ["compatibility", "subjects"]
                    and parts[3] == "versions"
                ):
                    subject = urllib.parse.unquote(parts[2])
                    try:
                        schema = self._body()["schema"]
                        _, latest_schema = registry.latest(subject)
                    except (ValueError, KeyError):
                        return self._send(
                            404,
                            {
                                "error_code": 40401,
                                "message": "Subject not found",
                            },
                        )
                    mode = registry._compat.get(
                        subject, registry.DEFAULT_COMPATIBILITY
                    )
                    ok = check_compatible(schema, latest_schema, mode)
                    return self._send(200, {"is_compatible": ok})
                self._send(
                    404, {"error_code": 404, "message": "Not found"}
                )

            def do_PUT(self):
                if not self._authed():
                    return
                parts = self.path.strip("/").split("/")
                if len(parts) == 2 and parts[0] == "config":
                    subject = urllib.parse.unquote(parts[1])
                    try:
                        mode = self._body()["compatibility"]
                        registry.set_compatibility(subject, mode)
                    except (ValueError, KeyError):
                        return self._send(
                            422,
                            {
                                "error_code": 42203,
                                "message": "Invalid compatibility level",
                            },
                        )
                    return self._send(
                        200, {"compatibility": mode.upper()}
                    )
                self._send(
                    404, {"error_code": 404, "message": "Not found"}
                )

        import http.server as _hs

        self._server = _hs.ThreadingHTTPServer((host, 0), Handler)
        scheme = "http"
        if ssl_context is not None:
            # https listener: wrap the SERVER socket once — accepted
            # connections inherit TLS (the reference's SR is https,
            # ConfiguracaoKafka.java:152)
            self._server.socket = ssl_context.wrap_socket(
                self._server.socket, server_side=True
            )
            scheme = "https"
        self.url = (
            f"{scheme}://{self._server.server_address[0]}"
            f":{self._server.server_address[1]}"
        )

    def __enter__(self) -> "SchemaRegistryServer":
        import threading

        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()


# -------------------------------------------------- compatibility modes
def can_read(writer_schema: str, reader_schema: str) -> bool:
    """True iff data written with ``writer_schema`` is readable under
    ``reader_schema`` per the Avro spec — checked by actually compiling
    the resolver (:func:`functions.avro_generic.make_resolver`), so the
    answer can never drift from what decode does."""
    from teste_carga_avro_vs_json_spark.functions import avro_generic as ag

    w_root, w_env = ag.parse_schema(writer_schema)
    r_root, r_env = ag.parse_schema(reader_schema)
    try:
        ag.make_resolver(w_root, r_root, w_env, r_env)
        return True
    except ag.AvroResolutionError:
        return False


def check_compatible(new_schema: str, old_schema: str, mode: str) -> bool:
    """Confluent subject compatibility semantics (public API contract):
    BACKWARD = consumers on the NEW schema can read OLD data;
    FORWARD = consumers on the OLD schema can read NEW data;
    FULL = both; NONE = always compatible."""
    mode = mode.upper()
    if mode == "NONE":
        return True
    if mode == "BACKWARD":
        return can_read(old_schema, new_schema)
    if mode == "FORWARD":
        return can_read(new_schema, old_schema)
    if mode == "FULL":
        return can_read(old_schema, new_schema) and can_read(
            new_schema, old_schema
        )
    raise ValueError(f"unknown compatibility mode {mode!r}")


class IncompatibleSchemaError(ValueError):
    """Registration rejected by the subject's compatibility mode (the
    409 a live Confluent registry returns)."""


def serialize_confluent(
    avro_bytes: Column, registry, subject: str, schema: str
) -> tuple[Column, int]:
    """Produce-side glue (KafkaAvroSerializer equivalent): register (or
    resolve) ``schema`` under ``subject``, frame the payload column with
    the resulting id. Returns (framed column, schema id)."""
    from teste_carga_avro_vs_json_spark.functions import avro_codec

    sid = registry.register(subject, schema)
    return avro_codec.confluent_wrap(avro_bytes, schema_id=sid), sid
