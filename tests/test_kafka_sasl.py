"""SASL PLAIN + TLS for the stdlib Kafka wire client (r8 VERDICT
order #1 — the last reference-parity boundary: the reference only ever
runs authenticated, security.protocol=SASL_SSL with sasl.mechanism=
PLAIN, ConfiguracaoKafka.java:134-138).

Everything here is socket-verified against the in-repo StubBroker
configured to REQUIRE SASL (and, for the TLS cases, to wrap accepted
sockets in a self-signed server context):

- full produce → consume loop over SASL_PLAINTEXT,
- wrong password → SaslAuthenticationError + connection drop,
- unauthenticated API calls before the handshake → connection drop,
- authenticate-before-handshake → connection drop (illegal state),
- unsupported mechanism → error 33 listing PLAIN,
- SASL over TLS end-to-end with a self-signed cert (cryptography is
  import-gated: it is not in the guaranteed baked-in set),
- config.py credential plumbing (KAFKA_CLUSTER_API_KEY/SECRET →
  kafka_security() kwargs, the jaas-template mapping).
"""

from __future__ import annotations

import pytest

from teste_carga_avro_vs_json_spark.config import EngineConfig
from teste_carga_avro_vs_json_spark.sources.kafka_wire import (
    EARLIEST,
    LATEST,
    SaslAuthenticationError,
    StubBroker,
    WireKafkaClient,
)

CREDS = {"api-key-123": "api-secret-456"}


def _sasl_client(broker, password="api-secret-456", **kw):
    host, port = broker.addr
    return WireKafkaClient(
        host,
        port,
        security_protocol=kw.pop("security_protocol", "SASL_PLAINTEXT"),
        sasl_username="api-key-123",
        sasl_password=password,
        **kw,
    )


def _produce_consume_loop(client):
    base = client.produce("carga", 0, [(b"k1", b"v1"), (b"k2", b"v2")])
    assert base == 0
    assert client.list_offset("carga", 0, EARLIEST) == 0
    assert client.list_offset("carga", 0, LATEST) == 2
    got = list(client.fetch_until("carga", 0, 0, 2, 1 << 20))
    assert [(k, v) for _, k, v in got] == [(b"k1", b"v1"), (b"k2", b"v2")]


def test_sasl_plain_produce_consume_e2e():
    with StubBroker(num_partitions=1, sasl_plain=CREDS) as b:
        client = _sasl_client(b)
        try:
            _produce_consume_loop(client)
        finally:
            client.close()


def test_sasl_wrong_password_rejected():
    with StubBroker(num_partitions=1, sasl_plain=CREDS) as b:
        with pytest.raises(SaslAuthenticationError) as ei:
            _sasl_client(b, password="wrong")
        assert "SASL_AUTHENTICATION_FAILED" in str(ei.value)


def test_sasl_unknown_user_rejected():
    with StubBroker(num_partitions=1, sasl_plain=CREDS) as b:
        host, port = b.addr
        with pytest.raises(SaslAuthenticationError):
            WireKafkaClient(
                host,
                port,
                security_protocol="SASL_PLAINTEXT",
                sasl_username="nobody",
                sasl_password="x",
            )


def test_unauthenticated_requests_dropped():
    """A plaintext client (no SASL) against a SASL-requiring broker:
    ApiVersions is allowed pre-auth (real-broker behavior), anything
    else drops the connection."""
    with StubBroker(num_partitions=1, sasl_plain=CREDS) as b:
        client = WireKafkaClient(*b.addr)
        try:
            vers = client.api_versions()  # allowed before auth
            assert 36 in vers  # SaslAuthenticate advertised
            with pytest.raises((ConnectionError, OSError)):
                client.metadata("carga")
        finally:
            client.close()


def test_authenticate_before_handshake_dropped():
    """SaslAuthenticate without a prior SaslHandshake is an illegal
    SASL state — the broker drops the connection."""
    from teste_carga_avro_vs_json_spark.sources.kafka_wire import (
        _API_SASL_AUTHENTICATE,
        _W,
    )

    with StubBroker(num_partitions=1, sasl_plain=CREDS) as b:
        client = WireKafkaClient(*b.addr)
        try:
            token = b"\x00api-key-123\x00api-secret-456"
            with pytest.raises((ConnectionError, OSError)):
                client._call(
                    _API_SASL_AUTHENTICATE, 0, bytes(_W().bytes_(token).b)
                )
        finally:
            client.close()


def test_unsupported_mechanism_error_33():
    from teste_carga_avro_vs_json_spark.sources.kafka_wire import (
        _API_SASL_HANDSHAKE,
        _W,
    )

    with StubBroker(num_partitions=1, sasl_plain=CREDS) as b:
        client = WireKafkaClient(*b.addr)
        try:
            r = client._call(
                _API_SASL_HANDSHAKE, 1, bytes(_W().string("SCRAM-SHA-256").b)
            )
            assert r.i16() == 33  # UNSUPPORTED_SASL_MECHANISM
            assert [r.string() for _ in range(r.i32())] == ["PLAIN"]
        finally:
            client.close()


def test_sasl_via_connect_bootstrap_string():
    with StubBroker(num_partitions=1, sasl_plain=CREDS) as b:
        host, port = b.addr
        client = WireKafkaClient.connect(
            f"{host}:{port}",
            security_protocol="SASL_PLAINTEXT",
            sasl_username="api-key-123",
            sasl_password="api-secret-456",
        )
        try:
            _produce_consume_loop(client)
        finally:
            client.close()


def test_plaintext_broker_still_works_unchanged():
    with StubBroker(num_partitions=1) as b:
        client = WireKafkaClient(*b.addr)
        try:
            _produce_consume_loop(client)
        finally:
            client.close()


# ------------------------------------------------------------------ TLS
def _self_signed(tmp_path):
    """Self-signed localhost cert via `cryptography` (import-gated —
    present in this container but not in the guaranteed set)."""
    x509 = pytest.importorskip("cryptography.x509")
    import datetime

    from cryptography.hazmat.primitives import hashes, serialization
    from cryptography.hazmat.primitives.asymmetric import rsa

    key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    name = x509.Name(
        [x509.NameAttribute(x509.oid.NameOID.COMMON_NAME, "localhost")]
    )
    now = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    cert = (
        x509.CertificateBuilder()
        .subject_name(name)
        .issuer_name(name)
        .public_key(key.public_key())
        .serial_number(x509.random_serial_number())
        .not_valid_before(now)
        .not_valid_after(now + datetime.timedelta(days=3650))
        .add_extension(
            x509.SubjectAlternativeName(
                [x509.DNSName("localhost"),
                 x509.IPAddress(__import__("ipaddress").ip_address(
                     "127.0.0.1"))]
            ),
            critical=False,
        )
        .sign(key, hashes.SHA256())
    )
    cert_pem = tmp_path / "cert.pem"
    key_pem = tmp_path / "key.pem"
    cert_pem.write_bytes(cert.public_bytes(serialization.Encoding.PEM))
    key_pem.write_bytes(
        key.private_bytes(
            serialization.Encoding.PEM,
            serialization.PrivateFormat.TraditionalOpenSSL,
            serialization.NoEncryption(),
        )
    )
    return str(cert_pem), str(key_pem)


def _tls_contexts(tmp_path):
    import ssl

    cert_pem, key_pem = _self_signed(tmp_path)
    server = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    server.load_cert_chain(cert_pem, key_pem)
    client = ssl.create_default_context(cafile=cert_pem)
    return server, client


def test_sasl_over_tls_e2e(tmp_path):
    """The reference's exact listener shape: SASL_SSL — TLS first,
    then SaslHandshake/SaslAuthenticate, then the produce/consume
    loop, all over one self-signed-but-verified socket."""
    server_ctx, client_ctx = _tls_contexts(tmp_path)
    with StubBroker(
        num_partitions=1, sasl_plain=CREDS, ssl_context=server_ctx
    ) as b:
        host, port = b.addr
        client = WireKafkaClient(
            host,
            port,
            security_protocol="SASL_SSL",
            sasl_username="api-key-123",
            sasl_password="api-secret-456",
            ssl_context=client_ctx,
            server_hostname="localhost",
        )
        try:
            assert client._sock.version() is not None  # really TLS
            _produce_consume_loop(client)
        finally:
            client.close()


def test_tls_wrong_password_rejected(tmp_path):
    server_ctx, client_ctx = _tls_contexts(tmp_path)
    with StubBroker(
        num_partitions=1, sasl_plain=CREDS, ssl_context=server_ctx
    ) as b:
        host, port = b.addr
        with pytest.raises(SaslAuthenticationError):
            WireKafkaClient(
                host,
                port,
                security_protocol="SASL_SSL",
                sasl_username="api-key-123",
                sasl_password="bad",
                ssl_context=client_ctx,
                server_hostname="localhost",
            )


def test_plaintext_client_against_tls_broker_fails(tmp_path):
    """Speaking plaintext Kafka to a TLS listener must fail loudly,
    not hang or mis-frame."""
    server_ctx, _ = _tls_contexts(tmp_path)
    with StubBroker(
        num_partitions=1, sasl_plain=CREDS, ssl_context=server_ctx
    ) as b:
        client = WireKafkaClient(*b.addr)
        try:
            with pytest.raises((ConnectionError, OSError, ValueError)):
                client.api_versions()
        finally:
            client.close()


# ----------------------------------------------------------- config
def test_config_kafka_security_mapping(monkeypatch):
    for k, v in {
        "KAFKA_BOOTSTRAP_SERVERS": "h1:9092",
        "KAFKA_CLUSTER_API_KEY": "ck",
        "KAFKA_CLUSTER_API_SECRET": "cs",
        "SECURITY_PROTOCOL": "sasl_ssl",
        "SCHEMA_REGISTRY_URL": "https://sr.example",
        "SCHEMA_REGISTRY_API_KEY": "srk",
        "SCHEMA_REGISTRY_API_SECRET": "srs",
    }.items():
        monkeypatch.setenv(k, v)
    cfg = EngineConfig.from_env()
    sec = cfg.kafka_security()
    assert sec == {
        "security_protocol": "SASL_SSL",
        "sasl_mechanism": "PLAIN",
        "sasl_username": "ck",
        "sasl_password": "cs",
    }
    assert cfg.schema_registry_auth() == ("srk", "srs")


def test_config_sasl_requires_credentials():
    cfg = EngineConfig(security_protocol="SASL_SSL")
    with pytest.raises(ValueError, match="KAFKA_CLUSTER_API_KEY"):
        cfg.kafka_security()


def test_config_plaintext_no_security():
    assert EngineConfig().kafka_security() == {}
    assert EngineConfig().schema_registry_auth() is None


def test_config_bad_protocol_rejected():
    with pytest.raises(ValueError, match="SECURITY_PROTOCOL"):
        EngineConfig(security_protocol="KERBEROS").validate()


# ------------------------------------------- Spark surfaces over SASL
def test_kafka_wire_multi_partition_read_over_sasl(spark):
    """format("kafka_wire") authenticates on every socket (offset
    discovery in partition planning AND every fetch task), and a read
    without credentials fails."""
    from teste_carga_avro_vs_json_spark.sources import kafka_wire_source

    kafka_wire_source.register(spark)
    with StubBroker(num_partitions=2, sasl_plain=CREDS) as b:
        c = _sasl_client(b)
        try:
            c.produce("carga", 0, [(b"a", b"v0"), (b"b", b"v1")])
            c.produce("carga", 1, [(b"c", b"v2")])
        finally:
            c.close()
        bootstrap = f"{b.addr[0]}:{b.addr[1]}"
        df = spark.read.format("kafka_wire").options(
            bootstrap=bootstrap,
            topic="carga",
            security_protocol="SASL_PLAINTEXT",
            sasl_username="api-key-123",
            sasl_password="api-secret-456",
        ).load()
        got = sorted(bytes(r.value) for r in df.collect())
        assert got == [b"v0", b"v1", b"v2"]
        # and without credentials the read fails loudly
        with pytest.raises(Exception):
            spark.read.format("kafka_wire").options(
                bootstrap=bootstrap, topic="carga"
            ).load().collect()


def test_format_kafka_wire_datasource_over_sasl(spark):
    """format("kafka_wire") end-to-end with SASL options — the
    .option() surface a reference user would reach for."""
    from teste_carga_avro_vs_json_spark.sources.kafka_wire_source import (
        register,
    )

    register(spark)
    with StubBroker(num_partitions=1, sasl_plain=CREDS) as b:
        c = _sasl_client(b)
        try:
            c.produce("carga", 0, [(b"k", b"hello-sasl")])
        finally:
            c.close()
        df = (
            spark.read.format("kafka_wire")
            .option("bootstrap", f"{b.addr[0]}:{b.addr[1]}")
            .option("topic", "carga")
            .option("security_protocol", "SASL_PLAINTEXT")
            .option("sasl_username", "api-key-123")
            .option("sasl_password", "api-secret-456")
            .load()
        )
        rows = df.collect()
        assert [bytes(r.value) for r in rows] == [b"hello-sasl"]


def test_cli_kafka_mode_passes_security_and_compression(spark):
    """The cli Kafka apps connect with the config's SASL credentials
    (producer write AND static consumer read) and produce with its
    COMPRESSION_TYPE: against a broker that REQUIRES SASL the producer
    and consumer reports agree, and every stored batch carries the
    configured codec bits."""
    import struct

    from teste_carga_avro_vs_json_spark.cli import run_app
    from teste_carga_avro_vs_json_spark.sources.compression import (
        KAFKA_CODEC_IDS,
    )

    with StubBroker(num_partitions=3, sasl_plain=CREDS) as b:
        cfg = EngineConfig(
            total_mensagens=12, tamanho_mensagem_kb=1, num_particoes=3,
            bootstrap_servers=f"{b.addr[0]}:{b.addr[1]}",
            security_protocol="SASL_PLAINTEXT",
            cluster_api_key="api-key-123",
            cluster_api_secret="api-secret-456",
            compression_type="gzip",
        )
        prod = run_app("PRODUTOR_AVRO", "", cfg, spark)
        cons = run_app("CONSUMIDOR_AVRO", "", cfg, spark)
        batches = [
            batch
            for p in range(3)
            for _base, batch in b._log(cfg.topico_avro, p).batches
        ]
    assert prod["total_mensagens"] == cons["total_mensagens"] == 12
    assert prod["total_bytes"] == cons["total_bytes"]
    # record batch v2 attributes (bytes 21:23), low 3 bits = codec
    assert batches and {
        struct.unpack(">h", batch[21:23])[0] & 0x07 for batch in batches
    } == {KAFKA_CODEC_IDS["gzip"]}


# ---------------------------------------------------------------- SCRAM
def test_scram_sha256_rfc7677_vector():
    """The full RFC 7677 §3 example exchange, both directions: with
    the published client nonce, every message and the server signature
    must match the RFC byte-for-byte (user 'user', password 'pencil')."""
    from teste_carga_avro_vs_json_spark.sources.kafka_wire import ScramClient

    c = ScramClient("user", "pencil", "sha256",
                    nonce="rOprNGfwEbeRWgbNEkqO")
    assert c.first() == b"n,,n=user,r=rOprNGfwEbeRWgbNEkqO"
    server_first = (
        b"r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0,"
        b"s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096"
    )
    final = c.final(server_first)
    assert final == (
        b"c=biws,r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0,"
        b"p=dHzbZapWIk4jUhN+Ute9ytag9zjfMHgsqmmiz7AndVQ="
    )
    # and the mutual-auth check accepts exactly the RFC's v= value
    c.verify(b"v=6rriTRBi23WpRR/wtup+mMhUZUn/dB5nLTJRsjl95G4=")
    with pytest.raises(SaslAuthenticationError):
        c.verify(b"v=7rriTRBi23WpRR/wtup+mMhUZUn/dB5nLTJRsjl95G4=")
    with pytest.raises(SaslAuthenticationError, match="server error"):
        c.verify(b"e=invalid-proof")


@pytest.mark.parametrize("mech", ["SCRAM-SHA-256", "SCRAM-SHA-512"])
def test_scram_produce_consume_e2e(mech):
    with StubBroker(
        num_partitions=1, sasl_scram={"alice": "segredo"}
    ) as b:
        host, port = b.addr
        client = WireKafkaClient(
            host,
            port,
            security_protocol="SASL_PLAINTEXT",
            sasl_mechanism=mech,
            sasl_username="alice",
            sasl_password="segredo",
        )
        try:
            _produce_consume_loop(client)
        finally:
            client.close()


def test_scram_wrong_password_rejected():
    with StubBroker(
        num_partitions=1, sasl_scram={"alice": "segredo"}
    ) as b:
        host, port = b.addr
        with pytest.raises(SaslAuthenticationError, match="SASL_AUTH"):
            WireKafkaClient(
                host,
                port,
                security_protocol="SASL_PLAINTEXT",
                sasl_mechanism="SCRAM-SHA-256",
                sasl_username="alice",
                sasl_password="errado",
            )
        with pytest.raises(SaslAuthenticationError):
            WireKafkaClient(
                host,
                port,
                security_protocol="SASL_PLAINTEXT",
                sasl_mechanism="SCRAM-SHA-256",
                sasl_username="desconhecida",
                sasl_password="x",
            )


def test_scram_and_plain_coexist_and_handshake_lists_both():
    from teste_carga_avro_vs_json_spark.sources.kafka_wire import (
        _API_SASL_HANDSHAKE,
        _W,
    )

    with StubBroker(
        num_partitions=1,
        sasl_plain={"api-key-123": "api-secret-456"},
        sasl_scram={"alice": "segredo"},
    ) as b:
        # PLAIN path still works
        c1 = _sasl_client(b)
        c1.close()
        # SCRAM path works on the same broker
        host, port = b.addr
        c2 = WireKafkaClient(
            host, port,
            security_protocol="SASL_PLAINTEXT",
            sasl_mechanism="SCRAM-SHA-512",
            sasl_username="alice", sasl_password="segredo",
        )
        c2.close()
        # handshake advertises all enabled mechanisms
        probe = WireKafkaClient(*b.addr)
        try:
            r = probe._call(
                _API_SASL_HANDSHAKE, 1, bytes(_W().string("GSSAPI").b)
            )
            assert r.i16() == 33
            mechs = [r.string() for _ in range(r.i32())]
            assert mechs == ["PLAIN", "SCRAM-SHA-256", "SCRAM-SHA-512"]
        finally:
            probe.close()


def test_scram_mechanism_rejected_when_only_plain_enabled():
    with StubBroker(num_partitions=1, sasl_plain=CREDS) as b:
        host, port = b.addr
        with pytest.raises(SaslAuthenticationError, match="UNSUPPORTED"):
            WireKafkaClient(
                host, port,
                security_protocol="SASL_PLAINTEXT",
                sasl_mechanism="SCRAM-SHA-256",
                sasl_username="alice", sasl_password="x",
            )


def test_format_kafka_wire_datasource_over_scram(spark):
    """format(\"kafka_wire\") with sasl_mechanism=SCRAM-SHA-256 — the
    option path must run the multi-round exchange, not PLAIN."""
    from teste_carga_avro_vs_json_spark.sources.kafka_wire_source import (
        register,
    )

    register(spark)
    with StubBroker(
        num_partitions=1, sasl_scram={"alice": "segredo"}
    ) as b:
        host, port = b.addr
        c = WireKafkaClient(
            host, port,
            security_protocol="SASL_PLAINTEXT",
            sasl_mechanism="SCRAM-SHA-256",
            sasl_username="alice", sasl_password="segredo",
        )
        try:
            c.produce("carga", 0, [(b"k", b"scram-payload")])
        finally:
            c.close()
        df = (
            spark.read.format("kafka_wire")
            .option("bootstrap", f"{host}:{port}")
            .option("topic", "carga")
            .option("security_protocol", "SASL_PLAINTEXT")
            .option("sasl_mechanism", "SCRAM-SHA-256")
            .option("sasl_username", "alice")
            .option("sasl_password", "segredo")
            .load()
        )
        assert [bytes(r.value) for r in df.collect()] == [b"scram-payload"]


def test_scram_over_tls_e2e(tmp_path):
    """SCRAM-SHA-256 over TLS — the strongest listener combination;
    composition of the two r9 mechanisms on one socket."""
    server_ctx, client_ctx = _tls_contexts(tmp_path)
    with StubBroker(
        num_partitions=1,
        sasl_scram={"alice": "segredo"},
        ssl_context=server_ctx,
    ) as b:
        host, port = b.addr
        client = WireKafkaClient(
            host, port,
            security_protocol="SASL_SSL",
            sasl_mechanism="SCRAM-SHA-256",
            sasl_username="alice",
            sasl_password="segredo",
            ssl_context=client_ctx,
            server_hostname="localhost",
        )
        try:
            assert client._sock.version() is not None
            _produce_consume_loop(client)
        finally:
            client.close()


def test_scram_iteration_downgrade_rejected():
    """A spoofed broker advertising a tiny iteration count must be
    rejected BEFORE a proof is computed — a proof over a nearly
    unstretched PBKDF2 hash is an offline-cracking gift the mutual
    server-signature check cannot take back."""
    from teste_carga_avro_vs_json_spark.sources.kafka_wire import ScramClient

    c = ScramClient("user", "pencil", "sha256",
                    nonce="rOprNGfwEbeRWgbNEkqO")
    c.first()
    with pytest.raises(SaslAuthenticationError, match="below the 4096"):
        c.final(
            b"r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0,"
            b"s=W22ZaJ0SNY7soEsUEjb6gQ==,i=1"
        )
    # an explicit opt-down still works (test rigs, legacy brokers)
    c2 = ScramClient("user", "pencil", "sha256",
                     nonce="rOprNGfwEbeRWgbNEkqO", min_iterations=1)
    assert c2.final(
        b"r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0,"
        b"s=W22ZaJ0SNY7soEsUEjb6gQ==,i=1"
    ).startswith(b"c=biws,")
