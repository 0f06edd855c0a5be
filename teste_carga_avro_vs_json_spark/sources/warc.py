"""WARC (ISO 28500) web-archive source/sink — the CommonCrawl wire
format that sits in FRONT of ``operators/html_extract``: every
published web-corpus recipe (C4, CCNet, RefinedWeb, Dolma) starts by
reading ``*.warc.gz`` shards, pulling the HTTP ``response`` payloads
out, and extracting text. The reference engine has no web-archive
source (SURVEY.md §2.2); this is extension surface completing the
crawl→corpus chain: ``read_warc_responses → extract_text →
c4_line_filter → corpus_clean → …``.

Pure-stdlib implementation (same convention as the PNG/BMP/WAV codecs
in ``operators/multimodal``): the record grammar is the published WARC/1.1
spec (version line, CRLF name:value headers, ``Content-Length`` octets
of payload, CRLF CRLF trailer), HTTP/1.1 response payloads per RFC
9112 (status line, headers, optional chunked transfer-encoding), and
the CommonCrawl ``.warc.gz`` layout — EACH record its own gzip member,
members concatenated. That per-record-member property is the whole
reason the format scales: any reader can start decompressing at a
member boundary, which is how CommonCrawl's CDX index provides
(file, offset, length) random access to single documents inside a
~1 GB shard.

Engine shape and the 100 TB story:

- Read path: ``binaryFile`` source = one task per shard file (the
  CommonCrawl convention of ~1 GB shards makes whole-file tasks the
  right granularity), then ONE Arrow-batched ``mapInPandas`` pass that
  walks gzip members with ``zlib.decompressobj(wbits=31)`` —
  streaming, never materializing more than one member's inflate at a
  time on top of the raw blob. No shuffle anywhere; downstream
  filters compose scan-locally. For random access inside shards a
  production deployment adds a CDX-style (file, offset) index and
  seeks — the per-member framing this module writes is exactly what
  makes that possible.
- Write path: executor-side ``mapInPandas`` writer, one
  ``part-NNNNN.warc.gz`` per task (the OCF sink pattern,
  ``io_files.write_avro_ocf``); the returned frame is the write
  manifest. No driver collect.

Determinism (repo rule: no wall-clock, no uuid4): ``WARC-Date``
defaults to a fixed epoch-derived instant and ``WARC-Record-ID`` is a
urn:uuid built from the md5 of (type, target URI, payload) — stable
across reruns and partitionings, so manifests and round-trip tests
hash identically.

No SQL oracle: DuckDB has no WARC reader — pinned by exact pytest
round-trips (build→parse, Spark write→read, one gzip member
per record) per the documented non-relational-codec convention.
"""

from __future__ import annotations

import gzip
import hashlib
import re
import zlib
from typing import Iterator, NamedTuple

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

#: Fixed default WARC-Date (determinism rule: never wall-clock).
DEFAULT_DATE = "2026-01-01T00:00:00Z"

_CRLF = b"\r\n"


class WarcRecord(NamedTuple):
    warc_type: str
    record_id: str
    date: str
    target_uri: str | None
    content_type: str | None
    headers: dict[str, str]  # every WARC header, original names
    payload: bytes


class WarcFormatError(ValueError):
    pass


def _stable_record_id(warc_type: str, target_uri: str, payload: bytes) -> str:
    """Deterministic urn:uuid from content (md5 per the portable-hash
    convention in functions/portable.py — stable across partitionings)."""
    h = hashlib.md5(
        warc_type.encode() + b"\x00" + target_uri.encode() + b"\x00" + payload
    ).hexdigest()
    return (
        f"<urn:uuid:{h[0:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}>"
    )


def _clean_header(value: str) -> str:
    """Strip CR/LF and other C0 control chars from a header name/value.

    A crawled URL containing ``\\r\\n`` would otherwise split the WARC
    header block (header-injection shape) and produce a record
    :func:`parse_warc` rejects or mis-frames on read-back (r8 ADVICE).
    Stripping (not rejecting) keeps the ingest path total on hostile
    crawl data; the record stays self-consistent because the sanitized
    value is what Content-Length framing is computed around."""
    if _CTRL_RE.search(value):
        value = _CTRL_RE.sub("", value)
    return value


_CTRL_RE = re.compile(r"[\x00-\x1f\x7f]")


def build_record(
    warc_type: str,
    payload: bytes,
    *,
    target_uri: str | None = None,
    content_type: str | None = None,
    date: str = DEFAULT_DATE,
    extra_headers: dict[str, str] | None = None,
) -> bytes:
    """One serialized WARC/1.1 record (version line + headers + CRLF
    CRLF + payload + CRLF CRLF)."""
    headers: list[tuple[str, str]] = [
        ("WARC-Type", warc_type),
        ("WARC-Date", date),
        (
            "WARC-Record-ID",
            _stable_record_id(warc_type, target_uri or "", payload),
        ),
    ]
    if target_uri is not None:
        headers.append(("WARC-Target-URI", target_uri))
    if content_type is not None:
        headers.append(("Content-Type", content_type))
    for k, v in (extra_headers or {}).items():
        headers.append((k, v))
    headers.append(("Content-Length", str(len(payload))))
    head = b"WARC/1.1" + _CRLF
    head += b"".join(
        f"{_clean_header(k)}: {_clean_header(v)}".encode("utf-8") + _CRLF
        for k, v in headers
    )
    return head + _CRLF + payload + _CRLF + _CRLF


def parse_warc(
    data: bytes, *, tolerant: bool = False
) -> tuple[list[WarcRecord], int]:
    """Parse a (decompressed) WARC stream → (records, n_bad). Strict
    mode raises on the first malformed record; tolerant mode stops at
    it and reports it in ``n_bad`` (crawl shards do get truncated)."""
    records: list[WarcRecord] = []
    pos, n = 0, len(data)
    while True:
        while pos < n and data[pos : pos + 2] == _CRLF:
            pos += 2
        if pos >= n:
            return records, 0
        try:
            head_end = data.index(b"\r\n\r\n", pos)
            head_lines = data[pos:head_end].split(_CRLF)
            version = head_lines[0]
            if not version.startswith(b"WARC/"):
                raise WarcFormatError(f"bad version line {version[:20]!r}")
            headers: dict[str, str] = {}
            for line in head_lines[1:]:
                name, _, value = line.partition(b":")
                if not _:
                    raise WarcFormatError(f"bad header line {line[:40]!r}")
                headers[name.decode("utf-8").strip()] = value.decode(
                    "utf-8"
                ).strip()
            lower = {k.lower(): v for k, v in headers.items()}
            length = int(lower["content-length"])
            if length < 0:  # would walk pos backwards → infinite loop
                raise WarcFormatError("negative Content-Length")
            body_start = head_end + 4
            if body_start + length > n:
                raise WarcFormatError("payload overruns stream")
            payload = data[body_start : body_start + length]
            records.append(
                WarcRecord(
                    warc_type=lower.get("warc-type", ""),
                    record_id=lower.get("warc-record-id", ""),
                    date=lower.get("warc-date", ""),
                    target_uri=lower.get("warc-target-uri"),
                    content_type=lower.get("content-type"),
                    headers=headers,
                    payload=payload,
                )
            )
            pos = body_start + length
        except (WarcFormatError, ValueError, KeyError, IndexError) as e:
            if tolerant:
                return records, 1
            raise WarcFormatError(str(e)) from e


# ---------------------------------------------------------------- HTTP


def build_http_response(
    body: bytes,
    status: int = 200,
    reason: str = "OK",
    content_type: str = "text/html; charset=utf-8",
) -> bytes:
    """Minimal RFC 9112 response for a WARC ``response`` payload."""
    return (
        f"HTTP/1.1 {status} {reason}\r\n"
        f"Content-Type: {content_type}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode("utf-8") + body


def parse_http_response(payload: bytes) -> tuple[int, dict[str, str], bytes]:
    """(status, lower-cased headers, body). Supports identity bodies
    (Content-Length or read-to-end) and chunked transfer-encoding —
    crawlers store the raw wire bytes, chunked framing included."""
    head_end = payload.find(b"\r\n\r\n")
    if head_end < 0:
        raise WarcFormatError("no HTTP header terminator")
    lines = payload[:head_end].split(_CRLF)
    parts = lines[0].split(None, 2)
    if len(parts) < 2 or not parts[0].startswith(b"HTTP/"):
        raise WarcFormatError(f"bad status line {lines[0][:40]!r}")
    status = int(parts[1])
    headers: dict[str, str] = {}
    for line in lines[1:]:
        name, _, value = line.partition(b":")
        if _:
            headers[name.decode("latin-1").strip().lower()] = value.decode(
                "latin-1"
            ).strip()
    raw = payload[head_end + 4 :]
    if headers.get("transfer-encoding", "").lower() == "chunked":
        body, pos = bytearray(), 0
        while True:
            eol = raw.index(b"\r\n", pos)
            size = int(raw[pos:eol].split(b";")[0], 16)
            if size < 0:  # '-' parses in base 16 → would loop backwards
                raise WarcFormatError("negative chunk size")
            if size == 0:
                break
            body += raw[eol + 2 : eol + 2 + size]
            pos = eol + 2 + size + 2
        return status, headers, bytes(body)
    if "content-length" in headers:
        raw = raw[: int(headers["content-length"])]
    return status, headers, raw


def _charset(content_type: str | None) -> str:
    for part in (content_type or "").split(";"):
        part = part.strip()
        if part.lower().startswith("charset="):
            return part[8:].strip("\"' ") or "utf-8"
    return "utf-8"


# -------------------------------------------------------- gzip members

#: per-member inflate cap (1 GiB): one WARC record is one document —
#: a member inflating past this is a decompression bomb, not a crawl
#: record, and must not OOM the executor.
_MAX_MEMBER_BYTES = 1 << 30


def _inflate_member(data: bytes, pos: int) -> tuple[bytes, int]:
    """Inflate ONE gzip member starting at ``pos`` → (bytes, next_pos);
    bounded by the bomb cap, raising WarcFormatError on truncation,
    garbage, or cap breach."""
    d = zlib.decompressobj(wbits=31)
    out = bytearray()
    tail = data[pos:]
    try:
        while True:
            out += d.decompress(tail, _MAX_MEMBER_BYTES + 1)
            if len(out) > _MAX_MEMBER_BYTES:
                raise WarcFormatError("gzip member exceeds the inflate cap")
            if d.eof or not d.unconsumed_tail:
                break
            tail = d.unconsumed_tail
    except zlib.error as e:
        raise WarcFormatError(f"bad gzip member: {e}") from e
    if not d.eof:
        raise WarcFormatError("truncated gzip member")
    return bytes(out), len(data) - len(d.unused_data)


def iter_gzip_members(data: bytes) -> Iterator[bytes]:
    """Yield each member's inflated bytes — streaming, one member's
    inflate in memory at a time."""
    pos = 0
    while pos < len(data):
        chunk, pos = _inflate_member(data, pos)
        yield chunk


# ------------------------------------------------------------- sinks


def docs_to_warc_bytes(
    rows: list[tuple[int, str, str]],
    *,
    gz: bool = True,
    date: str = DEFAULT_DATE,
) -> bytes:
    """(doc_id, url, html) rows → one WARC file image: a leading
    ``warcinfo`` record then one HTTP ``response`` record per doc.
    ``gz=True`` emits one gzip member PER RECORD (the CommonCrawl
    splittable layout)."""
    info = build_record(
        "warcinfo",
        b"software: teste_carga_avro_vs_json_spark\r\nformat: WARC/1.1\r\n",
        content_type="application/warc-fields",
        date=date,
    )
    recs = [info]
    for doc_id, url, payload in rows:
        http = build_http_response((payload or "").encode("utf-8"))
        recs.append(
            build_record(
                "response",
                http,
                target_uri=url,
                content_type="application/http; msgtype=response",
                date=date,
                extra_headers={"WARC-X-Spark-Doc-Id": str(doc_id)},
            )
        )
    if gz:
        # mtime=0: gzip headers must not embed wall-clock (determinism).
        return b"".join(gzip.compress(r, mtime=0) for r in recs)
    return b"".join(recs)


def write_warc(
    docs: DataFrame,
    path: str,
    *,
    doc_id_col: str = "doc_id",
    url_col: str = "url",
    html_col: str = "html",
    num_files: int = 8,
    gz: bool = True,
    date: str = DEFAULT_DATE,
) -> DataFrame:
    """Write (doc_id, url, html) as ``part-NNNNN.warc[.gz]`` shards,
    one per task (OCF sink pattern) — returns the write manifest
    (file, n_records, n_bytes). Files land deterministically:
    repartition by doc id so reruns produce identical shards."""
    import os

    enc = docs.select(
        F.col(doc_id_col).cast("long").alias("doc_id"),
        F.col(url_col).alias("url"),
        F.col(html_col).alias("html"),
    ).repartition(num_files, "doc_id")

    def _write(batches):
        import pandas as pd
        from pyspark import TaskContext

        task_id = TaskContext.get().partitionId()
        rows: list[tuple[int, str, str]] = []
        for pdf in batches:
            rows.extend(
                zip(
                    pdf["doc_id"].tolist(),
                    pdf["url"].tolist(),
                    pdf["html"].tolist(),
                )
            )
        out = []
        if rows:
            rows.sort(key=lambda r: r[0])  # stable member order per shard
            blob = docs_to_warc_bytes(rows, gz=gz, date=date)
            os.makedirs(path, exist_ok=True)
            ext = "warc.gz" if gz else "warc"
            fpath = os.path.join(path, f"part-{task_id:05d}.{ext}")
            with open(fpath, "wb") as f:
                f.write(blob)
            out.append((fpath, len(rows) + 1, len(blob)))
        yield pd.DataFrame(out, columns=["file", "n_records", "n_bytes"])

    manifest = enc.mapInPandas(
        _write, "file string, n_records long, n_bytes long"
    ).localCheckpoint()  # eager: files hit disk exactly once
    return manifest


# ------------------------------------------------------------ sources


_READ_SCHEMA = (
    "file string, warc_type string, record_id string, target_uri string,"
    " doc_id long, http_status int, http_content_type string,"
    " html string, n_payload_bytes long"
)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """``*.warc[.gz]`` shards → one row per WARC record. ``response``
    records get their HTTP payload parsed (status, content-type, body
    decoded per the header charset, errors replaced); other types keep
    html NULL. ``doc_id`` comes from the ``WARC-X-Spark-Doc-Id``
    extension header when present (our own sink), else NULL — generic
    crawl data keys on ``target_uri``.

    One task per shard (binaryFile), one Arrow-batched pass, zero
    shuffle; truncated shards surface the valid prefix (tolerant
    parse), matching how production crawl readers skid over tail
    corruption rather than failing the stage."""
    raw = spark.read.format("binaryFile").load(f"{path}/*.warc*")

    def _decode(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for fpath, blob in zip(pdf["path"].tolist(), pdf["content"].tolist()):
                blob = bytes(blob)
                if fpath.endswith(".gz"):
                    recs: list[WarcRecord] = []
                    try:
                        for member in iter_gzip_members(blob):
                            rs, _bad = parse_warc(member, tolerant=True)
                            recs.extend(rs)
                    except WarcFormatError:
                        # corrupt/truncated member: keep the valid
                        # prefix — a bad shard tail must not kill the
                        # task (crawl shards DO get truncated)
                        pass
                else:
                    recs, _bad = parse_warc(blob, tolerant=True)
                for r in recs:
                    status = ctype = html = None
                    if r.warc_type == "response":
                        try:
                            status, hh, body = parse_http_response(r.payload)
                            ctype = hh.get("content-type")
                            html = body.decode(_charset(ctype), errors="replace")
                        except (WarcFormatError, ValueError):
                            pass
                    did = r.headers.get("WARC-X-Spark-Doc-Id")
                    rows.append(
                        (
                            fpath,
                            r.warc_type,
                            r.record_id,
                            r.target_uri,
                            int(did) if did is not None else None,
                            status,
                            ctype,
                            html,
                            len(r.payload),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "file", "warc_type", "record_id", "target_uri",
                    "doc_id", "http_status", "http_content_type", "html",
                    "n_payload_bytes",
                ],
            )

    return raw.select("path", "content").mapInPandas(_decode, _READ_SCHEMA)


def read_warc_responses(spark: SparkSession, path: str) -> DataFrame:
    """(doc_id, url, html) for every 2xx HTML response — the frame
    ``operators/html_extract.extract_text`` consumes. Filter is
    scan-local (same mapInPandas stage — no barrier, no shuffle)."""
    return (
        read_warc(spark, path)
        .where(
            (F.col("warc_type") == "response")
            & (F.col("http_status") >= 200)
            & (F.col("http_status") < 300)
            & F.col("html").isNotNull()
        )
        .select("doc_id", F.col("target_uri").alias("url"), "html")
    )
