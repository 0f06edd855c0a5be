"""WARC source/sink pins: exact build→parse round-trips, the
CommonCrawl per-record-gzip-member splittability property, tolerant
truncation handling, and the full crawl→corpus chain
(write_warc → read_warc_responses → extract_text == fixture text)."""

import gzip

import pytest

import pyspark.sql.functions as F

from teste_carga_avro_vs_json_spark.operators import html_extract as hx
from teste_carga_avro_vs_json_spark.sources import warc as W


def test_record_roundtrip_exact():
    body = b"<html><body>ola</body></html>"
    http = W.build_http_response(body)
    blob = (
        W.build_record(
            "warcinfo", b"format: WARC/1.1\r\n",
            content_type="application/warc-fields",
        )
        + W.build_record(
            "response", http,
            target_uri="https://example.com/a",
            content_type="application/http; msgtype=response",
            extra_headers={"WARC-X-Spark-Doc-Id": "7"},
        )
        + W.build_record(
            "metadata", b"k: v\r\n", target_uri="https://example.com/a",
            content_type="application/warc-fields",
        )
    )
    recs, bad = W.parse_warc(blob)
    assert bad == 0
    assert [r.warc_type for r in recs] == ["warcinfo", "response", "metadata"]
    resp = recs[1]
    assert resp.target_uri == "https://example.com/a"
    assert resp.headers["WARC-X-Spark-Doc-Id"] == "7"
    assert resp.payload == http
    status, hh, got = W.parse_http_response(resp.payload)
    assert (status, got) == (200, body)
    assert hh["content-type"] == "text/html; charset=utf-8"
    # record ids are content-derived urn:uuids, stable across builds
    again, _ = W.parse_warc(
        W.build_record(
            "response", http,
            target_uri="https://example.com/a",
            content_type="application/http; msgtype=response",
            extra_headers={"WARC-X-Spark-Doc-Id": "7"},
        )
    )
    assert again[0].record_id == resp.record_id
    assert resp.record_id.startswith("<urn:uuid:")


def test_http_chunked_and_charset():
    # crawlers store raw wire bytes — chunked framing included
    payload = (
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/html; charset=ISO-8859-1\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n"
        b"4\r\nWiki\r\n5\r\npedia\r\n0\r\n\r\n"
    )
    status, hh, body = W.parse_http_response(payload)
    assert (status, body) == (200, b"Wikipedia")
    assert W._charset(hh["content-type"]) == "ISO-8859-1"
    assert W._charset(None) == "utf-8"


def test_tolerant_truncation():
    good = W.build_record("response", W.build_http_response(b"x" * 100),
                          target_uri="u")
    truncated = good + good[: len(good) // 2]
    recs, bad = W.parse_warc(truncated, tolerant=True)
    assert len(recs) == 1 and bad == 1
    with pytest.raises(W.WarcFormatError):
        W.parse_warc(truncated)


def test_gzip_members_are_records_and_seekable():
    rows = [(i, f"https://ex.com/{i}", f"<p>doc {i}</p>") for i in range(5)]
    blob = W.docs_to_warc_bytes(rows, gz=True)
    members = list(W.iter_gzip_members(blob))
    # one member per record: warcinfo + 5 responses
    assert len(members) == 6
    # EVERY member is one whole record — what lets a reader (or a
    # CDX random-access lookup) enter mid-shard at a member boundary
    for member in members:
        recs, bad = W.parse_warc(member)
        assert bad == 0 and len(recs) == 1
    # deterministic bytes (fixed date, mtime=0): rebuild == build
    assert W.docs_to_warc_bytes(rows, gz=True) == blob


def test_spark_write_read_roundtrip(spark, sf_dir, tmp_path):
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(80)
        .select("doc_id", "text")
    )
    pages = hx.synth_html(docs).select(
        "doc_id",
        F.concat(F.lit("https://fixture.test/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        "html",
    )
    path = str(tmp_path / "crawl")
    manifest = W.write_warc(pages, path, num_files=4)
    mrows = manifest.collect()
    assert sum(r.n_records for r in mrows) == 80 + len(mrows)  # + warcinfo each

    back = W.read_warc(spark, path)
    by_type = {r["warc_type"]: r["n"] for r in
               back.groupBy("warc_type").agg(F.count("*").alias("n")).collect()}
    assert by_type == {"warcinfo": len(mrows), "response": 80}

    got = W.read_warc_responses(spark, path)
    orig = pages.select("doc_id", "url", F.col("html").alias("want"))
    joined = got.join(orig, ["doc_id", "url"], "full")
    assert joined.count() == 80
    assert joined.where(
        F.col("html").isNull() | (F.col("html") != F.col("want"))
    ).count() == 0


def test_crawl_to_corpus_chain(spark, sf_dir, tmp_path):
    """The full ingest chain: fixture text → synth HTML → WARC shards
    on disk → read back → extract_text recovers EXACTLY the normalized
    fixture text (the same pin html_extract's own round-trip uses)."""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(60)
        .select("doc_id", "text")
    )
    pages = hx.synth_html(docs).select(
        "doc_id",
        F.concat(F.lit("https://fixture.test/"),
                 F.col("doc_id").cast("string")).alias("url"),
        "html",
    )
    path = str(tmp_path / "crawl2")
    W.write_warc(pages, path, num_files=3)

    extracted = hx.extract_text(
        W.read_warc_responses(spark, path)
    ).select("doc_id", "title", "text", "n_links")

    toks = F.filter(F.split("text", r"\s+"), lambda t: t != F.lit(""))
    norm = F.array_join(
        F.transform(
            F.sequence(
                F.lit(0),
                F.greatest(F.floor((F.size("t") - 1) / 12).cast("int"),
                           F.lit(0)),
            ),
            lambda i: F.array_join(F.slice(F.col("t"), i * 12 + 1, 12), " "),
        ),
        "\n",
    )
    want = docs.select("doc_id", toks.alias("t")).select(
        "doc_id", norm.alias("want")
    )
    j = extracted.join(want, "doc_id")
    assert j.count() == 60
    assert j.where(F.col("text") != F.col("want")).count() == 0
    assert j.where(
        (F.col("title") != F.concat(F.lit("Doc "),
                                    F.col("doc_id").cast("string")))
        | (F.col("n_links") != 0)
    ).count() == 0


def test_plain_warc_and_bad_member():
    rows = [(1, "https://e/1", "<p>a</p>")]
    plain = W.docs_to_warc_bytes(rows, gz=False)
    recs, bad = W.parse_warc(plain)
    assert bad == 0 and len(recs) == 2
    with pytest.raises(W.WarcFormatError):
        list(W.iter_gzip_members(gzip.compress(b"x")[:-4]))


def test_header_injection_sanitized():
    """A crawled URL carrying CR/LF must not split the header block
    (r8 ADVICE: header-injection shape). build_record strips control
    chars; the record round-trips with the sanitized URI."""
    body = b"payload"
    evil = "https://e/x\r\nWARC-Type: injected\r\n\tpath"
    rec = W.build_record(
        "response", body, target_uri=evil,
        extra_headers={"X-Meta": "a\rb\nc"},
    )
    records, n_bad = W.parse_warc(rec)
    assert n_bad == 0 and len(records) == 1
    r = records[0]
    assert r.warc_type == "response"
    assert r.target_uri == "https://e/xWARC-Type: injectedpath"
    assert r.headers.get("X-Meta") == "abc"
    assert r.payload == body
