"""URL canonicalization + URL-level dedup — the FIRST dedup stage of
every crawl pipeline (CommonCrawl/C4/RefinedWeb dedup by canonical URL
before any content hashing: re-crawls, tracking-param variants and
http/https mirrors are the cheapest duplicates to kill). The reference
engine has no crawl operators (SURVEY.md §2.2); extension surface.

Canonicalization contract (applied in BOTH engines, pinned by the
DuckDB oracle in ``tools/check_retired.py`` — ``q_url_dedup``):

1. scheme and host lower-cased;
2. default port stripped (``:80`` for http, ``:443`` for https),
   non-default ports kept;
3. fragment dropped;
4. tracking params dropped (``utm_*``, ``fbclid``, ``gclid``) with
   separator repair (a leading ``&`` left by a stripped first param
   becomes ``?``);
5. trailing ``?``/``&`` dropped; one trailing slash dropped (also
   immediately before ``?``); an empty path canonicalizes to ``/``.

Documented boundary: a literal ``&`` inside the PATH (RFC-legal but
discouraged) would confuse the separator repair — crawl URLs in the
wild percent-encode it.

Engine shape / 100 TB story: canonicalization is pure scan-local
string expressions (JVM-side regex, whole-stage codegen — no Python);
the dedup is ONE hash aggregation keyed on the canonical string, so
map-side combine collapses re-crawl families before the shuffle —
identical discipline to ``dedup.exact_dedup``. No joins, no arrays
through shuffles. Regex steps avoid lookahead so the SAME patterns run
under Java regex (Spark) and RE2 (DuckDB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

#: tracking params stripped by rule 4 (the de-facto standard list)
_TRACKING = r"[?&](utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&]*"
#: number of distinct content buckets in the synthetic URL table
_BUCKETS = 101


# ----------------------------------------------------------- synthesis


def synth_urls(docs: DataFrame) -> DataFrame:
    """Deterministic MESSY URL per fixture doc: docs sharing
    ``doc_id % 101`` point at the same content behind different mess —
    scheme/host case, default-port spelling, tracking params, fragments
    and trailing slashes all vary by doc_id, so canonicalization must
    collapse each bucket (modulo the deliberate ``:8443`` holdouts,
    which stay distinct by rule 2)."""
    # one parsed fragment (r13-opt, text.tokens_sx note) — this builder
    # runs per bench rep in the url_dedup lane
    b = f"CAST(doc_id % {_BUCKETS} AS STRING)"
    scheme = (
        "CASE WHEN doc_id % 3 = 0 THEN 'https' "
        "WHEN doc_id % 3 = 1 THEN 'HTTPS' ELSE 'Https' END"
    )
    # 7 host shards (bucket-derived so a bucket's docs share a host),
    # case-messed per doc
    shard = f"CAST((doc_id % {_BUCKETS}) % 7 AS STRING)"
    host = (
        f"CASE WHEN doc_id % 2 = 0 "
        f"THEN concat('Shard', {shard}, '.Example.COM') "
        f"ELSE concat('shard', {shard}, '.example.com') END"
    )
    port = (
        "CASE WHEN doc_id % 11 = 0 THEN ':8443' "
        "WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END"
    )
    path = (
        f"concat('/docs/', {b}, "
        "CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)"
    )
    query = (
        f"CASE WHEN doc_id % 3 = 0 THEN concat('?id=', {b}) "
        "WHEN doc_id % 3 = 1 THEN concat('?utm_source=s', "
        f"CAST(doc_id AS STRING), '&id=', {b}) "
        f"ELSE concat('?id=', {b}, '&utm_campaign=c', "
        "CAST(doc_id AS STRING)) END"
    )
    frag = (
        "CASE WHEN doc_id % 2 = 1 "
        "THEN concat('#sec', CAST(doc_id AS STRING)) ELSE '' END"
    )
    url = (
        f"concat({scheme}, '://', {host}, {port}, {path}, {query}, {frag})"
    )
    return docs.select("doc_id", F.expr(url).alias("url"))


def synth_urls_sql(table: str = "documents") -> str:
    """DuckDB twin of :func:`synth_urls` (same mess, same buckets)."""
    b = f"CAST(doc_id % {_BUCKETS} AS VARCHAR)"
    return f"""
    SELECT doc_id,
      (CASE doc_id % 3 WHEN 0 THEN 'https' WHEN 1 THEN 'HTTPS'
            ELSE 'Https' END)
      || '://'
      || (CASE WHEN doc_id % 2 = 0
               THEN 'Shard' || CAST((doc_id % {_BUCKETS}) % 7 AS VARCHAR)
                    || '.Example.COM'
               ELSE 'shard' || CAST((doc_id % {_BUCKETS}) % 7 AS VARCHAR)
                    || '.example.com' END)
      || (CASE WHEN doc_id % 11 = 0 THEN ':8443'
               WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
      || '/docs/' || {b}
      || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
      || (CASE doc_id % 3
            WHEN 0 THEN '?id=' || {b}
            WHEN 1 THEN '?utm_source=s' || CAST(doc_id AS VARCHAR)
                        || '&id=' || {b}
            ELSE '?id=' || {b} || '&utm_campaign=c'
                 || CAST(doc_id AS VARCHAR) END)
      || (CASE WHEN doc_id % 2 = 1
               THEN '#sec' || CAST(doc_id AS VARCHAR) ELSE '' END)
      AS url
    FROM {table}
    """


# ----------------------------------------------------- canonicalization


def _sqq(pat: str) -> str:
    """Spark-SQL string literal with backslash escaping (patterns)."""
    return "'" + pat.replace("\\", "\\\\").replace("'", "\\'") + "'"


def canon_url_sx(expr: str) -> str:
    """SPARK-SQL fragment twin of :func:`canon_url` (r13-opt: parsed in
    one py4j call — see operators/text.py tokens_sx note; the
    ``canon_url_sql`` twin below stays the DuckDB/RE2 dialect). Same
    pattern sequence, Java regex + $1 backrefs."""
    pat_scheme = _sqq(r"^([A-Za-z][A-Za-z0-9+.\-]*)://")
    pat_slashq = _sqq(r"/\?")
    nofrag = f"regexp_replace({expr}, '#.*$', '')"
    scheme = (
        f"lower(regexp_extract({nofrag},"
        f" {pat_scheme}, 1))"
    )
    hostport = f"lower(regexp_extract({nofrag}, '^[^:/?#]+://([^/?#]*)', 1))"
    hp = (
        f"(CASE WHEN {scheme} = 'http'"
        f" THEN regexp_replace({hostport}, ':80$', '')"
        f" WHEN {scheme} = 'https'"
        f" THEN regexp_replace({hostport}, ':443$', '')"
        f" ELSE {hostport} END)"
    )
    rest = f"regexp_extract({nofrag}, '^[^:/?#]+://[^/?#]*(.*)$', 1)"
    rest = f"regexp_replace({rest}, {_sqq(_TRACKING)}, '')"
    rest = f"regexp_replace({rest}, '^([^?]*)&', '$1?')"
    rest = f"regexp_replace({rest}, '[?&]$', '')"
    rest = f"regexp_replace({rest}, {pat_slashq}, '?')"
    rest = f"regexp_replace({rest}, '/$', '')"
    rest = f"(CASE WHEN {rest} = '' THEN '/' ELSE {rest} END)"
    return f"concat({scheme}, '://', {hp}, {rest})"


def canon_url(url: Column) -> Column:
    """Canonical form per the module contract — JVM-side string
    expressions only (codegen-friendly, no UDF)."""
    nofrag = F.regexp_replace(url, r"#.*$", "")
    scheme = F.lower(
        F.regexp_extract(nofrag, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1)
    )
    hostport = F.lower(
        F.regexp_extract(nofrag, r"^[^:/?#]+://([^/?#]*)", 1)
    )
    hp = (
        F.when(
            scheme == "http", F.regexp_replace(hostport, r":80$", "")
        )
        .when(
            scheme == "https", F.regexp_replace(hostport, r":443$", "")
        )
        .otherwise(hostport)
    )
    rest = F.regexp_extract(nofrag, r"^[^:/?#]+://[^/?#]*(.*)$", 1)
    rest = F.regexp_replace(rest, _TRACKING, "")
    rest = F.regexp_replace(rest, r"^([^?]*)&", "$1?")  # repair lost '?'
    rest = F.regexp_replace(rest, r"[?&]$", "")
    rest = F.regexp_replace(rest, r"/\?", "?")
    rest = F.regexp_replace(rest, r"/$", "")
    rest = F.when(rest == "", "/").otherwise(rest)
    return F.concat(scheme, F.lit("://"), hp, rest)


def canon_url_sql(expr: str) -> str:
    """DuckDB/RE2 twin of :func:`canon_url` — same pattern sequence,
    RE2 backref syntax (``\\1``) and explicit 'g' flags where Spark
    replaces globally."""
    nofrag = f"regexp_replace({expr}, '#.*$', '')"
    scheme = (
        f"lower(regexp_extract({nofrag},"
        f" '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1))"
    )
    hostport = f"lower(regexp_extract({nofrag}, '^[^:/?#]+://([^/?#]*)', 1))"
    hp = (
        f"(CASE WHEN {scheme} = 'http'"
        f" THEN regexp_replace({hostport}, ':80$', '')"
        f" WHEN {scheme} = 'https'"
        f" THEN regexp_replace({hostport}, ':443$', '')"
        f" ELSE {hostport} END)"
    )
    rest = f"regexp_extract({nofrag}, '^[^:/?#]+://[^/?#]*(.*)$', 1)"
    rest = f"regexp_replace({rest}, '{_TRACKING}', '', 'g')"
    rest = f"regexp_replace({rest}, '^([^?]*)&', '\\1?')"
    rest = f"regexp_replace({rest}, '[?&]$', '')"
    rest = f"regexp_replace({rest}, '/\\?', '?', 'g')"
    rest = f"regexp_replace({rest}, '/$', '')"
    rest = f"(CASE WHEN {rest} = '' THEN '/' ELSE {rest} END)"
    return f"({scheme} || '://' || {hp} || {rest})"


# ------------------------------------------------------------- dedup


def url_dedup(urls: DataFrame, url_col: str = "url") -> DataFrame:
    """(canon_url, keep_doc_id, n_docs, n_raw_urls): one row per
    canonical URL — the kept representative is the MIN doc_id (the
    crawl-order-stable convention), with family size and raw-variant
    diagnostics (no-silent-collapse: n_raw_urls shows how much mess
    the canonicalization absorbed).

    Plan shape (pinned): the exact ``count(DISTINCT url)`` triggers
    Catalyst's two-phase distinct rewrite — a (canon, url) partial
    agg then the canon agg, 2 exchanges, BOTH map-side-combining, no
    joins. At 100 TB the first phase collapses identical re-crawl
    rows before anything shuffles; swap to approx_count_distinct if
    the diagnostic may be approximate (one exchange)."""
    return (
        urls.select(
            "doc_id",
            F.col(url_col).alias("url"),
            F.expr(canon_url_sx(url_col)).alias("canon_url"),
        )
        .groupBy("canon_url")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_docs"),
            F.countDistinct("url").alias("n_raw_urls"),
        )
    )


def url_dedup_sql(table: str = "documents") -> str:
    """Full DuckDB oracle: synth + canonicalize + dedup."""
    return f"""
    WITH urls AS ({synth_urls_sql(table)}),
    canon AS (
      SELECT doc_id, url, {canon_url_sql("url")} AS canon_url FROM urls
    )
    SELECT canon_url,
           min(doc_id) AS keep_doc_id,
           count(*) AS n_docs,
           count(DISTINCT url) AS n_raw_urls
    FROM canon
    GROUP BY canon_url
    """


# ----------------------------------------------------------- domains


def domain_profile(urls: DataFrame, url_col: str = "url") -> DataFrame:
    """Per-domain crawl profile — the grouping every published recipe
    filters on (C4's blocklists, RefinedWeb's per-domain caps, Gopher's
    source mixing are all host-level decisions): (host, n_docs,
    n_pages, share_ppm) where host comes from the CANONICAL url (so
    case/port mess never splits a domain), n_pages counts distinct
    canonical pages, and share_ppm is the exact-integer corpus share
    (floor(n_docs·10⁶ / total) — the quantized-fraction discipline, no
    doubles in the oracle hash).

    Plan: one hash agg on host (map-side combine), then the window
    total over the per-HOST frame — bounded by domain count, so the
    single-partition window is safe (the temperature_sample lesson:
    totals via window on the AGGREGATED frame, never a 1-row cross
    join on the raw one)."""
    from pyspark.sql.window import Window

    hosts = urls.select(
        F.expr(
            f"regexp_extract({canon_url_sx(url_col)}, '^[a-z]+://([^/:]+)', 1)"
        ).alias("host"),
        F.expr(canon_url_sx(url_col)).alias("canon_url"),
    )
    agg = hosts.groupBy("host").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("canon_url").alias("n_pages"),
    )
    with_total = agg.withColumn(
        "total", F.sum("n_docs").over(Window.partitionBy(F.lit(1)))
    )
    return with_total.select(
        "host",
        "n_docs",
        "n_pages",
        # exact integer division in BOTH engines — no float in the hash
        F.expr("(n_docs * 1000000) div total").cast("long").alias(
            "share_ppm"
        ),
    )


def domain_profile_sql(table: str = "documents") -> str:
    """Full DuckDB oracle: synth + canonicalize + per-domain profile."""
    canon = canon_url_sql("url")
    return f"""
    WITH urls AS ({synth_urls_sql(table)}),
    canon AS (
      SELECT regexp_extract({canon}, '^[a-z]+://([^/:]+)', 1) AS host,
             {canon} AS canon_url
      FROM urls
    ),
    agg AS (
      SELECT host, count(*) AS n_docs,
             count(DISTINCT canon_url) AS n_pages
      FROM canon GROUP BY host
    )
    SELECT host, n_docs, n_pages,
           CAST((n_docs * 1000000) // sum(n_docs) OVER () AS BIGINT)
             AS share_ppm
    FROM agg
    """


# ----------------------------------------------------- crawl politeness


def domain_cap(
    urls: DataFrame,
    max_per_domain: int = 3,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """RefinedWeb-style per-domain document cap (Penedo et al. 2023
    cap over-represented hosts so one mega-domain cannot dominate the
    mixture; Gopher/Dolma apply the same host-level budget). Output:
    (doc_id, host, host_rank, kept) for EVERY input doc — an auditable
    gate (no silent drops: the caller filters on ``kept`` and can
    count/report the losers), deterministic via rank = row_number over
    the host ordered by doc_id (crawl-order proxy; the total order
    makes the oracle hash stable).

    Plan: host from the CANONICAL url (case/port mess never splits a
    domain), then ONE keyed window (row_number over host) — a single
    keyed shuffle, the retired q_topk_per_group shape. Scale note: a
    mega-host serializes its own partition's sort; at 100 TB pre-thin
    with a per-partition partial cap (keep max_per_domain per task
    first — a valid upper-bound filter since ranks only grow when
    partitions merge) before the global window."""
    from pyspark.sql.window import Window

    with_host = urls.select(
        F.col(id_col),
        F.expr(
            f"regexp_extract({canon_url_sx(url_col)}, '^[a-z]+://([^/:]+)', 1)"
        ).alias("host"),
    )
    w = Window.partitionBy("host").orderBy(id_col)
    return with_host.select(
        id_col,
        "host",
        F.row_number().over(w).alias("host_rank"),
    ).withColumn("kept", F.col("host_rank") <= F.lit(max_per_domain))


def domain_cap_sql(
    max_per_domain: int = 3, table: str = "documents"
) -> str:
    """Full DuckDB oracle: synth + canonicalize + per-domain rank."""
    canon = canon_url_sql("url")
    return f"""
    WITH urls AS ({synth_urls_sql(table)}),
    hosts AS (
      SELECT doc_id,
             regexp_extract({canon}, '^[a-z]+://([^/:]+)', 1) AS host
      FROM urls
    )
    SELECT doc_id, host,
           CAST(row_number() OVER (PARTITION BY host ORDER BY doc_id)
                AS INTEGER) AS host_rank,
           (row_number() OVER (PARTITION BY host ORDER BY doc_id))
             <= {max_per_domain} AS kept
    FROM hosts
    """
