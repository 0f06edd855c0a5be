"""URL canonicalization pins (operators/crawl.py): hand-written
messy→canonical goldens (every rule of the module contract), the
bucket-collapse property of the synthetic table, and the hash-level
Spark-vs-DuckDB check via tools/check_retired (q_url_dedup)."""

import pyspark.sql.functions as F

from teste_carga_avro_vs_json_spark.operators import crawl


def _canon(spark, raw: list[str]) -> list[str]:
    df = spark.createDataFrame([(u,) for u in raw], "url string")
    return [
        r["c"] for r in df.select(crawl.canon_url(F.col("url")).alias("c"))
        .collect()
    ]


def test_canonicalization_goldens(spark):
    cases = {
        # case + default port + fragment + tracking + trailing slash
        "HTTP://WWW.Ex.COM:80/a/?utm_source=x#frag": "http://www.ex.com/a",
        "https://h.io:443/p?id=1": "https://h.io/p?id=1",
        # non-default port KEPT
        "https://h.io:8443/p": "https://h.io:8443/p",
        # tracking param first: separator repaired
        "https://h.io/p?utm_a_b=1&b=2": "https://h.io/p?b=2",
        # tracking param last
        "https://h.io/p?b=2&fbclid=zz": "https://h.io/p?b=2",
        # multiple tracking params, nothing left
        "https://h.io/p?utm_s=1&gclid=2": "https://h.io/p",
        # bare host → '/'
        "https://H.IO": "https://h.io/",
        "https://h.io/": "https://h.io/",
        # slash before query stripped
        "https://h.io/docs/7/?id=7": "https://h.io/docs/7?id=7",
        # scheme case only
        "HtTpS://h.io/x": "https://h.io/x",
        # http :443 is NOT default for http — kept
        "http://h.io:443/x": "http://h.io:443/x",
    }
    got = _canon(spark, list(cases))
    for raw, want in zip(cases, got):
        assert want == cases[raw], f"{raw} -> {want}, want {cases[raw]}"


def test_synth_buckets_collapse(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    urls = crawl.synth_urls(docs)
    dd = crawl.url_dedup(urls)
    n_docs = docs.count()
    fam = dd.agg(
        F.sum("n_docs").alias("t"),
        F.count("*").alias("fams"),
        F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias("multi"),
    ).collect()[0]
    # every doc lands in exactly one family; real collapse happened
    assert fam["t"] == n_docs
    assert fam["fams"] < n_docs and fam["multi"] > 0
    # the :8443 holdouts stay distinct families
    assert dd.where(F.col("canon_url").contains(":8443")).count() > 0
    # keep_doc_id is the family minimum (stable representative)
    joined = (
        urls.select(
            "doc_id", crawl.canon_url(F.col("url")).alias("canon_url")
        )
        .groupBy("canon_url")
        .agg(F.min("doc_id").alias("want_keep"))
        .join(dd, "canon_url")
    )
    assert joined.where(F.col("want_keep") != F.col("keep_doc_id")).count() == 0


def test_url_dedup_oracle_hash(spark, sf_dir):
    """Full Spark-vs-DuckDB value comparison at fixture scale (the
    same families, counts and representatives)."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    want = {
        r[0]: r[1:]
        for r in con.execute(crawl.url_dedup_sql()).fetchall()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        r["canon_url"]: (r["keep_doc_id"], r["n_docs"], r["n_raw_urls"])
        for r in crawl.url_dedup(crawl.synth_urls(docs)).collect()
    }
    assert got == want


def test_url_dedup_plan_shape(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        crawl.url_dedup(crawl.synth_urls(docs))
        ._jdf.queryExecution().executedPlan().toString()
    )
    # Catalyst's two-phase distinct rewrite: (canon, url) partial agg
    # then the canon agg — exactly 2 exchanges, both preceded by
    # partial/merge HashAggregates (map-side combine), no joins, no
    # Python, and the regex canonicalization stays in the scan stage.
    assert plan.count("Exchange") == 2
    assert plan.count("partial_") >= 2
    assert "Join" not in plan
    assert "Python" not in plan and "BatchEvalPython" not in plan
    assert "SortAggregate" not in plan  # long-only buffers, no demotion


def test_domain_profile_oracle_and_shape(spark, sf_dir):
    """7 host shards, exact-integer shares, Spark == DuckDB, and the
    window total rides the tiny aggregated frame (bounded by domain
    count), never the raw one."""
    import duckdb

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    prof = crawl.domain_profile(crawl.synth_urls(docs))
    rows = {r["host"]: (r["n_docs"], r["n_pages"], r["share_ppm"])
            for r in prof.collect()}
    assert len(rows) == 7  # bucket%7 shards, case mess collapsed
    assert all(h.startswith("shard") for h in rows)
    assert sum(v[0] for v in rows.values()) == docs.count()
    # ppm shares sum to ~1e6 (floor loss < n_hosts)
    total_ppm = sum(v[2] for v in rows.values())
    assert 1_000_000 - 7 <= total_ppm <= 1_000_000

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    want = {r[0]: tuple(r[1:]) for r in
            con.execute(crawl.domain_profile_sql()).fetchall()}
    assert rows == want


def test_domain_cap_gate_and_determinism(spark, sf_dir):
    """Per-domain cap: ranks are 1..n_docs(host) with no gaps, kept
    iff rank <= cap, and the frame is repartition-invariant (total
    order by doc_id inside each host)."""
    from teste_carga_avro_vs_json_spark.operators import crawl

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    urls = crawl.synth_urls(docs)
    out = crawl.domain_cap(urls, max_per_domain=2).cache()
    rows = out.collect()
    assert len(rows) == docs.count()  # auditable: every doc present
    by_host = {}
    for r in rows:
        by_host.setdefault(r.host, []).append(r)
    for host, members in by_host.items():
        ranks = sorted(m.host_rank for m in members)
        assert ranks == list(range(1, len(members) + 1)), host
        for m in members:
            assert m.kept == (m.host_rank <= 2)
        # deterministic rank order: by doc_id
        ordered = sorted(members, key=lambda m: m.doc_id)
        assert [m.host_rank for m in ordered] == ranks
    # repartition-invariance
    again = crawl.domain_cap(urls.repartition(13), max_per_domain=2)
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, rows))
    out.unpersist()
