"""BM25 top-k retrieval (operators/retrieval.py): hand-computed
goldens, edge contracts, a reference-implementation pin on the real
fixture corpus, and an in-pytest DuckDB oracle pin (the extra-surface
convention — q_bm25_topk is also hash-checked by check_retired.py)."""

import math

import duckdb
import pytest

from teste_carga_avro_vs_json_spark.operators import retrieval


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _ref_bm25(corpus, queries, k=10, k1=1.2, b=0.75):
    """Pure-Python reference of the exact operator arithmetic
    (including the 1e-9 quantization, so scores compare as equals)."""
    toks = {d: t.split() for d, t in corpus}
    n = len(toks)
    avgdl = float(sum(len(t) for t in toks.values())) / n
    out = []
    for q_id, qtext in queries:
        terms = list(dict.fromkeys(qtext.split()))
        scores = {}
        nmatch = {}
        for t in terms:
            df = sum(1 for tk in toks.values() if t in tk)
            if df == 0:
                continue
            idf_q = math.floor(
                math.log(((n - df) + 0.5) / (df + 0.5) + 1.0) * 10**9 + 0.5
            )
            for d, tk in toks.items():
                tf = tk.count(t)
                if tf == 0:
                    continue
                dl = len(tk)
                frac = (tf * (k1 + 1.0)) / (
                    tf + k1 * ((1.0 - b) + b * (dl / avgdl))
                )
                scores[d] = scores.get(d, 0) + math.floor(
                    idf_q * frac + 0.5
                )
                nmatch[d] = nmatch.get(d, 0) + 1
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        for rnk, (d, qsum) in enumerate(ranked, 1):
            out.append((q_id, d, rnk, nmatch[d], round(qsum / 1e9, 6)))
    return sorted(out)


def test_bm25_golden_tiny(spark):
    corpus = [
        (1, "cat dog cat"),
        (2, "dog dog dog fish"),
        (3, "fish fish bird"),
        (4, "cat"),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    queries = [(0, "cat dog"), (1, "bird")]
    got = sorted(
        (r.q_id, r.doc_id, r.rnk, r.n_terms, r.score)
        for r in retrieval.bm25_topk(df, queries, k=3).collect()
    )
    assert got == _ref_bm25(corpus, queries, k=3)
    # the only bird doc is the bird query's sole hit
    bird = [g for g in got if g[0] == 1]
    assert len(bird) == 1 and bird[0][1] == 3 and bird[0][2] == 1


def test_bm25_rare_term_outranks_common(spark):
    """idf must dominate: the unique term's doc beats a doc stuffed
    with a corpus-saturating term."""
    df = spark.createDataFrame(
        [
            (1, "x unique x"),
            (2, "x x x x x x x x"),
            (3, "x y"),
            (4, "x z"),
        ],
        "doc_id long, text string",
    )
    got = retrieval.bm25_topk(df, [(0, "unique x")], k=4).collect()
    assert [r.doc_id for r in sorted(got, key=lambda r: r.rnk)][0] == 1


def test_bm25_absent_terms_and_empty(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    # query entirely absent from the corpus: no rows, not an error
    assert retrieval.bm25_topk(df, [(0, "zz qq")]).count() == 0
    # absent term inside a matching query contributes nothing
    [row] = retrieval.bm25_topk(df, [(0, "a zz")]).collect()
    assert row.n_terms == 1
    # empty corpus: empty frame with the contract schema
    empty = spark.createDataFrame([], "doc_id long, text string")
    out = retrieval.bm25_topk(empty, [(0, "a")])
    assert out.columns == ["q_id", "doc_id", "rnk", "n_terms", "score"]
    assert out.count() == 0


def test_bm25_ties_break_on_doc_id(spark):
    df = spark.createDataFrame(
        [(9, "a b"), (2, "a b"), (5, "a b")], "doc_id long, text string"
    )
    got = sorted(
        retrieval.bm25_topk(df, [(0, "a")], k=3).collect(),
        key=lambda r: r.rnk,
    )
    assert [r.doc_id for r in got] == [2, 5, 9]
    assert len({r.score for r in got}) == 1


def test_bm25_reference_on_fixture(spark, sf_dir):
    """Operator == the pure-Python reference on the real corpus
    (every doc, default queries), not just toy inputs."""
    docs = _docs(spark, sf_dir)
    corpus = [(r.doc_id, r.text) for r in docs.select("doc_id", "text").collect()]
    got = sorted(
        (r.q_id, r.doc_id, r.rnk, r.n_terms, r.score)
        for r in retrieval.bm25_topk(docs).collect()
    )
    assert got == _ref_bm25(corpus, retrieval.DEFAULT_QUERIES)
    assert len(got) > 0


def test_bm25_duckdb_pin(spark, sf_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    orows = sorted(tuple(r) for r in con.execute(
        retrieval.bm25_topk_sql()
    ).fetchall())
    srows = sorted(
        tuple(r)
        for r in retrieval.bm25_topk(_docs(spark, sf_dir)).collect()
    )
    assert srows == orows


def test_bm25_plan_shape(spark, sf_dir):
    """Broadcast probe + no cartesian + no expensive filter node."""
    from teste_carga_avro_vs_json_spark import plans

    df = retrieval.bm25_topk(_docs(spark, sf_dir))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "BroadcastHashJoin" in plan
    assert plans.expensive_filter_nodes(df) == []


# -------------------------------------------- hard-negative mining
def test_hard_negatives_excludes_positives_and_renumbers(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.operators import retrieval as R

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    top = R.bm25_topk(docs, k=4).collect()
    by_q = {}
    for r in top:
        by_q.setdefault(r.q_id, []).append(r)
    # default: rank-1 per query is the weak positive; negatives are
    # the old ranks 2..k+1 renumbered from 1
    negs = R.hard_negatives(docs, k=3).collect()
    nby_q = {}
    for r in negs:
        nby_q.setdefault(r.q_id, []).append(r)
    for q_id, rows in nby_q.items():
        old = by_q[q_id]
        assert [r.doc_id for r in sorted(rows, key=lambda r: r.rnk)] == [
            r.doc_id for r in sorted(old, key=lambda r: r.rnk)[1:4]
        ]
        assert sorted(r.rnk for r in rows) == [1, 2, 3]
        # scores carried over unchanged from the underlying ranking
        old_sorted = sorted(old, key=lambda r: r.rnk)[1:4]
        assert {r.doc_id: r.score for r in rows} == {
            r.doc_id: r.score for r in old_sorted
        }
    # explicit positives: none of them ever appear
    pos = [(r.q_id, r.doc_id) for r in top if r.rnk <= 2]
    negs2 = R.hard_negatives(docs, positives=pos, k=5).collect()
    assert not ({(r.q_id, r.doc_id) for r in negs2} & set(pos))


def test_hard_negatives_plan_and_oracle(spark, sf_dir):
    import duckdb

    from teste_carga_avro_vs_json_spark import plans
    from teste_carga_avro_vs_json_spark.operators import retrieval as R

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = R.hard_negatives(docs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert plans.expensive_filter_nodes(df) == []
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    got = sorted(
        tuple(r[c] for c in df.columns) for r in df.collect()
    )
    want = sorted(
        tuple(r) for r in con.execute(R.hard_negatives_sql()).fetchall()
    )
    assert got == want
