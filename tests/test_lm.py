"""Bigram-LM perplexity filter (operators/lm.py). The full
Spark-vs-DuckDB oracle runs in tools/check_retired.py (extra surface);
here: hand-computed goldens, the empty-doc contract, gate behavior,
and the quantized-exact determinism claim."""

import math

import pyspark.sql.functions as F

from teste_carga_avro_vs_json_spark.operators import lm


def test_perplexity_golden_tiny_corpus(spark):
    """Corpus 'a b', 'a b', 'a c': hand-computed add-one bigram NLLs.

    Bigrams incl. BOS: (<s>,a)x3, (a,b)x2, (a,c)x1, vocab={a,b,c}=3,
    contexts: <s>:3, a:3.
      P(a|<s>) = (3+1)/(3+3) = 2/3
      P(b|a)   = (2+1)/(3+3) = 1/2
      P(c|a)   = (1+1)/(3+3) = 1/3
    """
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in lm.perplexity_score(docs).collect()}

    def q(p):
        return math.floor(-math.log(p) * 10**9 + 0.5)

    exp1 = round((q(4 / 6) + q(3 / 6)) / 1e9 / 2, 6)
    exp3 = round((q(4 / 6) + q(2 / 6)) / 1e9 / 2, 6)
    assert out[1].avg_nll == exp1 == out[2].avg_nll
    assert out[3].avg_nll == exp3
    assert out[3].avg_nll > out[1].avg_nll  # rarer continuation
    assert all(r.n_scored == 2 for r in out.values())


def test_perplexity_empty_doc_contract(spark):
    docs = spark.createDataFrame(
        [(1, "x y z"), (2, ""), (3, "   ")], "doc_id long, text string"
    )
    out = {r.doc_id: (r.n_scored, r.avg_nll, r.keep) for r in
           lm.perplexity_score(docs).collect()}
    assert out[2] == (0, 0.0, True)
    assert out[3] == (0, 0.0, True)
    assert out[1][0] == 3


def test_perplexity_gate_splits_fixture(spark, sf_dir):
    """The default threshold must actually split the corpus, and rare
    word sequences must score strictly higher than common ones."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = lm.perplexity_score(docs)
    kept = out.filter("keep").count()
    total = out.count()
    assert 0 < kept < total
    stats = out.filter("n_scored > 0").agg(
        F.min("avg_nll").alias("lo"), F.max("avg_nll").alias("hi")
    ).first()
    assert stats.hi > stats.lo


def test_dsir_prefers_target_like_docs(spark):
    """DSIR must rank documents from the target's vocabulary above
    documents from a disjoint vocabulary: with target split
    doc_id % 13 == 0 all drawn from vocab A, the top-budget selection
    over a corpus of A-docs and B-docs must contain only A-docs."""
    import random

    rng = random.Random(7)
    va = [f"a{i}" for i in range(12)]
    vb = [f"b{i}" for i in range(12)]

    def doc(vocab):
        return " ".join(rng.choice(vocab) for _ in range(30))

    rows = []
    for i in range(120):
        if i % 13 == 0:
            rows.append((i, doc(va)))       # target split: vocab A
        elif i % 2 == 0:
            rows.append((i, doc(va)))       # raw, target-like
        else:
            rows.append((i, doc(vb)))       # raw, off-target
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    n_a = sum(1 for i, _ in rows if i % 13 == 0 or i % 2 == 0)
    sel = lm.dsir_select(docs, budget=n_a // 2).collect()
    assert len(sel) == n_a // 2
    assert all(r.doc_id % 13 == 0 or r.doc_id % 2 == 0 for r in sel)
    # ranks are contiguous 1..budget with descending weights
    ranks = sorted(r.rank for r in sel)
    assert ranks == list(range(1, n_a // 2 + 1))
    by_rank = sorted(sel, key=lambda r: r.rank)
    assert all(
        by_rank[i].weight >= by_rank[i + 1].weight
        for i in range(len(by_rank) - 1)
    )


def test_dsir_partitioning_invariant(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = {(r.doc_id, r.weight, r.rank) for r in lm.dsir_select(docs, budget=40).collect()}
    b = {
        (r.doc_id, r.weight, r.rank)
        for r in lm.dsir_select(docs.repartition(11), budget=40).collect()
    }
    assert a == b


def test_perplexity_partitioning_invariant(spark, sf_dir):
    """Quantized-exact sums: identical scores whatever the input
    partitioning (the claim that justifies a float-derived metric in
    an oracle)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    a = {r.doc_id: r.avg_nll for r in lm.perplexity_score(docs).collect()}
    b = {
        r.doc_id: r.avg_nll
        for r in lm.perplexity_score(docs.repartition(13)).collect()
    }
    assert a == b


def test_perplexity_quantile_gate_keeps_fraction(spark, sf_dir):
    """keep_frac = CCNet percentile bucketing: the kept share reaches
    the target, ties at the cutoff are all kept (PERCENTILE_DISC), the
    flag is exactly avg_nll <= cutoff."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300)
    out = lm.perplexity_score(docs, keep_frac=0.7).collect()
    n = len(out)
    kept = [r for r in out if r.keep]
    assert kept, "quantile gate can never keep 0 docs on a nonempty corpus"
    cutoff = max(r.avg_nll for r in kept)
    assert all(r.keep == (r.avg_nll <= cutoff) for r in out)
    n_below = sum(1 for r in out if r.avg_nll < cutoff)
    assert n_below / n < 0.7 <= len(kept) / n


def test_perplexity_quantile_gate_partitioning_invariant(spark, sf_dir):
    """The rank-window gate must not depend on input partitioning
    (rank ties = min rank, value-determined)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    a = {r.doc_id: r.keep
         for r in lm.perplexity_score(docs, keep_frac=0.4).collect()}
    b = {r.doc_id: r.keep
         for r in lm.perplexity_score(
             docs.repartition(13), keep_frac=0.4).collect()}
    assert a == b


# ------------------------------------------------------- Kneser-Ney mode
def test_perplexity_kn_golden_tiny_corpus(spark):
    """Corpus 'a b', 'a b', 'a c': hand-computed interpolated KN
    (D=0.75). Bigrams (<s>,a):3, (a,b):2, (a,c):1 → Dt=3, V=3,
    contexts <s>:(c1=3,T=1), a:(c1=3,T=2); every continuation count
    N1+ is 1 so Pc = (1+1)/(3+3) = 1/3 for a, b and c."""
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r
        for r in lm.perplexity_score(docs, smoothing="kn").collect()
    }

    def q(p):
        return math.floor(-math.log(p) * 10**9 + 0.5)

    pc = (1 + 1) / 6
    p_sa = max(3 - 0.75, 0.0) / 3 + ((0.75 * 1) / 3) * pc
    p_ab = max(2 - 0.75, 0.0) / 3 + ((0.75 * 2) / 3) * pc
    p_ac = max(1 - 0.75, 0.0) / 3 + ((0.75 * 2) / 3) * pc
    exp1 = round((q(p_sa) + q(p_ab)) / 1e9 / 2, 6)
    exp3 = round((q(p_sa) + q(p_ac)) / 1e9 / 2, 6)
    assert out[1].avg_nll == exp1 == out[2].avg_nll
    assert out[3].avg_nll == exp3
    assert out[3].avg_nll > out[1].avg_nll  # rarer continuation


def test_perplexity_unknown_smoothing_raises(spark):
    import pytest

    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        lm.perplexity_score(docs, smoothing="bogus")
