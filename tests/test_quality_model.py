"""Trained quality classifier (operators/quality_model.py) pinned
against a pure-Python reference implementation — the oracle substitute
for an iterative operator (same convention as test_bpe.py): training is
quantized-exact, so the distributed weights must EQUAL the reference's,
bit for bit, regardless of partitioning."""

import hashlib
import math
import re
from collections import Counter

import pyspark.sql.functions as F

from teste_carga_avro_vs_json_spark.operators import quality_model as qm


# ---------------------------------------------------- reference impl
def _ref_hash(tok: str, n_features: int) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % n_features


def _ref_features(texts, n_features):
    """doc_id -> Counter(idx -> cnt), same tokenizer + hash as Spark."""
    out = {}
    for doc_id, text in texts:
        toks = [t for t in re.split(r"\s+", text or "") if t != ""]
        out[doc_id] = Counter(
            _ref_hash(t.lower(), n_features) for t in toks
        )
    return out

def _ref_train(texts, labels, n_features, epochs, lr):
    feats = _ref_features(texts, n_features)
    n_docs = len(feats)
    w = [0.0] * n_features
    bias = 0.0
    for _ in range(epochs):
        grads = Counter()
        gbias = 0
        for doc_id, counts in feats.items():
            qsum = sum(
                math.floor(w[i] * c * qm.Q_TERM + 0.5)
                for i, c in counts.items()
            )
            m = bias + qsum / float(qm.Q_TERM)
            m = max(-30.0, min(30.0, m))
            p = 1.0 / (1.0 + math.exp(-m))
            pq = math.floor(p * qm.Q_PROB + 0.5)
            rq = pq - labels[doc_id] * qm.Q_PROB
            for i, c in counts.items():
                grads[i] += rq * c
            gbias += rq
        for i, g in grads.items():
            if g:
                w[i] = w[i] - lr * ((g / qm.Q_PROB) / n_docs)
        bias = bias - lr * ((gbias / qm.Q_PROB) / n_docs)
    return w + [bias]


# ------------------------------------------------------------- tests
def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_train_matches_reference_exactly(spark, sf_dir):
    docs = _docs(spark, sf_dir).limit(120).select(
        "doc_id", "text", (F.col("lang") == "en").alias("is_en")
    )
    rows = docs.collect()
    texts = [(r.doc_id, r.text) for r in rows]
    labels = {r.doc_id: int(r.is_en) for r in rows}
    want = _ref_train(texts, labels, n_features=512, epochs=4, lr=0.5)
    got = qm.train_quality_model(
        docs, "is_en", n_features=512, epochs=4, lr=0.5
    )
    assert got == want


def test_model_separates_reference_from_junk(spark, sf_dir):
    """The classifier's actual deployment scenario (GPT-3 appendix A):
    label the reference corpus 1 and synthetic junk 0, train, and the
    model must separate them near-perfectly (largely disjoint
    vocabularies). This exercises real learning power — the fixture
    lang label is NOT separable at word level (all langs share one
    vocabulary), so that's deliberately not the target here."""
    from teste_carga_avro_vs_json_spark.functions.portable import rand_text

    good = _docs(spark, sf_dir).select(
        "doc_id", "text", F.lit(1).alias("y")
    )
    junk = (
        spark.range(500)
        .select(
            (F.col("id") + 1_000_000).alias("doc_id"),
            F.concat_ws(
                " ",
                *[
                    rand_text(F.concat(F.lit(f"j{i}-"), F.col("id")), 8)
                    for i in range(30)
                ],
            ).alias("text"),
            F.lit(0).alias("y"),
        )
    )
    labeled = good.unionByName(junk)
    wts = qm.train_quality_model(labeled, "y", n_features=2048, epochs=8)
    scored = qm.score_with_model(labeled, wts)
    joined = scored.join(labeled.select("doc_id", "y"), "doc_id")
    n = joined.count()
    correct = joined.filter(
        F.col("keep").cast("int") == F.col("y")
    ).count()
    assert correct / n >= 0.95, f"accuracy {correct}/{n}"


def test_training_is_deterministic(spark, sf_dir):
    docs = _docs(spark, sf_dir).limit(60).select(
        "doc_id", "text", (F.col("lang") == "en").alias("is_en")
    )
    a = qm.train_quality_model(docs, "is_en", n_features=256, epochs=2)
    b = qm.train_quality_model(
        docs.repartition(7), "is_en", n_features=256, epochs=2
    )
    assert a == b  # partitioning-independent by quantized-exact design


def test_score_empty_doc_gets_bias(spark):
    docs = spark.createDataFrame(
        [(1, "the and of is"), (2, "")], "doc_id long, text string"
    )
    wts = [0.25] * 64 + [-1.5]
    out = {r.doc_id: r for r in qm.score_with_model(docs, wts).collect()}
    assert out[2].margin == -1.5 and not out[2].keep
    assert out[1].margin > out[2].margin


def test_score_plan_shape(spark, sf_dir):
    """Scoring = broadcast weight join + keyed agg; no cartesian, no
    row-at-a-time Python."""
    from teste_carga_avro_vs_json_spark.plans import audit

    docs = _docs(spark, sf_dir)
    out = qm.score_with_model(docs, [0.1] * 128 + [0.0])
    plan = out._jdf.queryExecution().executedPlan().toString()
    aud = audit(out)
    assert aud.cartesian == 0 and aud.bnl_joins == 0
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
