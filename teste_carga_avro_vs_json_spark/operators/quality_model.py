"""Trained quality classifier — the fasttext-style learned filter from
the GPT-3 / LLaMA data recipes (Brown et al. 2020 appendix A; Touvron
et al. 2023 §2): logistic regression over hashed bag-of-words features,
trained to tell "reference-quality" documents from raw-corpus
documents, then used to score (and gate) the whole corpus. The
heuristic ``text.quality_score`` is the cheap first pass; this is the
learned second pass. (Reference engine has no text operators at all —
SURVEY.md §2.2.)

Spark-first training, deterministic to the bit:

- **Features once, epochs cheap.** ``hashed_features`` builds the
  sparse (doc_id, idx, cnt) table in ONE scan (explode tokens → md5
  feature hash → one hash agg) and it persists across epochs. Feature
  hashing uses the portable ``hex32`` (md5) builder so a pure-Python
  reference can replicate it exactly — the same portability discipline
  as every oracle-checked query.
- **Each epoch is two aggregations** — the textbook distributed
  full-batch gradient-descent shape: (1) margins: join features with
  the broadcast (idx, w) weight table, per-doc exact-long sum of
  quantized ``w·cnt`` terms; (2) gradients: per-doc residuals join
  back onto the feature table, per-idx exact-long sums. Only the
  (n_features+1) gradient row set ever reaches the driver.
- **Quantized-exact arithmetic end to end** (the repo determinism
  rule, same as the k-means trainer ``similarity.multi_kmeans``):
  per-term products are floored to
  1e-9 longs before summing (partial-agg order cannot perturb exact
  integer sums), sigmoid outputs are floored to 1e-6 longs, and every
  gradient is then INTEGER arithmetic ``(p_q − y·1e6)·cnt`` until the
  final fixed-sequence float update. Training is therefore
  bit-reproducible across partitionings and across engines — pytest
  pins the learned weights EQUAL to a pure-Python/numpy reference
  implementation (the oracle substitute for an iterative op, same
  convention as ``operators/bpe.py``).

At 100 TB: the feature table is token-count-sized (one shuffle to
build), epochs cost two aggregations each over it, the weight table is
n_features rows (broadcast), and the driver only ever sees gradients.
Scoring (``score_with_model``) is one broadcast join + one keyed agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from teste_carga_avro_vs_json_spark.functions.portable import hex32
from teste_carga_avro_vs_json_spark.operators.text import tokens

#: Quantum for per-term products (w·cnt) inside the margin sum.
Q_TERM = 10**9
#: Quantum for sigmoid outputs; gradients are integers in this unit.
Q_PROB = 10**6


def hashed_features(
    docs: DataFrame, text_col: str = "text", n_features: int = 4096
) -> DataFrame:
    """Sparse hashed bag-of-words: (doc_id, idx, cnt) with
    ``idx = hex32(lower(token)) % n_features``. One scan, one agg."""
    toks = docs.select(
        "doc_id", F.explode(tokens(text_col)).alias("tok")
    )
    return (
        toks.select(
            "doc_id",
            (hex32(F.lower(F.col("tok"))) % n_features)
            .cast("int")
            .alias("idx"),
        )
        .groupBy("doc_id", "idx")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _sigmoid_q(margin):  # Column -> Column, quantized to 1e-6
    # clamp at ±30 (sigmoid saturates to 1e-13 there) so exp never
    # overflows on a confidently-classified doc; the reference impl
    # clamps identically
    m = F.greatest(F.lit(-30.0), F.least(F.lit(30.0), margin))
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-m))
    return F.floor(p * Q_PROB + F.lit(0.5)).cast("long")


def train_quality_model(
    docs: DataFrame,
    label_col: str,
    text_col: str = "text",
    n_features: int = 4096,
    epochs: int = 8,
    lr: float = 0.5,
    stats: dict | None = None,
) -> list[float]:
    """Learn ``n_features + 1`` weights (bias last) by full-batch
    gradient descent; ``label_col`` must be 0/1 (castable). Returns the
    plain Python weight list — the model artifact is driver-sized by
    construction."""
    spark: SparkSession = docs.sparkSession
    labeled = docs.select(
        "doc_id", F.col(label_col).cast("long").alias("y"), text_col
    )
    feats = (
        hashed_features(labeled, text_col, n_features)
        .join(labeled.select("doc_id", "y"), "doc_id")
        .persist()
    )
    n_docs = labeled.count()
    w = [0.0] * n_features
    bias = 0.0
    for _ in range(epochs):
        wdf = F.broadcast(
            spark.createDataFrame(
                [(i, w[i]) for i in range(n_features)], "idx int, w double"
            )
        )
        # margins: exact long sum of quantized w*cnt terms per doc
        margins = (
            feats.join(wdf, "idx")
            .groupBy("doc_id", "y")
            .agg(
                F.sum(
                    F.floor(
                        F.col("w") * F.col("cnt") * Q_TERM + F.lit(0.5)
                    ).cast("long")
                ).alias("qsum")
            )
            .select(
                "doc_id",
                "y",
                _sigmoid_q(
                    F.lit(bias) + F.col("qsum") / F.lit(float(Q_TERM))
                ).alias("pq"),
            )
        )
        # gradients: integer (pq - y*Q_PROB) * cnt summed per feature;
        # idx = -1 carries the bias gradient
        resid = margins.select(
            "doc_id", (F.col("pq") - F.col("y") * Q_PROB).alias("rq")
        )
        gfeat = (
            feats.join(resid, "doc_id")
            .groupBy("idx")
            .agg(F.sum(F.col("rq") * F.col("cnt")).alias("g"))
        )
        gbias = resid.select(
            F.lit(-1).cast("int").alias("idx"), F.col("rq").alias("g")
        ).groupBy("idx").agg(F.sum("g").alias("g"))
        grads = {r.idx: r.g for r in gfeat.unionByName(gbias).collect()}
        # fixed-sequence float update, replicated by the reference impl
        for i in range(n_features):
            g = grads.get(i, 0)
            if g:
                w[i] = w[i] - lr * ((g / Q_PROB) / n_docs)
        bias = bias - lr * ((grads.get(-1, 0) / Q_PROB) / n_docs)
    feats.unpersist()
    if stats is not None:
        stats["n_docs"] = n_docs
    return w + [bias]


def score_with_model(
    docs: DataFrame,
    weights: list[float],
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """(doc_id, margin, prob, keep): score every doc with a trained
    model. One broadcast join (weight table) + one keyed agg; margins
    use the same quantized-exact sum as training, so scores are
    partitioning-independent. Docs with NO hashed features (empty text)
    score at the bare bias."""
    spark: SparkSession = docs.sparkSession
    n_features = len(weights) - 1
    bias = weights[-1]
    wdf = F.broadcast(
        spark.createDataFrame(
            [(i, weights[i]) for i in range(n_features)], "idx int, w double"
        )
    )
    qsums = (
        hashed_features(docs, text_col, n_features)
        .join(wdf, "idx")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.floor(
                    F.col("w") * F.col("cnt") * Q_TERM + F.lit(0.5)
                ).cast("long")
            ).alias("qsum")
        )
    )
    scored = (
        docs.select("doc_id")
        .join(qsums, "doc_id", "left")
        .select(
            "doc_id",
            (
                F.lit(bias)
                + F.coalesce(F.col("qsum"), F.lit(0)) / F.lit(float(Q_TERM))
            ).alias("margin"),
        )
    )
    return scored.select(
        "doc_id",
        "margin",
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin")))).alias("prob"),
        # margin >= 0 (not >) so the fast path is exactly
        # prob >= 0.5 — otherwise a doc with margin exactly 0 flips
        # between the two threshold forms.
        (F.col("margin") >= F.lit(0.0)
         if threshold == 0.5
         else (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin")))
               >= F.lit(threshold))).alias("keep"),
    )
