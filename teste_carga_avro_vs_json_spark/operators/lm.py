"""N-gram language-model perplexity filter — the CCNet recipe
(Wenzek et al. 2020, arXiv:1911.00359): score every document by its
per-token negative log-likelihood under a language model and gate the
corpus on it (CCNet buckets by KenLM perplexity; the published
pipelines for LLaMA and friends inherit it). The reference engine has
no text operators (SURVEY.md §2.2).

Spark-first shape:

- **Training is two aggregations.** ``train_bigram_lm`` counts word
  bigrams and unigram contexts in one corpus scan each (exact longs,
  so the model is partitioning-independent). The model LIVES as
  DataFrames — vocabulary²-bounded, never driver-collected; at 100 TB
  the count tables are what a distributed LM is.
- **Scoring is one join + one agg.** Each doc's bigrams probe the count
  table (keyed shuffle join at scale — bigram keys are hashable and
  well-spread; AQE may broadcast a small model) and add-one-smoothed
  probabilities ``(c(w1,w2)+1)/(c(w1)+V)`` are folded into a per-doc
  mean negative log-likelihood. Unseen bigrams fall back to the same
  smoothing formula with c=0 via the left join.
- **Determinism**: every count is an exact long; the probability is one
  double division; each pair's ``-ln P`` is QUANTIZED to 1e-9 longs
  before aggregation, so the per-doc sum is exact integer arithmetic —
  order-independent across shuffle partitions and engines (the repo
  rule: doubles only as fixed per-row sequences or post-agg from exact
  longs; a raw double SUM would be partial-order-dependent). ``ln`` is
  the repo's first oracle transcendental — Java ``Math.log`` vs
  DuckDB's libm can differ in the last ulp, flipping a quantized value
  only when a distinct nll sits within an ulp of a 0.5e-9 boundary;
  distinct nll values are vocabulary²-bounded (not instance-bounded),
  so the exposure is ~1e-7 per distinct bigram (verified green at
  sf0.01 and sf0.1; a knife-edge value would fail the oracle loudly,
  never silently).

Gate semantics follow CCNet: LOW perplexity = fluent/in-domain (keep),
HIGH = noise. The ``keep`` flag uses a long-arithmetic quantile-free
threshold on the rounded score so it stays hash-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F
from pyspark.sql.window import Window

from teste_carga_avro_vs_json_spark.operators.text import tokens, tokens_sql

#: Sentence-boundary token: every doc is scored as <s> w1 w2 … (the
#: first real token is conditioned on <s>), standard bigram practice.
BOS = "<s>"


def _doc_bigrams(docs: DataFrame, text_col: str) -> DataFrame:
    """(doc_id, w1, w2) pairs including the (<s>, first-word) pair;
    docs with no tokens emit nothing (their score is defined as 0)."""
    staged = docs.select("doc_id", tokens(text_col).alias("toks"))
    with_bos = staged.select(
        "doc_id",
        F.concat(F.array(F.lit(BOS)), F.col("toks")).alias("t"),
    )
    pairs = with_bos.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(
                    F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))
                ),
                F.slice(
                    F.col("t"), 2, F.greatest(F.size("t") - 1, F.lit(0))
                ),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p"),
    )
    return pairs.select("doc_id", "p.w1", "p.w2")


def train_bigram_lm(
    docs: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame, int]:
    """Returns (bigram_counts, context_counts, vocab_size): the
    distributed model. The corpus is scanned ONCE: context counts and
    the vocabulary both derive from the local-checkpointed,
    vocab²-bounded bigram table — ``c1(w1) = Σ_w2 c2(w1, w2)`` and
    vocab = distinct ``w2`` — exact-long identities, so the numbers
    equal the direct formulations the DuckDB twin uses. Checkpointing
    the TINY model table (never the token-level bigram stream: a
    corpus-sized copy starves executor memory downstream — measured in
    the e2e pipeline test) keeps repeated model reads free; the vocab
    count fills it."""
    bg = _doc_bigrams(docs, text_col)
    bigrams = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
        .localCheckpoint(eager=False)
    )
    contexts = bigrams.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = bigrams.select(F.col("w2").alias("w")).distinct().count()
    return bigrams, contexts, vocab


def perplexity_score(
    docs: DataFrame,
    text_col: str = "text",
    keep_nll: float = 3.4,
    keep_frac: float | None = None,
    smoothing: str = "addone",
    discount: float = 0.75,
) -> DataFrame:
    """Self-scoring corpus pass (train on the corpus, score the
    corpus — the standard in-domain formulation): per doc the mean
    add-one-smoothed bigram negative log-likelihood, rounded to 6 dp,
    plus ``n_scored`` (token count) and the ``keep`` gate. Empty docs
    score 0.0.

    Two gate modes:

    - ``keep_frac=None`` (default): absolute ``avg_nll <= keep_nll``.
      An absolute default is a footgun on out-of-domain corpora — the
      r7 30× stress kept 0 documents — so production gating should
      prefer the quantile mode.
    - ``keep_frac=q``: CCNet's actual bucketing (Wenzek et al. §4.3
      buckets by perplexity *percentile*, not an absolute cutoff):
      keep the lowest-NLL fraction ``q`` of the corpus —
      ``keep = avg_nll <= PERCENTILE_DISC(q)`` over all docs, i.e.
      keep iff (#docs with strictly smaller avg_nll)/n < q. Ties at
      the cutoff are all kept (PERCENTILE_DISC semantics), so the kept
      fraction is >= q and deterministic. Implemented as a rank window
      over the DOC-level frame (one row per doc, same global-window
      discipline as ``temperature_sample``); at 100 TB the doc frame
      is corpus-cardinality — freeze the cutoff from a sample or use
      ``approx_percentile`` for the gate and keep this exact form for
      oracle-checkable profiles (same note as
      ``analytics.quantile_profile``).

    Two smoothing modes (``smoothing=``):

    - ``"addone"`` (default): add-one ``(c2+1)/(c1+V)`` — simple,
      robust, the original operator contract.
    - ``"kn"``: interpolated Kneser-Ney with absolute ``discount`` D
      (Kneser & Ney 1995; Chen & Goodman 1999 eq. 4.26 — what CCNet's
      KenLM actually ships): ``P = max(c2−D,0)/c1 + (D·T(w1)/c1)·Pc``
      where ``T(w1)`` counts distinct successors and the continuation
      probability ``Pc(w2) = (N1+(·w2)+1)/(Dt+V)`` is add-one-floored
      over distinct-predecessor counts (``Dt`` = distinct bigrams) so
      unseen words keep nonzero mass; an unseen CONTEXT backs off to
      ``Pc`` alone. Every extra statistic (T, N1+, Dt) is one more
      aggregation of the SAME checkpointed vocab²-bounded bigram table —
      no additional corpus scan, and the determinism argument is
      unchanged (exact longs into one fixed per-pair double sequence,
      quantized straight out of ``ln``).

    Two corpus scans total: one builds the model (see
    :func:`train_bigram_lm` — contexts/vocab derive from the
    checkpointed tiny bigram table, never a token-level copy), one
    feeds the scoring probe."""
    return _perplexity(
        docs, train_bigram_lm(docs, text_col), text_col, keep_nll,
        keep_frac, smoothing, discount,
    )


def _perplexity(
    docs: DataFrame,
    model: tuple[DataFrame, DataFrame, int],
    text_col: str = "text",
    keep_nll: float = 3.4,
    keep_frac: float | None = None,
    smoothing: str = "addone",
    discount: float = 0.75,
) -> DataFrame:
    """:func:`perplexity_score` over a trained ``model``."""
    bigrams, contexts, vocab = model
    bg = _doc_bigrams(docs, text_col)
    if smoothing == "addone":
        nll = -F.log(
            (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(1))
            / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(vocab))
        )
        scored = (
            bg.join(bigrams, ["w1", "w2"], "left")
            .join(contexts, "w1", "left")
            .select(
                "doc_id",
                F.floor(nll * F.lit(10**9) + F.lit(0.5))
                .cast("long")
                .alias("q"),
            )
        )
    elif smoothing == "kn":
        kctx = bigrams.groupBy("w1").agg(
            F.sum("c2").alias("c1"),
            F.count(F.lit(1)).cast("long").alias("t"),
        )
        n1p = bigrams.groupBy("w2").agg(
            F.count(F.lit(1)).cast("long").alias("n1p")
        )
        dtv = bigrams.count() + vocab  # distinct bigrams + vocab: longs
        pc = (F.coalesce(F.col("n1p"), F.lit(0)) + F.lit(1)) / F.lit(dtv)
        p_seen = (
            F.greatest(
                F.coalesce(F.col("c2"), F.lit(0)) - F.lit(discount),
                F.lit(0.0),
            )
            / F.col("c1")
            + ((F.lit(discount) * F.col("t")) / F.col("c1")) * pc
        )
        p = F.when(
            F.coalesce(F.col("c1"), F.lit(0)) == F.lit(0), pc
        ).otherwise(p_seen)
        scored = (
            bg.join(bigrams, ["w1", "w2"], "left")
            .join(kctx, "w1", "left")
            .join(n1p, "w2", "left")
            .select(
                "doc_id",
                F.floor(-F.log(p) * F.lit(10**9) + F.lit(0.5))
                .cast("long")
                .alias("q"),
            )
        )
    else:
        raise ValueError(f"unknown smoothing: {smoothing!r}")
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        F.sum("q").alias("qsum"),
    )
    out = (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_scored"), F.lit(0)).alias("n_scored"),
            F.round(
                F.coalesce(
                    (F.col("qsum") / F.lit(1e9)) / F.col("n_scored"),
                    F.lit(0.0),
                ),
                6,
            ).alias("avg_nll"),
        )
    )
    if keep_frac is None:
        return out.withColumn("keep", F.col("avg_nll") <= F.lit(keep_nll))
    # PERCENTILE_DISC gate: keep iff (#docs with smaller avg_nll)/n <
    # keep_frac. rank() ties = min rank = exactly that count + 1, so
    # the flag is tie-order independent; (r-1)/n is one long/long IEEE
    # division in both engines.
    w = Window.orderBy("avg_nll")
    return (
        out.withColumn("r", F.rank().over(w))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy()))
        .select(
            "doc_id",
            "n_scored",
            "avg_nll",
            (
                (F.col("r") - F.lit(1)) / F.col("n") < F.lit(keep_frac)
            ).alias("keep"),
        )
    )


def perplexity_score_sql(
    table: str = "documents",
    keep_nll: float = 3.4,
    keep_frac: float | None = None,
    smoothing: str = "addone",
    discount: float = 0.75,
) -> str:
    """DuckDB twin of :func:`perplexity_score` (see the module
    docstring for the ln determinism argument). The ``kn`` branch
    mirrors the Spark expression's association order term by term;
    ``contexts`` doubles as (c1, T) and the continuation/distinct
    statistics come from the same ``bigrams`` CTE the model uses."""
    t = tokens_sql("text")
    if smoothing == "kn":
        d = repr(discount)
        dtv = "((SELECT dt FROM dtc) + (SELECT v FROM vocab))"
        pc = f"(COALESCE(np.n1p, 0) + 1) / {dtv}"
        q_expr = f"""FLOOR(-ln(CASE WHEN COALESCE(c.c1, 0) = 0
                       THEN {pc}
                       ELSE GREATEST(COALESCE(b.c2, 0) - {d}, 0.0) / c.c1
                            + (({d} * c.t) / c.c1) * ({pc})
                       END)
                       * 1000000000 + 0.5)::BIGINT"""
        return f"""
        WITH staged AS (
            SELECT doc_id, list_prepend('{BOS}', {t}) AS t FROM {table}
        ),
        bg AS (
            SELECT doc_id, t[i] AS w1, t[i+1] AS w2
            FROM staged,
                 LATERAL unnest(generate_series(1, len(t) - 1)) AS u(i)
        ),
        bigrams AS (
            SELECT w1, w2, COUNT(*)::BIGINT AS c2 FROM bg GROUP BY w1, w2
        ),
        contexts AS (
            SELECT w1, SUM(c2)::BIGINT AS c1, COUNT(*)::BIGINT AS t
            FROM bigrams GROUP BY w1
        ),
        n1pc AS (
            SELECT w2, COUNT(*)::BIGINT AS n1p FROM bigrams GROUP BY w2
        ),
        dtc AS (SELECT COUNT(*)::BIGINT AS dt FROM bigrams),
        vocab AS (SELECT COUNT(DISTINCT w2) AS v FROM bg),
        scored AS (
            SELECT bg.doc_id, {q_expr} AS q
            FROM bg
            LEFT JOIN bigrams b USING (w1, w2)
            LEFT JOIN contexts c USING (w1)
            LEFT JOIN n1pc np USING (w2)
        ),
        per_doc AS (
            SELECT doc_id, COUNT(*)::BIGINT AS n_scored,
                   SUM(q)::BIGINT AS qsum
            FROM scored GROUP BY doc_id
        )
        {"" if keep_frac is None else ''', base AS ('''}
        SELECT d.doc_id,
               COALESCE(p.n_scored, 0)::BIGINT AS n_scored,
               ROUND(COALESCE((p.qsum / 1000000000.0) / p.n_scored, 0.0), 6)
                   AS avg_nll,
               ROUND(COALESCE((p.qsum / 1000000000.0) / p.n_scored, 0.0), 6)
                   <= {keep_nll} AS keep
        FROM {table} d LEFT JOIN per_doc p USING (doc_id)
        {f'''
        )
        SELECT doc_id, n_scored, avg_nll,
               ((RANK() OVER (ORDER BY avg_nll)) - 1)
                   / (COUNT(*) OVER ())::DOUBLE < {keep_frac} AS keep
        FROM base
        ''' if keep_frac is not None else ""}
    """
    if smoothing != "addone":
        raise ValueError(f"unknown smoothing: {smoothing!r}")
    return f"""
        WITH staged AS (
            SELECT doc_id, list_prepend('{BOS}', {t}) AS t FROM {table}
        ),
        bg AS (
            SELECT doc_id, t[i] AS w1, t[i+1] AS w2
            FROM staged,
                 LATERAL unnest(generate_series(1, len(t) - 1)) AS u(i)
        ),
        bigrams AS (
            SELECT w1, w2, COUNT(*)::BIGINT AS c2 FROM bg GROUP BY w1, w2
        ),
        contexts AS (
            SELECT w1, COUNT(*)::BIGINT AS c1 FROM bg GROUP BY w1
        ),
        vocab AS (SELECT COUNT(DISTINCT w2) AS v FROM bg),
        scored AS (
            SELECT bg.doc_id,
                   FLOOR(-ln((COALESCE(b.c2, 0) + 1)
                       / (COALESCE(c.c1, 0) + (SELECT v FROM vocab)))
                       * 1000000000 + 0.5)::BIGINT AS q
            FROM bg
            LEFT JOIN bigrams b USING (w1, w2)
            LEFT JOIN contexts c USING (w1)
        ),
        per_doc AS (
            SELECT doc_id, COUNT(*)::BIGINT AS n_scored,
                   SUM(q)::BIGINT AS qsum
            FROM scored GROUP BY doc_id
        )
        {"" if keep_frac is None else ''', base AS ('''}
        SELECT d.doc_id,
               COALESCE(p.n_scored, 0)::BIGINT AS n_scored,
               ROUND(COALESCE((p.qsum / 1000000000.0) / p.n_scored, 0.0), 6)
                   AS avg_nll,
               ROUND(COALESCE((p.qsum / 1000000000.0) / p.n_scored, 0.0), 6)
                   <= {keep_nll} AS keep
        FROM {table} d LEFT JOIN per_doc p USING (doc_id)
        {f'''
        )
        SELECT doc_id, n_scored, avg_nll,
               ((RANK() OVER (ORDER BY avg_nll)) - 1)
                   / (COUNT(*) OVER ())::DOUBLE < {keep_frac} AS keep
        FROM base
        ''' if keep_frac is not None else ""}
    """


def dsir_select(
    docs: DataFrame,
    text_col: str = "text",
    target_modulus: int = 13,
    budget: int = 150,
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023, arXiv:2302.03169), the importance-weighting recipe behind
    target-domain data curation: estimate feature distributions for a
    TARGET sample and the RAW corpus, score every raw doc by the
    log-likelihood ratio ``log p_target(x) − log p_raw(x)``, and keep
    the ``budget`` highest-weight docs. The published method hashes
    n-grams into buckets; here both distributions are the add-one
    bigram models this module already builds, so the whole operator
    reuses the deterministic LM machinery (the target split is
    ``doc_id % target_modulus == 0`` — the same deterministic-split
    convention as the decontamination oracles).

    Per-doc weight = mean over the doc's bigrams of the quantized
    per-pair ``nll_raw − nll_target`` (exact-long sums of 1e-9
    quantized terms — the module's standard discipline, so the score
    is partition- and engine-order independent; ties on the rounded
    weight break by doc_id). Output: the selected docs as
    (doc_id, n_scored, weight, rank).

    Scale shape: two model builds (each one corpus scan into
    vocab²-bounded count tables) + one scoring probe (two keyed joins
    against the tiny models + one per-doc agg) + a global top-budget
    — TakeOrdered-shaped via rank window over ONLY the scored doc
    rows (one row per doc, not per token).
    """
    target = docs.filter(F.pmod(F.col("doc_id"), F.lit(target_modulus)) == 0)
    t_bigrams, t_contexts, _t_vocab = train_bigram_lm(target, text_col)
    r_bigrams, r_contexts, r_vocab = train_bigram_lm(docs, text_col)
    bg = _doc_bigrams(docs, text_col)
    t_b = t_bigrams.select("w1", "w2", F.col("c2").alias("t_c2"))
    t_c = t_contexts.select("w1", F.col("c1").alias("t_c1"))
    r_b = r_bigrams.select("w1", "w2", F.col("c2").alias("r_c2"))
    r_c = r_contexts.select("w1", F.col("c1").alias("r_c1"))
    # BOTH smoothing denominators use the RAW vocabulary: the
    # importance ratio needs one shared feature space (per DSIR's
    # hashed shared features). A per-model vocab would hand every
    # target-UNSEEN bigram probability 1/V_target — which on a small
    # target sample can exceed seen-bigram probabilities and rank
    # off-target docs ABOVE target-like ones (caught by the
    # vocab-disjointness pytest).
    nll_t = -F.log(
        (F.coalesce(F.col("t_c2"), F.lit(0)) + F.lit(1))
        / (F.coalesce(F.col("t_c1"), F.lit(0)) + F.lit(r_vocab))
    )
    nll_r = -F.log(
        (F.coalesce(F.col("r_c2"), F.lit(0)) + F.lit(1))
        / (F.coalesce(F.col("r_c1"), F.lit(0)) + F.lit(r_vocab))
    )
    scored = (
        bg.join(t_b, ["w1", "w2"], "left")
        .join(t_c, "w1", "left")
        .join(r_b, ["w1", "w2"], "left")
        .join(r_c, "w1", "left")
        .select(
            "doc_id",
            F.floor((nll_r - nll_t) * F.lit(10**9) + F.lit(0.5))
            .cast("long")
            .alias("q"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        F.sum("q").alias("qsum"),
    )
    weighted = per_doc.select(
        "doc_id",
        "n_scored",
        F.round(
            (F.col("qsum") / F.lit(1e9)) / F.col("n_scored"), 6
        ).alias("weight"),
    )
    # top-budget via orderBy+limit = TakeOrderedAndProject (per-
    # partition top-k + driver merge — never a single-partition window
    # over every doc row); the rank window then runs over only the
    # budget-sized survivors.
    top = weighted.orderBy(
        F.col("weight").desc(), F.col("doc_id").asc()
    ).limit(budget)
    w = Window.orderBy(F.col("weight").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def dsir_select_sql(
    table: str = "documents",
    target_modulus: int = 13,
    budget: int = 150,
) -> str:
    """DuckDB twin of :func:`dsir_select`."""
    t = tokens_sql("text")
    return f"""
        WITH staged AS (
            SELECT doc_id, list_prepend('{BOS}', {t}) AS t FROM {table}
        ),
        bg AS (
            SELECT doc_id, t[i] AS w1, t[i+1] AS w2
            FROM staged,
                 LATERAL unnest(generate_series(1, len(t) - 1)) AS u(i)
        ),
        tbg AS (SELECT * FROM bg WHERE doc_id % {target_modulus} = 0),
        t_bigrams AS (
            SELECT w1, w2, COUNT(*)::BIGINT AS t_c2 FROM tbg GROUP BY w1, w2
        ),
        t_contexts AS (
            SELECT w1, SUM(t_c2)::BIGINT AS t_c1 FROM t_bigrams GROUP BY w1
        ),
        r_bigrams AS (
            SELECT w1, w2, COUNT(*)::BIGINT AS r_c2 FROM bg GROUP BY w1, w2
        ),
        r_contexts AS (
            SELECT w1, SUM(r_c2)::BIGINT AS r_c1 FROM r_bigrams GROUP BY w1
        ),
        r_vocab AS (SELECT COUNT(DISTINCT w2) AS v FROM r_bigrams),
        scored AS (
            SELECT bg.doc_id,
                   FLOOR((
                       -ln((COALESCE(rb.r_c2, 0) + 1)
                           / (COALESCE(rc.r_c1, 0) + (SELECT v FROM r_vocab)))
                       - -ln((COALESCE(tb.t_c2, 0) + 1)
                           / (COALESCE(tc.t_c1, 0) + (SELECT v FROM r_vocab)))
                   ) * 1000000000 + 0.5)::BIGINT AS q
            FROM bg
            LEFT JOIN t_bigrams tb USING (w1, w2)
            LEFT JOIN t_contexts tc USING (w1)
            LEFT JOIN r_bigrams rb USING (w1, w2)
            LEFT JOIN r_contexts rc USING (w1)
        ),
        per_doc AS (
            SELECT doc_id, COUNT(*)::BIGINT AS n_scored,
                   SUM(q)::BIGINT AS qsum
            FROM scored GROUP BY doc_id
        ),
        weighted AS (
            SELECT doc_id, n_scored,
                   ROUND((qsum / 1000000000.0) / n_scored, 6) AS weight
            FROM per_doc
        )
        SELECT doc_id, n_scored, weight,
               ROW_NUMBER() OVER (
                   ORDER BY weight DESC, doc_id ASC
               )::BIGINT AS rank
        FROM weighted
        QUALIFY rank <= {budget}
    """
