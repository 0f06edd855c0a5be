"""BM25 top-k retrieval over the document corpus (Robertson &
Spärck Jones probabilistic relevance framework; the Okapi BM25
formulation of Robertson et al., TREC-3). The classic corpus-search
primitive every training-data pipeline ends up needing — locating the
documents most relevant to a probe query (eval-set leakage forensics,
targeted corpus slicing, RAG retrieval baselines). The reference
engine has no text operators (SURVEY.md §2.2); this is extension
surface alongside the dedup/selection family.

Spark-first shape — the query side is SMALL and drives everything:

- **Corpus stats are one aggregation** (N docs, Σ dl) collected as two
  scalars (bounded driver collect, same convention as
  ``lm.train_bigram_lm``'s vocab count); ``avgdl`` is one exact-long
  IEEE division.
- **The probe is explode → broadcast-inner-join.** Doc tokens explode
  to (doc_id, dl, tok) and inner-join the broadcast distinct
  query-term table: everything that matches no query term dies
  JVM-side at the join — the shuffle that follows carries MATCHED
  tokens only, keyed (doc_id, term) with map-side combine. Same
  broadcast-gram-probe shape as ``decontam.decontaminate``. The
  ``explode_outer`` + null-filter-on-the-Generate-output idiom avoids
  InferFiltersFromGenerate re-running the tokenizer below the Generate
  (see decontam.py; ``plans.expensive_filter_nodes`` pins it).
- **df / idf are aggregations of the tiny matched frame** (≤ terms ×
  docs-matched rows), never a corpus-wide term dictionary: BM25 only
  needs document frequencies for the query's own terms.
- **Top-k is a per-query window** over matched docs (exact long sort
  key, doc_id tie-break). #queries is small so the partition count is
  the query count; at 100 TB a hot query's matched set can still be
  large — production path is a per-query ``TakeOrdered``/two-stage
  partial top-k; this exact window form is kept because it is
  oracle-checkable (same note as ``corpus.temperature_sample``).

Determinism (the repo rule — doubles only as fixed per-row IEEE-754
sequences from exact longs, transcendentals quantized immediately):
tf/df/dl/N are exact longs; ``idf = ln((N − df + 0.5)/(df + 0.5) + 1)``
is quantized to 1e-9 longs straight out of ``ln`` (the lm.py
discipline — JVM ``Math.log`` vs DuckDB libm 1-ulp exposure is bounded
by distinct df values, i.e. ≤ #query terms); each term's contribution
``idf_q · (tf·(k1+1))/(tf + k1·((1−b) + b·(dl/avgdl)))`` is one fixed
per-row double sequence floored to a long, so the per-(query, doc) sum
is exact integer arithmetic — shuffle-order- and engine-independent.
The ranking key is the raw long sum, never the rounded double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F
from pyspark.sql.window import Window

from teste_carga_avro_vs_json_spark.operators.text import tokens, tokens_sql

#: Probe queries for the oracle surface: "dup" is the fixture's one
#: rare (discriminative) term; the others mix common terms so the
#: dl-normalization arithmetic is exercised on near-saturated df.
DEFAULT_QUERIES: list[tuple[int, str]] = [
    (0, "dup hash join"),
    (1, "customer query order"),
    (2, "vector scan the"),
]


def _query_terms(queries: list[tuple[int, str]]) -> list[tuple[int, str]]:
    """Distinct (q_id, term) pairs, whitespace-tokenized with the same
    convention as :func:`text.tokens`. BM25 over a query MULTISET would
    weight repeated terms; the distinct-set form is the common IR
    default and is what the oracle mirrors."""
    out = []
    seen = set()
    for q_id, qtext in queries:
        for term in qtext.split():
            if term and (q_id, term) not in seen:
                seen.add((q_id, term))
                out.append((q_id, term))
    return out


def _bm25_agg(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k1: float,
    b: float,
    text_col: str,
) -> DataFrame | None:
    """The shared BM25 scoring frame (q_id, doc_id, n_terms, qsum) —
    quantized-integer per-(query, doc) sums; ``None`` for an empty
    corpus. Two corpus scans total: one stats aggregation, one probe.
    :func:`bm25_topk` ranks it; :func:`hard_negatives` excludes
    positives first."""
    spark = docs.sparkSession
    staged = docs.select("doc_id", tokens(text_col).alias("toks"))
    row = staged.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.size("toks").cast("long")).alias("sdl"),
    ).first()
    n_docs, sdl = int(row["n"] or 0), int(row["sdl"] or 0)
    if n_docs == 0:
        return None
    # float(sdl) FIRST: the oracle computes sdl::DOUBLE / n, and for
    # sdl > 2^53 CPython's exact int/int rounding would diverge from
    # the convert-then-divide sequence — mirror DuckDB's op order.
    avgdl = float(sdl) / n_docs

    qt = spark.createDataFrame(_query_terms(queries), "q_id long, term string")
    terms = qt.select("term").distinct()

    tok = (
        staged.select(
            "doc_id",
            F.expr("CAST(size(toks) AS BIGINT)").alias("dl"),
            F.explode_outer("toks").alias("tok"),
        )
        .filter(F.col("tok").isNotNull())
    )
    tf = (
        tok.join(F.broadcast(terms), tok["tok"] == terms["term"], "inner")
        .groupBy("doc_id", "term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("tf"),
            F.max("dl").alias("dl"),
        )
    )
    # idf quantized to 1e-9 longs straight out of ln (lm.py discipline);
    # parsed fragments (r13-opt, text.tokens_sx note) — double literals
    # emitted via repr + D suffix, the exact-round-trip discipline of
    # similarity._dlit, so the arithmetic is the same IEEE-754 sequence
    dfs = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    idf = dfs.select(
        "term",
        F.expr(
            f"CAST(floor(ln((({n_docs} - df) + 0.5D) / (df + 0.5D) + 1.0D)"
            " * 1000000000 + 0.5D) AS BIGINT)"
        ).alias("idf_q"),
    )
    frac = (
        f"(tf * {float(k1 + 1.0)!r}D) / "
        f"(tf + {float(k1)!r}D * ({float(1.0 - b)!r}D + {float(b)!r}D"
        f" * (dl / {float(avgdl)!r}D)))"
    )
    contrib = (
        tf.join(F.broadcast(idf), "term")
        .join(F.broadcast(qt), "term")
        .select(
            "q_id",
            "doc_id",
            F.expr(
                f"CAST(floor(idf_q * {frac} + 0.5D) AS BIGINT)"
            ).alias("c"),
        )
    )
    return contrib.groupBy("q_id", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("c").alias("qsum"),
    )


_BM25_OUT_SCHEMA = (
    "q_id long, doc_id long, rnk long, n_terms long, score double"
)
def _bm25_rank_w():
    # built lazily: Window construction needs an active SparkContext
    return Window.partitionBy("q_id").orderBy(
        F.desc("qsum"), F.asc("doc_id")
    )


def _bm25_rank(agg: DataFrame, k: int) -> DataFrame:
    return (
        agg.withColumn(
            "rnk", F.row_number().over(_bm25_rank_w()).cast("long")
        )
        .filter(F.col("rnk") <= F.lit(k))
        .select(
            "q_id",
            "doc_id",
            "rnk",
            "n_terms",
            F.round(F.col("qsum") / F.lit(1e9), 6).alias("score"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    queries: list[tuple[int, str]] | None = None,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` documents per query by BM25 score.

    Returns (q_id, doc_id, rnk, n_terms, score): rank within the query
    (1-based, qsum-desc / doc_id-asc tie-break), the number of the
    query's distinct terms the doc matched, and the BM25 score rounded
    to 6 dp. Docs matching no query term never appear (score 0). Query
    terms absent from the corpus contribute nothing (no df row — the
    standard convention).

    Two corpus scans total: one stats aggregation, one probe.
    """
    if queries is None:
        queries = DEFAULT_QUERIES
    agg = _bm25_agg(docs, queries, k1, b, text_col)
    if agg is None:
        return docs.sparkSession.createDataFrame([], _BM25_OUT_SCHEMA)
    return _bm25_rank(agg, k)


def hard_negatives(
    docs: DataFrame,
    queries: list[tuple[int, str]] | None = None,
    positives: list[tuple[int, int]] | None = None,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
) -> DataFrame:
    """BM25 hard-negative mining — the DPR/contrastive-training recipe
    (Karpukhin et al. 2020 §4.2: the strongest-scoring NON-relevant
    passages make the best training negatives): the top-``k`` scored
    docs per query AFTER excluding that query's known positives, ranks
    renumbered over the survivors.

    ``positives`` is the relevance list as (q_id, doc_id) pairs; when
    ``None`` the rank-1 BM25 hit per query is taken as the (weak)
    positive — the standard self-supervised bootstrap when no
    judgments exist. Same output shape as :func:`bm25_topk`; the same
    quantized-integer scoring keeps the DuckDB twin hash-exact. One
    extra broadcast anti-join over :func:`bm25_topk` — the positives
    side is always tiny."""
    if queries is None:
        queries = DEFAULT_QUERIES
    spark = docs.sparkSession
    agg = _bm25_agg(docs, queries, k1, b, text_col)
    if agg is None:
        return spark.createDataFrame([], _BM25_OUT_SCHEMA)
    if positives is None:
        # rank-1-as-weak-positive reduces to ONE ranking pass: the
        # negatives are exactly ranks 2..k+1 shifted down — no second
        # scoring of the corpus, no anti-join (plan audit: halves the
        # exchange count vs the naive exclude-then-rerank form)
        return (
            agg.withColumn(
                "rnk0", F.row_number().over(_bm25_rank_w()).cast("long")
            )
            .filter(
                (F.col("rnk0") >= 2) & (F.col("rnk0") <= F.lit(k + 1))
            )
            .select(
                "q_id",
                "doc_id",
                (F.col("rnk0") - 1).alias("rnk"),
                "n_terms",
                F.round(F.col("qsum") / F.lit(1e9), 6).alias("score"),
            )
        )
    pos = spark.createDataFrame(positives, "q_id long, doc_id long")
    neg = agg.join(F.broadcast(pos), ["q_id", "doc_id"], "left_anti")
    return _bm25_rank(neg, k)


def _bm25_agg_ctes(
    queries: list[tuple[int, str]],
    k1: float,
    b: float,
    table: str,
) -> str:
    """The shared CTE chain through ``agg`` (DuckDB twin of
    :func:`_bm25_agg`) — every double op mirrors the Spark
    expression's association order term by term (constants are
    pre-folded in Python and emitted via repr so both engines parse
    the identical decimal literal)."""
    qvals = ", ".join(
        f"({q_id}, '{term}')" for q_id, term in _query_terms(queries)
    )
    t = tokens_sql("text")
    k1p1, onemb = repr(k1 + 1.0), repr(1.0 - b)
    return f"""
        WITH q(q_id, term) AS (VALUES {qvals}),
        toked AS (SELECT doc_id, {t} AS t FROM {table}),
        stats AS (
            SELECT COUNT(*)::BIGINT AS n, SUM(len(t))::BIGINT AS sdl
            FROM toked
        ),
        tok AS (
            SELECT doc_id, len(t)::BIGINT AS dl, unnest(t) AS tok
            FROM toked
        ),
        tf AS (
            SELECT doc_id, tok AS term, COUNT(*)::BIGINT AS tf,
                   MAX(dl) AS dl
            FROM tok
            WHERE tok IN (SELECT DISTINCT term FROM q)
            GROUP BY doc_id, tok
        ),
        dfs AS (SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY term),
        idf AS (
            SELECT term,
                   FLOOR(ln((((SELECT n FROM stats) - df) + 0.5)
                             / (df + 0.5) + 1.0)
                         * 1000000000 + 0.5)::BIGINT AS idf_q
            FROM dfs
        ),
        contrib AS (
            SELECT q.q_id, tf.doc_id,
                   FLOOR(idf.idf_q
                         * ((tf.tf * {k1p1})
                            / (tf.tf + {k1!r}
                               * ({onemb} + {b!r}
                                  * (tf.dl
                                     / ((SELECT sdl FROM stats)::DOUBLE
                                        / (SELECT n FROM stats))))))
                         + 0.5)::BIGINT AS c
            FROM tf
            JOIN idf ON tf.term = idf.term
            JOIN q ON tf.term = q.term
        ),
        agg AS (
            SELECT q_id, doc_id, COUNT(*)::BIGINT AS n_terms,
                   SUM(c)::BIGINT AS qsum
            FROM contrib GROUP BY q_id, doc_id
        )"""


def bm25_topk_sql(
    queries: list[tuple[int, str]] | None = None,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`bm25_topk`."""
    if queries is None:
        queries = DEFAULT_QUERIES
    return f"""
        {_bm25_agg_ctes(queries, k1, b, table)},
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY q_id ORDER BY qsum DESC, doc_id
                   )::BIGINT AS rnk
            FROM agg
        )
        SELECT q_id, doc_id, rnk, n_terms,
               ROUND(qsum / 1000000000.0, 6) AS score
        FROM ranked WHERE rnk <= {k}
    """


def hard_negatives_sql(
    queries: list[tuple[int, str]] | None = None,
    positives: list[tuple[int, int]] | None = None,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`hard_negatives` (anti-join the positives,
    re-rank the survivors)."""
    if queries is None:
        queries = DEFAULT_QUERIES
    if positives is None:
        pos = """pos AS (
            SELECT q_id, doc_id FROM (
                SELECT q_id, doc_id, ROW_NUMBER() OVER (
                           PARTITION BY q_id ORDER BY qsum DESC, doc_id
                       ) AS r0
                FROM agg
            ) WHERE r0 = 1
        )"""
    else:
        pvals = ", ".join(f"({q}, {d})" for q, d in positives)
        pos = f"pos(q_id, doc_id) AS (VALUES {pvals})"
    return f"""
        {_bm25_agg_ctes(queries, k1, b, table)},
        {pos},
        neg AS (
            SELECT agg.* FROM agg
            ANTI JOIN pos
            ON agg.q_id = pos.q_id AND agg.doc_id = pos.doc_id
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY q_id ORDER BY qsum DESC, doc_id
                   )::BIGINT AS rnk
            FROM neg
        )
        SELECT q_id, doc_id, rnk, n_terms,
               ROUND(qsum / 1000000000.0, 6) AS score
        FROM ranked WHERE rnk <= {k}
    """
