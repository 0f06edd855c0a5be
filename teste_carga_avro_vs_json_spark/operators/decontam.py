"""Train/test decontamination — benchmark-overlap detection by word
n-gram collision (SURVEY.md §2.3 extension surface; the reference
engine has no corpus operators).

The standard pre-training hygiene step (GPT-3 appendix C / PaLM §7
style): a training document is *contaminated* when it shares at least
one word n-gram with any document of an evaluation/test set (n = 13 in
the published recipes; configurable here). The operator returns
per-train-doc overlap stats, so callers can either drop contaminated
docs (``filter(~contaminated)``) or audit the overlap rate.

Plan shape (the part that must survive 100 TB of train docs):

- Per-doc n-gram sets are built ROW-LOCALLY (``array_distinct`` over
  the staged token array — same staging discipline as
  ``dedup._shingled``: tokenizer runs once per row, shingling is O(k)
  array ops per row). No shuffle is spent making grams distinct.
- The test side reduces to DISTINCT grams first (one small agg), so
  the probe join is train-grams ⋈ test-gram-SET — never train × test
  docs. With ``broadcast_test=True`` (default: eval suites are tiny
  next to a training corpus) the join is a broadcast hash join and the
  whole detection costs ONE scan of the train corpus plus a final
  doc_id-keyed count agg. For a pathologically large test side, pass
  ``broadcast_test=False`` and the gram join becomes a keyed shuffle.
- Ids-first discipline: only (doc_id, gram) pairs ride the join —
  never the document text. ``scale=True`` additionally replaces gram
  STRINGS with 8-byte ``xxhash64`` keys on both sides before the join
  (n-word grams are long; at 100 TB the gram bytes dominate the
  exploded stream). Not DuckDB-expressible — pytest pins agreement
  with the exact-string path, same convention as
  ``dedup.exact_dedup_scale``.
- The zero-hit docs are kept via ``explode_outer`` + left join (a doc
  shorter than n words has n_grams = 0, n_hits = 0) — and outer
  explode also means InferFiltersFromGenerate cannot materialize a
  ``size(grams) > 0`` filter that would re-run the shingling per row
  (see plans.expensive_filter_nodes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from teste_carga_avro_vs_json_spark.operators import dedup
from teste_carga_avro_vs_json_spark.operators.dedup import shingles_sql


def _gram_key(gram: Column, scale: bool) -> Column:
    if not scale:
        return gram
    # Null-safe: xxhash64 SKIPS null inputs (returning the bare seed),
    # so a zero-gram doc's null placeholder would otherwise get a real
    # 64-bit key that a test gram could in principle collide with; a
    # null key joins nothing, exactly like the string path.
    return F.when(gram.isNotNull(), F.xxhash64(gram))


def decontaminate(
    train: DataFrame,
    test: DataFrame,
    n: int = 13,
    scale: bool = False,
    broadcast_test: bool = True,
) -> DataFrame:
    """Per-train-doc contamination stats against ``test``'s n-grams.

    Returns (doc_id, n_grams, n_hits, contaminated): the count of the
    doc's DISTINCT word n-grams, how many of them occur anywhere in the
    test set, and the standard drop flag (``n_hits > 0``).
    """
    base = dedup._shingled(train, n, nonempty=False)
    per = base.select(
        "doc_id",
        F.size("sh").cast("long").alias("n_grams"),
        F.explode_outer("sh").alias("gram"),
    ).withColumn("gkey", _gram_key(F.col("gram"), scale))
    # explode_outer + null filter, not inner explode: the inner form
    # lets InferFiltersFromGenerate materialize size(shingles(...)) > 0
    # below the Generate, re-running the shingling per test doc (caught
    # by plans.expensive_filter_nodes). The null filter sits on the
    # Generate's OUTPUT attribute, so nothing expensive is substituted.
    tg = (
        dedup._shingled(test, n, nonempty=False)
        .select(F.explode_outer("sh").alias("gram"))
        .filter(F.col("gram").isNotNull())
        .select(_gram_key(F.col("gram"), scale).alias("gkey"))
        .distinct()
        .withColumn("hit", F.lit(1).cast("long"))
    )
    if broadcast_test:
        tg = F.broadcast(tg)
    return (
        per.join(tg, "gkey", "left")
        .groupBy("doc_id")
        .agg(
            F.max("n_grams").alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"),
        )
        .withColumn("contaminated", F.col("n_hits") > 0)
    )


def decontaminate_sql(
    table: str = "documents", n: int = 13, test_modulus: int = 17
) -> str:
    """DuckDB twin over the deterministic ``doc_id % test_modulus == 0``
    test split of ``table`` (the registry query uses the same split).
    Zero-gram and zero-hit docs survive via the hits LEFT JOIN (DuckDB's
    unnest drops empty-list rows, so per-doc totals come from the
    un-exploded frame)."""
    sh = shingles_sql("text", n)
    return f"""
        WITH train AS (
            SELECT doc_id, {sh} AS grams FROM {table}
            WHERE doc_id % {test_modulus} <> 0
        ),
        test AS (
            SELECT {sh} AS grams FROM {table}
            WHERE doc_id % {test_modulus} = 0
        ),
        tgram AS (SELECT DISTINCT unnest(grams) AS gram FROM test),
        per AS (SELECT doc_id, unnest(grams) AS gram FROM train),
        hits AS (
            SELECT p.doc_id, COUNT(*)::BIGINT AS n_hits
            FROM per p JOIN tgram t USING (gram) GROUP BY p.doc_id
        )
        SELECT tr.doc_id,
               len(tr.grams)::BIGINT AS n_grams,
               COALESCE(h.n_hits, 0)::BIGINT AS n_hits,
               COALESCE(h.n_hits, 0) > 0 AS contaminated
        FROM train tr LEFT JOIN hits h USING (doc_id)
    """
