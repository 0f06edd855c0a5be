"""Distributed BPE: learn a byte-pair-encoding vocabulary FROM the
corpus, then tokenize with it (SURVEY.md §2.3 extension surface; the
reference engine has no text operators — SURVEY §2.2).

``text.token_counts`` ships a regex "BPE-ish" piece count because a
real BPE needs a vocabulary artifact this container doesn't ship. This
module removes that boundary: the vocabulary is LEARNED from the corpus
itself with the classic Sennrich/Haddow/Birch algorithm (arXiv
1508.07909, the GPT-2/RoBERTa tokenizer family), expressed Spark-first.

Scale shape — the part that must survive 100 TB:

- **Learning never iterates over the corpus.** One corpus scan builds
  the distinct-word frequency table (`word_freqs`: explode pretokens →
  one hash agg). Every merge iteration then runs on THAT table —
  bounded by vocabulary size (millions of rows at web scale, not
  corpus rows), exactly how reference BPE trainers operate on word
  counts. Per iteration: one pair-count aggregation (explode adjacent
  symbol pairs weighted by word freq → groupBy sum) + a
  TakeOrderedAndProject argmax (count desc, pair asc — fully
  deterministic), then a row-local fold rewrites the symbol arrays.
  ``localCheckpoint(eager=False)`` truncates lineage each round (the
  next probe's job materializes it) — same iterative discipline as
  ``dedup.neardup_clusters`` (SCALE.md: local checkpoints).
- **The driver holds only the merge list** (``num_merges`` pairs), and
  per-iteration collect is ONE row (the argmax). Nothing
  corpus-proportional ever reaches the driver.
- **Tokenization is one Arrow-batched pass.** ``bpe_tokenize`` applies
  the learned ranks with the standard lowest-rank-first merge loop in
  a pandas UDF — Python, but (a) Arrow-batched, never per-row
  pickling, and (b) memoized per distinct pretoken, so per-batch cost
  is bounded by the vocabulary actually present, not by token count
  (the same justification as the multimodal decode UDFs). Encoding is
  embarrassingly parallel: no shuffle, scan-local.

Not DuckDB-expressible (the merge loop is iterative and the argmax
feeds the next iteration's expressions), so like
``functions/avro_generic.py`` this surface is pinned by pytest instead
of the driver oracle: merges are asserted equal to a pure-Python
reference implementation of the published algorithm on both a
hand-golden corpus (the Sennrich paper example) and the fixture
corpus, and tokenization must exactly reconstruct its input.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F
import pyspark.sql.types as T

from teste_carga_avro_vs_json_spark.operators.text import _BPE_RE

#: End-of-word marker, per Sennrich et al. §3.2 — keeps merges from
#: crossing word boundaries and lets detokenization restore spacing.
END = "</w>"


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the corpus — the ONLY corpus-wide scan of BPE
    learning. Pretokens are the same regex pieces as
    ``text.token_counts`` (letter runs / digit runs / single other
    chars), so the learned vocabulary plugs into the existing
    token-count surface."""
    return (
        docs.select(
            F.explode(
                F.regexp_extract_all(text_col, F.lit(_BPE_RE), 0)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _chars_with_end(word: Column) -> Column:
    """'low' -> ['l','o','w','</w>'] as a pure expression."""
    return F.concat(
        F.transform(
            F.sequence(F.lit(1), F.length(word)),
            lambda i: F.substr(word, i, F.lit(1)),
        ),
        F.array(F.lit(END)),
    )


def _adjacent_pairs(sym: Column) -> Column:
    """[(s[0],s[1]), (s[1],s[2]), …, (s[n-1], null)] — zip_with pads the
    shorter (shifted) side with null, which marks the final sentinel
    pair that both the counter and the merge fold ignore."""
    shifted = F.slice(sym, 2, F.greatest(F.size(sym) - 1, F.lit(0)))
    return F.zip_with(
        sym, shifted, lambda x, y: F.struct(x.alias("a"), y.alias("b"))
    )


def _apply_merge(sym: Column, a: str, b: str) -> Column:
    """Rewrite one symbol array for merge (a, b) -> ab, left-to-right
    non-overlapping (the published rule: in 'aaa' with merge (a,a) the
    first two merge, the third survives). Row-local fold over the
    adjacent-pair view; O(k²) array building per word is fine because
    pretokens are short."""
    zero = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(False).alias("skip"),
    )

    def step(acc: Column, p: Column) -> Column:
        return (
            F.when(
                acc["skip"],
                F.struct(acc["out"].alias("out"), F.lit(False).alias("skip")),
            )
            .when(
                (p["a"] == F.lit(a)) & (p["b"] == F.lit(b)),
                F.struct(
                    F.concat(acc["out"], F.array(F.lit(a + b))).alias("out"),
                    F.lit(True).alias("skip"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(p["a"])).alias("out"),
                    F.lit(False).alias("skip"),
                )
            )
        )

    return F.aggregate(
        _adjacent_pairs(sym), zero, step, lambda acc: acc["out"]
    )


def bpe_learn(
    docs: DataFrame,
    num_merges: int = 50,
    min_freq: int = 2,
    text_col: str = "text",
    stats: dict | None = None,
) -> list[tuple[str, str]]:
    """Learn up to ``num_merges`` BPE merge rules from the corpus.

    Stops early when the best remaining pair's corpus frequency falls
    below ``min_freq`` (nothing left worth merging). The argmax
    tie-break is (count desc, pair lexicographic asc) — fully
    deterministic, pinned against the pure-Python reference in pytest.
    """
    wf = word_freqs(docs, text_col)
    cur = wf.select(
        "freq", _chars_with_end(F.col("word")).alias("sym")
    ).localCheckpoint(eager=False)
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs = (
            cur.select("freq", F.explode(_adjacent_pairs(F.col("sym"))).alias("p"))
            .filter(F.col("p.b").isNotNull())
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
        )
        best = pairs.orderBy(
            F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc()
        ).take(1)
        if not best or best[0].cnt < min_freq:
            break
        a, b = best[0].a, best[0].b
        merges.append((a, b))
        cur = cur.select(
            "freq", _apply_merge(F.col("sym"), a, b).alias("sym")
        ).localCheckpoint(eager=False)
    if stats is not None:
        stats["n_merges"] = len(merges)
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Reference merge loop (lowest-rank-first), used inside the
    tokenize UDF. Identical to applying the learned merges in order —
    the standard equivalence the GPT-2 encoder relies on."""
    syms = list(word) + [END]
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_tokenize(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, tokens, n_pretokens, n_bpe_tokens): tokenize every doc
    with the learned merge table. Scan-local (zero shuffle); the UDF is
    Arrow-batched and memoizes per distinct pretoken, so cost per batch
    is bounded by the live vocabulary."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def encode(texts: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import re

        rx = re.compile(_BPE_RE)
        memo: dict[str, list[str]] = {}

        def enc(text: str) -> list[str]:
            out: list[str] = []
            for w in rx.findall(text or ""):
                toks = memo.get(w)
                if toks is None:
                    toks = _encode_word(w, ranks)
                    memo[w] = toks
                out.extend(toks)
            return out

        for batch in texts:
            yield batch.map(enc)

    staged = docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(text_col, F.lit(_BPE_RE), 0)).alias(
            "n_pretokens"
        ),
        encode(F.col(text_col)).alias("tokens"),
    )
    return staged.select(
        "doc_id",
        "tokens",
        "n_pretokens",
        F.size("tokens").cast("long").alias("n_bpe_tokens"),
    )
