"""Unigram-LM subword tokenizer — the SentencePiece algorithm (Kudo
2018, arXiv:1804.10959 §3; Kudo & Richardson 2018, arXiv:1808.06226),
the OTHER major tokenizer family next to BPE (``operators/bpe.py``):
LLaMA/T5-lineage vocabularies are unigram models. The reference engine
has no text operators (SURVEY.md §2.2).

Algorithm (hard-EM / Viterbi-EM variant, fully deterministic):

1. **Seed vocabulary**: every substring (length <= ``max_piece_len``)
   of every distinct pretoken, weighted by corpus frequency; keep the
   ``seed_size`` most frequent (ties by piece string) plus all single
   characters (the fallback alphabet that keeps every word encodable).
2. **EM iterations**: E-step segments each distinct word with Viterbi
   under the current piece scores and counts piece usage (weighted by
   word frequency); M-step re-estimates scores from the counts.
3. **Prune**: drop the lowest-count multi-char pieces until
   ``vocab_size`` remain (single chars are never pruned).

Spark-first shape — the published trainer is a single-process loop
over a word table; here each phase is one distributed pass:

- The corpus is scanned ONCE (``bpe.word_freqs`` — the same pretokens
  as the BPE learner, so the two tokenizers are directly comparable).
  Everything after runs on the DISTINCT-WORD frequency table, which is
  vocabulary-bounded, not corpus-bounded.
- Seeding = one row-local substring explode + one hash agg
  (map-side combine absorbs hot substrings the way the ExactSubstr
  gram agg absorbs viral passages).
- Each E-step is one Arrow-batched pandas UDF over the word table
  (per-word Viterbi against the BROADCAST piece table — row-local,
  zero shuffle) followed by one hash agg of piece counts. Piece
  scores live driver-side between iterations: vocab-bounded, the same
  "model fits in executor memory" contract as KenLM-style LM filters.

Determinism (what lets pytest pin Spark == pure-Python reference
EXACTLY): piece counts are exact integers everywhere (hash-agg sums);
each ``log(count/total)`` is quantized to 1e-9 longs (the repo's
standard rule) so Viterbi path sums are exact integer arithmetic; the
argmax is totalized by (sum of quantized log-scores DESC, fewer
pieces, lexicographically smallest piece tuple). Both trainers run the
SAME ``_viterbi``/CPython ``math.log`` on broadcast-constant inputs,
row-locally — partitioning cannot perturb anything.

Cites: Kudo 2018 §3.2 (EM + pruning), SentencePiece's
``unigram_model_trainer.cc`` (seed = frequent substrings; final vocab
keeps required chars) — re-expressed, not ported.
"""

from __future__ import annotations

import math
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
import pyspark.sql.functions as F
import pyspark.sql.types as T

from teste_carga_avro_vs_json_spark.operators.bpe import word_freqs
from teste_carga_avro_vs_json_spark.operators.text import _BPE_RE

#: log-score quantum: every log(count/total) term is floored to 1e-9
#: longs before summation (the repo's standard float-determinism rule)
_Q = 10**9


def _qlog(count: int, total: int) -> int:
    return math.floor(math.log(count / total) * _Q + 0.5)


def _viterbi(word: str, scores: dict[str, int], max_len: int):
    """Best segmentation of ``word`` under quantized piece scores:
    maximize sum(score), tie-break on FEWER pieces then lexicographic
    piece tuple — a total order, so the argmax is unique. Returns the
    piece list (every char is in ``scores`` by construction)."""
    n = len(word)
    NEG = float("-inf")
    # best[i] = (sum_score, -n_pieces) ending at i; parent pointer
    best: list[tuple] = [(NEG, 0, ())] * (n + 1)
    best[0] = (0, 0, ())
    for i in range(n):
        if best[i][0] == NEG:
            continue
        for j in range(i + 1, min(n, i + max_len) + 1):
            piece = word[i:j]
            s = scores.get(piece)
            if s is None:
                continue
            cand = (
                best[i][0] + s,
                best[i][1] - 1,
                best[i][2] + (piece,),
            )
            # lexicographically larger (score, -pieces) wins; final
            # tie-break: lexicographically SMALLEST piece tuple
            cur = best[j]
            if (cand[0], cand[1]) > (cur[0], cur[1]) or (
                (cand[0], cand[1]) == (cur[0], cur[1])
                and cand[2] < cur[2]
            ):
                best[j] = cand
    return list(best[n][2])


def unigram_learn_local(
    freqs: list[tuple[str, int]],
    vocab_size: int = 200,
    seed_size: int = 1000,
    max_piece_len: int = 8,
    iters: int = 2,
) -> dict[str, int]:
    """Pure-Python reference trainer over a (word, freq) list — the
    implementation the distributed trainer is pytest-pinned against.
    Returns {piece: quantized_log_score}."""
    # ---- seed: substring frequencies
    sub_counts: dict[str, int] = {}
    for w, f in freqs:
        for i in range(len(w)):
            for j in range(i + 1, min(len(w), i + max_piece_len) + 1):
                p = w[i:j]
                sub_counts[p] = sub_counts.get(p, 0) + f
    chars = {p for p in sub_counts if len(p) == 1}
    multi = sorted(
        (p for p in sub_counts if len(p) > 1),
        key=lambda p: (-sub_counts[p], p),
    )[: max(seed_size - len(chars), 0)]
    vocab = chars | set(multi)
    counts = {p: sub_counts[p] for p in vocab}

    def rescore(cnts):
        total = sum(cnts.values())
        return {p: _qlog(c, total) for p, c in cnts.items() if c > 0}

    scores = rescore(counts)
    # ---- EM + final prune
    for it in range(iters):
        new_counts: dict[str, int] = {}
        for w, f in freqs:
            for p in _viterbi(w, scores, max_piece_len):
                new_counts[p] = new_counts.get(p, 0) + f
        # chars always survive (fallback alphabet), even unused ones
        for c in chars:
            new_counts.setdefault(c, 1)
        if it == iters - 1:
            keep_multi = sorted(
                (p for p in new_counts if len(p) > 1),
                key=lambda p: (-new_counts[p], p),
            )[: max(vocab_size - len(chars), 0)]
            new_counts = {
                p: c
                for p, c in new_counts.items()
                if len(p) == 1 or p in set(keep_multi)
            }
        scores = rescore(new_counts)
    return scores


def unigram_learn(
    docs: DataFrame,
    vocab_size: int = 200,
    seed_size: int = 1000,
    max_piece_len: int = 8,
    iters: int = 2,
    text_col: str = "text",
) -> dict[str, int]:
    """Distributed trainer: same algorithm, each phase one Spark pass
    over the distinct-word table (see module docstring). Returns
    {piece: quantized_log_score} — pytest pins equality with
    :func:`unigram_learn_local` on the same corpus."""
    wf = word_freqs(docs, text_col).persist()
    # ---- seed: row-local substring explode + ONE hash agg
    subs = wf.select(
        "freq",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.length("word")),
                    lambda i: F.transform(
                        F.sequence(
                            F.lit(1),
                            F.least(
                                F.length("word") - i + 1,
                                F.lit(max_piece_len),
                            ),
                        ),
                        lambda ln: F.substr(F.col("word"), i, ln),
                    ),
                )
            )
        ).alias("piece"),
    )
    sub_counts = (
        subs.groupBy("piece").agg(F.sum("freq").alias("cnt")).collect()
    )
    sc = {r.piece: r.cnt for r in sub_counts}
    chars = {p for p in sc if len(p) == 1}
    multi = sorted(
        (p for p in sc if len(p) > 1), key=lambda p: (-sc[p], p)
    )[: max(seed_size - len(chars), 0)]
    counts = {p: sc[p] for p in chars | set(multi)}

    def rescore(cnts):
        total = sum(cnts.values())
        return {p: _qlog(c, total) for p, c in cnts.items() if c > 0}

    scores = rescore(counts)
    for it in range(iters):
        cur = scores  # broadcast via UDF closure

        @F.pandas_udf(T.ArrayType(T.StringType()))
        def segment(words: Iterator[pd.Series]) -> Iterator[pd.Series]:
            for batch in words:
                yield batch.map(
                    lambda w: _viterbi(w, cur, max_piece_len)
                )

        counted = (
            wf.select("freq", F.explode(segment("word")).alias("piece"))
            .groupBy("piece")
            .agg(F.sum("freq").alias("cnt"))
            .collect()
        )
        new_counts = {r.piece: r.cnt for r in counted}
        for c in chars:
            new_counts.setdefault(c, 1)
        if it == iters - 1:
            keep_multi = sorted(
                (p for p in new_counts if len(p) > 1),
                key=lambda p: (-new_counts[p], p),
            )[: max(vocab_size - len(chars), 0)]
            new_counts = {
                p: c
                for p, c in new_counts.items()
                if len(p) == 1 or p in set(keep_multi)
            }
        scores = rescore(new_counts)
    wf.unpersist()
    return scores


def unigram_tokenize(
    docs: DataFrame,
    scores: dict[str, int],
    max_piece_len: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, tokens, n_pretokens, n_pieces): segment every doc with
    a trained unigram model — the mirror of ``bpe.bpe_tokenize``:
    scan-local, Arrow-batched, memoized per distinct pretoken, model
    broadcast via the UDF closure."""

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
                    toks = _viterbi(w, scores, max_piece_len)
                    if not toks:  # chars outside the alphabet
                        toks = list(w)
                    memo[w] = toks
                out.extend(toks)
            return out

        for batch in texts:
            yield batch.map(enc)

    staged = docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(text_col, F.lit(_BPE_RE), 0)
        ).alias("n_pretokens"),
        encode(F.col(text_col)).alias("tokens"),
    )
    return staged.select(
        "doc_id",
        "tokens",
        "n_pretokens",
        F.size("tokens").cast("long").alias("n_pieces"),
    )
