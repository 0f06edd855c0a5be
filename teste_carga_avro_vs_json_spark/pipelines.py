"""One-call training-corpus builder — the published web-corpus recipe
(C4 → CCNet → RefinedWeb lineage) composed from this repo's operators
into a single auditable pipeline:

    normalize → C4 line cleaning → blocklist → heuristic quality →
    perplexity quantile gate → exact dedup → MinHash near-dedup →
    ExactSubstr span cleaning → n-gram decontamination → sequence
    packing

Every stage is one of the individually oracle-/pytest-pinned
operators; this module adds only composition, per-stage accounting,
and the no-silent-caps ledger (rows in/out + wall per stage — a
corpus build that can't say where documents died is undebuggable at
100 TB).

Engine shape: stages communicate through (doc_id, text) frames. Each
stage is materialized once to count its rows — the honest way to get a
ledger, costing one action per stage — and every stage boundary
TRUNCATES LINEAGE — see _Ledger for why that is load-bearing.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation
import pyspark.sql.functions as F

from teste_carga_avro_vs_json_spark.operators import (
    corpus,
    decontam,
    dedup,
    lm,
    substr_dedup,
    text as text_ops,
)


class _Ledger:
    """Per-stage accounting with LINEAGE-TRUNCATING stage boundaries:
    every stage output is ``localCheckpoint``ed, so downstream operators
    see a leaf instead of the whole composed plan. This is not an
    optimization nicety — it is the difference between the pipeline
    working and not:
    measured on sf0.1, the SAME neardup stage costs 3.4 s behind a
    checkpoint boundary and 51 s behind five nested cached joins
    (Catalyst/AQE re-planning grows ~3-4x per extra join in the
    lineage of a composite operator; see SCALE.md, which also holds
    the local-checkpoint rule and its fault-tolerance trade-off).

    One job per stage: the row count is an ``Observation`` on the
    eager checkpoint's own job, not a ``count()`` job of its own."""

    def __init__(self) -> None:
        self.stats: list[dict] = []

    def stage(self, name: str, frame: DataFrame, t0: float) -> DataFrame:
        rows = Observation()
        frame = frame.observe(rows, F.expr("count(1) AS n")).localCheckpoint()
        n = rows.get["n"]
        prev_rows = next(
            (s["rows"] for s in reversed(self.stats)
             if s.get("rows") is not None),
            None,
        )
        rec = {
            "stage": name,
            "rows": n,
            "sec": round(time.perf_counter() - t0, 2),
        }
        if prev_rows is not None and name != "pack_sequences":
            rec["dropped"] = prev_rows - n
            # no-silent-caps: a stage erasing (almost) the whole corpus
            # is usually a domain-mismatched gate, not a clean corpus —
            # say so in the ledger instead of letting zeros flow on
            if prev_rows > 0 and n <= prev_rows * 0.05:
                rec["warn"] = "stage dropped >95% of the corpus"
        self.stats.append(rec)
        return frame

    def skip(self, name: str, reason: str) -> None:
        self.stats.append(
            {"stage": name, "rows": None, "sec": None, "skipped": reason}
        )


def build_training_corpus(
    docs: DataFrame,
    test: DataFrame | None = None,
    *,
    seq_len: int = 1024,
    keep_frac: float = 0.7,
    min_quality: float = 0.0,
    exact_substr_min_len: int = 20,
    line_filter: bool = True,
) -> tuple[DataFrame, list[dict]]:
    """(doc_id, text) corpus → (packed-sequence plan, stage ledger).

    ``test`` (optional) is the benchmark/eval set to decontaminate
    against — omitted, the stage is skipped (recorded in the ledger
    as such, never silently). Returns :func:`corpus.pack_sequences`'s
    packing plan over the surviving cleaned text plus the per-stage
    ledger [{stage, rows, sec}, ...]."""
    led = _Ledger()
    t0 = time.perf_counter()
    cur = led.stage("input", docs.select("doc_id", "text"), t0)

    # 1. Unicode normalization (CCNet §3.1 — canonicalize before
    # anything hashes text)
    t0 = time.perf_counter()
    cur = led.stage(
        "normalize",
        text_ops.normalize_text(cur).select(
            "doc_id", F.col("clean_text").alias("text")
        ),
        t0,
    )

    # 2. C4 line cleaning (page drops + line keeps). Parameterized:
    # the recipe presumes PROSE (lines end in terminal punctuation) —
    # on non-prose corpora it erases everything, which the ledger's
    # >95% warning surfaces; callers disable it for such domains.
    if line_filter:
        t0 = time.perf_counter()
        c4 = corpus.c4_line_filter(cur)
        cur = led.stage(
            "c4_line_filter",
            c4.where("keep").select(
                "doc_id", F.col("clean_text").alias("text")
            ),
            t0,
        )
    else:
        led.skip("c4_line_filter", "line_filter=False")

    # 3. Page-level blocklist (C4 §2.2's content gate). Row-local, like
    # the quality floor: both filter the stage input in place.
    t0 = time.perf_counter()
    cur = led.stage(
        "blocklist",
        cur.where(F.size(corpus._block_hits(F.col("text"))) == 0),
        t0,
    )

    # 4. Heuristic quality floor (cheap pre-filter before the LM gate)
    t0 = time.perf_counter()
    cur = led.stage(
        "quality",
        text_ops._with_quality(cur)
        .where(F.col("quality") >= F.lit(min_quality))
        .select("doc_id", "text"),
        t0,
    )

    # 5. Perplexity QUANTILE gate (CCNet's actual recipe — the
    # absolute-threshold mode is the documented footgun)
    t0 = time.perf_counter()
    model = lm.train_bigram_lm(cur)
    ppl_ids = (
        lm._perplexity(cur, model, keep_frac=keep_frac)
        .where("keep")
        .select("doc_id")
    )
    cur = led.stage(
        "perplexity",
        cur.join(ppl_ids, "doc_id", "left_semi"),
        t0,
    )

    # 6. Exact dedup (hash-agg keyed on text; min doc_id survives)
    t0 = time.perf_counter()
    survivors = dedup.exact_dedup_scale(cur).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    cur = led.stage(
        "exact_dedup",
        cur.join(survivors, "doc_id", "left_semi"),
        t0,
    )

    # 7. MinHash-LSH near-dedup: clusters only list CLUSTERED docs, so
    # drop the non-canonical cluster members and keep everyone else
    t0 = time.perf_counter()
    losers = (
        dedup.neardup_clusters(cur, scale=True)
        .where(~F.col("is_canonical"))
        .select("doc_id")
    )
    cur = led.stage(
        "neardup",
        cur.join(losers, "doc_id", "left_anti"),
        t0,
    )

    # 8. ExactSubstr span cleaning (Lee et al. — covered spans removed,
    # docs keep their unique remainder)
    t0 = time.perf_counter()
    spans = substr_dedup.exact_substring_spans(
        cur, min_len=exact_substr_min_len, scale=True
    )
    cur = led.stage(
        "exact_substring",
        spans.where(F.length("clean_text") > 0).select(
            "doc_id", F.col("clean_text").alias("text")
        ),
        t0,
    )

    # 9. Benchmark decontamination (skipped loudly when no test set)
    if test is not None:
        t0 = time.perf_counter()
        clean_ids = (
            decontam.decontaminate(cur, test, scale=True)
            .where(~F.col("contaminated"))
            .select("doc_id")
        )
        cur = led.stage(
            "decontaminate",
            cur.join(clean_ids, "doc_id", "left_semi"), t0,
        )
    else:
        led.skip("decontaminate", "no test set supplied")

    # 10. Sequence packing (the training-ready plan)
    t0 = time.perf_counter()
    packed = corpus.pack_sequences(cur, seq_len=seq_len)
    packed = led.stage("pack_sequences", packed, t0)
    return packed, led.stats
