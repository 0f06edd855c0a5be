"""End-to-end training-corpus cleaning pipeline.

The composition a 100 TB pre-training data pipeline actually runs
(quality gate → language gate → exact dedup → near-dup removal), built
from the individual operators in :mod:`operators.text` and
:mod:`operators.dedup` but fused so the scoring pass is ONE scan:

1. **Score** — quality heuristics + per-language stopword evidence as a
   single projection over ``documents`` (no joins between the scorers:
   they are all expressions over the same token array, so Catalyst
   computes them in one pass) evaluated ONCE per row, map-side.
2. **Exact dedup** — ``groupBy(text).agg(min(...))``: one hash agg
   keyed on the document text (the oracle's md5 grouping, minus the
   hash collision; the text rides the shuffle either way for the
   near-dup stage), survivor = min doc_id. A hash agg, not a
   ``row_number`` window: no per-partition sort, and map-side partial
   aggregation collapses duplicate texts BEFORE they shuffle (web-crawl
   corpora run 30-50 % exact dups — at 100 TB that is the difference
   between shuffling the corpus and shuffling its distinct texts).
3. **Gate** — keep docs with ``quality >= min_quality`` and predicted
   language == ``lang``, applied ABOVE the aggregation where the score
   columns are plain attributes. Ordering rationale (r7, measured):
   identical text ⇒ identical scores, so gating before or after exact
   dedup returns the same survivors — but a filter placed BELOW the
   dedup gets its aliased score expressions substituted in by predicate
   pushdown, re-evaluating the tokenizer + marker HOFs ~15x per row
   (CaseWhen argmax expansion; +0.57 s at sf0.1, ~16x the scoring cost
   itself), while the gate here evaluates each score exactly once. The
   gate keeps ~91 % of docs anyway, so the "filter early" shuffle
   saving it gave up is noise next to the partial-agg dup collapse.
4. **Near-dup removal** — :func:`dedup.neardup_clusters` over the
   survivors; non-canonical cluster members are anti-joined away. The
   drop-list is left to AQE: broadcast when small (typical), keyed
   shuffle join when a high-dup corpus makes it huge.

Scale shape: one full scan + one md5-keyed hash-agg shuffle (partial
agg collapses dups map-side) + the LSH banding shuffle over the
(already reduced) survivor set; the final anti-join is keyed on doc_id.
Nothing is quadratic; nothing collects rows to the driver beyond the
label-propagation convergence counters.

Reference scope note: the reference engine has no corpus operators at
all (SURVEY.md §2.2) — this module is part of the §2.3 extension
surface (north star: LLM-data-pipeline operators).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F
from pyspark.sql.window import Window

from teste_carga_avro_vs_json_spark.functions.portable import hex32, hex32_sql, hex32_sx
from teste_carga_avro_vs_json_spark.operators import dedup
from teste_carga_avro_vs_json_spark.operators.text import (
    _MARKERS,
    _lang_pred_sql,
    _lang_pred_sx,
    _marker_count_sx,
    _marker_scores_sql,
    _quality_sum_sql,
    _quality_sum_sx,
    tokens,
    tokens_sql,
    tokens_sx,
)


def _scored(staged: DataFrame, *keep: str) -> DataFrame:
    """``keep`` plus the scoring inputs, as exact longs, over
    ``staged``'s ``chars`` and ``toks`` columns: ``words`` and one
    ``s_{lang}`` stopword-marker count per language."""
    return staged.select(
        *keep,
        "chars",
        F.expr("CAST(size(toks) AS BIGINT)").alias("words"),
        *[
            F.expr(
                f"CAST({_marker_count_sx('toks', ws)} AS BIGINT)"
            ).alias(f"s_{code}")
            for code, ws in _MARKERS.items()
        ],
    )


def gated_unique(
    docs: DataFrame, lang: str = "en", min_quality: float = 0.5
) -> DataFrame:
    """Steps 1-3 of :func:`corpus_clean` (score once map-side →
    hash-agg exact dedup → gate above the agg), not checkpointed: one row
    per surviving distinct text, ``(doc_id, text, words, quality)``.
    Factored out so the plan shape (hash agg, no window/sort, no
    expensive filter) is directly pinnable in tests."""
    staged = docs.select(
        "doc_id",
        "text",
        F.expr("CAST(length(text) AS BIGINT)").alias("chars"),
        tokens("text").alias("toks"),
    )
    scored = _scored(staged, "doc_id", "text")
    # Exact dedup as a hash agg keyed on the text ITSELF (semantically
    # the md5(text) grouping the oracle uses, minus the hash collision):
    # text must ride the shuffle anyway for the near-dup stage, and
    # keeping it as the GROUP KEY instead of a min(text) aggregate is
    # what keeps this a HashAggregate — grouping keys may be any type,
    # but a string in the aggregation BUFFER is not UnsafeRow-mutable
    # and silently demotes the whole dedup to SortAggregate (two extra
    # per-partition sorts; plan-pinned). min() elsewhere: doc_id min IS
    # the survivor rule; chars/words/s_* are identical within a text
    # group, so min = the value (and min, unlike first(), is
    # order-independent — fully deterministic for the oracle); every
    # aggregate partial-aggregates map-side.
    grouped = scored.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"),
        F.min("chars").alias("chars"),
        F.min("words").alias("words"),
        *[F.min(f"s_{code}").alias(f"s_{code}") for code in _MARKERS],
    )
    return (
        grouped.withColumn(
            "quality", F.expr(_quality_sum_sx("chars", "words", "s_en"))
        )
        .withColumn("lang_pred", F.expr(_lang_pred_sx()))
        .filter((F.col("quality") >= min_quality) & (F.col("lang_pred") == lang))
        .select("doc_id", "text", "words", "quality")
    )


def corpus_clean(
    docs: DataFrame,
    lang: str = "en",
    min_quality: float = 0.5,
    neardup_threshold: float = 0.3,
    scale: bool = False,
) -> DataFrame:
    """Clean ``docs`` (doc_id, text, …) into a training-ready corpus.

    Returns one row per surviving document: (doc_id, words, quality).
    ``scale=True`` switches near-dup candidate generation to the
    xxhash64 signatures (production path; md5 default keeps the DuckDB
    oracle bit-exact).

    The survivor set feeds BOTH near-dup candidate generation and the
    final anti-join: a lazy local checkpoint, so the score→dedup→gate
    subtree runs once (twice without it, measured 2x at sf0.1).
    """
    uniq = gated_unique(docs, lang, min_quality).localCheckpoint(eager=False)
    clusters = dedup.neardup_clusters(
        uniq.select("doc_id", "text"), threshold=neardup_threshold, scale=scale
    )
    drop = clusters.filter(~F.col("is_canonical")).select("doc_id")
    return uniq.join(drop, "doc_id", "left_anti").select(
        "doc_id", "words", "quality"
    )


def corpus_report(docs: DataFrame) -> DataFrame:
    """Per-source corpus report card — the health dashboard a training
    pipeline runs before committing to a mix: document/word volume,
    exact-duplicate rate, mean quality, and language purity (share of
    docs whose predicted language matches the labeled one).

    One scan computes every per-doc score (the scorers are expressions
    over one token array, fused by Catalyst) + ONE groupBy(source) with
    map-side partial agg. Oracle determinism: quality is re-quantized
    to an int decile per row (round(q*10)) before summing — a double
    SUM across rows would be order-dependent; distinct-count uses
    count(DISTINCT md5) exactly, not a sketch.
    """
    staged = docs.select(
        "doc_id",
        "source",
        "lang",
        F.md5("text").alias("fp"),
        F.length("text").cast("long").alias("chars"),
        tokens("text").alias("toks"),
    )
    scored = _scored(staged, "source", "lang", "fp")
    quality = _quality_sum_sx("chars", "words", "s_en")
    per_doc = scored.select(
        "source",
        "fp",
        "words",
        F.expr(f"CAST(round({quality} * 10) AS BIGINT)").alias("q10"),
        F.expr(f"CAST(({_lang_pred_sx()}) = lang AS BIGINT)").alias("lang_ok"),
    )
    n = F.count(F.lit(1))
    return (
        per_doc.groupBy("source")
        .agg(
            n.alias("n_docs"),
            F.sum("words").alias("total_words"),
            (
                F.lit(1.0)
                - F.countDistinct("fp").cast("double") / n.cast("double")
            ).alias("dup_rate"),
            (F.sum("q10").cast("double") / (F.lit(10.0) * n.cast("double"))).alias(
                "mean_quality"
            ),
            (F.sum("lang_ok").cast("double") / n.cast("double")).alias(
                "lang_purity"
            ),
        )
        .orderBy("source")
    )


def corpus_report_sql(table: str = "documents") -> str:
    toks = tokens_sql("text")
    quality = _quality_sum_sql("chars", "words", "s_en")
    return f"""
        WITH scored AS (
            SELECT doc_id, source, lang, md5(text) AS fp,
                   length(text)::BIGINT AS chars,
                   len({toks})::BIGINT AS words,
                   {_marker_scores_sql(toks)}
            FROM {table}
        ),
        per_doc AS (
            SELECT source, fp, words,
                   ROUND({quality} * 10)::BIGINT AS q10,
                   CASE WHEN {_lang_pred_sql()} = lang THEN 1 ELSE 0 END
                       AS lang_ok
            FROM scored
        )
        SELECT source,
               COUNT(*)::BIGINT AS n_docs,
               SUM(words)::BIGINT AS total_words,
               (1.0 - COUNT(DISTINCT fp)::DOUBLE / COUNT(*)::DOUBLE)
                   AS dup_rate,
               (SUM(q10)::DOUBLE / (10.0 * COUNT(*)::DOUBLE)) AS mean_quality,
               (SUM(lang_ok)::DOUBLE / COUNT(*)::DOUBLE) AS lang_purity
        FROM per_doc GROUP BY source ORDER BY source
    """


def corpus_mix(
    docs: DataFrame, weights: dict[str, int], default_pct: int = 0
) -> DataFrame:
    """Weighted training-mix sampling: keep ``weights[source]`` percent
    of each source's documents (the "30% web, 50% code, 20% books"
    primitive for assembling a training mixture). Sampling is a
    deterministic content-independent hash gate —
    ``hex32('mix|' || doc_id) % 100 < pct`` — so the same mix is
    reproducible run-over-run and refreshing the corpus keeps previously
    selected documents selected (stable assignment, the property
    curriculum pipelines need).

    Scale shape: a scan-local filter — zero shuffles; the predicate
    rides the parquet scan. Per-source rates need no per-source passes:
    the pct is one CASE expression.
    """
    if weights:
        pct = "CASE " + " ".join(
            f"WHEN source = '{src}' THEN {w}"
            for src, w in sorted(weights.items())
        ) + f" ELSE {default_pct} END"
    else:
        pct = str(default_pct)
    gate = hex32_sx("concat('mix|', CAST(doc_id AS STRING))")
    return docs.filter(F.expr(f"pmod({gate}, 100) < ({pct})"))


def corpus_mix_sql(
    table: str, weights: dict[str, int], default_pct: int = 0
) -> str:
    gate = hex32_sql("'mix|' || doc_id::VARCHAR")
    case = "CASE source " + " ".join(
        f"WHEN '{s}' THEN {w}" for s, w in sorted(weights.items())
    ) + f" ELSE {default_pct} END"
    return f"SELECT * FROM {table} WHERE {gate} % 100 < ({case})"


def intra_doc_dedup(docs: DataFrame, chunk: int = 20) -> DataFrame:
    """Within-document repetition removal (the RefinedWeb/Gopher-style
    intra-doc dedup pass): split each document into fixed-size word
    chunks, keep only the first occurrence of each repeated chunk, and
    reassemble. Returns (doc_id, n_chunks, n_kept, clean_text).

    Scale shape: a pure per-row expression tree — chunking, the
    first-occurrence mask (``array_position(chunks, c) == i+1``), and
    reassembly all happen inside one projection, so the operator adds
    ZERO shuffles at any corpus size (contrast corpus-level dedup,
    which is inherently a shuffle on the content key). Token and chunk
    arrays are staged behind projections per the HOF-lambda
    re-evaluation rule (see :func:`operators.text.word_kgrams`).
    """
    staged = docs.select("doc_id", tokens("text").alias("tk"))
    n_chunks = f"CAST(floor((size(tk) + {chunk - 1}) / {chunk}) AS INT)"
    chunks = (
        f"CASE WHEN {n_chunks} >= 1 THEN "
        f"transform(sequence(1, {n_chunks}), "
        f"i -> concat_ws(' ', slice(tk, (i - 1) * {chunk} + 1, {chunk}))) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    chunked = staged.select("doc_id", F.expr(chunks).alias("chunks"))
    # Spark HOF (element, index) lambdas are 0-based; array_position is
    # 1-based — first occurrence keeps iff position == index + 1.
    kept = "filter(chunks, (c, i) -> array_position(chunks, c) = i + 1)"
    return chunked.select(
        "doc_id",
        F.expr("CAST(size(chunks) AS BIGINT)").alias("n_chunks"),
        F.expr(f"CAST(size({kept}) AS BIGINT)").alias("n_kept"),
        F.expr(f"array_join({kept}, ' ')").alias("clean_text"),
    )


def intra_doc_dedup_sql(table: str = "documents", chunk: int = 20) -> str:
    """DuckDB twin — lambda indexes are 1-based there, so the
    first-occurrence test is ``list_position(chunks, c) = i``."""
    toks = tokens_sql("text")
    return f"""
        WITH tk AS (
            SELECT doc_id, {toks} AS tk FROM {table}
        ),
        ch AS (
            SELECT doc_id,
                   CASE WHEN len(tk) = 0 THEN []::VARCHAR[]
                        ELSE list_transform(
                            range(1, ((len(tk) + {chunk - 1}) // {chunk}) + 1),
                            i -> array_to_string(
                                tk[(i-1)*{chunk}+1 : (i-1)*{chunk}+{chunk}],
                                ' '))
                   END AS chunks
            FROM tk
        )
        SELECT doc_id,
               len(chunks)::BIGINT AS n_chunks,
               len(kept)::BIGINT AS n_kept,
               array_to_string(kept, ' ') AS clean_text
        FROM (
            SELECT doc_id, chunks,
                   list_filter(chunks,
                       (c, i) -> list_position(chunks, c) = i) AS kept
            FROM ch
        )
    """


def token_budget_sample(
    docs: DataFrame, budget_tokens: int = 10_000, n_buckets: int = 32
) -> DataFrame:
    """Deterministic token-budget sampling: order documents by a
    content-independent shuffle key (md5 of doc_id) and keep the prefix
    whose running token total stays within ``budget_tokens`` — the
    standard "give me ~N tokens of this corpus" primitive for building
    training mixes.

    The running total is a DISTRIBUTED prefix sum, not a global window
    (``Window.orderBy`` with no partition moves the whole corpus to one
    task — the exact anti-pattern this module avoids):

    1. bucket = skey mod ``n_buckets``; per-bucket token totals are one
       tiny agg (``n_buckets`` rows);
    2. bucket offsets = running sum over that tiny frame (a window over
       ``n_buckets`` rows — driver-scale, not data-scale);
    3. within-bucket running sums use ``Window.partitionBy(bucket)`` —
       parallel across buckets — and add the broadcast offset.

    Global order is therefore (bucket, skey, doc_id); the DuckDB twin
    reproduces it with a plain ordered window. At 1000 executors raise
    ``n_buckets`` to ~2-3x total cores so bucket windows stay balanced.
    """
    key = hex32_sx("concat('sample|', CAST(doc_id AS STRING))")
    base = docs.select(
        "doc_id",
        F.expr(f"CAST(size({tokens_sx('text')}) AS BIGINT)").alias("words"),
        F.expr(key).alias("skey"),
    ).withColumn(
        "bucket", F.expr(f"CAST(pmod(skey, {n_buckets}) AS INT)")
    )
    wb = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        base.groupBy("bucket")
        .agg(F.sum("words").alias("bucket_words"))
        .withColumn("offset", F.coalesce(F.sum("bucket_words").over(wb), F.lit(0)))
        .select("bucket", "offset")
    )
    w_in = Window.partitionBy("bucket").orderBy("skey", "doc_id")
    return (
        base.join(F.broadcast(offsets), "bucket")
        .withColumn("cum_tokens", F.col("offset") + F.sum("words").over(w_in))
        .filter(F.col("cum_tokens") <= budget_tokens)
        .select("doc_id", "words", "cum_tokens")
    )


def token_budget_sample_sql(
    table: str = "documents", budget_tokens: int = 10_000, n_buckets: int = 32
) -> str:
    skey = hex32_sql("'sample|' || doc_id::VARCHAR")
    return f"""
        WITH base AS (
            SELECT doc_id,
                   len({tokens_sql("text")})::BIGINT AS words,
                   {skey} AS skey
            FROM {table}
        ),
        ordered AS (
            SELECT doc_id, words,
                   SUM(words) OVER (
                       ORDER BY skey % {n_buckets}, skey, doc_id
                       ROWS UNBOUNDED PRECEDING
                   )::BIGINT AS cum_tokens
            FROM base
        )
        SELECT doc_id, words, cum_tokens
        FROM ordered WHERE cum_tokens <= {budget_tokens}
    """


def pack_sequences(
    docs: DataFrame, seq_len: int = 2048, n_buckets: int = 32
) -> DataFrame:
    """Sequence-packing plan: lay documents end-to-end in a
    deterministic shuffled order and cut the token stream into
    fixed-``seq_len`` training sequences (the GPT-style pack — docs are
    concatenated and windows split mid-document rather than padding).

    Returns one row per document: its token count, its global start
    offset in the packed stream, the sequence it starts in
    (``seq_id = start_tok div seq_len``), its offset within that
    sequence, and how many sequences it spans (``n_seqs``; 0 for
    empty docs — they occupy no window). Downstream writers group by
    ``seq_id`` to emit the actual token windows; this operator is the
    pure-plan step that makes that grouping embarrassingly parallel.

    Scale shape: identical distributed prefix sum as
    :func:`token_budget_sample` — per-bucket totals (tiny agg), running
    offsets over ``n_buckets`` rows, within-bucket windows parallel
    across buckets, broadcast offset join. The packing order
    (bucket, skey, doc_id) is content-independent md5 shuffling, which
    is what a training pipeline wants anyway (neighboring sequences
    decorrelated from source order). No global-ordered window over data
    rows anywhere; raise ``n_buckets`` with cluster size.
    """
    # parsed fragments (r13-opt _sx discipline; r14 — this builder was
    # still Column-API, ~600 py4j round trips): same expressions, the
    # oracle twin hashes the output unchanged
    base = docs.selectExpr(
        "doc_id",
        f"CAST(size({tokens_sx('text')}) AS BIGINT) AS n_tokens",
        hex32_sx("concat('pack|', CAST(doc_id AS STRING))") + " AS skey",
    ).selectExpr("*", f"CAST(pmod(skey, {n_buckets}) AS INT) AS bucket")
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        base.groupBy("bucket")
        .agg(F.sum("n_tokens").alias("bucket_tokens"))
        .withColumn(
            "offset", F.coalesce(F.sum("bucket_tokens").over(wb), F.lit(0))
        )
        .select("bucket", "offset")
    )
    w_in = Window.partitionBy("bucket").orderBy("skey", "doc_id")
    start = (
        F.col("offset") + F.sum("n_tokens").over(w_in) - F.col("n_tokens")
    )
    return (
        base.join(F.broadcast(offsets), "bucket")
        .withColumn("start_tok", start)
        .selectExpr(
            "doc_id",
            "n_tokens",
            "start_tok",
            f"start_tok div {seq_len} AS seq_id",
            f"pmod(start_tok, {seq_len}) AS seq_off",
            # seq_id's fragment repeats inside n_seqs exactly where the
            # Column form referenced the computed column (codegen CSE)
            f"CASE WHEN n_tokens > 0 THEN (start_tok + n_tokens - 1) "
            f"div {seq_len} - start_tok div {seq_len} + 1 "
            f"ELSE CAST(0 AS BIGINT) END AS n_seqs",
        )
    )


def pack_windows(
    docs: DataFrame, seq_len: int = 2048, n_buckets: int = 32
) -> DataFrame:
    """Materialize the training sequences that :func:`pack_sequences`
    plans: one row per ``seq_id`` with its packed token array (every
    window exactly ``seq_len`` tokens except possibly the last).

    This is the step that actually MOVES tokens, and its shuffle is the
    irreducible cost of packing: every token travels once, keyed by the
    destination sequence (``global position div seq_len``). Shape:

    - join the (tiny per-doc) packing plan back to the token arrays on
      doc_id — the plan side is ids+offsets only;
    - ``posexplode`` assigns each token its global position
      (``start_tok + i``) — a projection, no shuffle;
    - ONE groupBy(seq_id) with ``array_sort(collect_list(struct(pos,
      tok)))`` rebuilds each window in order. Per-group state is
      bounded by ``seq_len`` (tokens per window), so executor memory
      per key is constant regardless of corpus size; the
      objectHashAggregate fallback threshold conf (session.py) keeps
      the agg hash-based at realistic group counts.

    A 100 TB corpus packs into ~corpus/seq_len groups — parallelism
    scales with data, and no key can be skewed (every group holds at
    most ``seq_len`` tokens by construction).
    """
    plan = pack_sequences(docs, seq_len, n_buckets).select(
        "doc_id", "start_tok"
    )
    toks = docs.select("doc_id", tokens("text").alias("toks"))
    placed = (
        toks.join(plan, "doc_id")
        .select(
            "start_tok",
            F.posexplode_outer("toks").alias("i", "tok"),
        )
        .filter(F.col("tok").isNotNull())
        .selectExpr("start_tok + i AS pos", "tok")
    )
    # parsed fragments (r14, see pack_sequences): struct(pos, tok)
    # keeps the same field names/sort order as the Column form
    return (
        placed.selectExpr(f"pos div {seq_len} AS seq_id", "pos", "tok")
        .groupBy("seq_id")
        .agg(
            F.expr("array_sort(collect_list(struct(pos, tok)))").alias(
                "placed"
            )
        )
        .selectExpr(
            "seq_id",
            "CAST(size(placed) AS BIGINT) AS n_tokens",
            "transform(placed, s -> s.tok) AS toks",
        )
    )


def pack_sequences_sql(
    table: str = "documents", seq_len: int = 2048, n_buckets: int = 32
) -> str:
    skey = hex32_sql("'pack|' || doc_id::VARCHAR")
    return f"""
        WITH base AS (
            SELECT doc_id,
                   len({tokens_sql("text")})::BIGINT AS n_tokens,
                   {skey} AS skey
            FROM {table}
        ),
        ordered AS (
            SELECT doc_id, n_tokens,
                   (SUM(n_tokens) OVER (
                       ORDER BY skey % {n_buckets}, skey, doc_id
                       ROWS UNBOUNDED PRECEDING
                   ) - n_tokens)::BIGINT AS start_tok
            FROM base
        )
        SELECT doc_id, n_tokens, start_tok,
               (start_tok // {seq_len})::BIGINT AS seq_id,
               (start_tok % {seq_len})::BIGINT AS seq_off,
               CASE WHEN n_tokens > 0
                    THEN ((start_tok + n_tokens - 1) // {seq_len})
                         - (start_tok // {seq_len}) + 1
                    ELSE 0 END::BIGINT AS n_seqs
        FROM ordered
    """


def corpus_clean_sql(
    table: str = "documents",
    lang: str = "en",
    min_quality: float = 0.5,
    neardup_threshold: float = 0.3,
) -> str:
    """DuckDB twin: same gates, same window dedup; the near-dup stage
    embeds the recursive-CTE closure over the deduped survivor set."""
    toks = tokens_sql("text")
    quality = _quality_sum_sql("chars", "words", "s_en")
    closure = dedup.neardup_clusters_sql(
        table="(SELECT doc_id, text FROM uniq)", threshold=neardup_threshold
    )
    return f"""
        WITH scored AS (
            SELECT doc_id, text,
                   length(text)::BIGINT AS chars,
                   len({toks})::BIGINT AS words,
                   {_marker_scores_sql(toks)}
            FROM {table}
        ),
        gated AS (
            SELECT doc_id, text, words,
                   {quality}::DOUBLE AS quality,
                   {_lang_pred_sql()} AS lang_pred
            FROM scored
        ),
        kept AS (
            SELECT * FROM gated
            WHERE quality >= {min_quality} AND lang_pred = '{lang}'
        ),
        ranked AS (
            SELECT doc_id, text, words, quality,
                   row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
                       AS rn
            FROM kept
        ),
        uniq AS (
            SELECT doc_id, text, words, quality FROM ranked WHERE rn = 1
        )
        SELECT u.doc_id, u.words, u.quality
        FROM uniq u
        WHERE u.doc_id NOT IN (
            SELECT doc_id FROM ({closure}) WHERE NOT is_canonical
        )
    """


# ------------------------------------------------- temperature sampling
def temperature_sample(
    docs: DataFrame,
    alpha: float = 0.5,
    budget: int = 200,
    group_col: str = "source",
) -> DataFrame:
    """Temperature-based mixture sampling — the multilingual α-sampling
    recipe (mBERT / XLM-R / mT5, e.g. arXiv:1911.02116 §3.1): the
    output mixture over groups follows p_g ∝ n_g^α, with α < 1
    flattening the distribution so low-resource groups are upweighted
    relative to their raw share. ``corpus_mix`` applies HAND-CHOSEN
    rates; this derives them from the data.

    Deterministic end to end: per-group weights are ``pow(n_g, α)``
    QUANTIZED to 1e-9 longs (pow is transcendental — quantizing per
    DISTINCT group size bounds cross-engine ulp exposure, the same
    discipline as operators/lm.py), quotas are exact integer arithmetic
    ``budget·w_g DIV Σw`` capped at n_g, and each group keeps its
    ``quota`` lowest docs by content-independent portable hash
    (``hex32('temp|' || doc_id)``, doc_id tiebreak) — stable
    run-over-run and refresh-stable like ``corpus_mix``.

    Output: kept rows as (doc_id, group, grp_rank, grp_quota) — rank
    and quota kept visible so the mixture is auditable.

    Scale: one tiny aggregation (group sizes), a broadcast quota join,
    and ONE keyed shuffle for the per-group rank window. A huge group
    funnels through its reducer here (same shape as grouped top-k); at
    100 TB either pre-filter with the scan-local hash-gate
    approximation (keep iff hash % n_g < quota_g — binomially
    approximate counts, zero shuffle) or use the salted two-phase rank
    (cosine_topk_scale pattern). The exact-rank form is the reference
    semantics the oracle checks.
    """
    sizes = docs.groupBy(F.col(group_col).alias("g")).agg(
        F.count(F.lit(1)).alias("n")
    )
    weights = sizes.select(
        "g",
        "n",
        F.floor(F.pow(F.col("n").cast("double"), F.lit(alpha)) * F.lit(10**9) + F.lit(0.5))
        .cast("long")
        .alias("w"),
    )
    # scalar total attached via an all-rows window over the WEIGHTS
    # frame (one row per group — tiny by construction), not a cross
    # join: keeps even this auxiliary plan BNL-free
    quotas = weights.withColumn(
        "tw", F.sum("w").over(Window.partitionBy(F.lit(1)))
    ).select(
        "g",
        "n",
        F.least(
            F.expr(f"({budget} * w) DIV tw"), F.col("n")
        ).alias("grp_quota"),
    )
    ranked = docs.join(
        F.broadcast(quotas), docs[group_col] == F.col("g")
    ).withColumn(
        "_hk",
        hex32(F.concat(F.lit("temp|"), F.col("doc_id").cast("string"))),
    )
    w = Window.partitionBy("g").orderBy(
        F.col("_hk").asc(), F.col("doc_id").asc()
    )
    return (
        ranked.withColumn("grp_rank", F.row_number().over(w))
        .filter(F.col("grp_rank") <= F.col("grp_quota"))
        .select(
            "doc_id",
            F.col("g").alias("grp"),
            F.col("grp_rank").cast("long").alias("grp_rank"),
            F.col("grp_quota").cast("long").alias("grp_quota"),
        )
    )


def temperature_sample_sql(
    table: str = "documents",
    alpha: float = 0.5,
    budget: int = 200,
    group_col: str = "source",
) -> str:
    """DuckDB twin of :func:`temperature_sample`."""
    hk = hex32_sql("'temp|' || doc_id::VARCHAR")
    return f"""
        WITH sizes AS (
            SELECT {group_col} AS g, COUNT(*)::BIGINT AS n
            FROM {table} GROUP BY {group_col}
        ),
        weights AS (
            SELECT g, n,
                   FLOOR(POW(n::DOUBLE, {alpha}) * 1000000000 + 0.5)::BIGINT
                       AS w
            FROM sizes
        ),
        quotas AS (
            SELECT g, n,
                   LEAST(({budget} * w) // (SELECT SUM(w)::BIGINT FROM weights),
                         n) AS grp_quota
            FROM weights
        ),
        ranked AS (
            SELECT d.doc_id, q.g, q.grp_quota,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.g
                       ORDER BY {hk} ASC, d.doc_id ASC
                   ) AS grp_rank
            FROM {table} d JOIN quotas q ON d.{group_col} = q.g
        )
        SELECT doc_id, g AS grp, grp_rank::BIGINT AS grp_rank,
               grp_quota::BIGINT AS grp_quota
        FROM ranked WHERE grp_rank <= grp_quota
    """


def c4_line_filter(
    docs: DataFrame,
    min_words: int = 5,
    min_kept_lines: int = 1,
    text_col: str = "text",
) -> DataFrame:
    """The C4 line-level cleaning recipe (Raffel et al. 2020,
    arXiv:1910.10683 §2.2 — the filter every T5-lineage corpus build
    starts from; the reference engine has no text operators,
    SURVEY.md §2.2). Line keeps: ends in terminal punctuation
    (``. ! ? "``) and has >= ``min_words`` whitespace words and does
    not mention "javascript" (case-insensitive). Page drops: any
    "lorem ipsum", any curly brace ``{``, or fewer than
    ``min_kept_lines`` surviving lines (C4 uses a 3-sentence floor;
    the fixture documents are single-line, so the floor is a knob).

    Output: (doc_id, n_lines, n_kept_lines, keep, clean_text) —
    clean_text = surviving lines joined with newlines (empty when the
    page is dropped, so downstream stages can filter on ``keep`` OR
    consume clean_text directly).

    Scale: a pure per-row expression tree — line split, the three line
    predicates, and reassembly all live in one projection; ZERO
    shuffles at any corpus size (same class as ``intra_doc_dedup``).
    Arrays are staged behind projections per the HOF-lambda
    re-evaluation rule.
    """
    staged = docs.select(
        "doc_id", F.split(F.col(text_col), "\n").alias("lines")
    )
    words = lambda ln: F.size(  # noqa: E731
        F.filter(F.split(ln, "[ \t]+"), lambda t: t != F.lit(""))
    )
    line_ok = lambda ln: (  # noqa: E731
        F.rtrim(ln).rlike('[.!?"]$')
        & (words(ln) >= F.lit(min_words))
        & ~F.lower(ln).contains("javascript")
    )
    kept = staged.select(
        "doc_id",
        F.size("lines").cast("long").alias("n_lines"),
        F.filter("lines", line_ok).alias("kept_lines"),
        (
            ~F.lower(F.concat_ws("\n", "lines")).contains("lorem ipsum")
            & ~F.concat_ws("\n", "lines").contains("{")
        ).alias("page_ok"),
    )
    return kept.select(
        "doc_id",
        "n_lines",
        F.size("kept_lines").cast("long").alias("n_kept_lines"),
        (
            F.col("page_ok")
            & (F.size("kept_lines") >= F.lit(min_kept_lines))
        ).alias("keep"),
        F.when(
            F.col("page_ok")
            & (F.size("kept_lines") >= F.lit(min_kept_lines)),
            F.concat_ws("\n", "kept_lines"),
        ).otherwise(F.lit("")).alias("clean_text"),
    )


def c4_line_filter_sql(
    table: str = "documents",
    min_words: int = 5,
    min_kept_lines: int = 1,
) -> str:
    """DuckDB twin of :func:`c4_line_filter`."""
    return f"""
        WITH staged AS (
            SELECT doc_id, string_split(text, chr(10)) AS lines
            FROM {table}
        ),
        kept AS (
            SELECT doc_id,
                   len(lines)::BIGINT AS n_lines,
                   list_filter(lines, ln ->
                       regexp_matches(rtrim(ln), '[.!?"]$')
                       AND len(list_filter(
                           regexp_split_to_array(ln, '[ \t]+'),
                           t -> t <> '')) >= {min_words}
                       AND NOT contains(lower(ln), 'javascript')
                   ) AS kept_lines,
                   (NOT contains(lower(array_to_string(lines, chr(10))),
                                 'lorem ipsum')
                    AND NOT contains(array_to_string(lines, chr(10)), '{{'))
                       AS page_ok
            FROM staged
        )
        SELECT doc_id, n_lines,
               len(kept_lines)::BIGINT AS n_kept_lines,
               (page_ok AND len(kept_lines) >= {min_kept_lines}) AS keep,
               CASE WHEN page_ok AND len(kept_lines) >= {min_kept_lines}
                    THEN array_to_string(kept_lines, chr(10))
                    ELSE '' END AS clean_text
        FROM kept
    """


def line_dedup(
    docs: DataFrame,
    max_df: int = 1,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level LINE deduplication — the RefinedWeb/MassiveText
    pass (Penedo et al. 2023, arXiv:2306.01116; Rae et al. 2021 §A.1.2)
    that strips boilerplate lines (nav bars, cookie banners, footers)
    occurring across many pages: a line whose corpus-wide document
    frequency exceeds ``max_df`` is removed from EVERY document.

    Output: (doc_id, n_lines, n_kept, clean_text) — clean_text =
    surviving lines joined by newline, original order preserved.

    Scale shape: one hash aggregation on the md5 line key (map-side
    combine absorbs boilerplate skew exactly like the ExactSubstr gram
    agg — a nav line in 100M docs collapses to per-partition partials,
    never a single-reducer sort), then ONE left-anti join of the line
    stream against the (small, df-filtered) dup-key set. The line TEXT
    rides that join deliberately: the anti join has no fan-out (keys
    are unique on the build side), so carrying it is one shuffle of
    the corpus vs the ids-first alternative's two (semi-join back on
    (doc_id, idx) would re-shuffle the same rows again) — the
    array-payload rule targets fan-out joins, not 1:1 filters.
    Reassembly is a per-doc sort_array fold over the kept (idx, line)
    structs. Empty docs survive via the final LEFT join from the
    doc frame (fetch-after-dedup, same as ``exact_substring_spans``).
    """
    staged = docs.select(
        "doc_id", F.split(F.col(text_col), "\n").alias("lines")
    )
    lines = (
        staged.select(
            "doc_id", F.posexplode_outer("lines").alias("idx", "line")
        )
        # _outer keeps the Generate barrier (no InferFiltersFromGenerate
        # re-split below it); the null row an empty array would emit is
        # dropped here, above the Generate, so empty docs rebuild as
        # n_kept=0 via the final LEFT join exactly like the oracle
        .filter(F.col("idx").isNotNull())
        .select("doc_id", "idx", "line", F.md5("line").alias("k"))
    )
    dup = (
        lines.groupBy("k")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("k")
    )
    kept = lines.join(dup, "k", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.concat_ws(
            "\n",
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("idx", "line"))
                ),
                lambda s: s["line"],
            ),
        ).alias("clean_text"),
    )
    base = staged.select(
        "doc_id", F.size("lines").cast("long").alias("n_lines")
    )
    return base.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def line_dedup_sql(table: str = "documents", max_df: int = 1) -> str:
    """DuckDB twin of :func:`line_dedup`."""
    return f"""
        WITH staged AS (
            SELECT doc_id, string_split(text, chr(10)) AS lines
            FROM {table}
        ),
        lns AS (
            SELECT doc_id, lines[i] AS line, i, md5(lines[i]) AS k
            FROM staged,
                 LATERAL unnest(generate_series(1, len(lines))) AS u(i)
        ),
        dup AS (
            SELECT k FROM lns GROUP BY k HAVING COUNT(*) > {max_df}
        ),
        kept AS (
            SELECT l.* FROM lns l ANTI JOIN dup d USING (k)
        ),
        rebuilt AS (
            SELECT doc_id, COUNT(*)::BIGINT AS n_kept,
                   string_agg(line, chr(10) ORDER BY i) AS clean_text
            FROM kept GROUP BY doc_id
        )
        SELECT s.doc_id,
               len(s.lines)::BIGINT AS n_lines,
               COALESCE(r.n_kept, 0)::BIGINT AS n_kept,
               COALESCE(r.clean_text, '') AS clean_text
        FROM staged s LEFT JOIN rebuilt r USING (doc_id)
    """


#: Default page-level blocklist: a deterministic stand-in inventory
#: (real deployments load the published wordlists; the OPERATOR —
#: broadcast multi-pattern scan + page gate — is what scales).
BLOCK_PATTERNS = [
    "click here to win",
    "casino bonus",
    "cheap pills",
    "xxx",
    "free crypto airdrop",
]


def _block_hits(text: Column, patterns: list[str] | None = None) -> Column:
    """The blocklist patterns ``text`` contains, case-insensitively:
    distinct and sorted, so the first is the smallest. The one
    predicate behind :func:`blocklist_filter` and the corpus build's
    blocklist stage (a page is kept iff this array is empty)."""
    pats = sorted(set(p.lower() for p in (patterns or BLOCK_PATTERNS)))
    arr = F.array(*[F.lit(p) for p in pats])
    lt = F.lower(text)
    return F.filter(arr, lambda p: lt.contains(p))


def blocklist_filter(
    docs: DataFrame,
    patterns: list[str] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Page-level blocklist gate — the other half of the C4 cleaning
    recipe (Raffel et al. 2020 §2.2 drop any page containing a word
    from a blocklist; Gopher/MassiveText carry the same stage).
    A page is dropped when it contains ANY pattern as a
    case-insensitive substring.

    Output: (doc_id, n_hits, first_hit, keep) — n_hits = number of
    DISTINCT patterns present (auditability: the no-silent-caps rule
    applied to content filtering), first_hit = lexicographically
    smallest matching pattern (deterministic), keep = n_hits == 0.

    Scale: the pattern list rides the plan as an array literal
    (broadcast-constant); matching is one row-local HOF filter over it
    — JVM-side ``contains`` per (row, pattern), zero shuffle, linear
    in corpus × patterns. For list sizes where P × len(text) matters
    (tens of thousands of patterns), the production path is an
    Aho-Corasick automaton in an Arrow-batched UDF — the documented
    py-lane convention; this expression form is exact for the
    moderate lists the published recipes use.
    """
    hits = docs.select(
        "doc_id", _block_hits(F.col(text_col), patterns).alias("hits")
    )
    return hits.select(
        "doc_id",
        F.size("hits").cast("long").alias("n_hits"),
        F.coalesce(F.try_element_at("hits", F.lit(1)), F.lit("")).alias(
            "first_hit"
        ),
        (F.size("hits") == 0).alias("keep"),
    )


def blocklist_filter_sql(
    table: str = "documents", patterns: list[str] | None = None
) -> str:
    """DuckDB twin of :func:`blocklist_filter`."""
    pats = sorted(set(p.lower() for p in (patterns or BLOCK_PATTERNS)))
    arr = "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in pats) + "]"
    return f"""
        WITH hits AS (
            SELECT doc_id,
                   list_filter({arr},
                       p -> contains(lower(text), p)) AS hits
            FROM {table}
        )
        SELECT doc_id,
               len(hits)::BIGINT AS n_hits,
               COALESCE(hits[1], '') AS first_hit,
               len(hits) = 0 AS keep
        FROM hits
    """


# ----------------------------------------------------------------- FIM

#: FIM sentinels (the published three-token scheme)
FIM_PRE, FIM_SUF, FIM_MID = "<|fim_pre|>", "<|fim_suf|>", "<|fim_mid|>"


def fim_transform(
    docs: DataFrame,
    fim_rate: float = 0.5,
    spm_rate: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """Fill-in-the-middle training transform (Bavarian et al. 2022,
    arXiv:2207.14255): rearrange a deterministic ``fim_rate`` fraction
    of documents as prefix/suffix/middle with sentinel markers so the
    model learns infilling — the standard code/text augmentation, run
    at corpus-build time ("FIM-for-free").

    Word-level splits with PORTABLE randomness (the temperature-sample
    discipline): doc selection, the two split points and the PSM-vs-
    SPM mode all derive from md5 hashes of doc_id, so the transform is
    partitioning-independent and replayable in the DuckDB oracle.
    Docs with < 3 words or outside the rate keep their text verbatim
    (``fim_applied`` false, ``mode`` 'none'). Zero shuffle — one
    projection, whole-stage codegen (array slice/join expressions).

    Output: (doc_id, fim_text, fim_applied, mode)."""
    did = F.col("doc_id").cast("string")
    sel = hex32(F.concat(F.lit("fim|"), did)) % 1_000_000 < int(
        fim_rate * 1_000_000
    )
    spm = hex32(F.concat(F.lit("fimM|"), did)) % 1_000_000 < int(
        spm_rate * 1_000_000
    )
    staged = docs.select(
        "doc_id",
        F.col(text_col).alias("text"),
        tokens(text_col).alias("w"),
        (hex32(F.concat(F.lit("fimA|"), did))).alias("h1"),
        (hex32(F.concat(F.lit("fimB|"), did))).alias("h2"),
        sel.alias("sel"),
        spm.alias("spm"),
    )
    n = F.size("w")
    i = F.col("h1") % (n + 1)  # prefix length in [0, n]
    j = i + F.col("h2") % (n - i + 1)  # middle end in [i, n]
    prefix = F.array_join(F.slice("w", F.lit(1), i), " ")
    middle = F.array_join(
        F.slice("w", (i + 1).cast("int"), (j - i).cast("int")), " "
    )
    suffix = F.array_join(
        F.slice("w", (j + 1).cast("int"), (n - j).cast("int")), " "
    )
    psm = F.concat(
        F.lit(FIM_PRE), prefix, F.lit(FIM_SUF), suffix, F.lit(FIM_MID),
        middle,
    )
    spm_text = F.concat(
        F.lit(FIM_SUF), suffix, F.lit(FIM_PRE), prefix, F.lit(FIM_MID),
        middle,
    )
    applied = F.col("sel") & (n >= 3)
    return staged.select(
        "doc_id",
        F.when(~applied, F.col("text"))
        .when(F.col("spm"), spm_text)
        .otherwise(psm)
        .alias("fim_text"),
        applied.alias("fim_applied"),
        F.when(~applied, F.lit("none"))
        .when(F.col("spm"), F.lit("spm"))
        .otherwise(F.lit("psm"))
        .alias("mode"),
    )


def fim_transform_sql(
    table: str = "documents",
    fim_rate: float = 0.5,
    spm_rate: float = 0.5,
) -> str:
    """DuckDB twin of :func:`fim_transform` (same hashes, same
    slices — DuckDB list slicing is 1-based inclusive like
    ``list_slice``)."""
    did = "CAST(doc_id AS VARCHAR)"
    key_fim = "'fim|' || " + did
    key_mode = "'fimM|' || " + did
    sel = (
        f"({hex32_sql(key_fim)} % 1000000) < {int(fim_rate * 1_000_000)}"
    )
    spm = (
        f"({hex32_sql(key_mode)} % 1000000) < {int(spm_rate * 1_000_000)}"
    )
    return f"""
    WITH staged AS (
      SELECT doc_id, text,
             {tokens_sql('text')} AS w,
             {hex32_sql(f"'fimA|' || {did}")} AS h1,
             {hex32_sql(f"'fimB|' || {did}")} AS h2,
             {sel} AS sel,
             {spm} AS spm
      FROM {table}
    ),
    pts AS (
      SELECT *, len(w) AS n,
             h1 % (len(w) + 1) AS i,
             (h1 % (len(w) + 1))
               + (h2 % (len(w) - (h1 % (len(w) + 1)) + 1)) AS j
      FROM staged
    ),
    parts AS (
      SELECT doc_id, text, sel, spm, n,
             -- DuckDB: array_to_string([]) is NULL (Spark: ''), and
             -- '||' propagates NULL — coalesce every part
             coalesce(array_to_string(list_slice(w, 1, i), ' '), '')
               AS prefix,
             coalesce(array_to_string(list_slice(w, i + 1, j), ' '), '')
               AS middle,
             coalesce(array_to_string(list_slice(w, j + 1, n), ' '), '')
               AS suffix
      FROM pts
    )
    SELECT doc_id,
           CASE WHEN NOT (sel AND n >= 3) THEN text
                WHEN spm THEN '{FIM_SUF}' || suffix || '{FIM_PRE}'
                     || prefix || '{FIM_MID}' || middle
                ELSE '{FIM_PRE}' || prefix || '{FIM_SUF}' || suffix
                     || '{FIM_MID}' || middle END AS fim_text,
           (sel AND n >= 3) AS fim_applied,
           CASE WHEN NOT (sel AND n >= 3) THEN 'none'
                WHEN spm THEN 'spm' ELSE 'psm' END AS mode
    FROM parts
    """


# ----------------------------------------------------- RAG chunking
def chunk_documents(
    docs: DataFrame,
    chunk_chars: int = 1200,
    overlap_chars: int = 200,
    text_col: str = "text",
) -> DataFrame:
    """Retrieval-side document chunking: fixed character windows with
    overlap (the CharacterTextSplitter convention RAG indexes are
    built on — training-side packing lives in :func:`pack_sequences`/
    :func:`pack_windows`, which are tokenizer-aware). Deterministic
    and SQL-expressible by design: window ``i`` is
    ``substring(text, i*stride + 1, chunk_chars)`` with
    ``stride = chunk_chars - overlap_chars``, so consecutive chunks
    share exactly ``overlap_chars`` characters and the union of
    chunks covers every character. Output: (doc_id, chunk_idx,
    n_chunks, chunk_text) — one row per chunk, empty docs emit one
    empty chunk (auditable: every input doc appears).

    Scale: one shuffle-free projection + posexplode — the generated
    windows are bounded by doc length, and the chunk text is produced
    FROM the staged row (no array payload carried through any join).
    Sentence-BOUNDARY chunking lives in :func:`chunk_sentences`
    (rule-based, oracle-exact); semantic/model-based snapping stays
    out of scope; compose with :func:`pack_windows` for token-aware
    splits."""
    if overlap_chars >= chunk_chars:
        raise ValueError("overlap_chars must be < chunk_chars")
    stride = chunk_chars - overlap_chars
    # exact integer ceil — no doubles anywhere near the oracle hash
    n_chunks = F.greatest(
        F.lit(1),
        F.expr(
            f"(length({text_col}) - {overlap_chars} + {stride - 1}) "
            f"div {stride}"
        ).cast("int"),
    )
    staged = docs.select(
        "doc_id", F.col(text_col).alias("_t"), n_chunks.alias("n_chunks")
    )
    exploded = staged.select(
        "doc_id",
        "_t",
        "n_chunks",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias(
            "chunk_idx"
        ),
    )
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        "n_chunks",
        F.expr(
            f"substring(_t, chunk_idx * {stride} + 1, {chunk_chars})"
        ).alias("chunk_text"),
    )


def chunk_documents_sql(
    chunk_chars: int = 1200,
    overlap_chars: int = 200,
    table: str = "documents",
) -> str:
    """DuckDB oracle twin (same stride arithmetic, same 1-based
    substr; both engines count CHARACTERS, not bytes)."""
    stride = chunk_chars - overlap_chars
    return f"""
    WITH staged AS (
      SELECT doc_id, text AS _t,
             GREATEST(1, CAST(
               (length(text) - {overlap_chars} + {stride} - 1)
                 // {stride} AS INTEGER)) AS n_chunks
      FROM {table}
    )
    SELECT doc_id,
           CAST(i AS INTEGER) AS chunk_idx,
           n_chunks,
           substr(_t, CAST(i * {stride} + 1 AS BIGINT), {chunk_chars})
             AS chunk_text
    FROM staged, UNNEST(range(n_chunks)) AS u(i)
    """


#: sentence segmentation for chunking: runs of non-terminators plus
#: their trailing .!? group, or a bare terminator run — every character
#: lands in exactly one match; valid in BOTH Java regex and RE2 (no
#: lookaround), which is what keeps the oracle twin exact
_SENT_RE = "[^.!?]+[.!?]*|[.!?]+"


def chunk_sentences(
    docs: DataFrame,
    chunk_chars: int = 1200,
    text_col: str = "text",
) -> DataFrame:
    """Sentence-aware RAG chunking — the boundary
    :func:`chunk_documents` documents as out of scope, closed with a
    DETERMINISTIC rule-based formulation (no tokenizer/model, so the
    exact oracle survives): segment into sentences with a
    RE2-compatible pattern, then assign sentence ``i`` to chunk
    ``(Σ chars of sentences < i) DIV chunk_chars`` — a sentence never
    splits across chunks, chunk boundaries come from an exact-integer
    prefix sum (not a sequential greedy fold, which would not be
    SQL-expressible), and chunk sizes hover around ``chunk_chars``
    (overshoot bounded by one sentence). Chunk text is the
    space-joined trimmed sentences — normalized whitespace, like the
    RecursiveCharacterTextSplitter convention.

    Output: (doc_id, chunk_idx, n_chunks, n_sentences, chunk_text);
    docs with no sentences emit one empty chunk (every input doc
    appears — the audit rule).

    Scale: sentence arrays are trimmed/empty-filtered row-locally
    inside the staged projection (HOF rule; no post-explode Filter to
    trip the r7 pushdown rule) and exploded with ``posexplode_outer``
    so empty arrays keep their marker row; the prefix sum is
    one doc-keyed window whose Exchange the (doc, chunk) hash
    aggregation and the per-doc n_chunks window both REUSE (doc_id is
    a subset of both keys) — one shuffle total. The ordered rebuild is
    the line_dedup idiom: ``array_sort(collect_list(struct(pos, …)))``."""
    # trim + drop-empty happen INSIDE the staged array (row-local HOFs,
    # no captured outer exprs): a doc whose sentences ALL trim empty
    # (e.g. whitespace-only text) stages an EMPTY array and flows
    # through the posexplode_outer null-marker row like a no-sentence
    # doc — matching the oracle twin's LEFT JOIN re-attach. Filtering
    # post-explode instead silently dropped such docs (r11 fix).
    staged = docs.select(
        "doc_id",
        F.filter(
            F.transform(
                F.regexp_extract_all(
                    F.col(text_col), F.lit(_SENT_RE), 0
                ),
                lambda s: F.trim(s),
            ),
            lambda s: s != "",
        ).alias("_sents"),
    )
    # positions shift vs the raw match list, but only RELATIVE order is
    # consumed (window orderBy + array_sort), which filtering preserves
    kept = staged.select(
        "doc_id",
        F.posexplode_outer("_sents").alias("pos", "sent"),
    )
    w_cum = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    assigned = kept.withColumn(
        "_cum",
        F.coalesce(
            F.sum(F.length("sent").cast("long")).over(w_cum), F.lit(0)
        ),
    ).withColumn(
        # exact integer DIV — no doubles anywhere near the oracle hash
        "chunk_idx",
        F.expr(f"CAST(_cum DIV {chunk_chars} AS INT)"),
    )
    agg = assigned.groupBy("doc_id", "chunk_idx").agg(
        F.count("sent").cast("int").alias("n_sentences"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "sent"))
                ),
                lambda s: s["sent"],
            ),
        ).alias("chunk_text"),
    )
    w_doc = Window.partitionBy("doc_id")
    return agg.select(
        "doc_id",
        "chunk_idx",
        F.count(F.lit(1)).over(w_doc).cast("int").alias("n_chunks"),
        "n_sentences",
        "chunk_text",
    )


def chunk_sentences_sql(
    chunk_chars: int = 1200, table: str = "documents"
) -> str:
    """DuckDB twin of :func:`chunk_sentences` (same RE2 pattern, same
    prefix-sum assignment; the no-sentence marker row is rebuilt with
    a LEFT JOIN since UNNEST of an empty list emits nothing)."""
    return f"""
    WITH sents0 AS (
      SELECT doc_id,
             unnest(list_transform(
                 regexp_extract_all(text, '{_SENT_RE}'),
                 (x, i) -> {{'pos': i, 'raw': x}}), recursive := true)
      FROM {table}
    ),
    kept AS (
      SELECT doc_id, pos, trim(raw) AS sent
      FROM sents0 WHERE trim(raw) <> ''
    ),
    assigned AS (
      SELECT doc_id, pos, sent,
             CAST(COALESCE(SUM(length(sent)) OVER (
                 PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) // {chunk_chars} AS INTEGER) AS chunk_idx
      FROM kept
    ),
    agg AS (
      SELECT doc_id, chunk_idx,
             COUNT(sent)::INTEGER AS n_sentences,
             string_agg(sent, ' ' ORDER BY pos) AS chunk_text
      FROM assigned GROUP BY doc_id, chunk_idx
    ),
    withn AS (
      SELECT *, COUNT(*) OVER (PARTITION BY doc_id)::INTEGER AS n_chunks
      FROM agg
    )
    SELECT d.doc_id,
           COALESCE(w.chunk_idx, 0) AS chunk_idx,
           COALESCE(w.n_chunks, 1) AS n_chunks,
           COALESCE(w.n_sentences, 0) AS n_sentences,
           COALESCE(w.chunk_text, '') AS chunk_text
    FROM {table} d LEFT JOIN withn w ON d.doc_id = w.doc_id
    """
