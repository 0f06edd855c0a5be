"""Text-analysis operators for LLM training-data pipelines (SURVEY.md §2.3).

Pure JVM built-ins over the ``documents`` table — whole-stage-codegen
eligible, linear: tokenization is a per-row projection, the stats are
single hash aggregations with map-side partial agg. ONE exception:
:func:`normalize_text` needs CPython's ``unicodedata`` for NFC (Spark
has no normalization expression) and is a documented Arrow-batched
py-lane, same convention as the Avro codec.

Every function has a DuckDB SQL twin for the driver oracle. Both
dialects share the SAME tokenizer definition (split on whitespace runs,
drop empties) so token counts agree bit-for-bit.
"""

from __future__ import annotations

# Module-level so pandas_udf type-hint inference can resolve the
# string annotations (PEP 563; see operators/similarity.py)
from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F
from pyspark.sql.window import Window

# ------------------------------------------------------------- tokenizer
#
# r13-opt note on the ``*_sx`` builders in this module: each returns a
# SPARK-SQL fragment (the ``*_sql`` twins are the DuckDB dialect) that
# ``F.expr`` parses in ONE py4j round trip. Composing the same trees
# through the Column API costs one driver↔JVM socket round trip per
# call — measured at 0.5-2.2 ms each on this host and ~50-65 % of
# several bench lanes' wall clock (build vs execute split,
# OPTIMIZATION_r13.md #2). The parsed fragments produce the IDENTICAL
# Catalyst expressions (verified by the driver's 50-query hash oracle
# and the scale-vs-md5 pair-set pins), so results are unchanged.
def tokens_sx(expr: str) -> str:
    """Spark-SQL twin of :func:`tokens` over a column/fragment name."""
    return f"filter(split({expr}, '\\\\s+'), t -> t != '')"


def tokens(text: Column | str) -> Column:
    """Whitespace tokenizer: split on \\s+ runs, drop empty strings."""
    if isinstance(text, str):
        return F.expr(tokens_sx(text))
    return F.filter(F.split(text, r"\s+"), lambda t: t != F.lit(""))


def tokens_sql(expr: str) -> str:
    return f"list_filter(regexp_split_to_array({expr}, '\\s+'), t -> t <> '')"


def _sq(pat: str) -> str:
    """Spark-SQL single-quoted string literal with backslash escaping
    (Spark string literals treat backslash as an escape char)."""
    return "'" + pat.replace("\\", "\\\\").replace("'", "\\'") + "'"


def word_kgrams_sx(t: str, k: int) -> str:
    """Spark-SQL twin of :func:`word_kgrams` (same zip_with chain —
    the repeated ``m`` fragment mirrors the repeated Column subtree)."""
    m = f"greatest((size({t}) - {k - 1}), 0)"
    out = f"slice({t}, 1, {m})"
    for i in range(1, k):
        out = (
            f"zip_with({out}, slice({t}, {i + 1}, {m}), "
            "(a, b) -> concat_ws(' ', a, b))"
        )
    return out


def word_kgrams(t: Column, k: int) -> Column:
    """Positional word k-grams ('w1 w2 … wk' strings) from a token
    array. Built as a zip_with chain over k shifted slices — O(k) array
    ops per ROW. Never use the transform(sequence, i -> slice(t, i, k))
    form with an inline token expression: Spark re-evaluates expressions
    captured inside higher-order-function lambdas once per ELEMENT,
    which turns shingling O(tokens) into O(tokens²) (measured 6x slower
    at sf0.1). Callers on hot paths should also stage ``t`` behind a
    projection (``.select(tokens(...).alias("toks"))``) so the
    tokenizer itself runs once per row, not once per slice."""
    m = F.greatest(F.size(t) - (k - 1), F.lit(0))
    out = F.slice(t, 1, m)
    for i in range(1, k):
        out = F.zip_with(
            out, F.slice(t, i + 1, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return out


# BPE-ish subword proxy: letter runs, digit runs, and single other chars
# — a deterministic stand-in for a real BPE vocab (which needs a model
# artifact this container doesn't ship).
_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def token_counts(docs: DataFrame) -> DataFrame:
    """Per-document token counting: whitespace words + BPE-ish pieces +
    char count. The three standard 'how big is this doc' measures."""
    return docs.select(
        "doc_id",
        F.expr(f"size({tokens_sx('text')})").alias("n_words"),
        F.expr(
            f"size(regexp_extract_all(text, {_sq(_BPE_RE)}, 0))"
        ).alias("n_pieces"),
        F.expr("length(text)").alias("n_chars_measured"),
    )


def token_counts_sql(table: str = "documents") -> str:
    return f"""
        SELECT doc_id,
               len({tokens_sql("text")})::INT AS n_words,
               len(regexp_extract_all(text, '{_BPE_RE}'))::INT AS n_pieces,
               length(text)::INT AS n_chars_measured
        FROM {table}
    """


# ------------------------------------------------------------ text stats
def text_stats(docs: DataFrame) -> DataFrame:
    """Corpus stats per language: doc counts, char/token totals and
    means, distinct sources. One hash agg; the mean is derived post-agg
    from exact longs (oracle-stable double)."""
    per_doc = docs.select(
        "lang",
        "source",
        F.expr("CAST(length(text) AS BIGINT)").alias("chars"),
        F.expr(f"CAST(size({tokens_sx('text')}) AS BIGINT)").alias("words"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("chars").cast("long").alias("total_chars"),
            F.sum("words").cast("long").alias("total_words"),
            F.countDistinct("source").alias("n_sources"),
        )
        .withColumn(
            "avg_chars", F.col("total_chars") / F.col("n_docs")
        )
        .withColumn("avg_words", F.col("total_words") / F.col("n_docs"))
        .orderBy("lang")
    )


def text_stats_sql(table: str = "documents") -> str:
    return f"""
        WITH per_doc AS (
            SELECT lang, source,
                   length(text)::BIGINT AS chars,
                   len({tokens_sql("text")})::BIGINT AS words
            FROM {table}
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               SUM(chars)::BIGINT AS total_chars,
               SUM(words)::BIGINT AS total_words,
               COUNT(DISTINCT source) AS n_sources,
               SUM(chars)::BIGINT / COUNT(*) AS avg_chars,
               SUM(words)::BIGINT / COUNT(*) AS avg_words
        FROM per_doc GROUP BY lang ORDER BY lang
    """


# -------------------------------------------------------------- lang id
# n-gram/stopword heuristic language ID. Tiny marker inventories keep
# the expression cheap (a handful of array_contains scans per row);
# deterministic alphabetical tiebreak. This is the classic
# "stopword-profile" identifier — accuracy is bounded, but the *plumbing*
# (argmax over per-language evidence scores) is the real operator.
_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "nicht", "ein"],
    "en": ["the", "and", "of", "is", "to", "a"],
    "es": ["el", "la", "los", "que", "de", "y"],
    "fr": ["le", "la", "les", "et", "est", "une"],
}


def _marker_count_sx(toks: str, words: list[str]) -> str:
    """How many tokens of the ``toks`` array fragment are, lowercased,
    one of ``words`` — the stopword-evidence count every scorer shares
    (Spark SQL, see tokens_sx note)."""
    arr = "array(" + ",".join(f"'{w}'" for w in words) + ")"
    return f"size(filter({toks}, t -> array_contains({arr}, lower(t))))"


def _marker_count_sql(toks: str, words: list[str]) -> str:
    """DuckDB twin of :func:`_marker_count_sx`."""
    arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return f"len(list_filter({toks}, t -> list_contains({arr}, lower(t))))"


def _marker_score_cols() -> list[Column]:
    """One ``s_{lang}`` marker-hit count per language, over a staged
    ``toks`` array column (shared by lang_id and doc_profile)."""
    return [
        F.expr(_marker_count_sx("toks", ws)).alias(f"s_{lang}")
        for lang, ws in _MARKERS.items()
    ]


def _marker_scores_sql(toks: str) -> str:
    """DuckDB twin of :func:`_marker_score_cols` over a token-list
    fragment: comma-separated ``s_{lang}`` BIGINT select items."""
    return ", ".join(
        f"{_marker_count_sql(toks, ws)}::BIGINT AS s_{lang}"
        for lang, ws in _MARKERS.items()
    )


_BEST_SX = "greatest(" + ", ".join(f"s_{lang}" for lang in _MARKERS) + ")"
_BEST_SQL = "GREATEST(" + ", ".join(f"s_{lang}" for lang in _MARKERS) + ")"


def _lang_pred_sx() -> str:
    """Argmax language from the ``s_{lang}`` columns as Spark SQL: 'und'
    on zero evidence, alphabetical tiebreak (first max wins) — fully
    deterministic for the oracle."""
    case = f"CASE WHEN {_BEST_SX} <= 0 THEN 'und' "
    for lang in sorted(_MARKERS):
        case += f"WHEN s_{lang} = {_BEST_SX} THEN '{lang}' "
    return case + "END"


def _lang_pred_sql() -> str:
    """DuckDB twin of :func:`_lang_pred_sx`."""
    case = f"CASE WHEN {_BEST_SQL} <= 0 THEN 'und' "
    for lang in sorted(_MARKERS):
        case += f"WHEN s_{lang} = {_BEST_SQL} THEN '{lang}' "
    return case + "END"


def lang_id(docs: DataFrame) -> DataFrame:
    """Predict language as argmax of stopword-marker hits (see
    :func:`_lang_pred_sx` for the tie/zero-evidence rules)."""
    staged = docs.select("doc_id", "lang", tokens("text").alias("toks"))
    scored = staged.select("doc_id", "lang", *_marker_score_cols())
    return scored.select(
        "doc_id",
        F.col("lang").alias("lang_labeled"),
        F.expr(_lang_pred_sx()).alias("lang_pred"),
        F.expr(f"CAST({_BEST_SX} AS INT)").alias("marker_hits"),
    )


def lang_id_sql(table: str = "documents") -> str:
    return f"""
        WITH scored AS (
            SELECT doc_id, lang, {_marker_scores_sql(tokens_sql("text"))}
            FROM {table}
        )
        SELECT doc_id, lang AS lang_labeled, {_lang_pred_sql()} AS lang_pred,
               {_BEST_SQL}::INT AS marker_hits
        FROM scored
    """


# -------------------------------------------------------- quality score
def _quality_sum_sx(chars: str, words: str, stopwords: str) -> str:
    """The quality score over exact long counts as Spark SQL: 0.5 for
    20..2000 words, 0.3 for any stopword evidence, 0.2 for a mean word
    length of 3..12 chars, summed in that order (the one definition
    every scorer and gate uses). Double literals carry the D suffix so
    the parser never types them DECIMAL."""
    wnz = f"greatest({words}, 1)"
    return (
        f"(CASE WHEN ({words} >= 20) AND ({words} <= 2000) "
        "THEN 0.5D ELSE 0.0D END"
        f" + CASE WHEN {stopwords} > 0 THEN 0.3D ELSE 0.0D END"
        f" + CASE WHEN (({chars} / {wnz}) >= 3) AND (({chars} / {wnz}) <= 12) "
        "THEN 0.2D ELSE 0.0D END)"
    )


def _quality_sum_sql(chars: str, words: str, stopwords: str) -> str:
    """DuckDB twin of :func:`_quality_sum_sx` (DECIMAL literals: callers
    cast the sum)."""
    return (
        f"(CASE WHEN {words} BETWEEN 20 AND 2000 THEN 0.5 ELSE 0.0 END"
        f" + CASE WHEN {stopwords} > 0 THEN 0.3 ELSE 0.0 END"
        f" + CASE WHEN {chars} / GREATEST({words}, 1) BETWEEN 3 AND 12"
        " THEN 0.2 ELSE 0.0 END)"
    )


def _quality_cols(
    chars: str, words: str, stopwords: str
) -> list[Column]:
    """The quality-score output expressions over exact long counts
    (shared by quality_score and doc_profile). Inputs are Spark-SQL
    fragments (see tokens_sx note)."""
    wnz = f"greatest({words}, 1)"
    return [
        F.expr(f"{chars} / {wnz}").alias("mean_word_len"),
        F.expr(f"{stopwords} / {wnz}").alias("stopword_ratio"),
        F.expr(_quality_sum_sx(chars, words, stopwords)).alias("quality"),
    ]


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality scoring (length / mean-word-length / stopword
    ratio) — the standard cheap pre-filter for LLM corpora. All ratios
    derive from exact int counts, so the doubles are oracle-stable."""
    return _with_quality(docs.select("doc_id", "text")).drop("text")


def _with_quality(docs: DataFrame) -> DataFrame:
    """``docs`` plus :func:`quality_score`'s columns — the one scoring
    the operator and the corpus build's quality gate both filter on."""
    en = _MARKERS["en"]
    staged = docs.select(
        "*",
        F.expr("CAST(length(text) AS BIGINT)").alias("chars"),
        tokens("text").alias("toks"),
    )
    scored = staged.select(
        *docs.columns,
        "chars",
        F.expr("CAST(size(toks) AS BIGINT)").alias("words"),
        F.expr(
            f"CAST({_marker_count_sx('toks', en)} AS BIGINT)"
        ).alias("stopwords"),
    )
    return scored.select(
        *docs.columns,
        "chars",
        "words",
        *_quality_cols("chars", "words", "stopwords"),
    )


def quality_score_sql(table: str = "documents") -> str:
    toks = tokens_sql("text")
    return f"""
        WITH scored AS (
            SELECT doc_id,
                   length(text)::BIGINT AS chars,
                   len({toks})::BIGINT AS words,
                   {_marker_count_sql(toks, _MARKERS["en"])}::BIGINT AS stopwords
            FROM {table}
        )
        SELECT doc_id, chars, words,
               chars / GREATEST(words, 1) AS mean_word_len,
               stopwords / GREATEST(words, 1) AS stopword_ratio,
               {_quality_sum_sql("chars", "words", "stopwords")}::DOUBLE AS quality
        FROM scored
    """


# ----------------------------------------------------------- fingerprint
def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized lowercase
    text — the canonical content-defined exact-dup key (md5 keeps the
    oracle twin exact)."""
    norm = "regexp_replace(trim(lower(text)), '\\\\s+', ' ')"
    return docs.select(
        "doc_id",
        F.expr(f"md5({norm})").alias("fp"),
        F.expr(f"CAST(length({norm}) AS BIGINT)").alias("norm_len"),
    )


def fingerprint_sql(table: str = "documents") -> str:
    norm = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"
    return f"""
        SELECT doc_id, md5({norm}) AS fp, length({norm})::BIGINT AS norm_len
        FROM {table}
    """


# ------------------------------------------------------------ doc profile
def doc_profile(docs: DataFrame) -> DataFrame:
    """Fused per-document profile: token counts + language-ID + quality
    score + fingerprint in ONE scan.

    The component operators above stay standalone (and pytest-pinned);
    this is the composition a production corpus pipeline actually runs,
    and fusing them keeps the whole profile a shuffle-free projection —
    four separate queries would either rescan the corpus four times or
    pay three doc_id shuffle-joins to reassemble. Token arrays are
    staged behind a projection once and every downstream measure reads
    the staged column (HOF-lambda rule, SCALE.md)."""
    norm = "regexp_replace(trim(lower(text)), '\\\\s+', ' ')"
    staged = docs.select(
        "doc_id",
        "lang",
        F.expr("length(text)").alias("n_chars_measured"),
        F.expr(
            f"size(regexp_extract_all(text, {_sq(_BPE_RE)}, 0))"
        ).alias("n_pieces"),
        F.expr(f"md5({norm})").alias("fp"),
        F.expr(f"CAST(length({norm}) AS BIGINT)").alias("norm_len"),
        tokens("text").alias("toks"),
    )
    scored = staged.select(
        "doc_id",
        "lang",
        "n_chars_measured",
        "n_pieces",
        "fp",
        "norm_len",
        F.size("toks").alias("n_words"),
        *_marker_score_cols(),
    )
    chars = "CAST(n_chars_measured AS BIGINT)"
    words = "CAST(n_words AS BIGINT)"
    stopwords = "CAST(s_en AS BIGINT)"  # en markers == quality_score's
    return scored.select(
        "doc_id",
        "n_words",
        "n_pieces",
        "n_chars_measured",
        F.col("lang").alias("lang_labeled"),
        F.expr(_lang_pred_sx()).alias("lang_pred"),
        F.expr(f"CAST({_BEST_SX} AS INT)").alias("marker_hits"),
        F.expr(chars).alias("chars"),
        F.expr(words).alias("words"),
        *_quality_cols(chars, words, stopwords),
        "fp",
        "norm_len",
    )


def doc_profile_sql(table: str = "documents") -> str:
    """Oracle twin composed from the component builders verbatim (joins
    are free to DuckDB at oracle scale; reusing the proven SQL keeps
    zero drift between the fused and standalone formulations)."""
    return f"""
        SELECT t.doc_id, t.n_words, t.n_pieces, t.n_chars_measured,
               l.lang_labeled, l.lang_pred, l.marker_hits,
               q.chars, q.words, q.mean_word_len, q.stopword_ratio,
               q.quality,
               f.fp, f.norm_len
        FROM ({token_counts_sql(table)}) t
        JOIN ({lang_id_sql(table)}) l USING (doc_id)
        JOIN ({quality_score_sql(table)}) q USING (doc_id)
        JOIN ({fingerprint_sql(table)}) f USING (doc_id)
    """


# -------------------------------------------------------------- PII scrub
# Patterns restricted to syntax Java regex and RE2 (DuckDB) interpret
# identically: no backreferences, no lookaround, leftmost-first greedy.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"\b\d{1,3}(\.\d{1,3}){3}\b"
_PII_PHONE = r"\+\d{2}-\d{4,12}"


def pii_scrub(docs: DataFrame) -> DataFrame:
    """PII redaction — the compliance pass every training-data pipeline
    runs before tokenization: emails, IPv4 addresses, and intl-format
    phone numbers are counted then replaced with typed placeholders.
    Pure ``regexp_replace``/``regexp_extract_all`` projections — no
    shuffle, no UDF; at 100 TB this is a scan-local map pass that
    pipelines with whatever runs next. Replacement order (email → IP →
    phone) is fixed so the two engines rewrite identical strings.
    """
    t = F.col("text")
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, F.lit(_PII_EMAIL), F.lit("<EMAIL>")),
            F.lit(_PII_IP),
            F.lit("<IP>"),
        ),
        F.lit(_PII_PHONE),
        F.lit("<PHONE>"),
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(_PII_EMAIL), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(_PII_IP), F.lit(0)))
        .cast("long")
        .alias("n_ips"),
        F.size(F.regexp_extract_all(t, F.lit(_PII_PHONE), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        clean.alias("clean_text"),
    )


def pii_scrub_sql(table: str = "documents") -> str:
    return f"""
        SELECT doc_id,
               len(regexp_extract_all(text, '{_PII_EMAIL}'))::BIGINT AS n_emails,
               len(regexp_extract_all(text, '{_PII_IP}'))::BIGINT AS n_ips,
               len(regexp_extract_all(text, '{_PII_PHONE}'))::BIGINT AS n_phones,
               regexp_replace(regexp_replace(regexp_replace(
                   text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                   '{_PII_IP}', '<IP>', 'g'),
                   '{_PII_PHONE}', '<PHONE>', 'g') AS clean_text
        FROM {table}
    """


def pseudonymize(
    docs: DataFrame, key: str = "spark-graft-pseudo"
) -> DataFrame:
    """Keyed pseudonymization — the OTHER half of the PII story:
    :func:`pii_scrub` destroys identifiers, this derives a STABLE
    per-value token (first 16 hex chars of SHA-256(key || ':' ||
    literal)) so the same email maps to the same token corpus-wide —
    records stay joinable/countable across runs and datasets
    (GDPR-style pseudonymisation with consistent pseudonyms), while a
    key rotation re-tokenizes everything. Output is the TOKEN MAP —
    one row per distinct (doc_id, kind, literal): ``(doc_id, kind,
    token, n_occurrences)`` — the literal itself never leaves the
    aggregation.

    Plan shape: one scan; the three regex extracts are staged as ONE
    concatenated struct array behind a projection, ``explode_outer`` +
    an ABOVE-the-Generate null filter (the r7 pushdown rule: a plain
    explode makes Catalyst infer ``size(regex-array) > 0`` into the
    scan — an expensive-filter node), then one hash aggregation.
    Everything JVM-side: sha2 is a codegen expression, no UDF.
    """
    t = F.col("text")

    def matches(kind: str, pat: str):
        return F.transform(
            F.regexp_extract_all(t, F.lit(pat), F.lit(0)),
            lambda x: F.struct(
                F.lit(kind).alias("kind"), x.alias("lit")
            ),
        )

    arr = F.concat(
        matches("email", _PII_EMAIL),
        matches("ip", _PII_IP),
        matches("phone", _PII_PHONE),
    )
    staged = docs.select("doc_id", arr.alias("pii"))
    exploded = staged.select(
        "doc_id", F.explode_outer("pii").alias("m")
    ).where(F.col("m").isNotNull())
    return (
        exploded.groupBy("doc_id", "m.kind", "m.lit")
        .agg(F.count("*").cast("long").alias("n_occurrences"))
        .select(
            "doc_id",
            "kind",
            F.substring(
                F.sha2(F.concat(F.lit(key + ":"), F.col("lit")), 256),
                1,
                16,
            ).alias("token"),
            "n_occurrences",
        )
    )


def pseudonymize_sql(
    table: str = "documents", key: str = "spark-graft-pseudo"
) -> str:
    return f"""
        WITH m AS (
            SELECT doc_id, 'email' AS kind,
                   unnest(regexp_extract_all(text, '{_PII_EMAIL}')) AS lit
            FROM {table}
            UNION ALL
            SELECT doc_id, 'ip',
                   unnest(regexp_extract_all(text, '{_PII_IP}'))
            FROM {table}
            UNION ALL
            SELECT doc_id, 'phone',
                   unnest(regexp_extract_all(text, '{_PII_PHONE}'))
            FROM {table}
        )
        SELECT doc_id, kind,
               substr(sha256('{key}:' || lit), 1, 16) AS token,
               COUNT(*)::BIGINT AS n_occurrences
        FROM m
        GROUP BY doc_id, kind, lit
    """


# ------------------------------------------------------------- winnowing
def winnow_fingerprints(docs: DataFrame, k: int = 5, w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS rolling-hash selection scheme): hash every word k-gram, then
    keep the minimum hash of each sliding window of ``w`` positions.

    Guarantees: any shared run of ≥ w+k-1 words between two documents
    shares at least one selected fingerprint, while only ~2/(w+1) of
    all k-gram hashes are kept — sublinear fingerprint sets with a
    matching floor, which is what makes plagiarism/near-dup detection
    work at corpus scale. Pure expression tree (zip_with/slice/
    array_min) — no UDFs; output is (doc_id, fp) pairs. The token and
    hash arrays are staged behind projections so each is computed once
    per row (see :func:`word_kgrams` on HOF-lambda re-evaluation).
    """
    from teste_carga_avro_vs_json_spark.functions.portable import hex32

    toks = docs.select("doc_id", tokens("text").alias("toks"))
    hashed = toks.select(
        "doc_id",
        F.transform(word_kgrams(F.col("toks"), k), lambda g: hex32(g)).alias("hs"),
    )
    n = F.size("hs")
    mins = F.when(
        n >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(n - (w - 1), F.lit(1))),
                lambda i: F.array_min(F.slice(F.col("hs"), i, w)),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return (
        hashed.select("doc_id", F.explode(mins).alias("fp"))
        .orderBy("doc_id", "fp")
    )


def repetition_profile(docs: DataFrame, n: int = 2) -> DataFrame:
    """Per-document repetition signals — the Gopher/MassiveText quality
    filters (Rae et al. 2021 §A.1.1) adapted to word n-grams: duplicate
    word counts, the modal n-gram's character share ("top n-gram
    fraction"), and characters inside duplicated n-grams ("duplicated
    n-gram fraction"). The reference engine has no corpus analysis
    (SURVEY.md §2.2); this is the standard pre-training hygiene gate a
    100 TB pipeline runs before tokenization.

    Scale shape: ZERO shuffle. The naive plan — explode n-grams,
    ``groupBy(doc_id, gram)``, re-agg per doc — shuffles every gram of
    the corpus twice. Instead the per-doc gram multiset is counted
    ROW-LOCALLY: sort the gram array, then one ``F.aggregate`` fold over
    adjacent runs (O(k log k) per row, all JVM expression code). The
    token and sorted-gram arrays are staged behind projections so each
    is computed once per row (HOF-lambda rule, see :func:`word_kgrams`).

    Everything the flag depends on is an exact long (char/occurrence
    counts); ``repetitive`` itself is long arithmetic — no doubles, so
    the DuckDB oracle twin (which counts relationally via GROUP BY at
    its own scale) matches hash-exactly.

    Output per doc: word totals (``n_words``/``n_distinct_words``/
    ``dup_words``), ``total_chars``, the modal n-gram with its
    occurrence count and char mass (count x gram length; ties resolve
    to the lexicographically smallest gram — the fold only replaces on
    a strictly greater count over the ascending-sorted array), char
    mass of ALL duplicated n-grams, and the drop flag
    ``repetitive`` = dup-gram chars > 20% of the doc OR duplicate
    words > 50% of words.
    """
    staged = docs.select(
        "doc_id",
        F.expr("CAST(length(text) AS BIGINT)").alias("total_chars"),
        tokens("text").alias("toks"),
    )
    sorted_grams = staged.select(
        "doc_id",
        "total_chars",
        F.expr("CAST(size(toks) AS BIGINT)").alias("n_words"),
        F.expr("CAST(size(array_distinct(toks)) AS BIGINT)").alias(
            "n_distinct_words"
        ),
        F.expr(f"array_sort({word_kgrams_sx('toks', n)})").alias("g"),
    )
    # One parsed fold (see tokens_sx note). run2/new_top fragments are
    # textually repeated exactly where the Column form duplicated the
    # subtree — identical Catalyst tree, identical values.
    # Duplicated-gram chars: a run of r >= 2 equal grams contributes
    # r * len(gram) — booked as 2*len when the run reaches 2 (the
    # first occurrence becomes retroactively duplicated) plus len
    # for each further repeat.
    zero = (
        "named_struct('prev', '', 'run', CAST(0 AS BIGINT), "
        "'top', CAST(0 AS BIGINT), 'top_gram', '', "
        "'dup', CAST(0 AS BIGINT))"
    )
    run2 = "CAST(CASE WHEN x = acc.prev THEN acc.run + 1 ELSE 1 END AS BIGINT)"
    dup2 = (
        f"acc.dup + CAST(CASE WHEN {run2} = 2 THEN 2 * length(x) "
        f"WHEN {run2} > 2 THEN length(x) ELSE 0 END AS BIGINT)"
    )
    step = (
        "named_struct("
        "'prev', x, "
        f"'run', {run2}, "
        f"'top', CASE WHEN {run2} > acc.top THEN {run2} ELSE acc.top END, "
        f"'top_gram', CASE WHEN {run2} > acc.top THEN x "
        "ELSE acc.top_gram END, "
        f"'dup', {dup2})"
    )
    folded = sorted_grams.select(
        "doc_id",
        "total_chars",
        "n_words",
        "n_distinct_words",
        F.expr(f"aggregate(g, {zero}, (acc, x) -> {step})").alias("st"),
    )
    top = folded.select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        F.expr("n_words - n_distinct_words").alias("dup_words"),
        "total_chars",
        F.expr(
            "CASE WHEN st.top > 0 THEN st.top_gram END"
        ).alias("top_gram"),
        F.col("st.top").alias("top_gram_count"),
        F.expr(
            "CAST(CASE WHEN st.top > 0 "
            "THEN st.top * CAST(length(st.top_gram) AS BIGINT) "
            "ELSE 0 END AS BIGINT)"
        ).alias("top_gram_chars"),
        F.col("st.dup").alias("dup_gram_chars"),
    )
    return top.withColumn(
        "repetitive",
        F.expr(
            "(5 * dup_gram_chars > total_chars) "
            "OR (2 * dup_words > n_words)"
        ),
    )


def repetition_profile_sql(table: str = "documents", n: int = 2) -> str:
    """DuckDB twin of :func:`repetition_profile` — counts the gram
    multiset relationally (unnest + GROUP BY is the natural DuckDB
    form; the Spark side folds row-locally instead, but both count the
    same multiset). Ties for the modal gram resolve identically:
    ``ORDER BY c DESC, gram ASC`` picks the lexicographically smallest
    max-count gram, exactly the fold's strictly-greater-replaces rule
    over the ascending-sorted array. Docs with no grams survive via the
    LEFT JOINs (unnest emits no rows for them)."""
    t = tokens_sql("text")
    grams = (
        f"list_transform(generate_series(1, GREATEST(len(toks) - {n - 1}, 0)), "
        f"i -> array_to_string(toks[i:i+{n - 1}], ' '))"
    )
    return f"""
        WITH per AS (
            SELECT doc_id,
                   length(text)::BIGINT AS total_chars,
                   {t} AS toks
            FROM {table}
        ),
        sized AS (
            SELECT doc_id, total_chars,
                   len(toks)::BIGINT AS n_words,
                   len(list_distinct(toks))::BIGINT AS n_distinct_words,
                   {grams} AS grams
            FROM per
        ),
        counts AS (
            SELECT doc_id, gram, COUNT(*)::BIGINT AS c
            FROM (SELECT doc_id, unnest(grams) AS gram FROM sized)
            GROUP BY doc_id, gram
        ),
        top AS (
            SELECT doc_id, gram, c FROM (
                SELECT doc_id, gram, c,
                       ROW_NUMBER() OVER (
                           PARTITION BY doc_id ORDER BY c DESC, gram ASC
                       ) AS rn
                FROM counts
            ) WHERE rn = 1
        ),
        dup AS (
            SELECT doc_id,
                   SUM(CASE WHEN c >= 2 THEN c * length(gram) ELSE 0 END)::BIGINT
                       AS dup_gram_chars
            FROM counts GROUP BY doc_id
        )
        SELECT s.doc_id, s.n_words, s.n_distinct_words,
               (s.n_words - s.n_distinct_words)::BIGINT AS dup_words,
               s.total_chars,
               t.gram AS top_gram,
               COALESCE(t.c, 0)::BIGINT AS top_gram_count,
               COALESCE(t.c * length(t.gram), 0)::BIGINT AS top_gram_chars,
               COALESCE(d.dup_gram_chars, 0)::BIGINT AS dup_gram_chars,
               (5 * COALESCE(d.dup_gram_chars, 0) > s.total_chars
                OR 2 * (s.n_words - s.n_distinct_words) > s.n_words)
                   AS repetitive
        FROM sized s
        LEFT JOIN top t USING (doc_id)
        LEFT JOIN dup d USING (doc_id)
    """


def winnow_fingerprints_sql(table: str = "documents", k: int = 5, w: int = 4) -> str:
    from teste_carga_avro_vs_json_spark.functions.portable import hex32_sql

    t = tokens_sql("text")
    kg = (
        f"list_transform(generate_series(1, GREATEST(len({t}) - {k - 1}, 0)), "
        f"i -> array_to_string({t}[i:i+{k - 1}], ' '))"
    )
    hs = f"list_transform({kg}, g -> {hex32_sql('g')})"
    return f"""
        WITH base AS (SELECT doc_id, {hs} AS hs FROM {table}),
        mins AS (
            SELECT doc_id,
                   CASE WHEN len(hs) >= 1 THEN
                       list_distinct(list_transform(
                           generate_series(1, GREATEST(len(hs) - {w - 1}, 1)),
                           i -> list_min(hs[i:i+{w - 1}])))
                   ELSE [] END AS fps
            FROM base
        )
        SELECT doc_id, unnest(fps) AS fp FROM mins ORDER BY doc_id, fp
    """


def shared_passages(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 10,
) -> DataFrame:
    """Cross-document shared-passage detection: doc pairs that share at
    least ``min_shared`` winnowing fingerprints — the boilerplate /
    quotation / template-reuse detector (MOSS applied corpus-wide).
    By the winnowing guarantee (:func:`winnow_fingerprints`), any two
    docs sharing a run of >= w+k-1 words share >= 1 fingerprint, so
    ``min_shared`` tunes the minimum amount of shared material.

    Scale shape — what survives 100 TB:

    - **Stop-fingerprint removal bounds the join fan-out.** A
      fingerprint appearing in d documents contributes O(d²) pairs;
      ubiquitous boilerplate would otherwise go quadratic (the same
      failure mode as hot LSH buckets). Fingerprints with document
      frequency > ``max_df`` are dropped BEFORE the pair join (and
      df < 2 can never pair), so per-fingerprint cost is capped at
      max_df² — the standard stop-gram discipline.
    - **Ids only ride the joins** (fingerprints are 8-byte longs,
      doc ids longs); document text never moves.
    - The self-join aliases ONE filtered frame so the fp-keyed
      Exchange is planned once and reused (same discipline as
      ``semantic_dedup``).

    Output: (doc_a, doc_b, n_shared) with doc_a < doc_b, ordered
    pairs, n_shared = count of distinct shared fingerprints.
    """
    fps = winnow_fingerprints(docs, k, w).select("doc_id", "fp")
    df_ok = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_df"))
        .filter((F.col("n_df") >= 2) & (F.col("n_df") <= max_df))
        .select("fp")
    )
    live = fps.join(df_ok, "fp")
    a, b = live.alias("a"), live.alias("b")
    return (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def shared_passages_stats(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    max_df: int = 10,
) -> DataFrame:
    """Cap-observability companion to :func:`shared_passages` — the
    no-silent-caps rule made concrete. The stop-fingerprint cap
    (df > ``max_df``) is the quadratic-blowup guard, but on a
    high-duplication corpus it can silently drop EVERY fingerprint and
    return 0 pairs after a full fingerprinting pass (measured: the r7
    30× stress dropped 100 % of fps — `bench_runs/r7_stress30x_late2.
    json` shows `shared_passage_pairs: 0` with no way to tell "no
    shared passages" from "cap ate the corpus").

    One row: ``n_fp_distinct`` (distinct fingerprints), ``n_fp_stop``
    (df > max_df — DROPPED by the cap), ``n_fp_singleton`` (df < 2 —
    can never pair), ``n_fp_live`` (what the pair join actually sees),
    ``n_docs_affected`` (docs holding >= 1 dropped fp — the recall
    exposure), ``df_p50`` / ``df_p99`` / ``df_max`` (the df
    distribution, PERCENTILE_DISC on exact longs — pick ``max_df``
    from these instead of guessing). ``n_fp_live == 0`` with
    ``n_fp_stop > 0`` is the "cap zeroed recall" signal.

    Scale: one fingerprint pass + one fp-keyed agg (map-side combine
    absorbs hot fps) + one join back for the doc count + one global
    agg — same shape class as the operator itself; run it beside the
    operator, not inside it, so the operator's plan stays lean.
    """
    fps = winnow_fingerprints(docs, k, w).select("doc_id", "fp")
    dfc = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("n_df"))
    joined = fps.join(dfc, "fp")
    w_df = Window.orderBy("n_df")
    ranked = dfc.withColumn("cd", F.cume_dist().over(w_df))
    pick = lambda q: F.min(  # noqa: E731
        F.when(F.col("cd") >= F.lit(q), F.col("n_df"))
    )
    quantiles = ranked.agg(
        pick(0.5).alias("df_p50"),
        pick(0.99).alias("df_p99"),
        F.max("n_df").alias("df_max"),
    )
    counts = joined.agg(
        F.count_distinct(F.col("fp")).alias("n_fp_distinct"),
        F.count_distinct(
            F.when(F.col("n_df") > max_df, F.col("fp"))
        ).alias("n_fp_stop"),
        F.count_distinct(
            F.when(F.col("n_df") < 2, F.col("fp"))
        ).alias("n_fp_singleton"),
        F.count_distinct(
            F.when(
                (F.col("n_df") >= 2) & (F.col("n_df") <= max_df),
                F.col("fp"),
            )
        ).alias("n_fp_live"),
        F.count_distinct(
            F.when(F.col("n_df") > max_df, F.col("doc_id"))
        ).alias("n_docs_affected"),
    )
    # both sides are exactly one row post-agg; a constant equi-key
    # keeps this a BroadcastHashJoin (never a cartesian node)
    return (
        counts.withColumn("_k", F.lit(1))
        .join(F.broadcast(quantiles.withColumn("_k", F.lit(1))), "_k")
        .drop("_k")
    )


def shared_passages_stats_sql(
    table: str = "documents",
    k: int = 5,
    w: int = 4,
    max_df: int = 10,
) -> str:
    """DuckDB twin of :func:`shared_passages_stats`."""
    return f"""
        WITH fps AS (
            SELECT doc_id, fp FROM ({winnow_fingerprints_sql(table, k, w)})
        ),
        dfc AS (
            SELECT fp, COUNT(*)::BIGINT AS n_df FROM fps GROUP BY fp
        ),
        joined AS (
            SELECT f.doc_id, f.fp, d.n_df FROM fps f JOIN dfc d USING (fp)
        ),
        ranked AS (
            SELECT n_df, cume_dist() OVER (ORDER BY n_df) AS cd FROM dfc
        ),
        quantiles AS (
            SELECT MIN(CASE WHEN cd >= 0.5 THEN n_df END)::BIGINT AS df_p50,
                   MIN(CASE WHEN cd >= 0.99 THEN n_df END)::BIGINT AS df_p99,
                   MAX(n_df)::BIGINT AS df_max
            FROM ranked
        ),
        counts AS (
            SELECT COUNT(DISTINCT fp)::BIGINT AS n_fp_distinct,
                   COUNT(DISTINCT CASE WHEN n_df > {max_df} THEN fp END
                       )::BIGINT AS n_fp_stop,
                   COUNT(DISTINCT CASE WHEN n_df < 2 THEN fp END
                       )::BIGINT AS n_fp_singleton,
                   COUNT(DISTINCT CASE WHEN n_df >= 2 AND n_df <= {max_df}
                       THEN fp END)::BIGINT AS n_fp_live,
                   COUNT(DISTINCT CASE WHEN n_df > {max_df} THEN doc_id END
                       )::BIGINT AS n_docs_affected
            FROM joined
        )
        SELECT * FROM counts, quantiles
    """


def shared_passages_sql(
    table: str = "documents",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 10,
) -> str:
    """DuckDB twin of :func:`shared_passages`."""
    return f"""
        WITH fps AS (
            SELECT doc_id, fp FROM ({winnow_fingerprints_sql(table, k, w)})
        ),
        df_ok AS (
            SELECT fp FROM (
                SELECT fp, COUNT(*)::BIGINT AS n_df FROM fps GROUP BY fp
            ) WHERE n_df >= 2 AND n_df <= {max_df}
        ),
        live AS (SELECT doc_id, fp FROM fps JOIN df_ok USING (fp))
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               COUNT(*)::BIGINT AS n_shared
        FROM live a JOIN live b
          ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING COUNT(*) >= {min_shared}
    """


def normalize_text(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Unicode normalization — the pre-dedup canonicalization every
    published pipeline runs before hashing text (CCNet §3.1 normalizes
    before dedup; combining-sequence variants of the same string must
    hash equal or every dedup operator under-recalls on non-ASCII
    corpora). Three canonical steps, in order:

    1. NFC composition (é as e+U+0301 == precomposed é),
    2. control characters stripped (C0/C1 minus \\t \\n),
    3. horizontal whitespace runs collapsed to one space and trimmed
       per line (newlines preserved — line structure feeds
       ``c4_line_filter`` / ``line_dedup`` downstream).

    Output: (doc_id, clean_text, changed).

    Implementation note: Spark has no built-in NFC expression, so step
    1 is CPython ``unicodedata.normalize`` in an Arrow-batched pandas
    UDF — same documented py-lane as the Avro codec (scan-local, zero
    shuffle; the plan audit's py counter flags it by design). Steps
    2-3 ride the same UDF (one pass per string). The DuckDB twin uses
    ``nfc_normalize`` (utf8proc) — both implement the same Unicode
    standard; equality is what the oracle checks.
    """
    import unicodedata

    ctrl = dict.fromkeys(
        c for c in range(0x20) if c not in (0x09, 0x0A)
    )
    ctrl.update(dict.fromkeys(range(0x7F, 0xA0)))

    @F.pandas_udf("string")
    def norm(texts: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import re

        hws = re.compile(r"[ \t]+")

        def one(t: str) -> str:
            s = unicodedata.normalize("NFC", t or "").translate(ctrl)
            lines = [hws.sub(" ", ln).strip() for ln in s.split("\n")]
            return "\n".join(lines)

        for batch in texts:
            yield batch.map(one)

    out = docs.select(
        "doc_id",
        F.col(text_col).alias("_orig"),
        norm(F.col(text_col)).alias("clean_text"),
    )
    return out.select(
        "doc_id",
        "clean_text",
        (F.col("clean_text") != F.col("_orig")).alias("changed"),
    )


def normalize_text_sql(table: str = "documents") -> str:
    """DuckDB twin of :func:`normalize_text` (nfc_normalize +
    control strip + per-line horizontal-whitespace collapse)."""
    return f"""
        WITH n AS (
            SELECT doc_id, text AS _orig,
                   array_to_string(list_transform(
                       string_split(
                           regexp_replace(
                               nfc_normalize(text),
                               '[\\x00-\\x08\\x0B-\\x1F\\x7F-\\x9F]',
                               '', 'g'),
                           chr(10)),
                       ln -> trim(regexp_replace(ln, '[ \\t]+', ' ', 'g'))
                   ), chr(10)) AS clean_text
            FROM {table}
        )
        SELECT doc_id, clean_text, clean_text <> _orig AS changed
        FROM n
    """


# ----------------------------------------------------- Gopher rules
#: Gopher's required stop words (Rae et al. 2021 §A1.1) — a doc must
#: contain at least two DISTINCT members to pass the stop-word rule
_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    docs: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    text_col: str = "text",
) -> DataFrame:
    """The Gopher rule-based quality gate (Rae et al. 2021,
    arXiv:2112.11446 §A1.1) as ONE zero-shuffle projection — the
    remaining half of the published filter set next to the repetition
    filters (:func:`repetition_profile` covers §A1.1's duplicate/
    n-gram block; this covers the document-shape block):

    - word count in ``[min_words, max_words]``;
    - mean word length in [3, 10] characters;
    - symbol-to-word ratio (``#`` or ``...``) <= 0.1;
    - <= 10% of lines start with a bullet, <= 30% end with an
      ellipsis;
    - >= 80% of words contain an alphabetic character;
    - >= 2 distinct required stop words present.

    Every metric is an exact integer and every rule an integer
    comparison (``10*n_bullet <= n_lines`` instead of a double ratio),
    so the full frame is DuckDB-oracle-stable. Emits the per-doc
    metrics, one boolean per rule (auditability — WHICH rule killed a
    doc), and the conjunction ``keep``. Token/line arrays are staged
    behind a projection once (HOF-lambda rule, SCALE.md)."""
    staged = docs.select(
        "doc_id",
        F.col(text_col).alias("_t"),
        tokens(text_col).alias("_toks"),
        F.expr(
            f"filter(split({text_col}, '\\\\n'), l -> l != '')"
        ).alias("_lines"),
    )
    # parsed fragments (see tokens_sx note) — identical expressions
    stop_hits = " + ".join(
        "CAST(array_contains(transform(_toks, t -> lower(t)), "
        f"'{w}') AS BIGINT)"
        for w in _GOPHER_STOPS
    )
    metrics = staged.select(
        "doc_id",
        F.expr("CAST(size(_toks) AS BIGINT)").alias("n_words"),
        F.expr(
            "aggregate(_toks, CAST(0 AS BIGINT), (a, t) -> a + length(t))"
        ).alias("sum_word_len"),
        F.expr(
            "CAST(size(filter(_toks, t -> t RLIKE '[A-Za-z]')) AS BIGINT)"
        ).alias("n_alpha_words"),
        F.expr(stop_hits).alias("n_stop_hits"),
        F.expr(
            "CAST(length(_t) - length(replace(_t, '#')) AS BIGINT)"
        ).alias("n_hash"),
        F.expr(
            "CAST((length(_t) - length(replace(_t, '...'))) / 3 AS BIGINT)"
        ).alias("n_ellipsis"),
        F.expr("CAST(size(_lines) AS BIGINT)").alias("n_lines"),
        F.expr(
            "CAST(size(filter(_lines, l -> l RLIKE '^[-•]')) AS BIGINT)"
        ).alias("n_bullet_lines"),
        F.expr(
            "CAST(size(filter(_lines, "
            "l -> l RLIKE '(\\\\.\\\\.\\\\.|…)$')) AS BIGINT)"
        ).alias("n_ellipsis_lines"),
    )
    rules = metrics.select(
        "*",
        F.expr(
            f"n_words BETWEEN {min_words} AND {max_words}"
        ).alias("r_word_count"),
        F.expr(
            "((sum_word_len >= 3 * n_words) AND "
            "(sum_word_len <= 10 * n_words)) AND (n_words > 0)"
        ).alias("r_mean_word_len"),
        F.expr(
            "10 * (n_hash + n_ellipsis) <= n_words"
        ).alias("r_symbol_ratio"),
        F.expr("10 * n_bullet_lines <= n_lines").alias("r_bullet_lines"),
        F.expr(
            "10 * n_ellipsis_lines <= 3 * n_lines"
        ).alias("r_ellipsis_lines"),
        F.expr("10 * n_alpha_words >= 8 * n_words").alias("r_alpha_words"),
        F.expr("n_stop_hits >= 2").alias("r_stop_words"),
    )
    return rules.select(
        "*",
        F.expr(
            "((((((r_word_count AND r_mean_word_len) AND r_symbol_ratio) "
            "AND r_bullet_lines) AND r_ellipsis_lines) AND r_alpha_words) "
            "AND r_stop_words)"
        ).alias("keep"),
    )


def gopher_rules_sql(
    table: str = "documents",
    min_words: int = 50,
    max_words: int = 100_000,
) -> str:
    """DuckDB twin of :func:`gopher_rules` (integer-only rules)."""
    stops = " + ".join(
        "CASE WHEN list_contains(list_transform(toks, t -> lower(t)), "
        f"'{w}') THEN 1 ELSE 0 END"
        for w in _GOPHER_STOPS
    )
    return f"""
        WITH staged AS (
            SELECT doc_id, text AS _t,
                   {tokens_sql("text")} AS toks,
                   list_filter(string_split(text, chr(10)),
                               l -> l <> '') AS lines
            FROM {table}
        ), metrics AS (
            SELECT doc_id,
                   len(toks)::BIGINT AS n_words,
                   coalesce(list_sum(list_transform(
                       toks, t -> length(t))), 0)::BIGINT AS sum_word_len,
                   len(list_filter(toks,
                       t -> regexp_matches(t, '[A-Za-z]')))::BIGINT
                       AS n_alpha_words,
                   ({stops})::BIGINT AS n_stop_hits,
                   (length(_t) - length(replace(_t, '#', '')))::BIGINT
                       AS n_hash,
                   ((length(_t) - length(replace(_t, '...', ''))) // 3
                       )::BIGINT AS n_ellipsis,
                   len(lines)::BIGINT AS n_lines,
                   len(list_filter(lines,
                       l -> regexp_matches(l, '^[-•]')))::BIGINT
                       AS n_bullet_lines,
                   len(list_filter(lines,
                       l -> regexp_matches(l, '(\\.\\.\\.|…)$')))::BIGINT
                       AS n_ellipsis_lines
            FROM staged
        ), rules AS (
            SELECT *,
                   n_words BETWEEN {min_words} AND {max_words}
                       AS r_word_count,
                   sum_word_len >= 3 * n_words
                       AND sum_word_len <= 10 * n_words
                       AND n_words > 0 AS r_mean_word_len,
                   10 * (n_hash + n_ellipsis) <= n_words
                       AS r_symbol_ratio,
                   10 * n_bullet_lines <= n_lines AS r_bullet_lines,
                   10 * n_ellipsis_lines <= 3 * n_lines
                       AS r_ellipsis_lines,
                   10 * n_alpha_words >= 8 * n_words AS r_alpha_words,
                   n_stop_hits >= 2 AS r_stop_words
            FROM metrics
        )
        SELECT *,
               r_word_count AND r_mean_word_len AND r_symbol_ratio
               AND r_bullet_lines AND r_ellipsis_lines
               AND r_alpha_words AND r_stop_words AS keep
        FROM rules
    """
