"""Deduplication operators for LLM training-data pipelines.

Four tiers, cheapest first (SURVEY.md §2.3; the standard corpus-dedup
ladder):

1. **Exact** — content hash, groupBy, keep min doc_id. One shuffle on
   the hash key; at 100 TB use ``xxhash64`` (8-byte key, no Python) and
   let AQE coalesce; md5 variant kept for the DuckDB oracle twin.
2. **n-gram Jaccard** — exact set similarity over word k-shingles for
   a *candidate pair list*; never all-pairs at scale.
3. **MinHash + LSH** — signature = min hash per seed over shingles;
   band signatures bucket the corpus so the self-join touches only
   same-bucket rows (candidate generation is O(docs·bands), not
   O(docs²)). Jaccard verified exactly on candidates only.
4. **SimHash** — 16-bit weighted-majority fingerprint; near-dups share
   fingerprints at small Hamming distance.

Everything is built-in expressions (md5/array HOFs) — no UDFs, no
``.collect()``; every stage is a projection or a keyed shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
import pyspark.sql.functions as F

from teste_carga_avro_vs_json_spark.functions.portable import (
    hex32,
    hex32_sql,
    hex32_sx,
)
from teste_carga_avro_vs_json_spark.operators.text import (
    tokens,
    tokens_sql,
    word_kgrams_sx,
)

# ------------------------------------------------------------ exact dedup
def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: md5(text) groups; survivor = min doc_id.

    Output one row per distinct content: (fp, keep_doc_id, n_copies).
    """
    return (
        docs.select(F.expr(f"md5({text_col})").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup_sql(table: str = "documents") -> str:
    return f"""
        SELECT md5(text) AS fp, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
        FROM {table} GROUP BY md5(text)
    """


def exact_dedup_scale(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """100 TB variant: xxhash64 (JVM, 8-byte keys — narrower shuffle
    than md5's 32-char string and no hex formatting). Not
    oracle-checked (DuckDB has no xxhash64); asserted in pytest to
    agree with exact_dedup on survivor sets.

    The group key is a PAIR of independently seeded xxhash64 values
    (~128 bits): a single 64-bit key silently merges distinct documents
    at ~10^10 docs (birthday bound ~3 collisions at 10^10, ~300 at
    10^11) — 16 shuffle bytes per row instead of 8 buys a ~2^-64
    per-pair bound, same as the oracle path's md5."""
    return (
        docs.select(
            F.expr(f"xxhash64({text_col})").alias("fp64"),
            F.expr(f"xxhash64('fp2|', {text_col})").alias("fp64b"),
            "doc_id",
        )
        .groupBy("fp64", "fp64b")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# --------------------------------------------------------------- shingles


def _shingled(
    docs: DataFrame, k: int, text_col: str = "text", nonempty: bool = True
) -> DataFrame:
    """(doc_id, sh) distinct word k-shingle arrays. The token array is
    materialized as a real column first — captured expressions inside
    HOF lambdas re-evaluate per element, so staging is what keeps
    shingling linear in document length.

    The nonempty gate is a REGEX over the raw text column, not
    ``size(sh) > 0``: a filter on the aliased shingle column gets the
    whole shingling expression substituted in by predicate pushdown and
    the corpus is shingled TWICE per doc (caught by the r7 plan audit;
    at 100x dup-stress that is 500k double-shinglings). ``>= k
    non-space runs`` is exactly ``size(tokens) >= k`` is exactly
    ``size(sh) > 0`` (shingle count = max(tokens - k + 1, 0)), and the
    predicate references only the scan attribute, so it evaluates once
    and pushes all the way down."""
    has_k_tokens = F.col(text_col).rlike(
        r"^\s*(\S+\s+){" + str(k - 1) + r"}\S"
    )
    src = docs.filter(has_k_tokens) if nonempty else docs
    toks = src.select("doc_id", tokens(text_col).alias("toks"))
    return toks.select(
        "doc_id",
        F.expr(f"array_distinct({word_kgrams_sx('toks', k)})").alias("sh"),
    )


def shingles_sql(expr: str, k: int = 3) -> str:
    t = tokens_sql(expr)
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, GREATEST(len({t}) - {k - 1}, 0)), "
        f"i -> array_to_string({t}[i:i+{k - 1}], ' ')))"
    )


def _jaccard_sx(a: str, b: str) -> str:
    """Jaccard of two arrays as a Spark-SQL fragment (0.0 on an empty
    union) — the repeated fragments are folded by codegen subexpression
    elimination."""
    inter = f"CAST(size(array_intersect({a}, {b})) AS BIGINT)"
    union = (
        f"CAST(size({a}) AS BIGINT) + CAST(size({b}) AS BIGINT) - {inter}"
    )
    return (
        f"CASE WHEN ({union}) > 0 THEN {inter} / ({union}) ELSE 0.0D END"
    )


# -------------------------------------------------------- n-gram Jaccard
def ngram_jaccard_pairs(
    docs: DataFrame, k: int = 3, modulus: int = 10, threshold: float = 0.0
) -> DataFrame:
    """Exact pairwise Jaccard over word k-shingles for a deterministic
    document sample (doc_id % modulus == 0).

    The sample bound keeps the all-pairs join quadratic only in the
    sample (oracle fixture); production near-dup goes through
    :func:`minhash_lsh_candidates` instead — never all-pairs.
    """
    sample = _shingled(
        docs.filter(F.col("doc_id") % modulus == 0), k, nonempty=False
    )
    a = sample.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sample.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    pairs = a.join(F.broadcast(b), F.col("doc_a") < F.col("doc_b"))
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            F.expr(_jaccard_sx("sh_a", "sh_b")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_sql(
    table: str = "documents", k: int = 3, modulus: int = 10, threshold: float = 0.0
) -> str:
    sh = shingles_sql("text", k)
    return f"""
        WITH sample AS (
            SELECT doc_id, {sh} AS sh FROM {table} WHERE doc_id % {modulus} = 0
        ),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   len(list_intersect(a.sh, b.sh))::BIGINT AS inter,
                   len(a.sh)::BIGINT + len(b.sh)::BIGINT
                       - len(list_intersect(a.sh, b.sh))::BIGINT AS un
            FROM sample a JOIN sample b ON a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               CASE WHEN un > 0 THEN inter / un ELSE 0.0 END AS jaccard
        FROM pairs
        WHERE CASE WHEN un > 0 THEN inter / un ELSE 0.0 END >= {threshold}
    """


# ---------------------------------------------------------- MinHash + LSH
def minhash_signature_sx(sh: str, num_hashes: int = 12) -> str:
    """Array of ``num_hashes`` min-hashes over a named shingle column,
    as a Spark-SQL fragment. Seeded via the portable hex32 (md5) so the
    DuckDB twin matches bit-exactly."""
    mins = ",".join(
        f"array_min(transform({sh}, s -> "
        + hex32_sx(f"concat('{i}|', s)")
        + "))"
        for i in range(num_hashes)
    )
    return f"array({mins})"


def _banded_jaccard(
    base: DataFrame, mh: Column, num_hashes: int, bands: int, threshold: float
) -> tuple[DataFrame, tuple[DataFrame, DataFrame]]:
    """Shared LSH tail: band the signature, self-join doc IDS on
    band_key, dedupe pairs, then re-fetch shingle arrays for the
    surviving candidates and verify with exact Jaccard. Returns the
    verified pairs and the two frames it persisted, for a caller that
    materializes the pairs to release.

    Plan shape (the part that must survive 100 TB):

    - The band self-join moves ONLY (band_key, doc_id) rows — fixed
      ~32 bytes each. Carrying the shingle arrays through the candidate
      join instead (the obvious fusion) multiplies shuffle bytes by the
      array size AND by pair multiplicity; measured on a 10x high-dup
      corpus it executor-OOMs while the slim shape finishes in 5s.
    - Every join is pinned ``shuffle_hash``: Catalyst's size estimate
      for array-typed intermediates is unreliable enough that it will
      try to BROADCAST a corpus-sized side (driver OOM at 10x, and
      categorically wrong for a self-join at scale — if one side fit in
      memory the whole problem would be small). Shuffle-hash also skips
      the SMJ sort on the wide array side.
    - Both the shingled ``base`` and the slim ``banded`` frame are
      persisted: the shingle scan AND the signature projection each run
      once, with every reader hitting the cache.
    - Pair dedup happens BEFORE the array fetch, so each candidate pair
      is verified exactly once no matter how many bands it collides in —
      and it is FUSED with the ``doc_a`` fetch: aggregating the raw pair
      stream as ``groupBy(doc_a).agg(collect_set(doc_b))`` both dedups
      (map-side partial aggregation shrinks the pair shuffle before it
      moves) and lands the frame hash-partitioned on ``doc_a`` — exactly
      the partitioning the first fetch join needs, so the dedup exchange
      IS the join probe exchange (same shape as
      ``similarity.lsh_ann_topk``; one fewer exchange than the
      ``dropDuplicates`` formulation). Per-key set size is bounded by a
      doc's band-collision fan-out, which the banding bounds; the
      explode back to pair rows happens AFTER the dedup, so array bytes
      still scale with |candidates|.
    - Skewed band buckets are split by AQE skew-join; the ``base``
      frame is persisted because banding + both fetch sides read it.
    """
    rows = num_hashes // bands
    # r6: both persisted frames are KEY-partitioned before caching, and
    # InMemoryTableScan reports the cached partitioning — so the band
    # self-join (band_key = band_key) and BOTH shingle-fetch joins
    # (doc_a/doc_b are renames of doc_id) are exchange-free at the join,
    # verified in the executed plan. The former shape paid the shuffles
    # at the joins instead: the banded frame moved twice (no runtime
    # exchange reuse fires here, measured) and the shingle ARRAYS moved
    # twice — at 100 TB that is two extra corpus-sized array shuffles.
    # Explicit numPartitions keeps the cached partitioning a plain
    # hashpartitioning the join requirement can match (AQE won't
    # renumber a REPARTITION_BY_NUM exchange). Hence ``persist`` here: a
    # local checkpoint's scan reports neither partitioning nor hint
    # (sf0.01 documents: exchanges 2 → 4, two BroadcastHashJoins).
    n_part = int(base.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    base = base.repartition(n_part, "doc_id").persist()
    band_keys = ",".join(
        "concat_ws(':', '" + str(b) + "', "
        + ", ".join(
            f"CAST(mh[{b * rows + r}] AS STRING)" for r in range(rows)
        )
        + ")"
        for b in range(bands)
    )
    banded = (
        base.withColumn("mh", mh)
        .select(
            "doc_id",
            F.explode(F.expr(f"array({band_keys})")).alias("band_key"),
        )
        .repartition(n_part, "band_key")
        .hint("shuffle_hash")
        .persist()
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, F.col("a.band_key") == F.col("b.band_key"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .groupBy("doc_a")
        .agg(F.collect_set("doc_b").alias("doc_bs"))
    )
    x = base.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
    ).hint("shuffle_hash")
    y = base.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
    ).hint("shuffle_hash")
    pairs = (
        cand.join(x, "doc_a")
        .select("doc_a", F.explode("doc_bs").alias("doc_b"), "sh_a")
        .join(y, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr(_jaccard_sx("sh_a", "sh_b")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return pairs, (base, banded)


def minhash_lsh_candidates(
    docs: DataFrame,
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.3,
) -> DataFrame:
    """Near-dup candidates via banded MinHash (LSH), with exact Jaccard
    verification on candidates only. md5-seeded (hex32) so the DuckDB
    oracle reproduces it bit-exactly; see
    :func:`minhash_lsh_candidates_scale` for the production hash.
    """
    base = _shingled(docs, k)
    return _banded_jaccard(
        base,
        F.expr(minhash_signature_sx("sh", num_hashes)),
        num_hashes,
        bands,
        threshold,
    )[0]


def minhash_lsh_candidates_scale(
    docs: DataFrame,
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.3,
) -> DataFrame:
    """100 TB variant of :func:`minhash_lsh_candidates`: seeded
    ``xxhash64`` min-hashes (8-byte JVM hashes, no md5 hex formatting —
    ~10x cheaper per shingle) with the same banding + exact-Jaccard
    verification on candidates. Not DuckDB-expressible (no xxhash64);
    pytest asserts pair-set agreement with the md5 portability path.
    """
    return _banded_jaccard(
        _shingled(docs, k),
        F.expr(_xxhash_signature_sx(num_hashes)),
        num_hashes,
        bands,
        threshold,
    )[0]


def _xxhash_signature_sx(num_hashes: int) -> str:
    """The seeded xxhash64 min-hash signature of the ``sh`` column."""
    # One expensive hash pass: xxhash64 over each variable-length shingle
    # STRING happens once, not num_hashes times. The per-family values are
    # derived by re-hashing the resulting fixed-width LONG with the family
    # seed — an 8-byte hash, constant-cost, so signature work is
    # O(shingle bytes + num_hashes) per shingle instead of
    # O(shingle bytes × num_hashes). (A multiply-add universal family
    # would be cheaper still, but Spark 4 ANSI mode forbids the required
    # mod-2^64 wrap-around; seeded xxhash64-of-long keeps full 64-bit
    # uniformity with no overflow.) The ``hashed`` fragment repeats per
    # family exactly like the old duplicated Column subtree — codegen
    # subexpression elimination evaluates it once either way; the parsed
    # form just builds in one py4j call (r13-opt, text.tokens_sx note).
    hashed = "transform(sh, s -> xxhash64(s))"
    mins = ",".join(
        f"array_min(transform({hashed}, h -> xxhash64({i}, h)))"
        for i in range(num_hashes)
    )
    return f"array({mins})"


def minhash_lsh_sql(
    table: str = "documents",
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.3,
) -> str:
    rows = num_hashes // bands
    sh = shingles_sql("text", k)
    mh_exprs = ", ".join(
        "list_min(list_transform(sh, s -> "
        + hex32_sql(f"'{i}|' || s")
        + f")) AS mh{i}"
        for i in range(num_hashes)
    )
    band_keys = ", ".join(
        "concat_ws(':', '"
        + str(b)
        + "', "
        + ", ".join(f"mh{b * rows + r}::VARCHAR" for r in range(rows))
        + ")"
        for b in range(bands)
    )
    return f"""
        WITH base AS (
            SELECT doc_id, {sh} AS sh FROM {table}
        ),
        nonempty AS (SELECT * FROM base WHERE len(sh) > 0),
        sig AS (
            SELECT doc_id, sh, {mh_exprs} FROM nonempty
        ),
        banded AS (
            SELECT doc_id, sh, unnest([{band_keys}]) AS band_key FROM sig
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b USING (band_key)
            WHERE a.doc_id < b.doc_id
        ),
        verified AS (
            SELECT c.doc_a, c.doc_b,
                   len(list_intersect(x.sh, y.sh))::BIGINT AS inter,
                   len(x.sh)::BIGINT + len(y.sh)::BIGINT
                       - len(list_intersect(x.sh, y.sh))::BIGINT AS un
            FROM cand c
            JOIN nonempty x ON x.doc_id = c.doc_a
            JOIN nonempty y ON y.doc_id = c.doc_b
        )
        SELECT doc_a, doc_b,
               CASE WHEN un > 0 THEN inter / un ELSE 0.0 END AS jaccard
        FROM verified
        WHERE CASE WHEN un > 0 THEN inter / un ELSE 0.0 END >= {threshold}
    """


# ------------------------------------------------- near-dup cluster resolve
def neardup_clusters(
    docs: DataFrame,
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.3,
    max_iters: int = 25,
    scale: bool = False,
    stats: dict | None = None,
) -> DataFrame:
    """Resolve LSH near-dup candidate pairs into connected components
    and mark the canonical survivor per cluster (min doc_id).
    ``stats`` (optional) receives ``{"rounds": n}`` — the number of
    propagation rounds actually run (diagnostics/stress runs; the
    convergence round that observes zero changes is counted).
    ``scale=True`` generates candidates with the xxhash64 signature path
    (cheaper, not DuckDB-oracle-able); both paths verify candidates with
    exact Jaccard, so the resolved clusters agree wherever the banding
    agrees (pinned by the pair-set agreement test).

    This is the step a training-data pipeline actually needs after
    candidate generation: near-duplication is transitive in practice
    (A~B, B~C ⇒ keep one of {A,B,C}), so pairs must be closed into
    components before filtering. Algorithm: iterative min-label
    propagation — each round every node takes the min cluster label
    among itself and its neighbours; converges in O(graph diameter)
    rounds (near-dup components are shallow: mostly cliques from shared
    LSH buckets, so 2-4 rounds in practice).

    Scale shape: per round one keyed shuffle of (edges ⋈ labels) —
    never materializes components driver-side. Round 1 is fused into
    the label init (min(self, min neighbour) is one aggregation over
    the symmetric edge list), and the convergence probe is a ``chg``
    column observed on the round's own checkpoint job, not an extra
    job. ``localCheckpoint`` truncates lineage each round so Catalyst
    never sees an exponentially nested plan (SCALE.md: local
    checkpoints). Output:
    (doc_id, cluster_id, is_canonical) for every doc that has at least
    one near-dup partner.
    """
    mh = _xxhash_signature_sx(num_hashes) if scale \
        else minhash_signature_sx("sh", num_hashes)
    pairs, cached = _banded_jaccard(
        _shingled(docs, k), F.expr(mh), num_hashes, bands, threshold
    )
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .localCheckpoint(eager=False)
    )
    # Round 1 fused into init: with labels(v) = v, the propagated min is
    # just min(v, min over neighbours) — one aggregation, no join. It
    # is not checkpointed: round 1 plans it inline (one level deep), so
    # init costs no job of its own.
    labels = (
        edges.groupBy(F.col("src").alias("doc_id"))
        .agg(F.least(F.first("src"), F.min("dst")).alias("cluster_id"))
    )
    rounds = 0
    for _ in range(max_iters - 1):
        rounds += 1
        # One shuffle per round (r6; was two): neighbour labels and the
        # node's own label ride the SAME groupBy — self rows are tagged
        # so the aggregation recovers the old label for the convergence
        # probe (new < old). The former shape aggregated neighbour mins
        # and then JOINED them back onto labels, paying a second keyed
        # shuffle per round for the same fixpoint. Edge symmetry plus
        # the union'd self rows guarantee nobody is lost.
        prop = edges.join(labels, edges["src"] == labels["doc_id"]).select(
            F.col("dst").alias("nid"), "cluster_id", F.lit(False).alias("own")
        )
        mine = labels.select(
            F.col("doc_id").alias("nid"), "cluster_id", F.lit(True).alias("own")
        )
        old_label = F.min(F.when(F.col("own"), F.col("cluster_id")))
        # the convergence probe is an Observation on the eager
        # checkpoint's own job, not a job of its own
        changes = Observation()
        labels = (
            prop.unionByName(mine)
            .groupBy("nid")
            .agg(
                F.min("cluster_id").alias("cluster_id"),
                (F.min("cluster_id") < old_label).cast("long").alias("chg"),
            )
            .observe(changes, F.sum("chg").alias("changed"))
            .select(F.col("nid").alias("doc_id"), "cluster_id")
            .localCheckpoint()
        )
        changed = changes.get["changed"]
        if changed == 0:
            break
    if stats is not None:
        stats["rounds"] = rounds
    # the rounds filled the edge and label checkpoints: caches are done
    for frame in cached:
        frame.unpersist()
    return labels.withColumn(
        "is_canonical", F.col("doc_id") == F.col("cluster_id")
    )


def neardup_clusters_sql(
    table: str = "documents",
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.3,
) -> str:
    """DuckDB twin: transitive closure by recursive CTE — every node
    walks outward collecting reachable labels; MIN per node = component
    id (identical to label-propagation's fixpoint)."""
    lsh = minhash_lsh_sql(table, k, num_hashes, bands, threshold)
    return f"""
        WITH RECURSIVE pairs AS (
            SELECT doc_a, doc_b FROM ({lsh})
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
        walk(doc_id, lbl) AS (
            SELECT doc_id, doc_id FROM nodes
            UNION
            SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.doc_id
        )
        SELECT doc_id, MIN(lbl) AS cluster_id,
               (doc_id = MIN(lbl)) AS is_canonical
        FROM walk GROUP BY doc_id
    """


# ---------------------------------------------------------------- SimHash
def simhash(docs: DataFrame, bits: int = 16) -> DataFrame:
    """16-bit SimHash over distinct tokens: bit b is set when strictly
    more tokens hash with bit b set than clear. Pure expression tree —
    per row it's ``bits`` filtered counts over a STAGED per-token hash
    array, so the md5 runs once per token (not once per token×bit) and
    the tokenizer once per row."""
    staged = docs.select(
        "doc_id", F.array_distinct(tokens("text")).alias("toks")
    ).select(
        "doc_id",
        F.size("toks").alias("n"),
        F.transform("toks", lambda tok: hex32(tok)).alias("hs"),
    )

    def _bit_pred(b: int):
        def fn(h: Column) -> Column:
            return F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1

        return fn

    bit_cols = []
    for b in range(bits):
        cnt = F.size(F.filter("hs", _bit_pred(b)))
        bit_cols.append(
            F.when(cnt * 2 > F.col("n"), F.lit(1 << b)).otherwise(F.lit(0))
        )
    total = bit_cols[0]
    for c in bit_cols[1:]:
        total = total + c
    return staged.select("doc_id", total.cast("long").alias("simhash"))


def simhash_sql(table: str = "documents", bits: int = 16) -> str:
    t = tokens_sql("text")
    terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(toks, tok -> (({hex32_sql('tok')} >> {b}) & 1) = 1)) "
        f"> len(toks) THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    )
    return f"""
        WITH base AS (SELECT doc_id, list_distinct({t}) AS toks FROM {table})
        SELECT doc_id, ({terms})::BIGINT AS simhash FROM base
    """
