"""LLM-pipeline operators: dedup tiers, similarity, text analysis,
multimodal plumbing."""

import math
import os

import pytest
import pyspark.sql.functions as F

from teste_carga_avro_vs_json_spark.session import load_table

from teste_carga_avro_vs_json_spark.operators import (
    corpus,
    decontam,
    dedup,
    multimodal,
    similarity,
    text,
)


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ------------------------------------------------------------------ dedup
def test_exact_dedup_with_injected_dups(spark):
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa")], "doc_id long, text string"
    )
    out = {r.keep_doc_id: r.n_copies for r in dedup.exact_dedup(df).collect()}
    assert out == {1: 3, 2: 1}


def test_exact_dedup_scale_agrees(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    md5_side = dedup.exact_dedup(docs).select("keep_doc_id", "n_copies")
    xx_side = dedup.exact_dedup_scale(docs).select("keep_doc_id", "n_copies")
    assert md5_side.exceptAll(xx_side).count() == 0
    assert xx_side.exceptAll(md5_side).count() == 0


def test_minhash_identical_docs_always_candidates(spark):
    """P(candidate) = 1 for identical shingle sets regardless of bands."""
    df = spark.createDataFrame(
        [(1, "x y z w v u t s"), (2, "x y z w v u t s"), (3, "q r s t u v w x")],
        "doc_id long, text string",
    )
    pairs = dedup.minhash_lsh_candidates(df, threshold=0.99).collect()
    assert any(p.doc_a == 1 and p.doc_b == 2 and p.jaccard == 1.0 for p in pairs)


def test_minhash_recall_vs_exact(spark, sf_dir):
    """Every truly-similar pair (J >= 0.6) in the sample must surface as
    an LSH candidate — banding theory: P(miss) = (1-s^r)^b is tiny."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 100)
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs, modulus=1, threshold=0.6).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_candidates(docs, threshold=0.0).collect()
    }
    assert exact <= lsh


def test_minhash_scale_agrees_with_portable(spark, sf_dir):
    """xxhash64 scale path must find the same verified near-dup pairs as
    the md5 oracle path (different bands can differ in sub-threshold
    candidates; post-verification pair sets at the default threshold
    should coincide on the fixture corpus)."""
    docs = _docs(spark, sf_dir)
    md5_pairs = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.minhash_lsh_candidates(docs).collect()
    }
    xx_pairs = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.minhash_lsh_candidates_scale(docs).collect()
    }
    assert md5_pairs == xx_pairs


def test_neardup_clusters_transitive(spark):
    """A~B and B~C above threshold but A~C below it: cluster resolution
    must still put all three in one component (min-id canonical), while
    an unrelated identical pair forms its own cluster and a singleton
    doc stays out of the output entirely."""
    w = [f"w{i}" for i in range(22)]
    # 20-word sliding windows: J(1,2)=J(2,3)=17/19≈0.895, J(1,3)=16/20=0.8
    rows = [
        (1, " ".join(w[0:20])),
        (2, " ".join(w[1:21])),
        (3, " ".join(w[2:22])),
        (4, "x y z q r s t u"),
        (5, "x y z q r s t u"),
        (6, "totally unrelated content here nine ten eleven twelve"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    stats = {}
    out = {
        r.doc_id: (r.cluster_id, r.is_canonical)
        for r in dedup.neardup_clusters(
            df, threshold=0.85, stats=stats
        ).collect()
    }
    assert out == {
        1: (1, True),
        2: (1, False),
        3: (1, False),
        4: (4, True),
        5: (4, False),
    }
    # the chain closes in the fused init; the loop's only round is the
    # zero-change convergence probe (counted), so rounds is tiny and
    # reported via the stats hook
    assert 1 <= stats["rounds"] <= 3


def test_corpus_clean_gates(spark):
    """Each gate drops exactly its target: short doc (quality), German
    doc (lang), byte-identical copy (exact dedup), sliding-window
    near-copy (near-dup removal). The base English doc survives."""
    base = " ".join(
        ["the and of is to a"] * 5 + [f"tok{i}" for i in range(20)]
    )  # 50 words, enough stopword evidence, mean word len in range
    shifted = " ".join(base.split()[1:] + ["extra"])  # near-dup of base
    rows = [
        (1, base),
        (2, base),  # exact dup of 1 -> dropped
        (3, shifted),  # near-dup of 1 -> dropped
        (4, "too short"),  # quality gate
        (5, " ".join(["der die das und nicht ein"] * 5 + ["wort"] * 20)),  # de
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        r.doc_id for r in corpus.corpus_clean(df, neardup_threshold=0.5).collect()
    )
    assert out == [1]


def test_token_budget_sample_prefix_property(spark, sf_dir):
    """Kept set is a hash-ordered prefix: total stays within budget and
    is maximal (any excluded doc would overflow it); deterministic
    across invocations."""
    docs = _docs(spark, sf_dir)
    budget = 5000
    kept = corpus.token_budget_sample(docs, budget_tokens=budget).collect()
    total = sum(r.words for r in kept)
    assert total <= budget
    assert max(r.cum_tokens for r in kept) == total
    kept_ids = {r.doc_id for r in kept}
    # maximality: the next doc in the hash order overflows the budget
    all_rows = corpus.token_budget_sample(docs, budget_tokens=10**12).collect()
    excluded = sorted(
        (r for r in all_rows if r.doc_id not in kept_ids),
        key=lambda r: r.cum_tokens,
    )
    if excluded:
        assert total + excluded[0].words > budget
    again = {r.doc_id for r in corpus.token_budget_sample(docs, budget_tokens=budget).collect()}
    assert again == kept_ids


def test_simhash_identical_equal(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta eps zeta")],
        "doc_id long, text string",
    )
    h = {r.doc_id: r.simhash for r in dedup.simhash(df).collect()}
    assert h[1] == h[2]
    assert 0 <= h[1] < 2**16


# -------------------------------------------------------------- similarity
def test_cosine_topk_structure(spark, sf_dir):
    out = similarity.cosine_topk(_emb(spark, sf_dir), k=5).collect()
    by_q = {}
    for r in out:
        assert r.vec_id != r.query_id
        assert -1.0 <= r.cos_sim <= 1.0
        by_q.setdefault(r.query_id, []).append(r)
    for rows in by_q.values():
        assert len(rows) == 5
        sims = [r.cos_sim for r in sorted(rows, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)


def test_lsh_ann_recall(spark, sf_dir):
    """Bucketed ANN must recover a reasonable share of true top-1
    neighbors (8 hyperplanes on 64-dim random data)."""
    emb = _emb(spark, sf_dir)
    brute = {
        r.query_id: r.vec_id
        for r in similarity.cosine_topk(emb, k=1).collect()
    }
    ann = similarity.lsh_ann_topk(emb, k=10).collect()
    ann_by_q = {}
    for r in ann:
        ann_by_q.setdefault(r.query_id, set()).add(r.vec_id)
    hits = sum(1 for q, v in brute.items() if v in ann_by_q.get(q, set()))
    assert hits >= 1  # random-hyperplane LSH on random data: weak floor


def test_ivf_topk_recall(spark, sf_dir):
    """IVF with n_probe=all centroids must equal brute force exactly
    (every list probed => full coverage); with fewer probes, recall@1
    degrades gracefully but stays nonzero."""
    emb = _emb(spark, sf_dir)
    brute = {
        (r.query_id, r.vec_id) for r in similarity.cosine_topk(emb, k=5).collect()
    }
    full = {
        (r.query_id, r.vec_id)
        for r in similarity.ivf_topk(emb, k=5, n_centroids=8, n_probe=8).collect()
    }
    assert full == brute
    partial = similarity.ivf_topk(emb, k=5, n_centroids=8, n_probe=2).collect()
    assert len(partial) > 0


def test_assign_np_bit_identical_to_expression(spark, sf_dir):
    """assign_np's cumsum distances + first-min argmin must reproduce
    the `_nearest` expression fold EXACTLY, vector by vector (this is
    the invariant that lets Lloyd iterations and the scale paths go
    vectorized while the DuckDB oracles keep replaying the expression
    semantics)."""
    emb = _emb(spark, sf_dir)
    cents = similarity.ivf_centroids(emb, n_centroids=8, iters=1)
    v = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    expr = {
        r.vec_id: r.cluster
        for r in v.withColumn(
            "cluster", similarity._nearest("vec", cents)
        ).collect()
    }
    vec = {
        r.vec_id: r.cluster
        for r in similarity.assign_np(v, cents).collect()
    }
    assert vec == expr


def test_semantic_dedup_np_equals_join_form(spark, sf_dir):
    """The per-cluster matmul scale twin must emit exactly the join
    form's (vec_id, cluster, kept) rows on the fixture corpus."""
    emb = _emb(spark, sf_dir)
    a = {
        r.vec_id: (r.cluster, r.kept)
        for r in similarity.semantic_dedup(emb).collect()
    }
    b = {
        r.vec_id: (r.cluster, r.kept)
        for r in similarity.semantic_dedup_np(emb).collect()
    }
    assert a == b
    assert len(a) == emb.count()
    # the fixture threshold must actually drop something (non-trivial)
    assert any(not kept for _, kept in a.values())
    assert any(kept for _, kept in a.values())


def test_semantic_dedup_single_cluster_matches_brute(spark, sf_dir):
    """With ONE cluster the keep-lowest-id rule degenerates to the
    retired brute-force all-pairs operator: a vector is dropped iff it
    appears as the higher id of some >=-threshold pair."""
    emb = _emb(spark, sf_dir).filter(F.col("vec_id") % 10 == 0)
    tau = 0.3
    dropped_brute = {
        r.vec_b
        for r in similarity.embedding_neardup(
            emb, threshold=tau, modulus=1
        ).collect()
    }
    out = similarity.semantic_dedup(emb, threshold=tau, n_centroids=1).collect()
    dropped = {r.vec_id for r in out if not r.kept}
    assert dropped == dropped_brute


def test_semantic_dedup_keeps_lowest_id_of_exact_dups(spark):
    """Injected exact duplicates: only the lowest vec_id of each
    identical group survives, regardless of cluster count."""
    base = [0.5] * 8
    other = [(-1.0) ** i * 0.25 for i in range(8)]
    lone = [1.0, -1.0, 0.0, 0.0, 1.0, 0.5, -0.5, 0.25]
    rows = [
        (10, base),
        (11, other),
        (20, base),
        (30, base),
        (21, other),
        (40, lone),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r.vec_id: r.kept
        for r in similarity.semantic_dedup(
            emb, threshold=0.999, n_centroids=2
        ).collect()
    }
    assert out == {10: True, 11: True, 20: False, 30: False, 21: False, 40: True}


def test_semantic_decontaminate_flags_cross_split_dups(spark):
    """An exact duplicate of a test-split vector in the train split
    must flag contaminated; an unrelated train vector must not; counts
    follow the left-join contract (every train vector reported)."""
    base = [0.5] * 8
    lone = [1.0, -1.0, 0.0, 0.0, 1.0, 0.5, -0.5, 0.25]
    rows = [
        (23, base),   # test split (23 % 23 == 0)
        (24, base),   # train, exact dup of test vec 23
        (25, lone),   # train, unrelated
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r.vec_id: (r.n_hits, r.contaminated)
        for r in similarity.semantic_decontaminate(
            emb, threshold=0.999, n_centroids=2
        ).collect()
    }
    assert set(out) == {24, 25}  # one row per TRAIN vector
    assert out[24] == (1, True)
    assert out[25] == (0, False)


def test_semantic_decontaminate_matches_brute_single_cluster(spark, sf_dir):
    """With one cluster the rule degenerates to brute bipartite
    cosine: flag train iff any test vec >= threshold."""
    emb = _emb(spark, sf_dir).filter(F.col("vec_id") % 5 == 0)
    tau = 0.3
    out = {
        r.vec_id: r.contaminated
        for r in similarity.semantic_decontaminate(
            emb, threshold=tau, n_centroids=1
        ).collect()
    }
    rows = [
        (r.vec_id, list(r.embedding))
        for r in emb.select("vec_id", "embedding").collect()
    ]
    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return 0.0 if na * nb == 0 else d / (na * nb)

    test = [(i, v) for i, v in rows if i % 23 == 0]
    for vid, vec in rows:
        if vid % 23 == 0:
            continue
        want = any(round(cos(vec, tv), 9) >= tau for _, tv in test)
        assert out[vid] == want, vid


def test_ivf_centroids_deterministic(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    c1 = similarity.ivf_centroids(emb, n_centroids=4, iters=1)
    c2 = similarity.ivf_centroids(emb, n_centroids=4, iters=1)
    assert c1 == c2
    assert len(c1) == 4


# -------------------------------------------------------------------- text
def test_tokens_empty_and_spaces(spark):
    df = spark.createDataFrame([(1, "  a  b "), (2, "")], "doc_id long, text string")
    out = {r.doc_id: r.n_words for r in text.token_counts(df).collect()}
    assert out == {1: 2, 2: 0}


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog"), (2, "el gato y la casa que de"),
         (3, "xyzzy plugh")],
        "doc_id long, text string",
    ).withColumn("lang", F.lit("?"))
    out = {r.doc_id: r.lang_pred for r in text.lang_id(df).collect()}
    assert out[1] == "en"
    assert out[2] == "es"
    assert out[3] == "und"


def test_quality_score_range(spark, sf_dir):
    rows = text.quality_score(_docs(spark, sf_dir)).collect()
    assert all(0.0 <= r.quality <= 1.0 for r in rows)


def test_fingerprint_normalizes_whitespace(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, " hello world ")], "doc_id long, text string"
    )
    fps = [r.fp for r in text.fingerprint(df).collect()]
    assert fps[0] == fps[1]


# -------------------------------------------------------------- multimodal
def test_media_features_plumbing(spark, sf_dir):
    docs = _docs(spark, sf_dir).limit(20)
    media = multimodal.synth_media(docs)
    feats = multimodal.extract_features(media).collect()
    assert len(feats) == 20
    payloads = {r.doc_id: bytes(r.payload) for r in media.collect()}
    for r in feats:
        assert r.n_bytes == 64  # 4 * 16 md5 bytes
        assert r.first_byte == payloads[r.doc_id][0]
        assert len(r.features) == 4
        assert r.format in ("png", "jpeg", "webp")


def test_extract_features_auto_gate_falls_back_to_fake(spark, sf_dir):
    """fake=None auto-detects: without Pillow it must choose the
    deterministic stand-in (same rows as fake=True), not raise."""
    media = multimodal.synth_media(_docs(spark, sf_dir).limit(5))
    auto = multimodal.extract_features(media, fake=None).collect()
    pinned = multimodal.extract_features(media, fake=True).collect()
    assert sorted(map(str, auto)) == sorted(map(str, pinned))


def test_frame_sample(spark, sf_dir):
    media = multimodal.synth_media(_docs(spark, sf_dir).limit(5))
    frames = multimodal.frame_sample(media, every_n=2).collect()
    # 64-byte payload = 4 frames; every 2nd -> idx 0 and 2
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r.frame_idx)
    for idxs in by_doc.values():
        assert sorted(idxs) == [0, 2]


def test_winnow_shared_run_guarantee(spark):
    """Winnowing guarantee: documents sharing a run of >= w+k-1 words
    share at least one fingerprint (k=5, w=4 -> 8 words)."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
    df = spark.createDataFrame(
        [(1, f"unique one {shared} tail words here"),
         (2, f"completely different prefix {shared} and suffix"),
         (3, "nothing in common with the others at all whatsoever")],
        "doc_id long, text string",
    )
    fps = text.winnow_fingerprints(df).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2]          # shared run -> shared fingerprint
    assert not (by_doc[1] & by_doc[3])    # disjoint text -> disjoint prints


def test_cosine_topk_scale_equals_plain(spark, sf_dir):
    """Salted two-phase top-k must be result-identical to the
    single-window version."""
    emb = _emb(spark, sf_dir)
    plain = {tuple(r) for r in similarity.cosine_topk(emb, k=7).collect()}
    scale = {tuple(r) for r in similarity.cosine_topk_scale(emb, k=7).collect()}
    assert scale == plain


# ------------------------------------------------------------ pii / intra
def test_pii_scrub_redacts_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "write to bob@mail.com or 10.1.2.3 or +55-99887766 now"),
            (2, "no pii here at all"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in text.pii_scrub(df).collect()}
    assert (out[1].n_emails, out[1].n_ips, out[1].n_phones) == (1, 1, 1)
    assert "<EMAIL>" in out[1].clean_text
    assert "<IP>" in out[1].clean_text
    assert "<PHONE>" in out[1].clean_text
    assert "bob@mail.com" not in out[1].clean_text
    assert out[2].clean_text == "no pii here at all"
    assert (out[2].n_emails, out[2].n_ips, out[2].n_phones) == (0, 0, 0)


def test_shared_passages_detects_injected_overlap(spark):
    """Two docs sharing a >= w+k-1 word run must pair (winnowing
    guarantee); unrelated docs must not; and a passage shared by MORE
    than max_df docs is stop-listed (no quadratic boilerplate blowup),
    while distinctive passages still pair."""
    shared = " ".join(f"s{i}" for i in range(12))  # >= w+k-1 = 8 words
    boiler = " ".join(f"b{i}" for i in range(12))
    rows = [
        (1, shared + " " + " ".join(f"x{i}" for i in range(10))),
        (2, " ".join(f"y{i}" for i in range(10)) + " " + shared),
        (3, " ".join(f"z{i}" for i in range(20))),
    ]
    # boilerplate in 6 docs > max_df=5 -> all its fps stop-listed
    rows += [(10 + i, boiler + f" tail{i}a tail{i}b tail{i}c") for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in text.shared_passages(
            docs, min_shared=1, max_df=5
        ).collect()
    }
    assert (1, 2) in got and got[(1, 2)] >= 1
    assert all(3 not in pair for pair in got)
    assert not any(a >= 10 and b >= 10 for a, b in got)


def test_shared_passages_plan_shape(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.plans import audit

    docs = _docs(spark, sf_dir)
    out = text.shared_passages(docs)
    aud = audit(out)
    assert aud.cartesian == 0 and aud.bnl_joins == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan


def test_temperature_sample_flattens_mixture(spark, sf_dir):
    """alpha<1 must upweight small sources relative to their raw share
    (the whole point of α-sampling), alpha=1 must reproduce the raw
    proportions (up to integer quotas), and quotas never exceed group
    sizes."""
    docs = _docs(spark, sf_dir)
    # group by lang: the fixture's sources are uniform (25 docs each
    # at sf0.01 — flattening a flat mixture is a no-op), langs are not
    sizes = {
        r.lang: r.n
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    total = sum(sizes.values())
    small = min(sizes, key=sizes.get)
    big = max(sizes, key=sizes.get)

    out = corpus.temperature_sample(
        docs, alpha=0.5, budget=200, group_col="lang"
    )
    kept = {
        r.grp: r.n
        for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()
    }
    quotas = {
        r.grp: r.grp_quota for r in out.select("grp", "grp_quota").distinct().collect()
    }
    for g, q in quotas.items():
        assert q <= sizes[g]
        assert kept[g] == q  # exact-rank selection fills the quota
    # flattening: small source's kept share > its raw share; big's <
    assert kept[small] / sum(kept.values()) > sizes[small] / total
    assert kept[big] / sum(kept.values()) < sizes[big] / total

    flat = corpus.temperature_sample(
        docs, alpha=1.0, budget=200, group_col="lang"
    )
    kept1 = {
        r.grp: r.n
        for r in flat.groupBy("grp").agg(F.count("*").alias("n")).collect()
    }
    for g, k in kept1.items():
        assert abs(k - 200 * sizes[g] / total) <= 1  # raw proportions


def test_temperature_sample_deterministic(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    a = sorted(r.doc_id for r in corpus.temperature_sample(docs).collect())
    b = sorted(
        r.doc_id
        for r in corpus.temperature_sample(docs.repartition(7)).collect()
    )
    assert a == b


def test_repetition_profile_goldens(spark):
    """Hand-computed Gopher-signal goldens: a looping doc, a clean doc,
    an empty doc, and a one-word doc (no bigrams at all)."""
    df = spark.createDataFrame(
        [
            # bigrams: "ab cd"x3, "cd ab"x2, "cd ef"x1 -> top = "ab cd"
            # (count 3, 5 chars each); duplicated grams: 3*5 + 2*5 = 25
            (1, "ab cd ab cd ab cd ef"),
            (2, "one two three four"),
            (3, ""),
            (4, "solo"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in text.repetition_profile(df).collect()}

    r1 = out[1]
    assert (r1.n_words, r1.n_distinct_words, r1.dup_words) == (7, 3, 4)
    assert r1.total_chars == len("ab cd ab cd ab cd ef")
    assert (r1.top_gram, r1.top_gram_count, r1.top_gram_chars) == ("ab cd", 3, 15)
    assert r1.dup_gram_chars == 25
    assert r1.repetitive  # 5*25 > 20 and 2*4 > 7

    r2 = out[2]
    assert (r2.n_words, r2.dup_words, r2.dup_gram_chars) == (4, 0, 0)
    assert r2.top_gram_count == 1 and r2.top_gram is not None
    # tie on count=1 resolves to the lexicographically smallest bigram
    assert r2.top_gram == sorted(["one two", "two three", "three four"])[0]
    assert not r2.repetitive

    r3 = out[3]
    assert (r3.n_words, r3.total_chars, r3.top_gram_count) == (0, 0, 0)
    assert r3.top_gram is None and r3.dup_gram_chars == 0
    assert not r3.repetitive

    r4 = out[4]
    assert (r4.n_words, r4.top_gram_count, r4.dup_gram_chars) == (1, 0, 0)
    assert r4.top_gram is None and not r4.repetitive


def test_repetition_profile_fold_matches_relational(spark, sf_dir):
    """The row-local sorted-fold must count the gram multiset exactly
    like the shuffle-based explode + groupBy formulation (the shape the
    operator deliberately avoids), over the real corpus."""
    docs = _docs(spark, sf_dir)
    got = {
        r.doc_id: (r.top_gram, r.top_gram_count, r.dup_gram_chars)
        for r in text.repetition_profile(docs).collect()
    }
    toks = text.tokens("text")
    staged = docs.select("doc_id", toks.alias("toks"))
    grams = staged.select(
        "doc_id", F.explode(text.word_kgrams(F.col("toks"), 2)).alias("gram")
    )
    counts = grams.groupBy("doc_id", "gram").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("c").desc(), F.col("gram").asc()
    )
    top = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "gram", "c")
    )
    dup = counts.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("c") >= 2, F.col("c") * F.length("gram")).otherwise(0)
        )
        .cast("long")
        .alias("dup_chars")
    )
    want = {
        r.doc_id: (r.gram, r.c, r.dup_chars)
        for r in top.join(dup, "doc_id").collect()
    }
    for doc_id, (gram, c, dup_chars) in want.items():
        assert got[doc_id] == (gram, c, dup_chars), doc_id
    # docs absent from `want` have no bigrams at all
    for doc_id, (gram, c, dup_chars) in got.items():
        if doc_id not in want:
            assert (gram, c, dup_chars) == (None, 0, 0)


def test_intra_doc_dedup_drops_repeated_chunks(spark):
    words = [f"w{i}" for i in range(20)]
    rep = " ".join(words + words + [f"x{i}" for i in range(20)])
    clean = " ".join(f"y{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, rep), (2, clean), (3, "")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in corpus.intra_doc_dedup(df).collect()}
    assert (out[1].n_chunks, out[1].n_kept) == (3, 2)
    assert out[1].clean_text == " ".join(words + [f"x{i}" for i in range(20)])
    assert (out[2].n_chunks, out[2].n_kept) == (2, 2)
    assert out[2].clean_text == clean
    assert (out[3].n_chunks, out[3].n_kept) == (0, 0)


# ------------------------------------------------------------ asof / mix
def test_asof_join_semantics(spark):
    from teste_carga_avro_vs_json_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100, "p1"), (1, 50, "p2"), (2, 10, "p3")],
        ["k", "ts", "lbl"],
    )
    right = spark.createDataFrame(
        [(1, 40, 7), (1, 100, 8), (1, 200, 9), (3, 5, 10)],
        ["k", "ts", "rid"],
    )
    out = {
        r.lbl: r.asof_rid
        for r in asof_join(left, right, "k", "ts", ["rid"]).collect()
    }
    assert out["p1"] == 8  # equal ts is inclusive (>= convention)
    assert out["p2"] == 7  # nearest preceding
    assert out["p3"] is None  # no right rows for key 2


def test_asof_join_null_right_columns_stay_atomic(spark):
    """A NULL column on the matched right row must come through as
    NULL — not fall through to an older right row's value (per-column
    running-last stitching). The payload travels as one struct."""
    from teste_carga_avro_vs_json_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 100, "p")], ["k", "ts", "lbl"])
    right = spark.createDataFrame(
        [(1, 10, 7, "old"), (1, 90, 8, None)],
        ["k", "ts", "rid", "note"],
    )
    row = asof_join(left, right, "k", "ts", ["rid", "note"]).collect()[0]
    assert row.asof_rid == 8
    assert row.asof_note is None  # atomic: NOT "old"


def test_corpus_mix_rates_and_determinism(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = {f"src{i}": 10 + (i % 4) * 20 for i in range(20)}
    a = corpus.corpus_mix(docs, w)
    b = corpus.corpus_mix(docs, w)
    ids_a = sorted(r.doc_id for r in a.select("doc_id").collect())
    ids_b = sorted(r.doc_id for r in b.select("doc_id").collect())
    assert ids_a == ids_b and len(ids_a) > 0
    per_src = {r.source: r.n for r in a.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    tot = {r.source: r.n for r in docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    # high-weight sources keep more than low-weight ones on aggregate
    hi = sum(per_src.get(s, 0) for s in w if w[s] == 70)
    lo = sum(per_src.get(s, 0) for s in w if w[s] == 10)
    assert hi > lo
    # nothing kept from an unlisted source under default_pct=0
    assert corpus.corpus_mix(docs, {"nope": 50}).count() == 0


def test_sessionize_gap_semantics(spark):
    import datetime as dt

    from teste_carga_avro_vs_json_spark.operators.asof import sessionize

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 9, "click", 1.0, ""),
        (2, t0 + dt.timedelta(minutes=10), 9, "view", 1.0, ""),
        (3, t0 + dt.timedelta(minutes=50), 9, "click", 1.0, ""),  # new sess
        (4, t0, 7, "view", 1.0, ""),
    ]
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).withColumn("ts", (F.unix_timestamp("ts") * F.lit(1_000_000_000)).cast("long"))
    out = [
        (r.user_id, r.session_idx, r.n_events)
        for r in sessionize(ev).collect()
    ]
    assert out == [(7, 0, 1), (9, 0, 2), (9, 1, 1)]


def test_lsh_vectorized_agrees_with_expression_path(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    a = {(r.query_id, r.vec_id) for r in similarity.lsh_ann_topk(emb).collect()}
    b = {
        (r.query_id, r.vec_id)
        for r in similarity.lsh_ann_topk(emb, vectorized=True).collect()
    }
    assert a == b


def test_asof_join_matches_bruteforce_reference(spark):
    """Property-style check vs an in-Python brute force on a pseudo-
    random (seeded, deterministic) event set with ties and misses."""
    import hashlib

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    left = [(i, h(f"L{i}") % 7, h(f"lt{i}") % 50) for i in range(80)]
    right = [(i, h(f"R{i}") % 7, h(f"rt{i}") % 50) for i in range(120)]
    ldf = spark.createDataFrame(left, ["lid", "k", "ts"])
    rdf = spark.createDataFrame(right, ["rid", "k", "ts"])
    got = {
        r.lid: r.asof_rid
        for r in __import__(
            "teste_carga_avro_vs_json_spark.operators.asof",
            fromlist=["asof_join"],
        ).asof_join(ldf, rdf, "k", "ts", ["rid"], tiebreak="rid").collect()
    }
    for lid, k, ts in left:
        cands = [(rts, rid) for rid, rk, rts in right if rk == k and rts <= ts]
        want = max(cands)[1] if cands else None
        assert got[lid] == want, (lid, got[lid], want)


def test_sessionize_agrees_with_native_session_window(spark, sf_dir):
    """Same sessions from two independent algorithms: the lag+cumsum
    window formulation vs Spark's built-in session_window aggregation
    (event-time gap merge). Session identity compared on
    (user, start, end, n_events)."""
    from teste_carga_avro_vs_json_spark.operators.asof import sessionize

    ev = load_table(spark, sf_dir, "events")
    ours = {
        (r.user_id, r.start_ms, r.end_ms, r.n_events)
        for r in sessionize(ev).collect()
    }
    native = ev.select(
        "user_id",
        F.timestamp_millis(F.expr("ts div 1000000")).alias("evt"),
    ).groupBy(
        "user_id", F.session_window("evt", "30 minutes")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    rows = native.select(
        "user_id",
        (F.unix_millis(F.col("session_window.start"))).alias("start_ms"),
        F.col("n_events"),
    ).collect()
    theirs_counts = {(r.user_id, r.start_ms, r.n_events) for r in rows}
    ours_counts = {(u, s, n) for (u, s, e, n) in ours}
    assert ours_counts == theirs_counts


def test_interval_join_boundaries_and_multibucket(spark):
    from teste_carga_avro_vs_json_spark.operators.asof import interval_join

    # interval spans 3 buckets at bucket_ms=10; boundary points inclusive
    iv = spark.createDataFrame([(1, 0, 25, "A"), (2, 5, 7, "B")],
                               ["k", "s", "e", "lbl"])
    pts = spark.createDataFrame(
        [(1, 0, "p0"), (1, 25, "p1"), (1, 26, "p2"), (2, 6, "p3"), (1, 13, "p4")],
        ["k", "t", "pid"],
    )
    out = {r.pid: r.lbl for r in interval_join(
        pts, iv, "k", "t", "s", "e", bucket_ms=10).collect()}
    assert out == {"p0": "A", "p1": "A", "p3": "B", "p4": "A"}  # p2 outside


# ------------------------------------------------------------ doc profile
def test_doc_profile_matches_components(spark, sf_dir):
    """The fused one-scan profile must agree column-for-column with the
    four standalone operators it subsumes (registry consolidation — the
    components keep pytest coverage through this pin)."""
    docs = _docs(spark, sf_dir)
    prof = {r.doc_id: r for r in text.doc_profile(docs).collect()}
    tc = {r.doc_id: r for r in text.token_counts(docs).collect()}
    li = {r.doc_id: r for r in text.lang_id(docs).collect()}
    qs = {r.doc_id: r for r in text.quality_score(docs).collect()}
    fp = {r.doc_id: r for r in text.fingerprint(docs).collect()}
    assert prof.keys() == tc.keys() == li.keys() == qs.keys() == fp.keys()
    for d, r in prof.items():
        assert (r.n_words, r.n_pieces, r.n_chars_measured) == (
            tc[d].n_words, tc[d].n_pieces, tc[d].n_chars_measured,
        )
        assert (r.lang_labeled, r.lang_pred, r.marker_hits) == (
            li[d].lang_labeled, li[d].lang_pred, li[d].marker_hits,
        )
        assert (r.chars, r.words, r.mean_word_len) == (
            qs[d].chars, qs[d].words, qs[d].mean_word_len,
        )
        assert (r.stopword_ratio, r.quality) == (
            qs[d].stopword_ratio, qs[d].quality,
        )
        assert (r.fp, r.norm_len) == (fp[d].fp, fp[d].norm_len)


@pytest.mark.parametrize("op", ["gated_unique", "corpus_report"])
def test_corpus_scores_match_text_operators(spark, sf_dir, op):
    """corpus.py's fused scorers take the quality sum, the stopword-marker
    counts and the language argmax from text.py's builders, so on the
    sf0.1 documents they agree exactly with ``text.quality_score`` and
    ``text.lang_id``: per doc for gated_unique's ``quality`` and its
    ``lang_pred`` gate (every predicted language, and the default
    gate), per source for corpus_report's ``mean_quality`` and
    ``lang_purity``."""
    docs = _docs(spark, os.path.join(os.path.dirname(sf_dir), "sf0.1"))
    q = {r.doc_id: r.quality for r in text.quality_score(docs).collect()}
    li = {r.doc_id: r for r in text.lang_id(docs).collect()}
    rows = docs.select("doc_id", "text", "source").collect()
    assert q.keys() == li.keys() == {r.doc_id for r in rows}
    if op == "gated_unique":
        survivor = {}
        for r in rows:
            survivor[r.text] = min(survivor.get(r.text, r.doc_id), r.doc_id)
        langs = sorted({r.lang_pred for r in li.values()})
        assert "en" in langs
        for lang in langs:
            got = {
                r.doc_id: r.quality
                for r in corpus.gated_unique(docs, lang, 0.0).collect()
            }
            want = {
                d: q[d] for d in survivor.values() if li[d].lang_pred == lang
            }
            assert got == want, lang
        kept = {r.doc_id for r in corpus.gated_unique(docs).collect()}
        assert kept == {
            d for d in survivor.values()
            if li[d].lang_pred == "en" and q[d] >= 0.5
        }
    else:
        by_source = {}
        for r in rows:
            by_source.setdefault(r.source, []).append(r.doc_id)
        rep = {r.source: r for r in corpus.corpus_report(docs).collect()}
        assert rep.keys() == by_source.keys()
        for src, ids in by_source.items():
            n = float(len(ids))
            # round(q * 10) is HALF_UP in Spark, q >= 0
            q10 = sum(math.floor(q[d] * 10 + 0.5) for d in ids)
            ok = sum(li[d].lang_pred == li[d].lang_labeled for d in ids)
            assert rep[src].mean_quality == q10 / (10.0 * n), src
            assert rep[src].lang_purity == ok / n, src


def test_media_pipeline_resize_then_features(spark, sf_dir):
    """resize -> extract_features chained (the registry's fused media
    query): output metadata is the resize target, byte counts follow the
    area-ratio arithmetic, and the leading payload byte survives the
    repeat/truncate resample."""
    docs = _docs(spark, sf_dir)
    media = multimodal.synth_media(docs)
    orig = {r.doc_id: r for r in media.collect()}
    out = {
        r.doc_id: r
        for r in multimodal.extract_features(
            multimodal.resize(media)
        ).collect()
    }
    assert out.keys() == orig.keys()
    for d, r in out.items():
        o = orig[d]
        assert (r.width, r.height) == (224, 224)
        expected = max(1, int(64 * (224 * 224) / (o.width * o.height)))
        assert r.n_bytes == expected
        assert r.first_byte == bytes(o.payload)[0]
        assert r.format == o.format


def test_audio_features_plumbing(spark, sf_dir):
    """Audio twin of the media plumbing test: deterministic byte-stat
    features over synth payloads through mapInPandas."""
    docs = _docs(spark, sf_dir)
    audio = multimodal.synth_audio(docs)
    payloads = {r.doc_id: bytes(r.payload) for r in audio.collect()}
    feats = multimodal.extract_audio_features(audio).collect()
    assert len(feats) == len(payloads)
    for r in feats:
        b = payloads[r.doc_id]
        assert r.n_bytes == len(b) == 16 * 8
        assert r.n_samples == len(b) // 2
        assert r.duration_ms == (len(b) // 2) * 1000 // 16000
        assert r.peak == max(b)
        assert r.format in ("wav", "flac", "ogg")


def _synth_wav(frames, rate=8000, width=2, channels=1):
    """Build a real RIFF/PCM WAV via the stdlib wave module.
    ``frames``: list of per-frame sample tuples (ints at the target
    width's scale)."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(channels)
        wf.setsampwidth(width)
        wf.setframerate(rate)
        fmt = {1: "B", 2: "<h", 4: "<i"}[width]
        raw = b"".join(
            struct.pack(fmt, s) for frame in frames for s in frame
        )
        wf.writeframes(raw)
    return buf.getvalue()


def test_bmp_stdlib_real_roundtrip():
    """REAL image decode with zero third-party deps (the image twin of
    the WAV move): spec-correct 24-bit BMP encode -> exact quadrant
    luminance on hand-built pixels (incl. odd-width row padding)."""
    # 2x2: quadrants are single pixels; BT.601 integer luma
    px = bytes(
        [255, 0, 0,  0, 255, 0,
         0, 0, 255,  255, 255, 255]
    )
    payload = multimodal.encode_bmp_stdlib(2, 2, px)
    assert payload[:2] == b"BM"
    w, h, feats = multimodal.decode_bmp_stdlib(payload)
    assert (w, h) == (2, 2)
    exp = [
        (299 * 255) // 1000 / 255.0,
        (587 * 255) // 1000 / 255.0,
        (114 * 255) // 1000 / 255.0,
        ((299 + 587 + 114) * 255 // 1000) / 255.0,
    ]
    assert feats == exp
    # odd width exercises the 4-byte row padding
    px3 = bytes(range(3 * 2 * 3))
    p3 = multimodal.encode_bmp_stdlib(3, 2, px3)
    w3, h3, f3 = multimodal.decode_bmp_stdlib(p3)
    assert (w3, h3) == (3, 2) and all(0.0 <= x <= 1.0 for x in f3)


def test_wav_stdlib_real_decode(spark):
    """REAL audio decode with zero third-party deps: stdlib RIFF/PCM
    parsing (VERDICT r5 item 6). Exact frames/rate/peak on synthesized
    WAVs across widths and channel counts, then the same decoder
    through the mapInPandas extractor (fake=False) — so on every
    environment the WAV path exercises true decoding, not the byte-stat
    stand-in."""
    # 16-bit mono: peak -20000 -> int(20000/32768*32767)
    w16 = _synth_wav([(1000,), (-20000,), (5,)], rate=16000)
    assert multimodal.decode_wav_stdlib(w16) == (
        3,
        16000,
        int(20000 / 32768 * 32767),
    )
    # 16-bit stereo: peak scans ALL channels
    w16s = _synth_wav([(0, -32768), (12, 7)], rate=44100, channels=2)
    assert multimodal.decode_wav_stdlib(w16s) == (2, 44100, 32767)
    # 8-bit unsigned: offset-binary around 128, full scale 128
    w8 = _synth_wav([(128,), (255,), (64,)], rate=8000, width=1)
    assert multimodal.decode_wav_stdlib(w8) == (
        3,
        8000,
        int(127 / 128 * 32767),
    )
    # 32-bit signed
    w32 = _synth_wav([(2**30,), (-3,)], rate=48000, width=4)
    assert multimodal.decode_wav_stdlib(w32) == (
        2,
        48000,
        int(2**30 / 2**31 * 32767),
    )
    # empty data chunk
    assert multimodal.decode_wav_stdlib(_synth_wav([], rate=8000)) == (
        0,
        8000,
        0,
    )

    # through the Arrow-batched extractor: fake=False is the REAL path
    media = spark.createDataFrame(
        [(1, bytearray(w16), "wav"), (2, bytearray(w16s), "wav")],
        "doc_id long, payload binary, format string",
    )
    rows = {
        r.doc_id: r
        for r in multimodal.extract_audio_features(media, fake=False).collect()
    }
    assert rows[1].n_samples == 3 and rows[1].duration_ms == 3 * 1000 // 16000
    assert rows[1].peak == int(20000 / 32768 * 32767)
    assert rows[2].n_samples == 2 and rows[2].peak == 32767
    assert rows[1].n_bytes == len(w16)
    # schema contract identical to the fake path
    assert (
        multimodal.extract_audio_features(media, fake=False).schema
        == multimodal.extract_audio_features(media, fake=True).schema
    )


def test_registry_stays_within_driver_window():
    """The driver's correctness harness checks exactly the FIRST 50
    entries of queries() (CORRECTNESS_r02/r03 evidence) — exceeding the
    cap silently unchecks the tail. Every query must keep its oracle
    twin (key sets identical)."""
    from teste_carga_avro_vs_json_spark import registry

    q, o = registry.queries(), registry.oracle_sql()
    assert len(q) <= 50, f"{len(q)} entries exceed the driver's 50-row window"
    assert set(q) == set(o)


def test_neardup_clusters_long_chain_multi_round(spark):
    """A 10-doc path graph (each doc near-dup ONLY of its neighbors —
    sliding 20-word windows, threshold between J(adjacent)≈0.9 and
    J(skip)≈0.8) has diameter 9: min-label propagation needs several
    rounds, so this pins the multi-round loop (incl. the lazy
    checkpoint chaining rounds) rather than the 1-2 round clique case."""
    n = 10
    w = [f"w{i}" for i in range(20 + n - 1)]
    rows = [(i + 1, " ".join(w[i : i + 20])) for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    stats = {}
    out = {
        r.doc_id: (r.cluster_id, r.is_canonical)
        for r in dedup.neardup_clusters(
            df, threshold=0.85, stats=stats
        ).collect()
    }
    assert out == {i + 1: (1, i == 0) for i in range(n)}
    assert stats["rounds"] >= 2  # genuinely multi-round, not one clique


def test_cosine_topk_np_equals_hof(spark, sf_dir):
    """The numpy-matmul scale twin must reproduce the HOF/oracle path
    EXACTLY (same 9-dp rounding, same tie-break) on the fixture corpus —
    pairwise-vs-sequential summation differences vanish under the
    rounding quantum. At 10x corpus the matmul path measures 4.5x
    faster (SCALE.md); at fixture scale they tie, which is why the
    bench lane runs the np path while q_cosine_topk keeps the
    DuckDB-reproducible fold."""
    emb = _emb(spark, sf_dir)
    hof = {
        (r.query_id, r.vec_id, r.cos_sim, r.rank)
        for r in similarity.cosine_topk(emb).collect()
    }
    npv = {
        (r.query_id, r.vec_id, r.cos_sim, r.rank)
        for r in similarity.cosine_topk_np(emb).collect()
    }
    assert hof == npv and len(hof) > 0


def test_cosine_topk_np_zero_norm_matches_hof(spark):
    """r5 ADVICE: zero-norm vectors used to diverge — the HOF path's
    naive dot/(|a||b|) even RAISES DIVIDE_BY_ZERO under Spark 4 ANSI
    mode (a single zero embedding would kill a 100 TB job), while the
    np path clamped to 0.0. All three engines (Spark HOF, DuckDB CASE
    oracle, numpy) now define cosine(zero, ·) = 0.0; the paths must
    agree exactly and the zero vectors must rank by the tie-break, not
    crash or float to the top as NaN."""
    rows = [
        (0, [0.0, 0.0, 0.0]),  # zero QUERY vector (0 % 50 == 0)
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 0.0]),  # zero CORPUS vector
        (50, [1.0, 1.0, 0.0]),  # second, nonzero query
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def key(df):
        return {
            (r.query_id, r.vec_id, r.rank, r.cos_sim) for r in df.collect()
        }

    hof = key(similarity.cosine_topk(emb, k=4))
    npv = key(similarity.cosine_topk_np(emb, k=4))
    assert hof == npv and len(hof) > 0
    # the zero query scores 0.0 against every neighbor
    assert {t[3] for t in npv if t[0] == 0} == {0.0}
    # zero corpus vec scores 0.0 vs query 50 — ranked BELOW real matches
    [zero_row] = [t for t in npv if t[0] == 50 and t[1] == 3]
    finite_best = min(t[2] for t in npv if t[0] == 50 and t[3] > 0.0)
    assert zero_row[3] == 0.0 and zero_row[2] > finite_best


def test_cosine_topk_np_empty_query_sample(spark):
    """r5 ADVICE: no vec_id % modulus == 0 used to raise IndexError at
    Q.shape[1]; must return an empty frame with the HOF path's schema."""
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    out = similarity.cosine_topk_np(emb, k=3, query_modulus=50)
    assert out.count() == 0
    hof = similarity.cosine_topk(emb, k=3, query_modulus=50)
    assert [f.name for f in out.schema.fields] == [f.name for f in hof.schema.fields]
    assert [f.dataType for f in out.schema.fields] == [
        f.dataType for f in hof.schema.fields
    ]


# ------------------------------------------------------- decontamination
def test_decontaminate_goldens(spark):
    """Hand-built contamination: train doc 1 shares a 3-gram with the
    test set, doc 2 shares nothing, doc 3 is shorter than n (zero
    grams). n_hits counts DISTINCT overlapping grams."""
    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),  # grams: abg, bgd -> abg hits
            (2, "foo bar baz qux"),
            (3, "tiny doc"),  # < n words -> 0 grams
        ],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [(100, "alpha beta gamma zeta")], "doc_id long, text string"
    )
    out = {
        r.doc_id: (r.n_grams, r.n_hits, r.contaminated)
        for r in decontam.decontaminate(train, test, n=3).collect()
    }
    assert out == {
        1: (2, 1, True),
        2: (2, 0, False),
        3: (0, 0, False),
    }


def test_decontaminate_scale_twin_agrees(spark, sf_dir):
    """The xxhash64-keyed production path must return the same stats as
    the exact-string path (hash collisions aside, which would need a
    64-bit collision within one corpus's gram set)."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 17 != 0)
    test = docs.filter(F.col("doc_id") % 17 == 0)
    exact = {
        r.doc_id: (r.n_grams, r.n_hits)
        for r in decontam.decontaminate(train, test, n=5).collect()
    }
    scale = {
        r.doc_id: (r.n_grams, r.n_hits)
        for r in decontam.decontaminate(train, test, n=5, scale=True).collect()
    }
    assert exact == scale
    assert sum(1 for _, h in exact.values() if h > 0) > 0  # signal exists


def test_decontaminate_shuffle_join_variant_agrees(spark):
    """broadcast_test=False (huge-test-side fallback) keeps values."""
    train = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y z w v")], "doc_id long, text string"
    )
    test = spark.createDataFrame([(9, "b c d q r")], "doc_id long, text string")
    a = sorted(
        map(tuple, decontam.decontaminate(train, test, n=3).collect())
    )
    b = sorted(
        map(
            tuple,
            decontam.decontaminate(
                train, test, n=3, broadcast_test=False
            ).collect(),
        )
    )
    assert a == b


# ---------------------------------------------------- sequence packing
def test_pack_sequences_invariants(spark, sf_dir):
    """The packing plan must tile the token stream exactly: start
    offsets are a permutation-consistent prefix sum (sum of n_tokens ==
    max(start+n)), sequence ids/offsets follow from integer division,
    span counts match the window boundaries crossed, and no two docs
    overlap."""
    docs = load_table(spark, sf_dir, "documents")
    W = 512
    rows = corpus.pack_sequences(docs, seq_len=W).collect()
    assert len(rows) == docs.count()
    total = sum(r.n_tokens for r in rows)
    ends = sorted((r.start_tok, r.start_tok + r.n_tokens) for r in rows)
    # contiguous, non-overlapping tiling starting at 0
    assert ends[0][0] == 0
    for (s0, e0), (s1, e1) in zip(ends, ends[1:]):
        assert s1 == e0
    assert ends[-1][1] == total
    for r in rows:
        assert r.seq_id == r.start_tok // W
        assert r.seq_off == r.start_tok % W
        if r.n_tokens == 0:
            assert r.n_seqs == 0
        else:
            last = r.start_tok + r.n_tokens - 1
            assert r.n_seqs == last // W - r.start_tok // W + 1
    # the fixture really exercises straddling: some doc spans 2+ windows
    assert any(r.n_seqs > 1 for r in rows)


def test_pack_sequences_deterministic(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    a = sorted(map(tuple, corpus.pack_sequences(docs, seq_len=512).collect()))
    b = sorted(map(tuple, corpus.pack_sequences(docs, seq_len=512).collect()))
    assert a == b


def test_decontaminate_empty_test_set(spark):
    """An empty test set contaminates nothing and still returns every
    train doc with its gram count."""
    train = spark.createDataFrame(
        [(1, "a b c d e"), (2, "")], "doc_id long, text string"
    )
    test = spark.createDataFrame([], "doc_id long, text string")
    out = {
        r.doc_id: (r.n_grams, r.n_hits, r.contaminated)
        for r in decontam.decontaminate(train, test, n=3).collect()
    }
    assert out == {1: (3, 0, False), 2: (0, 0, False)}


def test_pack_windows_reconstruction(spark, sf_dir):
    """Materialized windows must be the exact packed token stream: every
    window is seq_len tokens except possibly the last, and concatenating
    windows in seq_id order reproduces each document's tokens
    contiguously at the offsets the plan assigned."""
    docs = load_table(spark, sf_dir, "documents")
    W = 512
    wins = sorted(
        ((r.seq_id, r.n_tokens, r.toks)
         for r in corpus.pack_windows(docs, seq_len=W).collect())
    )
    assert [w[0] for w in wins] == list(range(len(wins)))
    for seq_id, n, _ in wins[:-1]:
        assert n == W
    stream = [t for _, _, toks in wins for t in toks]
    plan = corpus.pack_sequences(docs, seq_len=W).collect()
    texts = {
        r.doc_id: r.text.split() for r in docs.select("doc_id", "text").collect()
    }
    total = sum(r.n_tokens for r in plan)
    assert len(stream) == total
    for r in plan:
        want = [t for t in texts[r.doc_id] if t]
        assert stream[r.start_tok : r.start_tok + r.n_tokens] == want


def test_shingled_regex_gate_equivalence(spark):
    """The r7 nonempty gate (>= k non-space runs over raw text) must
    keep exactly the docs whose shingle array is non-empty — including
    on adversarial whitespace (tabs/newlines, NBSP which Java \\s does
    NOT match, leading/trailing runs, empty and short docs)."""
    rows = [
        (1, "a b c"),            # exactly k=3 tokens
        (2, "a b"),              # k-1 -> gated out
        (3, "  a\tb\nc  "),      # mixed whitespace, padded
        (4, ""),                 # empty
        (5, "   "),              # whitespace only
        (6, "a b c"),       # NBSP is NOT \s: 'a b' is ONE token -> 2 tokens
        (7, "a b c d"),     # 3 tokens incl. the NBSP-glued one
        (8, "one"),              # 1 token
        (9, "w x y z"),          # 4 tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    gated = {r.doc_id for r in dedup._shingled(df, 3).collect()}
    truth = {
        r.doc_id
        for r in dedup._shingled(df, 3, nonempty=False)
        .filter(F.size("sh") > 0)
        .collect()
    }
    assert gated == truth == {1, 3, 7, 9}


def test_png_stdlib_real_roundtrip():
    """REAL compressed-image decode with zero third-party deps (zlib IS
    the stdlib): spec-correct PNG encode -> exact pixel recovery and
    BMP-parity quadrant features, all five scanline filter types,
    gray/RGBA color types, CRC validation."""
    import hashlib
    import struct
    import zlib

    px = bytes(
        [255, 0, 0,  0, 255, 0,
         0, 0, 255,  255, 255, 255]
    )
    payload = multimodal.encode_png_stdlib(2, 2, px)
    assert payload[:8] == b"\x89PNG\r\n\x1a\n"
    w, h, ch, raw = multimodal._png_decode_pixels(payload)
    assert (w, h, ch, bytes(raw)) == (2, 2, 3, px)  # exact pixels back
    # features identical to the BMP decoder on the same pixels
    assert multimodal.decode_png_stdlib(payload)[2] == \
        multimodal.decode_bmp_stdlib(
            multimodal.encode_bmp_stdlib(2, 2, px)
        )[2]

    # all five filter types recover the same pixels (reference-filtered
    # stream built independently of the decoder)
    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    w2, h2 = 4, 5
    rgb2 = (hashlib.md5(b"px").digest() * 4)[: w2 * h2 * 3]
    row = w2 * 3
    out, prev = bytearray(), bytearray(row)
    for y, ft in enumerate([0, 1, 2, 3, 4]):
        line = bytearray(rgb2[y * row : (y + 1) * row])
        enc = bytearray(line)
        if ft == 1:
            for i in range(row - 1, 2, -1):
                enc[i] = (line[i] - line[i - 3]) & 0xFF
        elif ft == 2:
            for i in range(row):
                enc[i] = (line[i] - prev[i]) & 0xFF
        elif ft == 3:
            for i in range(row):
                a = line[i - 3] if i >= 3 else 0
                enc[i] = (line[i] - ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:
            for i in range(row):
                a = line[i - 3] if i >= 3 else 0
                c = prev[i - 3] if i >= 3 else 0
                enc[i] = (line[i] - multimodal._paeth(a, prev[i], c)) & 0xFF
        out += bytes([ft]) + enc
        prev = line
    ihdr = struct.pack(">IIBBBBB", w2, h2, 8, 2, 0, 0, 0)
    png2 = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(out))) + chunk(b"IEND", b"")
    )
    assert bytes(multimodal._png_decode_pixels(png2)[3]) == rgb2

    # gray (ct 0) and RGBA (ct 6) decode; luma ignores alpha
    for ct, nch in ((0, 1), (6, 4)):
        raw3 = b"".join(
            b"\x00" + bytes(range(y, y + 3 * nch)) for y in range(2)
        )
        ihdr3 = struct.pack(">IIBBBBB", 3, 2, 8, ct, 0, 0, 0)
        p3 = (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr3)
            + chunk(b"IDAT", zlib.compress(raw3)) + chunk(b"IEND", b"")
        )
        w3, h3, f3 = multimodal.decode_png_stdlib(p3)
        assert (w3, h3) == (3, 2)
        assert all(0.0 <= x <= 1.0 for x in f3)

    # chunk CRC corruption raises
    bad = bytearray(payload)
    bad[30] ^= 0xFF
    try:
        multimodal._png_decode_pixels(bytes(bad))
        raise AssertionError("corrupt CRC accepted")
    except ValueError:
        pass


def test_shared_passages_stats_expose_cap(spark):
    """No-silent-caps: the stats frame must surface the stop-fp drop
    that shared_passages applies silently. Same corpus as the
    injected-overlap test: boilerplate in 6 docs > max_df=5 is
    stop-listed, so stats must report the dropped fps, the 6 affected
    docs, and the partition identity distinct = stop+singleton+live."""
    shared = " ".join(f"s{i}" for i in range(12))
    boiler = " ".join(f"b{i}" for i in range(12))
    rows = [
        (1, shared + " " + " ".join(f"x{i}" for i in range(10))),
        (2, " ".join(f"y{i}" for i in range(10)) + " " + shared),
        (3, " ".join(f"z{i}" for i in range(20))),
    ]
    rows += [(10 + i, boiler + f" tail{i}a tail{i}b tail{i}c") for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    st = text.shared_passages_stats(docs, max_df=5).first()
    assert st.n_fp_stop > 0, "cap dropped fps must be visible"
    assert st.n_docs_affected == 6
    assert st.n_fp_live > 0
    assert st.n_fp_distinct == st.n_fp_stop + st.n_fp_singleton + st.n_fp_live
    assert st.df_max == 6
    assert st.df_p50 >= 1 and st.df_p99 <= st.df_max


def test_c4_line_filter_recipe(spark):
    """C4 §2.2 semantics on constructed multi-line pages: terminal
    punctuation + >=5 words + no 'javascript' per line; 'lorem ipsum'
    or '{' or too few kept lines drop the page."""
    from teste_carga_avro_vs_json_spark.operators import corpus

    good = "this line has plenty of words and ends properly."
    rows = [
        (1, good + "\nshort line.\nno terminal punctuation here at all\n"
            "Enable JavaScript to view this page.\n" + good),
        (2, "Lorem ipsum dolor sit amet and then some more words here."),
        (3, good + "\nfunction f() { return 1; }"),
        (4, "tiny.\nalso tiny.\n"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in corpus.c4_line_filter(docs).collect()}
    assert out[1].keep and out[1].n_kept_lines == 2
    assert out[1].clean_text == good + "\n" + good
    assert out[1].n_lines == 5
    assert not out[2].keep and out[2].clean_text == ""  # lorem ipsum
    assert not out[3].keep  # curly brace page drop
    assert not out[4].keep and out[4].n_kept_lines == 0


def test_c4_line_filter_plan_is_shuffle_free(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.operators import corpus
    from teste_carga_avro_vs_json_spark.plans import audit

    out = corpus.c4_line_filter(_docs(spark, sf_dir))
    aud = audit(out)
    assert aud.exchanges == 0 and aud.cartesian == 0


def test_line_dedup_strips_boilerplate_everywhere(spark):
    """A line with corpus df > max_df disappears from EVERY doc; unique
    lines survive in original order; fully-boilerplate docs come back
    empty (not missing)."""
    from teste_carga_avro_vs_json_spark.operators import corpus

    nav = "Home | About | Contact"
    rows = [
        (1, nav + "\nunique first content line\nunique second line"),
        (2, nav + "\ndifferent content for doc two"),
        (3, nav),
        (4, "entirely original document"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in corpus.line_dedup(docs).collect()}
    assert out[1].clean_text == (
        "unique first content line\nunique second line"
    )
    assert (out[1].n_lines, out[1].n_kept) == (3, 2)
    assert out[2].clean_text == "different content for doc two"
    assert out[3].clean_text == "" and out[3].n_kept == 0
    assert out[4].clean_text == "entirely original document"
    # max_df=2 tolerates the nav appearing in <=2 docs
    out2 = {
        r.doc_id: r
        for r in corpus.line_dedup(
            spark.createDataFrame(rows[:2] + rows[3:],
                                  "doc_id long, text string"),
            max_df=2,
        ).collect()
    }
    assert out2[1].n_kept == 3 and out2[2].n_kept == 2


def test_normalize_text_canonicalizes(spark):
    """NFC composition, control stripping, whitespace collapse — the
    pre-dedup canonicalization: combining-sequence variants of the same
    string must come out byte-equal (or dedup under-recalls)."""
    composed = "café touché"
    decomposed = "café touché"
    rows = [
        (1, composed),
        (2, decomposed),
        (3, "ctrl\x07chars\x1bgone"),
        (4, "tabs\tand   runs\ncollapse  \n  trimmed"),
        (5, "plain ascii untouched"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text.normalize_text(docs).collect()}
    assert out[1].clean_text == out[2].clean_text == composed
    assert not out[1].changed and out[2].changed
    assert out[3].clean_text == "ctrlcharsgone"
    assert out[4].clean_text == "tabs and runs\ncollapse\ntrimmed"
    assert out[5].clean_text == "plain ascii untouched" and not out[5].changed


def test_blocklist_filter_gates_pages(spark):
    from teste_carga_avro_vs_json_spark.operators import corpus

    rows = [
        (1, "an ordinary document about spark plans"),
        (2, "CLICK HERE TO WIN a casino bonus today"),
        (3, "mentions xxx once in passing"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in corpus.blocklist_filter(docs).collect()}
    assert out[1].keep and out[1].n_hits == 0 and out[1].first_hit == ""
    assert not out[2].keep and out[2].n_hits == 2
    assert out[2].first_hit == "casino bonus"  # lexicographic first
    assert not out[3].keep and out[3].first_hit == "xxx"


def test_stateless_gates_compose_with_streams(spark, tmp_path):
    """c4_line_filter and blocklist_filter are pure projections, so
    they must run UNCHANGED on a streaming frame (stream == batch) —
    the ingest-gate deployment shape."""
    from teste_carga_avro_vs_json_spark.operators import corpus
    from teste_carga_avro_vs_json_spark.streaming import run_bounded

    good = "this line has plenty of words and ends properly."
    rows = [
        (1, good + "\nshort one."),
        (2, "click here to win big money now, friend."),
        (3, "Lorem ipsum dolor sit amet plus other words here."),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.write.mode("overwrite").parquet(f"{tmp_path}/in")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp_path}/in")
    )
    for op in (corpus.c4_line_filter, corpus.blocklist_filter):
        want = {tuple(r) for r in op(docs).collect()}
        got = {
            tuple(r)
            for r in run_bounded(op(stream), output_mode="append").collect()
        }
        assert got == want, op.__name__


# ------------------------------------------------------------------ FIM


def test_fim_transform_reconstruction_and_modes(spark, sf_dir):
    """FIM is a REARRANGEMENT: stripping the sentinels and restoring
    prefix+middle+suffix order must reproduce the original token
    stream exactly for every applied doc; unapplied docs are verbatim;
    the transform is partitioning-independent and oracle-equal."""
    import duckdb

    from teste_carga_avro_vs_json_spark.operators import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    out = corpus.fim_transform(docs)
    rows = {r["doc_id"]: r for r in out.collect()}
    orig = {r["doc_id"]: r["text"] for r in docs.collect()}
    n_applied = 0
    for did, r in rows.items():
        words = orig[did].split()
        if not r["fim_applied"]:
            assert r["mode"] == "none" and r["fim_text"] == orig[did]
            continue
        n_applied += 1
        t = r["fim_text"]
        if r["mode"] == "psm":
            pre_rest = t.split(corpus.FIM_PRE, 1)[1]
            prefix, rest = pre_rest.split(corpus.FIM_SUF, 1)
            suffix, middle = rest.split(corpus.FIM_MID, 1)
        else:
            suf_rest = t.split(corpus.FIM_SUF, 1)[1]
            suffix, rest = suf_rest.split(corpus.FIM_PRE, 1)
            prefix, middle = rest.split(corpus.FIM_MID, 1)
        rebuilt = (prefix.split() + middle.split() + suffix.split())
        assert rebuilt == words, did
    assert n_applied > 0

    # short docs are never transformed
    tiny = spark.createDataFrame(
        [(1, "one two"), (2, "solo"), (3, "")],
        "doc_id long, text string",
    )
    for r in corpus.fim_transform(tiny, fim_rate=1.0).collect():
        assert not r["fim_applied"] and r["mode"] == "none"

    # partitioning-independence
    a = {(r["doc_id"], r["fim_text"])
         for r in corpus.fim_transform(docs.repartition(1)).collect()}
    b = {(r["doc_id"], r["fim_text"])
         for r in corpus.fim_transform(docs.repartition(16)).collect()}
    assert a == b

    # oracle equality
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    want = {r[0]: (r[1], r[2], r[3])
            for r in con.execute(corpus.fim_transform_sql()).fetchall()}
    got = {d: (r["fim_text"], r["fim_applied"], r["mode"])
           for d, r in rows.items()}
    assert got == want


def test_chunk_documents_coverage_and_overlap(spark, sf_dir):
    """RAG chunker contract: chunk 0 starts at char 1, consecutive
    chunks overlap by exactly overlap_chars, stripping the overlap and
    concatenating reconstructs the document EXACTLY, and every doc
    (even empty/short ones) emits >= 1 chunk."""
    from teste_carga_avro_vs_json_spark.operators import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).limit(80)
    chunk, overlap = 300, 60
    stride = chunk - overlap
    out = corpus.chunk_documents(docs, chunk, overlap)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    texts = {r.doc_id: r.text for r in docs.collect()}
    assert set(by_doc) == set(texts)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        src = texts[doc_id]
        assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))
        assert all(c.n_chunks == len(chunks) for c in chunks)
        # overlap property between consecutive chunks
        for a, b in zip(chunks, chunks[1:]):
            assert a.chunk_text[stride:] == b.chunk_text[: overlap], doc_id
        # reconstruction: chunk 0 whole + stride-suffixes of the rest
        rebuilt = chunks[0].chunk_text + "".join(
            c.chunk_text[overlap:] for c in chunks[1:]
        )
        assert rebuilt == src, doc_id
        # sizes bounded
        assert all(len(c.chunk_text) <= chunk for c in chunks)


def test_pseudonymize_consistent_tokens(spark):
    """The pseudonymisation contract: the SAME literal maps to the
    SAME token across documents (joinability), different literals to
    different tokens, a key rotation re-tokenizes everything, and the
    literal itself never appears in the output."""
    from teste_carga_avro_vs_json_spark.operators import text as T

    rows = [
        (1, "mail a@x.com and again a@x.com plus 10.0.0.1"),
        (2, "other doc a@x.com tel +55-1234"),
        (3, "different b@y.org 10.0.0.1"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = T.pseudonymize(docs).collect()
    by = {(r.doc_id, r.kind): r for r in out}
    # same email in docs 1 and 2 -> same token; doc 1 counted twice
    assert by[(1, "email")].token == by[(2, "email")].token
    assert by[(1, "email")].n_occurrences == 2
    assert by[(2, "email")].n_occurrences == 1
    # different email -> different token
    assert by[(3, "email")].token != by[(1, "email")].token
    # shared IP joins across docs
    assert by[(1, "ip")].token == by[(3, "ip")].token
    # tokens are 16 lowercase hex chars, never the literal
    for r in out:
        assert len(r.token) == 16 and all(
            c in "0123456789abcdef" for c in r.token
        )
        assert "a@x.com" not in r.token
    # key rotation changes every token
    rot = {
        (r.doc_id, r.kind): r.token
        for r in T.pseudonymize(docs, key="outra-chave").collect()
    }
    assert all(rot[k] != by[k].token for k in rot)


# ------------------------------------------------- Gopher rule gate
def test_gopher_rules_each_rule_has_a_dedicated_violator(spark):
    """One constructed doc per rule, each violating EXACTLY that rule
    (Rae et al. 2021 §A1.1); a clean doc passes all seven."""
    from teste_carga_avro_vs_json_spark.operators import text as T

    base_words = (
        "the quick brown fox jumps over lazy dogs and that have "
        "with many other plain words of normal length here today "
        "more filler words keep the counter healthy and honest ok "
        "final stretch of ordinary text that reads like prose yes"
    )  # 40 words, all alphabetic, plenty of stop words
    docs = [
        (0, base_words),                                   # clean
        (1, "the doc here is way too short of words"),     # word count
        (2, " ".join(["of", "the"] + ["a"] * 38)),         # mean len < 3
        (3, base_words + " " + "#" * 1 + " #### # # ##"),  # symbols
        (4, base_words + "\n- b1\n- b2\n- b3"),            # bullets
        (5, base_words + "\nend one...\nend two..."),      # ellipses
        (6, " ".join(["the"] + ["4242"] * 39) + " of"),    # alpha share
        (7, " ".join(["plain"] * 40)),                     # stop words
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in T.gopher_rules(df, min_words=30).collect()
    }
    assert got[0]["keep"] is True
    flags = [
        "r_word_count", "r_mean_word_len", "r_symbol_ratio",
        "r_bullet_lines", "r_ellipsis_lines", "r_alpha_words",
        "r_stop_words",
    ]
    expected_broken = {
        1: "r_word_count", 2: "r_mean_word_len", 3: "r_symbol_ratio",
        4: "r_bullet_lines", 5: "r_ellipsis_lines", 6: "r_alpha_words",
        7: "r_stop_words",
    }
    for doc_id, broken in expected_broken.items():
        row = got[doc_id]
        assert row["keep"] is False
        assert row[broken] is False, (doc_id, broken)
        for other in flags:
            if other != broken:
                assert row[other] is True, (doc_id, other, row)
    # metric spot checks: exact integers, not ratios
    assert got[0]["n_words"] == 41 and got[0]["n_stop_hits"] >= 2
    assert got[4]["n_bullet_lines"] == 3 and got[4]["n_lines"] == 4
    assert got[3]["n_hash"] == 9


def test_gopher_rules_plan_is_shuffle_free(spark, sf_dir):
    from teste_carga_avro_vs_json_spark import plans
    from teste_carga_avro_vs_json_spark.operators import text as T

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = T.gopher_rules(docs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert plans.expensive_filter_nodes(df) == []


# ------------------------------------------- cluster-balanced sampling
def test_cluster_sample_quota_contracts(spark, sf_dir):
    """α-temperature quotas over k-means clusters: quota ≤ cluster
    size, kept-per-cluster == quota (or the whole cluster), α=0 gives
    uniform quotas, α<1 keeps a HIGHER fraction of smaller clusters
    (the flattening property), and the output is repartition-
    invariant."""
    import pyspark.sql.functions as F

    from teste_carga_avro_vs_json_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sizes = {
        r["cluster"]: r["n"]
        for r in S._semdedup_assigned(emb, 16, 2)
        .groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    out = S.cluster_sample(emb, alpha=0.5, budget=150).collect()
    by_c = {}
    for r in out:
        by_c.setdefault(r.cluster, []).append(r)
    for c, rows in by_c.items():
        quota = rows[0].grp_quota
        assert quota <= sizes[c]
        assert len(rows) == min(quota, sizes[c])
        assert sorted(r.grp_rank for r in rows) == list(
            range(1, len(rows) + 1)
        )
    # flattening: keep fraction never increases with cluster size
    fracs = sorted(
        (sizes[c], len(rows) / sizes[c]) for c, rows in by_c.items()
    )
    small_avg = sum(f for _, f in fracs[:4]) / 4
    big_avg = sum(f for _, f in fracs[-4:]) / 4
    assert small_avg >= big_avg

    # α = 0: every cluster gets the same quota (budget DIV k, capped)
    out0 = S.cluster_sample(emb, alpha=0.0, budget=32).collect()
    quotas0 = {r.cluster: r.grp_quota for r in out0}
    assert set(quotas0.values()) <= {min(32 // len(sizes), max(sizes.values())), *[
        min(32 // len(sizes), sizes[c]) for c in quotas0
    ]}

    # deterministic under repartitioning
    again = S.cluster_sample(emb.repartition(13), alpha=0.5, budget=150)
    assert sorted(
        (r.vec_id, r.cluster, r.grp_rank) for r in again.collect()
    ) == sorted((r.vec_id, r.cluster, r.grp_rank) for r in out)


# --------------------------------------------- sentence-aware chunking
def test_chunk_sentences_contracts(spark):
    """Sentences never split, chunks reconstruct the normalized doc
    exactly, boundaries follow the prefix-sum rule, no-sentence docs
    emit one empty chunk, and the output is repartition-invariant."""
    import pyspark.sql.functions as F

    from teste_carga_avro_vs_json_spark.operators import corpus as C

    s1 = "First sentence here."
    s2 = "Second one is a bit longer than the first!"
    s3 = "Third?"
    s4 = "Fourth closes the document."
    docs = spark.createDataFrame(
        [
            (0, f"{s1} {s2} {s3} {s4}"),
            (1, "no terminators at all just words"),
            (2, ""),
            (3, "..."),  # terminators only -> no non-empty sentence?
            # space-only: every sentence trims empty (trim strips ' '
            # only in BOTH engines — a tab would survive as a sentence)
            (4, "      "),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.doc_id, r.chunk_idx): r
        for r in C.chunk_sentences(docs, chunk_chars=40).collect()
    }
    # doc 0: cum sums 0,20,63,69 -> chunks 0,0,1,1 at C=40
    c00, c01 = out[(0, 0)], out[(0, 1)]
    assert c00.chunk_text == f"{s1} {s2}" and c00.n_sentences == 2
    assert c01.chunk_text == f"{s3} {s4}" and c01.n_sentences == 2
    assert c00.n_chunks == 2
    # reconstruction: joined chunks == normalized sentence join
    joined = " ".join(
        out[(0, i)].chunk_text for i in range(c00.n_chunks)
    )
    assert joined == f"{s1} {s2} {s3} {s4}"
    # doc 1: one sentence, never split even though longer than C=40?
    assert out[(1, 0)].n_sentences == 1
    assert out[(1, 0)].chunk_text == "no terminators at all just words"
    # empty doc and terminator-only doc: one auditable chunk each
    assert out[(2, 0)].n_sentences == 0 and out[(2, 0)].chunk_text == ""
    assert (3, 0) in out and out[(3, 0)].n_chunks == 1
    # space-only doc: sentences all trim empty, yet the doc still
    # appears (r11 fix — previously vanished while the oracle's LEFT
    # JOIN kept it)
    assert out[(4, 0)].n_sentences == 0 and out[(4, 0)].chunk_text == ""
    assert out[(4, 0)].n_chunks == 1
    # repartition-invariance
    again = {
        (r.doc_id, r.chunk_idx): r.chunk_text
        for r in C.chunk_sentences(
            docs.repartition(7), chunk_chars=40
        ).collect()
    }
    assert again == {k: v.chunk_text for k, v in out.items()}


def test_gopher_rules_applies_to_streams(spark, sf_dir, tmp_path):
    """gopher_rules is a stateless projection, so it runs unchanged on
    a readStream frame — stream == batch exactly (the streaming-twin
    convention for every gate)."""
    from teste_carga_avro_vs_json_spark.operators import text as T

    src = str(tmp_path / "src")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    docs.write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        T.gopher_rules(stream, min_words=40)
        .writeStream.format("memory")
        .queryName("gopher_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from gopher_stream")
    want = T.gopher_rules(docs, min_words=40)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() == want.count() > 0
