"""IVF-PQ ANN (operators/similarity.py, r12): product-quantized
candidate scoring with an exact-integer asymmetric distance and an
IVFADC-R refine stage (Jégou, Douze, Schmid 2011).

Pins: Spark == DuckDB oracle exactly (the codebook CTE replay), the
numpy encode twin is bit-identical to the expression form, recall@10
against brute-force exact L2 (deterministic, so pinned at the measured
value), and the scale contract — raw vectors never ride the candidate
join, refine fetches ids-first via broadcast."""

import re

import numpy as np
import pyspark.sql.functions as F
import pytest

from teste_carga_avro_vs_json_spark.operators import similarity
from teste_carga_avro_vs_json_spark.plans import (
    audit,
    compact_plan,
    expensive_filter_nodes,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _exact_top10(emb):
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    M = np.array([r.embedding for r in rows], dtype=np.float64)
    out = {}
    for qi in np.where(ids % 50 == 0)[0]:
        d = ((M - M[qi]) ** 2).sum(axis=1)
        order = [
            ids[j] for j in np.argsort(d, kind="stable") if ids[j] != ids[qi]
        ]
        out[ids[qi]] = set(order[:10])
    return out


def test_ivf_pq_matches_duckdb_oracle(spark, emb, sf_dir):
    import duckdb

    got = [
        (r.query_id, r.vec_id, r.dist, r.rank)
        for r in similarity.ivf_pq_topk(emb, n_centroids=16).orderBy("query_id", "rank").collect()
    ]
    d = duckdb.connect()
    d.execute(
        "CREATE VIEW embeddings AS "
        f"SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    want = [
        tuple(r)
        for r in d.execute(
            similarity.ivf_pq_topk_sql() + " ORDER BY query_id, rank"
        ).fetchall()
    ]
    assert got == want


def test_pq_encode_np_bit_identical(spark, emb):
    books = similarity.pq_codebooks(emb, m=8, ksub=16, iters=2)
    v = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    expr = {
        r.vec_id: r.codes
        for r in similarity.pq_encode(v, books).select("vec_id", "codes").collect()
    }
    vec = {
        r.vec_id: r.codes
        for r in similarity.pq_encode(v, books, vectorized=True)
        .select("vec_id", "codes")
        .collect()
    }
    assert expr == vec
    # every code addresses a real codeword
    for codes in expr.values():
        assert len(codes) == 8
        for j, c in enumerate(codes):
            assert c in {i for i, _ in books[j]}


def test_ivf_pq_recall_vs_exact(spark, emb):
    """Deterministic end to end, so the measured recall IS the pin:
    ADC-only (refine=None) ranks by 4-bit-per-subspace codes alone —
    lossy (0.25 here) — and the IVFADC-R refine stage recovers almost
    the whole IVF probe ceiling (0.59 vs 0.61 for exact-distance IVF
    with the same probe set)."""
    exact = _exact_top10(emb)

    def recall(df):
        by_q = {}
        for r in df.collect():
            by_q.setdefault(r.query_id, set()).add(r.vec_id)
        recs = [len(exact[q] & by_q.get(q, set())) / 10 for q in exact]
        return sum(recs) / len(recs)

    r_adc = recall(similarity.ivf_pq_topk(emb, n_centroids=16, refine=None))
    r_ref = recall(similarity.ivf_pq_topk(emb, n_centroids=16))
    r_ivf = recall(similarity.ivf_topk(emb))
    assert r_ref >= r_adc
    assert r_adc >= 0.25
    assert r_ref >= 0.59
    # refine can never beat the probe ceiling (same candidate pool)
    assert r_ref <= r_ivf + 1e-9


def test_ivf_pq_plan_carries_codes_not_vectors(spark, emb):
    """The scale pin: the candidate (cluster) join and the ADC dedup
    aggregate move PQ codes, never the 64-double vector; the refine
    fetch broadcasts the tiny shortlist into the corpus scan
    (ids-first); no cartesian, no Python, no expensive filter."""
    out = similarity.ivf_pq_topk(emb, n_centroids=16)
    plan = compact_plan(out)
    aud = audit(out)
    assert aud.cartesian == 0 and aud.bnl_joins == 0
    assert "EvalPython" not in plan
    assert expensive_filter_nodes(out) == []
    # r14: the pair-dedup exchange is GONE by proof, not by accident —
    # one cluster per corpus row × distinct probed clusters per query
    # means the equi-join emits each (query_id, vec_id) at most once
    # (value-pinned by test_ivf_pq_candidates_unique), so no
    # HashAggregate keyed on the pair may reappear between scoring and
    # the rank window.
    assert not any(
        "HashAggregate(keys=[query_id" in ln for ln in plan.splitlines()
    ), "pair-dedup aggregate reappeared (one avoidable exchange)"
    # refine + candidate joins are all broadcast (shortlist/query side
    # tiny); corpus is never the build side of an estimated broadcast
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    # r13 O(m) pin: candidate scoring is LUT element_at lookups — no
    # zip_with fold ever CONSUMES the codes column (subscript access
    # `codes#N[j]`); the r12 form had zip_with(slice(qvec...),
    # element_at(<codebook literal>, codes#N[j] + 1)) per candidate
    # row (O(d) per candidate, VERDICT r12 #1). NB: a collapsed
    # corpus-side Project line legitimately holds both a zip_with
    # (cluster assignment) and the `AS codes#N` output alias — the
    # pin keys on codes being an INPUT to a fold, not on co-location.
    for ln in plan.splitlines():
        if "zip_with" in ln and re.search(r"codes#\d+\[", ln):
            raise AssertionError(f"per-candidate O(d) fold: {ln}")
    assert any(
        "element_at" in ln and re.search(r"codes#\d+\[", ln)
        for ln in plan.splitlines()
    ), "LUT lookup scoring not found in plan"


def test_ivf_pq_candidates_unique(spark, emb):
    """The r14 justification for dropping the pair-dedup exchange: the
    UN-deduplicated ADC-scored candidate stream (refine=None with an
    unbounded k exposes every candidate row) contains each
    (query_id, vec_id) pair exactly once — one cluster per corpus row,
    distinct probed clusters per query. If an algorithm change ever
    reintroduces multi-assignment, this fails before the oracle does."""
    out = similarity.ivf_pq_topk(
        emb, n_centroids=16, refine=None, k=1 << 30
    )
    dup = (
        out.groupBy("query_id", "vec_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0


def test_duplicated_vec_id_repeats_in_the_top_k(spark, emb):
    """What the unchecked ``vec_id``-uniqueness precondition of
    ivf_topk / ivf_pq_topk does when broken: a corpus id stored twice
    comes back as repeated (query_id, vec_id) pairs at consecutive
    ranks, pushing true neighbours out of the top k. ivf_topk emits the
    pair once per copy (2); ivf_pq_topk twice more, because the refine
    fetch joins the shortlisted id back onto both copies (2 x 2)."""
    for topk, copies in ((similarity.ivf_topk, 2),
                         (lambda e: similarity.ivf_pq_topk(e, n_centroids=16), 4)):
        clean = topk(emb).collect()
        # a non-query id that is some query's nearest neighbour
        q, dup = min((r.query_id, r.vec_id) for r in clean
                     if r["rank"] == 1 and r.vec_id % 50 != 0)
        twice = emb.unionByName(emb.filter(F.col("vec_id") == dup))
        got = [r.vec_id for r in
               topk(twice).filter(F.col("query_id") == q).orderBy("rank").collect()]
        assert len(got) == 10
        assert got[:copies] == [dup] * copies and dup not in got[copies:]
        if copies == 2:
            want = [r.vec_id for r in sorted(
                (r for r in clean if r.query_id == q), key=lambda r: r["rank"])]
            assert got[copies:] == want[1:-1]


def test_ivf_pq_code_size_is_d_over_8(spark, emb, tmp_path):
    """The PQ memory claim, measured: the (vec_id, cluster, codes)
    frame written to parquet is a fraction of the raw-vector frame —
    codes are m=8 small ints (d/8 logical bytes/vector at d=64 when
    packed; parquet RLE gets close)."""
    import os

    books = similarity.pq_codebooks(emb, m=8, ksub=16, iters=2)
    v = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    coded = similarity.pq_encode(v, books).select(
        "vec_id", F.col("codes").cast("array<tinyint>").alias("codes")
    )
    raw_dir, pq_dir = str(tmp_path / "raw"), str(tmp_path / "pq")
    emb.select("vec_id", "embedding").coalesce(1).write.parquet(raw_dir)
    coded.coalesce(1).write.parquet(pq_dir)

    def psize(d):
        return sum(
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d) if f.endswith(".parquet")
        )

    raw_b, pq_b = psize(raw_dir), psize(pq_dir)
    n = emb.count()
    # raw float32[64] ≈ 256 B/vector payload; codes ≈ 8 B/vector
    assert pq_b < raw_b / 4, (raw_b, pq_b, n)


def test_multi_kmeans_fused_equals_sequential(spark, emb):
    """r13-opt pin: the FUSED multi-space k-means (one shared sample +
    one job per Lloyd iteration for every space) is bit-identical to
    the sequential reference — ivf_centroids run per sliced frame —
    for the exact space layout ivf_pq_topk trains (1 coarse + m
    subspaces)."""
    dim = len(emb.select("embedding").first()[0])
    m, ksub, dsub = 8, 16, dim // 8
    spaces = [(16, 0, None)] + [(ksub, j * dsub, dsub) for j in range(m)]
    fused = similarity.multi_kmeans(emb, spaces, iters=2)
    seq = [similarity.ivf_centroids(emb, 16, 2)]
    for j in range(m):
        sub = emb.select(
            "vec_id",
            F.slice(
                F.col("embedding").cast("array<double>"),
                j * dsub + 1,
                dsub,
            ).alias("embedding"),
        )
        seq.append(similarity.ivf_centroids(sub, ksub, 2))
    assert fused == seq


@pytest.mark.parametrize(
    "space, vec_expr",
    [
        ((6, 0, None), "embedding::DOUBLE[]"),
        ((16, 8, 8), "(embedding::DOUBLE[])[9:16]"),
    ],
    ids=["full_k6", "pq_subspace_k16"],
)
def test_multi_kmeans_equals_duckdb_lloyd_replay(
    spark, emb, emb_nulls, sf_dir, space, vec_expr
):
    """The Lloyd loop's centroids equal the final-centroid CTE of the
    DuckDB replay (_kmeans_assign_ctes) that grades q_ivf_pq_topk,
    q_semantic_dedup and q_cluster_sample — for a full-vector space and
    for a PQ subspace slice (elements 9-16), on the fixture corpus and
    on the corpus with the two null-embedding rows of ``emb_nulls``."""
    import duckdb

    k = space[0]
    ctes, cfin = similarity._kmeans_assign_ctes(
        "embeddings", k, 2, vec_expr=vec_expr
    )
    lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).first()
    base = f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet'"
    for frame, view in [
        (emb, base),
        (
            emb_nulls,
            f"{base} UNION ALL SELECT * FROM (VALUES "
            f"({lo - 1}, NULL), ({hi + 1}, NULL)) t(vec_id, embedding)",
        ),
    ]:
        got = similarity.multi_kmeans(frame, [space], iters=2)[0]
        d = duckdb.connect()
        d.execute(f"CREATE VIEW embeddings AS {view}")
        want = [
            (c, list(v))
            for c, v in d.execute(
                f"WITH {', '.join(ctes)} SELECT cluster, cvec FROM {cfin} "
                "ORDER BY cluster"
            ).fetchall()
        ]
        assert len(got) == k
        assert got == want


@pytest.fixture(scope="module")
def emb_nulls(spark, emb):
    """The fixture corpus plus null-embedding rows at the lowest and the
    highest vec_id."""
    lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).first()
    nulls = spark.createDataFrame(
        [(lo - 1, None), (hi + 1, None)], emb.select("vec_id", "embedding").schema
    )
    return emb.select("vec_id", "embedding").unionByName(nulls)


def test_null_embedding_assigns_like_the_expression(spark, emb, emb_nulls):
    """A null vector gets the first centroid id on the numpy paths, as
    `_nearest` gives it (every distance is null, array_min breaks the
    tie by the lowest index) — row for row, nulls included."""
    cents = similarity.ivf_centroids(emb, n_centroids=8, iters=1)
    books = similarity.pq_codebooks(emb, m=8, ksub=16, iters=1)
    v = emb_nulls.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    expr = {
        r.vec_id: (r.cluster, r.codes)
        for r in similarity.pq_encode(
            v.withColumn("cluster", similarity._nearest("vec", cents)),
            books,
        ).collect()
    }
    vec = {
        r.vec_id: (r.cluster, r.codes)
        for r in similarity.pq_encode(
            similarity.assign_np(v, cents), books, vectorized=True
        ).collect()
    }
    assert len(vec) == 502
    assert vec == expr
    lo = min(vec)
    assert vec[lo] == (cents[0][0], [cb[0][0] for cb in books])


def test_null_embedding_adds_nothing_to_kmeans(spark, emb, emb_nulls):
    """Null rows neither seed nor move a centroid: training on the frame
    with null rows equals training without them."""
    spaces = [(6, 0, None), (16, 8, 8)]
    assert similarity.multi_kmeans(emb_nulls, spaces, iters=2) == (
        similarity.multi_kmeans(emb, spaces, iters=2)
    )


@pytest.mark.parametrize(
    "train",
    [
        lambda e: similarity.ivf_centroids(e, n_centroids=2, iters=1),
        lambda e: similarity.multi_kmeans(e, [(2, 0, None)], iters=1),
    ],
    ids=["ivf_centroids", "multi_kmeans"],
)
def test_kmeans_unpersists_training_frame_when_a_job_fails(spark, train):
    """A training job that fails leaves nothing in the session's cache
    for the rest of the session."""
    spark.catalog.clearCache()
    failing = spark.range(8).select(
        F.col("id").alias("vec_id"),
        F.when(F.col("id") >= 0, F.raise_error(F.lit("boom")))
        .otherwise(F.array(F.lit(1.0)))
        .alias("embedding"),
    )
    with pytest.raises(Exception, match="boom"):
        train(failing)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize(
    "train",
    [
        lambda e: similarity.ivf_centroids(e, n_centroids=0),
        lambda e: similarity.multi_kmeans(e, [(4, 0, None), (0, 0, 4)]),
        lambda e: similarity.ivf_pq_topk(e, n_centroids=4, m=2, ksub=0),
    ],
    ids=["ivf_centroids", "multi_kmeans", "ivf_pq_topk"],
)
def test_kmeans_rejects_empty_space_on_driver(spark, jobs_run, train):
    """k < 1 in any space is a driver-side ValueError raised before any
    job runs, not an IndexError inside the executor UDF."""
    spark.catalog.clearCache()
    tiny = spark.createDataFrame(
        [(i, [float(i + j) for j in range(8)]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )

    def train_tiny():
        with pytest.raises(ValueError, match="at least one centroid|>= 1"):
            train(tiny)

    assert jobs_run(train_tiny) == 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
