"""Similarity search over embedding columns (SURVEY.md §2.3).

Two tiers:

- **Brute-force cosine top-k** (baseline, oracle-checked): a
  deterministic query sample broadcast against the corpus; dot products
  as JVM higher-order functions (``zip_with`` + ``aggregate`` —
  sequential left-to-right fold, so DuckDB reproduces the exact IEEE-754
  bits). Correct at any scale where #queries is small: the corpus side
  never shuffles, each task scans its partition once.
- **LSH-bucketed ANN** (the 100 TB path): random-hyperplane signatures
  bucket the corpus; candidates only form within a bucket. Join cost is
  O(rows · buckets_per_row), not O(rows²). Signatures are deterministic
  (hex32-seeded hyperplanes) so results are reproducible; recall vs the
  brute-force baseline is asserted in pytest.

Embeddings are ``array<float>``; both engines cast to double *before*
any arithmetic so products/sums are identical IEEE-754 op sequences.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

# Module-level so pandas_udf type-hint inference can resolve the
# 'pd.Series' string annotations (PEP 563 via `from __future__ import
# annotations` defers them; locals inside the factory are invisible).
import pandas as pd

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql.window import Window


def _dlit(x: float) -> str:
    """Exact SQL double literal: ``repr`` emits the shortest decimal
    that round-trips to the same float64, Java's ``parseDouble`` is
    correctly rounded, and the ``D`` suffix keeps Spark's parser off
    the DECIMAL type — verified bit-exact incl. denormals/-0.0."""
    return repr(float(x)) + "D"


def _mat_sx(mat: list[list[float]]) -> str:
    """Nested double-array literal as ONE ``from_json`` over a JSON
    string of ``repr``-printed doubles. ``F.lit`` converts
    element-by-element over py4j, and an ``array(array(…))`` of SQL
    decimal literals is slow to parse: Spark's SQL lexer re-simulates
    every decimal token (the 45×64 matrix ``ivf_pq_topk`` builds at
    2,000 vectors took 0.33-0.69 s warm and 1.3-2.0 s cold, 4 vCPUs,
    Spark 4.1.2), where one string token parses in 0.02-0.05 s. ``repr``
    is the shortest decimal that round-trips to the same float64 and the
    JSON parser rounds correctly, so the values are bit-identical and
    every k-means/ANN oracle is unchanged; the call folds to a constant
    at optimization."""
    body = ",".join(
        "[" + ",".join(repr(float(x)) for x in row) + "]" for row in mat
    )
    return f"from_json('[{body}]', 'array<array<double>>')"


def _ints_sx(xs: list[int]) -> str:
    return "array(" + ",".join(str(int(x)) for x in xs) + ")"


# The vector folds below are parsed SQL fragments (the ``_sx``
# discipline of text.tokens_sx): one ``F.expr`` parse instead of one
# py4j round trip per Column node and lambda. Each is the same
# left-to-right IEEE-754 fold the DuckDB twins replay (``_dot_sql``,
# ``_l2_sql``), with ``_``-prefixed lambda names that no column shadows.
def _dot_sx(a: str, b: str) -> str:
    """Sequential-fold dot product (left-to-right, double)."""
    return (
        f"aggregate(zip_with({a}, {b}, (_x, _y) -> _x * _y), 0.0D, "
        "(_acc, _e) -> _acc + _e)"
    )


def _l2_sx(a: str, b: str) -> str:
    """Sequential-fold squared L2 distance (left-to-right, double)."""
    return (
        f"aggregate(zip_with({a}, {b}, (_x, _y) -> (_x - _y) * (_x - _y)), "
        "0.0D, (_acc, _e) -> _acc + _e)"
    )


def _q9_sx(x: str) -> str:
    """A distance quantized to an exact long at 1e-9."""
    return f"CAST(floor({x} * 1.0E9D + 0.5D) AS BIGINT)"


def _cosine_sx(a: str, b: str) -> str:
    """Cosine similarity, DEFINED AS 0.0 when either vector has zero
    norm. The naive dot/(|a|·|b|) raises DIVIDE_BY_ZERO under Spark 4's
    default ANSI mode the moment a 100 TB corpus contains one zero
    embedding (r5 ADVICE; the conditional keeps the division in the
    guarded branch, which Spark's CASE evaluates lazily per row), and
    the 0.0 convention is portable: no NaN-vs-NULL ordering divergence
    between Spark, DuckDB, and the numpy fast path."""
    denom = f"(sqrt({_dot_sx(a, a)}) * sqrt({_dot_sx(b, b)}))"
    return (
        f"CASE WHEN {denom} != 0.0D THEN {_dot_sx(a, b)} / {denom} "
        "ELSE 0.0D END"
    )


def _cos_sim(a: str, b: str) -> Column:
    """:func:`_cosine_sx` rounded to 9 dp, the form every top-k ranks by."""
    return F.expr(f"round({_cosine_sx(a, b)}, 9)")


_DOT_SQL = (
    "list_aggregate(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]), 'sum')"
)


def _dot_sql(a: str, b: str) -> str:
    return _DOT_SQL.format(a=a, b=b)


def _cosine_sql(a: str, b: str) -> str:
    # zero-norm convention mirrors :func:`_cosine_sx`: CASE keeps DuckDB's
    # IEEE 0/0 -> NaN out of the hash comparison
    denom = f"(sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)}))"
    return (
        f"(CASE WHEN {denom} = 0 THEN 0.0 "
        f"ELSE {_dot_sql(a, b)} / {denom} END)"
    )


# ------------------------------------------------------ brute-force top-k
def cosine_topk(
    emb: DataFrame, k: int = 10, query_modulus: int = 50
) -> DataFrame:
    """Exact top-k cosine neighbors for the deterministic query sample
    (vec_id % query_modulus == 0), excluding self.

    Plan: tiny query side is broadcast; the corpus scan computes
    #queries dot products per row (pure JVM) and a per-query top-k
    window. The window shuffles only (corpus × queries) score rows,
    and AQE coalesces. Ranking ties break on vec_id for determinism.
    """
    v = emb.select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("vec")
    )
    q = v.filter(F.col("vec_id") % query_modulus == 0).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    scored = v.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "vec_id",
        _cos_sim("qvec", "vec").alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


def cosine_topk_sql(
    table: str = "embeddings", k: int = 10, query_modulus: int = 50
) -> str:
    cos = _cosine_sql("q.qvec", "v.vec")
    return f"""
        WITH v AS (
            SELECT vec_id, embedding::DOUBLE[] AS vec FROM {table}
        ),
        q AS (
            SELECT vec_id AS query_id, vec AS qvec FROM v
            WHERE vec_id % {query_modulus} = 0
        ),
        scored AS (
            SELECT q.query_id, v.vec_id, ROUND({cos}, 9) AS cos_sim
            FROM v JOIN q ON v.vec_id <> q.query_id
        ),
        ranked AS (
            SELECT query_id, vec_id, cos_sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY cos_sim DESC, vec_id ASC
                   )::INT AS rank
            FROM scored
        )
        SELECT query_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= {k}
    """


def cosine_topk_scale(
    emb: DataFrame, k: int = 10, query_modulus: int = 50, salt_buckets: int = 16
) -> DataFrame:
    """Two-phase exact top-k: identical results to :func:`cosine_topk`,
    different reducer shape for the 100 TB corpus.

    The plain version's window funnels EVERY corpus score for a query
    through one reducer — a per-query hot key when the corpus is huge.
    Phase 1 ranks within (query, salt) so each query's scores spread
    over ``salt_buckets`` reducers and only k survivors per bucket move
    on; phase 2 ranks the k x salt_buckets survivors per query — tiny.
    Deterministic salt (xxhash64 of vec_id) keeps results reproducible.
    """
    v = emb.select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("vec")
    )
    q = v.filter(F.col("vec_id") % query_modulus == 0).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    scored = v.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "vec_id",
        _cos_sim("qvec", "vec").alias("cos_sim"),
        F.pmod(F.xxhash64("vec_id"), F.lit(salt_buckets)).alias("_salt"),
    )
    w1 = Window.partitionBy("query_id", "_salt").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    survivors = (
        scored.withColumn("_r", F.row_number().over(w1))
        .filter(F.col("_r") <= k)
        .drop("_r", "_salt")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        survivors.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


def cosine_topk_np(
    emb: DataFrame, k: int = 10, query_modulus: int = 50
) -> DataFrame:
    """Vectorized twin of :func:`cosine_topk`: ALL #queries cosines per
    Arrow batch as ONE numpy matmul — the dense-linear-algebra case
    where the HOF formulation loses badly (it folds 3 × dim
    zip_with/aggregate steps PER (row, query) pair; the matmul does the
    whole batch × query block in BLAS). Same rounding (9 dp), same
    tie-break, same output contract; pytest pins exact result equality
    with the HOF path on the fixture corpus (after 9-dp rounding the
    pairwise-vs-sequential summation difference is far below the
    quantum except knife-edge ties, which the fixture would expose
    deterministically).

    The query block is collected to the driver — bounded by the same
    small-query contract that lets :func:`cosine_topk` broadcast it
    (identical bytes moved; they land in a UDF closure instead of a
    broadcast variable). The corpus never moves: one scan computing
    scores, then the same per-query top-k window.
    """
    import numpy as np

    v = emb.select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("vec")
    )
    qrows = (
        v.filter(F.col("vec_id") % query_modulus == 0).orderBy("vec_id").collect()
    )
    if not qrows:  # empty query sample: same empty frame the HOF path yields
        return v.sparkSession.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("query_id", v.schema["vec_id"].dataType),
                    T.StructField("vec_id", v.schema["vec_id"].dataType),
                    T.StructField("cos_sim", T.DoubleType()),
                    T.StructField("rank", T.IntegerType(), nullable=False),
                ]
            ),
        )
    qids = [int(r.vec_id) for r in qrows]
    Q = np.array([r.vec for r in qrows], dtype=np.float64)  # (m, dim)
    # zero-norm -> norm 1 so the zero vector scores 0.0 against
    # everything — the same convention :func:`_cosine_sx` and the oracle
    # CASE implement (r5 ADVICE unified all three paths)
    qn = np.linalg.norm(Q, axis=1)
    qn[qn == 0.0] = 1.0
    Qn = (Q / qn[:, None]).T  # (dim, m)
    dim = Q.shape[1]

    def _score_mat(M: "np.ndarray") -> "np.ndarray":
        vn = np.linalg.norm(M, axis=1)
        vn[vn == 0.0] = 1.0
        return np.round((M / vn[:, None]) @ Qn, 9)  # (n, m)

    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.types import ArrayType, DoubleType

    @arrow_udf(ArrayType(DoubleType()))
    def _scores(col):
        arr = (
            col.combine_chunks()
            if isinstance(col, pa.ChunkedArray)
            else col
        )
        flat = arr.flatten().to_numpy(zero_copy_only=False)
        s = _score_mat(flat.reshape(len(arr), dim))
        offsets = pa.array(
            np.arange(0, (len(arr) + 1) * len(qids), len(qids), dtype=np.int32)
        )
        return pa.ListArray.from_arrays(offsets, pa.array(s.ravel()))

    # ONE parsed bigint-array literal (r14; the unrolled F.lit form cost
    # ~2 py4j round trips per query id — see _mat_sx). F.lit(int) maps
    # to LongType, so the parsed twin needs the L suffix to match.
    qid_arr = F.expr(
        "array(" + ",".join(f"{int(q)}L" for q in qids) + ")"
    )
    scored = (
        v.select("vec_id", F.posexplode(_scores(F.col("vec"))))
        .withColumnRenamed("col", "cos_sim")
        .withColumn("query_id", F.element_at(qid_arr, F.col("pos") + 1))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


# ------------------------------------------------------ embedding near-dup
def embedding_neardup(
    emb: DataFrame, threshold: float = 0.3, modulus: int = 10
) -> DataFrame:
    """Near-duplicate pairs by cosine over a deterministic sample
    (oracle fixture; the production path is :func:`lsh_ann` buckets +
    this verification on candidates only)."""
    v = emb.filter(F.col("vec_id") % modulus == 0).select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("vec")
    )
    a = v.select(F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"))
    b = v.select(F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"))
    return (
        a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            _cos_sim("va", "vb").alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def embedding_neardup_sql(
    table: str = "embeddings", threshold: float = 0.3, modulus: int = 10
) -> str:
    cos = _cosine_sql("a.va", "b.vb")
    return f"""
        WITH v AS (
            SELECT vec_id, embedding::DOUBLE[] AS vec FROM {table}
            WHERE vec_id % {modulus} = 0
        ),
        a AS (SELECT vec_id AS vec_a, vec AS va FROM v),
        b AS (SELECT vec_id AS vec_b, vec AS vb FROM v),
        pairs AS (
            SELECT vec_a, vec_b, ROUND({cos}, 9) AS cos_sim
            FROM a JOIN b ON vec_a < vec_b
        )
        SELECT vec_a, vec_b, cos_sim FROM pairs WHERE cos_sim >= {threshold}
    """


# ----------------------------------------------------------- IVF ANN path
def _argmin_kernel(
    resolved: list[tuple[int, int, int | None]],
    all_cents: list[list[tuple[int, list[float]]]],
):
    """The one numpy argmin kernel behind :func:`assign_np`,
    :func:`_assign_multi` and :func:`_update_sums_np`. ``resolved`` =
    [(k, start0, length)] per space (``length=None``: to the end of the
    vector), ``all_cents`` the centroids of each space. Returns
    ``(chunks, ids)``: ``chunks(vals)`` walks an object array of vectors
    and yields ``(rows, M, loc)`` per chunk — ``rows`` the positions of
    the non-null vectors, ``M`` those vectors stacked as float64, ``loc``
    (rows × spaces) the argmin POSITION in each centroid list, so
    ``ids[s][loc[:, s]]`` are the centroid ids.

    The distances are BIT-IDENTICAL to the :func:`_nearest` expression
    fold: per-dim squared differences accumulated by ``cumsum`` along
    the dim axis — cumsum is exactly the fold's left-to-right add order
    (and 0.0 + x0 == x0) — and ``argmin`` picks the first minimum
    exactly like ``array_min`` over (dist, idx) structs. A null vector
    is skipped: callers give it the first centroid id (what
    ``_nearest`` returns when every distance is null) and no sums.
    Chunks keep the (chunk × k × d) intermediate ~tens of MB whatever
    the Arrow batch size; results do not depend on the chunking.

    ``chunks`` is a closure, so cloudpickle ships it by value and the
    Python workers never import the package."""
    import numpy as np

    Cs = [
        np.asarray([c for _, c in cents], dtype=np.float64)
        for cents in all_cents
    ]
    ids = [np.asarray([i for i, _ in cents], dtype=np.int64) for cents in all_cents]
    cuts = [
        slice(start, None if length is None else start + length)
        for _k, start, length in resolved
    ]
    chunk = max(1, 32 * 1024 * 1024 // max(1, 8 * max(C.size for C in Cs)))

    def chunks(vals):
        for lo in range(0, len(vals), chunk):
            rows = lo + np.flatnonzero([x is not None for x in vals[lo : lo + chunk]])
            M = np.asarray([np.asarray(vals[i], dtype=np.float64) for i in rows])
            if M.size == 0:
                continue
            loc = np.empty((len(rows), len(Cs)), dtype=np.int64)
            for s, cut in enumerate(cuts):
                diffs = (M[:, None, cut] - Cs[s][None, :, :]) ** 2
                loc[:, s] = diffs.cumsum(axis=2)[:, :, -1].argmin(axis=1)
            yield rows, M, loc

    return chunks, ids


def assign_np(
    v: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "vec",
    out_col: str = "cluster",
) -> DataFrame:
    """Vectorized centroid assignment, BIT-IDENTICAL to
    ``withColumn(out_col, _nearest(vec, centroids))``, null vectors
    included (see :func:`_argmin_kernel`).

    The expression form evaluates an interpreted HOF fold per (row,
    centroid) — O(n·k·d) interpreter steps, which dies as the centroid
    count grows with the corpus (measured: 100 s for 60k vecs × 60
    centroids at 30× stress, vs ~1 s here). The bit-identity (pytest
    pins it) is what lets the scale paths use this while the DuckDB
    oracles keep replaying the expression semantics."""
    import numpy as np

    if not centroids:
        raise ValueError("assign_np requires at least one centroid")
    chunks, ids = _argmin_kernel([(len(centroids), 0, None)], [centroids])

    @F.pandas_udf(T.IntegerType())
    def nearest(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for batch in batches:
            vals = batch.to_numpy()
            out = np.full(len(vals), ids[0][0], dtype=np.int32)
            for rows, _M, loc in chunks(vals):
                out[rows] = ids[0][loc[:, 0]]
            yield pd.Series(out)

    return v.withColumn(out_col, nearest(F.col(vec_col)))


#: Init oversampling: the k-means seeds are the first ``n_centroids``
#: DISTINCT vectors among the ``INIT_OVERSAMPLE × n_centroids``
#: lowest-vec_id rows. Plain lowest-ids init collapses on
#: duplicate-heavy corpora (exactly what a dedup operator sees): at 30×
#: replica stress it seeded only 2 distinct positions, every vector
#: landed in 2 mega-clusters, and the per-cluster pair cost went
#: quadratic (measured 100 s → 3 s with dedup'd init).
INIT_OVERSAMPLE = 64


def ivf_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
) -> list[tuple[int, list[float]]]:
    """Coarse quantizer: the deterministic k-means of
    :func:`multi_kmeans` over the whole vector (init = the first
    ``n_centroids`` distinct lowest-vec_id vectors, ``iters`` Lloyd
    steps, quantized-exact means)."""
    return multi_kmeans(emb, [(n_centroids, 0, None)], iters)[0]


def _scored_sx(vec: str, centroids: list[tuple[int, list[float]]]) -> str:
    """array<struct<dist,idx>> of squared-L2 distances to every
    centroid — the shared body of :func:`_nearest` and the probe lists
    of :func:`ivf_topk`/:func:`ivf_pq_topk`. The centroid matrix enters
    the plan as ONE literal and the per-centroid folds run inside a
    single zip_with: each fold is the same left-to-right IEEE-754
    sequence as the per-centroid unrolled form (values bit-identical),
    but construction is one parse instead of O(k·d) py4j round trips,
    and the compact tree codegens smaller."""
    cmat = _mat_sx([cvec for _, cvec in centroids])
    cidx = _ints_sx([idx for idx, _ in centroids])
    return (
        f"zip_with({cmat}, {cidx}, (_c, _i) -> named_struct("
        f"'dist', {_l2_sx(vec, '_c')}, 'idx', _i))"
    )


def _nearest(vec: str, centroids: list[tuple[int, list[float]]]) -> Column:
    """argmin_c ||vec - c||² of the SQL expression ``vec``: min over
    (dist, idx) structs — deterministic ties by centroid index."""
    return F.expr(f"array_min({_scored_sx(vec, centroids)}).idx")


def _probe_sx(
    qvec: str, centroids: list[tuple[int, list[float]]], n_probe: int
) -> str:
    """The ``n_probe`` nearest centroid ids of ``qvec`` (a query's
    probe list)."""
    return (
        f"transform(slice(array_sort({_scored_sx(qvec, centroids)}), 1, "
        f"{n_probe}), _s -> _s.idx)"
    )


def _assign_multi(
    vec: Column,
    resolved: list[tuple[int, int, int | None]],
    all_cents: list[list[tuple[int, list[float]]]],
) -> Column:
    """array<int>, one cluster id per space, in ONE Arrow pass over
    ``vec``. Each space's id is what :func:`assign_np` /
    :func:`_nearest` give on the sliced vector (the same
    :func:`_argmin_kernel`)."""
    import numpy as np

    chunks, ids = _argmin_kernel(resolved, all_cents)
    first = np.asarray([i[0] for i in ids], dtype=np.int32)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def nearest_multi(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for batch in batches:
            vals = batch.to_numpy()
            out = np.tile(first, (len(vals), 1))
            for rows, _M, loc in chunks(vals):
                for s, idx in enumerate(ids):
                    out[rows, s] = idx[loc[:, s]]
            yield pd.Series(list(out))

    return nearest_multi(vec)


def _update_sums_np(
    v: DataFrame,
    resolved: list[tuple[int, int, int]],
    all_cents: list[list[tuple[int, list[float]]]],
) -> DataFrame:
    """Fused Lloyd update (r14): assignment AND per-(space, cluster,
    dim) quantized partial sums in ONE Arrow-batched pass over just the
    ``vec`` column — guide §2.3 (aggregate before you shuffle, in the
    UDF itself) + §4.2 (whole-batch numpy). It emits at most
    Σ(kₛ·dsubₛ) partial rows per batch and the final groupBy sums exact
    int64s (order-free).

    Bit-exactness: assignment is :func:`_argmin_kernel`; the
    quantization ``floor(x·1000.0 + 0.5)`` is the IEEE-754 op sequence
    the DuckDB replay evaluates per element; int64 sums regrouped by
    identical keys are exact. A null vector adds nothing. Pinned by
    test_multi_kmeans_equals_duckdb_lloyd_replay."""
    import numpy as np

    chunks, ids = _argmin_kernel(resolved, all_cents)
    schema = T.StructType(
        [
            T.StructField("sp", T.IntegerType()),
            T.StructField("cluster", T.IntegerType()),
            T.StructField("dim", T.IntegerType()),
            T.StructField("s", T.LongType()),
            T.StructField("n", T.LongType()),
        ]
    )

    def partial_sums(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            cols: dict[str, list] = {k: [] for k in ("sp", "cluster", "dim", "s", "n")}
            for _rows, M, loc in chunks(pdf["vec"].to_numpy()):
                Q = np.floor(M * 1000.0 + 0.5).astype(np.int64)
                for s, (_k, start, length) in enumerate(resolved):
                    k = len(ids[s])
                    acc = np.zeros((k, length), dtype=np.int64)
                    np.add.at(acc, loc[:, s], Q[:, start : start + length])
                    cnt = np.bincount(loc[:, s], minlength=k)
                    for c in np.nonzero(cnt)[0]:
                        cols["sp"].append(np.full(length, s, dtype=np.int32))
                        cols["cluster"].append(
                            np.full(length, ids[s][c], dtype=np.int32)
                        )
                        cols["dim"].append(np.arange(length, dtype=np.int32))
                        cols["s"].append(acc[c])
                        cols["n"].append(np.full(length, cnt[c], dtype=np.int64))
            if cols["sp"]:
                yield pd.DataFrame(
                    {k: np.concatenate(c) for k, c in cols.items()}
                )

    return v.select("vec").mapInPandas(partial_sums, schema)


def multi_kmeans(
    emb: DataFrame,
    spaces: list[tuple[int, int, int | None]],
    iters: int = 2,
) -> list[list[tuple[int, list[float]]]]:
    """Deterministic k-means over one or more SLICES ("spaces") of the
    embedding, sharing every Spark job — the only Lloyd loop in this
    module: :func:`ivf_centroids` is its one-space case, and IVF-PQ
    trains its coarse quantizer and m codebooks in one call (trained
    one by one they cost 9 sample-collects + 9 jobs PER Lloyd
    iteration — 28 sequential driver jobs, 25.3 s at sf0.01,
    OPTIMIZATION_r13.md #1).

    ``spaces`` = [(k, start0, length)] element slices; ``length=None``
    means the full vector. Per space:

    - seeds: first k DISTINCT non-null sub-vectors within that space's
      ``INIT_OVERSAMPLE × k`` lowest-vec_id window — each window is a
      prefix of ONE shared vec_id-ordered sample (one collect total; a
      TakeOrderedAndProject, never a global sort). If a window holds
      fewer than k distinct vectors, k degrades to what was found;
    - each Lloyd iteration is ONE Arrow pass computing every space's
      argmin and quantized partial sums (:func:`_update_sums_np`) and
      ONE ``groupBy(space, cluster, dim)`` collect; a null vector
      neither seeds nor moves a centroid.

    Centroid means are **quantized-exact**: each component is summed as
    ``floor(x·1000 + 0.5)`` longs (an exact integer aggregation, so
    partial-agg order cannot perturb it) and divided back as the fixed
    double sequence ``(s / n) / 1000.0``. That makes the whole k-means
    bit-reproducible across engines — which is what lets the DuckDB
    oracles replay it as an unrolled CTE chain
    (:func:`_kmeans_assign_ctes`; pytest pins the equality for a
    full-vector space and a PQ subspace). (Float ``avg`` would be
    partial-order-dependent: same repo determinism rule as the exact
    long-derived metrics in operators/metrics.py.)
    """
    bad = [k for k, _s, _l in spaces if k < 1]
    if bad:
        raise ValueError(
            f"multi_kmeans requires at least one centroid per space, got k={bad}"
        )
    # Lloyd re-reads the same frame once per iteration (plus the seed
    # sample): a lazy local checkpoint, filled by the sample job, lets
    # iterations 2..n skip the scan+exchange — the standard Spark
    # k-means input contract (MLlib warns when its input is uncached),
    # without a cache entry to release on any exit path.
    v = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    ).localCheckpoint(eager=False)
    max_k = max(k for k, _s, _l in spaces)
    sample = (
        v.filter(F.col("vec").isNotNull())
        .orderBy("vec_id")
        .limit(INIT_OVERSAMPLE * max_k)
        .collect()
    )
    dim = len(sample[0].vec) if sample else 0
    resolved = [
        (k, start, (dim - start) if length is None else length)
        for k, start, length in spaces
    ]
    all_cents: list[list[tuple[int, list[float]]]] = []
    for k, start, length in resolved:
        seen: set[tuple[float, ...]] = set()
        cents: list[tuple[int, list[float]]] = []
        for r in sample[: INIT_OVERSAMPLE * k]:
            key = tuple(r.vec[start : start + length])
            if key not in seen:
                seen.add(key)
                cents.append((len(cents), list(key)))
                if len(cents) == k:
                    break
        all_cents.append(cents)
    for _ in range(iters):
        means = (
            _update_sums_np(v, resolved, all_cents)
            .groupBy("sp", "cluster", "dim")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        by_space: dict[int, dict[int, dict[int, float]]] = {}
        for r in means:
            by_space.setdefault(r.sp, {}).setdefault(r.cluster, {})[r.dim] = (
                r.s / r.n
            ) / 1000.0
        all_cents = [
            [
                (c, [dims[d] for d in sorted(dims)])
                for c, dims in sorted(by_space.get(s_idx, {}).items())
            ]
            for s_idx in range(len(resolved))
        ]
    return all_cents


def ivf_topk(
    emb: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    query_modulus: int = 50,
    iters: int = 2,
) -> DataFrame:
    """IVF ANN top-k: corpus rows live in their nearest-centroid list
    (one projection); each query probes its ``n_probe`` nearest lists;
    candidates form via an equi-join on the list id. The inverted-list
    join is the structure that survives when both sides are large —
    cost O(rows × n_probe / n_centroids) per query list, never a full
    scan per query (contrast :func:`cosine_topk`).

    Precondition: ``vec_id`` is unique in ``emb``. The candidate join
    emits each (query_id, vec_id) pair once only under that key, so
    duplicate ids would yield duplicate pairs and inflated ranks. It is
    not checked at run time (that would cost a distinct-count job)."""
    cents = ivf_centroids(emb, n_centroids, iters)
    # coalesce(-1) marks the assignment non-nullable (it never IS null:
    # argmin over a non-empty literal centroid array). Without it the
    # equi-join's inferred isnotnull(cluster) constraint gets the whole
    # argmin expression substituted in by pushdown and re-runs the
    # 16-centroid x 64-dim distance fold a SECOND time for every corpus
    # row (plan-audited, r7); a non-nullable key infers no null filter.
    v = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    ).withColumn(
        "cluster", F.coalesce(_nearest("vec", cents), F.lit(-1))
    )
    q_base = v.filter(F.col("vec_id") % query_modulus == 0).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    # probe lists: n_probe nearest centroids per query (tiny explode)
    q = q_base.withColumn(
        "cluster", F.explode(F.expr(_probe_sx("qvec", cents, n_probe)))
    )
    cand = v.join(F.broadcast(q), "cluster").filter(
        F.col("vec_id") != F.col("query_id")
    )
    # No pair dedup needed (r14, one exchange removed): one cluster per
    # corpus row × distinct probed clusters per query ⇒ the equi-join
    # emits each (query_id, vec_id) at most once (see ivf_pq_topk).
    scored = cand.select(
        "query_id",
        "vec_id",
        _cos_sim("qvec", "vec").alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


def _l2_sql(a: str, b: str) -> str:
    """Mirror of :func:`_nearest`'s distance: sequential left-to-right
    fold of squared component differences."""
    return (
        f"list_aggregate(list_transform(list_zip({a}, {b}), "
        "p -> (p[1]-p[2])*(p[1]-p[2])), 'sum')"
    )


def _kmeans_assign_ctes(
    table: str,
    n_centroids: int,
    iters: int,
    vec_expr: str = "embedding::DOUBLE[]",
    prefix: str = "",
) -> tuple[list[str], str]:
    """The deterministic-k-means replay shared by every oracle that
    depends on :func:`multi_kmeans`' centroids and cluster assignment
    (:func:`ivf_topk_sql`, :func:`ivf_pq_topk_sql`,
    :func:`semantic_dedup_sql`, :func:`cluster_sample_sql`): the Lloyd
    loop is deterministic (init = lowest vec_ids, quantized-exact
    centroid means), so the ``iters`` iterations unroll into a CTE
    chain —
    assignment is an argmin window over the (corpus × centroids) cross
    join (fine at oracle scale; the Spark side instead evaluates
    broadcast centroid literals in a projection), the update replays
    the exact ``(Σ floor(x·1000+0.5) / n) / 1000`` sequence. Returns
    (ctes, final_centroid_cte_name); the last CTE ``{prefix}assign``
    holds (vec_id, vec, cluster).

    ``vec_expr``/``prefix`` (r12) let :func:`ivf_pq_topk_sql` replay
    one independent k-means per PQ SUBSPACE: the vector expression is
    a list slice of the embedding and the prefix namespaces the CTE
    chain (``s0v, s0c0, … s0assign``)."""
    p = prefix
    # c0 mirrors the duplicate-robust init: first n_centroids DISTINCT
    # non-null vectors (by min vec_id) within the oversampled lowest-id
    # window. A null vector neither seeds nor moves a centroid (as in
    # multi_kmeans): the update unnests no dims for it, and the final
    # assign gives it the first centroid.
    ctes = [
        f"{p}v AS (SELECT vec_id, {vec_expr} AS vec FROM {table})",
        f"""{p}c0 AS (
            SELECT (ROW_NUMBER() OVER (ORDER BY mid) - 1)::INT AS cluster,
                   vec AS cvec
            FROM (
                SELECT vec, MIN(vec_id) AS mid FROM (
                    SELECT vec_id, vec FROM {p}v WHERE vec IS NOT NULL
                    ORDER BY vec_id LIMIT {INIT_OVERSAMPLE * n_centroids}
                ) GROUP BY vec ORDER BY mid LIMIT {n_centroids}
            )
        )""",
    ]
    for i in range(iters):
        ctes.append(f"""{p}a{i + 1} AS (
            SELECT vec_id, vec, cluster FROM (
                SELECT v.vec_id, v.vec, c.cluster,
                       ROW_NUMBER() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY {_l2_sql("v.vec", "c.cvec")} ASC,
                                    c.cluster ASC
                       ) AS rn
                FROM {p}v v CROSS JOIN {p}c{i} c
            ) WHERE rn = 1
        )""")
        ctes.append(f"""{p}c{i + 1} AS (
            SELECT cluster, list(m ORDER BY dim) AS cvec FROM (
                SELECT cluster, dim,
                       (SUM(sx)::DOUBLE / COUNT(*)::DOUBLE) / 1000.0 AS m
                FROM (
                    SELECT cluster,
                           unnest(list_transform(vec, (x, i) ->
                               {{'dim': i, 'sx': FLOOR(x * 1000 + 0.5)::BIGINT}}),
                               recursive := true)
                    FROM {p}a{i + 1}
                ) GROUP BY cluster, dim
            ) GROUP BY cluster
        )""")
    cfin = f"{p}c{iters}"
    ctes.append(f"""{p}assign AS (
        SELECT vec_id, vec, cluster FROM (
            SELECT v.vec_id, v.vec, c.cluster,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY {_l2_sql("v.vec", "c.cvec")} ASC, c.cluster ASC
                   ) AS rn
            FROM {p}v v CROSS JOIN {cfin} c
        ) WHERE rn = 1
    )""")
    return ctes, cfin


def ivf_topk_sql(
    table: str = "embeddings",
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    query_modulus: int = 50,
    iters: int = 2,
) -> str:
    """DuckDB twin of :func:`ivf_topk`: deterministic-k-means replay
    (see :func:`_kmeans_assign_ctes`), then probe, candidate equi-join,
    dedup, and ranking mirror the Spark plan."""
    ctes, cfin = _kmeans_assign_ctes(table, n_centroids, iters)
    ctes.append(f"""probes AS (
        SELECT query_id, qvec, cluster FROM (
            SELECT q.vec_id AS query_id, q.vec AS qvec, c.cluster,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_l2_sql("q.vec", "c.cvec")} ASC, c.cluster ASC
                   ) AS rn
            FROM v q CROSS JOIN {cfin} c
            WHERE q.vec_id % {query_modulus} = 0
        ) WHERE rn <= {n_probe}
    )""")
    ctes.append(f"""scored AS (
        SELECT DISTINCT p.query_id, a.vec_id,
               ROUND({_cosine_sql("p.qvec", "a.vec")}, 9) AS cos_sim
        FROM assign a JOIN probes p USING (cluster)
        WHERE a.vec_id <> p.query_id
    )""")
    ctes.append("""ranked AS (
        SELECT query_id, vec_id, cos_sim,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cos_sim DESC, vec_id ASC
               )::INT AS rank
        FROM scored
    )""")
    body = ",\n        ".join(ctes)
    return f"""
        WITH {body}
        SELECT query_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= {k}
    """


# ----------------------------------------------------------- IVF-PQ path
def pq_codebooks(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
) -> list[list[tuple[int, list[float]]]]:
    """Product-quantization codebooks (Jégou, Douze, Schmid 2011,
    "Product Quantization for Nearest Neighbor Search"): the embedding
    is split into ``m`` contiguous subspaces of d/m dims and each gets
    an INDEPENDENT deterministic k-means with ``ksub`` codewords — one
    space of :func:`multi_kmeans` each, all m trained in one call (one
    sample collect + one job per Lloyd iteration), so every determinism
    property (lowest-id dedup'd init, quantized-exact means) carries
    over and the DuckDB oracle replays each codebook with the same
    shared CTE chain."""
    dim = len(emb.select("embedding").first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    return multi_kmeans(
        emb,
        [(ksub, j * dsub, dsub) for j in range(m)],
        iters,
    )


def pq_encode(
    v: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    vec_col: str = "vec",
    vectorized: bool = False,
) -> DataFrame:
    """Add ``codes`` (array<int>, one codeword id per subspace) — the
    d/8-bytes-per-vector representation that rides the candidate join
    instead of the raw d×8-byte vector. ``vectorized=True`` computes
    all m subspace argmins in ONE Arrow pass (:func:`_assign_multi`,
    bit-identical, the scale path — the expression form is an
    interpreted HOF fold, the known k-means assignment hazard); the
    default expression form keeps registry plans Python-free."""
    dsub = len(books[0][0][1])
    if vectorized:
        spaces = [(len(cb), j * dsub, dsub) for j, cb in enumerate(books)]
        codes = _assign_multi(F.col(vec_col), spaces, books)
    else:
        codes = F.array(
            *[
                _nearest(f"slice({vec_col}, {j * dsub + 1}, {dsub})", cb)
                for j, cb in enumerate(books)
            ]
        )
    return v.withColumn("codes", codes)


def _pq_lut_sx(
    qvec: str,
    books: list[list[tuple[int, list[float]]]],
) -> str:
    """Per-QUERY ADC lookup table (Jégou, Douze, Schmid 2011 §IV-A —
    the classic IVFADC optimization): ``lut[j][c]`` = the quantized
    squared L2 distance between the query's j-th sub-vector and
    codeword ``c`` of codebook ``j``. The whole m×ksub table is
    computed ONCE per query row (O(ksub·d)) in the query projection
    BEFORE the candidate join, so scoring a candidate costs m
    ``element_at`` lookups (O(m)) instead of r12's per-candidate O(d)
    HOF folds. Each entry is the SAME fixed left-fold IEEE-754
    sequence + 1e-9-long quantization the per-candidate form used
    (shape of :func:`_nearest`), so the exact integer sum — and the
    DuckDB oracle — stay bit-identical. Each codebook is ONE literal;
    gap slots (Lloyd dropped an empty cluster) are flagged 0 and hold
    a 0 long — no code ever references them."""
    dsub = len(books[0][0][1])
    luts = []
    for j, cb in enumerate(books):
        qsub = f"slice({qvec}, {j * dsub + 1}, {dsub})"
        by_idx = {i: v for i, v in cb}
        width = max(by_idx) + 1
        cmat = _mat_sx([by_idx.get(i, [0.0] * dsub) for i in range(width)])
        flags = _ints_sx([1 if i in by_idx else 0 for i in range(width)])
        luts.append(
            f"zip_with({cmat}, {flags}, (_c, _ok) -> CASE WHEN _ok = 1 "
            f"THEN {_q9_sx(_l2_sx(qsub, '_c'))} ELSE CAST(0 AS BIGINT) END)"
        )
    return f"array({', '.join(luts)})"


def _adc_sx(lut: str, codes: str, m: int) -> str:
    """O(m) asymmetric distance: exact integer sum of m LUT lookups —
    partial order can never perturb it (the repo's float-derived-metric
    discipline, operators/lm.py)."""
    return " + ".join(
        f"element_at(element_at({lut}, {j + 1}), {codes}[{j}] + 1)"
        for j in range(m)
    )


def auto_n_centroids(n: int, floor: int = 16) -> int:
    """Coarse-quantizer width for IVF at ``n`` vectors:
    ``max(floor, round(√n))`` — the classic IVF sizing rule (per-list
    occupancy ~√n keeps probe cost and list-scan cost balanced). The
    fixed floor=16 ceiling was measured to bind as n grows
    (recall@10 0.59 at sf0.001 → 0.39 at sf0.1, VERDICT r12 #3)."""
    return max(floor, int(round(n ** 0.5)))


def ivf_pq_topk(
    emb: DataFrame,
    k: int = 10,
    n_centroids: int | None = None,
    n_probe: int | None = None,
    query_modulus: int = 50,
    iters: int = 2,
    m: int = 8,
    ksub: int = 16,
    refine: int | None = 60,
    vectorized_encode: bool = False,
) -> DataFrame:
    """IVF-PQ ANN top-k (Jégou et al. 2011, "Product Quantization for
    Nearest Neighbor Search"): coarse inverted lists exactly like
    :func:`ivf_topk`, but candidates are scored from their ``m``-byte
    PQ codes via asymmetric distance — the raw vector NEVER rides the
    candidate join. At 100 TB that is the memory/IO story: d=64
    float32 vectors are 256 bytes; m=8 codes are 8 bytes (d/8), a 32×
    smaller probe-side shuffle/cache footprint, while the coarse
    quantizer bounds candidates to O(rows × n_probe / n_centroids)
    per query.

    ``refine`` (IVFADC-R, ibid. §V): the ADC pass only SHORTLISTS —
    the top ``refine`` code-scored ids per query are re-ranked by the
    exact distance after fetching their full vectors with a broadcast
    ids-first join (the shortlist is nq × refine rows, tiny — the
    same ids-first/fetch-after-dedup rule the LSH/MinHash paths pin).
    ``refine=None`` returns the raw ADC ranking (``dist`` is then the
    quantized ADC value). Both stages rank by an exact integer
    distance with deterministic vec_id ties.

    ``n_centroids=None`` (the default) auto-scales the coarse
    quantizer to :func:`auto_n_centroids` = max(16, √n) — pass an
    explicit value when an oracle twin (:func:`ivf_pq_topk_sql`) must
    replay the same Lloyd unroll. ``n_probe=None`` (the default)
    scales WITH the quantizer: ``max(4, n_centroids // 4)`` — a fixed
    probe count over a grown centroid set silently shrinks the probed
    corpus fraction (measured: recall@10 0.39→0.31 at sf0.1 when √n
    centroids kept n_probe=4); tying them keeps ~25 % coverage while
    the finer lists improve candidate quality at the same cost.

    Scoring is O(m) per candidate via a per-query ADC lookup table
    (:func:`_pq_lut_sx`) carried on the broadcast probe side — m×ksub
    longs ≈ 1 KB per query at m=8/ksub=16; the r12 form re-ran O(d)
    folds per candidate row (VERDICT r12 #1).

    Precondition: ``vec_id`` is unique in ``emb`` (same unchecked
    contract as :func:`ivf_topk`: the candidate join has no pair
    dedup)."""
    if ksub < 1:  # before the probe job below, not inside multi_kmeans
        raise ValueError(f"ivf_pq_topk requires ksub >= 1, got {ksub}")
    if n_centroids is None:
        # ONE metadata job for (n, dim) — the count must scan anyway,
        # so the dim probe rides it for free (r14: was a separate
        # first() job per query; guide §1.2 #1, don't pay extra passes)
        meta = emb.selectExpr(
            "count(1) AS n", "min(size(embedding)) AS d"
        ).first()
        n_centroids, dim = auto_n_centroids(meta["n"]), meta["d"]
    else:
        # explicit quantizer (the oracle path): no count needed — probe
        # only the dimension, shipping an int instead of the vector
        dim = emb.select(F.size("embedding")).first()[0]
    if n_probe is None:
        n_probe = max(4, n_centroids // 4)
    # Coarse quantizer + all m PQ codebooks train FUSED (r13-opt,
    # OPTIMIZATION_r13.md #1): one shared sample collect + one job per
    # Lloyd iteration for all 9 spaces — bit-identical to the
    # one-space ivf_centroids/pq_codebooks runs (pytest-pinned, as is
    # the DuckDB oracle's per-space CTE replay).
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    fused = multi_kmeans(
        emb,
        [(n_centroids, 0, None)]
        + [(ksub, j * dsub, dsub) for j in range(m)],
        iters,
    )
    cents, books = fused[0], fused[1:]
    # The plan below is built from SQL strings (selectExpr/filter): one
    # py4j round trip per DataFrame call instead of several per Column.
    base = emb.selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS vec")
    if vectorized_encode:
        # Scale path (r14): coarse assignment + all m PQ codes in ONE
        # Arrow-batched pass (_assign_multi — the trainer's argmin
        # kernel; per-space outputs bit-identical to _nearest/assign_np,
        # pytest-pinned). The r13 form paid one interpreted O(k·d) HOF
        # fold for the coarse argmin plus m separate assign_np columns.
        resolved = [(n_centroids, 0, dim)] + [
            (ksub, j * dsub, dsub) for j in range(m)
        ]
        va = base.withColumn(
            "asg", _assign_multi(F.col("vec"), resolved, [cents] + list(books))
        )
        v = va.selectExpr(
            "vec_id",
            # coalesce marks the join key non-nullable (see ivf_topk)
            "coalesce(asg[0], -1) AS cluster",
            f"slice(asg, 2, {m}) AS codes",
        )
    else:
        v = base.withColumn(
            # coalesce marks the join key non-nullable (see ivf_topk)
            "cluster", F.coalesce(_nearest("vec", cents), F.lit(-1))
        )
        # codes computed once per corpus row; the vec column is DROPPED
        # before the join — only (vec_id, cluster, codes) shuffles
        v = pq_encode(v, books, vectorized=False).select(
            "vec_id", "cluster", "codes"
        )
    q_base = emb.selectExpr(
        "vec_id AS query_id", "CAST(embedding AS ARRAY<DOUBLE>) AS qvec"
    ).filter(f"query_id % {query_modulus} = 0")
    # lut is computed before the explode (once per query, not per probe);
    # qvec is DROPPED with it — the broadcast probe side carries only
    # (query_id, cluster, lut); refine re-reads qvec from q_base
    q = q_base.selectExpr(
        "query_id", "qvec", f"{_pq_lut_sx('qvec', books)} AS lut"
    ).selectExpr(
        "query_id",
        f"explode({_probe_sx('qvec', cents, n_probe)}) AS cluster",
        "lut",
    )
    cand = v.join(F.broadcast(q), "cluster").filter("vec_id != query_id")
    # No pair dedup needed (r14, one exchange removed): each corpus row
    # carries exactly ONE cluster (argmin), and a query's probed
    # clusters are distinct (slice of an array_sort over per-centroid
    # structs), so the equi-join can emit a (query_id, vec_id) pair at
    # most once — unlike the banded LSH paths where one pair can
    # collide in several tables. Pinned by test_ivf_pq_candidates_unique.
    scored = cand.selectExpr(
        "query_id", "vec_id", f"{_adc_sx('lut', 'codes', m)} AS adc_dist"
    )
    rank_adc = (
        "row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id)"
    )
    if refine is None:
        return scored.selectExpr(
            "query_id", "vec_id", "adc_dist AS dist", f"{rank_adc} AS rank"
        ).filter(f"rank <= {k}")
    shortlist = (
        scored.selectExpr("query_id", "vec_id", f"{rank_adc} AS r0")
        .filter(f"r0 <= {refine}")
        .select("query_id", "vec_id")
    )
    corpus_vec = emb.selectExpr(
        "vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS cvec2"
    )
    fetched = corpus_vec.join(F.broadcast(shortlist), "vec_id").join(
        F.broadcast(q_base), "query_id"
    )
    return (
        fetched.selectExpr(
            "query_id", "vec_id", f"{_q9_sx(_l2_sx('qvec', 'cvec2'))} AS dist"
        )
        .selectExpr(
            "*",
            "row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id)"
            " AS rank",
        )
        .filter(f"rank <= {k}")
    )


def ivf_pq_topk_sql(
    table: str = "embeddings",
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    query_modulus: int = 50,
    iters: int = 2,
    m: int = 8,
    ksub: int = 16,
    refine: int | None = 60,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`ivf_pq_topk`: the coarse k-means replay
    plus ONE independent prefixed k-means chain per subspace
    (:func:`_kmeans_assign_ctes` with a sliced ``vec_expr``); the ADC
    lookup is a join to each subspace's final-centroid CTE (positional
    ``element_at`` on the Spark side ≡ equi-join on cluster id here),
    quantized to the same exact integer sum."""
    dsub = dim // m
    ctes, cfin = _kmeans_assign_ctes(table, n_centroids, iters)
    sub_fins = []
    for j in range(m):
        lo, hi = j * dsub + 1, (j + 1) * dsub
        sub_ctes, sub_fin = _kmeans_assign_ctes(
            table,
            ksub,
            iters,
            vec_expr=f"(embedding::DOUBLE[])[{lo}:{hi}]",
            prefix=f"s{j}",
        )
        ctes.extend(sub_ctes)
        sub_fins.append(sub_fin)
    ctes.append(f"""probes AS (
        SELECT query_id, qvec, cluster FROM (
            SELECT q.vec_id AS query_id, q.vec AS qvec, c.cluster,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_l2_sql("q.vec", "c.cvec")} ASC, c.cluster ASC
                   ) AS rn
            FROM v q CROSS JOIN {cfin} c
            WHERE q.vec_id % {query_modulus} = 0
        ) WHERE rn <= {n_probe}
    )""")
    joins = []
    terms = []
    for j, sub_fin in enumerate(sub_fins):
        joins.append(
            f"JOIN s{j}assign s{j}a ON s{j}a.vec_id = a.vec_id\n"
            f"        JOIN {sub_fin} cw{j} ON cw{j}.cluster = s{j}a.cluster"
        )
        lo, hi = j * dsub + 1, (j + 1) * dsub
        terms.append(
            "FLOOR("
            + _l2_sql(f"(p.qvec)[{lo}:{hi}]", f"cw{j}.cvec")
            + " * 1000000000.0 + 0.5)::BIGINT"
        )
    join_sql = "\n        ".join(joins)
    adc = "\n               + ".join(terms)
    ctes.append(f"""scored AS (
        SELECT DISTINCT p.query_id, a.vec_id,
               ({adc}) AS adc_dist
        FROM assign a
        JOIN probes p USING (cluster)
        {join_sql}
        WHERE a.vec_id <> p.query_id
    )""")
    if refine is None:
        ctes.append("""ranked AS (
            SELECT query_id, vec_id, adc_dist AS dist,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY adc_dist ASC, vec_id ASC
                   )::INT AS rank
            FROM scored
        )""")
    else:
        ctes.append(f"""shortlist AS (
            SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY query_id
                           ORDER BY adc_dist ASC, vec_id ASC
                       ) AS r0
                FROM scored
            ) WHERE r0 <= {refine}
        )""")
        ctes.append(f"""ranked AS (
            SELECT query_id, vec_id, dist,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY dist ASC, vec_id ASC
                   )::INT AS rank
            FROM (
                SELECT s.query_id, s.vec_id,
                       FLOOR({_l2_sql("q.vec", "cv.vec")}
                             * 1000000000.0 + 0.5)::BIGINT AS dist
                FROM shortlist s
                JOIN v cv ON cv.vec_id = s.vec_id
                JOIN v q ON q.vec_id = s.query_id
            )
        )""")
    body = ",\n        ".join(ctes)
    return f"""
        WITH {body}
        SELECT query_id, vec_id, dist, rank FROM ranked
        WHERE rank <= {k}
    """


# ----------------------------------------------------------- LSH ANN path
def _hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes seeded by md5 — reproducible across
    runs without any RNG state."""
    planes = []
    for h in range(n_planes):
        row = []
        for d in range(dim):
            digest = hashlib.md5(f"plane-{h}-{d}".encode()).hexdigest()
            row.append(1.0 if int(digest[:8], 16) % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def lsh_bucket(
    emb: DataFrame, dim: int = 64, n_planes: int = 4, n_tables: int = 4
) -> DataFrame:
    """Multi-table random-hyperplane signatures: per table t, bit h =
    sign(v · plane_{t,h}); 2^n_planes buckets per table. One row per
    (vector, table) after explode — standard L-table LSH, trading L×
    index size for recall. The signature computation is one projection
    (no shuffle); bucketing a 100 TB corpus costs a single scan."""
    # ONE parsed expression for all L tables x H planes (r13-opt, see
    # _mat_sx / text.tokens_sx): the repeated cast fragment mirrors the
    # old duplicated Column subtree (codegen CSE evaluates it once).
    v = "CAST(embedding AS ARRAY<DOUBLE>)"
    structs = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes * (t + 1))[n_planes * t :]
        sig = "0"
        for h, plane in enumerate(planes):
            pl = "array(" + ",".join(_dlit(x) for x in plane) + ")"
            dot = (
                f"aggregate(zip_with({v}, {pl}, (x, y) -> x * y), "
                "0.0D, (acc, x) -> acc + x)"
            )
            sig += (
                f" + CASE WHEN {dot} >= 0 THEN {1 << h} ELSE 0 END"
            )
        structs.append(
            f"named_struct('tbl', {t}, 'sig', CAST({sig} AS INT))"
        )
    arr = "array(" + ",".join(structs) + ")"
    return emb.withColumn(
        "bucket", F.explode(F.expr(arr))
    ).withColumn(
        "bucket", F.concat_ws("#", F.col("bucket.tbl"), F.col("bucket.sig"))
    )


def lsh_bucket_np(
    emb: DataFrame, dim: int = 64, n_planes: int = 4, n_tables: int = 4
) -> DataFrame:
    """Vectorized twin of :func:`lsh_bucket`: all L×H hyperplane dots
    per Arrow batch as ONE numpy matmul — the dense-linear-algebra case
    where a vectorized pandas UDF beats per-element JVM higher-order
    functions (measured 2.6× at sf0.1; the HOF path evaluates 16
    zip_with+aggregate chains per row). Same md5-seeded hyperplanes,
    same bucket ids up to IEEE summation order on knife-edge dots
    (matmul sums pairwise, the HOF folds sequentially) — fine for ANN,
    which is approximate by construction; recall is pinned in pytest.
    """
    import numpy as np

    planes = np.array(_hyperplanes(dim, n_planes * n_tables), dtype=np.float64)
    weights = 1 << np.arange(n_planes)
    prefixes = np.array([f"{t}#" for t in range(n_tables)])

    # widest possible signature is 2^n_planes - 1: size the unicode
    # dtype to it (a fixed "U11" would silently TRUNCATE signatures
    # once n_planes >= 37, merging distinct buckets with no error)
    sig_width = len(str((1 << n_planes) - 1))

    def _bucket_mat(m: "np.ndarray") -> "np.ndarray":
        bits = (m @ planes.T >= 0).astype(np.int64)
        sigs = bits.reshape(len(m), n_tables, n_planes) @ weights
        # (n, L) bucket-id strings, fully vectorized (no per-row Python)
        return np.char.add(prefixes, sigs.astype(f"U{sig_width}"))

    # Arrow-native: numpy in, pa.ListArray out — zero pandas-object
    # materialization (a pandas_udf would build a Python list-of-strings
    # per row).
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.types import ArrayType, StringType

    @arrow_udf(ArrayType(StringType()))
    def _sig(v):
        arr = v.combine_chunks() if isinstance(v, pa.ChunkedArray) else v
        flat = arr.flatten().to_numpy(zero_copy_only=False)
        strs = _bucket_mat(flat.reshape(len(arr), dim))
        offsets = pa.array(
            np.arange(
                0, (len(arr) + 1) * n_tables, n_tables, dtype=np.int32
            )
        )
        return pa.ListArray.from_arrays(offsets, pa.array(strs.ravel()))

    return emb.withColumn(
        "bucket", F.explode(_sig(F.col("embedding").cast("array<double>")))
    )


def lsh_ann_topk(
    emb: DataFrame, k: int = 10, dim: int = 64, n_planes: int = 4,
    n_tables: int = 4, query_modulus: int = 50, vectorized: bool = False,
) -> DataFrame:
    """ANN top-k: candidates restricted to buckets the query occupies in
    ANY of the L hash tables, then exact cosine + rank. Trades recall
    for a corpus-side equi-join on ``bucket`` instead of a broadcast
    full scan — the shape that survives when the query side is also
    large. Recall vs brute force is asserted in pytest; exact output is
    oracle-checked against :func:`lsh_ann_topk_sql`.

    Ids-first discipline (same as ``dedup._banded_jaccard``): the
    bucket join and the (query_id, vec_id) pair dedup move ONLY id
    columns — a candidate that collides in all L tables costs L slim
    rows, not L copies of a ~512 B vector. Vectors are re-fetched
    after dedup: the corpus side via a ``shuffle_hash``-pinned id join
    (Catalyst's size estimates for array intermediates are unreliable
    — SCALE.md), the query side via broadcast (it is modulus-sampled
    tiny by construction).
    """
    bucketer = lsh_bucket_np if vectorized else lsh_bucket
    v = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    # Both join sides read ``bucketed``. Catalyst would push q_b's
    # modulus filter below the bucketing, so every call would bucket
    # twice: the corpus for one side, the query rows again for the
    # other (a second Python stage on the vectorized path). The lazy
    # local checkpoint stops that pushdown: the query's first job
    # buckets the corpus once and both sides read it.
    bucketed = bucketer(emb, dim, n_planes, n_tables).select(
        "vec_id", "bucket"
    ).localCheckpoint(eager=False)
    q_b = bucketed.filter(F.col("vec_id") % query_modulus == 0).select(
        F.col("vec_id").alias("query_id"), F.col("bucket")
    )
    pairs = (
        bucketed.join(F.broadcast(q_b), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    # Fused dedup + re-fetch: aggregating the pair stream by vec_id
    # both dedups (collect_set, with map-side partial aggregation) AND
    # lands the frame hash-partitioned on vec_id — exactly the
    # partitioning the corpus re-fetch join needs, so the dedup shuffle
    # IS the join shuffle. dropDuplicates([query_id, vec_id]) would pay
    # a (query_id, vec_id) exchange plus a second vec_id exchange for
    # the join. Per-key set size is bounded by the query count, which
    # is broadcast-tiny by this operator's contract (a corpus-sized
    # query side needs the salted two-phase design in cosine_topk).
    cand = pairs.groupBy("vec_id").agg(
        F.collect_set("query_id").alias("query_ids")
    )
    qv = v.filter(F.col("vec_id") % query_modulus == 0).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    scored = (
        cand.join(v.hint("shuffle_hash"), "vec_id")
        .select("vec_id", F.explode("query_ids").alias("query_id"), "vec")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "vec_id",
            _cos_sim("qvec", "vec").alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


def _plane_sql(plane: list[float]) -> str:
    return "[" + ", ".join(f"{x:.1f}" for x in plane) + "]::DOUBLE[]"


def lsh_ann_topk_sql(
    table: str = "embeddings", k: int = 10, dim: int = 64,
    n_planes: int = 4, n_tables: int = 4, query_modulus: int = 50,
) -> str:
    """DuckDB twin of :func:`lsh_ann_topk` (default HOF path): the
    md5-seeded ±1 hyperplanes are deterministic constants, so they are
    generated here and inlined as literals; bucket signatures, the
    bucket equi-join, pair dedup, and exact-cosine ranking mirror the
    Spark plan op-for-op (same left-to-right dot-product folds)."""
    planes = _hyperplanes(dim, n_planes * n_tables)
    buckets = []
    for t in range(n_tables):
        bits = " + ".join(
            f"CASE WHEN {_dot_sql('vec', _plane_sql(planes[t * n_planes + h]))}"
            f" >= 0 THEN {1 << h} ELSE 0 END"
            for h in range(n_planes)
        )
        buckets.append(f"'{t}#' || ({bits})::VARCHAR")
    cos = _cosine_sql("qq.qvec", "v.vec")
    return f"""
        WITH v AS (
            SELECT vec_id, embedding::DOUBLE[] AS vec FROM {table}
        ),
        b AS (
            SELECT vec_id, unnest([{", ".join(buckets)}]) AS bucket FROM v
        ),
        qb AS (
            SELECT vec_id AS query_id, bucket FROM b
            WHERE vec_id % {query_modulus} = 0
        ),
        pairs AS (
            SELECT DISTINCT qb.query_id, b.vec_id
            FROM b JOIN qb USING (bucket)
            WHERE b.vec_id <> qb.query_id
        ),
        scored AS (
            SELECT p.query_id, p.vec_id, ROUND({cos}, 9) AS cos_sim
            FROM pairs p
            JOIN v ON v.vec_id = p.vec_id
            JOIN (
                SELECT vec_id AS query_id, vec AS qvec FROM v
                WHERE vec_id % {query_modulus} = 0
            ) qq ON qq.query_id = p.query_id
        ),
        ranked AS (
            SELECT query_id, vec_id, cos_sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY cos_sim DESC, vec_id ASC
                   )::INT AS rank
            FROM scored
        )
        SELECT query_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= {k}
    """


# ----------------------------------------------------------- SemDeDup
def _semdedup_assigned(
    emb: DataFrame, n_centroids: int, iters: int, vectorized: bool = False
) -> DataFrame:
    """(vec_id, vec, cluster) with the deterministic k-means assignment.
    coalesce(-1) marks the cluster key non-nullable for the same reason
    as :func:`ivf_topk`: a nullable computed join key would get the
    whole argmin expression substituted into an inferred isnotnull
    Filter by pushdown (r7 plan-audit rule).

    Null ``vec_id`` rows are excluded up front (the id IS the dedup
    identity, so a null id has no defined keep-order) — and doing it on
    the SHARED frame is what lets the self-join reuse one Exchange: the
    LeftOuter join infers ``isnotnull(vec_id)`` on its build side only,
    and an asymmetric Filter makes the two otherwise-identical scan
    subtrees canonically different (no ReusedExchange; verified on the
    executed plan, r7).

    ``vectorized=True`` swaps the assignment to :func:`assign_np`
    (bit-identical distances/tie-break, see its docstring) — used by
    the scale paths so assignment stays O(n·k·d) in BLAS, not in the
    Catalyst interpreter; the oracle-checked join form keeps the
    expression so the registry plan stays pure-JVM."""
    cents = ivf_centroids(emb, n_centroids, iters)
    base = emb.filter(F.col("vec_id").isNotNull()).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    if vectorized:
        return assign_np(base, cents)
    return base.withColumn(
        "cluster", F.coalesce(_nearest("vec", cents), F.lit(-1))
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.35,
    n_centroids: int = 16,
    iters: int = 2,
) -> DataFrame:
    """Semantic deduplication, SemDeDup-style (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with the
    deterministic k-means of :func:`ivf_centroids`, then WITHIN each
    cluster drop every vector that has a lower-``vec_id`` neighbor with
    cosine >= ``threshold``. The reference engine has no similarity
    operators (SURVEY.md §2.2); this is the embedding-space sibling of
    the MinHash near-dup tier — it catches paraphrases exact n-grams
    miss.

    Returns one row per input vector: (vec_id, cluster, kept). Callers
    drop with ``filter("kept")``; keeping losers visible makes the
    dedup rate auditable (and the oracle total).

    Scale design — this supersedes the retired brute-force
    ``embedding_neardup`` (all-pairs over a sample, O(n²)): candidate
    pairs form ONLY within a cluster via a self-join on the cluster id
    (aliases of ONE frame, so the cluster-keyed Exchange is planned
    once and reused). Pair cost is Σ c_i² over cluster sizes — at
    corpus scale ``n_centroids`` grows so clusters stay bounded (the
    SemDeDup recipe: n_centroids ∝ n / target_cluster_size), keeping
    the join linear-ish, never all-pairs. The vectors must ride this
    join (the cosine is computed at match time) — acceptable precisely
    because candidates are cluster-bounded, in contrast to the LSH tail
    where candidate fan-out is data-dependent (SCALE.md); the join is
    pinned shuffle_hash for the same mis-broadcast reason. The
    keep-lowest-id rule is the deterministic variant of SemDeDup's
    keep-one-per-duplicate-set (drop v iff SOME smaller-id
    same-cluster neighbor is >= threshold — independent per vector, so
    the decision needs no iterative connected components).

    ``threshold`` defaults low for the synthetic fixture corpus (its
    vectors are diffuse — within-cluster cosine tops out near 0.5;
    measured at sf0.01: 68/500 dropped at 0.35). On real sentence
    embeddings SemDeDup operates at ~0.95+.

    The per-cluster matmul twin :func:`semantic_dedup_np` is the
    production hot path at fixed output; pytest pins equality.
    """
    v = _semdedup_assigned(emb, n_centroids, iters)
    a, b = v.alias("a"), v.alias("b")
    pairs = a.join(
        b.hint("shuffle_hash"),
        (F.col("a.cluster") == F.col("b.cluster"))
        & (F.col("b.vec_id") < F.col("a.vec_id"))
        & (
            _cos_sim("a.vec", "b.vec")
            >= F.lit(threshold)
        ),
        "left",
    )
    return (
        pairs.groupBy(F.col("a.vec_id").alias("vec_id"))
        .agg(
            F.first(F.col("a.cluster")).alias("cluster"),
            F.max(F.col("b.vec_id")).alias("_hit"),
        )
        .select(
            "vec_id", "cluster", F.col("_hit").isNull().alias("kept")
        )
    )


def semantic_dedup_np(
    emb: DataFrame,
    threshold: float = 0.35,
    n_centroids: int = 16,
    iters: int = 2,
) -> DataFrame:
    """Per-cluster numpy matmul twin of :func:`semantic_dedup` — the
    production hot path: ``groupBy(cluster).applyInPandas`` computes
    the within-cluster cosine matrix as ONE float64 GEMM and takes the
    strict-lower-triangle row-wise any() for the drop decision. One
    shuffle (cluster-keyed), no pair materialization; per-task memory
    is O(c·dim + c²) for cluster size c — bounded by the same
    n_centroids ∝ corpus-size rule as the join form. Output rows and
    values are pytest-pinned identical to the expression form (cosines
    rounded to 9 decimals before the threshold compare on both paths,
    same discipline as cosine_topk_np). Assignment runs through the
    bit-identical :func:`assign_np` so the whole path is vectorized —
    the interpreted argmin fold was the 30x-stress bottleneck (100 s →
    O(s) at 60k vecs × 60 centroids)."""
    import numpy as np

    v = _semdedup_assigned(emb, n_centroids, iters, vectorized=True)
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("cluster", T.IntegerType()),
            T.StructField("kept", T.BooleanType()),
        ]
    )

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        order = pdf["vec_id"].to_numpy().argsort(kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        M = np.asarray(
            [np.asarray(x, dtype=np.float64) for x in pdf["vec"].to_numpy()[order]]
        )
        norms = np.sqrt((M * M).sum(axis=1))
        norms[norms == 0.0] = 1.0
        Mn = M / norms[:, None]
        n = len(ids)
        # Blocked GEMM: a skewed cluster must cost O(c²) COMPUTE (the
        # SemDeDup contract) but never O(c²) MEMORY in one allocation —
        # row blocks of ~32 MB against the full column set, comparing
        # only columns strictly before each row (ids ascending).
        block = max(1, 32 * 1024 * 1024 // (8 * max(n, 1)))
        dup = np.zeros(n, dtype=bool)
        for lo in range(0, n, block):
            hi = min(lo + block, n)
            Cb = np.round(Mn[lo:hi] @ Mn.T, 9)
            mask = np.arange(n)[None, :] < np.arange(lo, hi)[:, None]
            dup[lo:hi] = ((Cb >= threshold) & mask).any(axis=1)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cluster": pdf["cluster"].to_numpy()[order],
                "kept": ~dup,
            }
        )

    return v.groupBy("cluster").applyInPandas(per_cluster, schema)


def semantic_dedup_sql(
    table: str = "embeddings",
    threshold: float = 0.35,
    n_centroids: int = 16,
    iters: int = 2,
) -> str:
    """DuckDB twin of :func:`semantic_dedup`: replay the deterministic
    k-means (shared :func:`_kmeans_assign_ctes`), then the
    keep-lowest-id rule as a within-cluster self-join + LEFT JOIN."""
    ctes, _ = _kmeans_assign_ctes(table, n_centroids, iters)
    cos = _cosine_sql("a.vec", "b.vec")
    ctes.append(f"""dropped AS (
        SELECT DISTINCT a.vec_id
        FROM assign a JOIN assign b
          ON a.cluster = b.cluster AND b.vec_id < a.vec_id
        WHERE ROUND({cos}, 9) >= {threshold}
    )""")
    body = ",\n        ".join(ctes)
    return f"""
        WITH {body}
        SELECT s.vec_id, s.cluster, (d.vec_id IS NULL) AS kept
        FROM assign s LEFT JOIN dropped d USING (vec_id)
    """


def semantic_decontaminate(
    emb: DataFrame,
    threshold: float = 0.35,
    n_centroids: int = 16,
    iters: int = 2,
    test_modulus: int = 23,
) -> DataFrame:
    """Semantic train/test decontamination — the embedding-space
    sibling of ``decontam.decontaminate`` (which catches exact n-gram
    overlap; this catches PARAPHRASED benchmark leakage, the failure
    mode n-grams miss). Bipartite SemDeDup: cluster the embedding
    space once (deterministic k-means over the full table, so the
    oracle can replay it), split vectors into train
    (``vec_id % test_modulus != 0``) and test (== 0), and flag every
    train vector having a test neighbor with cosine >= ``threshold``
    in the SAME cluster.

    Returns one row per train vector: (vec_id, cluster, n_hits,
    contaminated) — n_hits = number of >=-threshold test neighbors in
    the cluster, the same auditability contract as the n-gram
    operator.

    Scale: candidate pairs are cluster-bounded exactly as in
    :func:`semantic_dedup` (n_centroids ∝ corpus size); the test side
    is an eval suite — orders smaller than train — so the per-cluster
    bipartite compare is test-side-bounded. The join is pinned
    shuffle_hash (array payloads defeat size estimates, SCALE.md).
    """
    v = _semdedup_assigned(emb, n_centroids, iters)
    # `%` (sign of dividend), NOT pmod: the DuckDB oracle splits with
    # SQL `%`, and decontam.py uses the same convention — pmod would
    # diverge for negative vec_ids.
    train = v.filter((F.col("vec_id") % test_modulus) != 0)
    test = v.filter((F.col("vec_id") % test_modulus) == 0).select(
        F.col("cluster").alias("t_cluster"),
        F.col("vec_id").alias("t_id"),
        F.col("vec").alias("t_vec"),
    )
    pairs = train.join(
        test.hint("shuffle_hash"),
        (F.col("cluster") == F.col("t_cluster"))
        & (
            _cos_sim("vec", "t_vec")
            >= F.lit(threshold)
        ),
        "left",
    )
    return (
        pairs.groupBy("vec_id")
        .agg(
            F.first("cluster").alias("cluster"),
            F.count(F.col("t_id")).cast("long").alias("n_hits"),
        )
        .withColumn("contaminated", F.col("n_hits") > 0)
    )


def semantic_decontaminate_sql(
    table: str = "embeddings",
    threshold: float = 0.35,
    n_centroids: int = 16,
    iters: int = 2,
    test_modulus: int = 23,
) -> str:
    """DuckDB twin of :func:`semantic_decontaminate` (k-means replay
    shared with the IVF / SemDeDup oracles)."""
    ctes, _ = _kmeans_assign_ctes(table, n_centroids, iters)
    cos = _cosine_sql("tr.vec", "te.vec")
    ctes.append(f"""train AS (
        SELECT vec_id, vec, cluster FROM assign
        WHERE vec_id % {test_modulus} <> 0
    )""")
    ctes.append(f"""test AS (
        SELECT vec_id, vec, cluster FROM assign
        WHERE vec_id % {test_modulus} = 0
    )""")
    ctes.append(f"""hits AS (
        SELECT tr.vec_id, COUNT(*)::BIGINT AS n_hits
        FROM train tr JOIN test te ON tr.cluster = te.cluster
        WHERE ROUND({cos}, 9) >= {threshold}
        GROUP BY tr.vec_id
    )""")
    body = ",\n        ".join(ctes)
    return f"""
        WITH {body}
        SELECT tr.vec_id, tr.cluster,
               COALESCE(h.n_hits, 0)::BIGINT AS n_hits,
               COALESCE(h.n_hits, 0) > 0 AS contaminated
        FROM train tr LEFT JOIN hits h USING (vec_id)
    """


# ------------------------------------------------ cluster sampling
def cluster_sample(
    emb: DataFrame,
    alpha: float = 0.5,
    budget: int = 200,
    n_centroids: int = 16,
    iters: int = 2,
) -> DataFrame:
    """Cluster-balanced diversity sampling — the selection step that
    follows SemDeDup in the published pipeline (Abbas et al. 2023 use
    cluster-uniform keep rates; DeepMind's data-recipe work applies
    the same α-temperature flattening across TOPICS that mT5 applies
    across languages): assign vectors to the deterministic k-means
    clusters, then keep per-cluster quotas ∝ size^α — α < 1 upweights
    small clusters, so the sample covers the embedding space instead
    of mirroring its density.

    Deterministic end to end, same discipline as
    ``corpus.temperature_sample``: pow quantized to 1e-9 longs per
    DISTINCT cluster size, exact integer quota arithmetic (``budget·w
    DIV Σw`` capped at n), keep-order = portable hash
    ``hex32('csample|' || vec_id)`` with vec_id tiebreak. Output:
    (vec_id, cluster, grp_rank, grp_quota) for kept vectors — rank and
    quota visible so the mixture is auditable.

    Scale: the k-means assignment is the same broadcast-centroid
    projection the other IVF/SemDeDup paths use (``assign_np`` twin
    for the vectorized route), cluster sizes are a tiny aggregation,
    the quota join broadcasts, and the rank is ONE cluster-keyed
    window — the grouped-top-k shape; the same mega-group caveats and
    remedies as temperature_sample apply."""
    from teste_carga_avro_vs_json_spark.functions.portable import hex32

    assigned = _semdedup_assigned(emb, n_centroids, iters).select(
        "vec_id", "cluster"
    )
    sizes = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n")
    )
    weights = sizes.select(
        "cluster",
        "n",
        F.floor(
            F.pow(F.col("n").cast("double"), F.lit(alpha))
            * F.lit(10**9)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("w"),
    )
    quotas = weights.withColumn(
        "tw", F.sum("w").over(Window.partitionBy(F.lit(1)))
    ).select(
        "cluster",
        F.least(F.expr(f"({budget} * w) DIV tw"), F.col("n")).alias(
            "grp_quota"
        ),
    )
    ranked = assigned.join(F.broadcast(quotas), "cluster").withColumn(
        "_hk",
        hex32(F.concat(F.lit("csample|"), F.col("vec_id").cast("string"))),
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("_hk").asc(), F.col("vec_id").asc()
    )
    return (
        ranked.withColumn("grp_rank", F.row_number().over(w))
        .filter(F.col("grp_rank") <= F.col("grp_quota"))
        .select(
            "vec_id",
            F.col("cluster").cast("long").alias("cluster"),
            F.col("grp_rank").cast("long").alias("grp_rank"),
            F.col("grp_quota").cast("long").alias("grp_quota"),
        )
    )


def cluster_sample_sql(
    table: str = "embeddings",
    alpha: float = 0.5,
    budget: int = 200,
    n_centroids: int = 16,
    iters: int = 2,
) -> str:
    """DuckDB twin of :func:`cluster_sample` — the k-means replay via
    the shared :func:`_kmeans_assign_ctes` chain, then the
    temperature-quota arithmetic term for term."""
    from teste_carga_avro_vs_json_spark.functions.portable import (
        hex32_sql,
    )

    ctes, _ = _kmeans_assign_ctes(table, n_centroids, iters)
    hk = hex32_sql("'csample|' || a.vec_id::VARCHAR")
    return f"""
        WITH {", ".join(ctes)},
        sizes AS (
            SELECT cluster, COUNT(*)::BIGINT AS n
            FROM assign GROUP BY cluster
        ),
        weights AS (
            SELECT cluster, n,
                   FLOOR(POW(n::DOUBLE, {alpha}) * 1000000000 + 0.5)::BIGINT
                       AS w
            FROM sizes
        ),
        quotas AS (
            SELECT cluster,
                   LEAST(({budget} * w)
                         // (SELECT SUM(w)::BIGINT FROM weights),
                         n) AS grp_quota
            FROM weights
        ),
        ranked AS (
            SELECT a.vec_id, a.cluster, q.grp_quota,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.cluster
                       ORDER BY {hk} ASC, a.vec_id ASC
                   ) AS grp_rank
            FROM assign a JOIN quotas q USING (cluster)
        )
        SELECT vec_id, cluster::BIGINT AS cluster,
               grp_rank::BIGINT AS grp_rank,
               grp_quota::BIGINT AS grp_quota
        FROM ranked WHERE grp_rank <= grp_quota
    """
