"""IVF-PQ scale evidence (r12, VERDICT r11 order #4; r13 orders #1+#5):
at sf0.1 (and an optional replication factor), measure

- the PQ representation's size against raw vectors — the claim is ~d/8
  BYTES per vector riding the candidate join instead of d×4 (float32);
- recall@10 of the refined ranking vs brute-force exact L2;
- the r13 QUALITY CURVE: recall@10 vs (n_centroids, n_probe, refine)
  — the fixed nc=16 quantizer (the r12 ceiling), the auto max(16, √n)
  default with its coverage-scaled n_probe, and refine-depth scaling
  (the shortlist, not the probe set, is what binds as candidate
  counts grow: refine=60 over 500 candidates/query drops true
  neighbors the ADC ranking misorders);
- the r13 LUT-scoring A/B: the candidate frame is built ONCE, then
  scored two ways — the r13 per-query lookup-table sum (O(m) per
  candidate) vs the r12 per-candidate zip_with/aggregate fold (O(d)
  per candidate, reconstructed here as the benchmark strawman). Both
  sums are asserted EQUAL (the LUT is bit-identical by construction)
  and timed at d=64 vs d=128 (self-concat) and m=8 vs m=16: the fold
  scales with d, the LUT only with m.

Usage: python tools/stress_ivfpq.py [replicate] [sf_dir]
Writes one JSON line; redirect to bench_runs/r13_stress_ivfpq.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
import pyspark.sql.functions as F  # noqa: E402

from teste_carga_avro_vs_json_spark.operators import similarity  # noqa: E402
from teste_carga_avro_vs_json_spark.session import get_spark  # noqa: E402


def main() -> None:
    replicate = int(sys.argv[1]) if len(sys.argv) > 1 else 1
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark("stress-ivfpq")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    if replicate > 1:
        # replicas get distinct ids past the original range (the
        # stress convention from stress10x.py)
        n = emb.count()
        emb = emb.unionByName(
            emb.crossJoin(
                spark.range(1, replicate).withColumnRenamed("id", "rep")
            ).select(
                (F.col("vec_id") + F.col("rep") * F.lit(n)).alias("vec_id"),
                "embedding",
                "label",
            )
        )
    emb = emb.persist()
    n_vec = emb.count()
    dim = len(emb.select("embedding").first()[0])

    t0 = time.time()
    books = similarity.pq_codebooks(emb, m=8, ksub=16, iters=2)
    t_books = time.time() - t0
    v = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    coded = similarity.pq_encode(v, books, vectorized=True).select(
        "vec_id", F.col("codes").cast("array<tinyint>").alias("codes")
    )
    import tempfile

    raw_dir = tempfile.mkdtemp(prefix="ivfpq_raw_")
    pq_dir = tempfile.mkdtemp(prefix="ivfpq_codes_")
    emb.select("vec_id", "embedding").write.mode("overwrite").parquet(raw_dir)
    t1 = time.time()
    coded.write.mode("overwrite").parquet(pq_dir)
    t_encode = time.time() - t1

    def psize(d):
        return sum(
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    raw_b, pq_b = psize(raw_dir), psize(pq_dir)

    auto_nc = similarity.auto_n_centroids(n_vec)
    auto_np = max(4, auto_nc // 4)
    recs_16 = None
    t_topk = None
    curve: dict[str, float] = {}
    if replicate == 1:
        t2 = time.time()
        approx = similarity.ivf_pq_topk(
            emb, n_centroids=16, n_probe=4, vectorized_encode=True
        ).collect()
        t_topk = round(time.time() - t2, 2)

        # exact L2 ground truth over the query subset (numpy, driver-
        # side — evidence computation, not the operator)
        rows = emb.select("vec_id", "embedding").collect()
        ids = np.array([r.vec_id for r in rows])
        M = np.array([r.embedding for r in rows], dtype=np.float64)
        exact10: dict[int, set] = {}
        for qi in np.where(ids % 50 == 0)[0]:
            d = ((M - M[qi]) ** 2).sum(axis=1)
            order = [
                ids[j]
                for j in np.argsort(d, kind="stable")
                if ids[j] != ids[qi]
            ]
            exact10[ids[qi]] = set(order[:10])

        def recall(result_rows):
            by_q: dict[int, set] = {}
            for r in result_rows:
                by_q.setdefault(r.query_id, set()).add(r.vec_id)
            recs = [
                len(exact10[q] & by_q.get(q, set())) / 10 for q in exact10
            ]
            return round(sum(recs) / len(recs), 4)

        recs_16 = recall(approx)

        # --- r13 quality curve: (n_centroids, n_probe, refine) sweep
        # — n_probe scales with nc to hold ~25% coverage (the
        # operator's auto rule); refine scales because the ADC
        # shortlist is what binds once candidate counts outgrow it
        curve["nc16_np4_r60"] = recs_16
        for key, nc, n_probe, refine in (
            ("nc16_np1_r60", 16, 1, 60),
            ("nc16_np2_r60", 16, 2, 60),
            ("nc16_np8_r60", 16, 8, 60),
            ("nc16_np16_r60", 16, 16, 60),
            ("nc16_np8_r200", 16, 8, 200),
            ("nc16_np16_r200", 16, 16, 200),
            ("nc16_np16_r400", 16, 16, 400),
            (f"auto{auto_nc}_np{auto_np}_r60", auto_nc, auto_np, 60),
            (f"auto{auto_nc}_np{auto_np}_r200", auto_nc, auto_np, 200),
            (
                f"auto{auto_nc}_np{2 * auto_np}_r200",
                auto_nc, 2 * auto_np, 200,
            ),
            (
                f"auto{auto_nc}_np{2 * auto_np}_r400",
                auto_nc, 2 * auto_np, 400,
            ),
        ):
            res = similarity.ivf_pq_topk(
                emb,
                n_centroids=nc,
                n_probe=n_probe,
                refine=refine,
                vectorized_encode=True,
            ).collect()
            curve[key] = recall(res)

    # --- r13 LUT-vs-fold scoring A/B on ONE materialized candidate
    # frame: the r12 per-candidate O(d) fold (reconstructed below as
    # the strawman) against the r13 O(m) LUT lookups — equal sums
    # (bit-identical scoring), very different wall.
    def fold_adc(qvec, codes, books):
        # the r12 _adc_dist form (similarity.py@r12:774-797), kept
        # here ONLY as the benchmark baseline
        dsub = len(books[0][0][1])
        cb_lits = []
        for cb in books:
            by_idx = {i: v for i, v in cb}
            ncw = max(by_idx) + 1
            cb_lits.append(F.array(*[
                F.array(*[F.lit(x) for x in by_idx.get(i, [0.0] * dsub)])
                for i in range(ncw)
            ]))
        total = None
        for j, cb in enumerate(books):
            qsub = F.slice(qvec, j * dsub + 1, dsub)
            cw = F.element_at(cb_lits[j], codes[j] + F.lit(1))
            d = F.aggregate(
                F.zip_with(qsub, cw, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            dq = F.floor(d * F.lit(1e9) + F.lit(0.5)).cast("long")
            total = dq if total is None else total + dq
        return total

    emb2d = emb.select(
        "vec_id",
        F.concat(
            F.col("embedding").cast("array<double>"),
            F.col("embedding").cast("array<double>"),
        ).alias("embedding"),
    ).persist()
    emb2d.count()
    ab: dict[str, dict] = {}
    for key, frame, m_sub in (
        ("d64_m8", emb, 8),
        ("d128_m8", emb2d, 8),
        ("d64_m16", emb, 16),
    ):
        cents = similarity.ivf_centroids(frame, 16, 2)
        books = similarity.pq_codebooks(frame, m=m_sub, ksub=16, iters=2)
        v = frame.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("vec")
        )
        v = similarity.assign_np(v, cents, vec_col="vec", out_col="cluster")
        v = similarity.pq_encode(v, books, vectorized=True).select(
            "vec_id", "cluster", "codes"
        )
        # at replication the fold lane's per-candidate qvec payload is
        # what blows memory (that payload IS the r12 defect being
        # measured) — shrink the query set to keep the cached
        # candidate frame bounded while the per-candidate volume
        # stays in the hundreds of thousands
        qmod = 50 if replicate == 1 else 50 * replicate
        q = frame.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("qvec"),
        ).filter(F.col("query_id") % qmod == 0)
        qa = similarity.assign_np(
            q, cents, vec_col="qvec", out_col="cluster"
        ).withColumn("lut", F.expr(similarity._pq_lut_sx("qvec", books)))
        # repartition to the core count: the corpus arrives as one
        # small local parquet (2 source splits); on a real cluster the
        # candidate stream is already distributed, and the A/B should
        # time compute, not a 2-thread serialization artifact
        cand = v.repartition(32).join(
            F.broadcast(qa.select("query_id", "cluster", "lut", "qvec")),
            "cluster",
        ).filter(F.col("vec_id") != F.col("query_id")).persist()
        n_cand = cand.count()
        t = time.time()
        s_lut = cand.select(
            F.expr(similarity._adc_sx("lut", "codes", m_sub)).alias("d")
        ).agg(F.sum("d")).collect()[0][0]
        t_lut = round(time.time() - t, 2)
        t = time.time()
        s_fold = cand.select(
            fold_adc(F.col("qvec"), F.col("codes"), books).alias("d")
        ).agg(F.sum("d")).collect()[0][0]
        t_fold = round(time.time() - t, 2)
        cand.unpersist()
        assert s_lut == s_fold, (key, s_lut, s_fold)
        ab[key] = {
            "n_candidates": n_cand,
            "sec_lut": t_lut,
            "sec_fold": t_fold,
            "sums_bit_identical": True,
        }
    emb2d.unpersist()

    print(json.dumps({
        "metric": "stress_ivfpq",
        "replicate": replicate,
        "sf_dir": sf_dir,
        "n_vectors": n_vec,
        "dim": dim,
        "raw_parquet_bytes": raw_b,
        "pq_parquet_bytes": pq_b,
        "pq_fraction_of_raw": round(pq_b / raw_b, 4),
        "logical_code_bytes_per_vector": 8,  # m=8 codes, <=256 codewords
        "logical_raw_bytes_per_vector": dim * 4,
        "recall_at_10_refined": recs_16,
        "auto_n_centroids": auto_nc,
        "auto_n_probe": auto_np,
        "recall_curve_refined": curve,
        "adc_scoring_ab": ab,
        "sec_codebooks": round(t_books, 2),
        "sec_encode_write": round(t_encode, 2),
        "sec_topk": t_topk,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
