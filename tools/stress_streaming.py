"""30x stress for the STATEFUL streaming surfaces (r7, VERDICT item 5).

The r6 30x stress covered corpus + temporal operators only; the
streaming dedup / stream-stream join / sequence audit had never run
above sf0.01 volumes. This harness scales each one's input 30x (sf0.1
base: 5k docs -> 150k keys, 100k events -> 3M), drains it through
MULTIPLE micro-batches (maxFilesPerTrigger bounds each batch so state
must survive batch boundaries), verifies exact output counts, and
records the streaming health figures that matter at scale:

- state-store rows + memory (stateOperators.numRowsTotal /
  memoryUsedBytes from StreamingQueryProgress) — the "does state blow
  up" question;
- max/mean micro-batch duration — the latency question;
- rows dropped by watermark (must be 0: delays are sized past the
  fixture's event-time span).

Scale design notes (why 30x is an honest proxy for the firehose):
stream_dedup state is (key, ts) only — bounded by arrival_rate x delay;
the join replicas get DISJOINT user_id spaces so output grows exactly
30x (replicated users would grow the join quadratically, which is a
data property, not an engine property); the audit keeps O(1) state per
partition regardless of volume.

Since r9 the HEADLINE ``stream_stream_join`` lane is the time-ordered
eviction shape (1-h delay, monotone bucket mtimes → watermark advances
mid-run, state stays bounded ~22% of input) and the former default —
30-day delay spanning the whole fixture, state == input by watermark
semantics — is published as the documented negative control
``stream_stream_join_delay_spans_data`` (VERDICT r8 wrong #3).

Prints one JSON line (bench_runs/r{N}_stress_streaming.json is the
committed artifact). Usage:
    python tools/stress_streaming.py [replicas]   (default 30)
Knob: SPARK_GRAFT_SF_DIR.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _progress_stats(query) -> dict:
    """Extract state/latency figures from a drained query's progress."""
    progs = []
    for p in query.recentProgress:
        progs.append(p if isinstance(p, dict) else json.loads(p.json))
    with_rows = [p for p in progs if p.get("numInputRows", 0) > 0]
    durations = [p.get("batchDuration", 0) for p in with_rows]
    state_rows = state_mem = dropped = 0
    for p in progs:
        for op in p.get("stateOperators", []):
            state_rows = max(state_rows, op.get("numRowsTotal", 0))
            state_mem = max(state_mem, op.get("memoryUsedBytes", 0))
            dropped += op.get("numRowsDroppedByWatermark", 0)
    return {
        "micro_batches": len(with_rows),
        "total_input_rows": sum(p["numInputRows"] for p in with_rows),
        "max_batch_ms": max(durations, default=0),
        "mean_batch_ms": round(sum(durations) / len(durations), 1)
        if durations
        else 0,
        "peak_state_rows": state_rows,
        "peak_state_memory_bytes": state_mem,
        "rows_dropped_by_watermark": dropped,
    }


def _drain(sdf, name: str, mode: str, timeout_s: int = 600):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    stats = _progress_stats(q)
    q.stop()
    return stats


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import pyspark.sql.functions as F

    from teste_carga_avro_vs_json_spark.session import get_spark, load_table
    from teste_carga_avro_vs_json_spark.streaming import (
        stream_dedup,
        stream_stream_join,
    )
    from teste_carga_avro_vs_json_spark.streaming.stateful import (
        auditoria_sequencia,
    )

    spark = get_spark("stress-streaming")
    spark.sparkContext.setLogLevel("ERROR")

    out: dict = {
        "replicas": replicas,
        "sf_dir": sf_dir,
        "cpus": spark.sparkContext.defaultParallelism,
        "driver_mem": spark.conf.get("spark.driver.memory"),
    }
    base = tempfile.mkdtemp(prefix="stress_streaming_")
    rep = spark.range(replicas).select(F.col("id").alias("replica"))

    try:
        # ---------------------------------------------- 1. stream dedup
        # 30x distinct keys, each written TWICE (at-least-once source);
        # exactly-once output = replicas * docs rows. 30 files drained
        # 5 per micro-batch, so fingerprint state must survive ~12
        # batch boundaries.
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        n_docs = docs.count()
        keys = docs.crossJoin(F.broadcast(rep)).select(
            (F.col("doc_id") + F.col("replica") * 10_000_000).alias("doc_id"),
            "text",
        )
        wire = keys.select(F.to_json(F.struct("doc_id", "text")).alias("value"))
        dedup_path = f"{base}/dedup"
        wire.unionByName(wire).repartition(30).write.mode("overwrite").format(
            "text"
        ).save(dedup_path)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "5")
            .json(dedup_path)
            .withColumn("fp", F.md5(F.concat_ws("|", "doc_id", "text")))
            .withColumn(
                "ev",
                F.timestamp_seconds(
                    F.lit(1704067200) + F.col("doc_id") % 1_000_000
                ),
            )
        )
        t0 = time.perf_counter()
        stats = _drain(
            stream_dedup(stream, ["fp"], "ev", delay="30 days").select(
                "doc_id", "fp"
            ),
            "stress_dedup",
            "append",
        )
        got = spark.table("stress_dedup").count()
        expect = n_docs * replicas
        out["stream_dedup"] = {
            "wall_sec": round(time.perf_counter() - t0, 2),
            "input_rows": expect * 2,
            "output_rows": got,
            "exactly_once": got == expect,
            **stats,
        }

        # ------------- 2. stream-stream join, worst-case-delay shape
        # (NEGATIVE CONTROL since r9 — see the artifact note below)
        # Disjoint user_id spaces per replica: output must be exactly
        # 30x the base join size; click-side state carries 30x rows.
        ev = load_table(spark, sf_dir, "events")
        join_base = f"{base}/join"
        for etype, idcol, mscol, sub in (
            ("purchase", "purchase_id", "p_ms", "p"),
            ("click", "click_id", "c_ms", "c"),
        ):
            side = (
                ev.filter(F.col("event_type") == etype)
                .crossJoin(F.broadcast(rep))
                .select(
                    (F.col("event_id") + F.col("replica") * 100_000_000).alias(
                        idcol
                    ),
                    (F.col("user_id") + F.col("replica") * 10_000_000).alias(
                        "user_id"
                    ),
                    F.expr("ts div 1000000").alias(mscol),
                )
            )
            side.repartition(20).write.mode("overwrite").parquet(
                f"{join_base}/{sub}"
            )
        # base join size for the exactness check (batch, same predicate)
        bp = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", F.expr("ts div 1000000").alias("p_ms")
        )
        bc = ev.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user"),
            F.expr("ts div 1000000").alias("c_ms"),
        )
        base_pairs = bp.join(
            bc,
            (bp.user_id == bc.c_user)
            & (bc.c_ms <= bp.p_ms)
            & (bc.c_ms >= bp.p_ms - 86_400_000),
        ).count()
        p = (
            spark.readStream.schema("purchase_id long, user_id long, p_ms long")
            .option("maxFilesPerTrigger", "4")
            .parquet(f"{join_base}/p")
            .withColumn("p_ts", F.timestamp_millis("p_ms"))
        )
        c = (
            spark.readStream.schema("click_id long, user_id long, c_ms long")
            .option("maxFilesPerTrigger", "4")
            .parquet(f"{join_base}/c")
            .withColumn("c_ts", F.timestamp_millis("c_ms"))
        )
        t0 = time.perf_counter()
        stats = _drain(
            stream_stream_join(
                p, c, "user_id", "p_ts", "c_ts",
                max_gap="24 hours", delay="30 days",
            ).select("purchase_id", "click_id"),
            "stress_join",
            "append",
        )
        got = spark.table("stress_join").count()
        # r9 (VERDICT wrong #3): this shape is the documented NEGATIVE
        # CONTROL, not the headline — its 30-day delay spans the whole
        # fixture event span, so the watermark passes nothing and
        # peak_state_rows == total input BY WATERMARK SEMANTICS. It
        # proves exactness under a worst-case delay. The headline
        # `stream_stream_join` lane below proves bounded state.
        out["stream_stream_join_delay_spans_data"] = {
            "wall_sec": round(time.perf_counter() - t0, 2),
            "base_pairs": base_pairs,
            "output_rows": got,
            "exactly_30x": got == base_pairs * replicas,
            "note": (
                "negative control: delay (30d) >= fixture event span, "
                "watermark never passes data, state == input by design"
            ),
            **stats,
        }

        # ------- 2b. join state EVICTION proof == HEADLINE join lane
        # since r9 (r8 lane, promoted per VERDICT r8 wrong-#3/order-#3;
        # item 5). Lane 2's 30-day watermark delay ≈ the fixture's FULL
        # event span, so the watermark never passed anything and
        # peak_state_rows == total input (the r7 finding) — that lane
        # proves exactness under a worst-case delay, not eviction.
        # Here: the same disjoint-user join with a 1-hour delay and
        # time-ordered ingestion — both sides bucketed into `n_buckets`
        # event-time ranges, each bucket written as its own files with
        # FORCED monotone mod-times (the file source orders by mod
        # time), so the watermark advances mid-run and Spark drops
        # click state once it passes c_ts + max_gap. Output must STILL
        # be exactly 30x: ordered ingestion means eviction only removes
        # rows no future purchase can match.
        n_buckets = 10
        evict_base = f"{base}/join_evict"
        b_ms = ev.agg(
            F.min(F.expr("ts div 1000000")).alias("mn"),
            F.max(F.expr("ts div 1000000")).alias("mx"),
        ).first()
        mn_ms, span_ms = b_ms.mn, b_ms.mx - b_ms.mn + 1
        mt = time.time() - 3600
        for etype, idcol, mscol, sub in (
            ("purchase", "purchase_id", "p_ms", "p"),
            ("click", "click_id", "c_ms", "c"),
        ):
            side = (
                ev.filter(F.col("event_type") == etype)
                .crossJoin(F.broadcast(rep))
                .select(
                    (F.col("event_id") + F.col("replica") * 100_000_000)
                    .alias(idcol),
                    (F.col("user_id") + F.col("replica") * 10_000_000)
                    .alias("user_id"),
                    F.expr("ts div 1000000").alias(mscol),
                )
                .withColumn(
                    "bucket",
                    (
                        (F.col(mscol) - F.lit(mn_ms))
                        * n_buckets
                        / F.lit(span_ms)
                    ).cast("int"),
                )
            )
            side.persist().count()
            for b in range(n_buckets):
                d = f"{evict_base}/{sub}/b{b:02d}"
                side.filter(F.col("bucket") == b).drop("bucket").coalesce(
                    2
                ).write.mode("overwrite").parquet(d)
                # monotone mod-times: bucket b strictly older than b+1
                for fn in os.listdir(d):
                    if fn.endswith(".parquet"):
                        os.utime(f"{d}/{fn}", (mt + b, mt + b))
            side.unpersist()
        pe = (
            spark.readStream.schema(
                "purchase_id long, user_id long, p_ms long"
            )
            .option("maxFilesPerTrigger", "2")
            .parquet(f"{evict_base}/p/b*")
            .withColumn("p_ts", F.timestamp_millis("p_ms"))
        )
        ce = (
            spark.readStream.schema("click_id long, user_id long, c_ms long")
            .option("maxFilesPerTrigger", "2")
            .parquet(f"{evict_base}/c/b*")
            .withColumn("c_ts", F.timestamp_millis("c_ms"))
        )
        t0 = time.perf_counter()
        stats = _drain(
            stream_stream_join(
                pe, ce, "user_id", "p_ts", "c_ts",
                max_gap="24 hours", delay="1 hour",
            ).select("purchase_id", "click_id"),
            "stress_join_evict",
            "append",
        )
        got = spark.table("stress_join_evict").count()
        # HEADLINE join lane (r9 swap): time-ordered ingestion with a
        # realistic 1-h delay — the shape a production stream actually
        # has — proving output exactness AND bounded state together.
        out["stream_stream_join"] = {
            "wall_sec": round(time.perf_counter() - t0, 2),
            "base_pairs": base_pairs,
            "output_rows": got,
            "exactly_30x": got == base_pairs * replicas,
            "state_rows_over_input": round(
                stats["peak_state_rows"]
                / max(stats["total_input_rows"], 1),
                4,
            ),
            "state_evicted": stats["peak_state_rows"]
            < stats["total_input_rows"] // 2,
            **stats,
        }

        # ------------------------------------------- 3. sequence audit
        # 30x sequences over 18 partitions, ~1% dropped; state stays
        # O(1) per partition (applyInPandasWithState).
        n_seq = 100_000 * replicas
        drop = 97
        parts = 18
        seqs = (
            spark.range(1, n_seq + 1)
            .select(F.col("id").alias("sequencia"))
            .filter(F.col("sequencia") % drop != 0)
            .select(
                ((F.col("sequencia") - 1) % parts).cast("int").alias("particao"),
                "sequencia",
            )
        )
        audit_path = f"{base}/audit"
        seqs.repartition(24).write.mode("overwrite").parquet(audit_path)
        stream = (
            spark.readStream.schema("particao int, sequencia long")
            .option("maxFilesPerTrigger", "6")
            .parquet(audit_path)
        )
        t0 = time.perf_counter()
        stats = _drain(
            auditoria_sequencia(stream, parts), "stress_audit", "update"
        )
        final = (
            spark.table("stress_audit")
            .groupBy("particao")
            .agg(F.max("total_linhas").alias("total"))
            .agg(F.sum("total").alias("t"))
            .first()
        )
        expect_rows = n_seq - n_seq // drop
        out["stream_sequence_audit"] = {
            "wall_sec": round(time.perf_counter() - t0, 2),
            "input_rows": expect_rows,
            "audited_rows": int(final.t),
            "complete": int(final.t) == expect_rows,
            **stats,
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)

    try:
        out["loadavg_1m"] = round(os.getloadavg()[0], 1)
    except OSError:
        pass
    ok = (
        out["stream_dedup"]["exactly_once"]
        and out["stream_stream_join_delay_spans_data"]["exactly_30x"]
        and out["stream_stream_join"]["exactly_30x"]
        and out["stream_stream_join"]["state_evicted"]
        and out["stream_sequence_audit"]["complete"]
    )
    out["all_exact"] = ok
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
