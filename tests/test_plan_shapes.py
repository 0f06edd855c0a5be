"""Physical-plan shape assertions — the 100 TB design contract.

These tests pin the *plan*, not the result: filters reach the parquet
scan, small sides broadcast, generation never shuffles, the JSON serde
path stays inside whole-stage codegen. A regression here is a silent
10-100x at cluster scale even when results stay correct.
"""

import pyspark.sql.functions as F
import pytest

from teste_carga_avro_vs_json_spark.session import load_table

from teste_carga_avro_vs_json_spark.operators import dedup, metrics, routing, serde, similarity
from teste_carga_avro_vs_json_spark.plans import audit, compact_plan as _plan, formatted_plan as _formatted
from teste_carga_avro_vs_json_spark.sources import generator, io_kafka


def test_warmup_filter_pushed_to_scan(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    out = metrics.warmup_filter(ev, 100, seq_col="event_id")
    plan = _formatted(out)
    assert "PushedFilters: [IsNotNull(event_id), GreaterThan(event_id,100)" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = docs.select("doc_id")
    plan = _formatted(out)
    assert "ReadSchema: struct<doc_id:bigint>" in plan


def test_generator_has_no_shuffle_no_python(spark):
    msgs = generator.mensagens(spark, 1000, tamanho_kb=1)
    plan = _plan(msgs)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # '*(n)' marks whole-stage-codegen spans in the compact plan; the
    # array-of-struct transform itself is a HOF (not codegen-eligible,
    # still JVM) so only Range carries the marker
    assert "*(" in plan


def test_json_serde_is_jvm_only(spark):
    msgs = generator.mensagens(spark, 1000, tamanho_kb=1)
    rt = serde.json_roundtrip(msgs)
    plan = _plan(rt)
    assert "Exchange" not in plan
    assert "EvalPython" not in plan  # pure to_json/from_json


@pytest.mark.parametrize(
    "build",
    [
        serde.avro_encode,
        lambda m: serde.avro_decode(serde.avro_encode(m)),
        serde.avro_roundtrip,
        serde.payload_sizes,
    ],
    ids=["encode", "decode_of_encode", "roundtrip", "payload_sizes"],
)
def test_avro_serde_is_one_arrow_udf_node(spark, build):
    """The Avro path is the arrow_udf codec only: one ArrowEvalPython
    node per plan (Spark merges a chained encode->decode into one), no
    row-at-a-time BatchEvalPython, no shuffle."""
    msgs = generator.mensagens(spark, 1000, tamanho_kb=1)
    plan = _plan(build(msgs))
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan
    if build is serde.avro_roundtrip:
        assert "avro_roundtrip_vec" in plan


def test_tail_n_join_is_broadcast(spark):
    msgs = generator.mensagens(spark, 500, tamanho_kb=1).select("sequencia")
    transporte = routing.with_offsets(routing.route(msgs, 18))
    kept = routing.tail_n(transporte, 100, 18)
    plan = _plan(kept)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cosine_topk_broadcasts_queries(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = similarity.cosine_topk(emb)
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_minhash_join_is_keyed_not_cross(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dedup.minhash_lsh_candidates_scale(docs)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # equi-join on band_key


def test_minhash_candidate_joins_never_broadcast_or_carry_arrays(spark, sf_dir):
    """The 100 TB pins for the LSH tail (measured on a 10x high-dup
    corpus: any violation OOMs):

    1. every join is a ShuffledHashJoin — Catalyst's size estimates for
       array intermediates are unreliable and a broadcast of a
       corpus-sized side is a driver OOM;
    2. the band self-join exchanges move ONLY (doc_id, band_key) —
       shingle arrays must not ride the candidate join;
    3. the expensive shingle/signature projections are computed once
       into caches (InMemoryTableScan on every reader).
    """
    import re

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = dedup.minhash_lsh_candidates_scale(docs)
    df.collect()
    plan = _plan(df)
    assert "BroadcastHashJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("ShuffledHashJoin") >= 3
    assert "InMemoryTableScan" in plan
    # r6 exchange pin: with base cached hash-partitioned on doc_id and
    # the banding frame cached on band_key, the band self-join and BOTH
    # shingle-fetch joins are exchange-free — the only shuffles a run
    # (with warm caches) executes are the pair-dedup collect_set keyed
    # on doc_a (whose exchange doubles as the fetch-join probe, r5) and
    # the candidate stream re-key on doc_b. Counted by tree walk
    # (plans.executed_exchanges), which excludes cache-build exchanges.
    from teste_carga_avro_vs_json_spark import plans

    fresh = dedup.minhash_lsh_candidates_scale(docs)
    assert plans.audit(fresh).exchanges <= 2
    # band-key exchanges' inputs are the slim cached banding frame
    for m in re.finditer(r"Exchange hashpartitioning\(band_key[^\n]*\n\s+\+- InMemoryTableScan \[([^\]]*)\]", plan):
        assert "sh" not in m.group(1)


def test_token_budget_sample_windows_are_partitioned(spark, sf_dir):
    """The running-total windows over DATA rows must be partitioned by
    bucket (parallel); the only unpartitioned window is over the
    n_buckets-row offsets frame. The offsets join must broadcast."""
    from teste_carga_avro_vs_json_spark.operators import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(corpus.token_budget_sample(docs))
    window_lines = [ln for ln in plan.splitlines() if "Window " in ln]
    partitioned = [ln for ln in window_lines if "bucket" in ln.split("], [")[1]]
    assert partitioned, f"no bucket-partitioned window in:\n{window_lines}"
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pack_sequences_windows_are_partitioned(spark, sf_dir):
    """Same distributed-prefix-sum contract as token_budget_sample: the
    running-total windows over DATA rows must be bucket-partitioned
    (parallel); the only unpartitioned window is the n_buckets-row
    offsets frame; the offsets join must broadcast."""
    from teste_carga_avro_vs_json_spark.operators import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(corpus.pack_sequences(docs, seq_len=512))
    window_lines = [ln for ln in plan.splitlines() if "Window " in ln]
    partitioned = [ln for ln in window_lines if "bucket" in ln.split("], [")[1]]
    assert partitioned, f"no bucket-partitioned window in:\n{window_lines}"
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_no_expensive_expressions_in_filters(spark, sf_dir):
    """Catalyst substitutes aliased expressions into any Filter it
    pushes through a Project, with no cost model — a gate over scored
    columns silently re-runs the whole scoring tree per input row (the
    corpus_clean gate paid ~16x its scoring cost before r7; the
    registros_flat explode and the IVF join key each paid 2x via
    inferred size()/isnotnull() filters). Pin the previously-affected
    plans to zero Filter nodes evaluating HOF-lambda/regex/split
    expressions (plans.expensive_filter_nodes)."""
    from teste_carga_avro_vs_json_spark.operators import corpus
    from teste_carga_avro_vs_json_spark.plans import expensive_filter_nodes

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    msgs = generator.mensagens(spark, 200, tamanho_kb=1)
    cases = {
        "registros_flat": generator.registros_flat(msgs),
        "json_roundtrip_flat": generator.registros_flat(
            serde.json_roundtrip(msgs)
        ),
        "corpus_clean": corpus.corpus_clean(docs),
        "ivf_topk": similarity.ivf_topk(emb),
    }
    for name, df in cases.items():
        hits = expensive_filter_nodes(df)
        assert not hits, f"{name} grew an expensive filter: {hits}"


def test_corpus_clean_dedup_is_hash_agg_not_window(spark, sf_dir):
    """Exact dedup inside corpus_clean must stay a hash aggregation on
    md5(text) — partial agg collapses duplicate texts map-side BEFORE
    the shuffle and nothing sorts. A row_number() window formulation
    (the pre-r7 shape) shuffles every gated row AND pays a
    per-partition sort at 100 TB."""
    from teste_carga_avro_vs_json_spark.operators import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(corpus.gated_unique(docs))
    assert "Window" not in plan
    assert "Sort " not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_decontaminate_plan_shape(spark, sf_dir):
    """The test-gram side must arrive as a broadcast (an eval suite is
    tiny next to a training corpus), the probe must be a hash join on
    the gram key — never a doc x doc product — and shingling must not
    leak into a pushed-down filter."""
    from teste_carga_avro_vs_json_spark.operators import decontam
    from teste_carga_avro_vs_json_spark.plans import expensive_filter_nodes

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = decontam.decontaminate(
        docs.filter(F.col("doc_id") % 17 != 0),
        docs.filter(F.col("doc_id") % 17 == 0),
        n=5,
    )
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert not expensive_filter_nodes(out)


def test_corpus_clean_drop_list_keyed_anti_join(spark, sf_dir):
    """Near-dup removal must be a KEYED anti-join on doc_id — never a
    cartesian/nested-loop. The drop-list side is deliberately NOT
    force-broadcast: AQE upgrades it to broadcast at runtime when small
    (the typical case), but a pathological corpus (very high dup rate)
    can make it too big to broadcast, and the keyed shuffle join is the
    correct fallback."""
    from teste_carga_avro_vs_json_spark.operators import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(corpus.corpus_clean(docs))
    assert "LeftAnti" in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_metrics_agg_is_partial_final(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("sequencia"),
        F.length("props").cast("long").alias("tamanho_bytes"),
        (F.col("event_type") != "error").alias("sucesso"),
        F.expr("ts div 1000000").alias("ts_ms"),
    )
    plan = _plan(metrics.metricas_agg(ev))
    # partial agg before the exchange, final after: two HashAggregate nodes
    assert plan.count("HashAggregate") >= 2


# ------------------------------------------------------ kafka offset math
def test_tail_n_offsets_matches_reference_formula():
    # ConsumidorAvro.java:163-180: start = max(begin, end - ceil(target/P))
    begins = {0: 5, 1: 0, 2: 0}
    ends = {0: 100, 1: 30, 2: 7}
    # target 60 over 3 partitions -> 20 per partition
    assert io_kafka.tail_n_offsets(begins, ends, 60) == {0: 80, 1: 10, 2: 0}


def test_tail_n_offsets_floor_at_begin():
    assert io_kafka.tail_n_offsets({0: 0}, {0: 3}, 1000) == {0: 0}


def test_starting_offsets_json_shape():
    s = io_kafka.starting_offsets_tail_n("t", {0: 0, 1: 0}, {0: 10, 1: 10}, 10)
    import json

    assert json.loads(s) == {"t": {"0": 5, "1": 5}}


def test_audit_flags_cartesian(spark):
    a = spark.range(5)
    b = spark.range(5).toDF("j")
    aud = audit(a.crossJoin(b))
    assert aud.cartesian >= 1 or aud.bnl_joins >= 1
    assert aud.warnings if aud.cartesian else True
    assert audit(a.join(b, a.id == b.j)).cartesian == 0


# --------------------------------------------- scan-local corpus passes
def test_pii_scrub_is_shuffle_free(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.operators import text as t

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(t.pii_scrub(docs))
    assert "Exchange" not in plan


def test_intra_doc_dedup_is_shuffle_free(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.operators import corpus as c

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(c.intra_doc_dedup(docs))
    assert "Exchange" not in plan


def test_repetition_profile_is_shuffle_free(spark, sf_dir):
    """The gram multiset is counted ROW-LOCALLY (sorted-array fold),
    never via explode + groupBy(doc_id, gram) — zero Exchange, no
    Python, and no expensive expression leaked into a Filter."""
    from teste_carga_avro_vs_json_spark.operators import text as t
    from teste_carga_avro_vs_json_spark.plans import expensive_filter_nodes

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = t.repetition_profile(docs)
    plan = _plan(out)
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
    assert expensive_filter_nodes(out) == []


def test_corpus_mix_is_scan_local(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.operators import corpus as c

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(c.corpus_mix(docs, {"src0": 50, "src1": 10}))
    assert "Exchange" not in plan


def test_asof_attribution_never_range_joins(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.operators import asof as a

    ev = load_table(spark, sf_dir, "events")
    plan = _plan(a.attribution(ev))
    # the whole point: one keyed window, never a range-predicate join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sessionize_single_data_shuffle(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.operators import asof as a

    ev = load_table(spark, sf_dir, "events")
    plan = _plan(a.sessionize(ev))
    # one hashpartitioning(user_id) exchange feeds BOTH windows and the
    # session agg (its (user,session) requirement is satisfied); the
    # only other exchange is the final presentation orderBy.
    assert plan.count("Exchange hashpartitioning") == 1


def test_interval_join_is_equi_join_not_nested_loop(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.operators import asof as a

    ev = load_table(spark, sf_dir, "events")
    plan = _plan(a.error_sessions(ev))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the interval side is post-window (sessionize output): Catalyst's
    # size estimate there is untrustworthy, so the equi-join is pinned
    # shuffle_hash — a broadcast of sessions is data-sized at scale
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_bucketed_join_has_zero_exchange(spark, sf_dir, tmp_path):
    """The materialized-shuffle contract: an equi-join of two tables
    co-bucketed on the join key must plan with NO Exchange on either
    side even when neither side is broadcastable (threshold disabled =
    the 100 TB case), reading via bucketed scans."""
    import pyspark.sql.functions as F

    from teste_carga_avro_vs_json_spark.sources import bucketed

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    bucketed.write_bucketed(docs, "t_bj_docs", str(tmp_path / "d"), "doc_id", 4)
    bucketed.write_bucketed(emb, "t_bj_emb", str(tmp_path / "e"), "doc_id", 4)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(bucketed.bucketed_join(spark, "t_bj_docs", "t_bj_emb", "doc_id"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Exchange" not in plan
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan


# --------------------------------------------- star-schema analytics
def test_pricing_summary_pushes_filter_and_partial_aggs(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.operators import analytics as an

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plan = _formatted(an.pricing_summary(li))
    # date filter reaches the parquet scan; 7-column projection pruned
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert "l_partkey" not in plan.split("ReadSchema")[1].splitlines()[0]
    assert plan.count("HashAggregate") >= 2  # map-side partial before shuffle


def test_star_join_broadcasts_dims_only(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.operators import analytics as an

    out = an.star_revenue(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/customer.parquet"),
        spark.read.parquet(f"{sf_dir}/nation.parquet"),
        spark.read.parquet(f"{sf_dir}/region.parquet"),
    )
    plan = _plan(out)
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "BroadcastHashJoin" in plan  # region/nation dims
    fmt = _formatted(out)
    # the orders date filter reaches its scan, not the post-join filter
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in fmt


def test_anti_join_probe_side_projects_key_only(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.operators import analytics as an

    out = an.orders_without_items(
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
    )
    plan = _plan(out)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    fmt = _formatted(out)
    # lineitem scan reads ONLY the join key
    assert "ReadSchema: struct<l_orderkey:bigint>" in fmt


def test_rollup_is_single_shuffle_expand(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.operators import analytics as an

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    plan = _plan(an.rollup_report(orders))
    assert "Expand" in plan  # grouping sets expand map-side
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("HashAggregate") >= 2


def test_topk_per_group_single_keyed_shuffle(spark, sf_dir):
    from teste_carga_avro_vs_json_spark.operators import analytics as an

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    plan = _plan(an.topk_per_group(orders))
    assert plan.count("Exchange hashpartitioning") == 1
    window_lines = [ln for ln in plan.splitlines() if "Window " in ln]
    assert all("o_orderpriority" in ln for ln in window_lines)


def test_semantic_dedup_plan_shape(spark, sf_dir):
    """SemDeDup's scale contract: candidate pairs form ONLY via the
    cluster-keyed self-join — never a cartesian/BNL — the join is a
    pinned ShuffledHashJoin (array payloads make Catalyst size
    estimates untrustworthy, same mis-broadcast guard as the LSH
    tail), no expensive expression leaks into a Filter, and the two
    aliased sides of the self-join resolve to ONE executed
    cluster-Exchange (ReusedExchange: the corpus is scanned and
    cluster-assigned once, not twice)."""
    from teste_carga_avro_vs_json_spark.plans import (
        audit,
        expensive_filter_nodes,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = similarity.semantic_dedup(emb)
    plan = _plan(out)
    aud = audit(out)
    assert aud.cartesian == 0 and aud.bnl_joins == 0
    assert plan.count("ShuffledHashJoin") == 1
    assert expensive_filter_nodes(out) == []
    out.collect()
    executed = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed


def test_lsh_ann_dedup_carries_ids_only(spark, sf_dir):
    """Ids-first pins for the LSH ANN tail (mirrors the MinHash rule):
    the pair-dedup aggregate (collect_set of query ids keyed by vec_id,
    fused with the re-fetch join's partitioning) must not carry vector
    payloads, and the post-dedup corpus vector fetch is a pinned
    ShuffledHashJoin (never a Catalyst-estimated broadcast of the
    corpus side). The dedup exchange and the join probe-side exchange
    must be the SAME single vec_id exchange (fusion pin)."""
    import re

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = _plan(similarity.lsh_ann_topk(emb))
    assert "ShuffledHashJoin" in plan
    agg_lines = [
        ln for ln in plan.splitlines()
        if "HashAggregate(keys=[vec_id" in ln
    ]
    assert agg_lines, "pair-dedup HashAggregate not found"
    for ln in agg_lines:
        assert "qvec" not in ln
        assert not re.search(r"\bvec#\d", ln), f"vector rides dedup: {ln}"
    # fusion: pairs are exchanged on vec_id exactly once (dedup == join
    # partitioning); a dropDuplicates formulation would show two
    assert len(re.findall(r"Exchange hashpartitioning\(vec_id", plan)) == 2, (
        "expected exactly 2 vec_id exchanges (fused dedup+probe, corpus "
        "build side)"
    )


def test_lsh_ann_buckets_the_corpus_once(spark, sf_dir, monkeypatch):
    """Both join sides of the vectorized LSH ANN read one bucketed
    frame: a pushed-down query filter must not make the bucketing UDF
    run again over the query rows. A counting Arrow UDF chained into
    the bucketer's input sees exactly the rows the bucketing UDF
    evaluates; it must see each corpus vector once."""
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf

    seen = spark.sparkContext.accumulator(0)

    @arrow_udf("array<double>")
    def counted(v: pa.Array) -> pa.Array:
        seen.add(len(v))
        return v

    bucket_np = similarity.lsh_bucket_np

    def counting_bucketer(emb, *args):
        return bucket_np(
            emb.select("vec_id", counted(F.col("embedding").cast(
                "array<double>")).alias("embedding")),
            *args,
        )

    monkeypatch.setattr(similarity, "lsh_bucket_np", counting_bucketer)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assert similarity.lsh_ann_topk(emb, vectorized=True).count() > 0
    assert seen.value == emb.count()


def test_gopher_rules_is_shuffle_free(spark, sf_dir):
    """r11 window promotion pin: the Gopher document-shape gate is a
    zero-shuffle integer-rule projection — no Exchange, no Python, no
    expensive expression leaked into a Filter."""
    from teste_carga_avro_vs_json_spark import registry
    from teste_carga_avro_vs_json_spark.plans import expensive_filter_nodes

    out = registry.q_gopher_rules(spark, sf_dir)
    plan = _plan(out)
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
    assert expensive_filter_nodes(out) == []


def test_chunk_sentences_single_doc_shuffle(spark, sf_dir):
    """r11 window promotion pin: the prefix-sum window, the (doc,
    chunk) aggregation and the per-doc n_chunks window all REUSE one
    doc_id-keyed Exchange (doc_id is a prefix of every key) — exactly
    ONE shuffle, no Python, no expensive filter."""
    import re

    from teste_carga_avro_vs_json_spark import registry
    from teste_carga_avro_vs_json_spark.plans import expensive_filter_nodes

    out = registry.q_chunk_sentences(spark, sf_dir)
    plan = _plan(out)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "EvalPython" not in plan
    assert expensive_filter_nodes(out) == []


def test_hard_negatives_plan_shape(spark, sf_dir):
    """r12 window promotion pin: DPR hard-negative mining keeps the
    BM25 scale contract — query terms BROADCAST into the exploded
    token stream (never a shuffled or cartesian join), the per-query
    ranking runs as a WindowGroupLimit (partial top-k before the
    q_id exchange, not a full per-group sort), no Python, no
    expensive filter."""
    from teste_carga_avro_vs_json_spark import registry
    from teste_carga_avro_vs_json_spark.plans import expensive_filter_nodes

    out = registry.q_hard_negatives(spark, sf_dir)
    plan = _plan(out)
    aud = audit(out)
    assert aud.cartesian == 0 and aud.bnl_joins == 0
    assert "BroadcastHashJoin" in plan
    assert "ShuffledHashJoin" not in plan
    assert "WindowGroupLimit" in plan
    assert "EvalPython" not in plan
    assert expensive_filter_nodes(out) == []


def test_cluster_sample_plan_shape(spark, sf_dir):
    """r12 window promotion pin: cluster-balanced sampling assigns
    k-means clusters as a JVM expression projection (no Python in the
    registry plan — the numpy twin is the scale path), joins the tiny
    per-cluster quota frame via BROADCAST, and ranks within cluster
    over at most TWO keyed exchanges (quota build + final window —
    the corpus is never reshuffled twice)."""
    import re

    from teste_carga_avro_vs_json_spark import registry
    from teste_carga_avro_vs_json_spark.plans import expensive_filter_nodes

    out = registry.q_cluster_sample(spark, sf_dir)
    plan = _plan(out)
    aud = audit(out)
    assert aud.cartesian == 0 and aud.bnl_joins == 0
    assert "BroadcastHashJoin" in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 2, plan
    assert "EvalPython" not in plan
    assert expensive_filter_nodes(out) == []
