"""Avro-vs-JSON load benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload messages --seed 1 --seconds 5 --trace 0

``--trace 0`` is a timed run with no instrumentation; its last stdout
line carries the end-to-end metrics. ``--trace 1`` is the traced run:
the timed run's round, then one round with spans, py4j counting and
Spark-store readers, the per-layer ladder and one untraced round; its
last line carries the per-layer metrics and the spans go to
``perfbench/out/trace-<workload>-<seed>.json``. Run from the root of a
checkout; the package is imported from there.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
EXPECTED = os.path.join(HERE, "expected.json")
SETUP_CYCLES = 3

# Modules whose public calls the traced run wraps in spans.
PACKAGE = "teste_carga_avro_vs_json_spark"
TRACED = {
    "sources.generator": ["mensagens_from_seq", "registros_flat"],
    "operators.serde": ["json_encode", "json_decode", "json_roundtrip",
                        "avro_encode", "avro_decode", "avro_roundtrip"],
    "operators.routing": ["route", "size_estimate"],
    "operators.metrics": ["registrar", "metricas_agg", "relatorio"],
    "sources.io_files": ["write_json", "read_json", "write_avro", "read_avro"],
    "pipelines": ["build_training_corpus"],
    "operators.dedup": ["exact_dedup_scale", "neardup_clusters", "minhash_lsh_candidates_scale"],
    "operators.similarity": ["multi_kmeans", "ivf_pq_topk", "lsh_ann_topk"],
}


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_round(phases) -> dict:
    """Every phase once, back to back: name -> (seconds, output)."""
    out = {}
    for ph in phases:
        t = time.perf_counter()
        res = ph.run()
        out[ph.name] = (time.perf_counter() - t, res)
    return out


def timed_rounds(phases, seconds: float) -> list[dict]:
    """Closed loop: whole rounds until ``seconds`` have elapsed."""
    rounds: list[dict] = []
    t0 = time.perf_counter()
    while not rounds or time.perf_counter() - t0 < seconds:
        rounds.append(run_round(phases))
    return rounds


def check_rounds(phases, rounds) -> tuple[int, list[str]]:
    attempted, failures = 0, []
    by_name = {ph.name: ph for ph in phases}
    for r in rounds:
        for name, (_dt, out) in r.items():
            attempted += 1
            failures += [f"{name}: {m}" for m in by_name[name].check(out)]
    return attempted, failures


def prepare(wl) -> float:
    """Input preparation, repeated SETUP_CYCLES times; returns the median."""
    prep = []
    for _ in range(SETUP_CYCLES):
        t = time.perf_counter()
        wl.prepare()
        prep.append(time.perf_counter() - t)
    return statistics.median(prep)


def traced_round(ctx, wl, phases, reader):
    """One round under spans, py4j counting and per-phase job groups."""
    from spans import Py4jCounter, Tracer

    tracer = Tracer(f"{wl.name}-{ctx.seed}")
    counter = Py4jCounter()
    del ctx.acted[:]
    rnd: dict = {}
    per_phase: dict[str, dict] = {}
    for name, fns in TRACED.items():
        tracer.wrap(importlib.import_module(f"{PACKAGE}.{name}"), fns, name.rsplit(".", 1)[-1])
    counter.install()
    ctx.tracer = tracer
    try:
        with tracer.span("round", kind="round") as root:
            for ph in phases:
                calls0 = counter.calls
                with reader.job_group(f"trace:{ph.name}"), \
                        tracer.span(f"phase.{ph.name}", kind="phase") as s:
                    res = ph.run()
                rnd[ph.name] = (s["end"] - s["start"], res)
                per_phase[ph.name] = {"wall_s": s["end"] - s["start"],
                                      "py4j_calls": counter.calls - calls0}
    finally:
        ctx.tracer = None
        counter.uninstall()
        tracer.unwrap()
    for name, block in per_phase.items():
        block["exec"] = reader.exec_metrics(f"trace:{name}", block["wall_s"], ctx.cores)
        block["arrow"] = reader.python_metrics(f"trace:{name}")
    return rnd, per_phase, tracer, root


def layer_metrics(ctx, wl, phases, reader):
    """Per-layer metrics: the traced round, the ladder and the stores."""
    from spans import SparkReader

    rnd, per_phase, tracer, root = traced_round(ctx, wl, phases, reader)
    n_round_spans = len(tracer.spans)
    own = tracer.self_times()
    round_s = root["end"] - root["start"]
    m: dict[str, float] = {
        "trace.round_s": round_s,
        # time inside the round that no module call or Spark action covers
        "trace.unexplained_s": sum(own[s["id"]] for s in tracer.spans
                                   if s["kind"] in ("round", "phase")),
    }
    job_s = sum(b["exec"]["job_s"] for b in per_phase.values())
    m["spark.plan.py4j_calls"] = float(sum(b["py4j_calls"] for b in per_phase.values()))
    m["spark.plan.build_s"] = max(0.0, round_s - job_s)
    for df in ctx.acted:
        for k, v in SparkReader.plan_phases(df).items():
            m[f"spark.plan.{k}_s"] = m.get(f"spark.plan.{k}_s", 0.0) + v
    for block in per_phase.values():
        for group in ("exec", "arrow"):
            for k, v in block[group].items():
                key = f"spark.{group}.{k}"
                m[key] = m.get(key, 0.0) + v
    tot = tracer.totals()

    def call_s(name):
        return tot.get(name, {}).get("dur_s", 0.0)

    for fmt in ("json", "avro"):
        m[f"io_files.write_{fmt}_s"] = call_s(f"io_files.write_{fmt}")
    m["similarity.kmeans_s"] = call_s("similarity.multi_kmeans")
    m["similarity.ivf_pq_s"] = per_phase.get("ivf_pq", {}).get("wall_s", 0.0)
    m["similarity.lsh_ann_s"] = per_phase.get("lsh_ann", {}).get("wall_s", 0.0)
    m.update(wl.layers(tracer, reader))
    blocking = {}
    for s in tracer.spans[root["id"]:n_round_spans]:
        blocking[s["name"]] = blocking.get(s["name"], 0.0) + own[s["id"]]
        parent = tracer.spans[s["parent"]] if s["parent"] is not None else None
        if parent and parent["kind"] == "phase" and s["name"] != "spark.action":
            block = per_phase[parent["name"].removeprefix("phase.")]
            block["module_calls"] = block.get("module_calls", 0) + 1
    detail = {
        "phases": per_phase,
        "self_time_by_span": blocking,
        "self_time_sum_s": sum(blocking.values()),
        "round_wall_s": round_s,
    }
    return m, rnd, detail, tracer


def run_workload(spark, stamp, name, seed, seconds, trace, scale=1.0,
                 session_start_s=0.0, mutate=None) -> dict:
    """Set up, run and check one workload on a live session. ``mutate``
    (tests only) may rewrite the phase list before the loop."""
    from spans import SparkReader
    from workloads import WORKLOADS, Ctx

    import host

    expected = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            expected = json.load(f)
    work = os.path.join(OUT, f"work-{os.getpid()}")
    ctx = Ctx(spark, seed, stamp["cores"], work, scale)
    wl = WORKLOADS[name](ctx, expected)
    reader = SparkReader(spark)
    detail: dict = {"host": stamp}
    t_mark = time.perf_counter()
    timeline = detail["timeline_s"] = {}

    def mark(step):
        nonlocal t_mark
        now = time.perf_counter()
        timeline[step] = now - t_mark
        t_mark = now

    try:
        prepare_s = prepare(wl)
        setup_s = session_start_s + prepare_s
        mark("setup")
        phases = wl.phases()
        if mutate:
            phases = mutate(phases)
        if trace:
            # the timed run's (cold) round, the traced round, then an
            # untraced one. Rounds still warm up, so the traced round
            # against the later one overstates the overhead a little.
            with reader.job_group("first"):
                first = run_round(phases)
            wl.expect()
            metrics, traced, detail_t, tracer = layer_metrics(ctx, wl, phases, reader)
            after = run_round(phases)
            warm = {ph.name: after[ph.name][0] for ph in phases}
            metrics["trace.overhead_frac"] = metrics["trace.round_s"] / sum(warm.values()) - 1
            # per-phase figures from the warm round: in the cold round the
            # first phase also pays for code the later phases share
            for ph in phases:
                metrics[f"{ph.name}_{ph.unit}_per_s"] = ph.items / warm[ph.name]
            rounds = [first, traced, after]
            detail.update(detail_t)
            os.makedirs(OUT, exist_ok=True)
            tracer.dump(os.path.join(OUT, f"trace-{wl.name}-{ctx.seed}.json"),
                        {"metrics": metrics, **detail_t})
            metrics["session.start_s"] = session_start_s
            metrics["session.peak_rss_mb"] = host.tree_peak_rss_mb()
            # the first round starts the Python workers
            metrics["session.worker_boot_s"] = reader.python_metrics("first")["boot_s"]
        else:
            rounds = timed_rounds(phases, seconds)
            wl.expect()
            round_s = [sum(v[0] for v in r.values()) for r in rounds]
            items = sum(p.items for p in phases)
            metrics = {
                "setup_s": setup_s,
                "items_per_s": items / statistics.median(round_s),
            }
            detail["rounds"] = [{k: v[0] for k, v in r.items()} for r in rounds]
        mark("measure")
        attempted, failures = check_rounds(phases, rounds)
        sampled = wl.verify_once()
        mark("verify")
        attempted += 1
        failures += sampled
        detail["setup"] = {"prepare_s": prepare_s, "session_start_s": session_start_s}
        detail["record"] = wl.record()
    finally:
        wl.close()
        shutil.rmtree(work, ignore_errors=True)
    failed = len(failures)
    return {"attempted": attempted, "failed": failed, "failures": failures,
            "metrics": metrics, "detail": detail}


def format_result(spec: dict, res: dict, trace: int) -> dict:
    """The contract line: every named metric with its unit; per-layer
    metrics a layer did not exercise read 0."""
    section = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {}
    for m in section:
        value = res["metrics"].get(m["name"], 0.0)
        metrics[m["name"]] = {"value": float(value), "unit": m["unit"]}
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="store this seed's corpus/vector outputs in expected.json")
    args = ap.parse_args(argv)

    spec = load_spec()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import teste_carga_avro_vs_json_spark  # noqa: F401  (fails outside a checkout)
    from workloads import WORKLOADS

    import host

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    t = time.perf_counter()
    spark, stamp = host.start_session(os.path.join(OUT, "spark-local"))
    session_start_s = time.perf_counter() - t
    try:
        res = run_workload(spark, stamp, args.workload, args.seed, args.seconds,
                           args.trace, session_start_s=session_start_s)
    finally:
        t = time.perf_counter()
        host.stop_session(spark)
    res["detail"]["timeline_s"]["stop"] = time.perf_counter() - t
    if args.record:
        expected = {}
        if os.path.exists(EXPECTED):
            with open(EXPECTED) as f:
                expected = json.load(f)
        expected.update(res["detail"]["record"])
        with open(EXPECTED, "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
    for msg in res["failures"]:
        print(f"FAILED {msg}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "detail": res["detail"]}, default=str), file=sys.stderr)
    print(json.dumps(format_result(spec, res, args.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
