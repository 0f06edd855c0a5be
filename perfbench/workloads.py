"""The benchmark's workloads and the phases they are built from.

Each workload builds its inputs from the seed, runs its phases as
closed-loop batch jobs (each phase starts when the previous one ends)
in the run's fresh JVM, as the reference's one-shot apps do, and checks
every phase output. The seed changes input values, never
input sizes. See README.md for why each workload exists.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pandas as pd

import pyspark.sql.functions as F

from teste_carga_avro_vs_json_spark import pipelines
from teste_carga_avro_vs_json_spark.operators import (
    dedup,
    metrics,
    routing,
    serde,
    similarity,
)
from teste_carga_avro_vs_json_spark.sources import generator, io_files

NUM_PARTICOES = 18  # the reference topic's partition count
LADDER_SCALE = 4
# the first pass also pays for compiling the rungs' plans
LADDER_PASSES = 3


@dataclass
class Phase:
    name: str
    unit: str  # what ``items`` counts: msgs, docs or vectors
    items: int
    run: Callable[[], tuple]
    # output -> list of failure messages (empty when correct)
    check: Callable[[tuple], list[str]]


@dataclass
class Ctx:
    spark: object
    seed: int
    cores: int
    work_dir: str
    scale: float = 1.0
    # DataFrames whose action the benchmark ran, for plan-phase reading
    acted: list = field(default_factory=list)
    # set during the traced round: actions then get their own span
    tracer: object = None

    def n(self, full: int, floor: int) -> int:
        return max(floor, int(full * self.scale))

    def collect(self, df) -> list:
        if self.tracer is None:
            rows = df.collect()
        else:
            with self.tracer.span("spark.action", kind="call"):
                rows = df.collect()
        self.acted.append(df)
        return rows


def _digest(rows) -> str:
    return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()[:16]


def _seq_offset(seed: int) -> int:
    # 7-digit sequencia for every seed, so the wire sizes do not drift
    return 1_000_000 + (seed % 8000) * 1000


def _series(sql: str, off: int, n: int) -> str:
    """Point a generator ``*_sql`` twin (series 1..off+n) at off+1..off+n."""
    needle = f"generate_series(1, {off + n})"
    if sql.count(needle) != 1:
        raise RuntimeError("generator SQL twin no longer has one series")
    return sql.replace(needle, f"generate_series({off + 1}, {off + n})")


def _report(sized):
    """The reference consumer report over (sequencia, tamanho_estimado)."""
    src = metrics.registrar(
        sized.withColumn("sucesso", F.lit(True)),
        bytes_col="tamanho_estimado",
        sucesso_col="sucesso",
    ).withColumn("ts_ms", F.lit(generator.EPOCH0) + F.col("sequencia"))
    return metrics.relatorio(metrics.metricas_agg(src))


def _report_out(rows) -> tuple:
    [r] = rows
    return (r["total_mensagens"], r["total_bytes"], r["mensagens_erro"])


class Workload:
    name = ""
    unit = ""  # what a phase's items are, for the phase metric names

    def __init__(self, ctx: Ctx, expected: dict | None = None) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        # outputs recorded by ``run.py --record`` for this seed at full
        # size; keyed by core count, since sampling follows partitioning
        self.key = f"{self.name}/{ctx.seed}/{ctx.cores}c"
        self.recorded = None
        if ctx.scale == 1.0:
            self.recorded = (expected or {}).get(self.key)

    def prepare(self) -> None:
        """Build (or rebuild) the inputs; repeated by the set-up cycles."""

    def expect(self) -> None:
        """Compute the oracle's expected outputs (untimed, after the
        first round so that round runs in a fresh JVM)."""

    def phases(self) -> list[Phase]:
        raise NotImplementedError

    def verify_once(self) -> list[str]:
        """Sampled checks run once per run, outside timing."""
        return []

    def layers(self, tracer, reader) -> dict:
        """Workload-specific per-layer metrics for the traced run."""
        return {}

    def record(self) -> dict:
        """Outputs to store in expected.json for this seed."""
        return {}

    def close(self) -> None:
        pass


# ------------------------------------------------------------- messages
class _Messages(Workload):
    unit = "msgs"
    kb = 1
    full_n = 1

    def __init__(self, ctx: Ctx, expected: dict | None = None) -> None:
        super().__init__(ctx, expected)
        self.n = ctx.n(self.full_n, 40)
        self.off = _seq_offset(ctx.seed)
        # eight messages of one routing partition, so a file-mode read of
        # the sample prunes to one directory
        step = NUM_PARTICOES * max(1, self.n // (8 * NUM_PARTICOES))
        self.sample = [self.off + 1 + i * step for i in range(8) if i * step < self.n]
        self._seen: dict[str, tuple] = {}

    def seqs(self, values: list[int] | None = None):
        if values is not None:
            return self.spark.createDataFrame(
                [(v,) for v in values], "sequencia long"
            )
        return self.spark.range(
            self.off + 1, self.off + self.n + 1, numPartitions=self.ctx.cores
        ).toDF("sequencia")

    def msgs(self, values: list[int] | None = None):
        return generator.mensagens_from_seq(self.seqs(values), self.kb)

    def expect(self) -> None:
        import duckdb

        sql = _series(generator.size_estimate_sql(self.off + self.n, self.kb),
                      self.off, self.n)
        con = duckdb.connect()
        try:
            cnt, total = con.execute(
                f"SELECT COUNT(*), SUM(tamanho_estimado) FROM ({sql})"
            ).fetchone()
            flat = _series(generator.registros_flat_sql(self.off + self.n, self.kb),
                           self.off, self.n)
            cols = "sequencia, id, msg_ts, versao, indice, texto, numero, reg_ts, uuid"
            rows = con.execute(
                f"SELECT {cols} FROM ({flat}) WHERE sequencia IN "
                f"({','.join(map(str, self.sample))})"
            ).fetchall()
        finally:
            con.close()
        self.expected = (int(cnt), int(total), 0)
        self.expected_sample = _digest(rows)

    def _check_report(self, out: tuple) -> list[str]:
        if tuple(out) != self.expected:
            return [f"report {out} != expected {self.expected}"]
        return []

    def _check_stable(self, key: str) -> Callable[[tuple], list[str]]:
        """Outputs with no oracle must be >0 and equal in every round."""

        def check(out: tuple) -> list[str]:
            first = self._seen.setdefault(key, out)
            if out[0] != self.n or out[1] <= 0:
                return [f"{key}: {out}, expected {self.n} msgs and bytes > 0"]
            if out != first:
                return [f"{key}: {out} differs from round 1 {first}"]
            return []

        return check

    def _sample_check(self, label: str, decoded) -> list[str]:
        rows = [tuple(r) for r in generator.registros_flat(decoded).select(
            "sequencia", "id", "msg_ts", "versao", "indice", "texto",
            "numero", "reg_ts", "uuid").collect()]
        got = _digest(rows)
        if got != self.expected_sample:
            return [f"{label}: sampled rows digest {got} != {self.expected_sample}"]
        return []

    def ladder(self, tracer, reader) -> dict:
        """Per-layer busy time from outside: run the cumulative prefixes
        of generate → encode → decode → route → aggregate to a no-op
        sink; a layer's time is what its prefix adds. The ladder runs
        LADDER_SCALE× the phase size, so per-job fixed cost weighs less,
        and LADDER_PASSES times; each rung keeps its median."""
        runs: dict[str, list[float]] = {}
        n = LADDER_SCALE * self.n

        def sink(name, df):
            with tracer.span(f"ladder.{name}", kind="ladder") as s:
                if name == "metrics":
                    df.collect()
                else:
                    df.write.format("noop").mode("overwrite").save()
            runs.setdefault(name, []).append(s["end"] - s["start"])

        with reader.job_group("ladder"):
            for _ in range(LADDER_PASSES):
                msgs = generator.mensagens_from_seq(self.spark.range(
                    self.off + 1, self.off + n + 1, numPartitions=self.ctx.cores
                ).toDF("sequencia"), self.kb)
                sink("gen", msgs)
                enc = serde.json_encode(msgs)
                sink("json_enc", enc)
                dec = serde.json_decode(enc)
                sink("json_dec", dec)
                sized = routing.size_estimate(routing.route(dec, NUM_PARTICOES))
                sink("route", sized)
                sink("metrics", _report(sized))
                aenc = serde.avro_encode(msgs)
                sink("avro_enc", aenc)
                sink("avro_dec", serde.avro_decode(aenc))
                sink("avro_rt", serde.avro_roundtrip(msgs))
        t = {name: statistics.median(v) for name, v in runs.items()}

        def step(a, b):
            return max(0.0, t[a] - t[b])

        return {
            "generator.busy_s": t["gen"],
            "serde.json_encode_s": step("json_enc", "gen"),
            "serde.json_decode_s": step("json_dec", "json_enc"),
            "routing.busy_s": step("route", "json_dec"),
            "metrics.busy_s": step("metrics", "route"),
            "avro_vec.encode_s": step("avro_enc", "gen"),
            "avro_vec.decode_s": step("avro_dec", "avro_enc"),
            "avro_vec.roundtrip_s": step("avro_rt", "gen"),
        }


class MsgE2E(_Messages):
    """In-memory E2E_PARSE and TRANSPORTE passes over ~1 KB messages."""

    name = "msg_e2e_1kb"
    kb = 1
    full_n = 12_000

    def __init__(self, ctx: Ctx, expected: dict | None = None) -> None:
        super().__init__(ctx, expected)
        self.last_transport: dict[str, tuple] = {}

    def _e2e(self, fmt: str) -> tuple:
        msgs = self.msgs()
        dec = serde.json_roundtrip(msgs) if fmt == "json" else serde.avro_roundtrip(msgs)
        sized = routing.size_estimate(routing.route(dec, NUM_PARTICOES))
        return _report_out(self.ctx.collect(_report(sized)))

    def _transport(self, fmt: str) -> tuple:
        msgs = self.msgs()
        if fmt == "json":
            enc, col = serde.json_encode(msgs), "valor_json"
        else:
            enc, col = serde.avro_encode(msgs), "valor_avro"
        src = metrics.registrar(
            enc.withColumn("b", F.octet_length(col)).withColumn("ok", F.lit(True)),
            bytes_col="b", sucesso_col="ok",
        ).withColumn("ts_ms", F.lit(generator.EPOCH0) + F.col("sequencia"))
        out = _report_out(self.ctx.collect(metrics.relatorio(metrics.metricas_agg(src))))
        self.last_transport[fmt] = out
        return out

    def phases(self) -> list[Phase]:
        n = self.n
        return [
            Phase("json_e2e", self.unit, n, lambda: self._e2e("json"), self._check_report),
            Phase("avro_e2e", self.unit, n, lambda: self._e2e("avro"), self._check_report),
            Phase("json_transport", self.unit, n, lambda: self._transport("json"),
                  self._check_stable("json_transport")),
            Phase("avro_transport", self.unit, n, lambda: self._transport("avro"),
                  self._check_stable("avro_transport")),
        ]

    def verify_once(self) -> list[str]:
        msgs = self.msgs(values=self.sample)
        return self._sample_check("json_e2e", serde.json_roundtrip(msgs)) + \
            self._sample_check("avro_e2e", serde.avro_roundtrip(msgs))

    def wire_bytes(self) -> dict:
        return {f"{fmt}_wire_bytes_per_msg": out[1] / out[0]
                for fmt, out in self.last_transport.items()}

    def layers(self, tracer, reader) -> dict:
        return {**self.ladder(tracer, reader), **self.wire_bytes()}


class MsgFiles(_Messages):
    """The four reference apps in file mode at 25 KB (128 registros)."""

    name = "msg_files_25kb"
    kb = 25
    full_n = 800

    def path(self, fmt: str) -> str:
        return os.path.join(self.ctx.work_dir, f"wire_{fmt}")

    def _produce(self, fmt: str) -> tuple:
        write = io_files.write_json if fmt == "json" else io_files.write_avro
        write(self.msgs(), self.path(fmt), NUM_PARTICOES, "none")
        files, nbytes = self.on_disk(fmt)
        return (files, nbytes)

    def _consume(self, fmt: str) -> tuple:
        read = io_files.read_json if fmt == "json" else io_files.read_avro
        return _report_out(self.ctx.collect(
            _report(routing.size_estimate(read(self.spark, self.path(fmt))))))

    def on_disk(self, fmt: str) -> tuple[int, int]:
        files = nbytes = 0
        for root, _dirs, names in os.walk(self.path(fmt)):
            for name in names:
                if name.startswith("part-"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(root, name))
        return files, nbytes

    def _check_written(self, out: tuple) -> list[str]:
        if out[0] < 1 or out[1] <= 0:
            return [f"produce wrote {out[0]} files, {out[1]} bytes"]
        return []

    def phases(self) -> list[Phase]:
        n = self.n
        return [
            Phase("json_produce", self.unit, n, lambda: self._produce("json"), self._check_written),
            Phase("json_consume", self.unit, n, lambda: self._consume("json"), self._check_report),
            Phase("avro_produce", self.unit, n, lambda: self._produce("avro"), self._check_written),
            Phase("avro_consume", self.unit, n, lambda: self._consume("avro"), self._check_report),
        ]

    def verify_once(self) -> list[str]:
        out = []
        for fmt, read in (("json", io_files.read_json), ("avro", io_files.read_avro)):
            part = (self.sample[0] - 1) % NUM_PARTICOES
            dec = read(self.spark, self.path(fmt)).filter(
                (F.col("particao") == part) & F.col("sequencia").isin(self.sample))
            out += self._sample_check(f"{fmt}_consume", dec)
        return out

    def layers(self, tracer, reader) -> dict:
        """File sizes, plus each reader's time alone: the files the
        produce phases left, read and decoded into a no-op sink (the
        consume phases also size, aggregate and collect)."""
        (jf, jb), (af, ab) = self.on_disk("json"), self.on_disk("avro")
        out = {
            "io_files.bytes_json": float(jb),
            "io_files.bytes_avro": float(ab),
            "io_files.files": float(jf + af),
        }
        with reader.job_group("ladder"):
            for fmt, read in (("json", io_files.read_json), ("avro", io_files.read_avro)):
                with tracer.span(f"ladder.read_{fmt}", kind="ladder") as s:
                    read(self.spark, self.path(fmt)).write.format("noop").mode(
                        "overwrite").save()
                out[f"io_files.read_{fmt}_s"] = s["end"] - s["start"]
        return out

    def close(self) -> None:
        for fmt in ("json", "avro"):
            shutil.rmtree(self.path(fmt), ignore_errors=True)


# --------------------------------------------------------------- corpus
# (doc_id, text) and (vec_id, embedding) of the sf0.1 `documents` and
# `embeddings` tables, copied unchanged (see README.md, "Inputs")
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
REPLICAS = 2  # near-duplicate clique size, as in tools/stress10x.py
HELD_OUT_MOD = 97  # every 97th doc is the decontamination test set


def sample_documents(seed: int, n_base: int) -> pd.DataFrame:
    """A seeded sample of ``n_base`` sf0.1 documents, each replicated
    into a near-duplicate clique: replica r appends `` zrep<r>``, as
    tools/stress10x.py does."""
    docs = pd.read_parquet(os.path.join(DATA, "documents.parquet"))
    rng = np.random.default_rng(seed)
    base = docs["text"].to_numpy()[np.sort(rng.choice(len(docs), n_base, replace=False))]
    rows = [(d * REPLICAS + r, f"{t} zrep{r}")
            for d, t in enumerate(base) for r in range(REPLICAS)]
    return pd.DataFrame(rows, columns=["doc_id", "text"])


class CorpusBuild(Workload):
    """pipelines.build_training_corpus over near-duplicate cliques."""

    name = "corpus_build"
    unit = "docs"

    def __init__(self, ctx: Ctx, expected: dict | None = None) -> None:
        super().__init__(ctx, expected)
        self.n_base = ctx.n(800, 60)
        self.train = self.test = None
        self.first = None
        self.ledger: list[dict] = []

    def prepare(self) -> None:
        self.close()
        docs = sample_documents(self.ctx.seed, self.n_base)
        held = docs["doc_id"] % HELD_OUT_MOD == 0
        test = docs[held].assign(doc_id=docs["doc_id"][held] + 10_000_000)
        # Arrow slices a pandas frame into one partition per core
        self.train = self.spark.createDataFrame(docs[~held]).persist()
        self.test = self.spark.createDataFrame(test).persist()
        self.n_train = self.train.count()
        self.test.count()

    def _build(self) -> tuple:
        packed, ledger = pipelines.build_training_corpus(
            self.train, self.test, seq_len=1024, line_filter=False)
        self.ledger = ledger
        [r] = self.ctx.collect(packed.agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tokens").alias("tokens"),
            F.max(F.col("start_tok") + F.col("n_tokens")).alias("stream"),
            F.bit_xor(F.xxhash64("doc_id", "n_tokens", "start_tok")).alias("digest"),
        ))
        rows = tuple(s["rows"] for s in ledger if s.get("rows") is not None)
        return (rows, r["docs"], r["tokens"], r["stream"], r["digest"])

    def phases(self) -> list[Phase]:
        return [Phase("corpus", self.unit, self.n_train,
                      self._build, self._check)]

    def _check(self, out: tuple) -> list[str]:
        rows, docs, tokens, stream, _ = out
        bad = []
        if tokens != stream:
            bad.append(f"packed stream not contiguous: {tokens} tokens, end {stream}")
        if rows[0] != self.n_train or any(b > a for a, b in zip(rows, rows[1:])):
            bad.append(f"ledger rows not a shrinking funnel from input: {rows}")
        if docs != rows[-1]:
            bad.append(f"packed {docs} docs, ledger says {rows[-1]}")
        self.first = self.first or out
        if out != self.first:
            bad.append(f"output {out} differs from round 1 {self.first}")
        if self.recorded and list(rows) + [out[4]] != self.recorded:
            bad.append(f"ledger+digest {list(rows) + [out[4]]} != recorded {self.recorded}")
        return bad

    def record(self) -> dict:
        rows, *_rest, digest = self.first
        return {self.key: list(rows) + [digest]}

    def layers(self, tracer, reader) -> dict:
        out: dict[str, float] = {}
        for s in self.ledger:
            out[f"pipelines.{s['stage']}.s"] = float(s.get("sec") or 0.0)
            out[f"pipelines.{s['stage']}.rows_out"] = float(s.get("rows") or 0)
        with reader.job_group("ladder"), tracer.span("ladder.lsh_pairs", kind="ladder"):
            [r] = dedup.minhash_lsh_candidates_scale(self.train, threshold=0.0).agg(
                F.count(F.lit(1)).alias("cand"),
                F.count_if(F.col("jaccard") >= 0.3).alias("conf"),
            ).collect()
        out["dedup.lsh_candidate_pairs"] = float(r["cand"])
        out["dedup.neardup_precision"] = r["conf"] / r["cand"] if r["cand"] else 0.0
        return out

    def close(self) -> None:
        for df in (self.train, self.test):
            if df is not None:
                df.unpersist()


# ------------------------------------------------------------- vectors
DIM = 64
QUERY_MODULUS = 50  # the similarity operators' default query sample
RECALL_FLOOR = {"ivf_pq": 0.3, "lsh_ann": 0.3}  # sanity floor; seeds are recorded


def sample_embeddings(seed: int, n: int) -> pd.DataFrame:
    """``n`` sf0.1 embeddings under a seeded permutation of their ids, so
    each seed queries (``vec_id % QUERY_MODULUS == 0``) other vectors."""
    emb = pd.read_parquet(os.path.join(DATA, "embeddings.parquet"))
    rng = np.random.default_rng(seed)
    pick = rng.permutation(len(emb))[:n]
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                         "embedding": emb["embedding"].to_numpy()[pick]})


class VectorSearch(Workload):
    """IVF-PQ and LSH approximate top-10, recall against cosine_topk_np."""

    name = "vector_search"
    unit = "vectors"

    def __init__(self, ctx: Ctx, expected: dict | None = None) -> None:
        super().__init__(ctx, expected)
        self.n = ctx.n(2_000, 200)
        self.emb = None
        self.truth: dict[int, set] = {}
        self.last: dict[str, list] = {}  # latest (query_id, vec_id) pairs
        self.first: dict[str, tuple] = {}

    def prepare(self) -> None:
        self.close()
        self.emb = self.spark.createDataFrame(
            sample_embeddings(self.ctx.seed, self.n), "vec_id long, embedding array<float>"
        ).persist()
        self.emb.count()

    def expect(self) -> None:
        truth: dict[int, set] = {}
        for r in similarity.cosine_topk_np(self.emb, k=10).select(
                "query_id", "vec_id").collect():
            truth.setdefault(r[0], set()).add(r[1])
        self.truth = truth

    def _search(self, kind: str) -> tuple:
        if kind == "ivf_pq":
            res = similarity.ivf_pq_topk(self.emb, vectorized_encode=True)
        else:
            res = similarity.lsh_ann_topk(self.emb, vectorized=True)
        pairs = [(r[0], r[1]) for r in self.ctx.collect(res.select("query_id", "vec_id"))]
        self.last[kind] = pairs
        return (_digest(pairs), len(pairs))

    def recall(self, pairs) -> float:
        hits = sum(1 for q, v in pairs if v in self.truth.get(q, ()))
        return hits / max(1, sum(len(s) for s in self.truth.values()))

    def phases(self) -> list[Phase]:
        return [Phase(k, self.unit, self.n, lambda k=k: self._search(k), self._checker(k))
                for k in ("ivf_pq", "lsh_ann")]

    def _checker(self, kind: str):
        def check(out: tuple) -> list[str]:
            bad = []
            recall = self.recall(self.last[kind])
            if recall < RECALL_FLOOR[kind]:
                bad.append(f"{kind} recall@10 {recall:.3f} < {RECALL_FLOOR[kind]}")
            first = self.first.setdefault(kind, out)
            if out != first:
                bad.append(f"{kind} output {out} differs from round 1 {first}")
            want = (self.recorded or {}).get(kind)
            if want is not None and round(recall, 6) != want:
                bad.append(f"{kind} recall@10 {recall:.6f} != recorded {want}")
            return bad

        return check

    def record(self) -> dict:
        return {self.key: {k: round(self.recall(v), 6) for k, v in self.last.items()}}

    def layers(self, tracer, reader) -> dict:
        with reader.job_group("ladder"), tracer.span("ladder.lsh_candidates", kind="ladder"):
            b = similarity.lsh_bucket_np(self.emb, DIM, 4, 4).select("vec_id", "bucket")
            q = b.filter(F.col("vec_id") % QUERY_MODULUS == 0).select(
                F.col("vec_id").alias("query_id"), "bucket")
            cand = (b.join(F.broadcast(q), "bucket")
                    .filter(F.col("vec_id") != F.col("query_id"))
                    .select("query_id", "vec_id").distinct().count())
        return {
            "similarity.candidates_per_query": cand / max(1, len(self.truth)),
            "similarity.ivf_pq_recall_at_10": self.recall(self.last["ivf_pq"]),
            "similarity.lsh_recall_at_10": self.recall(self.last["lsh_ann"]),
        }

    def close(self) -> None:
        if self.emb is not None:
            self.emb.unpersist()


# ------------------------------------------------------------- workloads
class Composite(Workload):
    """A workload made of parts run back to back in one process, so the
    JVM start and shared code generation are paid once per run."""

    parts: tuple[Workload, ...] = ()

    def prepare(self) -> None:
        for p in self.parts:
            p.prepare()

    def expect(self) -> None:
        for p in self.parts:
            p.expect()

    def phases(self) -> list[Phase]:
        return [ph for p in self.parts for ph in p.phases()]

    def verify_once(self) -> list[str]:
        return [msg for p in self.parts for msg in p.verify_once()]

    def layers(self, tracer, reader) -> dict:
        return {k: v for p in self.parts for k, v in p.layers(tracer, reader).items()}

    def record(self) -> dict:
        return {k: v for p in self.parts for k, v in p.record().items()}

    def close(self) -> None:
        for p in self.parts:
            p.close()


class Messages(Composite):
    """The message flow at both reference sizes: the 1 KB in-memory
    passes, then the 25 KB file-mode apps."""

    name = "messages"

    def __init__(self, ctx: Ctx, expected: dict | None = None) -> None:
        super().__init__(ctx, expected)
        self.parts = (MsgE2E(ctx), MsgFiles(ctx))

    def layers(self, tracer, reader) -> dict:
        e2e, files = self.parts
        return {**super().layers(tracer, reader),
                "generator.rows": 4.0 * e2e.n + 2.0 * files.n}


class LlmData(Composite):
    """The corpus build, then vector search. Alone, the corpus build's
    one-shot round spread by up to 23 % over seeds; next to the vector
    phases its share of the round is smaller."""

    name = "llm_data"

    def __init__(self, ctx: Ctx, expected: dict | None = None) -> None:
        super().__init__(ctx, expected)
        self.parts = (CorpusBuild(ctx, expected), VectorSearch(ctx, expected))


WORKLOADS = {w.name: w for w in (Messages, LlmData)}

