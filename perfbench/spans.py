"""Outside-in tracing for the traced benchmark run.

Nothing here touches the package's source: spans wrap calls into its
modules' public functions from the outside, and the Spark-side readers
query stores that exist with ``spark.ui.enabled=false``:

- :class:`Tracer` — spans (name, start, end, parent, run id) kept in
  memory and written out at exit; self time is a span's duration minus
  its children's.
- :class:`Py4jCounter` — counts driver→JVM round trips by wrapping
  ``py4j.clientserver.JavaClient.send_command``.
- :class:`SparkReader` — per-stage executor metrics from the app status
  store (``sc.statusStore()``), SQL metrics of the Python/Arrow exec
  nodes from the SQL status store, and Catalyst planning phases from a
  DataFrame's ``QueryPlanningTracker``. Jobs are attributed to a phase by
  Spark job group.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import time


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, module, names: list[str], prefix: str) -> None:
        """Replace ``module.<name>`` with a span-recording wrapper until
        :meth:`unwrap`. Calls the package makes through the module
        attribute are spanned too, so spans nest as the calls do."""
        for name in names:
            fn = getattr(module, name)

            @functools.wraps(fn)
            def spanned(*a, __fn=fn, __n=f"{prefix}.{name}", **k):
                with self.span(__n, kind="call"):
                    return __fn(*a, **k)

            self._patched.append((module, name, fn))
            setattr(module, name, spanned)

    def unwrap(self) -> None:
        while self._patched:
            module, name, fn = self._patched.pop()
            setattr(module, name, fn)

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus its children's durations. Spans
        come from one thread and nest, so children never overlap."""
        own = {s["id"]: self.duration(s) for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= self.duration(s)
        return own

    def totals(self) -> dict[str, dict]:
        """Per span name: count, total duration and total self time."""
        own = self.self_times()
        out: dict[str, dict] = {}
        for s in self.spans:
            t = out.setdefault(s["name"], {"n": 0, "dur_s": 0.0, "self_s": 0.0})
            t["n"] += 1
            t["dur_s"] += self.duration(s)
            t["self_s"] += own[s["id"]]
        return out

    def dump(self, path: str, extra: dict) -> None:
        own = self.self_times()
        spans = [
            {**s, "dur_s": self.duration(s), "self_s": own[s["id"]]}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": spans, **extra}, f, indent=1)


class Py4jCounter:
    """Counts py4j round trips (one per ``JavaClient.send_command``)."""

    def __init__(self) -> None:
        self.calls = 0
        self._orig = None

    def install(self) -> None:
        from py4j.clientserver import JavaClient

        self._orig = orig = JavaClient.send_command
        counter = self

        def send_command(client, *a, **k):
            counter.calls += 1
            return orig(client, *a, **k)

        JavaClient.send_command = send_command

    def uninstall(self) -> None:
        from py4j.clientserver import JavaClient

        if self._orig is not None:
            JavaClient.send_command = self._orig
            self._orig = None


# SQL metric display names (SQLMetrics / PythonSQLMetrics, Spark 4.1).
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_BOOT = "time to start Python workers"
ROWS = "number of output rows"
_PY_NODE_METRICS = {PY_RUN, PY_SENT, PY_RECV, PY_BOOT, ROWS}

_UNIT = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """The total of a formatted SQL metric: ``'13.2 s'``, ``'2,000'`` or
    ``'total (min, med, max ...)\\n1.7 MiB (...)'`` -> seconds, bytes or
    a count."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparseable SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * _UNIT.get(m.group(2), 1.0)


class SparkReader:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._empty = jvm.java.util.ArrayList
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._app = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    @contextlib.contextmanager
    def job_group(self, group: str):
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _jobs(self, group: str) -> list:
        jobs = self._app.jobsList(self._empty())
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if g.isDefined() and g.get() == group:
                out.append(j)
        return out

    def exec_metrics(self, group: str, wall_s: float, cores: int) -> dict:
        """Jobs, stages, tasks and per-stage executor metrics of the
        jobs run under ``group``; ``idle_core_s`` is the core time of
        ``wall_s`` that no task used."""
        jobs = self._jobs(group)
        stage_ids: set[int] = set()
        job_s = 0.0
        for j in jobs:
            ids = j.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
            sub, end = j.submissionTime(), j.completionTime()
            if sub.isDefined() and end.isDefined():
                job_s += (end.get().getTime() - sub.get().getTime()) / 1e3
        m = dict.fromkeys(
            ["stages", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_write_bytes",
             "shuffle_read_bytes", "shuffle_write_records", "spill_bytes",
             "input_bytes", "output_bytes"], 0.0)
        stages = self._app.stageList(
            self._empty(), False, False, self._no_quantiles, self._empty()
        )
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() not in stage_ids or s.status().toString() != "COMPLETE":
                continue
            m["stages"] += 1
            m["tasks"] += s.numCompleteTasks()
            m["task_s"] += s.executorRunTime() / 1e3
            m["cpu_s"] += s.executorCpuTime() / 1e9
            m["gc_s"] += s.jvmGcTime() / 1e3
            m["shuffle_write_bytes"] += s.shuffleWriteBytes()
            m["shuffle_read_bytes"] += s.shuffleReadBytes()
            m["shuffle_write_records"] += s.shuffleWriteRecords()
            m["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            m["input_bytes"] += s.inputBytes()
            m["output_bytes"] += s.outputBytes()
        m["jobs"] = float(len(jobs))
        m["job_s"] = job_s
        m["idle_core_s"] = max(0.0, cores * wall_s - m["task_s"])
        return m

    def python_metrics(self, group: str) -> dict:
        """SQL metrics of every exec node that runs Python workers
        (ArrowEvalPython, MapInPandas, ...) in the SQL executions whose
        jobs ran under ``group``."""
        job_ids = {j.jobId() for j in self._jobs(group)}
        m = {"python_s": 0.0, "bytes_to_python": 0.0,
             "bytes_from_python": 0.0, "rows": 0.0, "boot_s": 0.0}
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            ej = e.jobs().keySet()
            it = ej.iterator()
            mine = False
            while it.hasNext():
                if it.next() in job_ids:
                    mine = True
                    break
            if not mine:
                continue
            values = self._sql.executionMetrics(e.executionId())
            nodes = self._sql.planGraph(e.executionId()).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                named = {}
                ms = node.metrics()
                for k in range(ms.size()):
                    sm = ms.apply(k)
                    if sm.name() not in _PY_NODE_METRICS:
                        continue
                    v = values.get(sm.accumulatorId())
                    if v.isDefined():
                        named[sm.name()] = parse_metric(v.get())
                if PY_RUN not in named:
                    continue
                m["python_s"] += named[PY_RUN]
                m["bytes_to_python"] += named.get(PY_SENT, 0.0)
                m["bytes_from_python"] += named.get(PY_RECV, 0.0)
                m["rows"] += named.get(ROWS, 0.0)
                m["boot_s"] += named.get(PY_BOOT, 0.0)
        return m

    @staticmethod
    def plan_phases(df) -> dict:
        """Catalyst phase times of a DataFrame that has been executed."""
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            p = phases.get(name)
            if p.isDefined():
                out[name] = (p.get().endTimeMs() - p.get().startTimeMs()) / 1e3
            else:
                out[name] = 0.0
        return out
