"""In-memory spans for the traced benchmark run, and the per-layer
metrics read back from Spark's status stores.

Spans nest pass -> query -> build (the registered query function) ->
operator call (a wrapped public function of an engine module) ->
action (the noop write). Each span has an id, a name, its parent, the
query it belongs to, and start/end times; spans are written to a file
when the run ends.

While a span is open its id is the thread's Spark job group, so every
job Spark starts (including broadcast and AQE sub-jobs, which inherit
the group) is attributed to the innermost open span. After each query
the SQL execution metrics (``sharedState().statusStore()``) and the
stage task metrics (``sc.statusStore()``) of that query's jobs are
rolled up into layers.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import re
import time
from collections import defaultdict

#: engine modules whose public functions get an operator span: those
#: the workloads' queries call on the driver. ``sources.archives`` is
#: not among them: its tar source is a Python data source, which Spark
#: plans and reads in Python worker processes, never in this one, so
#: its layer metrics come from its scan node (``NODE_METRICS``).
MODULES = [
    "operators.relational", "operators.cdc", "operators.text_analysis",
    "operators.dedup", "operators.topics", "operators.multimodal",
    "operators.similarity", "operators.graph", "operators.preference",
    "functions.html", "functions.embed",
]
PACKAGE = "parlerproject_spark"

#: the tracer of the current traced pass; wrapped functions pass
#: straight through while it is None (always, on executors)
_ACTIVE = None


class _Traced:
    """Stand-in for an engine function: opens a span named after its
    module while a tracer is active. An instance (not a closure) so a
    function captured by a Python UDF still pickles by reference."""

    def __init__(self, fn, layer: str):
        self.fn = fn
        self.layer = layer
        functools.update_wrapper(self, fn)

    def __call__(self, *args, **kwargs):
        tracer = _ACTIVE
        if tracer is None:
            return self.fn(*args, **kwargs)
        with tracer.span(self.layer, detail=self.fn.__name__):
            return self.fn(*args, **kwargs)


def install_wrappers() -> int:
    """Replace every public function defined in MODULES with a
    ``_Traced`` stand-in (UDF objects excepted); returns how many.
    Callers that import a function inside their body, or call it
    through its module, see the stand-in."""
    n = 0
    for short in MODULES:
        mod = importlib.import_module(f"{PACKAGE}.{short}")
        for name, obj in list(vars(mod).items()):
            if (name.startswith("_") or not inspect.isfunction(obj)
                    or obj.__module__ != mod.__name__
                    or hasattr(obj, "evalType")):
                continue
            setattr(mod, name, _Traced(obj, short))
            n += 1
    return n


class Tracer:
    """Spans of one run, plus the Spark job group bookkeeping."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.query_id: int | None = None

    def __enter__(self):
        global _ACTIVE
        _ACTIVE = self
        return self

    def __exit__(self, *exc):
        global _ACTIVE
        _ACTIVE = None
        self._set_group(None)

    def _set_group(self, span_id: int | None) -> None:
        self.spark.sparkContext.setLocalProperty(
            "spark.jobGroup.id", None if span_id is None else f"pb{span_id}")

    def span(self, name: str, detail: str = ""):
        return _Span(self, name, detail)


class _Span:
    def __init__(self, tracer: Tracer, name: str, detail: str):
        self.t, self.name, self.detail = tracer, name, detail

    def __enter__(self):
        t = self.t
        parent = t._stack[-1] if t._stack else None
        self.rec = {"id": len(t.spans), "name": self.name, "detail": self.detail,
                    "parent": parent, "query": t.query_id,
                    "start": time.perf_counter(), "end": None}
        t.spans.append(self.rec)
        t._stack.append(self.rec["id"])
        t._set_group(self.rec["id"])
        return self.rec

    def __exit__(self, *exc):
        t = self.t
        self.rec["end"] = time.perf_counter()
        t._stack.pop()
        t._set_group(t._stack[-1] if t._stack else None)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its children cover."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, edge = 0.0, s["start"]
        for a, b in sorted(kids[s["id"]]):
            a, b = max(a, edge), min(b, s["end"])
            if b > a:
                covered += b - a
                edge = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# ---------------------------------------------------------------------------
# Status-store readback
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL metric's display string as a number: bytes for sizes,
    milliseconds for timings, the count for sums. Aggregated metrics
    read "total (min, med, max ...)\\n<total> (...)"; the total is
    taken. Sizes and timings are displayed to ~3 significant digits."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    return value * _SIZE.get(unit, _TIME_MS.get(unit, 1.0))


#: (layer metric, plan-node name filter, SQL metric name)
NODE_METRICS = [
    ("catalog.files_read", "Scan", "number of files read"),
    ("catalog.bytes_read", "Scan", "size of files read"),
    ("catalog.scan_ms", "Scan", "scan time"),
    ("exchange.shuffle_write_bytes", "Exchange", "shuffle bytes written"),
    ("exchange.shuffle_records", "Exchange", "shuffle records written"),
    ("exchange.broadcast_bytes", "BroadcastExchange", "data size"),
    ("exchange.broadcast_ms", "BroadcastExchange", "time to collect"),
    ("exchange.broadcast_ms", "BroadcastExchange", "time to build"),
    ("exchange.broadcast_ms", "BroadcastExchange", "time to broadcast"),
    ("exchange.partitions", "AQEShuffleRead", "number of partitions"),
    ("functions.python_bytes_sent", "", "data sent to Python workers"),
    ("functions.python_bytes_received", "", "data returned from Python workers"),
    ("functions.python_run_ms", "", "time to run Python workers"),
    ("functions.python_start_ms", "", "time to start Python workers"),
    ("sources.archives.members", "BatchScan tar_members", "number of output rows"),
    ("sources.archives.bytes_returned", "BatchScan tar_members",
     "data returned from Python workers"),
    ("agg.build_ms", "Aggregate", "time in aggregation build"),
    ("agg.peak_mem_bytes", "Aggregate", "peak memory"),
    ("agg.sort_fallback_tasks", "Aggregate", "number of sort fallback tasks"),
    ("join.build_ms", "Join", "time to build hash map"),
    ("join.output_rows", "Join", "number of output rows"),
    ("sort.ms", "Sort", "sort time"),
    ("spill.bytes", "", "spill size"),
]


def _node_matches(node_name: str, want: str) -> bool:
    if want == "Exchange":  # the shuffle exchange only
        return node_name == "Exchange"
    return want in node_name


def _iter(jcoll):
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


class StatusReader:
    """Reads what Spark's listeners recorded for a set of job groups."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._app = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_job = -1
        self._n_exec = 0

    def new_jobs(self) -> list[tuple[str | None, object]]:
        """(job group, JobData) of every job finished since the last
        call; waits for the listener bus to drain first."""
        self._bus.waitUntilEmpty(30_000)
        out = []
        for j in _iter(self._app.jobsList(None)):  # newest first
            if j.jobId() <= self._last_job:
                break
            g = j.jobGroup()
            out.append((g.get() if g.isDefined() else None, j))
        if out:
            self._last_job = max(j.jobId() for _, j in out)
        return out

    def stage_metrics(self, jobs) -> dict[str, float]:
        m = defaultdict(float)
        stages = {int(s) for j in jobs for s in _iter(j.stageIds())}
        for sid in stages:
            st = self._app.lastStageAttempt(sid)
            m["executor.run_s"] += st.executorRunTime() / 1e3
            m["executor.cpu_s"] += st.executorCpuTime() / 1e9
            m["executor.gc_s"] += st.jvmGcTime() / 1e3
            m["executor.tasks"] += st.numCompleteTasks()
            m["executor.failed_tasks"] += st.numFailedTasks()
            m["driver.result_bytes"] += st.resultSize()
        return m

    def sql_metrics(self, job_ids: set[int]) -> tuple[dict[str, float], int]:
        """Roll up the SQL metrics of every execution recorded since the
        last call that ran one of ``job_ids``; returns the layer sums
        and the execution count."""
        m = defaultdict(float)
        n_exec = 0
        total = self._sql.executionsCount()
        new = self._sql.executionsList(self._n_exec, total - self._n_exec)
        self._n_exec = total
        for e in _iter(new):
            eid = e.executionId()
            if not {int(k) for k in _iter(e.jobs().keys())} & job_ids:
                continue
            n_exec += 1
            values = self._sql.executionMetrics(eid)
            for node in _iter(self._sql.planGraph(eid).allNodes()):
                name = node.name()
                for pm in _iter(node.metrics()):
                    v = values.get(pm.accumulatorId())
                    if not v.isDefined():
                        continue
                    for layer, want, metric in NODE_METRICS:
                        if pm.name() == metric and _node_matches(name, want):
                            m[layer] += parse_metric(v.get())
        return m, n_exec


def write_spans(path: str, spans: list[dict]) -> None:
    st = self_times(spans)
    with open(path, "w") as f:
        json.dump([dict(s, self_s=st[s["id"]]) for s in spans], f)
