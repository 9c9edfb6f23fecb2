"""Per-layer spans and Spark counters, recorded from outside the package.

The engine has no spans of its own, so the traced run wraps the public
functions of each layer module (:data:`LAYERS`) with a
:class:`SpanRecorder`. A span notes its wall time and opens a Spark job
group named after itself, so every job a call triggers -- including a
builder's eager ``localCheckpoint`` or ``collect`` -- is attributed to
that call. A nested span restores its parent's group on exit. Streaming
queries run their micro-batch jobs under their own run id; the
:class:`StreamListener` maps each run id to the span open when the query
started.

Counters come from Spark's own status stores after a request ends:
jobs and stages from the app status store, per-stage task counts,
executor CPU, shuffle and spill bytes from ``lastStageAttempt``, and
executed physical plans from the SQL status store.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import re
import statistics
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "recommedation_system_under_flink_spark"

#: Layer name -> modules whose public functions form it.
LAYERS = {
    "plans.pipelines": ("plans.pipelines",),
    "operators.keywords": ("operators.keywords",),
    "operators.tfidf": ("operators.tfidf",),
    "operators.joins": ("operators.joins",),
    "operators.ranking": ("operators.ranking",),
    "operators.bsp": ("operators.bsp",),
    "operators.similarity": ("operators.similarity",),
    "operators.dedup": ("operators.dedup",),
    "operators.graph": ("operators.graph",),
    "operators.ml": ("operators.ml",),
    "streaming.hot_topics": ("streaming.hot_topics",),
    "sources": ("sources.tables", "sources.io", "sources.pysource"),
    "functions.kernels": ("functions.kernels",),
}

#: Counters reported for every layer.
LAYER_FIELDS = ("calls", "self_s", "jobs", "stages", "tasks", "cpu_s", "shuffle_mb", "spill_mb")

#: Physical operators that cross into a Python worker.
PYTHON_NODES = (
    "MapInPandas",
    "MapInArrow",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "FlatMapGroupsInPandasWithState",
)

REQUEST = "request"
MB = 1024.0 * 1024.0
_PYTHON_NODE = re.compile(rf"\b(?:{'|'.join(PYTHON_NODES)}) \(\d+\)")


def count_python_nodes(plan: str) -> int:
    """Python-worker operators in a formatted executed plan. Only the
    operator tree is read: the details below it repeat every node, and an
    adaptive plan's tree repeats the initial plan after the final one."""
    tree = plan.split("\n\n(", 1)[0].split("== Initial Plan ==", 1)[0]
    return len(_PYTHON_NODE.findall(tree))


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str
    name: str
    start: float
    end: float = 0.0


class _Traced:
    """Callable stand-in for a layer function. Pickles as the original
    (looked up by module and name), so a Python worker that unpickles a
    UDF referring to it gets the untraced function."""

    def __init__(self, recorder: SpanRecorder, layer: str, fn) -> None:
        functools.update_wrapper(self, fn)
        self._recorder = recorder
        self._layer = layer
        self._fn = fn

    def __call__(self, *args, **kwargs):
        rec = self._recorder
        if threading.get_ident() != rec.thread:
            return self._fn(*args, **kwargs)  # stream or callback thread
        with rec.span(self._layer, self._fn.__name__):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return getattr, (sys.modules[self._fn.__module__], self._fn.__name__)


class SpanRecorder:
    """Opens a job-group span per call of a wrapped layer function."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.thread = threading.get_ident()
        self.spans: dict[int, Span] = {}
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []

    @staticmethod
    def group(sid: int) -> str:
        return f"span-{sid}"

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    @contextmanager
    def span(self, layer: str, name: str):
        sid = next(self._ids)
        parent = self.current()
        self.spans[sid] = Span(sid, parent, layer, name, time.perf_counter())
        self._stack.append(sid)
        self.sc.setJobGroup(self.group(sid), f"{layer}:{name}")
        try:
            yield sid
        finally:
            self.spans[sid].end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                p = self.spans[parent]
                self.sc.setJobGroup(self.group(parent), f"{p.layer}:{p.name}")

    def install(self) -> None:
        """Wrap every public function of every layer module, in every
        package module (and registry entry) that holds a reference. The
        whole registry is imported first: a module imported while the
        wrappers are in place would keep them after ``uninstall``."""
        import importlib

        from recommedation_system_under_flink_spark import registry

        registry.queries()
        wrapped: dict[int, _Traced] = {}
        for layer, mods in LAYERS.items():
            for mod_name in mods:
                mod = importlib.import_module(f"{PKG}.{mod_name}")
                for name, obj in vars(mod).items():
                    if (
                        inspect.isfunction(obj)
                        and not name.startswith("_")
                        and obj.__module__ == mod.__name__
                    ):
                        wrapped[id(obj)] = _Traced(self, layer, obj)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
                continue
            for name, obj in list(vars(mod).items()):
                if id(obj) in wrapped and inspect.isfunction(obj):
                    self._patched.append((mod, name, obj))
                    setattr(mod, name, wrapped[id(obj)])
        for entry in registry._REGISTRY.values():
            if id(entry.fn) in wrapped:
                self._patched.append((entry, "fn", entry.fn))
                entry.fn = wrapped[id(entry.fn)]

    def uninstall(self) -> None:
        for owner, name, original in reversed(self._patched):
            setattr(owner, name, original)
        self._patched.clear()


class StreamListener:
    """Collects micro-batch progress and maps each streaming run id to
    the span that was open when its query started."""

    def __init__(self, recorder: SpanRecorder | None) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.recorder = recorder
        self.run_span: dict[str, int | None] = {}
        self.progress: dict[str, list[dict]] = defaultdict(list)
        self.ended: set[str] = set()
        self._lock = threading.Lock()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                sid = outer.recorder.current() if outer.recorder else None
                with outer._lock:
                    outer.run_span[str(event.runId)] = sid

            def onQueryProgress(self, event):
                p = event.progress
                rec = {
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "ms": p.durationMs.get("triggerExecution", 0),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                }
                with outer._lock:
                    outer.progress[str(p.runId)].append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer._lock:
                    outer.ended.add(str(event.runId))

        self.listener = _Listener()

    def wait(self, timeout: float = 30.0) -> None:
        """Block until every started query's termination was seen, so all
        its progress events have been delivered (they arrive in order)."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if set(self.run_span) <= self.ended:
                    return
            time.sleep(0.02)
        raise TimeoutError("streaming listener did not see every query end")

    def take(self) -> tuple[dict[str, int | None], dict[str, list[dict]]]:
        """Return and forget what was collected since the last call. Only
        queries whose start was seen count: a late event of a query that
        started before the listener was attached is dropped."""
        with self._lock:
            runs = dict(self.run_span)
            prog = {r: p for r, p in self.progress.items() if r in runs}
            self.run_span.clear()
            self.progress.clear()
            self.ended.clear()
        return runs, prog


@dataclass
class JobStats:
    group: str | None
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0


@dataclass
class Counters:
    """Spark's own counters for the jobs of one request."""

    jobs: dict[int, JobStats] = field(default_factory=dict)
    python_nodes: dict[int, int] = field(default_factory=dict)  # first job -> nodes

    def total(self, attr: str) -> float:
        return sum(getattr(j, attr) for j in self.jobs.values())


class SparkProbe:
    """Reads job, stage and SQL-execution counters between two marks."""

    def __init__(self, spark) -> None:
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> tuple[int, int]:
        return self._dag.numTotalJobs(), self._sql.executionsCount()

    def read(self, since: tuple[int, int], plans: bool) -> Counters:
        self._bus.waitUntilEmpty(60_000)
        job0, exec0 = since
        job1, exec1 = self.mark()
        out = Counters()
        for jid in range(job0, job1):
            jd = self._store.job(jid)
            group = jd.jobGroup()
            js = JobStats(group.get() if group.isDefined() else None)
            ids = jd.stageIds()
            for i in range(ids.size()):
                sd = self._store.lastStageAttempt(ids.apply(i))
                if sd.numCompleteTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                js.stages += 1
                js.tasks += sd.numCompleteTasks()
                js.cpu_s += sd.executorCpuTime() / 1e9
                js.shuffle_mb += (sd.shuffleReadBytes() + sd.shuffleWriteBytes()) / MB
                js.spill_mb += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
                js.input_mb += sd.inputBytes() / MB
            out.jobs[jid] = js
        if plans and exec1 > exec0:
            execs = self._sql.executionsList(exec0, exec1 - exec0)
            for i in range(execs.size()):
                ex = execs.apply(i)
                jobs = [int(j) for j in ex.jobs().keys().mkString(",").split(",") if j]
                if not jobs:
                    continue
                out.python_nodes[min(jobs)] = count_python_nodes(ex.physicalPlanDescription())
        return out

    def resident_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / MB

    def persistent_rdds(self) -> int:
        return len(self.spark.sparkContext._jsc.getPersistentRDDs())


def layer_metrics(
    recorder: SpanRecorder,
    counters: Counters,
    run_span: dict[str, int | None],
    progress: dict[str, list[dict]],
    request_sid: int,
) -> dict[str, float]:
    """One request's per-layer counters from its spans and jobs."""
    out: dict[str, float] = defaultdict(float)
    spans = [s for s in recorder.spans.values() if _under(recorder, s.sid, request_sid)]
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] += s.end - s.start
    for s in spans:
        key = REQUEST if s.sid == request_sid else s.layer
        out[f"{key}.calls"] += 1 if s.sid != request_sid else 0
        out[f"{key}.self_s"] += (s.end - s.start) - child_time[s.sid]
    by_group = {recorder.group(s.sid): s for s in spans}
    for run_id, sid in run_span.items():
        if sid is not None and recorder.group(sid) in by_group:
            by_group[run_id] = recorder.spans[sid]
    for jid, js in counters.jobs.items():
        s = by_group.get(js.group)
        key = REQUEST if s is None or s.sid == request_sid else s.layer
        out[f"{key}.jobs"] += 1
        out[f"{key}.stages"] += js.stages
        out[f"{key}.tasks"] += js.tasks
        out[f"{key}.cpu_s"] += js.cpu_s
        out[f"{key}.shuffle_mb"] += js.shuffle_mb
        out[f"{key}.spill_mb"] += js.spill_mb
    out["sources.input_mb"] = counters.total("input_mb")
    out["functions.kernels.python_nodes"] = sum(counters.python_nodes.values())
    batches = [b for runs in progress.values() for b in runs]
    out["streaming.hot_topics.batches"] = len(batches)
    out["streaming.hot_topics.batch_p50_ms"] = (
        statistics.median(b["ms"] for b in batches) if batches else 0.0
    )
    out["streaming.hot_topics.state_rows"] = sum(
        runs[-1]["state_rows"] for runs in progress.values() if runs
    )
    return out


def _under(recorder: SpanRecorder, sid: int, root: int) -> bool:
    while sid is not None:
        if sid == root:
            return True
        sid = recorder.spans[sid].parent
    return False
