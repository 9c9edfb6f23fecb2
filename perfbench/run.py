"""Closed-loop benchmark of the recommendation engine.

One client, one request at a time, matching the reference's day loop:
each request runs a workload's queries against an input directory the
session has never seen (one seeded dataset copied to a fresh path per
request, which defeats path-keyed memos the way a new day's landing
directory would), collects every output and is then checked against
the DuckDB oracles outside the timed region.

    python3 perfbench/run.py --workload daily_recs --seed 1 --seconds 10 --trace 0

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``; the line before it records the run environment
and sample counts. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics of ``BENCHMARK.json`` from a run
that alternates untraced and traced requests and states the tracing
overhead. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import platform
import posixpath
import re
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
import types
from collections import defaultdict

import spans
from gen import generate

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = spans.PKG

#: Every run pays a fresh JVM and a cold warm-up request, so each listed
#: workload keeps one query per layer it exercises: the total run count
#: times a run's length must fit the benchmark's time budget. The
#: trimmed queries are in README.md.
WORKLOADS = {
    "daily_recs": (
        "hot_topics_pipeline",
        "tfidf_pipeline",
        "textrank_pipeline_distributed",
        "stream_hot_topics_daily",
    ),
    "iterative_tail": (
        "sim_dbscan_lsh",
        "dedup_prefix_filter_join",
        "graph_hits_clicks",
        "ml_als_half_step",
    ),
    # Runnable by name but not listed in BENCHMARK.json: see README.md.
    "stream_ingest": (
        "stream_hot_topics_daily",
        "stream_hot_topics_trailing",
        "stream_news_running_totals",
        "stream_clicks_dedup",
        "stream_dedup_exact",
    ),
}

#: Untimed requests before timing: the first fresh-path requests of a
#: session run slower while the JVM compiles hot code.
WARMUP_REQUESTS = 1


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# ------------------------------------------------------------ environment


def guard_environment(work: str) -> dict:
    """Refuse debug modes and pin the session to this machine. Must run
    before the package is imported (``session.py`` reads the env then)."""
    if os.environ.get("SPARK_GRAFT_PLAN_AUDIT", "") == "1":
        raise SystemExit(
            "refusing to run with SPARK_GRAFT_PLAN_AUDIT=1: it returns "
            "un-checkpointed plans and keeps caches, so timings are wrong"
        )
    for need in (os.path.join(ROOT, PKG), os.path.join(ROOT, "__spark_entry__.py")):
        if not os.path.exists(need):
            raise SystemExit(f"engine source not found: {need}")
    nproc = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    driver_mb = min(3072, ram // 4 // 2**20)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mb}m"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)
    return {"nproc": nproc, "ram_gb": round(ram / 2**30, 1), "driver_mem_mb": driver_mb}


def redirect_tmp(module: types.ModuleType, tmp: str) -> None:
    """Point a module's hard-coded ``/tmp`` landing directories at the
    run's own scratch directory, so the run writes only in its checkout."""

    def join(a, *p):
        return posixpath.join(tmp if a == "/tmp" else a, *p)

    path = types.SimpleNamespace(**{**vars(posixpath), "join": join})
    module.os = types.SimpleNamespace(**{**vars(os), "path": path})


def start_session(work: str):
    from recommedation_system_under_flink_spark.session import get_spark

    jobs_kept = "100000"
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
                " -XX:-UseDynamicNumberOfCompilerThreads"  # see tree_cpu
            ),
            # keep every job/stage/execution of a run for the counters
            "spark.ui.retainedJobs": jobs_kept,
            "spark.ui.retainedStages": jobs_kept,
            "spark.sql.ui.retainedExecutions": jobs_kept,
        },
    )


# --------------------------------------------------------- process CPU

CLK_TCK = os.sysconf("SC_CLK_TCK")

#: Parts of the process tree whose CPU time is reported apart.
CPU_PARTS = ("driver_python", "jvm", "jit", "python_workers")

#: Parts that count towards a request's CPU. The JIT compiler is left
#: out: after the warm-up it still burns more CPU than the engine's
#: work (about 15-20 s per request), it falls from request to request
#: as the JVM warms, and a long-lived session would not pay it.
REQUEST_CPU_PARTS = ("driver_python", "jvm", "python_workers")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """``comm`` and the fields after it of a ``/proc`` stat file."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:
        return None  # exited while we looked
    return stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:].split()


def _ticks(fields: list[str]) -> int:
    return sum(int(x) for x in fields[11:15])  # utime, stime, cutime, cstime


def tree_cpu() -> dict[str, float]:
    """CPU seconds (user + system) used so far by this process and all
    its descendants, split into the driver's Python process, the JVM's
    JIT compiler threads, the rest of the JVM, and everything else (the
    PySpark daemon and its Python workers). A process's count includes the children it has reaped
    (``cutime``/``cstime``), so workers that already exited are still
    counted: the difference of two readings is the whole tree's CPU
    between them, whatever ran where. JIT threads are read per thread;
    the session keeps them alive (``-XX:-UseDynamicNumberOfCompilerThreads``)
    so none of their time leaves with an exited thread."""
    root = os.getpid()
    children: dict[int, list[int]] = defaultdict(list)
    info: dict[int, tuple[str, int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(f"/proc/{name}/stat")) is not None:
            children[int(st[1][1])].append(int(name))
            info[int(name)] = (st[0], _ticks(st[1]))
    out = dict.fromkeys(CPU_PARTS, 0)
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        comm, ticks = info.get(pid, ("", 0))
        if pid == root:
            out["driver_python"] += ticks
        elif comm == "java":
            jit = sum(  # a thread's own utime + stime: its cutime is the process's
                int(st[1][11]) + int(st[1][12])
                for tid in os.listdir(f"/proc/{pid}/task")
                if (st := _stat(f"/proc/{pid}/task/{tid}/stat")) is not None
                and "CompilerThre" in st[0]
            )
            out["jit"] += jit
            out["jvm"] += ticks - jit
        else:
            out["python_workers"] += ticks
    return {k: v / CLK_TCK for k, v in out.items()}


def cpu_since(before: dict[str, float]) -> dict[str, float]:
    now = tree_cpu()
    return {k: now[k] - before[k] for k in CPU_PARTS}


# ---------------------------------------------------------------- requests


class Inputs:
    """Fresh copies of one generated dataset, one directory per request."""

    def __init__(self, work: str, seed: int) -> None:
        self.base = os.path.join(work, "base")
        self.root = os.path.join(work, "in")
        generate(self.base, seed)
        self._n = 0

    def fresh(self) -> str:
        d = os.path.join(self.root, f"r{self._n:04d}")
        self._n += 1
        shutil.copytree(self.base, d)
        return d


def run_request(spark, names, sf_dir: str) -> tuple[dict, dict, float]:
    """Build and collect every query of one request. Returns outputs,
    per-query (build_s, action_s) and the request's wall seconds."""
    from recommedation_system_under_flink_spark import registry

    fns = registry.queries()
    outs, split = {}, {}
    t0 = time.perf_counter()
    for name in names:
        a = time.perf_counter()
        df = fns[name](spark, sf_dir)
        b = time.perf_counter()
        outs[name] = df.toPandas()
        split[name] = (b - a, time.perf_counter() - b)
    return outs, split, time.perf_counter() - t0


_CTE = re.compile(r"\b(\w+) AS \(")


def materialize(sql: str) -> str:
    """Mark every non-recursive CTE of an oracle ``MATERIALIZED``. DuckDB
    otherwise inlines a CTE at each reference, and the chained oracles
    (HITS rounds, the LSH DBSCAN pairs) re-evaluate their prefix
    exponentially often: 6-45 s instead of well under a second, for the
    same rows."""
    out, pos = [], 0
    for m in _CTE.finditer(sql):
        depth, end = 1, m.end()
        while depth:
            depth += {"(": 1, ")": -1}.get(sql[end], 0)
            end += 1
        if re.search(rf"\b{m.group(1)}\b", sql[m.end():end]):
            continue  # recursive: must stay inlined
        out.append(sql[pos:m.start()] + f"{m.group(1)} AS MATERIALIZED (")
        pos = m.end()
    out.append(sql[pos:])
    return "".join(out)


class Oracle:
    """Expected outputs on the generated inputs, compared with the
    ``scripts/check.py`` normalisation (type-sensitive, floats rounded
    to 9 places). Queries without an oracle are checked by row count
    against the first checked request."""

    def __init__(self, names, base: str) -> None:
        import duckdb

        spec = importlib.util.spec_from_file_location(
            "_gate_check", os.path.join(ROOT, "scripts", "check.py")
        )
        self.check = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.check)
        from recommedation_system_under_flink_spark import registry

        oracles = registry.oracles()
        con = duckdb.connect()
        try:
            for t in ("events", "documents", "embeddings"):
                p = os.path.join(base, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            self.expected = {
                n: self.check._snapshot(*self.check._oracle_frame(con, materialize(oracles[n])))
                for n in names
                if n in oracles
            }
        finally:
            con.close()
        self.row_counts: dict[str, int] = {}

    def mismatches(self, outs: dict) -> list[str]:
        bad = []
        for name, pdf in outs.items():
            if name not in self.expected:
                if self.row_counts.setdefault(name, len(pdf)) != len(pdf):
                    bad.append(f"{name}: {len(pdf)} rows, first request had {self.row_counts[name]}")
                continue
            rows = [tuple(r) for r in pdf.itertuples(index=False, name=None)]
            got = self.check._snapshot(list(pdf.columns), rows)
            if got != self.expected[name]:
                bad.append(f"{name}: output differs from the oracle")
        return bad


# ----------------------------------------------------------------- the run


class Run:
    def __init__(self, args, work: str) -> None:
        self.args = args
        self.names = WORKLOADS[args.workload]
        self.work = work
        self.attempted = 0
        self.failed = 0

    def setup(self) -> tuple[float, float]:
        """Session start, registry import and warm-up requests. Returns
        the process tree's CPU seconds for them, JIT included (paying the
        JIT is what the warm-up is for), and their wall seconds."""
        cpu0 = tree_cpu()
        t0 = time.perf_counter()
        self.spark = start_session(self.work)
        import __spark_entry__
        from recommedation_system_under_flink_spark import registry
        from recommedation_system_under_flink_spark.streaming import hot_topics

        registry.queries()
        __spark_entry__._configure(self.spark)
        redirect_tmp(hot_topics, os.path.join(self.work, "tmp"))
        for _ in range(WARMUP_REQUESTS):
            run_request(self.spark, self.names, self.inputs.fresh())
        wall = time.perf_counter() - t0
        return sum(cpu_since(cpu0).values()), wall

    def request(self, probe, recorder=None, listener=None) -> dict | None:
        """One checked request; returns its measurements, or None if it
        failed (raised, or an output mismatched its oracle). A traced
        request takes both the span recorder and the stream listener;
        the listener is attached for that request only."""
        sf_dir = self.inputs.fresh()
        mark = probe.mark()
        self.attempted += 1
        try:
            if recorder is None:
                cpu0 = tree_cpu()
                outs, split, wall = run_request(self.spark, self.names, sf_dir)
                cpu = cpu_since(cpu0)
            else:
                self.spark.streams.addListener(listener.listener)
                try:
                    listener.take()  # drop what an earlier request left behind
                    recorder.install()
                    try:
                        cpu0 = tree_cpu()
                        with recorder.span(spans.REQUEST, self.args.workload) as sid:
                            outs, split, wall = run_request(self.spark, self.names, sf_dir)
                        cpu = cpu_since(cpu0)
                    finally:
                        recorder.uninstall()
                    listener.wait()
                finally:
                    self.spark.streams.removeListener(listener.listener)
        except Exception:  # noqa: BLE001 - a failed request is counted, not fatal
            traceback.print_exc()
            self.failed += 1
            return None
        bad = self.oracle.mismatches(outs)
        if bad:
            print("mismatch: " + "; ".join(bad), file=sys.stderr)
            self.failed += 1
            return None
        counters = probe.read(mark, plans=recorder is not None)
        m = {
            "wall": wall,
            "cpu_s": counters.total("cpu_s"),
            "tree_cpu_s": sum(cpu[k] for k in REQUEST_CPU_PARTS),
            "cpu": cpu,
            "split": split,
        }
        print(
            f"request {self.attempted}{' traced' if recorder else ''}: "
            f"{wall:.3f} s wall, {m['tree_cpu_s']:.2f} s cpu ("
            + ", ".join(f"{k} {v:.2f}" for k, v in cpu.items())
            + f"), {m['cpu_s']:.3f} s executor task cpu",
            file=sys.stderr,
        )
        if recorder is not None:
            m["layers"] = spans.layer_metrics(recorder, counters, *listener.take(), sid)
        return m

    def main(self) -> dict:
        self.inputs = Inputs(self.work, self.args.seed)
        setup_s, setup_wall_s = self.setup()
        self.oracle = Oracle(self.names, self.inputs.base)
        probe = spans.SparkProbe(self.spark)
        if self.args.trace:
            return {**self.traced(probe), "setup_wall_s": setup_wall_s}
        samples = []
        t0 = time.perf_counter()
        while not samples or time.perf_counter() - t0 < self.args.seconds:
            m = self.request(probe)
            if m is None:
                if self.failed >= 3:
                    break
                continue
            samples.append(m)
        return {
            "metrics": end_to_end_metrics(setup_s, samples),
            "samples": len(samples),
            "request_p50_s": _median(samples, "wall"),
            "setup_wall_s": setup_wall_s,
        }

    def traced(self, probe) -> dict:
        """Alternate untraced and traced requests; per-layer medians come
        from the traced ones, the overhead from comparing the two. One
        more untimed request first: the request after a single warm-up is
        still ~15% slower than the next, which would bias the overhead."""
        run_request(self.spark, self.names, self.inputs.fresh())
        recorder = spans.SpanRecorder(self.spark.sparkContext)
        listener = spans.StreamListener(recorder)
        plain, traced, persistent = [], [], []
        t0 = time.perf_counter()
        while not traced or time.perf_counter() - t0 < self.args.seconds:
            m = self.request(probe)
            if m is not None:
                plain.append(m)
            m = self.request(probe, recorder, listener)
            if m is not None:
                traced.append(m)
                persistent.append(probe.persistent_rdds())
            if self.failed >= 3:
                break
        metrics = {}
        if traced and plain:
            metrics = per_layer_metrics(traced, plain, persistent[-1], probe.resident_mb())
        return {
            "metrics": metrics,
            "samples": len(traced),
            "untraced_samples": len(plain),
            "request_p50_s": _median(plain, "wall"),
        }


def _median(samples, key: str) -> float:
    return statistics.median(s[key] for s in samples) if samples else float("nan")


def end_to_end_metrics(setup_s: float, samples: list[dict]) -> dict:
    """The bounded metrics: CPU seconds, of set-up and per request. Wall
    times of both are reported beside them, unbounded: on a shared host
    they swing with the host's load by more than any bound a regression
    gate could hold (README.md)."""
    return {
        "setup_s": (setup_s, "s"),
        "request_cpu_s": (_median(samples, "tree_cpu_s"), "s"),
        "executor_cpu_s": (_median(samples, "cpu_s"), "s"),
    }


def per_layer_metrics(traced, plain, persistent_rdds: int, resident_mb: float) -> dict:
    """Median per-request value of every per-layer metric over the traced
    requests, plus the leak gauges after the last one and the tracing
    overhead against the untraced requests of the same run."""
    units = {"calls": "count", "jobs": "count", "stages": "count", "tasks": "count",
             "self_s": "s", "cpu_s": "s", "shuffle_mb": "MB", "spill_mb": "MB"}
    out = {}
    for layer in (*spans.LAYERS, spans.REQUEST):
        for f in spans.LAYER_FIELDS:
            if layer == spans.REQUEST and f == "calls":
                continue
            key = f"{layer}.{f}"
            out[key] = (statistics.median(s["layers"].get(key, 0.0) for s in traced), units[f])
    for key, unit in (
        ("sources.input_mb", "MB"),
        ("functions.kernels.python_nodes", "count"),
        ("streaming.hot_topics.batches", "count"),
        ("streaming.hot_topics.batch_p50_ms", "ms"),
        ("streaming.hot_topics.state_rows", "count"),
    ):
        out[key] = (statistics.median(s["layers"][key] for s in traced), unit)
    pipelines = [
        [sum(v[i] for n, v in s["split"].items() if _is_pipeline(n)) for s in traced]
        for i in (0, 1)
    ]
    out["plans.pipelines.build_s"] = (statistics.median(pipelines[0]), "s")
    out["plans.pipelines.action_s"] = (statistics.median(pipelines[1]), "s")
    for part in CPU_PARTS:  # from the untraced requests: the split of request_cpu_s
        out[f"cpu.{part}_s"] = (statistics.median(s["cpu"][part] for s in plain), "s")
    out["operators.bsp.persistent_rdds"] = (persistent_rdds, "count")
    out["cache_resident_mb"] = (resident_mb, "MB")
    out["trace.overhead_pct"] = (
        100.0 * (_median(traced, "wall") / _median(plain, "wall") - 1.0),
        "%",
    )
    return out


def _is_pipeline(name: str) -> bool:
    from recommedation_system_under_flink_spark import registry

    return registry.queries()[name].__module__ == f"{PKG}.plans.pipelines"


# -------------------------------------------------------------- processes

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants, so the
    PySpark daemon and workers that outlive the JVM are still its
    children: ``stop_processes`` can then stop them and wait for them."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def descendants() -> list[int]:
    root = os.getpid()
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(f"/proc/{name}/stat")) is not None:
            children[int(st[1][1])].append(int(name))
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _reap() -> bool:
    """Collect every exited child; True when no child is left."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return True
        if pid == 0:
            return False


def stop_processes(spark, timeout: float = 30.0) -> None:
    """Stop the session, then the JVM (closing its stdin is its signal to
    exit), then every process still running under this one, and wait
    until each has ended."""
    import subprocess

    from pyspark import SparkContext

    if spark is not None:
        with contextlib.suppress(Exception):
            spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in descendants():
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        deadline = time.monotonic() + timeout
        while not _reap() and time.monotonic() < deadline:
            time.sleep(0.05)
    while not _reap():
        time.sleep(0.05)


def cpu_ticks() -> tuple[int, int]:
    """Stolen and total CPU ticks of this machine so far (``/proc/stat``)."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def environment(spark, host: dict, ticks: tuple[int, int]) -> dict:
    """Versions and machine of the run. ``host_steal_pct`` is the share of
    CPU time the hypervisor gave to other guests during the run: a busy
    host slows every wall figure of the run."""
    jvm = spark.sparkContext._jvm
    stolen, total = (b - a for a, b in zip(ticks, cpu_ticks()))
    return {
        **host,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
        "host_steal_pct": round(100.0 * stolen / total, 2) if total else 0.0,
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    work_root = os.path.join(ROOT, ".perfbench-work")
    work = os.path.join(work_root, f"{os.getpid()}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the cleanup below
    try:
        host = guard_environment(work)
        ticks = cpu_ticks()
        run = Run(args, work)
        try:
            res = run.main()
            env = environment(run.spark, host, ticks)
        finally:
            stop_processes(getattr(run, "spark", None))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            os.rmdir(work_root)
    attempted, failed = run.attempted, run.failed
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "samples": res["samples"],
        **({"untraced_samples": res["untraced_samples"]} if args.trace else {}),
        "request_p50_s": {"value": res["request_p50_s"], "unit": "s"},
        "setup_wall_s": {"value": res["setup_wall_s"], "unit": "s"},
        "error_rate": failed / attempted if attempted else 1.0,
        "env": env,
    }))
    print(json.dumps({
        "correct": attempted > 0 and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
