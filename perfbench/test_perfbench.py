"""Self-tests of the benchmark harness (not of the engine).

    python3 -m pytest perfbench -q

They start one local Spark session and use a tiny generated input.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

import pytest

import gen
import run
import spans

WORK = os.path.join(run.ROOT, ".perfbench-work", f"selftest-{os.getpid()}")
TINY = gen.Size(events=1_000, users=20, vectors=60)


def _digests(d: str) -> list[str]:
    return [
        hashlib.sha256(open(os.path.join(d, f"{t}.parquet"), "rb").read()).hexdigest()
        for t in gen.TABLES
    ]


@pytest.fixture(scope="module")
def spark():
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    run.guard_environment(WORK)
    run.adopt_orphans()
    session = run.start_session(WORK)
    yield session
    run.stop_processes(session)
    shutil.rmtree(WORK, ignore_errors=True)
    with contextlib.suppress(OSError):
        os.rmdir(os.path.dirname(WORK))


@pytest.fixture(scope="module")
def tiny(spark):
    d = os.path.join(WORK, "tiny")
    gen.generate(d, 5, TINY)
    return d


def test_generator_is_deterministic(tmp_path):
    for name, seed in (("a", 3), ("b", 3), ("c", 4)):
        gen.generate(str(tmp_path / name), seed, TINY)
    assert _digests(tmp_path / "a") == _digests(tmp_path / "b")
    assert all(x != y for x, y in zip(_digests(tmp_path / "a"), _digests(tmp_path / "c")))


def test_generator_keeps_fixture_schemas_and_ranges(tmp_path):
    import pyarrow.parquet as pq

    spec = importlib.util.spec_from_file_location(
        "_schema_probe", os.path.join(run.ROOT, "scripts", "schema_probe.py")
    )
    probe = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(probe)
    gen.generate(str(tmp_path), 9, TINY)
    for t in gen.TABLES:
        schema = pq.ParquetFile(tmp_path / f"{t}.parquet").schema_arrow
        assert {f.name: str(f.type) for f in schema} == probe.EXPECTED[t]
    ev = pq.read_table(tmp_path / "events.parquet").to_pandas()
    assert ev.ts.dt.date.min().isoformat() == "2024-01-01"
    assert ev.ts.dt.date.max().isoformat() == "2024-01-30"
    docs = pq.read_table(tmp_path / "documents.parquet").to_pandas()
    assert list(docs.doc_id) == list(range(TINY.docs))


def test_plan_audit_mode_is_refused(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_PLAN_AUDIT", "1")
    with pytest.raises(SystemExit):
        run.guard_environment(str(tmp_path))


def test_job_groups_nest_and_restore(spark):
    sc = spark.sparkContext
    rec = spans.SpanRecorder(sc)
    probe = spans.SparkProbe(spark)
    mark = probe.mark()
    with rec.span("outer", "a") as a:
        spark.range(10).count()
        with rec.span("inner", "b") as b:
            assert sc.getLocalProperty("spark.jobGroup.id") == rec.group(b)
            spark.range(10).count()
        assert sc.getLocalProperty("spark.jobGroup.id") == rec.group(a)
        spark.range(10).count()
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    groups = [j.group for j in probe.read(mark, plans=False).jobs.values()]
    assert set(groups) == {rec.group(a), rec.group(b)}
    assert groups.count(rec.group(a)) == 2 * groups.count(rec.group(b))


def test_builder_eager_jobs_go_to_their_layer(spark, tiny):
    from recommedation_system_under_flink_spark import registry

    original = registry.queries()["graph_hits_clicks"]
    rec = spans.SpanRecorder(spark.sparkContext)
    probe = spans.SparkProbe(spark)
    mark = probe.mark()
    rec.install()
    try:
        with rec.span(spans.REQUEST, "test") as sid:
            df = registry.queries()["graph_hits_clicks"](spark, tiny)
            n_eager = probe.read(mark, plans=False).jobs
            df.toPandas()
    finally:
        rec.uninstall()
    assert registry._REGISTRY["graph_hits_clicks"].fn is original
    layers = spans.layer_metrics(rec, probe.read(mark, plans=True), {}, {}, sid)
    # the builder's eager count and checkpoint ran before the final action
    assert layers["operators.graph.jobs"] >= 1
    assert layers["operators.bsp.jobs"] >= 1
    in_layers = sum(
        v for k, v in layers.items() if k.endswith(".jobs") and not k.startswith("request.")
    )
    assert in_layers == len(n_eager)
    assert layers["request.jobs"] >= 1
    assert layers["operators.graph.calls"] == 1


def test_python_nodes_are_counted_once_per_operator(spark):
    probe = spans.SparkProbe(spark)
    mark = probe.mark()
    spark.range(100).mapInPandas(lambda it: it, "id long").toPandas()
    assert sum(probe.read(mark, plans=True).python_nodes.values()) == 1


def test_tree_cpu_counts_exited_children():
    before = run.tree_cpu()
    code = "import time\nend = time.process_time() + 0.5\nwhile time.process_time() < end: pass"
    subprocess.run([sys.executable, "-c", code], check=True)
    used = run.cpu_since(before)
    assert used["driver_python"] >= 0.4  # the reaper's cutime carries it


def test_tree_cpu_counts_python_workers_and_jvm(spark):
    def burn(it):  # defined here: a worker cannot import this module
        for pdf in it:
            end = time.process_time() + 0.4
            while time.process_time() < end:
                pass
            yield pdf

    before = run.tree_cpu()
    spark.range(0, 4, numPartitions=2).mapInPandas(burn, "id long").toPandas()
    used = run.cpu_since(before)
    assert used["python_workers"] >= 0.6  # two partitions, 0.4 s each
    assert used["jvm"] > 0.0
    assert run.tree_cpu()["jit"] > 0.0  # the compiler threads are found


def test_listener_sees_every_micro_batch(spark):
    d = os.path.join(WORK, "stream_src")
    for i in range(3):
        spark.range(i * 10, i * 10 + 10).write.mode("overwrite").parquet(os.path.join(d, f"p{i}"))
    src = os.path.join(d, "files")
    os.makedirs(src)
    for i in range(3):
        part = next(f for f in os.listdir(os.path.join(d, f"p{i}")) if f.endswith(".parquet"))
        shutil.copy(os.path.join(d, f"p{i}", part), os.path.join(src, f"f{i}.parquet"))
    listener = spans.StreamListener(None)
    spark.streams.addListener(listener.listener)
    seen = []
    try:
        q = (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(lambda df, batch_id: seen.append(batch_id))
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        listener.wait()
    finally:
        spark.streams.removeListener(listener.listener)
    runs, progress = listener.take()
    assert list(runs) == [str(q.runId)]
    assert sorted(b["batch"] for b in progress[str(q.runId)]) == sorted(seen)
    assert len(seen) == 3


def test_printed_metric_names_match_benchmark_json(spark):
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    rec = spans.SpanRecorder(spark.sparkContext)
    with rec.span(spans.REQUEST, "test") as sid:
        pass
    layers = spans.layer_metrics(rec, spans.Counters(), {}, {}, sid)
    sample = {
        "wall": 1.0,
        "cpu_s": 1.0,
        "tree_cpu_s": 1.0,
        "cpu": dict.fromkeys(run.CPU_PARTS, 1.0),
        "split": {"tfidf_pipeline": (0.5, 0.5)},
        "layers": layers,
    }
    e2e = run.end_to_end_metrics(1.0, [sample])
    per_layer = run.per_layer_metrics([sample], [sample], 0, 0.0)
    assert {k: u for k, (_, u) in e2e.items()} == {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert {k: u for k, (_, u) in per_layer.items()} == {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
