"""scripts/bench_compare.py reads bench.py lines, bare or wrapped with run
metadata, flags comparisons whose files ran different warm-ups, and reports
codegen compile counts where the files recorded them."""

from __future__ import annotations

import json
import os
import subprocess
import sys

SCRIPT = os.path.join(os.path.dirname(__file__), "..", "scripts", "bench_compare.py")

WARMUP = ["parquet:events", "shuffle_agg", "window", "pandas_udf", "python_datasource"]


def _compare(tmp_path, new: dict, old: dict) -> dict:
    paths = []
    for name, d in (("new.json", new), ("old.json", old)):
        p = tmp_path / name
        p.write_text(json.dumps(d))
        paths.append(str(p))
    out = subprocess.run(
        [sys.executable, SCRIPT, paths[0], "--vs", paths[1]],
        check=True,
        capture_output=True,
        text=True,
    ).stdout
    return json.loads(out)


def test_same_warmup_is_not_mixed(tmp_path):
    line = {"queries": {"q": 2.0, "s21_python_datasource": 1.0}, "warmup": WARMUP}
    got = _compare(tmp_path, line, {"parsed": line, "cpus": 4})
    assert got["controls_used_new"] == got["controls_used_old"] == 1
    assert got["common_queries"] == 2
    assert got["warmup_new"] == got["warmup_old"] == [",".join(WARMUP)]
    assert not got["warmup_mixed"]


def test_unrecorded_or_different_warmup_is_mixed(tmp_path):
    new = {"queries": {"s21_python_datasource": 1.0}, "warmup": WARMUP}
    old = {"queries": {"s21_python_datasource": 8.3}}
    got = _compare(tmp_path, new, old)
    assert got["warmup_old"] == ["unrecorded"]
    assert got["warmup_mixed"]
    got = _compare(tmp_path, new, {**new, "warmup": WARMUP[:-1]})
    assert got["warmup_mixed"]


def test_codegen_compiles_reported_or_unrecorded(tmp_path):
    new = {"queries": {"q": 2.0, "r": 3.0}, "codegen_compiles": {"q": 4, "r": 20}}
    old = {"queries": {"q": 2.0, "r": 1.0}, "codegen_compiles": {"q": 6, "r": 1}}
    got = _compare(tmp_path, new, old)
    assert got["codegen_compiles_new"] == 24
    assert got["codegen_compiles_old"] == 7
    got = _compare(tmp_path, new, {"queries": old["queries"]})
    assert got["codegen_compiles_new"] == 24
    assert got["codegen_compiles_old"] == "unrecorded"
