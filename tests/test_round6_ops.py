"""Round-6 operator invariants: PIVOT by day-of-week (conservation vs
duckdb), next-item and path queries on planted logs (the session-overlap
and causal-effect tests live in tests/test_events_flow.py)."""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest

from conftest import SF_DIR


@pytest.fixture(scope="module")
def queries():
    from recommedation_system_under_flink_spark import registry

    return registry.queries()


def test_pivot_dow_conserves_counts(queries, spark):
    rows = queries["ev_pivot_event_dow"](spark, SF_DIR).collect()
    truth = dict(
        duckdb.sql(
            f"SELECT event_type, COUNT(*) FROM '{SF_DIR}/events.parquet' GROUP BY 1"
        ).fetchall()
    )
    assert {r["event_type"] for r in rows} == set(truth)
    for r in rows:
        assert sum(r[f"dow_{d}"] for d in range(7)) == r["total"] == truth[r["event_type"]]


def _write_events(tmp_path, rows):
    duckdb.sql(
        "CREATE TABLE ev6 (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        "event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    duckdb.executemany("INSERT INTO ev6 VALUES (?,?,?,?,?,?)", rows)
    duckdb.sql(f"COPY ev6 TO '{tmp_path}/events.parquet' (FORMAT PARQUET)")
    duckdb.sql("DROP TABLE ev6")


def test_next_item_hitrate_no_label_leakage(queries, spark, tmp_path):
    """Planted log where the held-out pairs would flip the model if
    they leaked into training: U1 clicks news 1,2,1,3 (holds out 1→3),
    U2 clicks 1,3 (holds out its only pair). Leakage-free training
    sees only 1→2 / 2→1, so the model predicts 2 after 1 and both
    evaluations MISS; a leaky model would count 1→3 twice and hit."""
    base = dt.datetime(2024, 3, 1)
    rows = []
    # event_id % 1000 is the news id; ids chosen so mod-1000 = news
    for i, news in enumerate([1, 2, 1, 3]):
        rows.append((news + 1000 * i, base + dt.timedelta(minutes=i), 1,
                     "click", 1.0, "{}"))
    for i, news in enumerate([1, 3]):
        rows.append((news + 1000 * (i + 10), base + dt.timedelta(minutes=i), 2,
                     "click", 1.0, "{}"))
    _write_events(tmp_path, rows)
    row = queries["cf_next_item_hitrate"](spark, str(tmp_path)).collect()[0]
    assert row["n_eval"] == 2
    assert row["coverage"] == 1.0  # news 1 is in the trained model
    assert row["hits"] == 0  # leak-free model predicts 2, actual is 3
    assert row["hit_rate"] == 0.0


def test_path_trigrams_planted_support(queries, spark, tmp_path):
    """news categories 1,2,3,1,2,3 → the (1,2,3) trigram repeats."""
    base = dt.datetime(2024, 3, 1)
    rows = []
    for i, news in enumerate([1, 2, 3, 1, 2, 3]):
        rows.append((news + 20 * i, base + dt.timedelta(minutes=i), 7,
                     "click", 1.0, "{}"))
    _write_events(tmp_path, rows)
    out = queries["cf_path_trigrams"](spark, str(tmp_path)).collect()
    assert [(r["news_a"], r["news_b"], r["news_c"], r["n_paths"])
            for r in out] == [(1, 2, 3, 2)]


def test_skipping_report_layout_dominance(queries, spark):
    """Zone-map pruning must skip most ingestion-order files and no
    hash-scattered files; the predicate's matching rows are layout-
    independent; amplification ≥ 1 always."""
    # sf0.01: 20 modeled files (sf0.001's 2 files both straddle the day)
    rows = {r["layout"]: r for r in
            queries["s27_skipping_stats_report"](
                spark, "/root/testdata/sf0.01").collect()}
    ing, hsh = rows["ingestion_order"], rows["hash_scatter"]
    assert ing["n_files"] == hsh["n_files"]
    assert ing["rows_matching"] == hsh["rows_matching"] > 0
    assert ing["skip_ratio"] > 0.8 and hsh["skip_ratio"] == 0.0
    assert 1.0 <= ing["scan_amplification"] < hsh["scan_amplification"]


def test_harmonic_regression_matches_lstsq(queries, spark):
    import numpy as np

    row = queries["ev_harmonic_regression"](spark, SF_DIR).collect()[0]
    y = duckdb.sql(
        f"""SELECT CAST(COUNT(*) AS DOUBLE) FROM '{SF_DIR}/events.parquet'
            WHERE event_type = 'click' GROUP BY CAST(ts AS DATE)
            ORDER BY CAST(ts AS DATE)"""
    ).df().iloc[:, 0].to_numpy()
    x = np.arange(len(y), dtype=float)
    tau = 2 * np.pi / 7
    X = np.column_stack([np.ones_like(x), x, np.sin(tau * x), np.cos(tau * x)])
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    assert row["n_days"] == len(y)
    got = [row["intercept"], row["slope"], row["sin_coef"], row["cos_coef"]]
    assert got == pytest.approx(list(beta), abs=1e-4)
    sse = float(((y - X @ beta) ** 2).sum())
    sst = float(((y - y.mean()) ** 2).sum())
    assert row["r2"] == pytest.approx(1 - sse / sst, abs=1e-5)
    assert row["amplitude"] == pytest.approx(
        float(np.hypot(beta[2], beta[3])), abs=1e-4
    )


def test_rolling_distinct_users_vs_duckdb_brute(queries, spark):
    rows = queries["ev_rolling_distinct_users"](spark, SF_DIR).collect()
    assert len(rows) == 30
    for r in rows:
        assert 0 < r["users_1d"] <= r["users_7d"]
    # the 7-day count can never exceed the sum of the last 7 daily ones
    daily = {r["date"]: r["users_1d"] for r in rows}
    days = sorted(daily)
    for i, d in enumerate(days):
        win = [daily[x] for x in days[max(0, i - 6): i + 1]]
        me = next(r for r in rows if r["date"] == d)
        assert max(win) <= me["users_7d"] <= sum(win)


def test_window_zoo_single_exchange(queries, spark):
    plan = queries["t7_window_function_zoo"](
        spark, SF_DIR
    )._jdf.queryExecution().executedPlan().toString()
    import re

    # one shuffle for the aggregate, one for the shared window sort
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 2


def test_table_fingerprint_detects_single_row_change(queries, spark, tmp_path):
    """The commutative checksum must be order-independent and flip on
    any single-row mutation."""
    import shutil

    src = f"{SF_DIR}/documents.parquet"
    base = queries["prof_table_fingerprint"](spark, SF_DIR).collect()
    fp0 = {r["relation"]: r["fingerprint"] for r in base}
    # same rows, reversed order -> identical fingerprint
    duckdb.sql(
        f"COPY (SELECT * FROM '{src}' ORDER BY doc_id DESC) TO "
        f"'{tmp_path}/documents.parquet' (FORMAT PARQUET)"
    )
    # events/orders unchanged
    for t in ("events", "orders"):
        shutil.copy(f"{SF_DIR}/{t}.parquet", f"{tmp_path}/{t}.parquet")
    rows = queries["prof_table_fingerprint"](spark, str(tmp_path)).collect()
    fp1 = {r["relation"]: r["fingerprint"] for r in rows}
    assert fp1 == fp0
    # mutate ONE document's n_chars -> documents fingerprint flips
    duckdb.sql(
        f"COPY (SELECT doc_id, text, lang, source, "
        f"CASE WHEN doc_id = 3 THEN n_chars + 1 ELSE n_chars END AS n_chars "
        f"FROM '{src}') TO '{tmp_path}/documents.parquet' (FORMAT PARQUET)"
    )
    rows = queries["prof_table_fingerprint"](spark, str(tmp_path)).collect()
    fp2 = {r["relation"]: r["fingerprint"] for r in rows}
    assert fp2["documents"] != fp0["documents"]
    assert fp2["orders"] == fp0["orders"] and fp2["clicks"] == fp0["clicks"]


def test_cohort_retention_triangle_invariants(queries, spark):
    rows = queries["ev_cohort_retention"](spark, SF_DIR).collect()
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r["cohort_week"], []).append(r)
    for cohort, rs in by_cohort.items():
        rs.sort(key=lambda r: r["week_offset"])
        # offset 0 is every cohort member's first week: retention = 1
        assert rs[0]["week_offset"] == 0
        assert rs[0]["retention"] == 1.0
        assert rs[0]["active_users"] == rs[0]["cohort_size"]
        for r in rs:
            assert 0 < r["retention"] <= 1.0
    # cohort sizes partition the user base
    n_users = duckdb.sql(
        f"""SELECT COUNT(DISTINCT user_id) FROM '{SF_DIR}/events.parquet'
            WHERE event_type = 'click'"""
    ).fetchone()[0]
    assert sum(rs[0]["cohort_size"] for rs in by_cohort.values()) == n_users


def test_basket_pairs_lift_and_symmetry_free(queries, spark):
    rows = queries["rel_basket_pairs"](spark, SF_DIR).collect()
    assert 0 < len(rows) <= 50
    counts = [r["co_orders"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    for r in rows:
        assert r["part_a"] < r["part_b"]  # each pair exactly once
        assert r["lift"] > 0


def test_balanced_downsample_equalizes_classes(queries, spark):
    rows = queries["samp_balanced_downsample"](spark, SF_DIR).collect()
    from collections import Counter

    c = Counter(r["label"] for r in rows)
    assert len(c) == 2 and len(set(c.values())) == 1  # equal class sizes
    n_min = duckdb.sql(
        f"""SELECT MIN(n) FROM (SELECT COUNT(*) n
            FROM '{SF_DIR}/documents.parquet'
            GROUP BY lang = 'en')"""
    ).fetchone()[0]
    assert c[0] == c[1] == n_min
