"""ML-family invariants: GD logistic regression and its sweep and
learning curve, naive-Bayes language ID, calibration and scorer audits,
feature hashing, JL projection, split finding, boosting, isotonic
calibration, ALS, and the closed-form and cross-validated ridge fits.

Ground truth is recomputed independently (numpy over duckdb-extracted
feature tables), NOT by re-running the operator's SQL oracle — the
oracle certifies cross-engine agreement; these tests certify the math
is the *right* math.
"""

from __future__ import annotations

import sys

import duckdb
import numpy as np
import pytest

from conftest import SF_DIR


@pytest.fixture(scope="module")
def queries():
    from recommedation_system_under_flink_spark import registry

    return registry.queries()


def _feats(sf_dir: str = SF_DIR) -> np.ndarray:
    """(y, x1, x2, x3) exactly as operators/ml.py defines them."""
    return duckdb.sql(
        f"""SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
                   n_chars / 500.0 AS x1,
                   len(list_filter(string_split(text, ' '), t -> t <> ''))
                     / 50.0 AS x2,
                   n_chars / (len(list_filter(string_split(text, ' '),
                                              t -> t <> '')) * 10.0) AS x3
            FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"""
    ).df().to_numpy()


def test_logreg_gd_matches_numpy(queries, spark):
    from recommedation_system_under_flink_spark.operators.ml import (
        GD_ITERS,
        GD_LR,
    )

    row = queries["ml_logreg_gd"](spark, SF_DIR).collect()[0]
    m = _feats()
    y, X = m[:, 0], np.column_stack([np.ones(len(m)), m[:, 1:]])
    w = np.zeros(4)
    for _ in range(GD_ITERS):
        p = 1.0 / (1.0 + np.exp(-(X @ w)))
        w = w - GD_LR * (X.T @ (p - y)) / len(y)
    p = 1.0 / (1.0 + np.exp(-(X @ w)))
    logloss = float(np.mean(-(y * np.log(p) + (1 - y) * np.log(1 - p))))
    acc = float(np.mean((p >= 0.5) == (y == 1.0)))
    got = [row["w_bias"], row["w_x1"], row["w_x2"], row["w_x3"]]
    assert got == pytest.approx(list(w), abs=2e-6)
    assert row["logloss"] == pytest.approx(logloss, abs=2e-6)
    assert row["accuracy"] == pytest.approx(acc, abs=2e-6)
    # GD from w=0 must strictly improve on the w=0 loss (ln 2).
    assert row["logloss"] < np.log(2.0)


def test_nb_langid_partitions_test_split(queries, spark):
    rows = queries["ml_nb_langid"](spark, SF_DIR).collect()
    n = sum(r["n"] for r in rows)
    n_test = duckdb.sql(
        f"""SELECT COUNT(*) FROM '{SF_DIR}/documents.parquet'
            WHERE (doc_id * 2654435761) % 4294967296 % 10 >= 8"""
    ).fetchone()[0]
    assert n == n_test  # every test doc classified exactly once
    # NOTE: the fixture corpus's lang label is lexically uninformative
    # (all langs draw the same vocabulary), so accuracy on it is the
    # prior — the learning behavior is certified on a corpus with real
    # signal below.


def test_nb_langid_learns_disjoint_vocab(queries, spark, tmp_path):
    """On a corpus whose languages use disjoint vocabularies NB must
    classify the held-out split perfectly (the Laplace-smoothed
    likelihood of a wrong lang is V-smaller per token)."""
    words = {"aa": "red green blue", "bb": "un deux trois", "cc": "ichi ni san"}
    rows = []
    for i in range(120):
        lang = list(words)[i % 3]
        rows.append((i, f"{words[lang]} {words[lang]}", lang, "t", 10))
    duckdb.sql(
        "CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
        "source VARCHAR, n_chars BIGINT)"
    )
    duckdb.executemany("INSERT INTO d VALUES (?,?,?,?,?)", rows)
    duckdb.sql(f"COPY d TO '{tmp_path}/documents.parquet' (FORMAT PARQUET)")
    duckdb.sql("DROP TABLE d")
    out = queries["ml_nb_langid"](spark, str(tmp_path)).collect()
    assert all(r["lang_true"] == r["lang_pred"] for r in out)
    assert sum(r["n"] for r in out) > 0


def test_calibration_bins_partition_the_corpus(queries, spark):
    rows = queries["ml_calibration_bins"](spark, SF_DIR).collect()
    n_docs = duckdb.sql(
        f"SELECT COUNT(*) FROM '{SF_DIR}/documents.parquet'"
    ).fetchone()[0]
    assert sum(r["n"] for r in rows) == n_docs
    assert all(0 <= r["bin"] <= 9 for r in rows)
    for r in rows:  # mean score must sit inside its own bin's range
        lo, hi = r["bin"] / 10.0, (r["bin"] + 1) / 10.0 + 1e-9
        assert lo <= r["mean_score"] <= (1.0 if r["bin"] == 9 else hi)


def test_brier_decomposition_identity(queries, spark):
    row = queries["ml_brier_decomposition"](spark, SF_DIR).collect()[0]
    # Murphy: brier ≈ reliability − resolution + uncertainty, up to the
    # within-bin score variance term (bounded by bin width² / 4 = 2.5e-3).
    lhs = row["brier"]
    rhs = row["reliability"] - row["resolution"] + row["uncertainty"]
    assert abs(lhs - rhs) < 2.5e-3
    assert 0 <= row["uncertainty"] <= 0.25


def test_feature_hashing_unit_rows(queries, spark):
    rows = queries["ml_feature_hashing"](spark, SF_DIR).limit(200).collect()
    for r in rows:  # exactly 2 categorical hits per doc (lang + source)
        assert sum(r[f"f{j}"] for j in range(8)) == 2


def test_jl_distortion_concentrates(queries, spark):
    rows = queries["sim_jl_distortion"](spark, SF_DIR).collect()
    assert len(rows) == 50
    ratios = np.array([r["ratio"] for r in rows])
    # Unbiasedness: mean distortion ratio near 1 (k=16 → sd ≈ 1/√8/√50).
    assert 0.8 < ratios.mean() < 1.2
    assert (ratios > 0).all()


def test_lr_sweep_row_matches_single_config(queries, spark):
    """The lr=1.0 sweep row must equal ml_logreg_gd exactly (same
    iterations, same init) — the amortized multi-config training is a
    pure rewrite of N independent fits."""
    single = queries["ml_logreg_gd"](spark, SF_DIR).collect()[0].asDict()
    sweep = {
        r["lr"]: r.asDict()
        for r in queries["ml_lr_sweep"](spark, SF_DIR).collect()
    }
    row = sweep[1.0]
    for k in ("w_bias", "w_x1", "w_x2", "w_x3", "logloss", "accuracy"):
        assert row[k] == pytest.approx(single[k], abs=2e-6)
    # distinct learning rates must actually produce distinct models
    assert sweep[0.5]["w_x1"] != sweep[2.0]["w_x1"]


def _iso_blocks(queries, spark, sf_dir):
    # unregistered pytest diagnostic since round 10 (certified form:
    # ml_isotonic_calibration_hashable) — import directly
    from recommedation_system_under_flink_spark.operators.ml import (
        ml_isotonic_calibration,
    )

    return ml_isotonic_calibration(spark, sf_dir).collect()


def test_isotonic_kkt_invariants(queries, spark):
    """PAVA optimality certificate, no algorithm replay: block means
    strictly increase (else PAVA would have pooled further), mass and
    count are conserved per group, and every fitted value is the mean
    of its own block — together these pin the unique isotonic fit."""
    rows = _iso_blocks(queries, spark, SF_DIR)
    truth = duckdb.sql(
        f"""SELECT lang, COUNT(*) AS n,
                   SUM(CASE WHEN list_contains(
                       list_filter(string_split(text,' '), t->t<>''), 'the')
                       THEN 1.0 ELSE 0.0 END) AS ysum
            FROM '{SF_DIR}/documents.parquet' GROUP BY lang"""
    ).df().set_index("lang")
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    assert set(by_lang) == set(truth.index)
    for lang, blocks in by_lang.items():
        blocks.sort(key=lambda r: r["block"])
        fitted = [b["fitted"] for b in blocks]
        assert all(a < b for a, b in zip(fitted, fitted[1:]))  # strict ↑
        assert all(b["s_lo"] <= b["s_hi"] for b in blocks)
        s_his = [b["s_hi"] for b in blocks]
        assert s_his == sorted(s_his)
        assert sum(b["n"] for b in blocks) == truth.loc[lang, "n"]
        mass = sum(b["fitted"] * b["n"] for b in blocks)
        assert mass == pytest.approx(truth.loc[lang, "ysum"], abs=1e-9)
        assert all(0.0 <= f <= 1.0 for f in fitted)


def test_isotonic_planted_solution(queries, spark, tmp_path):
    """Hand-computed PAVA: one lang, scores strictly increasing with
    doc length, labels (0, 1, 0, 1): the middle violation pools docs
    2-3 into a block with fitted 0.5."""
    rows = [
        # n_chars drive the score; text gives y via contains-'the'
        (0, "x", "aa", "t", 100),          # s small, y 0
        (1, "the", "aa", "t", 200),        # y 1 ← violation with next
        (2, "x", "aa", "t", 300),          # y 0
        (3, "the", "aa", "t", 400),        # y 1
    ]
    duckdb.sql(
        "CREATE TABLE d6 (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
        "source VARCHAR, n_chars BIGINT)"
    )
    duckdb.executemany("INSERT INTO d6 VALUES (?,?,?,?,?)", rows)
    duckdb.sql(f"COPY d6 TO '{tmp_path}/documents.parquet' (FORMAT PARQUET)")
    duckdb.sql("DROP TABLE d6")
    out = sorted(
        _iso_blocks(queries, spark, str(tmp_path)), key=lambda r: r["block"]
    )
    assert [r["fitted"] for r in out] == [0.0, 0.5, 1.0]
    assert [r["n"] for r in out] == [1, 2, 1]


def test_als_half_step_matches_numpy_ridge(queries, spark):
    """Each user's factors must equal the closed-form ridge solution
    computed independently in numpy from the same pinned item factors."""
    from recommedation_system_under_flink_spark.operators.ml import ALS_LAMBDA

    rows = queries["ml_als_half_step"](spark, SF_DIR).collect()
    r = duckdb.sql(
        f"""SELECT user_id, event_id % 500 AS news_id,
                   CAST(COUNT(*) AS DOUBLE) AS rating
            FROM '{SF_DIR}/events.parquet' WHERE event_type = 'click'
            GROUP BY 1, 2"""
    ).df()

    def factor(nid, salt):
        return ((int(nid) + salt) * 2654435761 % 2**32) / 2**32 - 0.5

    for row in rows[:40]:
        sub = r[r.user_id == row["user_id"]]
        Fm = np.array([[factor(n, 1), factor(n, 2)] for n in sub.news_id])
        y = sub.rating.to_numpy()
        A = Fm.T @ Fm + ALS_LAMBDA * np.eye(2)
        u = np.linalg.solve(A, Fm.T @ y)
        assert row["n_items"] == len(sub)
        assert [row["u0"], row["u1"]] == pytest.approx(list(u), abs=2e-6)
        rmse = float(np.sqrt(np.mean((y - Fm @ u) ** 2)))
        assert row["rmse"] == pytest.approx(rmse, abs=2e-6)


def test_als_sweeps_monotone_descent(queries, spark):
    """Each ALS half-step exactly minimizes the regularized objective
    in its own block — the objective must be non-increasing across
    half-steps (RMSE alone need not be, under ridge), and the first
    step must already improve on any later one by a real margin."""
    rows = sorted(
        queries["ml_als_two_sweeps"](spark, SF_DIR).collect(),
        key=lambda r: r["step"],
    )
    objs = [r["objective"] for r in rows]
    assert len(objs) == 3
    assert objs[0] >= objs[1] >= objs[2] > 0
    assert objs[2] < objs[0]  # two sweeps make actual progress
    assert all(r["rmse"] > 0 for r in rows)


def test_woe_iv_nonnegative_and_conserved(queries, spark):
    rows = queries["ml_woe_iv"](spark, SF_DIR).collect()
    n_docs = duckdb.sql(
        f"SELECT COUNT(*) FROM '{SF_DIR}/documents.parquet'"
    ).fetchone()[0]
    assert sum(r["n"] for r in rows) == n_docs
    for r in rows:
        assert r["iv_contrib"] >= 0  # (p-q)ln(p/q) >= 0 always
        assert (r["woe"] >= 0) == (r["pct_pos"] >= r["pct_neg"])
    assert sum(r["pct_pos"] for r in rows) == pytest.approx(1.0, abs=1e-3)
    assert sum(r["pct_neg"] for r in rows) == pytest.approx(1.0, abs=1e-3)


def test_target_encoding_loo_matches_pandas(queries, spark):
    from recommedation_system_under_flink_spark.operators.ml import TE_SMOOTH

    rows = queries["ml_target_encoding"](spark, SF_DIR).collect()
    df = duckdb.sql(
        f"""SELECT doc_id, source,
                   CASE WHEN list_contains(
                       list_filter(string_split(text,' '), t->t<>''), 'the')
                   THEN 1.0 ELSE 0.0 END AS y
            FROM '{SF_DIR}/documents.parquet'"""
    ).df()
    mu = df.y.mean()
    g = df.groupby("source").y.agg(["sum", "count"])
    by_id = df.set_index("doc_id")
    for r in rows[:100]:
        src, y = by_id.loc[r["doc_id"], "source"], by_id.loc[r["doc_id"], "y"]
        expect = (g.loc[src, "sum"] - y + TE_SMOOTH * mu) / (
            g.loc[src, "count"] - 1 + TE_SMOOTH
        )
        assert r["enc"] == pytest.approx(expect, abs=2e-6)


def test_decision_stump_matches_bruteforce(queries, spark):
    """The stump's split must equal an exhaustive numpy scan over every
    candidate threshold (weighted Gini)."""
    row = queries["ml_decision_stump"](spark, SF_DIR).collect()[0]
    m = _feats()
    y, x = m[:, 0], m[:, 1]
    best = None
    for t in np.unique(x)[:-1]:  # split after each distinct value
        l, r = y[x <= t], y[x > t]
        g = (
            len(l) * 2 * l.mean() * (1 - l.mean())
            + len(r) * 2 * r.mean() * (1 - r.mean())
        ) / len(y)
        gain = 2 * y.mean() * (1 - y.mean()) - g
        if best is None or gain > best[1] + 1e-12:
            best = (t, gain)
    assert row["threshold"] == pytest.approx(best[0], abs=2e-6)
    assert row["gain"] == pytest.approx(best[1], abs=2e-6)
    assert row["n_left"] + row["n_right"] == len(y)
    assert row["gain"] >= 0


def test_roc_auc_matches_numpy(queries, spark):
    rows = queries["ml_roc_auc"](spark, SF_DIR).collect()
    m = _feats()
    y = m[:, 0]
    z = -3.0 + 4.0 * m[:, 1] + 1.0 * m[:, 2]
    # the query pins 6dp-quantized scores (cross-engine tie-structure
    # determinism — see ml_roc_auc's docstring); replay the same key
    s = np.round(1 / (1 + np.exp(-z)), 6)
    # exact rank-sum AUC with midranks
    order = np.argsort(s, kind="mergesort")
    ranks = np.empty(len(s))
    sorted_s = s[order]
    i = 0
    rank_vals = np.arange(1, len(s) + 1, dtype=float)
    while i < len(s):
        j = i
        while j + 1 < len(s) and sorted_s[j + 1] == sorted_s[i]:
            j += 1
        rank_vals[i : j + 1] = (i + 1 + j + 1) / 2.0
        i = j + 1
    ranks[order] = rank_vals
    npos, nneg = y.sum(), (1 - y).sum()
    auc = (ranks[y == 1].sum() - npos * (npos + 1) / 2) / (npos * nneg)
    assert rows[0]["auc"] == pytest.approx(auc, abs=2e-6)
    # curve endpoints and monotone decrease in both rates
    by_thr = sorted(rows, key=lambda r: r["threshold"])
    assert by_thr[0]["tpr"] == 1.0 and by_thr[0]["fpr"] == 1.0  # thr 0
    tprs = [r["tpr"] for r in by_thr]
    fprs = [r["fpr"] for r in by_thr]
    assert tprs == sorted(tprs, reverse=True)
    assert fprs == sorted(fprs, reverse=True)


def test_histogram_split_matches_edge_bruteforce(queries, spark):
    """The binned split must equal an exhaustive numpy scan over the 64
    bin-edge candidates, and can never beat the exact (distinct-value)
    split. (No proximity assertion: the exact optimum can be a tiny
    within-bin spike that quantization legitimately cannot see.)"""
    exact = queries["ml_decision_stump"](spark, SF_DIR).collect()[0]
    approx = queries["ml_histogram_split"](spark, SF_DIR).collect()[0]
    assert approx["gain"] <= exact["gain"] + 1e-9
    m = _feats()
    y, x = m[:, 0], m[:, 1]
    bins = np.minimum(np.floor(x / 2.0 * 64), 63)
    parent = 2 * y.mean() * (1 - y.mean())
    best = None
    for b in np.unique(bins)[:-1]:
        l, r = y[bins <= b], y[bins > b]
        g = (
            len(l) * 2 * l.mean() * (1 - l.mean())
            + len(r) * 2 * r.mean() * (1 - r.mean())
        ) / len(y)
        if best is None or parent - g > best[1] + 1e-12:
            best = (b, parent - g)
    assert approx["split_bin"] == best[0]
    assert approx["gain"] == pytest.approx(best[1], abs=2e-6)


def test_boosted_stumps_mse_descends_and_matches_numpy(queries, spark):
    from recommedation_system_under_flink_spark.operators.ml import BOOST_NU

    rows = sorted(
        queries["ml_boosted_stumps"](spark, SF_DIR).collect(),
        key=lambda r: r["stage"],
    )
    m = _feats()
    y, x1, x2 = m[:, 0], m[:, 1], m[:, 2]

    def sse_split(x, t):
        best = None
        for thr in np.unique(x)[:-1]:
            l, r = t[x <= thr], t[x > thr]
            sse = ((l - l.mean()) ** 2).sum() + ((r - r.mean()) ** 2).sum()
            if best is None or sse < best[1] - 1e-12:
                best = (thr, sse, l.mean(), r.mean())
        return best

    t1, _, vl1, vr1 = sse_split(x1, y)
    res = y - BOOST_NU * np.where(x1 <= t1, vl1, vr1)
    assert rows[0]["threshold"] == pytest.approx(t1, abs=2e-6)
    assert rows[0]["train_mse"] == pytest.approx(float((res ** 2).mean()), abs=2e-6)
    t2, _, vl2, vr2 = sse_split(x2, res)
    res2 = res - BOOST_NU * np.where(x2 <= t2, vl2, vr2)
    assert rows[1]["threshold"] == pytest.approx(t2, abs=2e-6)
    assert rows[1]["train_mse"] == pytest.approx(float((res2 ** 2).mean()), abs=2e-6)
    # boosting with shrinkage and a positive-gain split strictly improves
    assert rows[1]["train_mse"] < rows[0]["train_mse"]
    assert rows[0]["train_mse"] < float(((y - y.mean()) ** 2).mean()) + 0.25


def test_learning_curve_nested_and_full_equals_sweep(queries, spark):
    """Subsets nest (n_train strictly grows) and the fraction=1.0 row
    must equal ml_logreg_gd's full-corpus fit exactly."""
    rows = sorted(
        queries["ml_learning_curve"](spark, SF_DIR).collect(),
        key=lambda r: r["fraction"],
    )
    ns = [r["n_train"] for r in rows]
    assert ns == sorted(ns) and ns[0] > 0 and len(set(ns)) == 3
    single = queries["ml_logreg_gd"](spark, SF_DIR).collect()[0]
    full = rows[-1]
    assert full["fraction"] == 1.0
    assert full["full_logloss"] == pytest.approx(single["logloss"], abs=2e-6)
    assert full["train_logloss"] == pytest.approx(single["logloss"], abs=2e-6)


def test_average_precision_matches_numpy(queries, spark):
    """Step-interpolated AP must match a direct numpy computation over
    the descending-score sweep (ties handled at group granularity)."""
    row = queries["ml_average_precision"](spark, SF_DIR).collect()[0]
    df = duckdb.sql(
        f"""SELECT CASE WHEN list_contains(
                 list_filter(string_split(text,' '), t->t<>''), 'the')
               THEN 1.0 ELSE 0.0 END AS y,
               ROUND(1/(1+EXP(-(-3.0 + 4.0*(n_chars/500.0)
                 + 1.0*(len(list_filter(string_split(text,' '), t->t<>''))/50.0)))), 6)
                 AS s
            FROM '{SF_DIR}/documents.parquet'"""
    ).df()
    g = df.groupby("s").y.agg(["sum", "count"]).sort_index(ascending=False)
    tp = g["sum"].cumsum()
    k = g["count"].cumsum()
    ap = float((g["sum"] * (tp / k)).sum() / df.y.sum())
    assert row["n_positive"] == int(df.y.sum())
    assert row["average_precision"] == pytest.approx(ap, abs=2e-6)
    assert 0 < row["average_precision"] <= 1
    assert row["best_precision"] <= 1.0


def test_linear_attribution_sums_to_centered_logit(queries, spark):
    """Additive property: contrib_x1 + contrib_x2 must equal the doc's
    logit minus the mean logit (exact for a linear model)."""
    rows = queries["ml_linear_attribution"](spark, SF_DIR).collect()
    m = _feats()
    z = -3.0 + 4.0 * m[:, 1] + 1.0 * m[:, 2]
    zbar = z.mean()
    df = duckdb.sql(
        f"""SELECT doc_id,
               -3.0 + 4.0*(n_chars/500.0)
               + 1.0*(len(list_filter(string_split(text,' '), t->t<>''))/50.0)
                 AS z
            FROM '{SF_DIR}/documents.parquet'"""
    ).df().set_index("doc_id")
    for r in rows:
        centered = df.loc[r["doc_id"], "z"] - zbar
        assert r["contrib_x1"] + r["contrib_x2"] == pytest.approx(
            centered, abs=5e-6
        )


def test_ridge_matches_numpy(spark, queries):
    """Closed-form ridge must equal numpy's solve of (X'X + λI)w = X'y
    and the reported R² must match the residual computation."""
    import numpy as np

    from recommedation_system_under_flink_spark.operators.ml import (
        RIDGE_LAMBDA,
    )

    row = queries["ml_ridge_regression"](spark, SF_DIR).collect()[0]
    m = _feats()
    y, X = m[:, 0], np.column_stack([np.ones(len(m)), m[:, 1:]])
    w = np.linalg.solve(X.T @ X + RIDGE_LAMBDA * np.eye(4), X.T @ y)
    got = [row["w_bias"], row["w_x1"], row["w_x2"], row["w_x3"]]
    assert got == pytest.approx(list(w), abs=2e-6)
    resid = y - X @ w
    r2 = 1.0 - (resid @ resid) / ((y - y.mean()) @ (y - y.mean()))
    assert row["r2"] == pytest.approx(r2, abs=2e-6)
    assert row["n"] == len(y)


def test_confusion_sweep_consistency(spark, queries):
    """Counts must tile the corpus at every threshold, tp must be
    non-increasing in the threshold, and the rates must agree with
    ml_roc_auc's curve at the shared thresholds."""
    rows = queries["ml_confusion_threshold_sweep"](spark, SF_DIR).collect()
    assert len(rows) == 11
    n = rows[0]["tp"] + rows[0]["fp"] + rows[0]["tn"] + rows[0]["fn"]
    npos = rows[0]["tp"] + rows[0]["fn"]
    prev_tp = None
    for r in rows:
        assert r["tp"] + r["fp"] + r["tn"] + r["fn"] == n
        assert r["tp"] + r["fn"] == npos
        if prev_tp is not None:
            assert r["tp"] <= prev_tp
        prev_tp = r["tp"]
        if r["f1"] is not None:
            f1 = 2.0 * r["tp"] / (2 * r["tp"] + r["fp"] + r["fn"])
            assert r["f1"] == pytest.approx(f1, abs=2e-6)
    roc = {
        r["threshold"]: r
        for r in queries["ml_roc_auc"](spark, SF_DIR).collect()
    }
    for r in rows:
        assert roc[r["threshold"]]["tpr"] == pytest.approx(
            r["tp"] / npos, abs=2e-6
        )


def test_isotonic_hashable_twin_matches_production_blocks(spark, queries):
    """The hashable twin's per-point fits must be monotone in s within
    each lang and conserve mass (sum fitted*n = sum y), mirroring the
    production PAVA's KKT invariants on the quantized score."""
    rows = queries["ml_isotonic_calibration_hashable"](
        spark, SF_DIR
    ).collect()
    assert rows
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, pts in by_lang.items():
        pts.sort(key=lambda r: r["s"])
        fits = [r["fitted"] for r in pts]
        assert fits == sorted(fits), f"non-monotone fit for {lang}"
        assert all(0.0 <= f <= 1.0 for f in fits)


def test_permutation_importance_matches_pandas_replay(spark, queries):
    """All three loglosses must match a pandas replay of the SAME
    pinned in-bucket rotation (bucket = hash % 64, order by second
    mixer then doc_id, neighbor's value with first-row wraparound).
    Note: the scorer is PINNED, not fitted, so importances may
    legitimately be negative — the invariant is the identity, not the
    sign."""
    import duckdb
    import numpy as np

    from recommedation_system_under_flink_spark.operators.ml import (
        CAL_W,
        PERM_BUCKETS,
        PERM_MULT,
    )
    from recommedation_system_under_flink_spark.operators.sampling import (
        HASH_MOD,
        HASH_MULT,
    )

    row = queries["ml_permutation_importance"](spark, SF_DIR).collect()[0]
    df = duckdb.sql(
        f"""SELECT doc_id,
               CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
               n_chars / 500.0 AS x1,
               len(list_filter(string_split(text, ' '), t -> t <> ''))
                 / 50.0 AS x2
            FROM '{SF_DIR}/documents.parquet'"""
    ).df()
    df["bucket"] = (df.doc_id * HASH_MULT) % HASH_MOD % PERM_BUCKETS
    df["h2"] = (df.doc_id * PERM_MULT) % HASH_MOD
    df = df.sort_values(["bucket", "h2", "doc_id"]).reset_index(drop=True)
    for f in ("x1", "x2"):
        df[f"p{f}"] = df.groupby("bucket")[f].transform(
            lambda s: np.roll(s.to_numpy(), -1)
        )

    def ll(x1, x2):
        p = 1.0 / (1.0 + np.exp(-(CAL_W[0] + CAL_W[1] * x1 + CAL_W[2] * x2)))
        return float(
            np.mean(-(df.y * np.log(p) + (1 - df.y) * np.log(1 - p)))
        )

    base = ll(df.x1, df.x2)
    assert row["n"] == len(df)
    assert row["logloss_baseline"] == pytest.approx(base, abs=2e-6)
    assert row["logloss_perm_x1"] == pytest.approx(ll(df.px1, df.x2), abs=2e-6)
    assert row["logloss_perm_x2"] == pytest.approx(ll(df.x1, df.px2), abs=2e-6)
    assert row["logloss_perm_x1"] == pytest.approx(
        row["logloss_baseline"] + row["importance_x1"], abs=2e-6
    )


def test_learning_curve_empty_subset_null_parity(spark, queries, tmp_path):
    """Planted fixture where every doc hashes to bucket >= 3: the 10%
    and 30% training subsets are EMPTY, so (matching the oracle's NULL
    propagation) those configs' weights poison to NaN and their
    fitted loglosses canonicalize to NULL, while the 100% config stays
    finite. Runs BOTH engines on the planted fixture and compares the
    driver-canonicalized snapshots — a real parity check of the branch
    the standard fixtures never exercise."""
    import duckdb
    import pandas as pd

    docs = pd.DataFrame(
        {
            "doc_id": [2, 3, 5, 6, 7, 8],  # buckets 6,7,7,8,3,4 — all >= 3
            "text": [
                "the quick brown fox jumps over the lazy dog",
                "a plain short doc with the common token",
                "numbers and words mix the day away",
                "short text",
                "the the the repeated tokens here",
                "completely different content entirely",
            ],
            "lang": ["en", "en", "de", "en", "fr", "en"],
            "source": ["s1"] * 6,
            "n_chars": [44, 40, 35, 10, 32, 38],
        }
    )
    sf_dir = str(tmp_path)
    docs.to_parquet(f"{sf_dir}/documents.parquet")

    import os

    from recommedation_system_under_flink_spark import registry

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import scripts.check as C

    sdf = queries["ml_learning_curve"](spark, sf_dir).toPandas()
    scols, srows = C._snapshot(
        list(sdf.columns),
        [tuple(r) for r in sdf.itertuples(index=False, name=None)],
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    ocols, orows = C._oracle_frame(
        con, registry.oracles()["ml_learning_curve"]
    )
    ocols, orows = C._snapshot(ocols, orows)
    assert scols == ocols
    assert srows == orows
    # and the planted property actually held: 10%/30% rows NULL-trained
    by_frac = {r["fraction"]: r for _, r in sdf.iterrows()}
    assert by_frac[1.0]["n_train"] == 6
    for frac in (0.1, 0.3):
        assert by_frac[frac]["n_train"] == 0


def test_gbdt_prefix_equals_boosted_stumps(queries, spark):
    """Stages 1-2 of the K-round loop are definitionally the certified
    two-round operator — same splits, same steps, same MSEs."""
    gbdt = queries["ml_gbdt_k_rounds"](spark, SF_DIR).collect()
    two = queries["ml_boosted_stumps"](spark, SF_DIR).collect()
    assert [r.asDict() for r in gbdt[:2]] == [r.asDict() for r in two]


def test_gbdt_train_mse_monotone(queries, spark):
    """Shrinkage < 1 with SSE-optimal splits never increases train MSE
    (each stage's step is a strict descent direction or zero)."""
    mses = [
        r["train_mse"]
        for r in queries["ml_gbdt_k_rounds"](spark, SF_DIR).collect()
    ]
    assert len(mses) == 4
    assert all(a >= b - 1e-9 for a, b in zip(mses, mses[1:])), mses


def test_cv_ridge_matches_numpy_replay(queries, spark):
    """Ground truth: refit every (fold, lambda) cell with numpy's
    linear solver on the exact same features/folds and require the
    engine's Cramer-solved weights and held-out MSE to agree."""
    import numpy as np

    from recommedation_system_under_flink_spark.operators.ml import (
        RIDGE_CV_LAMBDAS,
    )
    from recommedation_system_under_flink_spark.operators.sampling import (
        HASH_MOD,
        HASH_MULT,
        KFOLD_K,
    )

    got = {
        (round(r["ridge_lambda"], 6), r["fold"]): r
        for r in queries["ml_cv_ridge_path"](spark, SF_DIR).collect()
    }
    assert len(got) == KFOLD_K * len(RIDGE_CV_LAMBDAS)

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, text, lang, n_chars FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()
    con.close()
    X, y, fold = [], [], []
    for doc_id, text, lang, n_chars in rows:
        ntok = len([t for t in text.split(" ") if t != ""])
        X.append([1.0, n_chars / 500.0, ntok / 50.0, n_chars / (ntok * 10.0)])
        y.append(1.0 if lang == "en" else 0.0)
        fold.append((doc_id * HASH_MULT) % HASH_MOD % KFOLD_K)
    X, y, fold = np.array(X), np.array(y), np.array(fold)

    for lam in RIDGE_CV_LAMBDAS:
        for k in range(KFOLD_K):
            tr, te = fold != k, fold == k
            w = np.linalg.solve(
                X[tr].T @ X[tr] + lam * np.eye(4), X[tr].T @ y[tr]
            )
            mse = float(np.mean((y[te] - X[te] @ w) ** 2))
            r = got[(lam, k)]
            assert r["n_test"] == int(te.sum())
            eng_w = [r["w_bias"], r["w_x1"], r["w_x2"], r["w_x3"]]
            assert np.allclose(eng_w, w, atol=2e-5), (lam, k, eng_w, w)
            assert abs(r["test_mse"] - mse) < 2e-5, (lam, k)


def test_cv_ridge_shrinkage_monotone(queries, spark):
    """Uniform-diagonal ridge: the coefficient norm must be
    non-increasing in lambda within every fold, and the folds must
    partition the corpus."""
    rows = queries["ml_cv_ridge_path"](spark, SF_DIR).collect()
    by_fold: dict[int, list] = {}
    for r in rows:
        by_fold.setdefault(r["fold"], []).append(r)
    for fold_rows in by_fold.values():
        fold_rows.sort(key=lambda r: r["ridge_lambda"])
        norms = [
            r["w_bias"] ** 2 + r["w_x1"] ** 2 + r["w_x2"] ** 2 + r["w_x3"] ** 2
            for r in fold_rows
        ]
        assert norms == sorted(norms, reverse=True)
    n_docs = duckdb.sql(
        f"SELECT count(*) FROM '{SF_DIR}/documents.parquet'"
    ).fetchone()[0]
    per_fold = {r["fold"]: r["n_test"] for r in rows}
    assert sum(per_fold.values()) == n_docs
