"""Round-5 operator invariants: trimmed means, RAKE keywords,
per-source caps (the experiment statistics live in
tests/test_events_flow.py, the similarity ones in
tests/test_ann_index.py).

Ground truth is recomputed independently here (numpy / pandas over
duckdb-extracted subject tables), NOT by re-running the operator's own
SQL oracle — the oracle certifies cross-engine agreement; these tests
certify the statistics are the *right* statistics.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from conftest import SF_DIR


@pytest.fixture(scope="module")
def queries():
    from recommedation_system_under_flink_spark import registry

    return registry.queries()


def test_trimmed_mean_matches_numpy(queries, spark):
    row = queries["ev_trimmed_mean"](spark, SF_DIR).collect()[0]
    vals = duckdb.sql(
        f"""SELECT CAST(ROUND(CAST(value AS DECIMAL(18,6)), 2) AS DOUBLE) AS v
            FROM '{SF_DIR}/events.parquet' WHERE event_type = 'purchase'"""
    ).df().v.sort_values().to_numpy()
    n = len(vals)
    k = n * 5 // 100
    trimmed = vals[k : n - k]
    wins = vals.copy()
    wins[:k] = vals[k]
    wins[n - k :] = vals[n - k - 1]
    assert row["n"] == n and row["k_each_side"] == k
    assert row["v_low"] == pytest.approx(vals[k], abs=1e-9)
    assert row["v_high"] == pytest.approx(vals[n - k - 1], abs=1e-9)
    assert row["trimmed_mean"] == pytest.approx(trimmed.mean(), abs=2e-6)
    assert row["winsorized_mean"] == pytest.approx(wins.mean(), abs=2e-6)
    # robustness ordering sanity: trimming removes tail influence
    assert abs(row["trimmed_mean"] - np.median(vals)) <= abs(
        vals.mean() - np.median(vals)
    ) + 1e-6


def test_rake_scores_match_hand_computation(queries, spark):
    """RAKE on a 2-doc micro corpus, degree/freq worked by hand."""
    from recommedation_system_under_flink_spark.operators import textstats

    docs = spark.createDataFrame(
        [
            # phrases: [deep learning] [fast] / [deep model]
            (1, "deep learning of the fast", "en", "s", 0),
            (2, "deep model", "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    import unittest.mock as mock

    with mock.patch.object(
        textstats, "load_raw", lambda spark, sf, name: docs
    ):
        rows = {
            (r["doc_id"], r["phrase"]): r
            for r in queries["ts_rake_keywords"](spark, "ignored").collect()
        }
    # corpus phrases: "deep learning", "fast", "deep model"
    # freq: deep=2, learning=1, fast=1, model=1
    # degree: deep=2+2=4, learning=2, fast=1, model=2
    # scores: deep=2.0, learning=2.0, fast=1.0, model=2.0
    assert rows[(1, "deep learning")]["score"] == pytest.approx(4.0)
    assert rows[(1, "fast")]["score"] == pytest.approx(1.0)
    assert rows[(2, "deep model")]["score"] == pytest.approx(4.0)
    assert rows[(1, "deep learning")]["rnk"] == 1
    assert rows[(1, "fast")]["rnk"] == 2
    assert all(r["n_words"] >= 1 for r in rows.values())


def test_rake_fixture_properties(queries, spark):
    """Fixture-level invariants: <=3 per doc, rank contiguity, scores
    non-increasing within a doc, no stopwords inside phrases."""
    from recommedation_system_under_flink_spark.functions.text import STOPWORDS

    out = queries["ts_rake_keywords"](spark, SF_DIR).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert by_doc
    for doc, rs in by_doc.items():
        rs.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        scores = [r["score"] for r in rs]
        assert scores == sorted(scores, reverse=True)
        for r in rs:
            assert not set(r["phrase"].split()) & set(STOPWORDS)


def test_source_cap_conservation_and_cap(queries, spark):
    from recommedation_system_under_flink_spark.operators.sampling import (
        SOURCE_CAP,
    )

    rows = queries["samp_source_cap_report"](spark, SF_DIR).collect()
    assert rows
    truth = {
        s: (n, c)
        for s, n, c in duckdb.sql(
            f"""SELECT source, COUNT(*), SUM(n_chars)
                FROM '{SF_DIR}/documents.parquet' GROUP BY source"""
        ).fetchall()
    }
    for r in rows:
        n, chars = truth[r["source"]]
        assert r["n_kept"] + r["n_dropped"] == r["n_docs"] == n
        assert r["n_kept"] == min(n, SOURCE_CAP)
        assert r["chars_total"] == chars
        assert 0 < r["chars_kept"] <= r["chars_total"]


def test_kneser_ney_matches_reference_model(queries, spark):
    """Rebuild the KN bigram model in pure Python on sf0.001 and check
    a sample of per-doc means; also P(w2|w1) sums to 1 per context."""
    import re
    from collections import Counter, defaultdict

    docs = duckdb.sql(
        f"SELECT doc_id, lower(text) FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()
    toks = {
        d: [t for t in re.split(r"[^a-z0-9]+", txt) if t]
        for d, txt in docs
    }
    bi = Counter()
    for ts in toks.values():
        for a, b in zip(ts, ts[1:]):
            bi[(a, b)] += 1
    cctx, n1p_fwd, n1p_prev = Counter(), Counter(), Counter()
    for (a, b), c in bi.items():
        cctx[a] += c
        n1p_fwd[a] += 1
        n1p_prev[b] += 1
    bt = len(bi)
    D = 0.75

    def p(a, b):
        return max(bi[(a, b)] - D, 0) / cctx[a] + (
            D * n1p_fwd[a] / cctx[a]
        ) * (n1p_prev[b] / bt)

    # distribution check over every seen context: the discounted mass
    # plus continuation mass over the FULL continuation vocab is 1
    all_w2 = set(n1p_prev)
    for a in list(cctx)[:5]:
        total = sum(p(a, b) for b in all_w2)
        assert total == pytest.approx(1.0, abs=1e-9)

    rows = {
        r["doc_id"]: r
        for r in queries["ts_kneser_ney_logprob"](spark, SF_DIR).collect()
    }
    for d, ts in list(toks.items())[:20]:
        grams = list(zip(ts, ts[1:]))
        assert rows[d]["n_bigrams"] == len(grams)
        if grams:
            mean = np.mean([np.log2(p(a, b)) for a, b in grams])
            assert rows[d]["mean_log2_prob"] == pytest.approx(
                mean, abs=1e-5
            )


def test_winnowing_guarantee_and_python_replay(queries, spark):
    """Replay winnowing in pure Python on sf0.001: selected fingerprint
    sets must match exactly, and every window of W consecutive shingle
    hashes must contain >= 1 selected position (the MOSS guarantee)."""
    import hashlib
    import re

    from recommedation_system_under_flink_spark.operators.dedup import (
        SHINGLE_N,
        WINNOW_MIN_SHARED,
        WINNOW_W,
        _MH_P,
    )

    docs = duckdb.sql(
        f"SELECT doc_id, lower(text) FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()

    def hsh(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % _MH_P

    fps = {}
    for d, txt in docs:
        ts = [t for t in re.split(r"[^a-z0-9]+", txt) if t]
        sh = [
            " ".join(ts[i : i + SHINGLE_N])
            for i in range(len(ts) - SHINGLE_N + 1)
        ]
        hs = [hsh(s) for s in sh]
        sel = set()
        for j in range(len(hs) - WINNOW_W + 1):
            win = hs[j : j + WINNOW_W]
            m = min(win)
            # rightmost minimum within the window
            p = j + max(i for i, h in enumerate(win) if h == m)
            sel.add((hs[p], p + 1))
            assert any(
                (hs[q], q + 1) in sel for q in range(j, j + WINNOW_W)
            )
        fps[d] = sel

    # pair counts from the replay == operator output
    from collections import Counter

    shared = Counter()
    byhash = {}
    for d, sel in fps.items():
        for h in {h for h, _ in sel}:
            byhash.setdefault(h, set()).add(d)
    for h, ds in byhash.items():
        ds = sorted(ds)
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                shared[(ds[i], ds[j])] += 1
    expect = {
        k: v for k, v in shared.items() if v >= WINNOW_MIN_SHARED
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in queries["dedup_winnowing"](spark, SF_DIR).collect()
    }
    assert got == expect
    for (da, db), n in got.items():
        lo = min(len({h for h, _ in fps[da]}), len({h for h, _ in fps[db]}))
        assert 0 < n <= lo


def test_audio_window_plan_geometry(queries, spark):
    from recommedation_system_under_flink_spark.operators.multimodal import (
        AUDIO_HOP,
        AUDIO_MAX_FRAMES,
        AUDIO_WIN,
    )

    rows = queries["mm_audio_window_plan"](spark, SF_DIR).collect()
    assert rows
    by_clip: dict[int, list] = {}
    for r in rows:
        by_clip.setdefault(r["media_id"], []).append(r)
    for clip, rs in by_clip.items():
        rs.sort(key=lambda r: r["frame_idx"])
        n = rs[0]["n_samples"]
        total = rs[0]["n_frames_total"]
        assert total == (1 + (n - AUDIO_WIN) // AUDIO_HOP if n >= AUDIO_WIN else 1)
        assert len(rs) == min(total, AUDIO_MAX_FRAMES)
        for r in rs:
            assert r["start_byte"] == r["start_sample"] * 2
            assert r["start_sample"] == r["frame_idx"] * AUDIO_HOP
            assert r["needs_padding"] == (
                r["start_sample"] + AUDIO_WIN > n
            )
        # every fully-covered window is unpadded; padding only at tail
        padded = [r["frame_idx"] for r in rs if r["needs_padding"]]
        if padded:
            assert padded == list(
                range(min(padded), rs[-1]["frame_idx"] + 1)
            )


def test_theil_sen_matches_numpy_and_resists_outliers(queries, spark):
    row = queries["ev_theil_sen"](spark, SF_DIR).collect()[0]
    daily = duckdb.sql(
        f"""SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n
            FROM '{SF_DIR}/events.parquet'
            WHERE event_type = 'click' GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    y = np.array([n for _, n in daily], dtype=float)
    x = np.arange(len(y), dtype=float)
    slopes = [
        (y[j] - y[i]) / (x[j] - x[i])
        for i in range(len(y))
        for j in range(i + 1, len(y))
    ]
    slope = float(np.median(slopes))
    icpt = float(np.median(y - slope * x))
    assert row["n_days"] == len(y)
    assert row["n_pairs"] == len(slopes)
    assert row["ts_slope"] == pytest.approx(slope, abs=1e-6)
    assert row["ts_intercept"] == pytest.approx(icpt, abs=1e-6)
    # robustness: one massive outlier day barely moves the TS slope
    y2 = y.copy()
    y2[len(y2) // 2] *= 100
    s2 = float(
        np.median(
            [
                (y2[j] - y2[i]) / (x[j] - x[i])
                for i in range(len(y2))
                for j in range(i + 1, len(y2))
            ]
        )
    )
    ols = np.polyfit(x, y, 1)[0]
    ols2 = np.polyfit(x, y2, 1)[0]
    assert abs(s2 - slope) < abs(ols2 - ols)


def test_autocorrelation_matches_numpy(queries, spark):
    rows = {
        r["lag"]: r
        for r in queries["ev_autocorrelation"](spark, SF_DIR).collect()
    }
    daily = duckdb.sql(
        f"""SELECT CAST(ts AS DATE) d, COUNT(*) FROM '{SF_DIR}/events.parquet'
            WHERE event_type = 'click' GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    y = np.array([n for _, n in daily], dtype=float)
    dev = y - y.mean()
    den = (dev**2).sum()
    assert set(rows) == set(range(1, 8))
    for k, r in rows.items():
        expect = (dev[:-k] * dev[k:]).sum() / den
        assert r["n_terms"] == len(y) - k
        assert r["acf"] == pytest.approx(expect, abs=1e-6)
        assert -1.0 <= r["acf"] <= 1.0


def test_boundary_stitch_on_planted_split(queries, spark):
    """Plant a document split across two 'shards'; the audit must
    report exactly the planted (A,B) pair with the right boundary."""
    import unittest.mock as mock

    from recommedation_system_under_flink_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta", "en", "s", 0),
            (2, "delta epsilon zeta eta theta iota", "en", "s", 0),
            (3, "one two three four five six", "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with mock.patch.object(dedup, "load_raw", lambda spark, sf, name: docs):
        rows = queries["dedup_boundary_stitch"](spark, "ignored").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["boundary"] == "delta epsilon zeta"
    assert r["n_tokens_a"] == 6 and r["n_tokens_b"] == 6


def test_entity_blocking_exact_recall_for_substitutions(queries, spark):
    """Every substitution-distance-1 name pair in the fixture must be
    found (exact recall for masked positions), plus planted-typo check."""
    rows = queries["rel_entity_blocking"](spark, SF_DIR).collect()
    got = {(r["ck_a"], r["ck_b"]) for r in rows}
    names = dict(
        duckdb.sql(
            f"SELECT c_custkey, c_name FROM '{SF_DIR}/customer.parquet'"
        ).fetchall()
    )
    # ground truth: all pairs at substitution distance exactly 1
    keys = sorted(names)
    truth = set()
    for i, ka in enumerate(keys):
        for kb in keys[i + 1 :]:
            a, b = names[ka], names[kb]
            diffs = sum(1 for x, y in zip(a, b) if x != y)
            if len(a) == len(b) and diffs == 1:
                truth.add((ka, kb))
    assert truth, "fixture should contain distance-1 name pairs"
    assert got == truth
    for r in rows:
        assert r["lev"] == 1


def test_duplicated_spans_matches_python_interval_union(queries, spark):
    """Recompute dup-span coverage with plain Python (dict counts +
    one-pass interval union) and require exact per-doc agreement."""
    import re as _re
    from collections import Counter

    from recommedation_system_under_flink_spark.operators.dedup import (
        SPAN_L,
    )

    docs = duckdb.sql(
        f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()
    toks = {
        d: [t for t in _re.split(r"[^a-z0-9]+", txt.lower()) if t]
        for d, txt in docs
    }
    counts = Counter()
    positions = {}
    for d, ts in toks.items():
        grams = [
            " ".join(ts[i : i + SPAN_L])
            for i in range(len(ts) - SPAN_L + 1)
        ]
        positions[d] = grams
        counts.update(grams)
    expected = {}
    for d, grams in positions.items():
        hits = [
            (i + 1, i + SPAN_L) for i, g in enumerate(grams)
            if counts[g] >= 2
        ]
        if not hits:
            continue
        covered, max_end = 0, 0
        for s, e in hits:  # already sorted by position
            covered += max(0, e - max(s - 1, max_end))
            max_end = max(max_end, e)
        expected[d] = (len(toks[d]), covered)
    rows = queries["dedup_duplicated_spans"](spark, SF_DIR).collect()
    got = {r["doc_id"]: (r["n_tokens"], r["dup_tokens"]) for r in rows}
    assert got == expected
    for r in rows:
        assert 0 < r["dup_tokens"] <= r["n_tokens"]
        assert r["dup_frac"] == pytest.approx(
            r["dup_tokens"] / r["n_tokens"], abs=1e-6
        )


def test_prefix_filter_join_equals_full_inverted_index(queries, spark):
    """Prefix filtering is lossless: the pruned join must return
    EXACTLY the pairs the full inverted-index Jaccard join returns."""
    full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in queries["dedup_ngram_jaccard"](spark, SF_DIR).collect()
    }
    pruned = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in queries["dedup_prefix_filter_join"](spark, SF_DIR).collect()
    }
    assert set(pruned) == set(full)
    for k, v in pruned.items():
        assert v == pytest.approx(full[k], abs=1e-6)


def test_waterfill_allocation_properties_and_scipy_free_replay(
    queries, spark
):
    """Replay the waterfill with a plain bisection on λ and require:
    Σ allocated = budget, caps respected, capped set consistent."""
    import re as _re

    from recommedation_system_under_flink_spark.operators.sampling import (
        WATERFILL_BUDGET_FRAC,
    )

    rows = queries["samp_token_budget_waterfill"](spark, SF_DIR).collect()
    c = {r["source"]: r["available_tokens"] for r in rows}
    w = {r["source"]: r["weight"] for r in rows}
    for s in c:
        assert w[s] == 1 + int(_re.search(r"\d+", s).group()) % 5
    B = int(WATERFILL_BUDGET_FRAC * sum(c.values()))
    lo, hi = 0.0, max(cv / wv for cv, wv in zip(c.values(), w.values())) + 1
    for _ in range(200):
        mid = (lo + hi) / 2
        if sum(min(c[s], mid * w[s]) for s in c) < B:
            lo = mid
        else:
            hi = mid
    lam = (lo + hi) / 2
    got_lam = rows[0]["water_level"]
    assert got_lam == pytest.approx(lam, rel=1e-6)
    total_alloc = sum(r["allocated_tokens"] for r in rows)
    assert total_alloc == pytest.approx(B, abs=max(1e-3 * B, 1.0))
    for r in rows:
        assert r["allocated_tokens"] <= r["available_tokens"] + 1e-6
        expect_capped = c[r["source"]] <= lam * w[r["source"]] + 1e-9
        assert r["capped"] == expect_capped
    assert any(r["capped"] for r in rows), "binding set should be nonempty"
    assert not all(r["capped"] for r in rows)


def test_ewma_forecast_matches_recursive_replay(queries, spark):
    """Replay the W-truncated EWMA definition directly (per-t truncated
    sums, NOT the recursion, which the truncation approximates for
    t >= W) and the one-step MAE."""
    from recommedation_system_under_flink_spark.operators.events_props import (
        _EWMA_A,
        _EWMA_H,
        EWMA_ALPHA,
        EWMA_W,
    )

    # the weights injected into both plans are the pinned doubles bit
    # for bit (a running product would differ in the last ulp)
    pinned_a = [
        "0x1.3333333333333p-2", "0x1.ae147ae147ae1p-3", "0x1.2d0e560418936p-3",
        "0x1.a57a786c2267fp-4", "0x1.2708ede54b48cp-4", "0x1.9d0c804102ff6p-5",
        "0x1.212259c71bb2cp-5", "0x1.94c9b0e38d2d7p-6", "0x1.1b59fbd27c6c9p-6",
        "0x1.8cb12d59e164dp-7", "0x1.15af3958842cfp-7", "0x1.84c21d1585d88p-8",
        "0x1.10217ac244178p-8", "0x1.7cfbabdcc5ba8p-9",
    ]
    pinned_h = [
        "0x1.0000000000000p+0", "0x1.6666666666666p-1", "0x1.f5c28f5c28f5bp-2",
        "0x1.5f3b645a1cabfp-2", "0x1.ebb98c7e2823fp-3", "0x1.5835158b827f8p-3",
        "0x1.e1e3eaf6837f5p-4", "0x1.5152be12f5a5ep-4", "0x1.d840a3b424b50p-5",
        "0x1.4a93a5cae67ebp-5", "0x1.ceceb4e8dc4afp-6", "0x1.43f7183c9a347p-6",
        "0x1.c58d21ee717c9p-7", "0x1.3d7c648d4f70cp-7",
    ]
    assert [w.hex() for w in _EWMA_A] == pinned_a
    assert [w.hex() for w in _EWMA_H] == pinned_h

    y = [
        int(n)
        for _, n in duckdb.sql(
            f"""SELECT CAST(ts AS DATE) d, COUNT(*) FROM
                '{SF_DIR}/events.parquet'
                WHERE event_type = 'click' GROUP BY d ORDER BY d"""
        ).fetchall()
    ]
    a = EWMA_ALPHA
    s = []
    for t in range(len(y)):
        if t == 0:
            s.append(float(y[0]))
            continue
        acc = sum(
            a * (1 - a) ** j * y[t - j]
            for j in range(min(t - 1, EWMA_W - 1) + 1)
            if t - j >= 1
        )
        if 1 <= t <= EWMA_W - 1:
            acc += (1 - a) ** t * y[0]
        s.append(acc)
    mae = sum(abs(y[t] - s[t - 1]) for t in range(1, len(y))) / (
        len(y) - 1
    )
    row = queries["ev_ewma_forecast"](spark, SF_DIR).collect()[0]
    assert row["n_days"] == len(y)
    assert row["forecast_next"] == pytest.approx(s[-1], rel=1e-6)
    assert row["mae_one_step"] == pytest.approx(mae, rel=1e-6)
    # sanity: the truncated smoother tracks the true recursion closely
    rec = [float(y[0])]
    for t in range(1, len(y)):
        rec.append(a * y[t] + (1 - a) * rec[-1])
    assert row["forecast_next"] == pytest.approx(
        rec[-1], rel=2 * (1 - a) ** EWMA_W + 1e-6
    )


def test_span_scrub_matches_python_rebuild(queries, spark):
    """Rebuild every scrubbed doc in plain Python (first corpus-wide
    occurrence survives, later ones removed via boundary sweep) and
    require md5-identical token streams."""
    import hashlib
    import re as _re
    from collections import defaultdict

    from recommedation_system_under_flink_spark.operators.dedup import (
        SPAN_L,
    )

    docs = dict(
        duckdb.sql(
            f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet'"
        ).fetchall()
    )
    toks = {
        d: [t for t in _re.split(r"[^a-z0-9]+", txt.lower()) if t]
        for d, txt in docs.items()
    }
    occs = defaultdict(list)
    for d in sorted(toks):
        ts = toks[d]
        for i in range(len(ts) - SPAN_L + 1):
            occs[" ".join(ts[i : i + SPAN_L])].append((d, i + 1))
    removals = defaultdict(list)
    for g, lst in occs.items():
        if len(lst) >= 2:
            for d, pos in sorted(lst)[1:]:
                removals[d].append(pos)
    expected = {}
    for d, ts in toks.items():
        if not ts:
            continue
        depth_delta = defaultdict(int)
        for pos in removals.get(d, []):
            depth_delta[pos] += 1
            depth_delta[pos + SPAN_L] -= 1
        kept, depth, n_removed = [], 0, 0
        for i in range(1, len(ts) + 1):
            depth += depth_delta[i]
            if depth > 0:
                n_removed += 1
            else:
                kept.append(ts[i - 1])
        expected[d] = (
            len(ts),
            n_removed,
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )
    rows = queries["dedup_span_scrub"](spark, SF_DIR).collect()
    got = {
        r["doc_id"]: (r["n_tokens"], r["removed_tokens"], r["scrubbed_md5"])
        for r in rows
    }
    assert got == expected
    assert any(v[1] > 0 for v in got.values()), "should remove something"


def test_seasonal_decomposition_matches_pandas(queries, spark):
    """Replay trend/seasonal/variance-share with pandas and check the
    isodow convention (Monday=1)."""
    import pandas as pd

    daily = duckdb.sql(
        f"""SELECT CAST(ts AS DATE) d, CAST(COUNT(*) AS BIGINT) y
            FROM '{SF_DIR}/events.parquet'
            WHERE event_type = 'click' GROUP BY d ORDER BY d"""
    ).df()
    daily["ma"] = daily.y.rolling(7, center=True).mean()
    full = daily.dropna(subset=["ma"]).copy()
    full["dow"] = pd.to_datetime(full.d).dt.dayofweek + 1  # Monday=1
    full["det"] = full.y - full.ma
    seas = full.groupby("dow").det.agg(["count", "mean"])
    resid = full.det - full.dow.map(seas["mean"])
    r2 = 1.0 - (resid**2).sum() / (full.det**2).sum()
    rows = queries["ev_seasonal_decomposition"](spark, SF_DIR).collect()
    assert {r["isodow"] for r in rows} == set(seas.index)
    for r in rows:
        assert r["n_days"] == seas.loc[r["isodow"], "count"]
        assert r["seasonal"] == pytest.approx(
            seas.loc[r["isodow"], "mean"], abs=1e-5
        )
        assert r["seasonal_r2"] == pytest.approx(r2, abs=1e-5)


def test_incremental_lsh_consistent_with_corpus_wide_lsh(queries, spark):
    """The incremental probe must equal the corpus-wide LSH pair set
    restricted to straddling pairs, reduced to best-match-per-batch-doc,
    with every batch doc present exactly once."""
    from recommedation_system_under_flink_spark.operators.dedup import (
        INCR_SPLIT_FRACTION,
    )

    max_id = duckdb.sql(
        f"SELECT MAX(doc_id) FROM '{SF_DIR}/documents.parquet'"
    ).fetchone()[0]
    split = int((max_id + 1) * INCR_SPLIT_FRACTION)
    lsh = queries["dedup_minhash_lsh"](spark, SF_DIR).collect()
    best = {}
    for r in lsh:
        a, b = r["doc_a"], r["doc_b"]
        if (a < split) == (b < split):
            continue
        bat, idx = (b, a) if b >= split else (a, b)
        j = round(r["jaccard"], 6)
        cur = best.get(bat)
        if cur is None or (j, -idx) > (cur[1], -cur[0]):
            best[bat] = (idx, j)
    rows = queries["dedup_incremental_lsh"](spark, SF_DIR).collect()
    n_batch = duckdb.sql(
        f"SELECT COUNT(*) FROM '{SF_DIR}/documents.parquet' "
        f"WHERE doc_id >= {split}"
    ).fetchone()[0]
    assert len(rows) == n_batch
    for r in rows:
        if r["is_new"]:
            assert r["doc_id"] not in best
            assert r["nearest_corpus_doc"] is None
        else:
            idx, j = best[r["doc_id"]]
            assert r["nearest_corpus_doc"] == idx
            assert r["best_jaccard"] == pytest.approx(j, abs=1e-6)
    assert any(not r["is_new"] for r in rows), "fixture has straddlers"


def test_assortativity_matches_numpy_pearson(queries, spark):
    """Pearson of (user degree, news degree) across distinct click
    edges, recomputed with numpy."""
    from recommedation_system_under_flink_spark.sources.tables import (
        NEWS_MOD,
    )

    pairs = duckdb.sql(
        f"""SELECT DISTINCT user_id, event_id % {NEWS_MOD} AS news_id
            FROM '{SF_DIR}/events.parquet' WHERE event_type='click'"""
    ).df()
    du = pairs.groupby("user_id").size()
    dn = pairs.groupby("news_id").size()
    x = pairs.user_id.map(du).to_numpy(dtype=float)
    y = pairs.news_id.map(dn).to_numpy(dtype=float)
    r = np.corrcoef(x, y)[0, 1]
    row = queries["graph_assortativity"](spark, SF_DIR).collect()[0]
    assert row["n_edges"] == len(pairs)
    assert row["assortativity"] == pytest.approx(r, abs=1e-5)
    assert row["mean_user_degree"] == pytest.approx(x.mean(), abs=1e-5)
    assert row["mean_news_degree"] == pytest.approx(y.mean(), abs=1e-5)


def test_neyman_allocation_matches_numpy(queries, spark):
    """Recompute N_h, sigma_h, and both allocations with numpy; Neyman
    must dominate proportional on the weighted-variance objective."""
    import re as _re

    from recommedation_system_under_flink_spark.operators.sampling import (
        NEYMAN_SAMPLE_FRAC,
    )

    df = duckdb.sql(
        f"SELECT source, text FROM '{SF_DIR}/documents.parquet'"
    ).df()
    df["nt"] = df.text.str.lower().map(
        lambda t: len([x for x in _re.split(r"[^a-z0-9]+", t) if x])
    )
    g = df.groupby("source").nt
    N_h = g.size()
    sig_h = g.std(ddof=0)
    n = int(NEYMAN_SAMPLE_FRAC * N_h.sum())
    ney = n * (N_h * sig_h) / (N_h * sig_h).sum()
    prop = n * N_h / N_h.sum()
    rows = queries["samp_neyman_allocation"](spark, SF_DIR).collect()
    assert len(rows) == len(N_h)
    for r in rows:
        s = r["source"]
        assert r["n_docs"] == N_h[s]
        assert r["sigma_tokens"] == pytest.approx(sig_h[s], abs=1e-5)
        assert r["neyman_n"] == pytest.approx(ney[s], abs=1e-4)
        assert r["proportional_n"] == pytest.approx(prop[s], abs=1e-4)
    # variance objective: sum N_h^2 sigma_h^2 / n_h, Neyman <= proportional
    v_ney = ((N_h**2 * sig_h**2) / ney).sum()
    v_prop = ((N_h**2 * sig_h**2) / prop).sum()
    assert v_ney <= v_prop + 1e-9


def test_lexical_diversity_matches_python_counts(queries, spark):
    import re as _re
    from collections import Counter, defaultdict

    docs = duckdb.sql(
        f"SELECT source, text FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()
    counts = defaultdict(Counter)
    for src, txt in docs:
        counts[src].update(
            t for t in _re.split(r"[^a-z0-9]+", txt.lower()) if t
        )
    rows = queries["ts_lexical_diversity"](spark, SF_DIR).collect()
    assert {r["source"] for r in rows} == set(counts)
    for r in rows:
        c = counts[r["source"]]
        n_tok, n_typ = sum(c.values()), len(c)
        hapax = sum(1 for v in c.values() if v == 1)
        assert r["n_tokens"] == n_tok and r["n_types"] == n_typ
        assert r["n_hapax"] == hapax
        assert r["type_token_ratio"] == pytest.approx(
            n_typ / n_tok, abs=1e-6
        )
        assert r["guiraud_r"] == pytest.approx(
            n_typ / n_tok**0.5, abs=1e-5
        )


def test_span_ops_on_planted_corpus(queries, spark, tmp_path):
    """Planted micro-corpus with a known shared 8-token phrase and an
    in-doc self-repeat: exact expected coverage and scrub survival."""
    from recommedation_system_under_flink_spark.operators.dedup import (
        SPAN_L,
    )

    assert SPAN_L == 6
    phrase = "alpha bravo charlie delta echo foxtrot"  # exactly L tokens
    docs = [
        # doc 0: phrase at tokens 3..8 (first corpus-wide occurrence)
        (0, "one two three " + phrase + " tail0 tail1", "en", "s0", 0),
        # doc 1: phrase at tokens 1..6, then unique text
        (1, phrase + " unique1 unique2 unique3", "en", "s0", 0),
        # doc 2: self-repeat of a different L-gram phrase twice
        (
            2,
            "p q r s t u " + "p q r s t u " + "ending here now",
            "en",
            "s0",
            0,
        ),
        # doc 3: no duplication at all
        (3, "totally fresh words nothing shared anywhere at all", "en", "s0", 0),
    ]
    pdir = str(tmp_path)
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(pdir + "/documents.parquet")

    frac = {
        r["doc_id"]: r
        for r in queries["dedup_duplicated_spans"](spark, pdir).collect()
    }
    # docs 0,1 share the 6-token phrase; doc 2 repeats its own 6-gram
    assert frac[0]["dup_tokens"] == 6 and frac[0]["n_tokens"] == 11
    assert frac[1]["dup_tokens"] == 6 and frac[1]["n_tokens"] == 9
    # doc 2: "p q r s t u" occurs at pos 1 and 7 -> two anchors whose
    # intervals [1,6] and [7,12] union to 12 covered tokens
    assert frac[2]["dup_tokens"] == 12 and frac[2]["n_tokens"] == 15
    assert 3 not in frac

    scrub = {
        r["doc_id"]: r
        for r in queries["dedup_span_scrub"](spark, pdir).collect()
    }
    # first occurrence = smallest (doc_id, pos): doc 0 keeps the phrase
    assert scrub[0]["removed_tokens"] == 0
    assert scrub[1]["removed_tokens"] == 6
    # doc 2: only the "p q r s t u" gram itself repeats (pos 1 vs 7;
    # the straddling windows pos 2..6 differ past the repeat), so the
    # first occurrence survives and [7,12] is removed
    assert scrub[2]["removed_tokens"] == 6
    assert scrub[3]["removed_tokens"] == 0
    import hashlib

    assert scrub[1]["scrubbed_md5"] == hashlib.md5(
        b"unique1 unique2 unique3"
    ).hexdigest()
    assert scrub[2]["scrubbed_md5"] == hashlib.md5(
        b"p q r s t u ending here now"
    ).hexdigest()


def test_dsir_ess_truncation_matches_numpy(queries, spark):
    """Replay ESS and the clip with numpy from the registered DSIR
    scores; truncation must not lower the ESS fraction."""
    from recommedation_system_under_flink_spark.operators.sampling import (
        DSIR_CLIP_PCT,
    )

    s = np.array(
        [
            r["mean_log2_ratio"]
            for r in queries["samp_dsir_weights"](spark, SF_DIR).collect()
        ]
    )
    grid = np.unique(s)
    counts = np.array([(s == g).sum() for g in grid]).cumsum()
    cut = grid[np.searchsorted(counts * 100, len(s) * DSIR_CLIP_PCT)]
    w = 2.0**s
    wt = 2.0 ** np.minimum(s, cut)
    row = queries["samp_dsir_ess_truncation"](spark, SF_DIR).collect()[0]
    assert row["n_docs"] == len(s)
    assert row["cut_log2"] == pytest.approx(cut, abs=1e-6)
    assert row["n_clipped"] == int((s > cut).sum())
    ess = lambda v: (v.sum() ** 2 / (v**2).sum()) / len(v)
    assert row["ess_frac_raw"] == pytest.approx(ess(w), abs=1e-5)
    assert row["ess_frac_truncated"] == pytest.approx(ess(wt), abs=1e-5)
    assert row["mass_kept_frac"] == pytest.approx(
        wt.sum() / w.sum(), abs=1e-5
    )
    assert row["ess_frac_truncated"] >= row["ess_frac_raw"] - 1e-9


def test_candidate_keys_match_duckdb_and_flag_nonkeys(queries, spark):
    rows = {
        r["probe"]: r
        for r in queries["prof_candidate_keys"](spark, SF_DIR).collect()
    }
    # independently recompute two probes
    n, d = duckdb.sql(
        f"""SELECT COUNT(*), COUNT(DISTINCT (l_orderkey, l_linenumber))
            FROM '{SF_DIR}/lineitem.parquet'"""
    ).fetchone()
    r = rows["lineitem(l_orderkey,l_linenumber)"]
    assert (r["n_rows"], r["n_distinct"]) == (n, d)
    # the synthetic fixture does NOT maintain TPC-H's compound line
    # key (4599/6000 distinct at sf0.001) — the audit must say so
    assert r["is_key"] == (n == d) == False  # noqa: E712
    assert not rows["lineitem(l_orderkey)"]["is_key"]
    assert rows["orders(o_orderkey)"]["is_key"]
    assert rows["customer(c_custkey)"]["is_key"]
    assert rows["documents(doc_id)"]["is_key"]
    assert rows["events(user_id,ts)"]["is_key"]
    assert not rows["documents(source,n_chars)"]["is_key"]


def test_length_outliers_top1_matches_python(queries, spark):
    """Lower-median/MAD replay; exactly one row per source; the flag
    only fires past |z| > 3.5 (fixture max is ~3.0)."""
    import re as _re
    from collections import defaultdict

    docs = duckdb.sql(
        f"SELECT source, doc_id, text FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()
    lens = defaultdict(list)
    for src, did, txt in docs:
        n = len([t for t in _re.split(r"[^a-z0-9]+", txt.lower()) if t])
        lens[src].append((did, n))
    expected = {}
    for src, pairs in lens.items():
        ns = sorted((n, d) for d, n in pairs)
        med = ns[(len(ns) + 1) // 2 - 1][0]
        ads = sorted((abs(n - med), d) for d, n in pairs)
        mad = ads[(len(ads) + 1) // 2 - 1][0]
        scored = sorted(
            (
                -round(abs(0.6745 * (n - med) / mad), 6) if mad else 0.0,
                d,
                n,
            )
            for d, n in pairs
        )
        z0, d0, n0 = scored[0]
        expected[src] = (d0, n0, med, mad, round(-z0, 6))
    rows = queries["ts_length_outliers"](spark, SF_DIR).collect()
    assert len(rows) == len(expected)
    for r in rows:
        d0, n0, med, mad, az = expected[r["source"]]
        assert r["doc_id"] == d0 and r["n_tokens"] == n0
        assert r["median_tokens"] == med and r["mad_tokens"] == mad
        assert abs(r["robust_z"]) == pytest.approx(az, abs=2e-6)
        assert r["is_outlier"] == (abs(r["robust_z"]) > 3.5)


def test_gini_matches_numpy_sorted_formula(queries, spark):
    cents = duckdb.sql(
        f"""SELECT CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))) * 100, 0)
                        AS BIGINT) AS c
            FROM '{SF_DIR}/events.parquet'
            WHERE event_type = 'purchase' GROUP BY user_id"""
    ).df().c.to_numpy()
    x = np.sort(cents.astype(np.float64))
    n = len(x)
    gini = 2 * (np.arange(1, n + 1) * x).sum() / (n * x.sum()) - (
        n + 1
    ) / n
    row = queries["ev_revenue_concentration"](spark, SF_DIR).collect()[0]
    assert row["n_users"] == n
    assert row["total_revenue"] == pytest.approx(x.sum() / 100, abs=1e-4)
    assert row["gini"] == pytest.approx(gini, abs=1e-5)
    assert 0.0 <= row["gini"] < 1.0


def test_entropy_rate_matches_python_counts(queries, spark):
    import math
    import re as _re
    from collections import Counter

    docs = duckdb.sql(
        f"SELECT text FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()
    uni, bi = Counter(), Counter()
    for (txt,) in docs:
        ts = [t for t in _re.split(r"[^a-z0-9]+", txt.lower()) if t]
        uni.update(ts)
        bi.update(f"{a} {b}" for a, b in zip(ts, ts[1:]))

    def h(c):
        n = sum(c.values())
        return -sum(v / n * math.log2(v / n) for v in c.values())

    row = queries["ts_entropy_rate"](spark, SF_DIR).collect()[0]
    assert row["n_tokens"] == sum(uni.values())
    assert row["n_bigrams"] == sum(bi.values())
    assert row["vocab"] == len(uni) and row["bigram_types"] == len(bi)
    assert row["h_unigram_bits"] == pytest.approx(h(uni), abs=1e-5)
    assert row["h_bigram_bits"] == pytest.approx(h(bi), abs=1e-5)
    rate = row["entropy_rate_bits"]
    assert rate == pytest.approx(h(bi) - h(uni), abs=1e-5)
    assert 0.0 < rate < row["h_unigram_bits"]  # real text is redundant


def test_corpus_planning_report_is_consistent_composition(queries, spark):
    """The report must equal the column-wise join of its three
    verified components."""
    rep = {
        r["source"]: r
        for r in queries["llm_corpus_planning_report"](
            spark, SF_DIR
        ).collect()
    }
    lex = {
        r["source"]: r
        for r in queries["ts_lexical_diversity"](spark, SF_DIR).collect()
    }
    wf = {
        r["source"]: r
        for r in queries["samp_token_budget_waterfill"](
            spark, SF_DIR
        ).collect()
    }
    ney = {
        r["source"]: r
        for r in queries["samp_neyman_allocation"](spark, SF_DIR).collect()
    }
    assert set(rep) == set(lex) == set(wf) == set(ney)
    for s, r in rep.items():
        assert r["n_tokens"] == lex[s]["n_tokens"]
        assert r["type_token_ratio"] == lex[s]["type_token_ratio"]
        assert r["allocated_tokens"] == wf[s]["allocated_tokens"]
        assert r["capped"] == wf[s]["capped"]
        assert r["neyman_n"] == ney[s]["neyman_n"]
        assert r["n_docs"] == ney[s]["n_docs"]


def test_forecast_backtest_matches_python_replay(queries, spark):
    from recommedation_system_under_flink_spark.operators.events_props import (
        EWMA_ALPHA,
        EWMA_W,
    )

    y = [
        int(n)
        for _, n in duckdb.sql(
            f"""SELECT CAST(ts AS DATE) d, COUNT(*) FROM
                '{SF_DIR}/events.parquet'
                WHERE event_type = 'click' GROUP BY d ORDER BY d"""
        ).fetchall()
    ]
    a = EWMA_ALPHA
    s = []
    for t in range(len(y)):
        if t == 0:
            s.append(float(y[0]))
            continue
        acc = sum(
            a * (1 - a) ** j * y[t - j]
            for j in range(min(t - 1, EWMA_W - 1) + 1)
            if t - j >= 1
        )
        if 1 <= t <= EWMA_W - 1:
            acc += (1 - a) ** t * y[0]
        s.append(acc)
    test = range(7, len(y))
    mae_n = np.mean([abs(y[t] - y[t - 1]) for t in test])
    mae_s = np.mean([abs(y[t] - y[t - 7]) for t in test])
    mae_e = np.mean([abs(y[t] - s[t - 1]) for t in test])
    row = queries["ev_forecast_backtest"](spark, SF_DIR).collect()[0]
    assert row["n_test"] == len(y) - 7
    assert row["mae_naive"] == pytest.approx(mae_n, abs=1e-5)
    assert row["mae_seasonal"] == pytest.approx(mae_s, abs=1e-5)
    assert row["mae_ewma"] == pytest.approx(mae_e, abs=1e-5)
    maes = {"ewma": mae_e, "seasonal_naive": mae_s, "naive": mae_n}
    assert maes[row["best"]] == pytest.approx(min(maes.values()), abs=1e-5)


def test_source_jsd_matches_scipy_free_replay(queries, spark):
    import math
    import re as _re
    from collections import Counter, defaultdict

    docs = duckdb.sql(
        f"SELECT source, text FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()
    per = defaultdict(Counter)
    corp = Counter()
    for src, txt in docs:
        ts = [t for t in _re.split(r"[^a-z0-9]+", txt.lower()) if t]
        per[src].update(ts)
        corp.update(ts)
    nc = sum(corp.values())
    rows = queries["ts_source_js_divergence"](spark, SF_DIR).collect()
    assert {r["source"] for r in rows} == set(per)
    for r in rows:
        cnt = per[r["source"]]
        ns = sum(cnt.values())
        assert r["n_tokens"] == ns
        jsd = 0.0
        for tok, cc in corp.items():
            p = cnt.get(tok, 0) / ns
            q = cc / nc
            if p:
                jsd += 0.5 * p * math.log2(2 * p / (p + q))
            jsd += 0.5 * q * math.log2(2 * q / (p + q))
        assert r["jsd_bits"] == pytest.approx(jsd, abs=1e-5)
        assert 0.0 <= r["jsd_bits"] <= 1.0


def test_partition_balance_matches_duckdb(queries, spark):
    sizes = sorted(
        n
        for _, n in duckdb.sql(
            f"""SELECT CAST(ts AS DATE) d, COUNT(*) FROM
                '{SF_DIR}/events.parquet' GROUP BY d"""
        ).fetchall()
    )
    med = sizes[(len(sizes) + 1) // 2 - 1]
    row = queries["prof_partition_balance"](spark, SF_DIR).collect()[0]
    assert row["n_partitions"] == len(sizes)
    assert row["min_rows"] == sizes[0] and row["max_rows"] == sizes[-1]
    assert row["median_rows"] == med
    assert row["skew_ratio"] == pytest.approx(sizes[-1] / med, abs=1e-6)
    assert row["skewed"] == (sizes[-1] > 2 * med)


def test_heaps_fit_matches_numpy_loglog_ols(queries, spark):
    import re as _re

    docs = sorted(
        duckdb.sql(
            f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet'"
        ).fetchall()
    )
    max_id = docs[-1][0]
    fracs = (0.1, 0.2, 0.4, 0.6, 0.8, 1.0)
    pts = []
    curve = {}
    for i, f in enumerate(fracs):
        cut = int(f * (max_id + 1))
        seen = set()
        n = 0
        for did, txt in docs:
            if did >= cut:
                continue
            ts = [t for t in _re.split(r"[^a-z0-9]+", txt.lower()) if t]
            n += len(ts)
            seen.update(ts)
        curve[i] = (cut, n, len(seen))
        if n and seen:
            pts.append((np.log2(n), np.log2(len(seen))))
    x = np.array([p[0] for p in pts])
    y = np.array([p[1] for p in pts])
    beta, icpt = np.polyfit(x, y, 1)
    rows = queries["ts_heaps_law_fit"](spark, SF_DIR).collect()
    assert len(rows) == len(fracs)
    for r in rows:
        cut, n, v = curve[r["checkpoint"]]
        assert (r["doc_id_cut"], r["n_tokens"], r["vocab"]) == (cut, n, v)
        assert r["heaps_beta"] == pytest.approx(beta, abs=1e-4)
        assert r["heaps_k"] == pytest.approx(2**icpt, abs=1e-3)
    # the synthetic generator draws from a FIXED word pool, so the
    # vocabulary saturates at the first checkpoint and beta ~ 0 (real
    # text sits near 0.5); the fit itself is verified above
    assert 0.0 <= rows[0]["heaps_beta"] < 1.0
    assert rows[-1]["vocab"] >= rows[0]["vocab"]


def test_pps_systematic_matches_python_walk(queries, spark):
    """Replay Madow's walk exactly; total hits must equal m and hit
    counts must be proportional (within 1) to size."""
    import re as _re

    from recommedation_system_under_flink_spark.operators.sampling import (
        PPS_SAMPLES,
    )

    docs = sorted(
        duckdb.sql(
            f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet'"
        ).fetchall()
    )
    sizes = [
        (d, len([t for t in _re.split(r"[^a-z0-9]+", x.lower()) if t]))
        for d, x in docs
    ]
    total = sum(s for _, s in sizes)
    m = PPS_SAMPLES
    points = [total * (2 * k + 1) / (2 * m) for k in range(m)]
    hits = {}
    c = 0
    it = iter(points)
    p = next(it, None)
    for d, s in sizes:
        lo, c = c, c + s
        while p is not None and lo < p <= c:
            hits[d] = hits.get(d, 0) + 1
            p = next(it, None)
    rows = queries["samp_pps_systematic"](spark, SF_DIR).collect()
    got = {r["doc_id"]: r["n_hits"] for r in rows}
    assert got == hits
    assert sum(got.values()) == m
    for r in rows:
        assert r["inclusion_prob"] == pytest.approx(
            min(1.0, m * r["n_tokens"] / total), abs=1e-6
        )


def test_schema_evolution_merges_with_nulls_for_v1(queries, spark):
    from recommedation_system_under_flink_spark.operators.kernels_sql import (
        SCHEMA_EVO_FRAC,
    )

    max_id = duckdb.sql(
        f"SELECT MAX(doc_id) FROM '{SF_DIR}/documents.parquet'"
    ).fetchone()[0]
    split = int((max_id + 1) * SCHEMA_EVO_FRAC)
    rows = queries["s23_schema_evolution_roundtrip"](
        spark, SF_DIR
    ).collect()
    n = duckdb.sql(
        f"SELECT COUNT(*) FROM '{SF_DIR}/documents.parquet'"
    ).fetchone()[0]
    assert len(rows) == n
    for r in rows:
        if r["doc_id"] < split:
            assert r["extra_score"] is None
        else:
            assert r["extra_score"] is not None
    assert any(r["doc_id"] < split for r in rows)
    assert any(r["doc_id"] >= split for r in rows)


def test_corrupt_file_skip_returns_exactly_clean_rows(queries, spark):
    row = queries["s25_corrupt_file_skip"](spark, SF_DIR).collect()[0]
    n, d, c = duckdb.sql(
        f"""SELECT COUNT(*), COUNT(DISTINCT doc_id),
                   SUM(CAST(n_chars AS BIGINT))
            FROM '{SF_DIR}/documents.parquet'"""
    ).fetchone()
    assert (row["n_rows"], row["n_docs"], row["chars_total"]) == (n, d, c)
    # and the garbage file really is in the directory it read
    import glob
    import os
    import tempfile

    from recommedation_system_under_flink_spark.operators.kernels_sql import (
        _scratch_dir,
    )

    out = _scratch_dir(spark, SF_DIR, "s25_corrupt_skip")
    assert os.path.exists(os.path.join(out, "part-corrupt.parquet"))
    assert len(glob.glob(os.path.join(out, "*.parquet"))) > 1


def test_dedup_funnel_is_monotone_and_consistent(queries, spark):
    rows = {
        r["stage"]: r
        for r in queries["dedup_funnel_report"](spark, SF_DIR).collect()
    }
    assert set(rows) == {"raw", "exact", "neardup"}
    raw, ex, near = rows["raw"], rows["exact"], rows["neardup"]
    assert raw["docs_kept"] >= ex["docs_kept"] >= near["docs_kept"]
    assert raw["tokens_kept"] >= ex["tokens_kept"] >= near["tokens_kept"]
    # cross-check stage 2 against the canonical verdict directly
    keep = sum(
        1
        for r in queries["dedup_neardup_canonical"](
            spark, SF_DIR
        ).collect()
        if r["keep"]
    )
    assert near["docs_kept"] == keep
    n = duckdb.sql(
        f"SELECT COUNT(*) FROM '{SF_DIR}/documents.parquet'"
    ).fetchone()[0]
    assert raw["docs_kept"] == n


def test_retention_halflife_matches_numpy_fit(queries, spark):
    rows = duckdb.sql(
        f"""WITH activity AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
          FROM '{SF_DIR}/events.parquet')
        , cohorts AS (SELECT user_id, MIN(day) c FROM activity GROUP BY 1)
        SELECT c.c AS cohort, a.day - c.c AS o, COUNT(*) n
        FROM activity a JOIN cohorts c USING (user_id) GROUP BY 1, 2"""
    ).fetchall()
    from collections import defaultdict

    sizes = defaultdict(int)
    cells = {}
    max_day = None
    for cohort, o, n in rows:
        cells[(cohort, o)] = n
        if o == 0:
            sizes[cohort] = n
        d = cohort + __import__("datetime").timedelta(days=int(o))
        max_day = d if max_day is None or d > max_day else max_day
    pooled = {}
    offsets = sorted({o for _, o in cells if o >= 1})
    for o in offsets:
        num = den = 0
        for cohort, sz in sizes.items():
            if cohort + __import__("datetime").timedelta(days=int(o)) <= max_day:
                den += sz
                num += cells.get((cohort, o), 0)
        if den:
            pooled[o] = num / den
    xs = np.array([o for o, r in pooled.items() if r > 0], dtype=float)
    ys = np.log([r for r in pooled.values() if r > 0])
    slope, _ = np.polyfit(xs, ys, 1)
    lam = -slope
    row = queries["a15_retention_halflife"](spark, SF_DIR).collect()[0]
    assert row["n_offsets"] == len(xs)
    assert row["day1_retention"] == pytest.approx(pooled[1], abs=1e-5)
    assert row["lambda_per_day"] == pytest.approx(lam, abs=1e-4)
    if lam > 0:
        assert row["half_life_days"] == pytest.approx(
            np.log(2) / lam, abs=1e-2
        )


def test_langid_accuracy_consistent_with_predictions(queries, spark):
    pred = {
        r["doc_id"]: r["lang_guess"]
        for r in queries["ts_lang_id"](spark, SF_DIR).collect()
    }
    truth = dict(
        duckdb.sql(
            f"SELECT doc_id, lang FROM '{SF_DIR}/documents.parquet'"
        ).fetchall()
    )
    from collections import defaultdict

    agg = defaultdict(lambda: [0, 0])
    for d, t in truth.items():
        agg[t][0] += 1
        agg[t][1] += pred.get(d) == t
    rows = queries["ts_langid_accuracy"](spark, SF_DIR).collect()
    assert {r["true_lang"] for r in rows} == set(agg)
    for r in rows:
        n, c = agg[r["true_lang"]]
        assert (r["n_docs"], r["n_correct"]) == (n, c)
        assert r["accuracy"] == pytest.approx(c / n, abs=1e-6)
    # the en-marker classifier must at least beat chance on en
    en = next(r for r in rows if r["true_lang"] == "en")
    assert en["accuracy"] > 0.5


def test_association_rules_match_pandas_baskets(queries, spark):
    from collections import defaultdict

    from recommedation_system_under_flink_spark.operators.cf import (
        RULE_MIN_SUPPORT,
    )
    from recommedation_system_under_flink_spark.sources.tables import (
        NEWS_MOD,
    )

    prefs = duckdb.sql(
        f"""SELECT DISTINCT user_id, event_id % {NEWS_MOD} AS news_id
            FROM '{SF_DIR}/events.parquet' WHERE event_type='click'"""
    ).fetchall()
    baskets = defaultdict(set)
    for u, n in prefs:
        baskets[u].add(n)
    pop = defaultdict(int)
    co = defaultdict(int)
    for items in baskets.values():
        for a in items:
            pop[a] += 1
            for b in items:
                if a != b:
                    co[(a, b)] += 1
    n_users = len(baskets)
    expected = {
        k: v for k, v in co.items() if v >= RULE_MIN_SUPPORT
    }
    rows = queries["cf_association_rules"](spark, SF_DIR).collect()
    got = {(r["antecedent"], r["consequent"]): r for r in rows}
    assert set(got) == set(expected)
    for (a, b), r in got.items():
        s = expected[(a, b)]
        assert r["support"] == s
        assert r["confidence"] == pytest.approx(s / pop[a], abs=1e-6)
        assert r["lift"] == pytest.approx(
            s * n_users / (pop[a] * pop[b]), abs=1e-5
        )
