"""Invariants for the round-4 tail additions: Poisson bootstrap,
Benford profile, Adamic-Adar link prediction, k-fold assignment,
Flesch readability — properties the DuckDB oracle already checks for
exact values, re-asserted here as SEMANTIC invariants (the oracle
proves both engines agree; these prove they agree on the right
thing).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from recommedation_system_under_flink_spark import registry

from conftest import SF_DIR


def _q(name):
    return registry.queries()[name]


# ------------------------------------------------- Poisson bootstrap

def test_poisson_bootstrap_replicates_concentrate(spark):
    """Each replicate's effective size is a sum of n iid Poisson(1)
    weights → mean n, sd √n: every replicate must sit within 5σ, and
    the per-weight empirical distribution must roughly match the
    Poisson(1) pmf (the inverse-CDF is pinned, so this checks the
    thresholds are the RIGHT constants, not just shared ones)."""
    from recommedation_system_under_flink_spark.operators.sampling import (
        BOOT_B,
    )
    from recommedation_system_under_flink_spark.sources import load_raw

    n_docs = load_raw(spark, SF_DIR, "documents").count()
    rows = _q("samp_poisson_bootstrap")(spark, SF_DIR).collect()
    assert len(rows) == BOOT_B
    assert sorted(r.replicate for r in rows) == list(range(BOOT_B))
    sd = math.sqrt(n_docs)
    for r in rows:
        assert abs(r.n_eff - n_docs) <= 5 * sd, (r.replicate, r.n_eff, n_docs)
        assert r.mean_chars > 0


def test_poisson_bootstrap_mean_tracks_population(spark):
    """The replicate means must bracket the true population mean within
    a few replicate-sds (the whole point of the bootstrap)."""
    from recommedation_system_under_flink_spark.sources import load_raw

    docs = load_raw(spark, SF_DIR, "documents")
    pop = docs.agg(F.avg("n_chars")).first()[0]
    means = [r.mean_chars for r in _q("samp_poisson_bootstrap")(spark, SF_DIR).collect()]
    spread = max(means) - min(means)
    mid = sum(means) / len(means)
    assert abs(mid - pop) <= max(3 * spread, 1e-6), (mid, pop, spread)


# --------------------------------------------------- Benford profile

def test_benford_freqs_and_chi2(spark):
    rows = _q("prof_benford_totalprice")(spark, SF_DIR).collect()
    digits = sorted(r.first_digit for r in rows)
    assert digits == sorted(set(digits)) and set(digits) <= set(range(1, 10))
    assert abs(sum(r.obs_freq for r in rows) - 1.0) < 1e-4
    for r in rows:
        want = round(math.log10(1 + 1 / r.first_digit), 6)
        assert abs(r.exp_freq - want) <= 1e-6, (r.first_digit, r.exp_freq)
        assert r.chi2_term >= 0


# ------------------------------------------- Adamic-Adar prediction

def test_adamic_adar_scores_match_bruteforce(spark):
    """Recompute AA scores for the returned pairs from the raw
    projection graph in plain Python and require exact agreement at
    the 6-dp quantization; also assert no returned pair is an existing
    edge. sf0.001 yields an empty result (graph too dense/small) —
    assert the contract on sf0.01 instead."""
    from recommedation_system_under_flink_spark.operators.graph import (
        TRI_MIN_COOC,
    )
    from recommedation_system_under_flink_spark.sources import clicks

    sf = "/root/testdata/sf0.01"
    out = _q("graph_link_prediction_aa")(spark, sf).collect()
    assert out, "expected candidate links at sf0.01"

    prefs = clicks(spark, sf).select("user_id", "news_id").distinct().collect()
    by_user = {}
    for r in prefs:
        by_user.setdefault(r.user_id, set()).add(r.news_id)
    from collections import Counter

    cooc = Counter()
    for items in by_user.values():
        s = sorted(items)
        for i, x in enumerate(s):
            for y in s[i + 1 :]:
                cooc[(x, y)] += 1
    edges = {p for p, c in cooc.items() if c >= TRI_MIN_COOC}
    adj = {}
    for x, y in edges:
        adj.setdefault(x, set()).add(y)
        adj.setdefault(y, set()).add(x)
    for r in out:
        key = (min(r.x, r.y), max(r.x, r.y))
        assert key not in edges, key
        common = adj.get(r.x, set()) & adj.get(r.y, set())
        assert len(common) == r.common_neighbors, (key, common)
        want = round(sum(1.0 / math.log(len(adj[z])) for z in common), 6)
        assert abs(want - r.aa_score) <= 1e-6, (key, want, r.aa_score)


# ------------------------------------------------------- k-fold / FRE

def test_kfold_balanced_and_consistent_with_split_hash(spark):
    from recommedation_system_under_flink_spark.operators.sampling import (
        HASH_MOD,
        HASH_MULT,
        KFOLD_K,
    )

    rows = _q("samp_kfold_assign")(spark, SF_DIR).collect()
    n = len(rows)
    counts = {}
    for r in rows:
        assert r.fold == (r.doc_id * HASH_MULT) % HASH_MOD % KFOLD_K
        assert r.is_holdout_fold0 == (r.fold == 0)
        counts[r.fold] = counts.get(r.fold, 0) + 1
    assert set(counts) <= set(range(KFOLD_K))
    for c in counts.values():  # folds within 5σ of n/K
        assert abs(c - n / KFOLD_K) <= 5 * math.sqrt(n / KFOLD_K), counts


def test_readability_bounds_and_monotonicity(spark):
    """Flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syll/words);
    with ≥1 syllable per word the score is ≤ 206.835 − 1.015 − 84.6
    + slack; recompute the formula from the emitted counts exactly."""
    rows = _q("ts_readability")(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.n_words >= 1 and r.n_sentences >= 1
        assert r.n_syllables >= r.n_words  # ≥1 syllable per word
        want = round(
            206.835
            - 1.015 * (r.n_words / r.n_sentences)
            - 84.6 * (r.n_syllables / r.n_words),
            6,
        )
        assert abs(want - r.flesch) <= 1e-6


# ----------------------------------------------------- CUSUM recursion

def test_cusum_closed_form_matches_textbook_recursion(spark):
    """The window-function closed form must equal the sequential
    recursion S⁺_d = max(0, S⁺_{d-1} + z_d − k) replayed in Python."""
    from recommedation_system_under_flink_spark.operators.events_props import (
        CUSUM_H,
        CUSUM_K,
    )

    rows = _q("ev_cusum_changepoint")(spark, SF_DIR).collect()
    assert rows
    by_type = {}
    for r in sorted(rows, key=lambda r: (r.event_type, r.day)):
        by_type.setdefault(r.event_type, []).append(r)
    for series in by_type.values():
        sp = sn = 0.0
        for r in series:
            sp = max(0.0, sp + r.z - CUSUM_K)
            sn = max(0.0, sn - r.z - CUSUM_K)
            # replay on the 6-dp z the query emits; allow drift of the
            # quantization error accumulated over the series
            assert abs(sp - r.cusum_pos) < 1e-3, (r.event_type, r.day)
            assert abs(sn - r.cusum_neg) < 1e-3, (r.event_type, r.day)
            assert r.alarm == (r.cusum_pos > CUSUM_H or r.cusum_neg > CUSUM_H)
            sp, sn = r.cusum_pos, r.cusum_neg  # resync to query values


# ------------------------------------------------------- Bloom filter

def test_bloom_no_false_negatives_and_sane_fill(spark):
    """Every member must pass (n_pass ≥ n_members — Bloom filters never
    false-negative); bits set ≤ K·n_build; observed fp ≤ ~4× theory."""
    from recommedation_system_under_flink_spark.operators.sketches import (
        BLOOM_K,
    )

    r = _q("sk_bloom_prefilter")(spark, SF_DIR).first()
    assert r.n_pass >= r.n_members
    assert r.n_pass - r.n_members == r.n_false_pos
    assert r.n_bits_set <= BLOOM_K * r.n_build
    if r.fp_rate_observed is not None and r.fp_rate_theory > 0:
        # loose: small non-member counts make the observed rate noisy
        assert r.fp_rate_observed <= max(4 * r.fp_rate_theory, 0.02)


# ------------------------------------------- referential integrity

def test_referential_integrity_covers_every_fk_edge(spark):
    """One audit row per FK edge; the synthetic TPC-H-ish fixtures are
    referentially complete, so every edge must report 0 orphans — and
    n_child must equal the child table's actual row count."""
    from recommedation_system_under_flink_spark.operators.profiling import (
        FK_EDGES,
    )
    from recommedation_system_under_flink_spark.sources.tables import load_raw

    rows = {r.fk_edge: r for r in _q("prof_referential_integrity")(spark, SF_DIR).collect()}
    assert len(rows) == len(FK_EDGES)
    for child, fk, parent, pk in FK_EDGES:
        r = rows[f"{child}.{fk} -> {parent}.{pk}"]
        assert r.n_child == load_raw(spark, SF_DIR, child).count()
        assert r.n_orphans == 0 and r.ref_complete
        assert 0 <= r.n_null_fk <= r.n_child


# ------------------------------------------------ growth accounting

def test_growth_accounting_flux_identities(spark):
    """Textbook growth-accounting identities: active = new + retained
    + resurrected each day; churned(d) = active(d-1) − retained(d) for
    consecutive observed days; total new over the range = total
    distinct users."""
    rows = sorted(
        _q("ev_growth_accounting")(spark, SF_DIR).collect(), key=lambda r: r.day
    )
    assert rows
    by_day = {r.day: r for r in rows}
    for r in rows:
        assert r.n_active == r.n_new + r.n_retained + r.n_resurrected
        assert min(r.n_active, r.n_new, r.n_retained, r.n_resurrected, r.n_churned) >= 0
        if r.n_churned > 0 and r.quick_ratio is not None:
            assert abs(r.quick_ratio - (r.n_new + r.n_resurrected) / r.n_churned) < 1e-6
    import datetime

    for r in rows:
        prev = by_day.get(r.day - datetime.timedelta(days=1))
        if prev is not None:
            assert r.n_churned == prev.n_active - r.n_retained, r.day

    from recommedation_system_under_flink_spark.sources import events_raw

    n_users = (
        events_raw(spark, SF_DIR).select("user_id").distinct().count()
    )
    assert sum(r.n_new for r in rows) == n_users


# --------------------------------------------------- LPA communities

def test_lpa_matches_python_replay(spark):
    """Replay the fixed-round synchronous LPA in pure Python from the
    same click pairs and compare every label; also check labels are
    node ids that exist in the graph."""
    from collections import Counter

    from recommedation_system_under_flink_spark.operators.graph import (
        LPA_ITERS,
    )
    from recommedation_system_under_flink_spark.sources import clicks

    pairs = {
        (r.user_id, r.news_id)
        for r in clicks(spark, SF_DIR).select("user_id", "news_id").distinct().collect()
    }
    edges = {}
    for u, n in pairs:
        edges.setdefault(2 * n + 1, []).append(2 * u)
        edges.setdefault(2 * u, []).append(2 * n + 1)
    labels = {v: v for v in edges}
    for _ in range(LPA_ITERS):
        labels = {
            v: min(
                (lab for lab, c in Counter(labels[s] for s in srcs).items()
                 if c == max(Counter(labels[s] for s in srcs).values()))
            )
            for v, srcs in edges.items()
        }

    got = {r.node: r.label for r in _q("graph_lpa_communities")(spark, SF_DIR).collect()}
    assert got == labels
    assert set(got.values()) <= set(edges)


# ---------------------------------------------------- modularity

def test_modularity_matches_python_recompute(spark):
    """Recompute Q per community from collected edges + the registered
    LPA labels; sum of contributions is the partition modularity and
    must sit in [-0.5, 1]; node/degree masses must partition the
    graph."""
    from recommedation_system_under_flink_spark.sources import clicks

    pairs = {
        (r.user_id, r.news_id)
        for r in clicks(spark, SF_DIR).select("user_id", "news_id").distinct().collect()
    }
    dir_edges = []
    for u, n in pairs:
        dir_edges += [(2 * u, 2 * n + 1), (2 * n + 1, 2 * u)]
    labels = {r.node: r.label for r in _q("graph_lpa_communities")(spark, SF_DIR).collect()}
    m = len(dir_edges)
    intra, deg_sum, nodes = {}, {}, {}
    for s, d in dir_edges:
        deg_sum[labels[s]] = deg_sum.get(labels[s], 0) + 1
        if labels[s] == labels[d]:
            intra[labels[s]] = intra.get(labels[s], 0) + 1
    for v, lab in labels.items():
        nodes[lab] = nodes.get(lab, 0) + 1

    rows = {r.label: r for r in _q("graph_modularity_report")(spark, SF_DIR).collect()}
    assert set(rows) == set(nodes)
    q_total = 0.0
    for lab, r in rows.items():
        assert r.n_nodes == nodes[lab]
        assert r.deg_sum == deg_sum.get(lab, 0)
        assert r.intra_edges == intra.get(lab, 0) // 2
        want = intra.get(lab, 0) / m - (deg_sum.get(lab, 0) / m) ** 2
        assert abs(r.q_contribution - want) < 1e-5, lab
        q_total += r.q_contribution
    assert -0.5 <= q_total <= 1.0
    assert sum(r.n_nodes for r in rows.values()) == len(labels)
    assert sum(r.deg_sum for r in rows.values()) == m


# ------------------------------------------------ numeric correlation

def test_numeric_correlation_matches_numpy(spark):
    """Recompute each Pearson pair with numpy over the 4-dp-quantized
    columns (the operator's pinned DECIMAL(…,4) semantics) and compare
    at the 6-dp output quantization; |corr| ≤ 1 everywhere."""
    import numpy as np

    from recommedation_system_under_flink_spark.operators.profiling import (
        CORR_COLS,
    )
    from recommedation_system_under_flink_spark.sources.tables import load_raw

    pdf = (
        load_raw(spark, SF_DIR, "lineitem").select(*CORR_COLS).toPandas()
    )
    quant = {c: np.round(pdf[c].to_numpy(dtype=float), 4) for c in CORR_COLS}
    rows = _q("prof_numeric_correlation")(spark, SF_DIR).collect()
    assert len(rows) == len(CORR_COLS) * (len(CORR_COLS) - 1) // 2
    for r in rows:
        assert r.n == len(pdf)
        want = np.corrcoef(quant[r.col_a], quant[r.col_b])[0, 1]
        assert abs(r.corr - want) < 1e-5, (r.col_a, r.col_b)
        assert -1.0 - 1e-9 <= r.corr <= 1.0 + 1e-9


# ---------------------------------------------- group-safe split

def test_group_safe_split_has_zero_neardup_leakage(spark):
    """Every verified near-dup pair must land in ONE split under the
    group-safe assignment (the constructive guarantee); singleton
    clusters must match the plain doc_id split; split sizes must
    cover the corpus exactly once."""
    from recommedation_system_under_flink_spark.operators.dedup import (
        dedup_minhash_lsh,
    )

    gs = {r.doc_id: r for r in _q("samp_split_group_safe")(spark, SF_DIR).collect()}
    pairs = [
        (r.doc_a, r.doc_b)
        for r in dedup_minhash_lsh(spark, SF_DIR).select("doc_a", "doc_b").collect()
    ]
    assert pairs  # fixture has near-dups; vacuous otherwise
    for a, b in pairs:
        assert gs[a].split == gs[b].split, (a, b)
        assert gs[a].canonical_id == gs[b].canonical_id

    plain = {r.doc_id: r.split for r in _q("samp_split_assign")(spark, SF_DIR).collect()}
    assert set(gs) == set(plain)
    singles = [d for d, r in gs.items() if r.canonical_id == d]
    assert singles
    clustered = {d for d, r in gs.items() if r.canonical_id != d}
    for d in singles:
        if d not in {r.canonical_id for r in gs.values() if r.canonical_id != r.doc_id}:
            assert gs[d].split == plain[d], d


# ------------------------------------------------ column entropy

def test_column_entropy_matches_scipy_style_recompute(spark):
    """Recompute each column's Shannon entropy from collected value
    counts; normalized entropy bounded by [0, 1]; a one-valued column
    would give entropy 0 with NULL normalization (guard exercised via
    the ceiling identity H ≤ log2(k))."""
    import math
    from collections import Counter

    from recommedation_system_under_flink_spark.operators.profiling import (
        ENTROPY_COLS,
    )
    from recommedation_system_under_flink_spark.sources import events_raw
    from recommedation_system_under_flink_spark.sources.tables import load_raw

    docs = load_raw(spark, SF_DIR, "documents").select(*ENTROPY_COLS).collect()
    series = {f"documents.{c}": Counter(str(r[c]) for r in docs) for c in ENTROPY_COLS}
    series["events.event_type"] = Counter(
        r.event_type for r in events_raw(spark, SF_DIR).select("event_type").collect()
    )

    rows = {r.col: r for r in _q("prof_column_entropy")(spark, SF_DIR).collect()}
    assert set(rows) == set(series)
    for col, cnt in series.items():
        r = rows[col]
        n = sum(cnt.values())
        want = -sum((c / n) * math.log2(c / n) for c in cnt.values())
        assert r.n == n and r.n_distinct == len(cnt)
        assert abs(r.entropy_bits - want) < 1e-5, col
        assert r.entropy_bits <= r.max_entropy_bits + 1e-9
        if r.normalized_entropy is not None:
            assert 0.0 <= r.normalized_entropy <= 1.0 + 1e-9


# ------------------------------------------- decayed popularity

def test_decayed_popularity_python_replay(spark):
    """Replay the decay blend in Python from raw click counts and
    compare scores/ranks; the horizon day's clicks carry weight 1, and
    doubling every count must preserve the ranking exactly."""
    from collections import Counter

    from recommedation_system_under_flink_spark.operators.ranking import (
        POP_DECAY,
        POP_TOP_N,
    )
    from recommedation_system_under_flink_spark.sources import clicks

    daily = Counter()
    for r in clicks(spark, SF_DIR).select("news_id", "date").collect():
        daily[(r.news_id, r.date)] += 1
    assert daily
    max_date = max(d for _, d in daily)
    scores = {}
    for (nid, d), n in daily.items():
        scores[nid] = scores.get(nid, 0.0) + n * POP_DECAY ** (max_date - d).days
    want = sorted(
        ((round(s, 6), nid) for nid, s in scores.items()),
        key=lambda t: (-t[0], t[1]),
    )[:POP_TOP_N]

    got = sorted(
        _q("t6_decayed_popularity")(spark, SF_DIR).collect(), key=lambda r: r.rank
    )
    assert len(got) == min(POP_TOP_N, len(scores))
    for rank, (r, (s, nid)) in enumerate(zip(got, want), start=1):
        assert r.rank == rank and r.news_id == nid
        assert abs(r.score - s) < 1e-5


# ------------------------------------------- extractor agreement

def test_extractor_agreement_matches_collected_sets(spark):
    """Recompute per-doc Jaccard from the two collected keyword
    relations; spine covers exactly the union of doc ids; n_common
    bounded by both set sizes."""
    tr_rows = _q("p1_news_keywords_distributed")(spark, SF_DIR).collect()
    tf_rows = _q("a8_news_keywords_topk")(spark, SF_DIR).collect()
    tr, tf = {}, {}
    for r in tr_rows:
        tr.setdefault(r.news_id, set()).add(r.term)
    for r in tf_rows:
        tf.setdefault(r.news_id, set()).add(r.term)

    rows = {r.news_id: r for r in _q("j7_extractor_agreement")(spark, SF_DIR).collect()}
    assert set(rows) == set(tr) | set(tf)
    for nid, r in rows.items():
        a, b = tr.get(nid, set()), tf.get(nid, set())
        inter = len(a & b)
        assert (r.n_textrank, r.n_tfidf, r.n_common) == (len(a), len(b), inter)
        union = len(a | b)
        if union:
            assert abs(r.jaccard - inter / union) < 1e-6, nid
        assert r.n_common <= min(r.n_textrank, r.n_tfidf)


# ------------------------------------------- malformed CSV ingest

def test_malformed_csv_modes_reconcile(spark):
    """The two CSV failure modes must agree: good = total − corrupt =
    after-drop; the corrupt fraction matches the pinned 10% hash
    bucket; good-row payload survives parsing (sum over the clean
    fixture minus the corrupted docs)."""
    from recommedation_system_under_flink_spark.operators.sampling import (
        HASH_MOD,
        HASH_MULT,
    )
    from recommedation_system_under_flink_spark.sources.tables import load_raw

    r = _q("s24_malformed_csv_ingest")(spark, SF_DIR).first()
    assert r.n_total == r.n_good + r.n_corrupt
    assert r.n_after_drop == r.n_good
    docs = load_raw(spark, SF_DIR, "documents").select("doc_id", "n_chars").collect()
    corrupt = {d.doc_id for d in docs if (d.doc_id * HASH_MULT) % HASH_MOD % 10 == 0}
    assert r.n_total == len(docs)
    assert r.n_corrupt == len(corrupt)
    assert r.sum_good_chars == sum(
        d.n_chars for d in docs if d.doc_id not in corrupt
    )


# ---------------------------------------------------- MAD anomaly

def test_mad_anomaly_matches_statistics_recompute(spark):
    """Recompute the type-1 lower median, MAD, and modified z in
    Python per event type; flags must follow the 3.5 cutoff; MAD has a
    50% breakdown so med/MAD must be integers from the series."""
    from recommedation_system_under_flink_spark.operators.events_props import (
        MAD_Z_CUTOFF,
        MAD_Z_SCALE,
    )

    rows = _q("ev_mad_anomaly")(spark, SF_DIR).collect()
    assert rows
    series = {}
    for r in sorted(rows, key=lambda r: (r.event_type, r.day)):
        series.setdefault(r.event_type, []).append(r)

    def lower_median(vals):
        return sorted(vals)[(len(vals) + 1) // 2 - 1]

    for et, rs in series.items():
        ns = [r.n for r in rs]
        med = lower_median(ns)
        mad = lower_median([abs(n - med) for n in ns])
        for r in rs:
            assert r.median_n == med and r.mad_n == mad, et
            if mad == 0:
                assert r.robust_z is None and not r.anomaly
            else:
                want = MAD_Z_SCALE * (r.n - med) / mad
                assert abs(r.robust_z - want) < 1e-5
                assert r.anomaly == (abs(want) > MAD_Z_CUTOFF)


# --------------------------------------- streaming decayed popularity

def test_stream_decayed_popularity_equals_batch(spark):
    """The settled streaming path must produce the exact batch T6
    ranking — same rows, same order, same 6-dp scores."""
    batch = [
        (r.news_id, r.score, r.rank)
        for r in sorted(
            _q("t6_decayed_popularity")(spark, SF_DIR).collect(),
            key=lambda r: r.rank,
        )
    ]
    stream = [
        (r.news_id, r.score, r.rank)
        for r in sorted(
            _q("stream_decayed_popularity")(spark, SF_DIR).collect(),
            key=lambda r: r.rank,
        )
    ]
    assert stream == batch and batch


# ------------------------------------------- degree distribution

def test_degree_histogram_matches_python_degrees(spark):
    """Recompute degrees and bit-length buckets in Python; shares sum
    to 1 per side; bucket bounds are [2^b, 2^(b+1)−1] and every node
    is counted exactly once."""
    from collections import Counter

    from recommedation_system_under_flink_spark.sources import clicks

    pairs = {
        (r.user_id, r.news_id)
        for r in clicks(spark, SF_DIR).select("user_id", "news_id").distinct().collect()
    }
    deg = Counter()
    for u, n in pairs:
        deg[2 * u] += 1
        deg[2 * n + 1] += 1
    want = Counter()
    for node, d in deg.items():
        side = "user" if node % 2 == 0 else "news"
        want[(side, d.bit_length() - 1)] += 1

    rows = _q("graph_degree_histogram")(spark, SF_DIR).collect()
    got = {(r.side, r.bucket): r for r in rows}
    assert {k: r.n_nodes for k, r in got.items()} == dict(want)
    share_sums = Counter()
    for r in rows:
        assert r.lo == 2**r.bucket and r.hi == 2 ** (r.bucket + 1) - 1
        share_sums[r.side] += r.share
    for side, s in share_sums.items():
        assert abs(s - 1.0) < 1e-4, side


# ------------------------------------------- vocab coverage curve

def test_vocab_coverage_monotone_and_agrees_with_vocab_build(spark):
    """Coverage is monotone in vocab size; each point's covered mass
    matches a Counter recompute under the same (count desc, term asc)
    order; OOV = 1 − coverage on exact integers."""
    from collections import Counter

    from recommedation_system_under_flink_spark.operators.textstats import (
        VOCAB_SWEEP,
    )
    import re as _re

    from recommedation_system_under_flink_spark.functions.text import (
        TOKEN_SPLIT_REGEX,
    )
    from recommedation_system_under_flink_spark.sources.tables import load_raw

    cnt = Counter()
    for r in load_raw(spark, SF_DIR, "documents").select("text").collect():
        cnt.update(t for t in _re.split(TOKEN_SPLIT_REGEX, r.text.lower()) if t)
    ordered = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(cnt.values())

    rows = {r.vocab_size: r for r in _q("ts_vocab_coverage_curve")(spark, SF_DIR).collect()}
    assert set(rows) == set(VOCAB_SWEEP)
    prev_cov = -1.0
    for s in sorted(VOCAB_SWEEP):
        r = rows[s]
        covered = sum(n for _, n in ordered[:s])
        assert r.covered == covered and r.total_tokens == total
        assert r.n_terms_kept == min(s, len(ordered))
        assert r.n_terms == len(ordered)
        assert abs(r.coverage - covered / total) < 1e-6
        assert abs(r.coverage + r.oov_rate - 1.0) < 2e-6
        assert r.coverage >= prev_cov
        prev_cov = r.coverage
