"""Round-10 additions: ``Scene.similarity_algorithm`` is live config —
the kernel enum (SimilarityAlgorithm.java:6-9) dispatched at
TF_IDF.java:195-200 / TextRank.java:267-274 now reaches J3 and both
recommend() pipelines. The inverted-index F8 form is cross-validated
against a reference-shaped naive crossJoin + map-kernel twin, and the
registered *_dot entries are pinned to the dispatch path (flipping the
one reference config knob gives exactly the registered variant).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from recommedation_system_under_flink_spark.config import (
    DEFAULT_SCENE,
    Scene,
    SimilarityAlgorithm,
)
from recommedation_system_under_flink_spark.functions.kernels import (
    dot_product,
    dot_product_sql,
)

SF_DIR = "/root/testdata/sf0.001"

EUCLID = Scene(similarity_algorithm=SimilarityAlgorithm.EUCLIDEAN_DISTANCE)


def _rows(df, cols=("user_id", "news_id", "score")):
    return sorted(
        (tuple(r[c] for c in cols[:-1]) + (round(r[cols[-1]], 9),))
        for r in df.collect()
    )


def test_j3_dispatch_routes_euclid_to_registered_dot(spark):
    """Flipping the Scene knob through the SAME entrypoint a user calls
    must give exactly the registered EUCLIDEAN_DISTANCE variant."""
    from recommedation_system_under_flink_spark.operators.joins import (
        j3_scored_join,
        j3_scored_join_dot,
    )

    via_scene = _rows(j3_scored_join(spark, SF_DIR, scene=EUCLID))
    registered = _rows(j3_scored_join_dot(spark, SF_DIR))
    assert via_scene == registered
    assert len(registered) > 0


def test_j3_dot_differs_from_cosine(spark):
    """The dispatch must actually change the kernel: F8 scores are
    weight products, not count ratios."""
    from recommedation_system_under_flink_spark.operators.joins import (
        j3_scored_join,
    )

    cosine = dict(
        ((r["user_id"], r["news_id"]), r["score"])
        for r in j3_scored_join(spark, SF_DIR).collect()
    )
    dot = dict(
        ((r["user_id"], r["news_id"]), r["score"])
        for r in j3_scored_join(spark, SF_DIR, scene=EUCLID).collect()
    )
    # same candidate pairs (both kernels are supported on the term
    # intersection; all weights in this corpus are > 0)
    assert set(cosine) == set(dot)
    diffs = sum(1 for k in cosine if abs(cosine[k] - dot[k]) > 1e-12)
    assert diffs > 0


def test_j3_dot_equals_naive_cross_kernel_twin(spark):
    """Algebraic cross-validation (the j3_scored_join_naive pattern):
    the inverted-index SUM(u·n) must equal the reference-shaped
    crossJoin + F8 map kernel (EuclideanDistance.java:29-43) + P6."""
    from recommedation_system_under_flink_spark.operators.joins import (
        _news_window_keywords,
        j1_user_docs_semijoin,
        j3_scored_join_dot,
    )
    from recommedation_system_under_flink_spark.operators.tfidf import (
        a8_news_keywords_topk,
    )

    user_maps = (
        j1_user_docs_semijoin(spark, SF_DIR)
        .groupBy("user_id")
        .agg(F.map_from_entries(F.collect_list(F.struct("term", "weight"))).alias("u"))
    )
    news_maps = (
        _news_window_keywords(spark, SF_DIR, a8_news_keywords_topk(spark, SF_DIR))
        .groupBy("news_id")
        .agg(F.map_from_entries(F.collect_list(F.struct("term", "weight"))).alias("n"))
    )
    naive = (
        user_maps.crossJoin(F.broadcast(news_maps))
        .select("user_id", "news_id", dot_product_sql("u", "n").alias("score"))
        .filter(F.col("score") > 0)
    )
    want = {(r["user_id"], r["news_id"]): r["score"] for r in naive.collect()}
    got = {
        (r["user_id"], r["news_id"]): r["score"]
        for r in j3_scored_join_dot(spark, SF_DIR).collect()
    }
    # the registered form quantizes each TERM to micro-units before the
    # exact sum (hash-path discipline), so it can differ from the raw
    # kernel by up to 0.5e-6 per shared term
    assert set(got) == set(want) and got
    for k, v in want.items():
        assert abs(got[k] - v) <= 2e-5, k


def test_j3_dot_matches_pure_python_kernel(spark):
    """Ground truth: per-pair scores equal the pure-Python F8 kernel on
    the collected keyword maps."""
    from recommedation_system_under_flink_spark.operators.joins import (
        _news_window_keywords,
        j1_user_docs_semijoin,
        j3_scored_join_dot,
    )
    from recommedation_system_under_flink_spark.operators.tfidf import (
        a8_news_keywords_topk,
    )

    u_maps: dict[int, dict[str, float]] = {}
    for r in j1_user_docs_semijoin(spark, SF_DIR).collect():
        u_maps.setdefault(r["user_id"], {})[r["term"]] = r["weight"]
    n_maps: dict[int, dict[str, float]] = {}
    news_kw = a8_news_keywords_topk(spark, SF_DIR)
    for r in _news_window_keywords(spark, SF_DIR, news_kw).collect():
        n_maps.setdefault(r["news_id"], {})[r["term"]] = r["weight"]

    got = {
        (r["user_id"], r["news_id"]): r["score"]
        for r in j3_scored_join_dot(spark, SF_DIR).collect()
    }
    want = {
        (u, n): dot_product(uk, nk)
        for u, uk in u_maps.items()
        for n, nk in n_maps.items()
        if dot_product(uk, nk) > 0
    }
    assert set(got) == set(want)
    # per-term micro-unit quantization bound (see the naive-twin test)
    for k, v in want.items():
        assert got[k] == pytest.approx(v, abs=2e-5)


def test_pipeline_dispatch_routes_to_registered_dot(spark):
    """Both recommend() pipelines accept the scene and route it to the
    scored join; the registered *_dot entries pin that path."""
    from recommedation_system_under_flink_spark.plans.pipelines import (
        textrank_pipeline_distributed,
        textrank_pipeline_distributed_dot,
        tfidf_pipeline,
        tfidf_pipeline_dot,
    )

    cols = ("user_id", "news_id", "rank", "score")
    assert _rows(tfidf_pipeline(spark, SF_DIR, scene=EUCLID), cols) == _rows(
        tfidf_pipeline_dot(spark, SF_DIR), cols
    )
    assert _rows(
        textrank_pipeline_distributed(spark, SF_DIR, scene=EUCLID), cols
    ) == _rows(textrank_pipeline_distributed_dot(spark, SF_DIR), cols)
    # default scene stays the cosine form (regression: dispatch must
    # not change the certified canary)
    assert _rows(tfidf_pipeline(spark, SF_DIR), cols) == _rows(
        tfidf_pipeline(spark, SF_DIR, scene=DEFAULT_SCENE), cols
    )


# ---------------------- pinned-bin histogram quantile sketch (round 10)

def test_qsk_estimates_within_one_bin_of_exact(spark):
    """The histogram sketch's hard accuracy contract: ZERO rank error
    (it reads the exact cumulative counts), so each estimate lies
    within one bin width of the exact order statistic at the SAME
    nearest rank r = ceil(q·n). (Comparing against an interpolated
    type-7 percentile instead would add a ±1-rank convention gap,
    which in a sparse tail is unbounded in value — not sketch error.)"""
    import math

    from recommedation_system_under_flink_spark.operators.sketches import (
        QSK_W,
        sk_value_quantiles,
    )
    from recommedation_system_under_flink_spark.sources import events_raw

    got = {r["event_type"]: r for r in sk_value_quantiles(spark, SF_DIR).collect()}
    by_type: dict[str, list[float]] = {}
    for r in events_raw(spark, SF_DIR).select("event_type", "value").collect():
        by_type.setdefault(r["event_type"], []).append(r["value"])
    assert set(got) == set(by_type) and got
    for t, vals in by_type.items():
        vals.sort()
        n = len(vals)
        assert got[t]["n_events"] == n
        for pct, col in ((50, "p50"), (95, "p95"), (99, "p99")):
            exact_at_rank = vals[math.ceil(n * pct / 100) - 1]
            assert abs(got[t][col] - exact_at_rank) <= QSK_W, (t, col)


def test_qsk_registers_merge_by_sum(spark):
    """The register table is the storable sketch: registers built on
    two disjoint halves of the data SUM-merge to exactly the registers
    of the whole — the property that makes the sketch re-aggregable
    (daily registers → monthly quantiles without re-reading events)."""
    from recommedation_system_under_flink_spark.operators.sketches import (
        qsk_registers,
    )
    from recommedation_system_under_flink_spark.sources import events_raw

    whole = {
        (r["event_type"], r["bin"]): r["cnt"]
        for r in qsk_registers(spark, SF_DIR).collect()
    }
    ev = events_raw(spark, SF_DIR)
    n_rows = ev.count()
    merged: dict = {}
    for half in (F.col("event_id") % 2 == 0, F.col("event_id") % 2 == 1):
        b = F.floor(F.col("value") / F.lit(4.0)).cast("int")
        regs = (
            ev.filter(half)
            .groupBy(
                "event_type",
                F.greatest(F.lit(0), F.least(F.lit(255), b)).alias("bin"),
            )
            .agg(F.count("*").alias("cnt"))
        )
        for r in regs.collect():
            k = (r["event_type"], r["bin"])
            merged[k] = merged.get(k, 0) + r["cnt"]
    assert merged == whole
    assert sum(whole.values()) == n_rows


# ------------------- BPE oracle: marked-string REPLACE == greedy fold

def test_bpe_marked_string_replace_equals_python_fold():
    """The round-10 BPE oracle applies a merge with SQL REPLACE over
    chr(30)/chr(31)-marked symbol strings. Property: for adversarial
    symbol sequences (consecutive repeats, merged-token collisions,
    shared-prefix symbols) one REPLACE equals the pure-Python greedy
    left-to-right fold."""
    import duckdb

    def fold(syms, left, right):
        out: list = []
        for x in syms:
            if out and out[-1] == left and x == right:
                out[-1] = left + right
            else:
                out.append(x)
        return out

    cases = [
        (["a", "a", "a"], "a", "a"),
        (["a", "a", "a", "a"], "a", "a"),
        (["a", "a", "a", "a", "a"], "a", "a"),
        (["x", "l", "r", "r"], "l", "r"),
        (["l", "l", "r"], "l", "r"),
        (["xl", "r"], "l", "r"),          # suffix must NOT match
        (["l", "rx"], "l", "r"),          # prefix must NOT match
        (["ab", "c", "ab", "c"], "ab", "c"),
        (["a", "b", "a", "b", "a"], "a", "b"),
        (["</w>"], "a", "b"),
        (["a", "</w>"], "a", "</w>"),
        (["aa", "a", "a", "aa"], "a", "aa"),
    ]
    con = duckdb.connect()
    for syms, left, right in cases:
        marked = "".join(chr(30) + s + chr(31) for s in syms)
        got = con.execute(
            "SELECT regexp_extract_all(REPLACE(?, ?, ?),"
            " chr(30) || '([^' || chr(31) || ']*)' || chr(31), 1)",
            [
                marked,
                chr(30) + left + chr(31) + chr(30) + right + chr(31),
                chr(30) + left + right + chr(31),
            ],
        ).fetchone()[0]
        assert got == fold(syms, left, right), (syms, left, right)


# ------------- HLL linear-counting FLOOR margin (advice r9, enumerated)

def test_hll_linear_counting_floor_margin_enumerated():
    """The HLL linear-counting branch is the one libm call (ln) on an
    oracle-hash path. Its FLOOR safety is an enumerable fact, not an
    assumption: V = m − nonempty has exactly 1023 possible values, and
    for every one the published quantity 1024·ln(1024/V) + 0.5 must
    sit far (≥ 1e-7, actual worst ≈ 6.6e-6 at V = 24) from an integer
    — millions of ulps, so Spark's Math.log and DuckDB's std::log can
    never FLOOR differently."""
    from decimal import Decimal, getcontext

    getcontext().prec = 60
    m = Decimal(1024)
    worst = Decimal(1)
    for v in range(1, 1024):
        x = m * (m / Decimal(v)).ln() + Decimal("0.5")
        frac = x - x.to_integral_value(rounding="ROUND_FLOOR")
        worst = min(worst, frac, 1 - frac)
    assert worst > Decimal("1e-7"), worst


# --------------------- s29: dynamic partition pruning plan invariant

def test_s29_dpp_prunes_partitions_at_runtime(spark):
    """The partitioned fact scan must carry a dynamicpruningexpression
    partition filter (DPP injected from the broadcast hot-day dim) and
    at runtime read only S29_HOT_DAYS of the month's partition
    directories."""
    from recommedation_system_under_flink_spark.operators.kernels_sql import (
        S29_HOT_DAYS,
        s29_dpp_partitioned_join,
    )

    df = s29_dpp_partitioned_join(spark, SF_DIR)
    rows = df.collect()
    assert 0 < len(rows) <= S29_HOT_DAYS
    executed = df._jdf.queryExecution().executedPlan()
    plan = executed.toString()
    assert "dynamicpruning" in plan.lower()
    # the s29 fact scan line itself must carry the dynamic filter in
    # PartitionFilters (not merely a subquery elsewhere in the plan)
    fact_lines = [
        ln for ln in plan.splitlines()
        if "s29_clicks_by_date" in ln and "PartitionFilters" in ln
    ]
    assert fact_lines and all("dynamicpruning" in ln for ln in fact_lines)

    # runtime metric: partitions actually read == the hot-day count
    def find_scans(node, out):
        cls = node.getClass().getSimpleName()
        if cls == "FileSourceScanExec" and "s29_clicks_by_date" in node.toString():
            out.append(node)
        ch = node.children()
        for i in range(ch.size()):
            find_scans(ch.apply(i), out)
        # adaptive wrappers hide their subtrees from children()
        if cls == "AdaptiveSparkPlanExec":
            find_scans(node.executedPlan(), out)
        elif cls.endswith("QueryStageExec"):
            find_scans(node.plan(), out)
        elif cls == "ReusedExchangeExec":
            find_scans(node.child(), out)
        return out

    scans = find_scans(executed, [])
    assert scans
    m = scans[0].metrics()
    # scala Map access via py4j
    n_parts = m.apply("numPartitions").value()
    assert n_parts == min(S29_HOT_DAYS, len(rows)), n_parts


# ----------------- runtime Bloom-filter join demonstration (round 10)

def test_runtime_bloom_filter_join_demo(spark):
    """The row-level companion of s29's partition-level DPP: with the
    runtime-filter thresholds opened up (fixture relations sit far
    below the 10 GB production defaults), Spark's InjectRuntimeFilter
    builds a Bloom filter from the SELECTIVE side of a shuffle
    equi-join and pushes `might_contain` onto the big side's scan —
    rows that cannot match are dropped before the shuffle. Documented
    decline case asserted too: an Aggregate on the creation side hides
    the selective predicate from the rule (the reason the demo joins
    the filtered relation directly and dedups AFTER — at 100 TB,
    dedup-after-join is the cheap order anyway when the filter is the
    point)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1B",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
        dim = ev.filter(F.col("event_type") == "purchase").select("user_id")
        fact = ev.select("user_id", "event_id")
        j = fact.join(dim, "user_id", "left_semi")
        plan = j._jdf.queryExecution().executedPlan().toString().lower()
        assert "might_contain" in plan or "bloomfilter" in plan
        got = sorted(r["event_id"] for r in j.collect())

        # decline case: Aggregate on the creation side blocks injection
        agg_dim = dim.distinct()
        j2 = fact.join(agg_dim, "user_id", "left_semi")
        plan2 = j2._jdf.queryExecution().executedPlan().toString().lower()
        assert "might_contain" not in plan2
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    # value check with everything back at defaults
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    purchasers = (
        ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    )
    want = sorted(
        r["event_id"]
        for r in ev.select("user_id", "event_id")
        .join(purchasers, "user_id", "left_semi")
        .collect()
    )
    assert got == want and got


def test_s30_registered_query_plan_carries_bloom_filter(spark):
    """The registered `s30_bloom_join_runtime` entry (round-10 verdict
    item 6) must hand the driver a PHYSICAL plan that already carries
    the injected Bloom filter — the builder freezes QueryExecution
    under the opened thresholds, then restores the session confs, so
    (a) the cached plan shows `might_contain` on the click-side scan
    and (b) the session is left at its pre-call conf values."""
    from recommedation_system_under_flink_spark import registry
    from recommedation_system_under_flink_spark.operators.kernels_sql import (
        S30_RUNTIME_FILTER_CONFS,
    )

    def conf_snapshot():
        snap = {}
        for k in S30_RUNTIME_FILTER_CONFS:
            try:
                snap[k] = spark.conf.get(k)
            except Exception:
                snap[k] = None
        return snap

    before = conf_snapshot()
    df = registry.queries()["s30_bloom_join_runtime"](spark, SF_DIR)
    assert conf_snapshot() == before, "s30 leaked session confs"
    plan = df._jdf.queryExecution().executedPlan().toString().lower()
    assert "might_contain" in plan or "bloomfilter" in plan, plan
    # and the frozen plan still EXECUTES correctly after the restore
    # (the Bloom subquery runs at collect time, not plan time)
    got = {(r["user_id"], r["n_click_events"]) for r in df.collect()}
    assert got and all(n >= 1 for _, n in got)


# ---------------------------------------------- rank-1 exact ALS twin


def _als1_python(sf_dir):
    """Pure-Python (arbitrary-precision int) mirror of the exact
    integer rank-1 ALS recursion in plans/als.py — ground truth for
    the Spark/DuckDB twins. All operands are non-negative, so Python's
    floor `//` coincides with the engines' truncating division."""
    import duckdb

    from recommedation_system_under_flink_spark.plans.als import (
        ALS1_LAMBDA_P12,
        ALS1_PPM,
        ALS1_SWEEPS,
        _P12,
        K,
    )
    from recommedation_system_under_flink_spark.sources.tables import NEWS_MOD

    rows = duckdb.sql(
        f"""SELECT user_id, event_id % {NEWS_MOD} AS news_id,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM '{sf_dir}/events.parquet' WHERE event_type = 'click'
            GROUP BY 1, 2"""
    ).fetchall()
    r = {(u, i): int(c) for u, i, c in rows}
    items = sorted({i for _, i in r})
    users = sorted({u for u, _ in r})
    by_user = {}
    by_item = {}
    for (u, i), c in r.items():
        by_user.setdefault(u, []).append(i)
        by_item.setdefault(i, []).append(u)

    v = {i: ALS1_PPM for i in items}
    u_f = {}
    for _ in range(ALS1_SWEEPS):
        u_f = {
            uu: (sum(r[(uu, i)] * v[i] for i in by_user[uu]) * _P12)
            // (ALS1_LAMBDA_P12 + sum(v[i] * v[i] for i in by_user[uu]))
            for uu in users
        }
        v = {
            i: (sum(r[(uu, i)] * u_f[uu] for uu in by_item[i]) * _P12)
            // (ALS1_LAMBDA_P12 + sum(u_f[uu] * u_f[uu] for uu in by_item[i]))
            for i in items
        }
    out = []
    for uu in users:
        cands = [
            (-(u_f[uu] * v[i]), i) for i in items if (uu, i) not in r
        ]
        cands.sort()
        for rnk, (negs, i) in enumerate(cands[:K], start=1):
            out.append((uu, rnk, i, -negs))
    return out


def test_als1_matches_pure_python_integer_recursion(spark):
    from recommedation_system_under_flink_spark import registry
    queries = registry.queries()
    got = sorted(
        (r["user_id"], r["rnk"], r["news_id"], r["score_p12"])
        for r in queries["als_rank1_topk"](spark, SF_DIR).collect()
    )
    want = sorted(_als1_python(SF_DIR))
    assert got == want


def test_als1_rank1_degeneracy_is_shared_item_order(spark):
    """Documented rank-1 property: every positive-factor user's
    recommendation list is the global item-factor order restricted to
    that user's unseen items — the scores differ by the per-user
    scalar, the ORDER does not. Asserted for real (round-10 advice):
    restrict each user's news_id sequence to the items COMMON to all
    users' top-K lists and require every user to agree on the relative
    order of that common subset, not just per-user monotonicity."""
    from recommedation_system_under_flink_spark import registry

    queries = registry.queries()
    rows = queries["als_rank1_topk"](spark, SF_DIR).collect()
    per_user = {}
    for r in rows:
        per_user.setdefault(r["user_id"], []).append(
            (r["rnk"], r["news_id"], r["score_p12"])
        )
    for recs in per_user.values():
        recs.sort()
        scores = [s for _, _, s in recs]
        assert scores == sorted(scores, reverse=True)
        # ties broken by ascending news_id
        for (r1, n1, s1), (r2, n2, s2) in zip(recs, recs[1:]):
            if s1 == s2:
                assert n1 < n2
    # cross-user SHARED order: for EVERY pair of users, the items both
    # lists contain must appear in the same relative order (all lists
    # are restrictions of the one global item-factor order). Pairwise,
    # because the K-cut can leave the all-users intersection empty.
    orders = {
        u: [n for _, n, _ in sorted(recs)] for u, recs in per_user.items()
    }
    users = sorted(orders)
    witnessed_pairs = 0
    for i, ua in enumerate(users):
        pos_a = {n: k for k, n in enumerate(orders[ua])}
        for ub in users[i + 1:]:
            shared = [n for n in orders[ub] if n in pos_a]
            if len(shared) >= 2:
                witnessed_pairs += 1
                assert [pos_a[n] for n in shared] == sorted(
                    pos_a[n] for n in shared
                ), (
                    f"users {ua} and {ub} disagree on the relative order "
                    f"of shared items {shared} — rank-1 ALS must induce "
                    f"one global order"
                )
    assert witnessed_pairs >= 1, (
        "fixture too sparse to witness shared order — no user pair has "
        ">=2 common top-K items"
    )


# ------------------------------- KMV bottom-k intersection sketch


def test_kmv_merge_closure_and_small_set_exactness(spark):
    """Two pinned properties: (1) when the union fits inside K the
    sketch IS the set, so est_union == exact_union exactly; (2) the
    estimators are exact integer rationals — rho ≤ kk ≤ K and the
    jaccard ppm is (rho·1e6) div kk, re-derivable from the output."""
    from recommedation_system_under_flink_spark import registry
    from recommedation_system_under_flink_spark.operators.sketches import KMV_K

    rows = registry.queries()["sk_kmv_day_overlap"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert r["rho"] <= r["kk"] <= KMV_K
        assert r["est_jaccard_ppm"] == (r["rho"] * 1_000_000) // r["kk"]
        if r["exact_union"] < KMV_K:
            assert r["est_union"] == r["exact_union"]


def test_kmv_estimator_accuracy_at_sf01(spark):
    """k = 64 ⇒ ~12.5% rsd on the union and ~sqrt(J(1−J)/k) on the
    Jaccard. Measured at sf0.1 (pinned hash → deterministic): jaccard
    err max 10.1pp / mean 3.3pp; union rel-err max 25.8% / mean 12.5%.
    Bounds set ~2× above the measured maxima — a regression here means
    the estimator chain changed, not noise."""
    from recommedation_system_under_flink_spark import registry

    rows = registry.queries()["sk_kmv_day_overlap"](
        spark, "/root/testdata/sf0.1"
    ).collect()
    assert len(rows) >= 20
    jerr = [abs(r["est_jaccard_ppm"] - r["exact_jaccard_ppm"]) for r in rows]
    uerr = [
        abs(r["est_union"] - r["exact_union"]) / r["exact_union"] for r in rows
    ]
    assert max(jerr) <= 200_000, max(jerr)
    assert sum(jerr) / len(jerr) <= 80_000
    assert max(uerr) <= 0.40, max(uerr)
    assert sum(uerr) / len(uerr) <= 0.20


# ------------------------------------- Holt linear smoothing (dyadic)


def test_holt_recursion_identities_and_float_agreement(spark):
    """Re-derive the exact dyadic recursion independently from the
    observed y series and demand bit-equality; then check the integer
    filter tracks a float Holt (alpha = beta = 0.5) within accumulated
    quantization error."""
    from recommedation_system_under_flink_spark import registry
    from recommedation_system_under_flink_spark.operators.events_props import (
        _holt_idiv,
    )

    rows = sorted(
        registry.queries()["ev_holt_linear_daily"](spark, SF_DIR).collect(),
        key=lambda r: r["date"],
    )
    assert len(rows) > 2
    ys = [r["y"] for r in rows]
    lev = ys[0] * 1_000_000
    tr = (ys[1] - ys[0]) * 1_000_000
    assert rows[0]["level_ppm"] == lev and rows[0]["trend_ppm"] == tr
    assert rows[0]["fitted_ppm"] is None and rows[0]["resid_ppm"] is None
    fl, ft = float(ys[0]), float(ys[1] - ys[0])
    for i in range(1, len(rows)):
        fitted = lev + tr
        new_lev = _holt_idiv(ys[i] * 1_000_000 + fitted, 2)
        tr = _holt_idiv((new_lev - lev) + tr, 2)
        lev = new_lev
        r = rows[i]
        assert (r["level_ppm"], r["trend_ppm"], r["fitted_ppm"]) == (
            lev, tr, fitted,
        )
        assert r["resid_ppm"] == ys[i] * 1_000_000 - fitted
        # float twin
        ffit = fl + ft
        nfl = 0.5 * ys[i] + 0.5 * ffit
        ft = 0.5 * (nfl - fl) + 0.5 * ft
        fl = nfl
        assert abs(r["level_ppm"] / 1e6 - fl) < 0.01
        assert abs(r["trend_ppm"] / 1e6 - ft) < 0.01


# ------------------------------------ KMV monthly rollup (closure)


def test_kmv_rollup_closure_and_accuracy(spark):
    """The KMV merge is lossless: bottom-K over the union of the DAILY
    bottom-K sketches equals bottom-K over the month's full distinct
    hash set (every true monthly bottom-K member survives its day's
    bottom-K). Verified directly in DuckDB; then the registered
    query's estimate is checked against the exact monthly distinct."""
    import duckdb

    from recommedation_system_under_flink_spark import registry
    from recommedation_system_under_flink_spark.operators.sketches import KMV_K
    from recommedation_system_under_flink_spark.sources.tables import NEWS_MOD

    sf = "/root/testdata/sf0.1"
    base = f"""WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS date,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
      FROM '{sf}/events.parquet' WHERE event_type = 'click')"""
    merged = duckdb.sql(base + f""",
      sk AS (SELECT date, h FROM (
        SELECT date, h, ROW_NUMBER() OVER (PARTITION BY date ORDER BY h) rn
        FROM du) WHERE rn <= {KMV_K})
      SELECT DISTINCT h FROM sk ORDER BY h LIMIT {KMV_K}""").fetchall()
    direct = duckdb.sql(base + f"""
      SELECT DISTINCT h FROM du ORDER BY h LIMIT {KMV_K}""").fetchall()
    assert merged == direct  # closure: rollup loses nothing

    rows = registry.queries()["sk_kmv_monthly_rollup"](spark, sf).collect()
    assert rows
    for r in rows:
        if r["exact_users"] < KMV_K:
            assert r["est_users"] == r["exact_users"]
        else:
            rel = abs(r["est_users"] - r["exact_users"]) / r["exact_users"]
            assert rel <= 0.40, (r["month"], rel)


def test_als1_alternating_sweeps_descend_objective():
    """Block-coordinate descent property: each exact half-sweep solves
    its scalar ridge problem optimally, so the regularized objective
    J = Σ(c − u·v)² + λ(Σu² + Σv²) is non-increasing across sweeps up
    to the 1e-6 factor-grid quantization (tolerance covers the FLOOR
    perturbation). Uses the pure-Python integer mirror on sf0.001."""
    import duckdb

    from recommedation_system_under_flink_spark.plans.als import (
        ALS1_LAMBDA_P12,
        ALS1_PPM,
        ALS1_SWEEPS,
        _P12,
    )
    from recommedation_system_under_flink_spark.sources.tables import NEWS_MOD

    rows = duckdb.sql(
        f"""SELECT user_id, event_id % {NEWS_MOD} AS news_id,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM '/root/testdata/sf0.001/events.parquet'
            WHERE event_type = 'click' GROUP BY 1, 2"""
    ).fetchall()
    r = {(u, i): int(c) for u, i, c in rows}
    users = sorted({u for u, _ in r})
    items = sorted({i for _, i in r})
    by_u = {u: [i for i in items if (u, i) in r] for u in users}
    by_i = {i: [u for u in users if (u, i) in r] for i in items}
    lam = ALS1_LAMBDA_P12 / _P12

    def objective(uf, vf):
        u = {k: x / ALS1_PPM for k, x in uf.items()}
        v = {k: x / ALS1_PPM for k, x in vf.items()}
        sq = sum((c - u[uu] * v[ii]) ** 2 for (uu, ii), c in r.items())
        reg = lam * (sum(x * x for x in u.values())
                     + sum(x * x for x in v.values()))
        return sq + reg

    v = {i: ALS1_PPM for i in items}
    u = {uu: 0 for uu in users}
    objs = [objective(u, v)]
    for _ in range(ALS1_SWEEPS):
        u = {
            uu: (sum(r[(uu, i)] * v[i] for i in by_u[uu]) * _P12)
            // (ALS1_LAMBDA_P12 + sum(v[i] * v[i] for i in by_u[uu]))
            for uu in users
        }
        objs.append(objective(u, v))
        v = {
            i: (sum(r[(uu, i)] * u[uu] for uu in by_i[i]) * _P12)
            // (ALS1_LAMBDA_P12 + sum(u[uu] * u[uu] for uu in by_i[i]))
            for i in items
        }
        objs.append(objective(u, v))
    for a, b in zip(objs, objs[1:]):
        assert b <= a * (1 + 1e-3) + 1e-6, objs
    # and the loop genuinely improves on the all-ones init overall
    assert objs[-1] < objs[0]
