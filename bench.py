"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
``{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
"failed": {...}, "warmup": [...], "codegen_compiles": {...}}``

``value`` is the total wall-clock over the headline set; per-query
seconds are in ``queries``, and ``codegen_compiles`` counts the
classes Spark's code generator compiled during each query's timed
action (:func:`codegen_compiles`), a counter CPU steal cannot move.
``warmup`` names the untimed warm-up steps run before the first timed
query (:func:`warm_session`): a query's time is comparable across runs
only when both ran the same steps (``python_datasource`` moved s21's
DataSource spin-up out of its time). A query that raises or leaves a
cached frame in the session is listed in ``failed`` (and the exit
status is 1). Includes the J3 naive-vs-inverted-index contrast BASELINE.md's
derived targets call for.

Usage: ``python bench.py [sf_dir]`` (default $SPARK_GRAFT_SF_DIR or
/root/testdata/sf0.1).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


#: The headline set: every pipeline, the J3 pair (scale contrast), the
#: shuffle-heavy relational ops, and one of each LLM-op family.
HEADLINE = (
    "hot_topics_pipeline",
    "tfidf_pipeline",
    "tfidf_recommend_all_days",
    "textrank_pipeline",
    "j3_scored_join",
    "j3_scored_join_naive",
    "a1_daily_distinct_clickers",
    "a3_user_keywords_windowed",
    "a5_news_tfidf",
    "t1_user_topk",
    "j4_precision_eval",
    "ev_props_rollup",
    "dedup_minhash_lsh",
    "sim_bruteforce_topk",
    "sim_ivf_topk_pinned",
    "sim_neardup_components",
    "ts_quality_score",
    "ef_asof_purchase_click",
    "ef_sessionize",
    "ef_range_join_banded",
    "graph_pagerank_clicks",
    "ts_chunk_documents",
    "dedup_incremental_exact",
    "llm_curation_pipeline",
    "llm_curation_fused",
    "rel_q1_pricing_summary",
    "rel_q5_local_supplier_volume",
    "graph_bfs_hops",
    "dedup_neardup_canonical",
    "p1_news_keywords_distributed",
    "textrank_pipeline_distributed",
    "cf_user_recommendations",
    "graph_ppr_recommend",
    # round-3 additions (totals before/after this line are not
    # comparable across rounds; per-query deltas are)
    "ts_bigram_lm_perplexity",
    "sim_pq_topk_pinned",
    "sim_mrl_prefix_rerank",
    "graph_hits_clicks",
    "graph_bfs_recursive",
    "llm_curation_funnel_report",
    "rel_q13_customer_distribution",
    "llm_pretrain_prep_pipeline",
    "sim_ivfpq_topk_pinned",
    "ev_value_psi",
    "rel_q9_product_profit",
    "rel_q21_waiting_suppliers",
    "sim_semdedup",
    "samp_dsir_weights",
    "sim_mmr_rerank",
    "ts_bpe_learn_merges",
    "ts_bm25_search",
    "ef_attribution_position_based",
    "s21_python_datasource",
    # round-4 additions (VERDICT r3 item 4): the expensive composed
    # ops, so regressions in the heavy tail are visible round-over-
    # round, + the re-registered scalable RFM
    "sim_dbscan",
    "sim_kcenter_coreset",
    "ef_kaplan_meier",
    "ev_user_rfm_scalable",
    # round-5 additions: the new heavy composed ops (Markov matrix
    # powers, winnowing, RAKE, the verified Lloyd fit, KN scoring)
    "ef_markov_attribution",
    "dedup_winnowing",
    "ts_rake_keywords",
    "sim_kmeans_lloyd",
    "ts_kneser_ney_logprob",
    # round-5 late additions: the exact-substring-dedup pair (detect +
    # scrub share the anchor kernel) and the prefix-filtered exact
    # Jaccard join (the LSH contrast case)
    "dedup_duplicated_spans",
    "dedup_span_scrub",
    "dedup_prefix_filter_join",
    "dedup_incremental_lsh",
    # round-6 additions: the ML-training family (iterative aggregate
    # passes), the interval-overlap band join, the next-item eval, the
    # closed-form harmonic fit, rolling exact distinct, and the
    # data-skipping layout audit
    "ml_logreg_gd",
    "ml_lr_sweep",
    "ml_nb_langid",
    "ef_session_overlap_join",
    "cf_next_item_hitrate",
    "ev_harmonic_regression",
    "ev_rolling_distinct_users",
    "s27_skipping_stats_report",
    # round-6 late additions: the iterative/alternating trainers and
    # the new evaluation + warehouse reports
    "ml_als_two_sweeps",
    "ml_boosted_stumps",
    "ml_roc_auc",
    "prof_table_fingerprint",
    "rel_basket_pairs",
    "ev_cohort_retention",
    # round-7 additions: the fused dedup→quality→mix curation variant
    # and the two mm hashable twins (Arrow decode kernel + byte stats)
    "llm_curation_mix_fused",
    "mm_decode_features_hashable",
    "mm_binary_stats_hashable",
    # round-7 late additions: decontamination (n-gram fan-out join),
    # streaming dedup (4 micro-batch merges), the closed-form ridge,
    # the PAVA minimax twin, permutation importance, the dataset card
    "ts_decontamination",
    "stream_dedup_exact",
    "ml_ridge_regression",
    "ml_isotonic_calibration_hashable",
    "ml_permutation_importance",
    "llm_dataset_card",
    # round-8 additions: content-defined-chunking dedup (rolling-hash
    # boundary scan + chunk-hash frequency join) and the K-round GBDT
    # outer loop (4 scan+split+residual passes)
    "dedup_cdc_chunks",
    "ml_gbdt_k_rounds",
    # round-8 late addition: image perceptual-hash dedup (pandas kernel
    # + band LSH + hamming verify)
    "mm_phash_dedup",
    # round-8 late addition: graph-ANN refinement (all-nodes LSH kNN
    # graph + one neighbor-of-neighbor round + recall audit)
    "sim_nndescent_round",
    # round-8 session additions: CV'd ridge (two-scan sufficient-stat
    # grid), line-level boilerplate scrub (frequency join + ordered
    # reassembly), multi-probe LSH (fatter probe broadcast, 4x fewer
    # tables), scene cuts (Arrow kernel + LAG), DP release (tiny)
    "ml_cv_ridge_path",
    "dedup_line_level",
    "sim_multiprobe_lsh_topk",
    "mm_scene_cuts",
    "prof_dp_release",
    # round-8 session addition: novelty audit over the item-CF
    # recommender (recommender + popularity broadcast + user agg)
    "cf_novelty_report",
    # round-9 additions: the LSH-candidate approximate DBSCAN (bucket
    # equi-join candidates + shared density chain — the 100 TB path
    # for the one O(N²)-compute family member; signature projection is
    # its O(N) map-side cost) and the portable pinned-register HLL
    # (register MAX-aggregate, now oracle-hashed)
    "sim_dbscan_lsh",
    "sk_daily_clickers_hll",
    # round-9 late addition: bucketed write + zero-Exchange co-located
    # join (pays the write-side shuffle, measures the read-side join)
    "s28_bucketed_join_colocated",
    # round-10 additions: the EUCLIDEAN_DISTANCE-scene pipeline (F8
    # dot product through the same inverted-index skeleton, one
    # exchange lighter), the oracle-hashed pinned-bin quantile sketch
    # (register-bounded), and the runtime dynamic-partition-pruning
    # join (write + DPP read)
    "tfidf_pipeline_dot",
    "sk_value_quantiles",
    "s29_dpp_partitioned_join",
    # round-10 session additions: the exact-integer iterative twins
    # (4 alternating ridge half-sweeps over the ratings relation; the
    # dim²-bounded covariance + driver squaring + map projection) and
    # the KMV bottom-k intersection sketch (window top-K per day +
    # K-row pair merges + the corpus-exact audit columns)
    "als_rank1_topk",
    "sim_pca_pc1_project",
    "sk_kmv_day_overlap",
    # round-10 session addition: the recursive-CTE-oracled dyadic Holt
    # filter (daily aggregate + calendar-bounded driver recursion)
    "ev_holt_linear_daily",
    # round-10 session addition: zero-driver-state per-dim z-scores
    # (moment aggregate + broadcast join back, scan-speed projection)
    "sim_whiten_diag_project",
    # round-10 session addition: sketch-store re-aggregation for the
    # bottom-k family (merge stored daily sketches, never rescan)
    "sk_kmv_monthly_rollup",
    # round-11 addition: the row-level runtime Bloom-filter join (the
    # partition-level s29's companion — shuffle-input pruning)
    "s30_bloom_join_runtime",
)


#: Queries whose builder freezes the physical plan under temporarily
#: opened session confs (QueryExecution phases cached inside the
#: builder, confs restored before return). `Dataset.count()` builds a
#: NEW QueryExecution (an Agg over the logical plan) planned under the
#: restored confs — it would time a plain broadcast join, not the
#: frozen runtime-Bloom shuffle-prune plan (round-11 advice). For
#: these, time the dataset's OWN cached execution via
#: `queryExecution().toRdd().count()` — a JVM-side action (no
#: driver-side row transfer) that reuses the frozen plan.
FROZEN_PLAN_QUERIES = {"s30_bloom_join_runtime"}


def main() -> int:
    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from recommedation_system_under_flink_spark.operators import bsp
    from recommedation_system_under_flink_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark(app_name="bench")
    qs = entrymod.queries()

    warmup = warm_session(spark, sf_dir)

    timings: dict[str, float] = {}
    compiles: dict[str, int] = {}
    failed: dict[str, str] = {}
    for name in HEADLINE:
        fn = qs.get(name)
        if fn is None:
            continue
        t0 = time.time()
        err = n_compiled = None
        try:
            df = fn(spark, sf_dir)
            c0 = codegen_compiles(spark)
            run_action(name, df)
            n_compiled = codegen_compiles(spark) - c0
        except Exception as e:  # noqa: BLE001
            err = f"{type(e).__name__}: {str(e)[:300]}"
        wall = round(time.time() - t0, 3)
        if bsp.leaked_cache(spark):
            err = (f"{err}; " if err else "") + "left a cached frame in the session"
        if err:
            failed[name] = err
        else:
            timings[name] = wall
            compiles[name] = n_compiled

    out = {
        "metric": "headline_queries_total_wall_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "failed": failed,
        "warmup": warmup,
        "codegen_compiles": compiles,
    }
    print(json.dumps(out))
    return 1 if failed else 0


def warm_session(spark, sf_dir: str) -> list[str]:
    """Warm-cluster methodology: first-touch costs (JIT of codegen
    stages, parquet footer reads, Arrow Python-worker pool spin-up)
    are session-scoped, not per-query — pay them once up front so
    per-query timings measure the plan, exactly as a long-running
    cluster would behave. Every harness that times queries calls this
    before its first timed action. Returns the names of the steps run,
    in order."""
    from pyspark.sql import functions as F

    steps = []
    for t in ("events", "documents", "embeddings", "lineitem", "orders"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            spark.read.parquet(p).count()
            steps.append(f"parquet:{t}")
    warm = spark.range(100_000).withColumn("g", F.col("id") % 7)
    warm.groupBy("g").count().count()  # shuffle + hash-agg codegen
    steps.append("shuffle_agg")
    from pyspark.sql import Window

    warm.withColumn(
        "r", F.row_number().over(Window.partitionBy("g").orderBy("id"))
    ).count()  # window codegen
    steps.append("window")
    from pyspark.sql.functions import pandas_udf

    # no annotations: postponed-evaluation strings (future import above)
    # break pandas_udf signature inference
    def _noop_impl(s):
        return s

    _noop = pandas_udf(_noop_impl, "long")

    warm.select(_noop("id")).count()  # Arrow + Python worker pool
    steps.append("pandas_udf")

    # Python DataSource machinery (r13): the first scan through a
    # registered pyspark.sql.datasource pays ~7 s of session-scoped
    # plan-serialization / Python-planner spin-up that the pandas_udf
    # warm-up above does not cover (measured: s21 first-touch 8.3 s vs
    # ~1.0 s warm in the same session). Warm it with an 8-row read —
    # infrastructure only: the 8-row scan computes none of s21's
    # 100k-row aggregate and nothing is cached or persisted. r12's s21
    # number (7.0 s) includes this registration cost; r13's measures
    # the read (documented in OPTIMIZATION_r13.md).
    from recommedation_system_under_flink_spark.sources.pysource import clickgen

    clickgen(spark, rows=8).count()
    steps.append("python_datasource")
    return steps


def run_action(name: str, df) -> None:
    """The timed action for query ``name``'s built frame ``df``."""
    if name in FROZEN_PLAN_QUERIES:
        # reuse the builder-frozen physical plan (see FROZEN_PLAN_QUERIES)
        df._jdf.queryExecution().toRdd().count()
    else:
        # count() executes the full plan without driver-side row transfer
        df.count()


def codegen_compiles(spark) -> int:
    """Classes compiled so far by Spark's code generator in this JVM
    (``CodegenMetrics``; a generated-code cache hit compiles nothing)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


if __name__ == "__main__":
    raise SystemExit(main())
