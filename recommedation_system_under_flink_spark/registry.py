"""Query registry: the driver-facing catalogue of implemented operators.

Every operator from SURVEY.md §2 that is implemented registers here as a
``(name, spark_builder, duckdb_oracle_sql)`` triple. ``__spark_entry__``
exports the registry as ``queries()`` / ``oracle_sql()``; the driver
runs both sides at sf0.01 and hash-compares. Operators whose semantics
are not SQL-expressible (UDF keyword extraction, streaming) register
with ``oracle=None`` → driver records the weaker rows-only check, and
pytest covers them with ground-truth fixtures instead.
"""

from __future__ import annotations

import functools
import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .operators import bsp

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Entry:
    name: str
    fn: QueryFn
    oracle: str | None


_REGISTRY: dict[str, Entry] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under
    ``name``. The registered (and returned) builder runs inside a
    ``bsp.query_scope()``, which releases every frame it persisted."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def scoped(*args, **kwargs) -> DataFrame:
            with bsp.query_scope():
                return fn(*args, **kwargs)

        _REGISTRY[name] = Entry(name, scoped, oracle)
        return scoped

    return deco


#: The driver hash-verifies only the FIRST 50 entries of ``queries()``
#: (insertion order) — round-2 finding: CORRECTNESS_r02's 50 rows were
#: exactly registration order, slots 1-50, leaving every pipeline
#: unverified. This list pins slots 1-50 to the queries that matter:
#: the four end-to-end pipelines, one query per SURVEY §2 operator row,
#: and one per LLM-pipeline family. Every name here MUST have a full
#: DuckDB oracle (enforced by tests/test_registry_window.py).
#: ROUND-12 ROTATION (9th tranche — certification debt to ZERO, then
#: the re-certification lap begins): rounds 2-11 cumulatively certified
#: 376/382 oracle-backed queries. Per the round-11 verdict (item 1)
#: this window (a) restores the two canaries stepped out for one round
#: (`s1_csv_roundtrip`, `j3_scored_join`), (b) certifies the final
#: seven-query residue — the five r10 stragglers (`als_rank1_topk`,
#: `sim_pca_pc1_project`, `ev_holt_linear_daily`,
#: `sim_whiten_diag_project`, `sk_kmv_monthly_rollup`),
#: `s30_bloom_join_runtime` (new in r11), and `ef_markov_attribution`
#: (r9-certified but rebuilt in r11 → re-queued) — driving cumulative
#: driver certification to 382/382, and (c) spends the remaining 37
#: slots starting the SECOND-certification lap so no query's last
#: driver certification ages past ~8 rounds: all 22 queries whose last
#: hash-green was round 2, plus 15 of the 40 round-3 stragglers —
#: exactly the §2 operator rows the verdict named (P2-P6, J1/J2/J4,
#: A2/A4-A8, T2). Next-oldest for r13: the remaining 25 r3-certified
#: (F6-F12 SQL twins, A1, T3, rel_q1/q5, storage s5-s7, …).
VERIFIED_WINDOW = (
    # regression canaries: end-to-end pipelines (SURVEY §3)
    "hot_topics_pipeline",
    "tfidf_pipeline",
    "textrank_pipeline_distributed",
    "tfidf_recommend_all_days",
    # restored canaries (stepped out for exactly one round, per plan)
    "s1_csv_roundtrip",
    "j3_scored_join",
    # --- the final never/re-queued residue (7) ---
    "als_rank1_topk",
    "sim_pca_pc1_project",
    "ev_holt_linear_daily",
    "sim_whiten_diag_project",
    "sk_kmv_monthly_rollup",
    "s30_bloom_join_runtime",
    "ef_markov_attribution",
    # --- second-certification lap, tranche 1 (37) ---
    # last hash-green in round 2 (all 22)
    "a3_windowed_distributed",
    "a9_trailing_avg_daily_clicks",
    "a10_rollup_type_date",
    "a11_pivot_daily_event_counts",
    "a12_cube_type_date",
    "a13_retention_cohorts",
    "a14_cohort_ltv",
    "dedup_chunk_ratio",
    "dedup_contamination_flag",
    "dedup_exact",
    "dedup_fuzzy_title_join",
    "dedup_incremental_exact",
    "dedup_neardup_canonical",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "ef_funnel_view_click_purchase",
    "ef_range_join_banded",
    "ef_sessionize_native",
    "j3_scored_join_naive",
    "j3_scored_join_salted",
    "j5_ranking_metrics",
    "j6_rec_coverage",
    # last hash-green in round 3: the §2 operator rows (15)
    "p2_clicks_today",
    "p3_clicks_trailing_window",
    "p4_news_leading_window",
    "p5_clicks_loop_range",
    "p6_positive_score",
    "j1_user_docs_semijoin",
    "j2_tweets_semijoin",
    "j4_precision_eval",
    "a2_hot_topics_sum",
    "a4_window_users_reduce",
    "a5_news_tfidf",
    "a6_news_weighted_terms",
    "a7_user_keywords",
    "a8_news_keywords_topk",
    "t2_user_full_rank",
)


def _ordered_names() -> list[str]:
    prio = {n: i for i, n in enumerate(VERIFIED_WINDOW)}
    reg_order = {n: i for i, n in enumerate(_REGISTRY)}
    return sorted(
        _REGISTRY, key=lambda n: (prio.get(n, len(prio)), reg_order[n])
    )


def queries() -> dict[str, QueryFn]:
    _load_all()
    return {n: _REGISTRY[n].fn for n in _ordered_names()}


def oracles() -> dict[str, str]:
    _load_all()
    return {
        n: _REGISTRY[n].oracle
        for n in _ordered_names()
        if _REGISTRY[n].oracle is not None
    }


_LOADED = False


#: Modules that register queries on import.
_QUERY_MODULES = (
    "operators.filters",
    "operators.aggregates",
    "operators.ranking",
    "operators.joins",
    "operators.tfidf",
    "operators.keywords",
    "operators.dedup",
    "operators.events_flow",
    "operators.graph",
    "operators.profiling",
    "operators.events_props",
    "operators.sampling",
    "operators.sketches",
    "operators.similarity",
    "operators.textstats",
    "operators.multimodal",
    "operators.kernels_sql",
    "operators.ml",
    "sources.pysource",
    "operators.relational",
    "operators.cf",
    "plans.pipelines",
    "plans.als",
    "plans.curation",
    "streaming.hot_topics",
)


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    for mod in _QUERY_MODULES:
        importlib.import_module(f"{__package__}.{mod}")
    _LOADED = True
