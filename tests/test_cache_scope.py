"""Query-scoped cache lifecycle (operators/bsp.py): every registered
builder runs in a ``query_scope``, which releases every frame it
persisted on every way out, and no path-keyed memo outlives a query."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from recommedation_system_under_flink_spark import registry
from recommedation_system_under_flink_spark.operators import bsp

from conftest import SF_DIR

#: Builders whose returned lazy plan read a persisted frame at the
#: caller's action, so they now end in ``checkpoint_result``.
LAZY_READERS = (
    "t5_policy_replay_eval",
    "prof_l_diversity_t_closeness",
    "samp_curriculum_order",
    "ev_user_rfm_scalable",
    "s24_malformed_csv_ingest",
    "ml_boosted_stumps",
)
#: The queries of perfbench's ``daily_recs`` workload.
DAILY_RECS = (
    "hot_topics_pipeline",
    "tfidf_pipeline",
    "textrank_pipeline_distributed",
    "stream_hot_topics_daily",
)


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("name", LAZY_READERS + DAILY_RECS)
def test_cache_empty_after_action(name, spark):
    spark.catalog.clearCache()
    registry.queries()[name](spark, SF_DIR).collect()
    assert _cache_empty(spark), name


def test_raising_builder_releases_its_cache(spark):
    spark.catalog.clearCache()
    seen = []

    @registry.register("_test_raises_after_persist")
    def boom(spark, sf_dir):
        bsp.persist(spark.range(10))
        seen.append(_cache_empty(spark))
        raise RuntimeError("boom")

    try:
        with pytest.raises(RuntimeError, match="boom"):
            boom(spark, SF_DIR)
    finally:
        registry._REGISTRY.pop("_test_raises_after_persist")
    assert seen == [False]  # the persist was live inside the scope
    assert _cache_empty(spark)


def test_persist_outside_scope_raises(spark):
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="query_scope"):
        bsp.persist(spark.range(3))
    assert _cache_empty(spark)


def test_nested_scope_releases_only_its_own_frames(spark):
    outer_df, inner_df = spark.range(5), spark.range(7)
    with bsp.query_scope():
        bsp.persist(outer_df)
        with bsp.query_scope():
            bsp.persist(inner_df)
        assert not inner_df.storageLevel.useMemory
        assert outer_df.storageLevel.useMemory
    assert not outer_df.storageLevel.useMemory


@pytest.mark.parametrize("name", ["p1_news_keywords_distributed", "ts_bpe_learn_merges"])
def test_rewritten_path_matches_fresh_path(name, spark, tmp_path):
    """A dataset rewritten at the same path must not get the old
    model back: the rerun equals a run on a never-seen path."""
    q = registry.queries()[name]
    docs = pq.read_table(os.path.join(SF_DIR, "documents.parquet"))
    rewritten = docs.slice(0, docs.num_rows // 2)
    same, fresh = tmp_path / "same", tmp_path / "fresh"
    same.mkdir()
    fresh.mkdir()
    pq.write_table(docs, same / "documents.parquet")
    before = sorted(q(spark, str(same)).collect())
    pq.write_table(rewritten, same / "documents.parquet")
    pq.write_table(rewritten, fresh / "documents.parquet")
    after = sorted(q(spark, str(same)).collect())
    assert after != before  # the rewrite changes the answer
    assert after == sorted(q(spark, str(fresh)).collect())
