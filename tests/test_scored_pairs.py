"""J3's one scored-pair kernel (``operators.joins.scored_pairs``) against
the pure-Python F5/F8 kernels, ground truth for the UDF TextRank
pipeline, which the oracle gate checks by row count only, and the
per-key independence of the distributed keyword helpers that lets the
distributed TextRank pipeline restrict its inputs below the vote.
"""

from __future__ import annotations

import datetime as dt
import math

from conftest import SF_DIR

from recommedation_system_under_flink_spark.config import (
    DEFAULT_SCENE,
    TODAY,
    Scene,
    SimilarityAlgorithm,
)
from recommedation_system_under_flink_spark.functions.kernels import (
    calculate_x,
    dot_product,
)
from recommedation_system_under_flink_spark.operators.joins import scored_pairs

EUCLID = Scene(similarity_algorithm=SimilarityAlgorithm.EUCLIDEAN_DISTANCE)

#: Hand-built keyword maps. u2·n3 shares term "a" with a zero news
#: weight: F5 keeps the pair (it ignores weights), F8 drops it (P6
#: ``score > 0``). u3 shares no term with any news.
USERS = {
    1: {"a": 0.5, "b": 0.25, "c": 1.0},
    2: {"a": 0.1},
    3: {"z": 0.3},
}
NEWS = {
    10: {"a": 0.4, "b": 0.2},
    11: {"c": 0.3, "d": 0.7, "e": 0.1},
    12: {"a": 0.0, "d": 0.9},
}


def _frame(spark, key, maps):
    rows = [(i, t, w) for i, m in maps.items() for t, w in m.items()]
    return spark.createDataFrame(rows, f"{key} long, term string, weight double")


def _scored(spark, scene):
    df = scored_pairs(
        _frame(spark, "user_id", USERS), _frame(spark, "news_id", NEWS), scene
    )
    return {(r["user_id"], r["news_id"]): r["score"] for r in df.collect()}


def _ppm_dot(k1, k2):
    """F8 with each shared-term product quantized to micro-units and
    summed exactly — the published form of the Spark kernel."""
    ppm = sum(math.floor(k1[w] * k2[w] * 1e6 + 0.5) for w in set(k1) & set(k2))
    return ppm / 1e6


def test_scored_pairs_cosine_equals_calculate_x(spark):
    got = _scored(spark, DEFAULT_SCENE)
    want = {
        (u, n): calculate_x(uk, nk)
        for u, uk in USERS.items()
        for n, nk in NEWS.items()
        if set(uk) & set(nk)
    }
    assert got == want
    assert got[(2, 12)] == 0.5  # zero weight still counts under F5


def test_scored_pairs_euclid_equals_quantized_dot_product(spark):
    got = _scored(spark, EUCLID)
    want = {
        (u, n): _ppm_dot(uk, nk)
        for u, uk in USERS.items()
        for n, nk in NEWS.items()
        if _ppm_dot(uk, nk) > 0
    }
    assert got == want
    assert (2, 12) not in got  # P6: the zero-weight dot product is dropped
    for (u, n), v in got.items():
        shared = len(set(USERS[u]) & set(NEWS[n]))
        assert abs(v - dot_product(USERS[u], NEWS[n])) <= 0.5e-6 * shared


def test_textrank_pipeline_matches_pure_python_topk(spark):
    """Every user's ``news`` list equals the top-K of pure-Python F5
    over the UDF keyword sets: today's clickers on the user side, the
    P4 leading zone on the news side, ties broken by ``news_id``."""
    from recommedation_system_under_flink_spark.operators.joins import (
        today_clickers,
    )
    from recommedation_system_under_flink_spark.operators.keywords import (
        a3_user_keywords_textrank,
        p1_news_keywords_textrank,
    )
    from recommedation_system_under_flink_spark.plans.pipelines import (
        textrank_pipeline,
    )

    clickers = {r["user_id"] for r in today_clickers(spark, SF_DIR).collect()}
    u_maps: dict[int, dict[str, float]] = {}
    for r in a3_user_keywords_textrank(spark, SF_DIR).collect():
        if r["user_id"] in clickers:
            u_maps.setdefault(r["user_id"], {})[r["term"]] = r["weight"]
    lead_end = TODAY + dt.timedelta(days=DEFAULT_SCENE.num_days - 1)
    n_maps: dict[int, dict[str, float]] = {}
    for r in p1_news_keywords_textrank(spark, SF_DIR).collect():
        if TODAY <= r["date"] <= lead_end:
            n_maps.setdefault(r["news_id"], {})[r["term"]] = r["weight"]

    k = DEFAULT_SCENE.num_recommendations
    want = {}
    for u, uk in u_maps.items():
        scored = [(calculate_x(uk, nk), n) for n, nk in n_maps.items()]
        top = sorted(((-s, n) for s, n in scored if s > 0))[:k]
        if top:
            want[u] = [n for _, n in top]

    got = {
        r["user_id"]: list(r["news"])
        for r in textrank_pipeline(spark, SF_DIR).collect()
    }
    assert got == want
    assert got


def test_keyword_helpers_vote_per_key(spark):
    """Voting on a subset of documents or users gives exactly those
    keys' rows of the all-corpus vote: P1 over the leading-zone news
    and A3 over today's clickers' tweets, the inputs
    ``textrank_pipeline_distributed`` feeds them."""
    from pyspark.sql import functions as F

    from recommedation_system_under_flink_spark.operators.bsp import query_scope
    from recommedation_system_under_flink_spark.operators.filters import (
        leading_zone,
    )
    from recommedation_system_under_flink_spark.operators.keywords import (
        a3_keywords_from,
        a3_user_keywords_distributed,
        p1_keywords_from,
        p1_news_keywords_distributed,
    )
    from recommedation_system_under_flink_spark.plans.pipelines import (
        _clickers_tweets,
    )
    from recommedation_system_under_flink_spark.sources import news

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    eligible = news(spark, SF_DIR).filter(
        leading_zone(F.col("date"), TODAY, DEFAULT_SCENE.num_days)
    )
    with query_scope():
        p1_sub = rows(p1_keywords_from(eligible))
        a3_sub = rows(a3_keywords_from(_clickers_tweets(spark, SF_DIR)))
    p1_all = rows(p1_news_keywords_distributed(spark, SF_DIR))
    a3_all = rows(a3_user_keywords_distributed(spark, SF_DIR))

    news_ids = {r["news_id"] for r in eligible.select("news_id").collect()}
    users = {r["user_id"] for r in _clickers_tweets(spark, SF_DIR).collect()}
    # non-empty proper subsets: the restriction must drop keys
    assert p1_sub and len(p1_sub) < len(p1_all)
    assert a3_sub and len(a3_sub) < len(a3_all)
    assert p1_sub == [r for r in p1_all if r[0] in news_ids]
    assert a3_sub == [r for r in a3_all if r[0] in users]
