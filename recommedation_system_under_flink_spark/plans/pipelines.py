"""The three reference pipelines end-to-end (SURVEY §3).

Each ``main()`` in the reference is a phase chain with file-materialized
edges (§1.4); here each pipeline is ONE declarative DataFrame plan —
Catalyst sees the whole chain, so filters reach scans and intermediate
"files" disappear (the reference re-reads its own text sinks between
phases, TF_IDF.java:156).

- HotTopics (HotTopics.java:106-111): clicks → P3 trailing window → A2
  per-news SUM (date rewritten to today) → T3 top-K → recommendations.
- TF_IDF recommend (TF_IDF.java:151-234): corpus keywords (A5-A8) →
  today's clickers (A1/P2) → semi-join (J1) → scored join (J3, inverted
  index) → ranked list (T2 full sort, TF_IDF.java:206-221) →
  recommendations.
- TextRank recommend (TextRank.java:220-312): same skeleton, keywords
  from the TextRank UDFs (P1 news / A3 user) instead of TF-IDF, top-K
  truncation (T1, TextRank.java:294-296). UDF-backed → rows-only check.

Output shape is the reference's ``RecommendationModel``
(TextRank.java:289-293): ``(user_id | date, date, news array<long>)``
ranked. S5 (``env.fromCollection``, TextRank.java:359) appears as the
seed-row query.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DEFAULT_SCENE, TODAY, Scene
from ..registry import register
from ..sources import CLICKS_CTE, clicks, news, tweets, with_ctes
from ..operators.joins import (
    _EUCLID_SCENE,
    _NEWS_KW_CHAIN,
    _USER_KW_CHAIN,
    _j3_scored_sql,
    j3_scored_join,
    scored_pairs,
    scored_pairs_sql,
    today_clickers,
)
from ..operators.filters import leading_zone
from ..operators.ranking import global_top_k, ranked_list, top_k_rows

K = DEFAULT_SCENE.num_recommendations
NUM_DAYS = DEFAULT_SCENE.num_days
_WINDOW_START = TODAY - dt.timedelta(days=NUM_DAYS - 1)


# ------------------------------------------------------------- HotTopics

@register(
    "hot_topics_pipeline",
    with_ctes(
        f"""SELECT DATE '{TODAY}' AS date, news_id, clicks,
       ROW_NUMBER() OVER (ORDER BY clicks DESC, news_id ASC) AS rank
FROM (
  SELECT news_id, CAST(SUM(cnt) AS BIGINT) AS clicks
  FROM clicks
  WHERE date BETWEEN DATE '{_WINDOW_START}' AND DATE '{TODAY}'
  GROUP BY news_id
)
QUALIFY rank <= {K}""",
        CLICKS_CTE,
    ),
)
def hot_topics_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HotTopics end-to-end (HotTopics.java:67-93 + 41-46): trailing
    window → per-news SUM with date rewritten to today → top-K. The
    flagship for ``entry()``. Registered in the FLAT ranked-rows shape
    (date, news_id, clicks, rank) so the driver can hash it — the
    reference's nested one-row recommendations shape is
    :func:`hot_topics_recommendations`."""
    hot = (
        clicks(spark, sf_dir, date_from=_WINDOW_START, date_to=TODAY)
        .groupBy("news_id")
        .agg(F.sum("cnt").alias("clicks"))
        .withColumn("date", F.lit(TODAY).cast("date"))
    )
    # The "date" partition key is a constant, so the rank window is
    # GLOBAL — global_top_k pre-limits via TakeOrderedAndProject
    # (round 10: InferWindowGroupLimit does not fire for empty
    # partition specs), leaving the single-partition window on K rows
    # instead of the O(|news|) aggregate.
    ranked = global_top_k(hot, [F.desc("clicks"), F.asc("news_id")], K)
    return ranked.select("date", "news_id", "clicks", "rank")


def hot_topics_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's output shape — one ``(date, news array<long>)``
    recommendations row (HotTopics.java:41-46). NOT registered (array
    column crashes the driver's canonicalizer); the flat twin above is
    the compared form."""
    return ranked_list(hot_topics_pipeline(spark, sf_dir), "date")


# ---------------------------------------------------------------- TF_IDF

def _tfidf_pipe_oracle(scene: Scene = DEFAULT_SCENE) -> str:
    return with_ctes(
        f"""SELECT user_id, DATE '{TODAY}' AS date, news_id, score,
       ROW_NUMBER() OVER (PARTITION BY user_id
                          ORDER BY score DESC, news_id ASC) AS rank
FROM scored""",
        CLICKS_CTE,
        *_NEWS_KW_CHAIN,
        *_USER_KW_CHAIN,
        f"scored AS ({_j3_scored_sql(scene)})",
    )


@register("tfidf_pipeline", _tfidf_pipe_oracle())
def tfidf_pipeline(
    spark: SparkSession, sf_dir: str, scene: Scene = DEFAULT_SCENE
) -> DataFrame:
    """TF_IDF recommend() end-to-end for today (TF_IDF.java:151-234):
    J3 inverted-index scored join → T2 full per-user ranking.
    ``scene.similarity_algorithm`` reaches the scored join exactly like
    the reference's dispatch (TF_IDF.java:195-200); the registered
    entry is the default (cosine) scene, ``tfidf_pipeline_dot`` the
    EUCLIDEAN_DISTANCE one. Registered FLAT (user_id, date, news_id,
    score, rank); ``ranking.ranked_list`` folds it into the reference's
    nested recommendations shape."""
    scored = j3_scored_join(spark, sf_dir, scene=scene)
    ranked = top_k_rows(scored, "user_id", [F.desc("score"), F.asc("news_id")], None)
    return ranked.select(
        "user_id",
        F.lit(TODAY).cast("date").alias("date"),
        "news_id",
        "score",
        "rank",
    )


@register("tfidf_pipeline_dot", _tfidf_pipe_oracle(_EUCLID_SCENE))
def tfidf_pipeline_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF_IDF recommend() with the reference's one config knob flipped:
    ``Scene(similarity_algorithm=EUCLIDEAN_DISTANCE)`` routes F8 (the
    shared-word dot product, EuclideanDistance.java:29-43) through the
    same pipeline a cosine scene takes (TF_IDF.java:195-200) — the
    end-to-end proof that the Scene enum is live, not dead config."""
    return tfidf_pipeline(spark, sf_dir, scene=_EUCLID_SCENE)


# -------------------------------------------------------------- TextRank

def _clickers_tweets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 on the A3 input: the tweets of users who clicked today."""
    return tweets(spark, sf_dir).join(
        F.broadcast(today_clickers(spark, sf_dir)), "user_id", "left_semi"
    )


@register("textrank_pipeline")  # UDF keywords → rows-only check
def textrank_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank recommend() end-to-end for today (TextRank.java:220-312):
    P1/A3 TextRank keywords → inverted-index scored join (F5 needs only
    set sizes, so UDF keyword rows slot straight in) → T1 top-K
    truncation (TextRank.java:294-296)."""
    from ..operators.keywords import a3_textrank_from, p1_news_keywords_textrank

    # only today's clickers' tweets reach the Python A3 (Catalyst cannot
    # push the semi-join below FlatMapGroupsInPandas); the news filter
    # reaches the scan below the P1 UDF on its own
    user_kw = a3_textrank_from(_clickers_tweets(spark, sf_dir))
    news_kw = p1_news_keywords_textrank(spark, sf_dir).filter(
        leading_zone(F.col("date"), TODAY, NUM_DAYS)
    )
    scored = scored_pairs(user_kw, F.broadcast(news_kw))
    ranked = top_k_rows(scored, "user_id", [F.desc("score"), F.asc("news_id")], K)
    return ranked_list(ranked, "user_id").select(
        "user_id", F.lit(TODAY).cast("date").alias("date"), "news"
    )


# ----------------------------------------------- all-days (amortized loop)

_ALL_DAYS_ORACLE = with_ctes(
    f"""SELECT date, user_id, news_id, score,
       ROW_NUMBER() OVER (PARTITION BY date, user_id
                          ORDER BY score DESC, news_id ASC) AS rank
FROM (
  SELECT act.date, s.user_id, s.news_id, s.score
  FROM scored s
  JOIN (SELECT DISTINCT date, user_id FROM clicks
        WHERE date BETWEEN DATE '{DEFAULT_SCENE.from_date}' AND DATE '{TODAY}') act
    ON s.user_id = act.user_id
  JOIN (SELECT n.news_id, d.day
        FROM news n
        JOIN (SELECT CAST(unnest(generate_series(DATE '{DEFAULT_SCENE.from_date}',
                                       DATE '{TODAY}', INTERVAL 1 DAY)) AS DATE) AS day) d
          ON n.date BETWEEN d.day AND d.day + {NUM_DAYS - 1}) elig
    ON s.news_id = elig.news_id AND elig.day = act.date
)
QUALIFY rank <= {K}""",
    CLICKS_CTE,
    *_NEWS_KW_CHAIN,
    *_USER_KW_CHAIN,
    f"scored AS ({scored_pairs_sql('user_kw', 'news_kw')})",
)


@register("tfidf_recommend_all_days", _ALL_DAYS_ORACLE)
def tfidf_recommend_all_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's per-day driver loop (TF_IDF.java:161-232 — one
    Flink job per day, O(days) submissions) collapsed into ONE Spark
    job over the whole ``[from_date, today]`` range — BASELINE.md's
    "daily-loop amortization" target.

    Day parameterization becomes data: each news explodes into the days
    it is eligible for (its P4 leading window, a bounded ≤num_days
    multiplier — an equi-join, NOT a range join), each user's active
    days come from A1 flat rows, and one windowed ranking emits every
    (day, user) list. Scored pairs are computed ONCE (user profiles are
    corpus-static here — documented divergence: the reference rebuilds
    per-day user keyword files from trailing tweets, TextRank.java:246).
    """
    from ..operators.tfidf import a7_user_keywords, a8_news_keywords_topk

    # scored pairs, once for the whole range (F5 inverted-index J3 form)
    news_kw = a8_news_keywords_topk(spark, sf_dir)
    scored = scored_pairs(a7_user_keywords(spark, sf_dir), F.broadcast(news_kw))

    # active (day, user) pairs across the range — flat A1 rows
    active = (
        clicks(spark, sf_dir, date_from=DEFAULT_SCENE.from_date, date_to=TODAY)
        .select("date", "user_id")
        .distinct()
    )
    # each news explodes into its eligible days (P4 leading window):
    # day ∈ [news.date - (num_days-1), news.date] ∩ [from_date, today]
    day_lo = F.greatest(
        F.date_sub(F.col("date"), NUM_DAYS - 1),
        F.lit(DEFAULT_SCENE.from_date.isoformat()).cast("date"),
    )
    day_hi = F.least(F.col("date"), F.lit(TODAY.isoformat()).cast("date"))
    eligible = (
        news(spark, sf_dir)
        .select("news_id", "date")
        .filter(day_lo <= day_hi)
        .select(
            "news_id",
            F.explode(F.sequence(day_lo, day_hi, F.expr("interval 1 day"))).alias(
                "day"
            ),
        )
    )

    per_day = (
        scored.join(active, "user_id")
        .join(
            F.broadcast(eligible),
            (scored["news_id"] == eligible["news_id"])
            & (active["date"] == eligible["day"]),
        )
        .select(active["date"], scored["user_id"], scored["news_id"], "score")
    )
    ranked = top_k_rows(
        per_day, ["date", "user_id"], [F.desc("score"), F.asc("news_id")], K
    )
    # FLAT ranked rows (driver-hashable)
    return ranked.select("date", "user_id", "news_id", "score", "rank")


# ------------------------------------------------------------------- S5

@register(
    "s5_seed_row",
    f"""SELECT DATE '{TODAY}' AS date, 0 AS hits, 0 AS total,
       CAST(0.0 AS DOUBLE) AS precision""",
)
def s5_seed_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 ``env.fromCollection`` (TextRank.java:359): the in-memory seed
    row that precision accumulation starts from — ``createDataFrame``
    with an explicit schema."""
    schema = T.StructType(
        [
            T.StructField("date", T.DateType()),
            T.StructField("hits", T.IntegerType()),
            T.StructField("total", T.IntegerType()),
            T.StructField("precision", T.DoubleType()),
        ]
    )
    return spark.createDataFrame([(TODAY, 0, 0, 0.0)], schema)


# ----------------------- TextRank pipeline, distributed (oracle twin)

def _tr_pipe_dist_oracle(scene: Scene = DEFAULT_SCENE) -> str:
    """Full-pipeline DuckDB twin: BOTH distributed keyword chains
    (prefixed so they share one WITH clause) + semi-join + scored join
    under ``scene`` + ranked list — the whole TextRank recommend()
    hash-compared. The vote score is the keyword weight F8 multiplies."""
    from ..operators.keywords import _a3_kw_ctes, _p1_kw_ctes
    from ..sources import NEWS_CTE, TWEETS_CTE

    lead_end = TODAY + dt.timedelta(days=NUM_DAYS - 1)
    ctes = [
        CLICKS_CTE,
        NEWS_CTE,
        TWEETS_CTE,
        *_p1_kw_ctes("n_"),
        *_a3_kw_ctes("u_"),
        f"""user_kw AS (
  SELECT user_id, term, score AS weight FROM u_kw
  WHERE user_id IN (SELECT DISTINCT user_id FROM clicks
                    WHERE date = DATE '{TODAY}')
)""",
        f"""news_kw AS (
  SELECT k.news_id, k.term, k.score AS weight FROM n_kw k JOIN news n ON k.news_id = n.news_id
  WHERE n.date BETWEEN DATE '{TODAY}' AND DATE '{lead_end}'
)""",
        f"scored AS ({scored_pairs_sql('user_kw', 'news_kw', scene)})",
    ]
    return with_ctes(
        f"""SELECT user_id, DATE '{TODAY}' AS date, news_id, score,
       ROW_NUMBER() OVER (PARTITION BY user_id
                          ORDER BY score DESC, news_id ASC) AS rank
FROM scored
QUALIFY rank <= {K}""",
        *ctes,
    )


@register("textrank_pipeline_distributed", _tr_pipe_dist_oracle())
def textrank_pipeline_distributed(
    spark: SparkSession, sf_dir: str, scene: Scene = DEFAULT_SCENE
) -> DataFrame:
    """TextRank recommend() end-to-end with the **distributed** keyword
    twins (no Python UDF anywhere), in stage order:

    1. J1 + P4 on the INPUTS — today's clickers' tweets (tweets ⋉
       broadcast clickers) and the leading-zone news (TextRank.java:
       246-262);
    2. Catalyst A3/P1 fixed-round TextRank over just those rows
       (:func:`a3_keywords_from`, :func:`p1_keywords_from`), each chain
       ending in a checkpoint;
    3. inverted-index scored join (F5: ``inter / (n_user · n_news)``,
       or F8 under the euclidean scene) → T1 top-K.

    The restrictions sit below the vote because the vote's checkpoint
    is a barrier Catalyst cannot push a filter through, and every vote
    stage is keyed by the user or document, so voting on the eligible
    rows alone gives exactly their rows of the all-corpus vote
    (tests/test_scored_pairs.py pins this).

    The UDF pipeline (:func:`textrank_pipeline`) is reference-faithful
    (early-exit vote) and rows-only checkable; THIS twin trades the
    early exit for a pinned iteration count and in exchange the ENTIRE
    pipeline — tokenization, graphs, vote, semi-join, scoring, ranking
    — is hash-verified against one DuckDB query."""
    from ..operators.keywords import a3_keywords_from, p1_keywords_from

    # the vote score is the keyword weight F8 multiplies
    user_kw = a3_keywords_from(_clickers_tweets(spark, sf_dir)).withColumnRenamed(
        "score", "weight"
    )
    news_kw = p1_keywords_from(
        news(spark, sf_dir).filter(leading_zone(F.col("date"), TODAY, NUM_DAYS))
    ).withColumnRenamed("score", "weight")
    scored = scored_pairs(user_kw, F.broadcast(news_kw), scene)
    ranked = top_k_rows(scored, "user_id", [F.desc("score"), F.asc("news_id")], K)
    return ranked.select(
        "user_id",
        F.lit(TODAY).cast("date").alias("date"),
        "news_id",
        "score",
        "rank",
    )


@register("textrank_pipeline_distributed_dot", _tr_pipe_dist_oracle(_EUCLID_SCENE))
def textrank_pipeline_distributed_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed TextRank pipeline under the EUCLIDEAN_DISTANCE
    scene — the TextRank.java:267-274 branch end-to-end (F8 dot product
    of vote scores), routed through the same dispatch as the cosine
    form."""
    return textrank_pipeline_distributed(spark, sf_dir, scene=_EUCLID_SCENE)


# -------------------------------- hybrid rank fusion (content + CF)

#: Reciprocal-rank-fusion constant (the standard k=60).
RRF_K = 60


def _hybrid_rrf_oracle() -> str:
    """Composed oracle: the TF-IDF J3 content ranking chain AND the
    item-CF chain in one WITH clause, RRF-merged. Every CTE is reused
    verbatim from its owning oracle — the composition is checked, not
    re-derived."""
    from ..operators.cf import (
        CF_RECS,
        _NEIGHBORS_CTE,
        _POP_CTE,
        _PREFS_CTE,
        _SIMS_CTE,
    )

    ctes = [
        CLICKS_CTE,
        *_NEWS_KW_CHAIN,
        *_USER_KW_CHAIN,
        f"content_scored AS ({_j3_scored_sql()})",
        f"""content_ranked AS (
  SELECT user_id, news_id,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY score DESC, news_id ASC) AS rnk
  FROM content_scored
  QUALIFY rnk <= {K}
)""",
        _PREFS_CTE,
        _POP_CTE,
        _SIMS_CTE,
        _NEIGHBORS_CTE,
        f"""cf_ranked AS (
  SELECT user_id, news_id,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY score DESC, news_id ASC) AS rnk
  FROM (
    SELECT p.user_id, n.news_b AS news_id, ROUND(SUM(n.sim), 6) AS score
    FROM prefs p
    JOIN neighbors n ON p.news_id = n.news_a
    LEFT JOIN prefs seen ON seen.user_id = p.user_id AND seen.news_id = n.news_b
    WHERE seen.news_id IS NULL
    GROUP BY p.user_id, n.news_b
  )
  QUALIFY rnk <= {CF_RECS}
)""",
    ]
    return with_ctes(
        f"""SELECT user_id, news_id, rrf FROM (
  SELECT user_id, news_id,
         ROUND(SUM(1.0 / ({RRF_K} + rnk)), 9) AS rrf,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY SUM(1.0 / ({RRF_K} + rnk)) DESC,
                                     news_id ASC) AS out_rnk
  FROM (
    SELECT * FROM content_ranked
    UNION ALL
    SELECT * FROM cf_ranked
  )
  GROUP BY user_id, news_id
) WHERE out_rnk <= {K}""",
        *ctes,
    )


@register("hybrid_rrf_recommend", _hybrid_rrf_oracle())
def hybrid_rrf_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid recommender: **reciprocal rank fusion** of the
    content-based ranking (TF-IDF scored join, J3) and the behavioral
    ranking (item-item CF) — ``score = Σ 1/(60 + rank)`` over both
    lists. Rank fusion is scale-free (no score normalization to get
    wrong between heterogeneous models) and integer-rank-deterministic,
    so the blend is hash-exact across engines.

    Plan: both component rankings already end in per-user window
    top-Ks; fusion is a union + one more per-user aggregate+window. A
    serving layer would materialize the two model tables and fuse at
    query time — the union shape here is exactly that join-free
    fusion."""
    from pyspark.sql import Window

    from ..operators.cf import cf_user_recommendations

    content = top_k_rows(
        j3_scored_join(spark, sf_dir),
        "user_id",
        [F.desc("score"), F.asc("news_id")],
        K,
    ).select("user_id", "news_id", "rank")
    w_cf = Window.partitionBy("user_id").orderBy(F.desc("score"), F.asc("news_id"))
    cf = (
        cf_user_recommendations(spark, sf_dir)
        .withColumn("rank", F.row_number().over(w_cf))
        .select("user_id", "news_id", "rank")
    )
    fused = (
        content.unionByName(cf)
        .groupBy("user_id", "news_id")
        .agg(F.round(F.sum(1.0 / (F.lit(RRF_K) + F.col("rank"))), 9).alias("rrf"))
    )
    w_out = Window.partitionBy("user_id").orderBy(F.desc("rrf"), F.asc("news_id"))
    return (
        fused.withColumn("out_rnk", F.row_number().over(w_out))
        .filter(F.col("out_rnk") <= K)
        .select("user_id", "news_id", "rrf")
    )
