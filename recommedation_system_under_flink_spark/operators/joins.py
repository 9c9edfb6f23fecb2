"""J1-J4: joins (SURVEY §2.3) — the reference's Cartesian crosses as real joins.

Every reference join is a manual nested-loop theta-join:
``cross`` + a filtering flatMap over collected id lists
(TextRank.java:103-110,246-279; TF_IDF.java:176-205). Spark-first
replacements:

- J1/J2 → **broadcast left-semi joins** on flat (date, user_id) rows —
  no collected lists, no O(|L|·|R|) cross (TextRank.java:246-254,
  TF_IDF.java:176-184; TextRank.java:103-110).
- J3 → :func:`scored_pairs`, the one scored all-pairs kernel (SURVEY
  §4.2): an **inverted-index equi-join** on ``term`` between flat
  ``(user_id, term, weight)`` and ``(news_id, term, weight)`` rows that
  dispatches on ``Scene.similarity_algorithm`` exactly once, like the
  reference's flatMap (TF_IDF.java:195-200, TextRank.java:267-274).
  F5's ``|k1∩k2| / (|k1|·|k2|)`` becomes match counts over per-side
  keyword counts, F8's dot product a quantized SUM of weight products.
  The cross product is algebraically eliminated; only pairs sharing
  ≥1 term are ever materialized, which also subsumes the P6
  ``score > 0`` filter (TextRank.java:275-278). Its callers are
  :func:`j3_scored_join` (here) and the TF-IDF / TextRank recommend()
  pipelines (plans/pipelines.py). :func:`j3_scored_join_naive`
  (``crossJoin(broadcast(news))`` + the F5 Catalyst kernel, O(users·
  news)) and :func:`j3_scored_join_salted` (``(term, salt)`` join
  key) stay separate twins hash-checked against the same oracle.
- J4 → precision eval (absent ``PrecisionStats``, TextRank.java:354-368):
  explode recommendations, inner-join today's clicks on
  (user, news), aggregate (hits, total, precision).

Scale notes (100 TB): the J3 equi-join is THE scale path — shuffle
keys are terms (bounded vocabulary × K keywords/doc), and the
per-(user, news) result is sparse. The naive twin materializes
|users|·|news| rows per day and exists only as the cross-validation
twin and bench contrast. The broadcast hints on the day-scoped sides
(today's clickers, one day's news keywords) keep the big fact table
shuffle-free.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import DEFAULT_SCENE, TODAY, Scene, SimilarityAlgorithm
from ..functions.kernels import calculate_x_sql
from ..registry import register
from .quantize import ppm_floor_sql, ppm_sum, ppm_value
from ..sources import CLICKS_CTE, NEWS_CTE, TWEETS_CTE, clicks, news, tweets, with_ctes
from .filters import leading_zone, trailing_zone
from .tfidf import (
    _NEWS_KW_CTE,
    _NEWS_TERMS_CTE,
    _NEWS_TFIDF_CTE,
    _TWEET_KW_CTE,
    _TWEET_TERMS_CTE,
    _TWEET_TFIDF_CTE,
    _USER_KW_CTE,
    a7_user_keywords,
    a8_news_keywords_topk,
)

#: The reference's one non-default Scene a user can actually configure
#: (SimilarityAlgorithm.java:6-9): same pinned hyperparameters, F8
#: kernel.
_EUCLID_SCENE = Scene(similarity_algorithm=SimilarityAlgorithm.EUCLIDEAN_DISTANCE)

NUM_DAYS = DEFAULT_SCENE.num_days
_WINDOW_START = TODAY - dt.timedelta(days=NUM_DAYS - 1)
_LEAD_END = TODAY + dt.timedelta(days=NUM_DAYS - 1)

#: All CTEs the tweet→user keyword chain needs, in dependency order.
_USER_KW_CHAIN = (
    TWEETS_CTE,
    _TWEET_TERMS_CTE,
    _TWEET_TFIDF_CTE,
    _TWEET_KW_CTE,
    _USER_KW_CTE,
)
_NEWS_KW_CHAIN = (NEWS_CTE, _NEWS_TERMS_CTE, _NEWS_TFIDF_CTE, _NEWS_KW_CTE)


def today_clickers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users with a click today (A1 slice, the J1 probe side)."""
    return (
        clicks(spark, sf_dir, date_from=TODAY, date_to=TODAY)
        .select("user_id")
        .distinct()
    )


# ------------------------------------------------------------------- J1

@register(
    "j1_user_docs_semijoin",
    with_ctes(
        f"""SELECT user_id, term, weight, rank FROM user_kw
WHERE user_id IN (
  SELECT DISTINCT user_id FROM clicks WHERE date = DATE '{TODAY}'
)""",
        CLICKS_CTE,
        *_USER_KW_CHAIN,
    ),
)
def j1_user_docs_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 (TextRank.java:246-254, TF_IDF.java:176-184): keep user
    keyword docs whose user clicked today. The reference crosses every
    doc with a collected id list and probes ``contains``; here it is a
    broadcast left-semi hash join on flat rows — the big side streams,
    the day's clickers broadcast."""
    return a7_user_keywords(spark, sf_dir).join(
        F.broadcast(today_clickers(spark, sf_dir)), "user_id", "left_semi"
    )


# ------------------------------------------------------------------- J2

@register(
    "j2_tweets_semijoin",
    with_ctes(
        f"""SELECT tweet_id, user_id, date, content FROM tweets
WHERE date BETWEEN DATE '{_WINDOW_START}' AND DATE '{TODAY}'
  AND user_id IN (
    SELECT DISTINCT user_id FROM clicks
    WHERE date BETWEEN DATE '{_WINDOW_START}' AND DATE '{TODAY}'
  )""",
        CLICKS_CTE,
        TWEETS_CTE,
    ),
)
def j2_tweets_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 (TextRank.java:103-110): window-filtered tweets of users who
    clicked in the window. Filter pushes to the scan; the user set
    broadcasts."""
    window_users = (
        clicks(spark, sf_dir, date_from=_WINDOW_START, date_to=TODAY)
        .select("user_id")
        .distinct()
    )
    return (
        tweets(spark, sf_dir)
        .filter(trailing_zone(F.col("date"), TODAY, NUM_DAYS))
        .join(F.broadcast(window_users), "user_id", "left_semi")
    )


# ------------------------------------------------------------------- J3

def _news_window_keywords(
    spark: SparkSession, sf_dir: str, kw: DataFrame
) -> DataFrame:
    """Keyword rows ``kw`` (keyed by ``news_id``) restricted to the news
    eligible for today — the P4 leading zone (TextRank.java:258-262),
    as a broadcast left-semi join on the news ids."""
    eligible = (
        news(spark, sf_dir)
        .filter(leading_zone(F.col("date"), TODAY, NUM_DAYS))
        .select("news_id")
    )
    return kw.join(F.broadcast(eligible), "news_id", "left_semi")


def scored_pairs(
    user_kw: DataFrame, news_kw: DataFrame, scene: Scene = DEFAULT_SCENE
) -> DataFrame:
    """J3's one scored-pair kernel: ``(user_id, news_id, score)`` for
    every pair sharing a keyword, from ``(user_id, term, weight)`` and
    ``(news_id, term, weight)`` rows. The only place that branches on
    ``scene.similarity_algorithm`` (enum SimilarityAlgorithm.java:6-9):

    - COSINE_SIMILARITY → F5 ``calculateX`` = ``|k1∩k2| / (|k1|·|k2|)``
      (CosineSimilarity.java:88-127) needs only the intersection size
      and per-side keyword counts, so the all-pairs cross
      (TextRank.java:258-279) collapses into an equi-join on ``term``.
      The counts ride along as window columns on the SAME pass that
      produced the keywords (the window shares the top-K partitioning,
      so no extra exchange) — NOT as separate aggregate subtrees, which
      would re-run the whole keyword chain (Catalyst does no cross-join
      common-subplan elimination). A caller's semi-join keeps or drops
      whole users/news, so each survivor's count is unchanged.
    - EUCLIDEAN_DISTANCE → F8 ``compute`` (a shared-word dot product
      despite the class name, EuclideanDistance.java:29-43):
      ``Σ_{w∈k1∩k2} v1(w)·v2(w)`` is a sum over the term intersection,
      so the same equi-join materializes exactly the contributing
      (user, term, news) triples and a SUM replaces F5's count/divide —
      no count windows, one exchange lighter. Each product is
      FLOOR-quantized to micro-units and summed exactly
      (:func:`~.quantize.ppm_sum`; a raw double SUM is partition-
      order-dependent), then one division publishes the 6-dp score.
      P6 ``score > 0`` (TF_IDF.java:201) is kept explicitly: a TF-IDF
      weight is 0 when its term appears in every doc (idf = ln 1).

    Broadcast hints are the caller's: a ``F.broadcast(news_kw)`` hint
    survives the window and projection above it here."""
    if scene.similarity_algorithm is SimilarityAlgorithm.EUCLIDEAN_DISTANCE:
        return (
            user_kw.select("user_id", "term", F.col("weight").alias("u_weight"))
            .join(
                news_kw.select("news_id", "term", F.col("weight").alias("n_weight")),
                "term",
            )
            .groupBy("user_id", "news_id")
            .agg(
                (
                    ppm_sum(F.col("u_weight") * F.col("n_weight")).cast("double")
                    / F.lit(1000000.0)
                ).alias("score")
            )
            .filter(F.col("score") > 0)
        )
    n_user = F.count("*").over(Window.partitionBy("user_id")).alias("n_user")
    n_news = F.count("*").over(Window.partitionBy("news_id")).alias("n_news")
    return (
        user_kw.select("user_id", "term", n_user)
        .join(news_kw.select("news_id", "term", n_news), "term")
        .groupBy("user_id", "news_id")
        .agg(
            F.count("*").alias("inter"),
            F.max("n_user").alias("n_user"),
            F.max("n_news").alias("n_news"),
        )
        .select(
            "user_id",
            "news_id",
            (F.col("inter").cast("double") / (F.col("n_user") * F.col("n_news"))).alias(
                "score"
            ),
        )
    )


def scored_pairs_sql(user_kw: str, news_kw: str, scene: Scene = DEFAULT_SCENE) -> str:
    """DuckDB twin of :func:`scored_pairs`: a ``(user_id, news_id,
    score)`` SELECT over the relations ``user_kw`` ``(user_id, term,
    weight)`` and ``news_kw`` ``(news_id, term, weight)`` (CTE names or
    parenthesized subqueries). The only SQL branch on
    ``scene.similarity_algorithm``. F8 mirrors :func:`~.quantize.ppm_sum`:
    exact BIGINT micro-unit accumulation and one division, so both
    engines agree on the score bit-for-bit (the 6-dp vote scores make
    exact ties common, and an ulp would flip the news_id tiebreak), and
    keeps P6 ``score > 0`` (TF_IDF.java:201)."""
    if scene.similarity_algorithm is SimilarityAlgorithm.EUCLIDEAN_DISTANCE:
        return f"""SELECT user_id, news_id, score FROM (
  SELECT u.user_id, n.news_id,
         CAST(SUM({ppm_floor_sql("u.weight * n.weight")}) AS DOUBLE) / 1000000.0 AS score
  FROM {user_kw} u JOIN {news_kw} n ON u.term = n.term
  GROUP BY u.user_id, n.news_id
) WHERE score > 0"""
    return f"""SELECT i.user_id, i.news_id,
       CAST(i.inter AS DOUBLE) / (su.n * sn.n) AS score
FROM (
  SELECT u.user_id, n.news_id, COUNT(*) AS inter
  FROM {user_kw} u JOIN {news_kw} n ON u.term = n.term
  GROUP BY u.user_id, n.news_id
) i
JOIN (SELECT user_id, COUNT(*) AS n FROM {user_kw} GROUP BY user_id) su
  ON i.user_id = su.user_id
JOIN (SELECT news_id, COUNT(*) AS n FROM {news_kw} GROUP BY news_id) sn
  ON i.news_id = sn.news_id"""


def _j3_scored_sql(scene: Scene = DEFAULT_SCENE) -> str:
    """J3's SELECT body: today's clickers' TF-IDF keywords against the
    keywords of the news eligible today, scored under ``scene``. Needs
    :data:`CLICKS_CTE` and the keyword chains; plans/pipelines.py embeds
    it as a ``scored AS (...)`` CTE."""
    return scored_pairs_sql(
        f"""(SELECT * FROM user_kw WHERE user_id IN
    (SELECT DISTINCT user_id FROM clicks WHERE date = DATE '{TODAY}'))""",
        f"""(SELECT k.* FROM news_kw k JOIN news ns ON k.news_id = ns.news_id
    WHERE ns.date BETWEEN DATE '{TODAY}' AND DATE '{_LEAD_END}')""",
        scene,
    )


def _j3_oracle(scene: Scene = DEFAULT_SCENE) -> str:
    return with_ctes(
        _j3_scored_sql(scene), CLICKS_CTE, *_NEWS_KW_CHAIN, *_USER_KW_CHAIN
    )


_J3_ORACLE = _j3_oracle()


@register("j3_scored_join", _J3_ORACLE)
def j3_scored_join(
    spark: SparkSession, sf_dir: str, scene: Scene = DEFAULT_SCENE
) -> DataFrame:
    """J3, inverted-index form (SURVEY §4.2) — the 100 TB path: today's
    clickers' TF-IDF keywords against the keywords of the news eligible
    today, scored by :func:`scored_pairs` under ``scene``. The
    registered entry is the default (cosine) scene;
    ``j3_scored_join_dot`` registers the EUCLIDEAN_DISTANCE scene."""
    user_kw = a7_user_keywords(spark, sf_dir).join(
        F.broadcast(today_clickers(spark, sf_dir)), "user_id", "left_semi"
    )
    news_kw = _news_window_keywords(
        spark, sf_dir, a8_news_keywords_topk(spark, sf_dir)
    )
    # No broadcast hint on the term join: a forced broadcast serializes
    # the whole news-keyword build through the driver before the join
    # can start; AQE converts to broadcast at runtime when the built
    # side is actually small (measured marginally faster shuffled here,
    # and at 100 TB the news side of a wide window may not fit anyway).
    return scored_pairs(user_kw, news_kw, scene)


@register("j3_scored_join_dot", _j3_oracle(_EUCLID_SCENE))
def j3_scored_join_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 with the reference's one config knob flipped: a
    ``Scene(similarity_algorithm=EUCLIDEAN_DISTANCE)`` routed through
    :func:`j3_scored_join` to the same :func:`scored_pairs` dispatch a
    user would hit (TF_IDF.java:195-200)."""
    return j3_scored_join(spark, sf_dir, scene=_EUCLID_SCENE)


@register("j3_scored_join_naive", _J3_ORACLE)
def j3_scored_join_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3, naive twin: ``crossJoin(broadcast(news maps))`` + the F5
    kernel as a Catalyst expression + P6 filter — structurally the
    reference's plan (TextRank.java:258-279) with the small side
    broadcast. Cross-validates the inverted-index form (same oracle);
    benchmarked against it in bench.py."""
    user_maps = (
        j1_user_docs_semijoin(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("term", "weight"))).alias("u_kw")
        )
    )
    news_maps = (
        _news_window_keywords(spark, sf_dir, a8_news_keywords_topk(spark, sf_dir))
        .groupBy("news_id")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("term", "weight"))).alias("n_kw")
        )
    )
    return (
        user_maps.crossJoin(F.broadcast(news_maps))
        .select(
            "user_id",
            "news_id",
            calculate_x_sql("u_kw", "n_kw").alias("score"),
        )
        .filter(F.col("score") > 0)
    )


#: Salt fan-out for the skew-mitigated J3 form.
J3_SALT_R = 8


@register("j3_scored_join_salted", _J3_ORACLE)
def j3_scored_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3, inverted-index form with **hot-key salting** — the variant
    for when BOTH sides of the term join outgrow broadcast (100 TB user
    bases): the shuffle equi-join then skews on hot terms (stop-list
    survivors shared by millions of users). Salt: each user-keyword row
    gets ``salt = user_id % J3_SALT_R`` (deterministic — stable under
    task retry, unlike ``rand()``); the news side replicates each
    posting ``J3_SALT_R`` times, one per salt value; the join key
    becomes (term, salt), spreading a hot term over ``J3_SALT_R``
    reducers for an R× replication of the *small* side only. Each
    (user, term, news) match still occurs exactly once, so the
    downstream count/divide is unchanged — hash-verified by the same
    oracle as the unsalted form.

    When to reach for it: AQE's OptimizeSkewedJoin already splits hot
    partitions (even single hot keys) for sort-merge joins at runtime,
    so on batch Spark the unsalted form + AQE is usually enough; the
    explicit salt is the portable fallback for paths AQE doesn't cover
    (shuffled-hash joins, stream-stream joins, engines without runtime
    re-planning) and makes the fan-out deterministic rather than
    runtime-dependent."""
    user_kw = (
        a7_user_keywords(spark, sf_dir)
        .join(F.broadcast(today_clickers(spark, sf_dir)), "user_id", "left_semi")
        .withColumn("n_user", F.count("*").over(Window.partitionBy("user_id")))
        .withColumn("salt", (F.col("user_id") % J3_SALT_R).cast("int"))
    )
    news_kw = (
        _news_window_keywords(spark, sf_dir, a8_news_keywords_topk(spark, sf_dir))
        .withColumn("n_news", F.count("*").over(Window.partitionBy("news_id")))
        .select(
            "news_id",
            "term",
            "n_news",
            F.explode(F.sequence(F.lit(0), F.lit(J3_SALT_R - 1))).alias("salt"),
        )
    )
    return (
        user_kw.select("user_id", "term", "n_user", "salt")
        .join(news_kw, ["term", "salt"])
        .groupBy("user_id", "news_id")
        .agg(
            F.count("*").alias("inter"),
            F.max("n_user").alias("n_user"),
            F.max("n_news").alias("n_news"),
        )
        .select(
            "user_id",
            "news_id",
            (F.col("inter").cast("double") / (F.col("n_user") * F.col("n_news"))).alias(
                "score"
            ),
        )
    )


# ------------------------------------------------------------------- J4

_J4_ORACLE = with_ctes(
    f"""SELECT DATE '{TODAY}' AS date,
       CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS hits,
       CAST(COUNT(*) AS BIGINT) AS total,
       CAST(COALESCE(SUM(hit), 0) AS DOUBLE) / COUNT(*) AS precision
FROM (
  SELECT r.user_id, r.news_id,
         CASE WHEN c.news_id IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM (
    SELECT user_id, news_id,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY score DESC, news_id ASC) AS rank
    FROM (SELECT user_id, news_id, CAST(SUM(cnt) AS DOUBLE) AS score
          FROM clicks GROUP BY user_id, news_id)
    QUALIFY rank <= {DEFAULT_SCENE.num_recommendations}
  ) r
  JOIN (SELECT DISTINCT user_id FROM clicks WHERE date = DATE '{TODAY}') a
    ON r.user_id = a.user_id
  LEFT JOIN (SELECT DISTINCT user_id, news_id FROM clicks
             WHERE date = DATE '{TODAY}') c
    ON r.user_id = c.user_id AND r.news_id = c.news_id
)""",
    CLICKS_CTE,
)


@register("j4_precision_eval", _J4_ORACLE)
def j4_precision_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 (``PrecisionStats``, TextRank.java:354-368): score the day's
    recommendations against the day's actual clicks.

    Pinned semantics (impl absent from the snapshot): for each user
    active today, take their top-K recommended news (deterministic
    click-affinity ranking, operators/ranking.py); a hit is a
    recommended news the user actually clicked today; emit one
    ``(date, hits, total, precision)`` row (StatItem shape,
    TextRank.java:357-359)."""
    from .ranking import K, _scores, top_k_rows

    recs = top_k_rows(
        _scores(spark, sf_dir), "user_id", [F.desc("score"), F.asc("news_id")], K
    ).select("user_id", "news_id")
    active = today_clickers(spark, sf_dir)
    clicked = (
        clicks(spark, sf_dir, date_from=TODAY, date_to=TODAY)
        .select("user_id", "news_id")
        .distinct()
    )
    scored = (
        recs.join(F.broadcast(active), "user_id")
        .join(
            F.broadcast(clicked.withColumn("hit", F.lit(1))),
            ["user_id", "news_id"],
            "left",
        )
        .withColumn("hit", F.coalesce(F.col("hit"), F.lit(0)))
    )
    return scored.agg(
        F.lit(TODAY).cast("date").alias("date"),
        F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("hits"),
        F.count("*").cast("long").alias("total"),
        (
            F.coalesce(F.sum("hit"), F.lit(0)).cast("double") / F.count("*")
        ).alias("precision"),
    )


# ------------------------------------------------ J5 (ranking metrics)

_J5_ORACLE = with_ctes(
    f"""SELECT DATE '{TODAY}' AS date,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       ROUND(AVG(p_at_k), 6) AS mean_precision,
       ROUND(AVG(recall), 6) AS mean_recall,
       ROUND(AVG(ndcg), 6) AS mean_ndcg
FROM (
  SELECT user_id,
         SUM(hit) / COUNT(*) AS p_at_k,
         SUM(hit) / ANY_VALUE(n_truth) AS recall,
         SUM(hit / log2(rank + 1))
           / SUM(CASE WHEN rank <= n_truth
                      THEN 1 / log2(rank + 1) ELSE 0 END) AS ndcg
  FROM (
    SELECT r.user_id, r.rank, t.n_truth,
           CASE WHEN c.news_id IS NOT NULL THEN 1.0 ELSE 0.0 END AS hit
    FROM (
      SELECT user_id, news_id, rank FROM (
        SELECT user_id, news_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY score DESC, news_id ASC) AS rank
        FROM (SELECT user_id, news_id, CAST(SUM(cnt) AS DOUBLE) AS score
              FROM clicks GROUP BY user_id, news_id)
      ) WHERE rank <= {DEFAULT_SCENE.num_recommendations}
    ) r
    JOIN (SELECT user_id, COUNT(DISTINCT news_id) AS n_truth FROM clicks
          WHERE date = DATE '{TODAY}' GROUP BY user_id) t
      ON r.user_id = t.user_id
    LEFT JOIN (SELECT DISTINCT user_id, news_id FROM clicks
               WHERE date = DATE '{TODAY}') c
      ON r.user_id = c.user_id AND r.news_id = c.news_id
  )
  GROUP BY user_id
)""",
    CLICKS_CTE,
)


@register("j5_ranking_metrics", _J5_ORACLE)
def j5_ranking_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality metrics beyond the reference's raw precision
    (J4): corpus-mean **precision@K, recall@K, NDCG@K** of the same
    top-K recommendations against today's actual clicks. NDCG uses
    binary gains with the standard 1/log2(rank+1) discount and the
    ideal DCG of min(K, |truth|) hits; per-user ratios are exact
    rationals of small counts except the log discounts, whose
    cross-engine drift is ~1 ulp — the corpus means are rounded to 6
    decimals on both sides.

    Plan: identical skeleton to J4 (ranked recs ⋈ truth, both
    broadcast-sized per day) plus one per-user aggregate — no new
    shuffle shape; at 100 TB the metric job is a rounding error next
    to the recommender it scores."""
    from .ranking import K, _scores, top_k_rows

    ranked = top_k_rows(
        _scores(spark, sf_dir), "user_id", [F.desc("score"), F.asc("news_id")], K
    ).select("user_id", "news_id", "rank")
    truth = (
        clicks(spark, sf_dir, date_from=TODAY, date_to=TODAY)
        .select("user_id", "news_id")
        .distinct()
    )
    n_truth = truth.groupBy("user_id").agg(
        F.countDistinct("news_id").alias("n_truth")
    )
    per_user = (
        ranked.join(F.broadcast(n_truth), "user_id")
        .join(
            F.broadcast(truth.withColumn("hit", F.lit(1.0))),
            ["user_id", "news_id"],
            "left",
        )
        .withColumn("hit", F.coalesce(F.col("hit"), F.lit(0.0)))
        # per-row discount terms (n_truth is a per-user constant column
        # here, so the ideal-DCG indicator is row-local)
        .withColumn("dcg_term", F.col("hit") / F.log2(F.col("rank") + 1))
        .withColumn(
            "idcg_term",
            F.when(
                F.col("rank") <= F.col("n_truth"),
                F.lit(1.0) / F.log2(F.col("rank") + 1),
            ).otherwise(F.lit(0.0)),
        )
        .groupBy("user_id")
        .agg(
            (F.sum("hit") / F.count("*")).alias("p_at_k"),
            (F.sum("hit") / F.first("n_truth")).alias("recall"),
            (F.sum("dcg_term") / F.sum("idcg_term")).alias("ndcg"),
        )
    )
    return per_user.agg(
        F.lit(TODAY).cast("date").alias("date"),
        F.count("*").alias("n_users"),
        F.round(F.avg("p_at_k"), 6).alias("mean_precision"),
        F.round(F.avg("recall"), 6).alias("mean_recall"),
        F.round(F.avg("ndcg"), 6).alias("mean_ndcg"),
    )


# --------------------------------------------- recommendation coverage

_J6_ORACLE = with_ctes(
    f"""SELECT CAST(n_recommended AS BIGINT) AS n_recommended,
       CAST(catalog AS BIGINT) AS catalog_size,
       ROUND(CAST(n_recommended AS DOUBLE) / catalog, 6) AS coverage,
       ROUND(top_share, 6) AS top10_share
FROM (
  SELECT (SELECT COUNT(DISTINCT news_id) FROM recs) AS n_recommended,
         (SELECT COUNT(DISTINCT news_id) FROM clicks) AS catalog,
         (SELECT SUM(n) FROM (
            SELECT COUNT(*) AS n FROM recs GROUP BY news_id
            ORDER BY n DESC, news_id ASC LIMIT 10))
           / CAST((SELECT COUNT(*) FROM recs) AS DOUBLE) AS top_share
)""",
    CLICKS_CTE,
    f"""recs AS (
  SELECT user_id, news_id FROM (
    SELECT user_id, news_id,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY score DESC, news_id ASC) AS rank
    FROM (SELECT user_id, news_id, CAST(SUM(cnt) AS DOUBLE) AS score
          FROM clicks GROUP BY user_id, news_id)
  ) WHERE rank <= {DEFAULT_SCENE.num_recommendations}
)""",
)


@register("j6_rec_coverage", _J6_ORACLE)
def j6_rec_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommendation **coverage & concentration** diagnostics — the
    system-health metrics next to per-user accuracy (J4/J5): what
    fraction of the clicked catalog ever gets recommended, and what
    share of all recommendation slots the 10 most-recommended items
    absorb (popularity-collapse detector). One row; every input is a
    count ratio, so the metrics are exact.

    Scale: three aggregates over the recommendation table (itself
    top-K-bounded) and one over the catalog — diagnostics cost nothing
    next to the recommender."""
    from .ranking import K, _scores, top_k_rows

    recs = top_k_rows(
        _scores(spark, sf_dir), "user_id", [F.desc("score"), F.asc("news_id")], K
    ).select("user_id", "news_id")
    # Three tiny single-row aggregates cross-joined — fully declarative
    # (no driver-side collect or Python round: Python's banker's
    # rounding diverges from SQL ROUND's half-up on exact .5 ties), and
    # the one-row output shape matches the oracle's scalar subqueries
    # even on empty input.
    stats = recs.agg(
        F.count_distinct("news_id").alias("n_recommended"),
        F.count("*").alias("total_slots"),
    )
    catalog = clicks(spark, sf_dir).agg(
        F.count_distinct("news_id").alias("catalog_size")
    )
    top10 = (
        recs.groupBy("news_id")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "rnk",
            F.row_number().over(Window.orderBy(F.desc("n"), F.asc("news_id"))),
        )
        .filter(F.col("rnk") <= 10)
        .agg(F.sum("n").alias("top10_slots"))
    )
    return (
        stats.crossJoin(catalog)
        .crossJoin(top10)
        .select(
            "n_recommended",
            "catalog_size",
            F.round(
                F.col("n_recommended").cast("double") / F.col("catalog_size"), 6
            ).alias("coverage"),
            F.round(
                F.col("top10_slots").cast("double") / F.col("total_slots"), 6
            ).alias("top10_share"),
        )
    )


# ------------------------------------- extractor agreement (TF-IDF vs TextRank)

def _extractor_agreement_oracle() -> str:
    # joins imports before keywords in the registry load order, so pull
    # in the module that registers P1 before reading its oracle (tfidf,
    # which registers A8, is already a module-level import above).
    from . import keywords  # noqa: F401
    from ..registry import _REGISTRY

    tr = _REGISTRY["p1_news_keywords_distributed"].oracle
    tf = _REGISTRY["a8_news_keywords_topk"].oracle
    return f"""WITH tr AS (
{tr}
), tf AS (
{tf}
), trc AS (
  SELECT news_id, CAST(COUNT(*) AS BIGINT) AS n_textrank FROM tr GROUP BY news_id
), tfc AS (
  SELECT news_id, CAST(COUNT(*) AS BIGINT) AS n_tfidf FROM tf GROUP BY news_id
), common AS (
  SELECT a.news_id, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM tr a JOIN tf b ON a.news_id = b.news_id AND a.term = b.term
  GROUP BY a.news_id
)
SELECT COALESCE(trc.news_id, tfc.news_id) AS news_id,
       CAST(COALESCE(trc.n_textrank, 0) AS BIGINT) AS n_textrank,
       CAST(COALESCE(tfc.n_tfidf, 0) AS BIGINT) AS n_tfidf,
       CAST(COALESCE(c.n_common, 0) AS BIGINT) AS n_common,
       CAST(CAST(FLOOR((CAST(COALESCE(c.n_common, 0) AS DOUBLE) / NULLIF(COALESCE(trc.n_textrank, 0) + COALESCE(tfc.n_tfidf, 0) - COALESCE(c.n_common, 0), 0)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS jaccard
FROM trc
FULL OUTER JOIN tfc ON trc.news_id = tfc.news_id
LEFT JOIN common c ON c.news_id = COALESCE(trc.news_id, tfc.news_id)"""


@register("j7_extractor_agreement", _extractor_agreement_oracle())
def j7_extractor_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Keyword-extractor agreement**: per document, the Jaccard
    overlap between the TextRank keyword set (P1, the reference's
    TextRank.java pipeline re-expressed distributed) and the TF-IDF
    top-K set (A8, TF_IDF.java:206-221) — the reference ships BOTH
    extractors but never says when they disagree; this relation is
    that answer. Low-agreement docs are where extractor choice changes
    the downstream recommendations (both feed J3 scoring), so this is
    the triage list before swapping one for the other. Both component
    oracles are embedded verbatim (the ``dedup_method_agreement``
    pattern), so the audit tracks the registered operators exactly.

    Plan: two already-verified keyword relations (each O(docs·K)),
    per-doc counts, one (news_id, term) equi-join for the
    intersection, a day-window-bounded doc-spine outer join. Cost is
    the component pipelines; the agreement layer is O(docs·K) with no
    new corpus-sized shuffle."""
    from .keywords import p1_news_keywords_distributed
    from .tfidf import a8_news_keywords_topk

    tr = p1_news_keywords_distributed(spark, sf_dir).select("news_id", "term")
    tf = a8_news_keywords_topk(spark, sf_dir).select("news_id", "term")
    trc = tr.groupBy("news_id").agg(
        F.count("*").cast("long").alias("n_textrank")
    )
    tfc = tf.groupBy("news_id").agg(F.count("*").cast("long").alias("n_tfidf"))
    common = (
        tr.join(tf, ["news_id", "term"])
        .groupBy("news_id")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    n = lambda col: F.coalesce(F.col(col), F.lit(0)).cast("long")  # noqa: E731
    a, b = trc.alias("a"), tfc.alias("b")
    joined = (
        a.join(b, F.col("a.news_id") == F.col("b.news_id"), "full_outer")
        .select(
            F.coalesce(F.col("a.news_id"), F.col("b.news_id")).alias("news_id"),
            n("a.n_textrank").alias("n_textrank"),
            n("b.n_tfidf").alias("n_tfidf"),
        )
        .join(common, "news_id", "left")
    )
    denom = (
        F.col("n_textrank") + F.col("n_tfidf") - n("n_common")
    )
    return joined.select(
        "news_id",
        "n_textrank",
        "n_tfidf",
        n("n_common").alias("n_common"),
        ppm_value(
            n("n_common").cast("double") / F.nullif(denom, F.lit(0))
        ).alias("jaccard"),
    )
