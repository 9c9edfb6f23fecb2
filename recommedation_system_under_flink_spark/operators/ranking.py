"""T1-T3: grouped sort / top-K (SURVEY §2.5).

The reference implements every ranking as
``groupBy(..).sortGroup(.., DESC).reduceGroup(take first K)``
(TextRank.java:280-299, TF_IDF.java:206-221, HotTopics.java:41-46) —
a full per-group sort in user code, ties broken by Flink iteration
order (nondeterministic). The engine pins the total order
``ORDER BY score DESC, news_id ASC`` (SURVEY §2.5 note) so results are
oracle-hashable, and plans all three as window functions:
``row_number() OVER (PARTITION BY key ORDER BY ...)`` — one shuffle on
the partition key, sort within partitions, no collected lists until the
final output shape requires them.

Scale notes (100 TB): top-K via ``row_number() <= K`` lets Spark use
``WindowGroupLimit`` (rank-limit pushdown): each map task keeps only K
rows per key before the shuffle, so shuffled volume is O(K·|keys|), not
O(|rows|). Verify in explain: a ``WindowGroupLimit`` node below the
shuffle. Skewed keys (one user with millions of scored pairs) are
exactly what this prunes.

The scored input for T1/T2 is a deterministic click-affinity relation
(user, news, score=Σcnt) so the rankings are standalone-testable; the
pipelines (plans/pipelines.py) feed them J3 output instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import DEFAULT_SCENE
from . import bsp
from ..registry import register
from .quantize import ppm_value
from ..sources import CLICKS_CTE, clicks, with_ctes
from ..sources.tables import NEWS_MOD

K = DEFAULT_SCENE.num_recommendations

#: Deterministic scored (user, news) relation used as ranking input.
_SCORES_CTE = """scores AS (
  SELECT user_id, news_id, CAST(SUM(cnt) AS DOUBLE) AS score
  FROM clicks GROUP BY user_id, news_id
)"""


def _scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        clicks(spark, sf_dir)
        .groupBy("user_id", "news_id")
        .agg(F.sum("cnt").cast("double").alias("score"))
    )


def top_k_rows(df: DataFrame, key: str, order: list, k: int | None) -> DataFrame:
    """Shared T1/T2/T3 core: rank rows within ``key`` groups by the
    pinned total order; keep the top ``k`` (None = keep all, T2)."""
    w = Window.partitionBy(key).orderBy(*order)
    ranked = df.withColumn("rank", F.row_number().over(w))
    return ranked if k is None else ranked.filter(F.col("rank") <= k)


def global_top_k(df: DataFrame, order: list, k: int) -> DataFrame:
    """GLOBAL top-K with a distributed pre-limit (round-10 executed-plan
    finding): Spark's ``InferWindowGroupLimit`` rank-pushdown fires
    only for windows WITH a partition spec — a bare global
    ``row_number() <= K`` filter moves the ENTIRE relation to one
    partition first (verified on Spark 4.1). ``orderBy().limit(k)``
    instead plans as ``TakeOrderedAndProject`` — each partition keeps
    its own top-K and the driver merges K·P rows — and the rank window
    then runs on the K survivors only, so the single-partition window
    everyone warns about sits on an O(K) relation. Requires ``order``
    to be a total order (every call site tiebreaks by id), so the
    pre-limit is value-identical to filtering the ranked window."""
    top = df.orderBy(*order).limit(k)
    return top.withColumn("rank", F.row_number().over(Window.orderBy(*order)))


def ranked_list(df: DataFrame, key: str) -> DataFrame:
    """Collapse ranked rows into the reference's output shape —
    ``(key, news array<long>)`` ordered by rank (TextRank.java:289-293).
    ``sort_array`` over (rank, news_id) structs pins the list order
    regardless of collect_list's arrival order."""
    return (
        df.groupBy(key)
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("rank", "news_id"))),
                lambda s: s["news_id"],
            ).alias("news")
        )
    )


@register(
    "t1_user_topk",
    with_ctes(
        f"""SELECT user_id, news_id, score,
       ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY score DESC, news_id ASC) AS rank
FROM scores
QUALIFY rank <= {K}""",
        CLICKS_CTE,
        _SCORES_CTE,
    ),
)
def t1_user_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 (TextRank.java:280-299): per-user top-K, truncated at
    K=scene.num_recommendations. Registered in the FLAT ranked-rows
    shape (user_id, news_id, score, rank) — the driver's canonicalizer
    cannot hash the reference's nested list shape (round-2 err);
    :func:`ranked_list` folds these rows into it."""
    return top_k_rows(
        _scores(spark, sf_dir), "user_id", [F.desc("score"), F.asc("news_id")], K
    )


@register(
    "t2_user_full_rank",
    with_ctes(
        """SELECT user_id, news_id, score,
       ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY score DESC, news_id ASC) AS rank
FROM scores""",
        CLICKS_CTE,
        _SCORES_CTE,
    ),
)
def t2_user_full_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 (TF_IDF.java:206-221): full per-user ranking, no truncation."""
    return top_k_rows(
        _scores(spark, sf_dir), "user_id", [F.desc("score"), F.asc("news_id")], None
    )


_DAILY_CTE = """daily AS (
  SELECT date, news_id, CAST(SUM(cnt) AS BIGINT) AS clicks
  FROM clicks GROUP BY date, news_id
)"""


@register(
    "t3_daily_topk_by_count",
    with_ctes(
        f"""SELECT date, news_id, clicks,
       ROW_NUMBER() OVER (PARTITION BY date ORDER BY clicks DESC, news_id ASC) AS rank
FROM daily
QUALIFY rank <= {K}""",
        CLICKS_CTE,
        _DAILY_CTE,
    ),
)
def t3_daily_topk_by_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 (HotTopics.java:41-46): per-day top-K hottest news by click
    count — the HotTopics pipeline's ranking stage."""
    daily = (
        clicks(spark, sf_dir)
        .groupBy("date", "news_id")
        .agg(F.sum("cnt").alias("clicks"))
    )
    return top_k_rows(daily, "date", [F.desc("clicks"), F.asc("news_id")], K)


@register(
    "t3_sql_surface_demo",
    with_ctes(
        f"""SELECT date, news_id, clicks,
       ROW_NUMBER() OVER (PARTITION BY date ORDER BY clicks DESC, news_id ASC) AS rank
FROM daily
QUALIFY rank <= {K}""",
        CLICKS_CTE,
        _DAILY_CTE,
    ),
)
def t3_sql_surface_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 through the **raw-SQL surface**: the same per-day top-K as
    :func:`t3_daily_topk_by_count`, expressed as ONE ``spark.sql``
    string over a registered view — certifying the migration UX where
    a user writes ANSI SQL against the engine's tables instead of the
    DataFrame API (same oracle as the DataFrame form, the j3-twin
    cross-validation pattern). Catalyst compiles both surfaces to the
    same plan (WindowGroupLimit + pushed scan), which the shared hash
    proves at the value level."""
    clicks(spark, sf_dir).createOrReplaceTempView("clicks_v")
    return spark.sql(
        f"""WITH daily AS (
  SELECT date, news_id, CAST(SUM(cnt) AS BIGINT) AS clicks
  FROM clicks_v GROUP BY date, news_id
)
SELECT date, news_id, clicks, rank FROM (
  SELECT daily.*, ROW_NUMBER() OVER (
    PARTITION BY date ORDER BY clicks DESC, news_id ASC) AS rank
  FROM daily
) WHERE rank <= {K}"""
    )


#: RBO persistence parameter (weight of deeper ranks) and truncation
#: depth (the recommendation list length).
RBO_P = 0.9


@register(
    "t4_rbo_recommender_agreement",
    with_ctes(
        f"""SELECT a.date,
       ROUND((1 - {RBO_P}) * SUM(POWER({RBO_P}, d.d - 1) * COALESCE(ov.o, 0) / d.d), 6)
         AS rbo
FROM (SELECT DISTINCT date FROM daily) a
CROSS JOIN (SELECT unnest(generate_series(1, {K})) AS d) d
LEFT JOIN (
  SELECT ca.date, ca.d, CAST(COUNT(*) AS BIGINT) AS o
  FROM (
    SELECT date, news_id, dd.d
    FROM (SELECT date, news_id,
                 ROW_NUMBER() OVER (PARTITION BY date
                   ORDER BY clicks DESC, news_id ASC) AS rnk
          FROM daily) ra
    JOIN (SELECT unnest(generate_series(1, {K})) AS d) dd ON ra.rnk <= dd.d
  ) ca
  JOIN (
    SELECT date, news_id, dd.d
    FROM (SELECT date, news_id,
                 ROW_NUMBER() OVER (PARTITION BY date
                   ORDER BY val DESC, news_id ASC) AS rnk
          FROM vdaily) rb
    JOIN (SELECT unnest(generate_series(1, {K})) AS d) dd ON rb.rnk <= dd.d
  ) cb ON ca.date = cb.date AND ca.d = cb.d AND ca.news_id = cb.news_id
  GROUP BY ca.date, ca.d
) ov ON ov.date = a.date AND ov.d = d.d
GROUP BY a.date""",
        CLICKS_CTE,
        _DAILY_CTE,
        f"""vdaily AS (
  SELECT CAST(ts AS DATE) AS date, event_id % {NEWS_MOD} AS news_id,
         ROUND(SUM(value), 6) AS val
  FROM events WHERE event_type = 'click'
  GROUP BY 1, 2
)""",
    ),
)
def t4_rbo_recommender_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Rank-biased overlap** between two recommenders' daily top-K
    lists — count-ranked (HotTopics) vs value-ranked (revenue-weighted)
    — per day: ``RBO@K = (1-p)·Σ_{{d≤K}} p^{{d-1}}·|A₁:d ∩ B₁:d|/d``
    (truncated, no extrapolation), persistence ``RBO_P``. The standard
    top-weighted list-agreement metric: 1.0 = identical rankings, and
    disagreement at rank 1 costs far more than at rank K — the right
    diagnostic for "would switching rankers change what users actually
    see?". SUM(value) ranks are quantized at 6 with id tiebreaks so
    both engines shortlist identical prefix sets.

    Plan: two window rankings over the same pre-aggregated daily
    relation, a K-fanout prefix explode (≤ K rows per (day, item)),
    one (date, depth, item) equi-join, and a 10-term weighted sum per
    day. Everything is keyed by date — fully distributed, no global
    ordering anywhere."""
    from ..sources import events_raw
    from ..sources.tables import NEWS_MOD, ts_date

    daily = (
        clicks(spark, sf_dir)
        .groupBy("date", "news_id")
        .agg(F.sum("cnt").cast("long").alias("clicks"))
    )
    ev = events_raw(spark, sf_dir)
    vdaily = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(
            ts_date("ts").alias("date"),
            (F.col("event_id") % NEWS_MOD).alias("news_id"),
        )
        .agg(F.round(F.sum("value"), 6).alias("val"))
    )
    depths = spark.range(1, K + 1).select(F.col("id").cast("int").alias("d"))

    def prefixes(ranked: DataFrame) -> DataFrame:
        return ranked.join(
            F.broadcast(depths), ranked.rnk <= depths.d
        ).select("date", "news_id", "d")

    wa = Window.partitionBy("date").orderBy(F.desc("clicks"), F.asc("news_id"))
    wb = Window.partitionBy("date").orderBy(F.desc("val"), F.asc("news_id"))
    pa = prefixes(daily.select("date", "news_id", F.row_number().over(wa).alias("rnk")))
    pb = prefixes(vdaily.select("date", "news_id", F.row_number().over(wb).alias("rnk")))
    ov = (
        pa.join(pb, ["date", "d", "news_id"])
        .groupBy("date", "d")
        .agg(F.count("*").cast("long").alias("o"))
    )
    spine = (
        daily.select("date").distinct().crossJoin(F.broadcast(depths))
    )
    return (
        spine.join(ov, ["date", "d"], "left")
        .groupBy("date")
        .agg(
            F.round(
                F.lit(1 - RBO_P)
                * F.sum(
                    F.pow(F.lit(RBO_P), F.col("d") - 1)
                    * F.coalesce(F.col("o"), F.lit(0))
                    / F.col("d")
                ),
                6,
            ).alias("rbo")
        )
    )


# --------------------------------------------- offline policy replay

@register(
    "t5_policy_replay_eval",
    with_ctes(
        """SELECT d.date,
       p.policy_item,
       CAST(SUM(d.clicks) AS BIGINT) AS n_logged,
       CAST(SUM(CASE WHEN d.news_id = p.policy_item
                     THEN d.clicks ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(CAST(FLOOR((CAST(SUM(CASE WHEN d.news_id = p.policy_item THEN d.clicks ELSE 0 END) AS DOUBLE) / SUM(d.clicks)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS replay_ctr
FROM daily d
JOIN (
  SELECT date + INTERVAL 1 DAY AS serve_date, news_id AS policy_item
  FROM (
    SELECT date, news_id,
           ROW_NUMBER() OVER (
             PARTITION BY date ORDER BY clicks DESC, news_id ASC
           ) AS rn
    FROM daily
  ) WHERE rn = 1
) p ON d.date = p.serve_date
GROUP BY d.date, p.policy_item""",
        CLICKS_CTE,
        _DAILY_CTE,
    ),
)
def t5_policy_replay_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Offline policy replay evaluation** (Li et al. 2011, the
    unbiased bandit-replay estimator, arXiv:1003.5956): score the
    "serve yesterday's most-clicked item" policy against the logged
    stream — on each day, the share of logged clicks that landed on
    the item the policy would have served. The standard way to
    estimate a new ranker's CTR from historical logs WITHOUT an
    online test; here the policy is the HotTopics top-1 (T3's
    machinery shifted by one day, so the evaluation is honestly
    out-of-sample: the policy never sees the day it's scored on).

    Plan: the daily aggregate computed once feeds both the policy
    (per-day top-1 window) and the replay join — a self-join on date
    against a |days|-row relation; nothing scales beyond the daily
    rollup. Exact integer counts; one quantized ratio."""
    from ..sources import clicks as clicks_table

    # daily feeds the policy and replay branches of one plan: persist
    # it and checkpoint the result before the scope releases it
    daily = bsp.persist(
        clicks_table(spark, sf_dir)
        .groupBy("date", "news_id")
        .agg(F.sum("cnt").cast("long").alias("clicks"))
    )
    w = Window.partitionBy("date").orderBy(
        F.desc("clicks"), F.asc("news_id")
    )
    policy = (
        daily.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.date_add(F.col("date"), 1).alias("serve_date"),
            F.col("news_id").alias("policy_item"),
        )
    )
    matched = F.sum(
        F.when(F.col("news_id") == F.col("policy_item"), F.col("clicks"))
        .otherwise(0)
    )
    return bsp.checkpoint_result(
        daily.join(policy, daily["date"] == policy["serve_date"])
        .groupBy("date", "policy_item")
        .agg(
            F.sum("clicks").cast("long").alias("n_logged"),
            matched.cast("long").alias("n_matched"),
            ppm_value(
                matched.cast("double") / F.sum("clicks")
            ).alias("replay_ctr"),
        )
    )


# ----------------------------------------------- decayed popularity

#: Per-day multiplicative decay and the global ranking depth.
POP_DECAY = 0.9
POP_TOP_N = 20


@register(
    "t6_decayed_popularity",
    with_ctes(
        f"""SELECT news_id, score, rank FROM (
  SELECT news_id,
         ROUND(raw, 6) AS score,
         CAST(ROW_NUMBER() OVER (
           ORDER BY ROUND(raw, 6) DESC, news_id ASC
         ) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= {POP_TOP_N}""",
        CLICKS_CTE,
        "daily AS (SELECT news_id, date, CAST(COUNT(*) AS BIGINT) AS n"
        " FROM clicks GROUP BY 1, 2)",
        "horizon AS (SELECT MAX(date) AS max_date FROM daily)",
        f"""scored AS (
  SELECT d.news_id,
         SUM(d.n * POWER({POP_DECAY}, h.max_date - d.date)) AS raw
  FROM daily d CROSS JOIN horizon h
  GROUP BY d.news_id
)""",
    ),
)
def t6_decayed_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Time-decayed popularity top-N**: each click is worth
    ``POP_DECAY^age_days`` at the corpus horizon, so yesterday's viral
    item outranks last month's steady seller — the principled upgrade
    of HotTopics' raw per-day counts (HotTopics.java:41-46 ranks one
    day in isolation; this blends the whole history with recency
    bias), and the zero-personalization baseline every recommender is
    benchmarked against.

    Plan: one (news, day) count — map-side combinable — then the decay
    blend collapses it to O(|news|) scores; the horizon is a 1-row MAX
    broadcast. The top-N is :func:`global_top_k` (round 10):
    ``TakeOrderedAndProject`` keeps the per-partition top-N before the
    rank window, so the single-partition window sits on N rows, not
    the O(|news|) score relation. POWER on doubles: positive terms
    only, 6-dp quantized before ranking — same float discipline as
    ``ev_daily_ewma``."""
    daily = (
        clicks(spark, sf_dir)
        .groupBy("news_id", "date")
        .agg(F.count("*").cast("long").alias("n"))
    )
    horizon = daily.agg(F.max("date").alias("max_date"))
    scored = (
        daily.crossJoin(F.broadcast(horizon))
        .groupBy("news_id")
        .agg(
            F.sum(
                F.col("n")
                * F.pow(F.lit(POP_DECAY), F.datediff("max_date", "date"))
            ).alias("raw")
        )
    )
    order = [F.desc("score"), F.asc("news_id")]
    return global_top_k(
        scored.select("news_id", F.round("raw", 6).alias("score")),
        order,
        POP_TOP_N,
    ).withColumn("rank", F.col("rank").cast("int"))


# ----------------------------------------------- window-function zoo

_T7_ORACLE = with_ctes(
    """SELECT news_id, date, n_clicks,
       LAG(n_clicks) OVER w AS prev_day,
       LEAD(n_clicks) OVER w AS next_day,
       FIRST_VALUE(n_clicks) OVER wf AS first_day,
       LAST_VALUE(n_clicks) OVER wf AS last_day,
       NTH_VALUE(n_clicks, 2) OVER wf AS second_day,
       ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
       ROUND(CUME_DIST() OVER w, 6) AS cume,
       CAST(NTILE(4) OVER w AS BIGINT) AS quartile
FROM (SELECT news_id, date, CAST(COUNT(*) AS BIGINT) AS n_clicks
      FROM clicks GROUP BY news_id, date)
WINDOW w AS (PARTITION BY news_id ORDER BY date),
       wf AS (PARTITION BY news_id ORDER BY date
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",
    CLICKS_CTE,
)


@register("t7_window_function_zoo", _T7_ORACLE)
def t7_window_function_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-window surface completeness in one pass: lag/lead,
    first/last/nth value (explicit unbounded frame — the default frame
    stops at CURRENT ROW and silently changes last/nth semantics),
    percent_rank, cume_dist, ntile. All nine functions share ONE
    (news_id)×(date) sort, so the executed plan carries a single
    Exchange + Sort with the Window operators pipelined — adding
    analytics to an existing ordering is free at any scale. Ordering
    key (date) is unique per partition, so ntile/percent_rank are
    deterministic."""
    from ..sources import clicks as clicks_table

    daily = (
        clicks_table(spark, sf_dir)
        .groupBy("news_id", "date")
        .agg(F.count("*").cast("long").alias("n_clicks"))
    )
    w = Window.partitionBy("news_id").orderBy("date")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return daily.select(
        "news_id",
        "date",
        "n_clicks",
        F.lag("n_clicks").over(w).alias("prev_day"),
        F.lead("n_clicks").over(w).alias("next_day"),
        F.first("n_clicks").over(wf).alias("first_day"),
        F.last("n_clicks").over(wf).alias("last_day"),
        F.nth_value("n_clicks", 2).over(wf).alias("second_day"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )
