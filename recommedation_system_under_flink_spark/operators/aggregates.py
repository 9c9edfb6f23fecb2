"""A1-A4: aggregations (SURVEY §2.4).

- A1 per-day distinct clickers (TextRank.java:321-340, TF_IDF.java:243-262):
  the reference groups clicks by date and dedups user ids with an O(n²)
  ``LinkedList.contains`` loop into a nested ``Tuple2<Date, List<Long>>``.
  Spark-first replacement keeps the relation FLAT —
  ``select(date, user_id).distinct()`` — because every consumer is a
  semi-join (J1/J2) that works better on flat rows than on collected
  lists (SURVEY §4.2). The nested form is kept as a second query for
  shape parity.
- A2 hot-topics SUM (HotTopics.java:67-93): trailing-window clicks →
  per-news SUM with the row's date rewritten to *today*
  (HotTopics.java:84).
- A4 global reduce (TextRank.java:88-101): all distinct window users in
  one row.

Scale notes (100 TB): A1/A2 are map-side-combinable hash aggregations —
Spark plans partial_* before the shuffle, so shuffled bytes are
O(|distinct keys|), not O(|clicks|). The date-range inputs arrive
pre-pruned at the parquet scan (sources/tables.py raw-``ts`` pushdown).
A4's single-row output is fine: the partial ``collect_set`` shrinks each
partition to its distinct users before the 1-partition final step.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_SCENE, TODAY
from . import bsp
from ..registry import register
from .quantize import ppm_value
from ..sources import CLICKS_CTE, clicks, events_raw, with_ctes

NUM_DAYS = DEFAULT_SCENE.num_days
_WINDOW_START = TODAY - dt.timedelta(days=NUM_DAYS - 1)


@register(
    "a1_daily_distinct_clickers",
    with_ctes(
        """SELECT DISTINCT date, user_id FROM clicks""",
        CLICKS_CTE,
    ),
)
def a1_daily_distinct_clickers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 flat form (TextRank.java:321-340): one row per (date, user)
    that clicked — the semi-join-ready shape. ``distinct()`` is a
    hash aggregate with map-side partials, vs the reference's O(n²)
    ``contains`` dedup (SURVEY §4.1)."""
    return clicks(spark, sf_dir).select("date", "user_id").distinct()


def a1_daily_clicker_sets_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 nested form — shape parity with the reference's
    ``Tuple2<Date, LinkedList<Long>>`` (TextRank.java:321-323). Sorted
    so downstream consumers see a deterministic list order. NOT
    registered: the driver's canonicalizer cannot hash array columns
    (round-2 ``unhashable type: 'list'`` err) — the registered twin
    below compares the same result with the list serialized to a
    string."""
    return (
        clicks(spark, sf_dir)
        .groupBy("date")
        .agg(F.sort_array(F.collect_set("user_id")).alias("users"))
    )


@register(
    "a1_daily_clicker_sets",
    with_ctes(
        """SELECT date,
       array_to_string(list_sort(list(DISTINCT user_id)), ',') AS users
FROM clicks GROUP BY date""",
        CLICKS_CTE,
    ),
)
def a1_daily_clicker_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 nested form, driver-comparable: the per-day distinct-user set
    sorted numerically and joined to one comma-separated string — flat
    scalar columns hash fine in the driver's pandas canonicalizer.
    Same aggregate plan as the nested builder (map-side partial
    ``collect_set`` → merge)."""
    nested = a1_daily_clicker_sets_nested(spark, sf_dir)
    return nested.select(
        "date",
        F.array_join(
            F.transform(F.col("users"), lambda u: u.cast("string")), ","
        ).alias("users"),
    )


@register(
    "a2_hot_topics_sum",
    with_ctes(
        f"""SELECT DATE '{TODAY}' AS date, news_id,
       CAST(SUM(cnt) AS BIGINT) AS clicks
FROM clicks
WHERE date BETWEEN DATE '{_WINDOW_START}' AND DATE '{TODAY}'
GROUP BY news_id""",
        CLICKS_CTE,
    ),
)
def a2_hot_topics_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (HotTopics.java:67-93): trailing-window click SUM per news,
    with the output date rewritten to *today* (HotTopics.java:84 sets
    ``date = today`` on every emitted row)."""
    return (
        clicks(spark, sf_dir, date_from=_WINDOW_START, date_to=TODAY)
        .groupBy("news_id")
        .agg(F.sum("cnt").alias("clicks"))
        .select(F.lit(TODAY).cast("date").alias("date"), "news_id", "clicks")
    )


def a4_window_users_reduce_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 (TextRank.java:88-101): global no-key reduce of window users
    into a single row. Partial ``collect_set`` runs per-partition before
    the single-partition final merge, so the shuffle carries distinct
    ids only. NOT registered (array column — see
    :func:`a1_daily_clicker_sets_nested`)."""
    return clicks(spark, sf_dir, date_from=_WINDOW_START, date_to=TODAY).agg(
        F.sort_array(F.collect_set("user_id")).alias("users"),
        F.count_distinct("user_id").alias("n_users"),
    )


@register(
    "a4_window_users_reduce",
    with_ctes(
        f"""SELECT array_to_string(list_sort(list(DISTINCT user_id)), ',') AS users,
       COUNT(DISTINCT user_id) AS n_users
FROM clicks
WHERE date BETWEEN DATE '{_WINDOW_START}' AND DATE '{TODAY}'""",
        CLICKS_CTE,
    ),
)
def a4_window_users_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4, driver-comparable: the global window-user set serialized to
    one comma-separated string (numeric sort pinned on both sides) next
    to its exact distinct count."""
    nested = a4_window_users_reduce_nested(spark, sf_dir)
    return nested.select(
        F.array_join(
            F.transform(F.col("users"), lambda u: u.cast("string")), ","
        ).alias("users"),
        "n_users",
    )


# ----------------------------------------------------- window frames

@register(
    "a9_trailing_avg_daily_clicks",
    with_ctes(
        """SELECT date, n_clicks,
       ROUND(AVG(n_clicks) OVER (ORDER BY date
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS avg_7d
FROM (SELECT date, CAST(COUNT(*) AS BIGINT) AS n_clicks
      FROM clicks GROUP BY date)""",
        CLICKS_CTE,
    ),
)
def a9_trailing_avg_daily_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day moving average of daily click volume — the
    ROWS-frame window aggregate the reference's per-day resubmission
    loop can never express in one pass. The frame runs over the
    *pre-aggregated* daily series (one row per day), so the unpartitioned
    window sorts |days| rows, not |clicks| — at 100 TB the heavy
    reduction happens in the hash aggregate (map-side partials), and the
    single-partition window is O(days), which is trivially safe. AVG is
    rounded to 6 decimals on both sides (cross-engine float ulps)."""
    from pyspark.sql import Window

    daily = (
        clicks(spark, sf_dir)
        .groupBy("date")
        .agg(F.count("*").cast("long").alias("n_clicks"))
    )
    w = Window.orderBy("date").rowsBetween(-6, 0)
    return daily.select(
        "date",
        "n_clicks",
        F.round(F.avg("n_clicks").over(w), 6).alias("avg_7d"),
    )


# ----------------------------------------------------------- rollup

_A10_ORACLE = """SELECT event_type, date, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT event_type, CAST(ts AS DATE) AS date FROM events)
GROUP BY ROLLUP (event_type, date)"""


@register("a10_rollup_type_date", _A10_ORACLE)
def a10_rollup_type_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity counts in one pass: ``ROLLUP(event_type,
    date)`` emits (type, date), (type, ·) and the grand total — the
    OLAP cube edge the per-query reference recomputes separately.
    Spark expands rollup into a single Expand + hash aggregate: one
    scan, one shuffle for all three granularities; NULL marks the
    rolled-up levels in both engines identically."""
    from ..sources.tables import ts_date

    ev = events_raw(spark, sf_dir).select(
        "event_type", ts_date("ts").alias("date")
    )
    return ev.rollup("event_type", "date").agg(
        F.count("*").cast("long").alias("n")
    )


# ------------------------------------------------------------ pivot

#: The fixed event-type vocabulary (pivot needs explicit values to
#: stay a single-pass plan; inference would add a distinct scan).
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "a11_pivot_daily_event_counts",
    f"""SELECT CAST(ts AS DATE) AS date,
       {", ".join(f"CAST(COUNT(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS {t}" for t in EVENT_TYPES)}
FROM events
GROUP BY CAST(ts AS DATE)""",
)
def a11_pivot_daily_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event counts pivoted to one column per event type — the
    wide-format report shape. ``pivot`` with **explicit values** stays
    one scan + one hash aggregate (values inference would cost an extra
    distinct pass — never let pivot infer at scale); the oracle is the
    equivalent conditional aggregation."""
    from ..sources.tables import ts_date

    ev = events_raw(spark, sf_dir).select(
        ts_date("ts").alias("date"), "event_type"
    )
    pivoted = (
        ev.groupBy("date")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))  # count("*") is rejected inside pivot
    )
    # pivot leaves absent combinations NULL; counts mean zero
    return pivoted.select(
        "date", *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in EVENT_TYPES]
    )


# ------------------------------------------------------------ cube

_A12_ORACLE = """SELECT event_type, date,
       CAST(GROUPING(event_type) * 2 + GROUPING(date) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT event_type, CAST(ts AS DATE) AS date FROM events)
GROUP BY CUBE (event_type, date)"""


@register("a12_cube_type_date", _A12_ORACLE)
def a12_cube_type_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ``CUBE(event_type, date)``: all four grouping sets — (type,
    date), (type, ·), (·, date), (·, ·) — in one Expand + hash
    aggregate (one scan, one shuffle; the rollup twin a10 emits three).
    ``grouping_id`` disambiguates a genuine NULL key from a rolled-up
    level — the standard OLAP-correctness subtlety; both engines number
    the bit positions identically (leftmost column = high bit)."""
    from ..sources.tables import ts_date

    ev = events_raw(spark, sf_dir).select(
        "event_type", ts_date("ts").alias("date")
    )
    return ev.cube("event_type", "date").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count("*").cast("long").alias("n"),
    )


# ------------------------------------------------------------ retention

@register(
    "a13_retention_cohorts",
    """WITH activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), cohorts AS (
  SELECT user_id, MIN(day) AS cohort FROM activity GROUP BY user_id
)
SELECT c.cohort,
       CAST(a.day - c.cohort AS BIGINT) AS day_offset,
       CAST(COUNT(*) AS BIGINT) AS active_users
FROM activity a JOIN cohorts c ON a.user_id = c.user_id
GROUP BY 1, 2""",
)
def a13_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users are cohorted by first-activity
    day; each cell counts how many of a cohort were active ``day_offset``
    days later (offset 0 = cohort size). The standard growth-analytics
    rollup the reference's per-day loop could never express in one job.

    Plan: one distinct over (user, day), a per-user MIN (map-side
    combinable), a user-keyed equi-join of the two (same shuffle key →
    one exchange each), then the (cohort, offset) count. No window, no
    per-day resubmission; at 100 TB the distinct is the dominant
    shuffle and it is exactly the A1 clickers shuffle."""
    from ..sources.tables import ts_date

    ev = events_raw(spark, sf_dir)
    activity = ev.select("user_id", ts_date("ts").alias("day")).distinct()
    cohorts = activity.groupBy("user_id").agg(F.min("day").alias("cohort"))
    return (
        activity.join(cohorts, "user_id")
        .groupBy("cohort", F.datediff("day", "cohort").cast("long").alias("day_offset"))
        .agg(F.count("*").cast("long").alias("active_users"))
    )


@register(
    "a14_cohort_ltv",
    """WITH activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), cohorts AS (
  SELECT user_id, MIN(day) AS cohort FROM activity GROUP BY user_id
), sizes AS (
  SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_users FROM cohorts GROUP BY cohort
), spend AS (
  SELECT c.cohort,
         CAST(CAST(e.ts AS DATE) - c.cohort AS BIGINT) AS day_offset,
         SUM(CAST(e.value AS DECIMAL(18,6))) AS v
  FROM events e JOIN cohorts c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase'
  GROUP BY 1, 2
)
SELECT s.cohort, s.day_offset,
       CAST(SUM(s.v) OVER w AS DOUBLE) AS cum_value,
       ROUND(CAST(SUM(s.v) OVER w AS DOUBLE) / sz.n_users, 6)
         AS ltv_per_user
FROM spend s JOIN sizes sz ON s.cohort = sz.cohort
WINDOW w AS (PARTITION BY s.cohort ORDER BY s.day_offset
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
)
def a14_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort **LTV curve** — the monetary completion of the retention
    matrix (:func:`a13_retention_cohorts`): per first-activity cohort,
    cumulative purchase value through each day offset, normalized per
    cohort user. Purchase values sum as exact DECIMAL (associative →
    partial-agg-order-proof), the running total is one window over the
    per-(cohort, offset) aggregate (≤ days² rows, not events), and the
    single double division happens at the end.

    Scale: two shuffles — purchases⋈cohorts on user_id, then the
    (cohort, offset) aggregate; the cumulative window runs over the
    tiny aggregated matrix."""
    from pyspark.sql import Window

    from ..sources.tables import ts_date

    ev = events_raw(spark, sf_dir)
    activity = ev.select("user_id", ts_date("ts").alias("day")).distinct()
    cohorts = activity.groupBy("user_id").agg(F.min("day").alias("cohort"))
    sizes = cohorts.groupBy("cohort").agg(F.count("*").alias("n_users"))
    spend = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", ts_date("ts").alias("day"), "value")
        .join(cohorts, "user_id")
        .groupBy(
            "cohort", F.datediff(F.col("day"), F.col("cohort")).cast("long").alias("day_offset")
        )
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("v"))
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("day_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spend.join(F.broadcast(sizes), "cohort")
        .select(
            "cohort",
            "day_offset",
            F.sum("v").over(w).cast("double").alias("cum_value"),
            F.round(
                F.sum("v").over(w).cast("double") / F.col("n_users"), 6
            ).alias("ltv_per_user"),
        )
    )


# ------------------------------------------- RANGE-interval frame

@register(
    "a15_trailing_range_window",
    with_ctes(
        """SELECT news_id, date, n_clicks,
       CAST(SUM(n_clicks) OVER (PARTITION BY news_id ORDER BY date
            RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
         AS BIGINT) AS sum_7d_range,
       CAST(SUM(n_clicks) OVER (PARTITION BY news_id ORDER BY date
            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         AS BIGINT) AS sum_7d_rows
FROM (SELECT news_id, date, CAST(COUNT(*) AS BIGINT) AS n_clicks
      FROM clicks GROUP BY news_id, date)""",
        CLICKS_CTE,
    ),
)
def a15_trailing_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day click sum per news item with a **RANGE (value)
    frame** — and the ROWS-frame value alongside for contrast. On a
    per-item daily series, days with zero clicks are MISSING ROWS, so
    ``ROWS 6 PRECEDING`` silently reaches back past the calendar
    window while the RANGE frame bounds the window by the date VALUE
    (gap-correct). a9 uses ROWS safely because the global daily series
    is dense; this is the form that stays correct when it isn't —
    emitting both columns makes the divergence a queryable fact
    (pytest pins rows ≥ range with strict inequality somewhere).

    Plan: map-side-combinable (news, date) count, then one window sort
    per news partition — O(item-days) rows through the shuffle, well
    distributed by news_id at any scale. Spark's RANGE frame needs a
    numeric order key: days-since-epoch via ``datediff``, an exact
    integer mirror of DuckDB's ``INTERVAL 6 DAY`` bound."""
    from pyspark.sql import Window

    daily = (
        clicks(spark, sf_dir)
        .groupBy("news_id", "date")
        .agg(F.count("*").cast("long").alias("n_clicks"))
        .withColumn("day_num", F.datediff("date", F.lit(dt.date(1970, 1, 1))))
    )
    w_range = (
        Window.partitionBy("news_id").orderBy("day_num").rangeBetween(-6, 0)
    )
    w_rows = Window.partitionBy("news_id").orderBy("day_num").rowsBetween(-6, 0)
    return daily.select(
        "news_id",
        "date",
        "n_clicks",
        F.sum("n_clicks").over(w_range).cast("long").alias("sum_7d_range"),
        F.sum("n_clicks").over(w_rows).cast("long").alias("sum_7d_rows"),
    )


# ------------------------------------------------- grouping sets

@register(
    "a16_grouping_sets",
    """SELECT event_type, date, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(GROUPING(event_type) * 2 + GROUPING(date) AS BIGINT) AS gid
FROM (SELECT event_type, CAST(ts AS DATE) AS date FROM events)
GROUP BY GROUPING SETS ((event_type), (date))""",
)
def a16_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Arbitrary GROUPING SETS** — per-type totals and per-day totals
    in ONE scan + ONE Expand + aggregate, without the (type, date)
    cross detail rows rollup/cube would force. The report shape for
    "two independent marginals of the same fact scan"; ``grouping_id``
    disambiguates which marginal a NULL key belongs to (a real NULL
    key and a rolled-up one are indistinguishable otherwise)."""
    from ..sources.tables import ts_date

    ev = events_raw(spark, sf_dir).select(
        "event_type", ts_date("ts").alias("date")
    )
    return ev.groupingSets(
        [["event_type"], ["date"]], "event_type", "date"
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.grouping_id().cast("long").alias("gid"),
    )


# ------------------------------------------------- set operators

@register(
    "a17_set_operations",
    """WITH half1 AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type = 'click' AND CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 = 0
), half2 AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type = 'click' AND CAST(json_extract_string(props, '$.k') AS BIGINT) % 3 = 0
)
SELECT CAST((SELECT COUNT(*) FROM (SELECT user_id FROM half1 INTERSECT SELECT user_id FROM half2)) AS BIGINT) AS n_both,
       CAST((SELECT COUNT(*) FROM (SELECT user_id FROM half1 EXCEPT SELECT user_id FROM half2)) AS BIGINT) AS n_only_1,
       CAST((SELECT COUNT(*) FROM (SELECT user_id FROM half2 EXCEPT SELECT user_id FROM half1)) AS BIGINT) AS n_only_2,
       CAST((SELECT COUNT(*) FROM (SELECT user_id FROM half1 UNION SELECT user_id FROM half2)) AS BIGINT) AS n_either""",
)
def a17_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Set operators** (SURVEY §2.6 records the reference has none —
    this pins Spark's, since a migrating user gets them for free):
    INTERSECT / EXCEPT / UNION DISTINCT audience arithmetic between two
    clicker cohorts, verified against each other by the inclusion-
    exclusion row (|∩| + |A\\B| + |B\\A| = |∪|, pytest). Spark plans
    INTERSECT/EXCEPT as left-semi/left-anti aggregates — same shuffle
    shape as the J1 semi-join, distributed on user_id at any scale."""
    from ..sources import events_raw

    ev = events_raw(spark, sf_dir)
    k = F.from_json("props", "k INT").getField("k").cast("long")
    base = ev.filter(F.col("event_type") == "click").select(
        "user_id", k.alias("k")
    )
    h1 = base.filter(F.col("k") % 2 == 0).select("user_id").distinct()
    h2 = base.filter(F.col("k") % 3 == 0).select("user_id").distinct()
    counts = [
        h1.intersect(h2).count(),
        h1.exceptAll(h2).distinct().count(),
        h2.exceptAll(h1).distinct().count(),
        h1.union(h2).distinct().count(),
    ]
    return spark.createDataFrame(
        [tuple(counts)], "n_both long, n_only_1 long, n_only_2 long, n_either long"
    )


# ------------------------------------------------ retention half-life

@register(
    "a15_retention_halflife",
    """WITH activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), cohorts AS (
  SELECT user_id, MIN(day) AS cohort FROM activity GROUP BY user_id
), sizes AS (
  SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n FROM cohorts GROUP BY cohort
), mx AS (SELECT MAX(day) AS m FROM activity),
cells AS (
  SELECT c.cohort, CAST(a.day - c.cohort AS BIGINT) AS o,
         CAST(COUNT(*) AS BIGINT) AS active
  FROM activity a JOIN cohorts c ON a.user_id = c.user_id
  GROUP BY 1, 2
), pooled AS (
  -- censoring: offset o pools only cohorts old enough to observe it
  SELECT ce.o,
         CAST(SUM(ce.active) AS DOUBLE)
           / SUM(sz.n) AS r
  FROM cells ce
  JOIN sizes sz ON ce.cohort = sz.cohort
  CROSS JOIN mx
  WHERE ce.o >= 1 AND ce.cohort + CAST(ce.o AS INTEGER) <= mx.m
  GROUP BY ce.o
), pts AS (
  SELECT CAST(o AS DOUBLE) AS x, ln(r) AS y FROM pooled WHERE r > 0
), fit AS (
  SELECT COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy
  FROM pts
)
SELECT CAST(fit.k AS BIGINT) AS n_offsets,
       CAST(CAST(FLOOR(((SELECT r FROM pooled WHERE o = 1)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS day1_retention,
       ROUND(-(fit.k * fit.sxy - fit.sx * fit.sy)
             / (fit.k * fit.sxx - fit.sx * fit.sx), 6) AS lambda_per_day,
       ROUND(ln(2) / NULLIF(-(fit.k * fit.sxy - fit.sx * fit.sy)
             / (fit.k * fit.sxx - fit.sx * fit.sx), 0), 6)
         AS half_life_days
FROM fit""",
)
def a15_retention_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Retention half-life**: pool the cohort matrix
    (:func:`a13_retention_cohorts`) into a censored retention curve
    (offset o uses only cohorts old enough to observe it — the
    right-censoring the raw matrix silently carries), fit
    ln r(o) = a − λ·o by closed-form OLS, and report λ and
    t½ = ln2/λ — the one-number engagement decay that makes cohort
    dashboards comparable across products.

    Scale: the matrix build is the A1-class distinct shuffle; pooling
    and the fit run on the O(|offsets|) curve. NULLIF guards the
    degenerate non-decaying fit."""
    from ..sources.tables import ts_date

    ev = events_raw(spark, sf_dir)
    # activity feeds cohorts, the censoring max and the cell matrix;
    # the pooled curve feeds the OLS points and the day-1 row - persist
    # both, released after the 1-row fit materializes (r12 scan
    # audit: 8 duplicate scans before)
    activity = bsp.persist(ev.select("user_id", ts_date("ts").alias("day")).distinct())
    cohorts = activity.groupBy("user_id").agg(F.min("day").alias("cohort"))
    sizes = cohorts.groupBy("cohort").agg(
        F.count("*").cast("bigint").alias("n")
    )
    mx = activity.agg(F.max("day").alias("m"))
    cells = (
        activity.join(cohorts, "user_id")
        .groupBy("cohort", F.datediff("day", "cohort").cast("bigint").alias("o"))
        .agg(F.count("*").cast("bigint").alias("active"))
    )
    pooled = bsp.persist(
        cells.join(sizes, "cohort")
        .crossJoin(F.broadcast(mx))
        .filter(
            (F.col("o") >= 1)
            & (F.date_add("cohort", F.col("o").cast("int")) <= F.col("m"))
        )
        .groupBy("o")
        .agg(
            (F.sum("active").cast("double") / F.sum("n")).alias("r")
        )
    )
    pts = pooled.filter(F.col("r") > 0).select(
        F.col("o").cast("double").alias("x"), F.log(F.col("r")).alias("y")
    )
    fit = pts.agg(
        F.count("*").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    lam = -(
        F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx"))
    r1 = pooled.filter(F.col("o") == 1).select(
        ppm_value(F.col("r")).alias("day1_retention")
    )
    out = fit.crossJoin(F.broadcast(r1)).select(
        F.col("k").cast("bigint").alias("n_offsets"),
        "day1_retention",
        F.round(lam, 6).alias("lambda_per_day"),
        F.round(
            F.log(F.lit(2.0)) / F.nullif(lam, F.lit(0.0)), 6
        ).alias("half_life_days"),
    )
    return bsp.checkpoint_result(out)
