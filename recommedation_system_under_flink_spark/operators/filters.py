"""P2-P6: projection / filter / date-zone predicates (SURVEY §2.2).

The reference's date predicates live in absent ``utils.DateFilter`` /
``DateZoneFilter`` / ``DateLoopFilter`` classes; pinned conventions
(SURVEY §7.0):

- P2 day-equality: ``date = today`` (TextRank.java:239-244).
- P3 trailing zone (direction 0): ``today-(num_days-1) <= date <= today``
  — applied to clicks/tweets (TextRank.java:86,94,107; HotTopics.java:68).
- P4 leading zone (direction 1): ``today <= date <= today+(num_days-1)``
  — applied to recommendable news (TextRank.java:236,258-262).
- P5 loop-range: ``from_date <= date <= today`` (DateLoopFilter,
  TF_IDF.java:131-138).
- P6 positivity: ``score > 0`` (TextRank.java:275-278).

All are plain Catalyst predicates: they push down into the parquet scan
(``PushedFilters`` in explain) — exactly what the reference's
filter-inside-cross placement (TextRank.java:258-262) never got.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_SCENE, TODAY
from ..registry import register
from ..sources import CLICKS_CTE, NEWS_CTE, clicks, news, with_ctes

#: Single source of truth is the configured scene (config.py) — keeping
#: these as module constants only for oracle-string interpolation.
NUM_DAYS = DEFAULT_SCENE.num_days


def trailing_zone(c: Column, today: dt.date, num_days: int) -> Column:
    """P3: DateZoneFilter(today, num_days, 0)."""
    start = today - dt.timedelta(days=num_days - 1)
    return c.between(F.lit(start.isoformat()).cast("date"), F.lit(today.isoformat()).cast("date"))


def leading_zone(c: Column, today: dt.date, num_days: int) -> Column:
    """P4: DateZoneFilter(today, num_days, 1)."""
    end = today + dt.timedelta(days=num_days - 1)
    return c.between(F.lit(today.isoformat()).cast("date"), F.lit(end.isoformat()).cast("date"))


# ------------------------------------------------------------- queries

@register(
    "p2_clicks_today",
    with_ctes(
        f"""SELECT user_id, news_id, date, cnt
FROM clicks WHERE date = DATE '{TODAY}'""",
        CLICKS_CTE,
    ),
)
def p2_clicks_today(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 (TextRank.java:239-244): keep clicks whose day equals today.

    The date bound is passed into :func:`clicks` so it is applied as a
    raw-``ts`` long range that pushes down into the parquet scan — a
    predicate on the derived ``to_date`` column never would (100 TB:
    row-group pruning vs full scan)."""
    return clicks(spark, sf_dir, date_from=TODAY, date_to=TODAY)


_P3_START = TODAY - dt.timedelta(days=NUM_DAYS - 1)


@register(
    "p3_clicks_trailing_window",
    with_ctes(
        f"""SELECT user_id, news_id, date, cnt
FROM clicks WHERE date BETWEEN DATE '{_P3_START}' AND DATE '{TODAY}'""",
        CLICKS_CTE,
    ),
)
def p3_clicks_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 (HotTopics.java:68-74): trailing N-day click zone, pushed down
    as a raw-``ts`` range (see :func:`p2_clicks_today`)."""
    return clicks(spark, sf_dir, date_from=_P3_START, date_to=TODAY)


_P4_DAY = dt.date(2024, 1, 10)
_P4_END = _P4_DAY + dt.timedelta(days=NUM_DAYS - 1)


@register(
    "p4_news_leading_window",
    with_ctes(
        f"""SELECT news_id, date, title, description, content
FROM news WHERE date BETWEEN DATE '{_P4_DAY}' AND DATE '{_P4_END}'""",
        NEWS_CTE,
    ),
)
def p4_news_leading_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 (TextRank.java:258-262): news eligible for day d."""
    return news(spark, sf_dir).filter(leading_zone(F.col("date"), _P4_DAY, NUM_DAYS))


_P5_FROM = DEFAULT_SCENE.from_date


@register(
    "p5_clicks_loop_range",
    with_ctes(
        f"""SELECT user_id, news_id, date, cnt
FROM clicks WHERE date BETWEEN DATE '{_P5_FROM}' AND DATE '{TODAY}'""",
        CLICKS_CTE,
    ),
)
def p5_clicks_loop_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 (TF_IDF.java:133-138): DateLoopFilter range, pushed down as a
    raw-``ts`` range (see :func:`p2_clicks_today`)."""
    return clicks(spark, sf_dir, date_from=_P5_FROM, date_to=TODAY)


@register(
    "p6_positive_score",
    """SELECT event_id, user_id, CAST(value - 100.0 AS DOUBLE) AS score
FROM events WHERE value - 100.0 > 0""",
)
def p6_positive_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 (TextRank.java:275-278): drop non-positive scores. The
    predicate is stated on the BASE column (``value > 100.0``) so it
    reaches the parquet scan as a pushed filter — Catalyst does not
    normalize ``value - 100.0 > 0`` into a pushable comparison, so the
    derived-column form runs as a post-scan filter (a full scan at
    100 TB). The two forms are equivalent for IEEE doubles: rounding is
    monotone and ``fl(v-100)`` can only be ≤ 0 when ``v ≤ 100`` (the
    difference of nearby doubles is exact — Sterbenz — and farther out
    the gap exceeds any rounding error). The same filter guards the
    scored join J3 (operators/joins.py)."""
    from ..sources import events_raw

    ev = events_raw(spark, sf_dir)
    return ev.filter(F.col("value") > 100.0).select(
        "event_id", "user_id", (F.col("value") - 100.0).alias("score")
    )
