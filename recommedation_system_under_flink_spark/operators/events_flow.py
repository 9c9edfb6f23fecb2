"""Event-flow operators: as-of join and gap sessionization.

Neither exists in the reference (its event handling stops at per-day
filters + counts, TextRank.java:321-340 / HotTopics.java:67-93), but
both are table-stakes for an event log at scale, and both are classic
"Spark lacks the operator, compose it" cases (brief: custom operators
route (a) — composition of existing DataFrame ops):

- **as-of join** — for each purchase, the most recent prior click by
  the same user. The naive form is a per-pair range join (quadratic in
  events-per-user); the scale form used here is the union + sorted
  carry-forward trick: interleave both sides on (ts, side, event_id),
  then ``last(click columns, ignorenulls)`` over a running window. One
  shuffle on ``user_id``, linear scan per user, no pair blow-up — the
  same plan shape a MERGE-join as-of would produce. The oracle is
  DuckDB's *native* ``ASOF LEFT JOIN`` — an independent implementation,
  so the carry-forward rewrite is hash-verified against a real as-of
  operator, not against itself.
- **sessionization** — 30-minute-gap sessions per user:
  ``lag`` → gap flag → running sum (the standard cumulative-sum
  session-id assignment), then one aggregation per session. Two window
  passes over the same (user_id, ts) sort order — Catalyst runs them in
  a single Window stage over one shuffle.

Timestamps: ``events.ts`` is TIMESTAMP(NANOS) parquet, read Spark-side
as a raw long (see ``sources.tables``). Both operators work in *micros*
(``ts DIV 1000`` — exact integer division; ``/`` would round through a
double and lose integer precision at 1e18) because DuckDB truncates the
same nanos to micro-resolution TIMESTAMPs, and ordering on anything
finer than the oracle can see would let sub-micro tiebreaks diverge.
Verified: ``ts DIV 1000`` equals DuckDB ``epoch_us(ts)`` on every
fixture row, and (user_id, micros) is collision-free.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import bsp
from ..functions.text import the_label, the_label_sql
from ..registry import register
from ..sources import events_raw
from .quantize import ppm_sum, ppm_value
from ..sources.tables import NEWS_MOD

#: Session gap threshold: 30 minutes, in microseconds.
SESSION_GAP_US = 30 * 60 * 1_000_000


# ------------------------------------------------------------ as-of join

_ASOF_ORACLE = """SELECT p.user_id,
       p.event_id AS purchase_id,
       epoch_us(p.ts) AS purchase_tsm,
       c.event_id AS click_id,
       epoch_us(c.ts) AS click_tsm,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts"""


def asof_last_prior(tagged: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    """Core as-of carry-forward over a tagged relation
    ``(user_id, event_id, tsm, side)`` with side 0 = reference (click),
    1 = probe (purchase): one shuffle on ``user_id``, one sort, one
    Window — side 0 sorts before side 1 at an equal timestamp, making
    the match inclusive (ASOF's ``>=``), and the reference row's
    (id, ts) carries forward via ``last(..., ignorenulls)``. Tested
    against a naive quadratic reference on seeded-random logs
    (tests/test_events_flow.py) besides the fixture oracle.

    ``extra`` names probe-side payload columns in ``tagged`` to ride
    through to the output unchanged — consumers that need e.g. the
    purchase ``value`` carry it here instead of re-scanning events and
    re-joining on purchase_id (session review: that second scan plus a
    high-cardinality shuffle join was pure waste)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("tsm", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_id = F.when(F.col("side") == 0, F.col("event_id"))
    click_tsm = F.when(F.col("side") == 0, F.col("tsm"))
    carried = tagged.select(
        "user_id",
        "event_id",
        "tsm",
        "side",
        *extra,
        F.last(click_id, ignorenulls=True).over(w).alias("click_id"),
        F.last(click_tsm, ignorenulls=True).over(w).alias("click_tsm"),
    )
    return carried.filter(F.col("side") == 1).select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("tsm").alias("purchase_tsm"),
        "click_id",
        "click_tsm",
        (F.col("tsm") - F.col("click_tsm")).alias("gap_us"),
        *extra,
    )


@register("ef_asof_purchase_click", _ASOF_ORACLE)
def ef_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the same user's most recent
    click at-or-before it (NULL columns when no prior click exists).
    See :func:`asof_last_prior` for the plan shape; scale: no candidate
    pairs materialized, a skewed user is one sort partition (AQE),
    event_id breaks residual order ties deterministically."""
    ev = events_raw(spark, sf_dir)
    tagged = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "user_id",
            "event_id",
            F.expr("ts DIV 1000").alias("tsm"),
            F.when(F.col("event_type") == "click", F.lit(0))
            .otherwise(F.lit(1))
            .alias("side"),
        )
    )
    return asof_last_prior(tagged)


# --------------------------------------------------------- sessionization

def _sessions_ctes(cols: tuple[str, ...] = (), where: str = "") -> str:
    """SQL twin of :func:`annotate_sessions`: CTEs ``e`` → ``flagged``
    (lag gap flag) → ``sess`` (running-sum ``session_seq``) over the
    ``events`` rows matching ``where``, carrying ``cols``."""
    carry = "".join(f", {c}" for c in cols)
    return f"""e AS (
  SELECT user_id, event_id, epoch_us(ts) AS tsm{carry} FROM events{where}
), flagged AS (
  SELECT user_id, event_id, tsm{carry},
         CASE WHEN lag(tsm) OVER w IS NULL
                OR tsm - lag(tsm) OVER w > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS is_start
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY tsm, event_id)
), sess AS (
  SELECT user_id, tsm{carry},
         CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY tsm, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_seq
  FROM flagged
)"""


_SESSIONS_ORACLE = f"""WITH {_sessions_ctes(("value",))}
SELECT user_id, session_seq,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(tsm) AS session_start,
       MAX(tsm) AS session_end,
       MAX(tsm) - MIN(tsm) AS duration_us,
       ROUND(CAST(SUM(value) AS DOUBLE), 6) AS total_value
FROM sess
GROUP BY user_id, session_seq"""


def annotate_sessions(ev: DataFrame, gap_us: int = SESSION_GAP_US) -> DataFrame:
    """The sessionize ANNOTATION core: tag each ``(user_id, event_id,
    tsm, ...)`` row with its 1-based ``session_seq`` (lag gap flag +
    running sum over one shared sort). Extracted so consumers that need
    per-EVENT session keys (the session funnel) share the exact gap
    semantics with the per-SESSION aggregate (session review)."""
    order = Window.partitionBy("user_id").orderBy("tsm", "event_id")
    gap = F.col("tsm") - F.lag("tsm").over(order)
    is_start = F.when(gap.isNull() | (gap > gap_us), F.lit(1)).otherwise(F.lit(0))
    running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.withColumn(
        "session_seq", F.sum(is_start).over(running).cast("long")
    )


def sessionize_events(ev: DataFrame, gap_us: int = SESSION_GAP_US) -> DataFrame:
    """Core gap sessionization over ``(user_id, event_id, tsm, value)``
    rows; see :func:`ef_sessionize` for the plan story."""
    sess = annotate_sessions(ev, gap_us)
    return sess.groupBy("user_id", "session_seq").agg(
        F.count("*").cast("long").alias("n_events"),
        F.min("tsm").alias("session_start"),
        F.max("tsm").alias("session_end"),
        (F.max("tsm") - F.min("tsm")).alias("duration_us"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


@register("ef_sessionize", _SESSIONS_ORACLE)
def ef_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization: a new session starts when a user is idle
    longer than ``SESSION_GAP_US``. ``lag`` marks session starts, a
    running sum over the same sort order numbers them (1-based per
    user), then one groupBy emits per-session stats.

    Plan: both window functions share one (user_id)×(tsm, event_id)
    sort, so the plan carries exactly one Exchange + one Sort with the
    two Window operators pipelined on top (audited: 1 Exchange in the
    executed plan); the session aggregation reuses the same hash
    partitioning. total_value is rounded to 6 decimals on both sides — float
    partial-agg ordering differs between engines (see memory note on
    quantized floats)."""
    ev = events_raw(spark, sf_dir).select(
        "user_id", "event_id", F.expr("ts DIV 1000").alias("tsm"), "value"
    )
    return sessionize_events(ev)


# ------------------------------------------------------- banded range join

#: Attribution window: errors within 1 hour after any purchase.
RANGE_WINDOW_US = 3_600 * 1_000_000
#: Band width for the range-join banding. Equal to the window length,
#: so every interval spans ≤ 2 bands (fan-out bound = W/B + 1 = 2).
RANGE_BAND_US = RANGE_WINDOW_US

_RANGE_ORACLE = f"""SELECT p.event_id AS purchase_id,
       e.event_id AS error_id,
       epoch_us(p.ts) AS purchase_tsm,
       epoch_us(e.ts) AS error_tsm,
       epoch_us(e.ts) - epoch_us(p.ts) AS delay_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON epoch_us(e.ts) >= epoch_us(p.ts)
 AND epoch_us(e.ts) < epoch_us(p.ts) + {RANGE_WINDOW_US}"""


@register("ef_range_join_banded", _RANGE_ORACLE)
def ef_range_join_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment **range join** via banding — which errors
    fall inside the hour after each purchase (no user equality: a
    genuine range-only join, the shape Spark executes as a
    BroadcastNestedLoopJoin, O(|L|·|R|) compares).

    The banded rewrite makes it an equi-join: time is cut into
    ``RANGE_BAND_US`` bands; each interval replicates to every band it
    overlaps (≤ 2 here, since band = window length), each point lives
    in exactly ONE band, and the containment predicate re-checks inside
    the band. A (purchase, error) match can only meet in the error's
    own band, so no post-join dedup is needed. Scale: shuffle keys are
    band ids (time-uniform), replication is the bounded W/B + 1, and
    the plan is a plain shuffled equi-join — the pytest asserts no
    nested-loop/cartesian operator survives
    (tests/test_events_flow.py)."""
    ev = events_raw(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"), F.expr("ts DIV 1000").alias("purchase_tsm"))
        .select(
            "purchase_id",
            "purchase_tsm",
            F.explode(
                F.sequence(
                    F.expr(f"purchase_tsm DIV {RANGE_BAND_US}"),
                    F.expr(f"(purchase_tsm + {RANGE_WINDOW_US - 1}) DIV {RANGE_BAND_US}"),
                )
            ).alias("band"),
        )
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.expr("ts DIV 1000").alias("error_tsm"),
        F.expr(f"(ts DIV 1000) DIV {RANGE_BAND_US}").alias("band"),
    )
    return (
        purchases.join(errors, "band")
        .filter(
            (F.col("error_tsm") >= F.col("purchase_tsm"))
            & (F.col("error_tsm") < F.col("purchase_tsm") + RANGE_WINDOW_US)
        )
        .select(
            "purchase_id",
            "error_id",
            "purchase_tsm",
            "error_tsm",
            (F.col("error_tsm") - F.col("purchase_tsm")).alias("delay_us"),
        )
    )


# ------------------------------------------------------------ funnel

def staged_funnel(ev: DataFrame, key: list[str]) -> DataFrame:
    """First-occurrence view → click → purchase staging keyed on
    ``key``: per key, the earliest view (t1), the earliest click
    strictly after it (t2), the earliest purchase strictly after that
    (t3), as ``v LEFT JOIN c LEFT JOIN p``. Every stage is keyed on
    ``key``, so the funnel reuses one hash partitioning end to end;
    shared by the daily and the session-scoped funnels (session
    review).

    v and c each feed the next stage AND the final join (no
    cross-subtree CSE — the r12 scan audit saw the whole input chain
    re-executed per reference), so both persist here, in the caller's
    query scope: the caller must end in ``checkpoint_result``. Callers
    whose ``ev`` is itself expensive (the sessionized form) should
    persist it too."""
    v = bsp.persist(
        ev.filter(F.col("event_type") == "view")
        .groupBy(*key)
        .agg(F.min("tsm").alias("t1"))
    )
    c = bsp.persist(
        ev.filter(F.col("event_type") == "click")
        .join(v, key)
        .filter(F.col("tsm") > F.col("t1"))
        .groupBy(*key)
        .agg(F.min("tsm").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, key)
        .filter(F.col("tsm") > F.col("t2"))
        .groupBy(*key)
        .agg(F.min("tsm").alias("t3"))
    )
    return v.join(c, key, "left").join(p, key, "left")


def _staged_funnel_sql(src: str, key: tuple[str, str]) -> str:
    """SQL twin of :func:`staged_funnel` over the CTE ``src``: the
    ``v``, ``c`` and ``p`` stage CTEs keyed on ``key``, and ``staged``,
    one row per key that viewed, with its funnel ``depth`` (1-3)."""
    def cols(a: str) -> str:
        return ", ".join(f"{a}.{c}" for c in key)

    def on(a: str, b: str) -> str:
        return " AND ".join(f"{a}.{c} = {b}.{c}" for c in key)

    by = ", ".join(str(i) for i in range(1, len(key) + 1))
    return f"""v AS (
  SELECT {", ".join(key)}, MIN(tsm) AS t1 FROM {src}
  WHERE event_type = 'view' GROUP BY {by}
), c AS (
  SELECT {cols("e")}, MIN(e.tsm) AS t2
  FROM {src} e JOIN v ON {on("e", "v")}
  WHERE e.event_type = 'click' AND e.tsm > v.t1
  GROUP BY {by}
), p AS (
  SELECT {cols("e")}, MIN(e.tsm) AS t3
  FROM {src} e JOIN c ON {on("e", "c")}
  WHERE e.event_type = 'purchase' AND e.tsm > c.t2
  GROUP BY {by}
), staged AS (
  SELECT {cols("v")},
         CAST(CASE WHEN p.t3 IS NOT NULL THEN 3
                   WHEN c.t2 IS NOT NULL THEN 2
                   ELSE 1 END AS INTEGER) AS depth
  FROM v
  LEFT JOIN c ON {on("v", "c")}
  LEFT JOIN p ON {on("v", "p")}
)"""


_FUNNEL_ORACLE = f"""WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS day, event_type, epoch_us(ts) AS tsm
  FROM events
), {_staged_funnel_sql("ev", ("user_id", "day"))}
SELECT day, depth, CAST(COUNT(*) AS BIGINT) AS n_users
FROM staged
GROUP BY 1, 2"""


@register("ef_funnel_view_click_purchase", _FUNNEL_ORACLE)
def ef_funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered **conversion funnel**: per (user, day), did a view
    happen, then a click strictly after it, then a purchase strictly
    after that — first-occurrence semantics (the standard product
    funnel; out-of-order events don't count). Emits (day, depth,
    n_users) — the per-day funnel histogram.

    Plan: each stage is a per-(user, day) MIN filtered against the
    previous stage's anchor — three aggregations and three equi-joins,
    ALL keyed (user_id, day), so the whole funnel reuses one hash
    partitioning (no re-shuffle between stages). At 100 TB funnel depth
    extends by adding stages, not passes: each stage touches only
    survivors of the previous one."""
    from ..sources.tables import ts_date

    ev = events_raw(spark, sf_dir).select(
        "user_id",
        ts_date("ts").alias("day"),
        "event_type",
        F.expr("ts DIV 1000").alias("tsm"),
    )
    staged = staged_funnel(ev, ["user_id", "day"])
    out = (
        staged.select(
            "day",
            F.when(F.col("t3").isNotNull(), 3)
            .when(F.col("t2").isNotNull(), 2)
            .otherwise(1)
            .cast("int")
            .alias("depth"),
        )
        .groupBy("day", "depth")
        .agg(F.count("*").cast("long").alias("n_users"))
    )
    return bsp.checkpoint_result(out)


# ------------------------------------------------- native session window

_SESSIONS_NATIVE_ORACLE = f"""WITH {_sessions_ctes()}
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(tsm) AS session_start,
       MAX(tsm) AS session_end
FROM sess
GROUP BY user_id, session_seq"""


def native_sessions(ev: DataFrame) -> DataFrame:
    """Per-session ``(user_id, n_events, session_start, session_end)``
    via Spark's native ``session_window`` over any frame with
    ``user_id`` and a nanos-long ``ts`` — the batch ``events_raw`` and
    the streaming source alike, so batch and stream run one query.

    Boundary pinning: ``session_window`` merges an event into the
    current session when ``next < prev + gap`` (strict), the lag form
    when ``next - prev ≤ gap`` — so the native gap is ``GAP + 1 µs``
    to make the two bit-identical (an event exactly GAP after its
    predecessor belongs to the same session in both)."""
    ev = ev.select(
        "user_id",
        F.expr("ts DIV 1000").alias("tsm"),
        F.timestamp_micros(F.expr("ts DIV 1000")).alias("event_time"),
    )
    return (
        ev.groupBy(
            "user_id",
            F.session_window("event_time", f"{SESSION_GAP_US + 1} microseconds"),
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min("tsm").alias("session_start"),
            F.max("tsm").alias("session_end"),
        )
        .select("user_id", "n_events", "session_start", "session_end")
    )


@register("ef_sessionize_native", _SESSIONS_NATIVE_ORACLE)
def ef_sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization via Spark's NATIVE ``session_window``
    (:func:`native_sessions`) — the built-in operator the manual
    lag-chain (:func:`ef_sessionize`) reimplements relationally. Both
    are registered so the two constructions cross-validate through the
    same oracle family.

    Plan: one shuffle on user_id + one sort — same shape as the manual
    form; in Structured Streaming the identical expression runs
    incrementally with watermark-bounded state (SCALE.md §9)."""
    return native_sessions(events_raw(spark, sf_dir))


# ------------------------------------------------- session funnel

_SESSION_FUNNEL_ORACLE = f"""WITH {_sessions_ctes(("event_type",))},
{_staged_funnel_sql("sess", ("user_id", "session_seq"))}
SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM staged
GROUP BY 1"""


@register("ef_session_funnel", _SESSION_FUNNEL_ORACLE)
def ef_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel scoped to **sessions** instead of calendar
    days (:func:`ef_funnel_view_click_purchase`): view → later click →
    later purchase within one gap-session — the product-analytics
    variant where a conversion that crosses midnight still counts and
    a morning view doesn't claim an evening purchase.

    Composition of two verified cores: the sessionize lag/running-sum
    annotation and the staged first-occurrence MINs, all keyed
    (user_id, session_seq) — the funnel stages reuse the session
    shuffle partitioning (hash on user_id) end to end."""
    ev = events_raw(spark, sf_dir).select(
        "user_id", "event_id", "event_type", F.expr("ts DIV 1000").alias("tsm")
    )
    # the sessionize window annotation feeds all three funnel stages —
    # persist it so the window runs once, not per stage
    sess = bsp.persist(annotate_sessions(ev))
    staged = staged_funnel(sess, ["user_id", "session_seq"])
    out = (
        staged.select(
            F.when(F.col("t3").isNotNull(), 3)
            .when(F.col("t2").isNotNull(), 2)
            .otherwise(1)
            .cast("int")
            .alias("depth")
        )
        .groupBy("depth")
        .agg(F.count("*").cast("long").alias("n_sessions"))
    )
    return bsp.checkpoint_result(out)


# ------------------------------------------------- attribution report

@register(
    "ef_attribution_report",
    f"""WITH matched AS (
  SELECT p.event_id AS purchase_id, p.value, c.event_id AS click_id
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
    ON p.user_id = c.user_id AND p.ts >= c.ts
)
SELECT click_id % {NEWS_MOD} AS news_id,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS attributed_value
FROM matched
GROUP BY 1""",
)
def ef_attribution_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Last-click revenue attribution**: each purchase's value is
    credited to the news item of the user's most recent prior click
    (the as-of match, :func:`ef_asof_purchase_click`); per-news
    purchase counts and attributed revenue (exact-DECIMAL sums). The
    marketing-analytics report that closes the loop from
    recommendation → click → purchase.

    Unmatched purchases (no prior click) carry no attribution and are
    excluded — the inner as-of. Plan: the as-of core's single sorted
    shuffle plus one hash aggregate on news_id; ``value`` rides the
    tagged relation through the core (the ``extra`` passthrough), so
    there is no second events scan and no purchase_id join."""
    ev = events_raw(spark, sf_dir)
    tagged = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "event_id",
        F.expr("ts DIV 1000").alias("tsm"),
        F.when(F.col("event_type") == "click", F.lit(0))
        .otherwise(F.lit(1))
        .alias("side"),
        "value",
    )
    asof = asof_last_prior(tagged, extra=("value",)).filter(
        F.col("click_id").isNotNull()
    )
    return (
        asof.groupBy((F.col("click_id") % NEWS_MOD).alias("news_id"))
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("attributed_value"),
        )
    )


# --------------------------------------- position-based attribution

#: Multi-touch lookback window (microseconds): clicks this far before
#: the purchase share its credit.
MTA_LOOKBACK_US = 7 * 24 * 3600 * 1_000_000


@register(
    "ef_attribution_position_based",
    f"""WITH touches AS (
  SELECT p.event_id AS purchase_id,
         CAST(p.value AS DECIMAL(18,6)) AS value,
         c.event_id AS click_id,
         ROW_NUMBER() OVER (
           PARTITION BY p.event_id ORDER BY c.ts ASC, c.event_id ASC
         ) AS pos,
         COUNT(*) OVER (PARTITION BY p.event_id) AS n
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  JOIN (SELECT * FROM events WHERE event_type = 'click') c
    ON p.user_id = c.user_id
   AND epoch_us(c.ts) <= epoch_us(p.ts)
   AND epoch_us(c.ts) > epoch_us(p.ts) - {MTA_LOOKBACK_US}
), credited AS (
  SELECT purchase_id, click_id,
         value * CAST(CAST(CAST(FLOOR((CASE WHEN n = 1 THEN 1.0
                WHEN n = 2 THEN 0.5
                WHEN pos = 1 OR pos = n THEN 0.4
                ELSE 0.2 / (n - 2) END) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS DECIMAL(9,6)) AS credit
  FROM touches
)
SELECT click_id % {{news_mod}} AS news_id,
       CAST(COUNT(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
       CAST(ROUND(SUM(credit), 4) AS DOUBLE) AS attributed_value
FROM credited
GROUP BY 1""".format(news_mod=NEWS_MOD),
)
def ef_attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**U-shaped (position-based) multi-touch attribution**: every
    click in the 7-day lookback before a purchase shares its value —
    40% to the FIRST touch, 40% to the LAST, 20% split across the
    middles (1 touch → 100%, 2 touches → 50/50) — the standard
    alternative to :func:`ef_attribution_report`'s last-click model,
    which over-credits the final touch. Per-news purchase reach and
    attributed revenue.

    Determinism: the fractional weights are quantized to 6 dp and
    applied as exact DECIMAL multiplications, so the per-news sums
    are associative and engine-identical; touch order ties break on
    click id. Scale: the lookback join shuffles on user_id (the
    banded rewrite of ``ef_range_join_banded`` applies verbatim if
    the lookback × click-rate fan-out ever dominates); the position
    window partitions by purchase — bounded by touches-per-purchase,
    never global."""
    ev = events_raw(spark, sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.expr("ts DIV 1000").alias("p_tsm"),
        F.col("value").cast("decimal(18,6)").alias("value"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.expr("ts DIV 1000").alias("c_tsm"),
    )
    touches = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_tsm") <= F.col("p_tsm"))
        & (F.col("c_tsm") > F.col("p_tsm") - MTA_LOOKBACK_US),
    )
    w = Window.partitionBy("purchase_id").orderBy(
        F.asc("c_tsm"), F.asc("click_id")
    )
    wn = Window.partitionBy("purchase_id")
    pos = touches.select(
        "purchase_id",
        "click_id",
        "value",
        F.row_number().over(w).alias("pos"),
        F.count("*").over(wn).alias("n"),
    )
    weight = (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("n") == 2, F.lit(0.5))
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("n")), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n") - 2))
    )
    credited = pos.select(
        "purchase_id",
        "click_id",
        (
            F.col("value") * ppm_value(weight).cast("decimal(9,6)")
        ).alias("credit"),
    )
    return (
        credited.groupBy((F.col("click_id") % NEWS_MOD).alias("news_id"))
        .agg(
            F.count_distinct("purchase_id").cast("long").alias("n_purchases"),
            F.round(F.sum("credit"), 4).cast("double").alias("attributed_value"),
        )
    )


# ----------------------------- shared conversion-subject base

def conversion_subjects(ev: DataFrame) -> DataFrame:
    """Per-user click→purchase subject base shared by the experiment
    family (KM, conversion z-test, log-rank, SPRT, power analysis):
    every click left-joined to the same user's purchases at µs epochs.
    Callers group on user_id and aggregate to their statistic's
    sufficient columns via :func:`converted_agg` / :func:`first_conv_agg`
    — the conversion definition (a STRICTLY-later purchase) lives here
    once instead of five hand-copies (session review)."""
    clicks_t = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.expr("ts DIV 1000").alias("ctsm")
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.expr("ts DIV 1000").alias("pts")
    )
    return clicks_t.join(purch, F.col("user_id") == F.col("p_user"), "left")


def converted_agg():
    """1 iff any purchase strictly follows a click (the family's
    shared conversion predicate)."""
    return F.max(F.when(F.col("pts") > F.col("ctsm"), 1).otherwise(0))


def first_conv_agg():
    """Earliest strictly-later purchase epoch (NULL = censored)."""
    return F.min(F.when(F.col("pts") > F.col("ctsm"), F.col("pts")))


#: SQL twin of :func:`conversion_subjects`: CTE ``conv(user_id, ctsm,
#: pts)``, every click left-joined to the same user's purchases.
_CONV_CTE = """conv AS (
  SELECT c.user_id, epoch_us(c.ts) AS ctsm, p.pts
  FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
  LEFT JOIN (SELECT user_id, epoch_us(ts) AS pts
             FROM events WHERE event_type = 'purchase') p
    ON p.user_id = c.user_id
)"""
#: SQL twins of :func:`converted_agg` / :func:`first_conv_agg` over ``conv``.
_CONVERTED_SQL = "MAX(CASE WHEN pts > ctsm THEN 1 ELSE 0 END)"
_FIRST_CONV_SQL = "MIN(CASE WHEN pts > ctsm THEN pts END)"


# ------------------------------------------------- survival analysis

#: Microseconds per day (duration discretization for the KM curve).
_US_PER_DAY = 86_400_000_000


@register(
    "ef_kaplan_meier",
    f"""WITH obs AS (
  SELECT MAX(epoch_us(ts)) AS t_end FROM events
), {_CONV_CTE}, subj AS (
  SELECT user_id, MIN(ctsm) AS t0, {_FIRST_CONV_SQL} AS tp
  FROM conv GROUP BY user_id
), durations AS (
  SELECT user_id,
         CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS event,
         CASE WHEN tp IS NOT NULL THEN (tp - t0) // {_US_PER_DAY}
              ELSE (obs.t_end - t0) // {_US_PER_DAY} END AS t_day
  FROM subj CROSS JOIN obs
), risk AS (
  SELECT t.t_day,
         (SELECT COUNT(*) FROM durations dd WHERE dd.t_day >= t.t_day)
           AS n_risk,
         (SELECT COUNT(*) FROM durations dd
          WHERE dd.t_day = t.t_day AND dd.event = 1) AS d_events
  FROM (SELECT DISTINCT t_day FROM durations WHERE event = 1) t
)
SELECT CAST(t_day AS BIGINT) AS t_day,
       CAST(n_risk AS BIGINT) AS n_risk,
       CAST(d_events AS BIGINT) AS d_events,
       ROUND(
         MIN(CASE WHEN d_events = n_risk THEN 0 ELSE 1 END)
           OVER (ORDER BY t_day)
         * EXP(SUM(CASE WHEN d_events < n_risk
                        THEN LN((n_risk - d_events) * 1.0 / n_risk)
                        ELSE 0 END)
               OVER (ORDER BY t_day)), 6) AS survival
FROM risk""",
)
def ef_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Kaplan-Meier survival curve** for click→purchase conversion:
    each user enters at their first click; the "event" is their first
    subsequent purchase; users who never purchase are RIGHT-CENSORED
    at the end of the observed log (dropping them would bias
    conversion-speed estimates optimistic — handling censoring is the
    entire point of KM over a plain duration histogram). Output: one
    step per event day with the at-risk count, events, and the
    survival estimate ``S(t) = Π (1 − dᵢ/nᵢ)``.

    Determinism: the product runs as ``exp(Σ ln(·))`` over a
    cumulative window and quantizes to 6 dp (30-ish log terms keep
    cross-libm drift far below); the ``d = n`` absorbing state is
    handled with an explicit running zero flag rather than ``ln(0)``.

    Scale: subjects collapse to one row per user (first-touch
    aggregate, shuffle on user_id); the risk table is one row per
    DISTINCT event day, so the at-risk/event counts and the window run
    over ~tens of rows regardless of corpus size."""

    ev = events_raw(spark, sf_dir)
    t_end = ev.agg(F.expr("MAX(ts DIV 1000)").alias("t_end"))
    subj = (
        conversion_subjects(ev)
        .groupBy("user_id")
        .agg(F.min("ctsm").alias("t0"), first_conv_agg().alias("tp"))
    )
    durations = bsp.persist(
        subj.crossJoin(F.broadcast(t_end)).select(
            (F.col("tp").isNotNull()).cast("int").alias("event"),
            F.when(
                F.col("tp").isNotNull(),
                F.expr(f"(tp - t0) DIV {_US_PER_DAY}"),
            )
            .otherwise(F.expr(f"(t_end - t0) DIV {_US_PER_DAY}"))
            .alias("t_day"),
        )
    )
    event_days = (
        durations.filter(F.col("event") == 1).select("t_day").distinct()
    )
    d_at = (
        durations.filter(F.col("event") == 1)
        .groupBy("t_day")
        .agg(F.count("*").alias("d_events"))
    )
    risk = (
        event_days.alias("t")
        .join(
            durations.alias("dd"),
            F.col("dd.t_day") >= F.col("t.t_day"),
        )
        .groupBy(F.col("t.t_day").alias("t_day"))
        .agg(F.count("*").alias("n_risk"))
        .join(d_at, "t_day")
    )
    w = Window.orderBy("t_day")
    alive = F.min(
        F.when(F.col("d_events") == F.col("n_risk"), 0).otherwise(1)
    ).over(w)
    logsum = F.sum(
        F.when(
            F.col("d_events") < F.col("n_risk"),
            F.log(
                (F.col("n_risk") - F.col("d_events"))
                * F.lit(1.0)
                / F.col("n_risk")
            ),
        ).otherwise(F.lit(0.0))
    ).over(w)
    out = risk.select(
        F.col("t_day").cast("long").alias("t_day"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d_events").cast("long").alias("d_events"),
        F.round(alive * F.exp(logsum), 6).alias("survival"),
    )
    return bsp.checkpoint_result(out)


# ------------------------------------- conversion-rate significance

@register(
    "ef_conversion_ztest",
    f"""WITH {_CONV_CTE}, subj AS (
  SELECT user_id, CAST({_CONVERTED_SQL} AS INTEGER) AS converted,
         CAST(MIN(ctsm) AS BIGINT) % 2 AS cohort
  FROM conv GROUP BY user_id
), g AS (
  SELECT cohort,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(converted) AS BIGINT) AS x
  FROM subj GROUP BY cohort
)
SELECT a.n AS n_a, a.x AS x_a, b.n AS n_b, b.x AS x_b,
       CAST(CAST(FLOOR((CAST(a.x AS DOUBLE) / a.n - CAST(b.x AS DOUBLE) / b.n) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0
         AS rate_diff,
       CASE WHEN a.x + b.x = 0 OR a.x + b.x = a.n + b.n THEN 0.0
            ELSE ROUND(
              (CAST(a.x AS DOUBLE) / a.n - CAST(b.x AS DOUBLE) / b.n)
              / sqrt(
                  (CAST(a.x + b.x AS DOUBLE) / (a.n + b.n))
                  * (1 - CAST(a.x + b.x AS DOUBLE) / (a.n + b.n))
                  * (1.0 / a.n + 1.0 / b.n)
                ), 6) END AS z_stat
FROM (SELECT * FROM g WHERE cohort = 0) a
CROSS JOIN (SELECT * FROM g WHERE cohort = 1) b""",
)
def ef_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Two-proportion z-test** on click→purchase conversion between
    two deterministic user cohorts (first-click-timestamp parity — a
    hash-free A/B stand-in that mirrors how a real experiment would
    compare bucketed users): pooled-proportion z statistic for "is the
    conversion-rate difference noise". The significance arithmetic
    every funnel comparison ends with, next to the KM curve (speed)
    and the funnel counts (volume). Exact integer counts; the z
    divides quantized doubles built from identical operands, so the
    single row hash-matches."""
    ev = events_raw(spark, sf_dir)
    subj = (
        conversion_subjects(ev)
        .groupBy("user_id")
        .agg(
            converted_agg().alias("converted"),
            (F.min("ctsm") % 2).alias("cohort"),
        )
    )
    g = subj.groupBy("cohort").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("converted").cast("long").alias("x"),
    )
    a = g.filter(F.col("cohort") == 0).select(
        F.col("n").alias("n_a"), F.col("x").alias("x_a")
    )
    b = g.filter(F.col("cohort") == 1).select(
        F.col("n").alias("n_b"), F.col("x").alias("x_b")
    )
    j = a.crossJoin(b)
    ra = F.col("x_a").cast("double") / F.col("n_a")
    rb = F.col("x_b").cast("double") / F.col("n_b")
    pool = (F.col("x_a") + F.col("x_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(
        pool * (1 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    # degenerate pooled rates (0% or 100% conversion — sf0.001 converts
    # everyone) pin z to 0 rather than dividing by a zero SE
    degenerate = (F.col("x_a") + F.col("x_b") == 0) | (
        F.col("x_a") + F.col("x_b") == F.col("n_a") + F.col("n_b")
    )
    return j.select(
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        ppm_value(ra - rb).alias("rate_diff"),
        F.when(degenerate, F.lit(0.0))
        .otherwise(F.round((ra - rb) / se, 6))
        .alias("z_stat"),
    )


# --------------------------------------------------- log-rank test

@register(
    "ef_logrank_test",
    f"""WITH obs AS (
  SELECT MAX(epoch_us(ts)) AS t_end FROM events
), {_CONV_CTE}, subj AS (
  SELECT user_id, MIN(ctsm) AS t0, {_FIRST_CONV_SQL} AS tp,
         CAST(MIN(ctsm) AS BIGINT) % 2 AS cohort
  FROM conv GROUP BY user_id
), durations AS (
  SELECT cohort,
         CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS event,
         CASE WHEN tp IS NOT NULL THEN (tp - t0) // {_US_PER_DAY}
              ELSE (obs.t_end - t0) // {_US_PER_DAY} END AS t_day
  FROM subj CROSS JOIN obs
), terms AS (
  SELECT t.t_day,
         (SELECT COUNT(*) FROM durations d
          WHERE d.t_day >= t.t_day AND d.cohort = 0) AS na,
         (SELECT COUNT(*) FROM durations d
          WHERE d.t_day >= t.t_day) AS n,
         (SELECT COUNT(*) FROM durations d
          WHERE d.t_day = t.t_day AND d.event = 1 AND d.cohort = 0) AS da,
         (SELECT COUNT(*) FROM durations d
          WHERE d.t_day = t.t_day AND d.event = 1) AS d
  FROM (SELECT DISTINCT t_day FROM durations WHERE event = 1) t
)
SELECT CAST(SUM(da) AS BIGINT) AS observed_a,
       ROUND(SUM(CAST(d AS DOUBLE) * na / n), 6) AS expected_a,
       ROUND(
         CASE WHEN SUM(CASE WHEN n > 1
                            THEN CAST(d AS DOUBLE) * na / n * (n - na) / n
                                 * (n - d) / (n - 1) ELSE 0 END) = 0
              THEN 0.0
              ELSE POW(SUM(da) - SUM(CAST(d AS DOUBLE) * na / n), 2)
                   / SUM(CASE WHEN n > 1
                              THEN CAST(d AS DOUBLE) * na / n * (n - na) / n
                                   * (n - d) / (n - 1) ELSE 0 END) END,
         6) AS logrank_chi2
FROM terms""",
)
def ef_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Log-rank test** between the two deterministic cohorts'
    conversion survival curves — the statistically-correct way to
    compare two Kaplan-Meier curves (:func:`ef_kaplan_meier` draws
    them; a naive rate comparison like the z-test ignores censoring):
    at each event day, compare cohort A's observed events to its
    hypergeometric expectation given the pooled risk set; the
    chi-square is ``(Σ(Oₐ−Eₐ))² / ΣV``. One row: observed, expected,
    statistic (1 dof).

    All per-day counts are exact integers via the same at-risk
    aggregation as KM; the double products quantize at 6 dp (tens of
    ~unit-magnitude terms, far inside the window). Zero pooled
    variance (degenerate risk sets) pins the statistic to 0."""

    ev = events_raw(spark, sf_dir)
    t_end = ev.agg(F.expr("MAX(ts DIV 1000)").alias("t_end"))
    subj = (
        conversion_subjects(ev)
        .groupBy("user_id")
        .agg(F.min("ctsm").alias("t0"), first_conv_agg().alias("tp"))
        .withColumn("cohort", F.col("t0") % 2)
    )
    durations = bsp.persist(
        subj.crossJoin(F.broadcast(t_end)).select(
            "cohort",
            (F.col("tp").isNotNull()).cast("int").alias("event"),
            F.when(
                F.col("tp").isNotNull(),
                F.expr(f"(tp - t0) DIV {_US_PER_DAY}"),
            )
            .otherwise(F.expr(f"(t_end - t0) DIV {_US_PER_DAY}"))
            .alias("t_day"),
        )
    )
    event_days = (
        durations.filter(F.col("event") == 1).select("t_day").distinct()
    )
    terms = (
        event_days.alias("t")
        .join(durations.alias("dd"), F.col("dd.t_day") >= F.col("t.t_day"))
        .groupBy(F.col("t.t_day").alias("t_day"))
        .agg(
            F.sum(F.when(F.col("dd.cohort") == 0, 1).otherwise(0)).alias("na"),
            F.count("*").alias("n"),
            F.sum(
                F.when(
                    (F.col("dd.t_day") == F.col("t.t_day"))
                    & (F.col("dd.event") == 1)
                    & (F.col("dd.cohort") == 0),
                    1,
                ).otherwise(0)
            ).alias("da"),
            F.sum(
                F.when(
                    (F.col("dd.t_day") == F.col("t.t_day"))
                    & (F.col("dd.event") == 1),
                    1,
                ).otherwise(0)
            ).alias("d"),
        )
    )
    e_a = F.col("d").cast("double") * F.col("na") / F.col("n")
    v = F.when(
        F.col("n") > 1,
        F.col("d").cast("double")
        * F.col("na")
        / F.col("n")
        * (F.col("n") - F.col("na"))
        / F.col("n")
        * (F.col("n") - F.col("d"))
        / (F.col("n") - 1),
    ).otherwise(F.lit(0.0))
    out = terms.agg(
        F.sum("da").cast("long").alias("observed_a"),
        F.round(F.sum(e_a), 6).alias("expected_a"),
        F.round(
            F.when(F.sum(v) == 0, F.lit(0.0)).otherwise(
                F.pow(F.sum("da") - F.sum(e_a), 2) / F.sum(v)
            ),
            6,
        ).alias("logrank_chi2"),
    )
    return bsp.checkpoint_result(out)


# --------------------------------------------------- Welch's t-test

#: Shared A/B subject table for the value-based tests: per-user
#: purchase revenue (exact DECIMAL(18,6) sum → identical doubles on
#: both engines), cohort = user_id parity (deterministic bucketing,
#: same convention family as the z-test's first-click parity).
_VALUE_SUBJ_CTE = """subj AS (
  SELECT user_id,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS x,
         CAST(user_id % 2 AS BIGINT) AS cohort
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
)"""


@register(
    "ef_welch_ttest",
    f"""WITH {_VALUE_SUBJ_CTE}, g AS (
  SELECT cohort,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(x, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(ROUND(x * x, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxx
  FROM subj GROUP BY cohort
), ab AS (
  SELECT a.n AS n_a, a.sx AS sx_a, a.sxx AS sxx_a,
         b.n AS n_b, b.sx AS sx_b, b.sxx AS sxx_b
  FROM (SELECT * FROM g WHERE cohort = 0) a
  CROSS JOIN (SELECT * FROM g WHERE cohort = 1) b
)
SELECT n_a, n_b,
       CAST(CAST(FLOOR((sx_a / n_a) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS mean_a,
       CAST(CAST(FLOOR((sx_b / n_b) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS mean_b,
       ROUND((sx_a / n_a - sx_b / n_b)
             / sqrt((sxx_a - sx_a * sx_a / n_a) / (n_a - 1) / n_a
                    + (sxx_b - sx_b * sx_b / n_b) / (n_b - 1) / n_b),
             6) AS t_stat,
       ROUND(POW((sxx_a - sx_a * sx_a / n_a) / (n_a - 1) / n_a
                 + (sxx_b - sx_b * sx_b / n_b) / (n_b - 1) / n_b, 2)
             / (POW((sxx_a - sx_a * sx_a / n_a) / (n_a - 1) / n_a, 2)
                  / (n_a - 1)
                + POW((sxx_b - sx_b * sx_b / n_b) / (n_b - 1) / n_b, 2)
                  / (n_b - 1)),
             6) AS welch_df
FROM ab""",
)
def ef_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Welch's unequal-variance t-test** on per-user purchase revenue
    between the two deterministic user-parity cohorts — the workhorse
    continuous-metric A/B comparison next to the z-test (rates), the
    log-rank (speed) and Mann-Whitney (ranks). One row: cohort sizes,
    means, t statistic, Welch-Satterthwaite degrees of freedom.

    Determinism: per-user revenue is an exact DECIMAL sum; the
    cross-user moment sums quantize each term at 6 dp and accumulate
    in DECIMAL (no order-dependent double accumulation anywhere), so
    mean/variance/t are identical double expressions over identical
    operands on both engines. Plan: one hash aggregate on user_id, one
    2-row aggregate, one broadcast cross of two 1-row sides."""
    ev = events_raw(spark, sf_dir)
    subj = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("x")
        )
        .select("x", (F.col("user_id") % 2).alias("cohort"))
    )
    g = subj.groupBy("cohort").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.round(F.col("x"), 6).cast("decimal(28,6)"))
        .cast("double")
        .alias("sx"),
        F.sum(F.round(F.col("x") * F.col("x"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxx"),
    )
    a = g.filter(F.col("cohort") == 0).select(
        F.col("n").alias("n_a"),
        F.col("sx").alias("sx_a"),
        F.col("sxx").alias("sxx_a"),
    )
    b = g.filter(F.col("cohort") == 1).select(
        F.col("n").alias("n_b"),
        F.col("sx").alias("sx_b"),
        F.col("sxx").alias("sxx_b"),
    )
    j = a.crossJoin(b)
    se2_a = (
        (F.col("sxx_a") - F.col("sx_a") * F.col("sx_a") / F.col("n_a"))
        / (F.col("n_a") - 1)
        / F.col("n_a")
    )
    se2_b = (
        (F.col("sxx_b") - F.col("sx_b") * F.col("sx_b") / F.col("n_b"))
        / (F.col("n_b") - 1)
        / F.col("n_b")
    )
    return j.select(
        "n_a",
        "n_b",
        ppm_value(F.col("sx_a") / F.col("n_a")).alias("mean_a"),
        ppm_value(F.col("sx_b") / F.col("n_b")).alias("mean_b"),
        F.round(
            (F.col("sx_a") / F.col("n_a") - F.col("sx_b") / F.col("n_b"))
            / F.sqrt(se2_a + se2_b),
            6,
        ).alias("t_stat"),
        F.round(
            F.pow(se2_a + se2_b, 2)
            / (
                F.pow(se2_a, 2) / (F.col("n_a") - 1)
                + F.pow(se2_b, 2) / (F.col("n_b") - 1)
            ),
            6,
        ).alias("welch_df"),
    )


# ------------------------------------------------ Mann-Whitney U test

@register(
    "ef_mannwhitney_u",
    """WITH subj AS (
  SELECT user_id,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS x,
         CAST(user_id % 2 AS BIGINT) AS cohort
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
), byval AS (
  SELECT x,
         CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS cnt_a,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM subj GROUP BY x
), ranked AS (
  SELECT cnt_a, cnt,
         2 * (SUM(cnt) OVER (ORDER BY x
                             ROWS UNBOUNDED PRECEDING) - cnt)
           + cnt + 1 AS rank2
  FROM byval
), s AS (
  SELECT CAST(SUM(cnt_a) AS BIGINT) AS n_a,
         CAST(SUM(cnt - cnt_a) AS BIGINT) AS n_b,
         CAST(SUM(cnt_a * rank2) AS BIGINT) AS ra2
  FROM ranked
)
SELECT n_a, n_b,
       ROUND((CAST(ra2 AS DOUBLE) / 2 - CAST(n_a AS DOUBLE) * (n_a + 1) / 2),
             6) AS u_a,
       ROUND(((CAST(ra2 AS DOUBLE) / 2 - CAST(n_a AS DOUBLE) * (n_a + 1) / 2)
              - CAST(n_a AS DOUBLE) * n_b / 2)
             / sqrt(CAST(n_a AS DOUBLE) * n_b * (n_a + n_b + 1) / 12),
             6) AS z_stat
FROM s""",
)
def ef_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Mann-Whitney U (rank-sum) test** on per-user purchase revenue
    between the user-parity cohorts — the distribution-free alternative
    to :func:`ef_welch_ttest` when revenue is heavy-tailed (it always
    is). One row: cohort sizes, U statistic for cohort A, normal-
    approximation z (no tie correction; documented simple form).

    Scale design: ranks are NEVER assigned per subject. The metric is
    cent-quantized (``ROUND(x, 2)`` — revenue is a money grid anyway),
    subjects aggregate to per-distinct-value cohort counts first, and
    average ranks come from a running sum over the *distinct-value*
    relation (bounded by the money grid, orders of magnitude smaller
    than the user count), using the exact-integer identity
    ``2·avgrank = 2·cum_before + cnt + 1``. All rank sums are exact
    BIGINTs — no cross-engine float drift by construction. The running
    sum itself is the two-phase distributed prefix sum
    (``operators/prefix.py``, round-11 verdict item 6) — per-bucket
    windows + broadcast triangular-join offsets, no single-partition
    window even over the distinct-value relation."""
    from .prefix import with_cum_before

    ev = events_raw(spark, sf_dir)
    subj = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"),
                2,
            ).alias("x")
        )
        .select("x", (F.col("user_id") % 2).alias("cohort"))
    )
    byval = subj.groupBy("x").agg(
        F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0))
        .cast("long")
        .alias("cnt_a"),
        F.count("*").cast("long").alias("cnt"),
    )
    ranked = with_cum_before(
        byval,
        "x",
        ["cnt"],
        F.floor(F.col("x") / 64.0).cast("long"),
    ).select(
        "cnt_a",
        "cnt",
        (2 * F.col("cum_before_cnt") + F.col("cnt") + 1).alias("rank2"),
    )
    s = ranked.agg(
        F.sum("cnt_a").cast("long").alias("n_a"),
        F.sum(F.col("cnt") - F.col("cnt_a")).cast("long").alias("n_b"),
        F.sum(F.col("cnt_a") * F.col("rank2")).cast("long").alias("ra2"),
    )
    u_a = (
        F.col("ra2").cast("double") / 2
        - F.col("n_a").cast("double") * (F.col("n_a") + 1) / 2
    )
    return s.select(
        "n_a",
        "n_b",
        F.round(u_a, 6).alias("u_a"),
        F.round(
            (u_a - F.col("n_a").cast("double") * F.col("n_b") / 2)
            / F.sqrt(
                F.col("n_a").cast("double")
                * F.col("n_b")
                * (F.col("n_a") + F.col("n_b") + 1)
                / 12
            ),
            6,
        ).alias("z_stat"),
    )


# ---------------------------------------------------- CUPED adjustment

@register(
    "ef_cuped_adjustment",
    """WITH mid AS (
  SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS t_mid FROM events
), subj AS (
  SELECT e.user_id,
         CAST(COALESCE(SUM(CASE WHEN e.event_type = 'purchase'
                                 AND epoch_us(e.ts) < mid.t_mid
                            THEN CAST(e.value AS DECIMAL(18,6)) END),
                       0) AS DOUBLE) AS x,
         CAST(COALESCE(SUM(CASE WHEN e.event_type = 'purchase'
                                 AND epoch_us(e.ts) >= mid.t_mid
                            THEN CAST(e.value AS DECIMAL(18,6)) END),
                       0) AS DOUBLE) AS y,
         CAST(e.user_id % 2 AS BIGINT) AS cohort
  FROM events e CROSS JOIN mid
  GROUP BY e.user_id
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(x, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(ROUND(y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(x * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(ROUND(x * x, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(ROUND(y * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS syy
  FROM subj
), theta AS (
  SELECT n, sx, sy, sxy, sxx, syy,
         CASE WHEN sxx / n - (sx / n) * (sx / n) = 0 THEN 0.0
              ELSE (sxy / n - (sx / n) * (sy / n))
                   / (sxx / n - (sx / n) * (sx / n)) END AS th
  FROM m
), g AS (
  SELECT cohort,
         CAST(COUNT(*) AS BIGINT) AS n_c,
         CAST(SUM(CAST(ROUND(x, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sx_c,
         CAST(SUM(CAST(ROUND(y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sy_c
  FROM subj GROUP BY cohort
)
SELECT t.n AS n_users,
       ROUND(t.th, 6) AS theta,
       ROUND(a.sy_c / a.n_c - b.sy_c / b.n_c, 6) AS raw_diff,
       ROUND((a.sy_c / a.n_c - t.th * (a.sx_c / a.n_c - t.sx / t.n))
             - (b.sy_c / b.n_c - t.th * (b.sx_c / b.n_c - t.sx / t.n)),
             6) AS adj_diff,
       ROUND(CASE WHEN (t.sxx / t.n - POW(t.sx / t.n, 2)) = 0
                    OR (t.syy / t.n - POW(t.sy / t.n, 2)) = 0 THEN 0.0
                  ELSE POW(t.sxy / t.n - (t.sx / t.n) * (t.sy / t.n), 2)
                       / (t.sxx / t.n - POW(t.sx / t.n, 2))
                       / (t.syy / t.n - POW(t.sy / t.n, 2)) END,
             6) AS var_reduction
FROM theta t
CROSS JOIN (SELECT * FROM g WHERE cohort = 0) a
CROSS JOIN (SELECT * FROM g WHERE cohort = 1) b""",
)
def ef_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**CUPED variance reduction** for the revenue A/B comparison:
    pre-period revenue (before the global event-time midpoint) is the
    covariate X, experiment-period revenue is the metric Y, and the
    adjusted metric is ``Y − θ(X − X̄)`` with ``θ = cov(X,Y)/var(X)``
    fitted on the pooled population. One row: θ, the raw cohort mean
    difference, the CUPED-adjusted difference, and the theoretical
    variance-reduction factor ρ² (the fraction of metric variance the
    covariate removes).

    All users appear (zero-revenue users carry X=0/Y=0 — CUPED is
    defined on the full assignment population, not just purchasers).
    Moments use the same quantize-then-DECIMAL-accumulate discipline
    as :func:`ef_welch_ttest`, so θ is an identical double on both
    engines. Plan: one scalar min/max broadcast, one hash aggregate on
    user_id, two tiny aggregates, broadcast crosses of 1-row sides."""
    ev = events_raw(spark, sf_dir)
    mid = ev.agg(
        ((F.min(F.expr("ts DIV 1000")) + F.max(F.expr("ts DIV 1000"))) / 2)
        .cast("long")
        .alias("t_mid")
    )
    dv = F.col("value").cast("decimal(18,6)")
    tsm = F.expr("ts DIV 1000")
    is_p = F.col("event_type") == "purchase"
    # subj feeds both the pooled moments and the per-cohort aggregate
    # (whose output feeds both cohort sides) — persist, released after
    # the 1-row result materializes (r12 scan audit: 6 duplicate scans
    # before)
    subj = bsp.persist(
        ev.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(is_p & (tsm < F.col("t_mid")), dv)), F.lit(0)
            )
            .cast("double")
            .alias("x"),
            F.coalesce(
                F.sum(F.when(is_p & (tsm >= F.col("t_mid")), dv)), F.lit(0)
            )
            .cast("double")
            .alias("y"),
        )
        .select("x", "y", (F.col("user_id") % 2).alias("cohort"))
    )
    m = subj.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.round(F.col("x"), 6).cast("decimal(28,6)"))
        .cast("double")
        .alias("sx"),
        F.sum(F.round(F.col("y"), 6).cast("decimal(28,6)"))
        .cast("double")
        .alias("sy"),
        F.sum(F.round(F.col("x") * F.col("y"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.round(F.col("x") * F.col("x"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.round(F.col("y") * F.col("y"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("syy"),
    )
    var_x = F.col("sxx") / F.col("n") - F.pow(F.col("sx") / F.col("n"), 2)
    var_y = F.col("syy") / F.col("n") - F.pow(F.col("sy") / F.col("n"), 2)
    cov = F.col("sxy") / F.col("n") - (F.col("sx") / F.col("n")) * (
        F.col("sy") / F.col("n")
    )
    theta = m.select(
        "n",
        "sx",
        F.when(var_x == 0, F.lit(0.0)).otherwise(cov / var_x).alias("th"),
        F.when((var_x == 0) | (var_y == 0), F.lit(0.0))
        .otherwise(F.pow(cov, 2) / var_x / var_y)
        .alias("rho2"),
    )
    g = subj.groupBy("cohort").agg(
        F.count("*").cast("long").alias("n_c"),
        F.sum(F.round(F.col("x"), 6).cast("decimal(28,6)"))
        .cast("double")
        .alias("sx_c"),
        F.sum(F.round(F.col("y"), 6).cast("decimal(28,6)"))
        .cast("double")
        .alias("sy_c"),
    ).localCheckpoint(eager=True)
    a = g.filter(F.col("cohort") == 0).select(
        F.col("n_c").alias("n_a"),
        F.col("sx_c").alias("sx_a"),
        F.col("sy_c").alias("sy_a"),
    )
    b = g.filter(F.col("cohort") == 1).select(
        F.col("n_c").alias("n_b"),
        F.col("sx_c").alias("sx_b"),
        F.col("sy_c").alias("sy_b"),
    )
    j = theta.crossJoin(a).crossJoin(b)
    mean_x = F.col("sx") / F.col("n")
    adj_a = F.col("sy_a") / F.col("n_a") - F.col("th") * (
        F.col("sx_a") / F.col("n_a") - mean_x
    )
    adj_b = F.col("sy_b") / F.col("n_b") - F.col("th") * (
        F.col("sx_b") / F.col("n_b") - mean_x
    )
    out = j.select(
        F.col("n").alias("n_users"),
        F.round(F.col("th"), 6).alias("theta"),
        F.round(
            F.col("sy_a") / F.col("n_a") - F.col("sy_b") / F.col("n_b"), 6
        ).alias("raw_diff"),
        F.round(adj_a - adj_b, 6).alias("adj_diff"),
        F.round(F.col("rho2"), 6).alias("var_reduction"),
    )
    return bsp.checkpoint_result(out)


# --------------------------------------------------- forward as-of join

@register(
    "ef_asof_forward",
    """SELECT p.user_id,
       p.event_id AS purchase_id,
       epoch_us(p.ts) AS purchase_tsm,
       c.event_id AS click_id,
       epoch_us(c.ts) AS click_tsm,
       epoch_us(c.ts) - epoch_us(p.ts) AS gap_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts <= c.ts""",
)
def ef_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Forward as-of join**: each purchase matched to the same
    user's EARLIEST click at-or-after it — the post-purchase-behavior
    direction (did the buyer come back?), the mirror of
    :func:`ef_asof_purchase_click`. Implemented by time negation: run
    the identical carry-forward core (:func:`asof_last_prior`) on
    ``−ts``, where "last prior" becomes "first following" and the
    inclusive ``>=`` becomes the inclusive ``<=``. Same single
    user-shuffle + sort plan; the oracle is DuckDB's native forward
    ``ASOF`` (``ON p.ts <= c.ts``) — an independent implementation.

    Event-id tiebreak note: at an exactly-equal (user, ts) pair of
    clicks, the core's residual ``event_id`` order under negation
    picks the same row DuckDB picks (first in scan order at equal
    keys), verified by the fixture hash; sub-micro ordering never
    exists on either side (both truncate to micros)."""
    ev = events_raw(spark, sf_dir)
    tagged = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "event_id",
        (-F.expr("ts DIV 1000")).alias("tsm"),
        F.when(F.col("event_type") == "click", F.lit(0))
        .otherwise(F.lit(1))
        .alias("side"),
    )
    out = asof_last_prior(tagged)
    return out.select(
        "user_id",
        "purchase_id",
        (-F.col("purchase_tsm")).alias("purchase_tsm"),
        "click_id",
        (-F.col("click_tsm")).alias("click_tsm"),
        F.col("gap_us").alias("gap_us"),
    )


# ------------------------------- Markov removal-effect attribution

#: Channel count (clicked news bucketed to M marketing "channels"),
#: absorbing-state codes, and the fixed absorption horizon 2^SQUARINGS.
MARKOV_CHANNELS = 4
_MK_START, _MK_CONV, _MK_NULL = 100, 101, 102
MARKOV_SQUARINGS = 7  # P^128


def _mk_variant_sql(tag: str, removed: int | None) -> str:
    """CTE chain for one chain variant: the (optionally channel-removed)
    transition matrix and its MARKOV_SQUARINGS unrolled squarings."""
    if removed is None:
        head = f"{tag}_0 AS MATERIALIZED (SELECT i, j, p FROM m0)"
    else:
        head = f"""{tag}_0 AS MATERIALIZED (
  SELECT i, jj AS j, SUM(p) AS p FROM (
    SELECT i, CASE WHEN j = {removed} THEN {_MK_NULL} ELSE j END AS jj, p
    FROM m0 WHERE i <> {removed}
  ) GROUP BY i, jj
)"""
    sqs = ",\n".join(
        f"""{tag}_{k + 1} AS MATERIALIZED (
  SELECT a.i, b.j, ROUND(SUM(a.p * b.p), 9) AS p
  FROM {tag}_{k} a JOIN {tag}_{k} b ON a.j = b.i GROUP BY a.i, b.j
)"""
        for k in range(MARKOV_SQUARINGS)
    )
    sel = (
        f"{tag}_s AS (SELECT COALESCE(MAX(CASE WHEN i = {_MK_START} AND "
        f"j = {_MK_CONV} THEN p END), 0) AS pconv "
        f"FROM {tag}_{MARKOV_SQUARINGS})"
    )
    return ",\n".join([head, sqs, sel])


def _mk_oracle() -> str:
    variants = [_mk_variant_sql("mb", None)] + [
        _mk_variant_sql(f"mr{c}", c) for c in range(MARKOV_CHANNELS)
    ]
    rows = "\nUNION ALL\n".join(
        f"SELECT {c} AS channel, (SELECT pconv FROM mb_s) AS base_conv_prob,"
        f" (SELECT pconv FROM mr{c}_s) AS rm_conv_prob"
        for c in range(MARKOV_CHANNELS)
    )
    return f"""WITH clicks AS (
  SELECT user_id, epoch_us(ts) AS t, event_id,
         CAST((event_id % {NEWS_MOD}) % {MARKOV_CHANNELS} AS BIGINT) AS ch
  FROM events WHERE event_type = 'click'
), lastp AS (
  SELECT user_id, MAX(epoch_us(ts)) AS pt FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
), seq AS (
  SELECT user_id, ch, t, event_id,
         lead(ch) OVER (PARTITION BY user_id ORDER BY t, event_id) AS nxt,
         row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS rn,
         MAX(t) OVER (PARTITION BY user_id) AS last_t
  FROM clicks
), conv AS (
  SELECT s.user_id,
         CASE WHEN lp.pt > s.last_t THEN {_MK_CONV} ELSE {_MK_NULL} END
           AS term
  FROM (SELECT DISTINCT user_id, last_t FROM seq) s
  LEFT JOIN lastp lp ON lp.user_id = s.user_id
), edges AS (
  SELECT {_MK_START} AS src, ch AS dst FROM seq WHERE rn = 1
  UNION ALL
  SELECT ch AS src, nxt AS dst FROM seq WHERE nxt IS NOT NULL
  UNION ALL
  SELECT s.ch AS src, c.term AS dst
  FROM seq s JOIN conv c ON s.user_id = c.user_id WHERE s.nxt IS NULL
), m0 AS MATERIALIZED (
  SELECT src AS i, dst AS j,
         CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (PARTITION BY src)
           AS p
  FROM edges GROUP BY src, dst
  UNION ALL SELECT {_MK_CONV}, {_MK_CONV}, 1.0
  UNION ALL SELECT {_MK_NULL}, {_MK_NULL}, 1.0
),
{",".join(variants)}
SELECT channel,
       ROUND(base_conv_prob, 6) AS base_conv_prob,
       ROUND(rm_conv_prob, 6) AS rm_conv_prob,
       ROUND(CASE WHEN base_conv_prob = 0 THEN 0.0
                  ELSE 1 - rm_conv_prob / base_conv_prob END, 6)
         AS removal_effect
FROM ({rows})"""


@register("ef_markov_attribution", _mk_oracle())
def ef_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Markov removal-effect attribution** — the data-driven
    multi-touch model that replaces heuristic position weights
    (:func:`ef_attribution_position_based`): user click journeys over
    ``MARKOV_CHANNELS`` channels become a first-order Markov chain
    (START → channels → CONV/NULL absorbing), and each channel's
    credit is its *removal effect* — how much the START→CONV
    absorption probability drops when that channel's states collapse
    into NULL.

    Absorption probabilities are computed at a fixed 2^7 = 128-step
    horizon by **matrix squaring** (P → P² → P⁴ → … → P¹²⁸), each cell
    re-quantized at 9 dp so both engines square identical matrices —
    the same discipline that makes the Lloyd fit verifiable. The
    DISTRIBUTED part is what scales with data: journeys → transition
    counts → the m0 relation shuffle once on user_id. The matrix
    itself is ≤(M+3)² ≈ 100 cells BY CONSTRUCTION, so the six variant
    power chains run as exact driver arithmetic over the collected
    cells (the documented bounded-state pattern — channel-count-
    bounded, never rows-proportional; the former all-Spark chains
    spent 5+ s scheduling ~42 micro-jobs over ≤49-row relations,
    the r10-verdict watch item on this query).

    Output: one row per channel with base/removed conversion
    probability and the removal effect."""

    ev = events_raw(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.expr("ts DIV 1000").alias("t"),
        "event_id",
        ((F.col("event_id") % NEWS_MOD) % MARKOV_CHANNELS)
        .cast("long")
        .alias("ch"),
    )
    lastp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.max(F.expr("ts DIV 1000")).alias("pt"))
    )
    wseq = Window.partitionBy("user_id").orderBy("t", "event_id")
    seq = clicks.select(
        "user_id",
        "ch",
        F.lead("ch").over(wseq).alias("nxt"),
        F.row_number().over(wseq).alias("rn"),
        F.max("t").over(Window.partitionBy("user_id")).alias("last_t"),
    )
    # Persisted: conv plus all three edge branches (one of which joins
    # conv, itself seq-derived) read this subtree — unpersisted, the
    # events scan + window chain executes ~5x building m0 (no
    # cross-subtree CSE). Released when the query scope closes.
    bsp.persist(seq)
    conv = (
        seq.select("user_id", "last_t")
        .distinct()
        .join(lastp, "user_id", "left")
        .select(
            "user_id",
            F.when(F.col("pt") > F.col("last_t"), F.lit(_MK_CONV))
            .otherwise(F.lit(_MK_NULL))
            .alias("term"),
        )
    )
    edges = (
        seq.filter(F.col("rn") == 1)
        .select(F.lit(_MK_START).alias("src"), F.col("ch").alias("dst"))
        .unionByName(
            seq.filter(F.col("nxt").isNotNull()).select(
                F.col("ch").alias("src"), F.col("nxt").alias("dst")
            )
        )
        .unionByName(
            seq.filter(F.col("nxt").isNull())
            .join(conv, "user_id")
            .select(F.col("ch").alias("src"), F.col("term").alias("dst"))
        )
    )
    wsrc = Window.partitionBy("src")
    m0 = (
        edges.groupBy("src", "dst")
        .agg(F.count("*").alias("c"))
        .select(
            F.col("src").alias("i"),
            F.col("dst").alias("j"),
            (F.col("c").cast("double") / F.sum("c").over(wsrc)).alias("p"),
        )
        .unionByName(
            spark.createDataFrame(
                [(_MK_CONV, _MK_CONV, 1.0), (_MK_NULL, _MK_NULL, 1.0)],
                "i long, j long, p double",
            )
        )
    )
    # The matrix powers run ON THE DRIVER: P is (MARKOV_CHANNELS+3)² ≤
    # 100 cells BY CONSTRUCTION — channel-count-bounded, never
    # rows-proportional — so this .collect() is the documented
    # bounded-state loop pattern (operators/ml.py GD weights). The
    # previous form ran the six variant chains as ~42 eager
    # localCheckpoint micro-jobs over ≤49-row relations, which is pure
    # job-scheduling latency (the r10-verdict 5+ s watch item on this
    # query); the distributed part that actually scales with data —
    # journeys → transition counts → m0 — is unchanged. Cells are
    # sorted before accumulating so the driver arithmetic is
    # bit-deterministic regardless of collect/partition order
    # (stronger than the old shuffle-order Spark sums).
    cells = {(r["i"], r["j"]): r["p"] for r in m0.collect()}

    def py_round9(v: float) -> float:
        # F.round(double, 9) is BigDecimal.valueOf(v).setScale(9,
        # HALF_UP) — HALF_UP on the SHORTEST decimal repr of the
        # double, which is exactly Decimal(repr(v)) in Python.
        import decimal

        return float(
            decimal.Decimal(repr(v)).quantize(
                decimal.Decimal("1e-9"), rounding=decimal.ROUND_HALF_UP
            )
        )

    def py_square(m: dict) -> dict:
        # one squaring, each cell re-quantized at 9 dp — the same
        # per-round discipline the DuckDB oracle's unrolled CTEs apply
        by_row: dict = {}
        for (i, j), p in sorted(m.items()):
            by_row.setdefault(i, []).append((j, p))
        out: dict = {}
        for i, rowi in by_row.items():
            acc: dict = {}
            for k, pik in rowi:
                for j, pkj in by_row.get(k, ()):
                    acc[j] = acc.get(j, 0.0) + pik * pkj
            for j, s in acc.items():
                out[(i, j)] = py_round9(s)
        return out

    def chain_pconv(removed: int | None) -> float:
        if removed is None:
            m = dict(cells)
        else:
            m = {}
            for (i, j), p in sorted(cells.items()):
                if i == removed:
                    continue
                jj = _MK_NULL if j == removed else j
                m[(i, jj)] = m.get((i, jj), 0.0) + p
        for _ in range(MARKOV_SQUARINGS):
            m = py_square(m)
        return m.get((_MK_START, _MK_CONV), 0.0)

    base = chain_pconv(None)
    out = spark.createDataFrame(
        [(c, base, chain_pconv(c)) for c in range(MARKOV_CHANNELS)],
        "channel long, base_conv_prob double, rm_conv_prob double",
    )
    return out.select(
        "channel",
        F.round("base_conv_prob", 6).alias("base_conv_prob"),
        F.round("rm_conv_prob", 6).alias("rm_conv_prob"),
        F.round(
            F.when(F.col("base_conv_prob") == 0, F.lit(0.0)).otherwise(
                1 - F.col("rm_conv_prob") / F.col("base_conv_prob")
            ),
            6,
        ).alias("removal_effect"),
    )


# -------------------------------------- conversion-lag percentiles

@register(
    "ef_conversion_lag_percentiles",
    """WITH matched AS (
  SELECT (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS gap_s
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
    ON p.user_id = c.user_id AND p.ts >= c.ts
), byval AS (
  SELECT gap_s, CAST(COUNT(*) AS BIGINT) AS cnt FROM matched GROUP BY gap_s
), tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM byval),
cum AS (
  SELECT gap_s, n,
         SUM(cnt) OVER (ORDER BY gap_s ROWS UNBOUNDED PRECEDING) AS cum_n
  FROM byval CROSS JOIN tot
)
SELECT MAX(n) AS n_matched,
       MIN(CASE WHEN cum_n * 100 >= n * 50 THEN gap_s END) AS p50_s,
       MIN(CASE WHEN cum_n * 100 >= n * 90 THEN gap_s END) AS p90_s,
       MIN(CASE WHEN cum_n * 100 >= n * 99 THEN gap_s END) AS p99_s,
       MAX(gap_s) AS max_s
FROM cum""",
)
def ef_conversion_lag_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Exact click→purchase lag percentiles** (p50/p90/p99 seconds) —
    the latency profile of the conversion funnel, built on the as-of
    match. Nearest-rank percentiles via the same aggregation-first
    discipline as the trimmed mean: gaps quantize to whole seconds,
    aggregate to a (value, count) grid, and the cut is the first value
    whose cumulative count reaches ``⌈p·n/100⌉`` — the comparison is
    kept in exact integers (``cum·100 ≥ n·p``), never a float
    quantile. Window input = distinct gap seconds (bounded grid)."""

    matched = ef_asof_purchase_click(spark, sf_dir).filter(
        F.col("click_id").isNotNull()
    )
    byval = (
        matched.select(F.expr("gap_us DIV 1000000").alias("gap_s"))
        .groupBy("gap_s")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    tot = byval.agg(F.sum("cnt").cast("long").alias("n"))
    w = Window.orderBy("gap_s").rowsBetween(Window.unboundedPreceding, 0)
    cum = byval.crossJoin(F.broadcast(tot)).select(
        "gap_s", "n", F.sum("cnt").over(w).alias("cum_n")
    )

    def cut(p: int):
        return F.min(
            F.when(
                F.col("cum_n") * 100 >= F.col("n") * p, F.col("gap_s")
            )
        )

    return cum.agg(
        F.max("n").alias("n_matched"),
        cut(50).alias("p50_s"),
        cut(90).alias("p90_s"),
        cut(99).alias("p99_s"),
        F.max("gap_s").alias("max_s"),
    )


# ------------------------------------------------------ SPRT decision

#: Pinned SPRT hypotheses and error budget: H0 conversion p=0.30 vs
#: H1 p=0.40 at alpha = beta = 0.05.
SPRT_P0 = 0.30
SPRT_P1 = 0.40
SPRT_ALPHA = 0.05


@register(
    "ef_sprt_decision",
    f"""WITH {_CONV_CTE}, subj AS (
  SELECT user_id, CAST({_CONVERTED_SQL} AS INTEGER) AS converted
  FROM conv GROUP BY user_id
), g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(converted) AS BIGINT) AS x
  FROM subj
)
SELECT n, x,
       ROUND(x * ln({SPRT_P1} / {SPRT_P0})
             + (n - x) * ln({1 - SPRT_P1} / {1 - SPRT_P0}), 6) AS llr,
       ROUND(ln({(1 - SPRT_ALPHA) / SPRT_ALPHA}), 6) AS ln_a,
       ROUND(ln({SPRT_ALPHA / (1 - SPRT_ALPHA)}), 6) AS ln_b,
       CASE WHEN x * ln({SPRT_P1} / {SPRT_P0})
                 + (n - x) * ln({1 - SPRT_P1} / {1 - SPRT_P0})
                 >= ln({(1 - SPRT_ALPHA) / SPRT_ALPHA}) THEN 'accept_h1'
            WHEN x * ln({SPRT_P1} / {SPRT_P0})
                 + (n - x) * ln({1 - SPRT_P1} / {1 - SPRT_P0})
                 <= ln({SPRT_ALPHA / (1 - SPRT_ALPHA)}) THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM g""",
)
def ef_sprt_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Wald's SPRT** on click→purchase conversion — the sequential
    test that lets an experiment STOP as soon as the evidence crosses
    a boundary instead of waiting for a fixed sample size: log-
    likelihood ratio of H1 (p=0.40) vs H0 (p=0.30) over the per-user
    conversion flags, compared against the ln((1−β)/α) / ln(β/(1−α))
    Wald boundaries at α=β=0.05. One row: n, conversions, LLR, both
    boundaries, the decision.

    The LLR is ``x·ln(p1/p0) + (n−x)·ln(q1/q0)`` — two exact integer
    counts times pinned log constants (both engines fold the literal
    ratio identically), so the decision string is hash-stable. Plan:
    the z-test's subject aggregate reduced to one row."""
    ev = events_raw(spark, sf_dir)
    subj = (
        conversion_subjects(ev)
        .groupBy("user_id")
        .agg(converted_agg().alias("converted"))
    )
    g = subj.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("converted").cast("long").alias("x"),
    )
    lr1 = math.log(SPRT_P1 / SPRT_P0)
    lr0 = math.log((1 - SPRT_P1) / (1 - SPRT_P0))
    ln_a = math.log((1 - SPRT_ALPHA) / SPRT_ALPHA)
    ln_b = math.log(SPRT_ALPHA / (1 - SPRT_ALPHA))
    llr = F.col("x") * F.lit(lr1) + (F.col("n") - F.col("x")) * F.lit(lr0)
    return g.select(
        "n",
        "x",
        F.round(llr, 6).alias("llr"),
        F.round(F.lit(ln_a), 6).alias("ln_a"),
        F.round(F.lit(ln_b), 6).alias("ln_b"),
        F.when(llr >= ln_a, F.lit("accept_h1"))
        .when(llr <= ln_b, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )


# ------------------------------------------------- power analysis

#: Pinned planning inputs: two-sided alpha=0.05, power=0.80, relative
#: MDE=+10%. The z quantiles are literal doubles in BOTH engines (no
#: inverse-CDF at runtime).
POWER_Z_ALPHA = 1.959963984540054
POWER_Z_BETA = 0.8416212335729143
POWER_REL_MDE = 0.10


@register(
    "ef_power_analysis",
    f"""WITH {_CONV_CTE}, subj AS (
  SELECT user_id, CAST({_CONVERTED_SQL} AS INTEGER) AS converted,
         CAST(MIN(ctsm) AS BIGINT) % 2 AS cohort
  FROM conv GROUP BY user_id
), g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(converted) AS BIGINT) AS x,
         CAST(MIN(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS _dummy,
         CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_arm_a,
         CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_arm_b
  FROM subj
), rates AS (
  SELECT n_users, n_arm_a, n_arm_b,
         CAST(x AS DOUBLE) / n_users AS p0,
         CASE WHEN CAST(x AS DOUBLE) / n_users * (1 + {POWER_REL_MDE}) <= 1.0
              THEN CAST(x AS DOUBLE) / n_users * (1 + {POWER_REL_MDE})
              ELSE CAST(x AS DOUBLE) / n_users * (1 - {POWER_REL_MDE})
         END AS p1
  FROM g
)
SELECT n_users, n_arm_a, n_arm_b,
       CAST(CAST(FLOOR((p0) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS p0,
       CAST(CAST(FLOOR((p1) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS p1,
       CAST(CEIL(
         POWER({POWER_Z_ALPHA} * SQRT(2 * ((p0 + p1) / 2) * (1 - (p0 + p1) / 2))
               + {POWER_Z_BETA} * SQRT(p0 * (1 - p0) + p1 * (1 - p1)), 2)
         / NULLIF((p1 - p0) * (p1 - p0), 0)) AS BIGINT) AS n_required_per_arm,
       CAST(LEAST(n_arm_a, n_arm_b) AS BIGINT) AS n_available_per_arm,
       CAST(LEAST(n_arm_a, n_arm_b) >= CEIL(
         POWER({POWER_Z_ALPHA} * SQRT(2 * ((p0 + p1) / 2) * (1 - (p0 + p1) / 2))
               + {POWER_Z_BETA} * SQRT(p0 * (1 - p0) + p1 * (1 - p1)), 2)
         / NULLIF((p1 - p0) * (p1 - p0), 0)) AS BOOLEAN) AS powered
FROM rates""",
)
def ef_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Two-proportion power analysis** for the conversion experiment:
    given today's baseline conversion rate (same subjects as
    :func:`ef_conversion_ztest`) and a pinned +10% relative MDE at
    α=0.05 / 80% power, how many users per arm does the test NEED,
    how many does each parity cohort HAVE, and is the experiment
    powered? The pre-registration arithmetic that belongs next to the
    z-test itself — shipping an underpowered test is the quieter twin
    of p-hacking.

    n/arm = (z_α√(2p̄q̄) + z_β√(p₀q₀+p₁q₁))² / (p₁−p₀)², z quantiles
    pinned as literal doubles in both plans (no runtime inverse CDF).

    Scale: one user_id-keyed subject aggregate (the z-test's own
    shape) feeding a 1-row formula — the data-sized work is the
    subject build; the planning math is constant."""
    ev = events_raw(spark, sf_dir)
    subj = (
        conversion_subjects(ev)
        .groupBy("user_id")
        .agg(
            converted_agg().alias("converted"),
            (F.min("ctsm") % 2).alias("cohort"),
        )
    )
    g = subj.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("converted").cast("bigint").alias("x"),
        F.sum((F.col("cohort") == 0).cast("int"))
        .cast("bigint")
        .alias("n_arm_a"),
        F.sum((F.col("cohort") == 1).cast("int"))
        .cast("bigint")
        .alias("n_arm_b"),
    )
    p0 = F.col("x").cast("double") / F.col("n_users")
    # saturated baseline (p0 near 1): plan for detecting a -MDE drop
    p1 = F.when(
        p0 * (1 + POWER_REL_MDE) <= 1.0, p0 * (1 + POWER_REL_MDE)
    ).otherwise(p0 * (1 - POWER_REL_MDE))
    pbar = (p0 + p1) / 2
    n_req = F.ceil(
        F.pow(
            F.lit(POWER_Z_ALPHA) * F.sqrt(2 * pbar * (1 - pbar))
            + F.lit(POWER_Z_BETA)
            * F.sqrt(p0 * (1 - p0) + p1 * (1 - p1)),
            F.lit(2),
        )
        / F.nullif((p1 - p0) * (p1 - p0), F.lit(0.0))
    )
    return g.select(
        "n_users",
        "n_arm_a",
        "n_arm_b",
        ppm_value(p0).alias("p0"),
        ppm_value(p1).alias("p1"),
        n_req.cast("bigint").alias("n_required_per_arm"),
        F.least("n_arm_a", "n_arm_b")
        .cast("bigint")
        .alias("n_available_per_arm"),
        (F.least("n_arm_a", "n_arm_b") >= n_req).alias("powered"),
    )


# ------------------------------------------- inter-arrival profile

@register(
    "ef_interarrival_profile",
    """WITH gaps AS (
  SELECT (epoch_us(ts) - LAG(epoch_us(ts)) OVER (
            PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
           // 1000000 AS gap_s
  FROM events WHERE event_type = 'click'
), g AS (
  SELECT gap_s FROM gaps WHERE gap_s IS NOT NULL
), byval AS (
  SELECT gap_s, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY gap_s
), cum AS (
  SELECT gap_s, c,
         SUM(c) OVER (ORDER BY gap_s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
         SUM(c) OVER () AS n
  FROM byval
), mom AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_gaps,
         CAST(SUM(gap_s * c) AS BIGINT) AS s1,
         CAST(SUM(gap_s * gap_s * c) AS BIGINT) AS s2
  FROM byval
)
SELECT mom.n_gaps,
       (SELECT MIN(gap_s) FROM cum WHERE cn * 100 >= n * 50) AS p50_s,
       (SELECT MIN(gap_s) FROM cum WHERE cn * 100 >= n * 90) AS p90_s,
       (SELECT MIN(gap_s) FROM cum WHERE cn * 100 >= n * 99) AS p99_s,
       CAST(CAST(FLOOR((CAST(mom.s1 AS DOUBLE) / mom.n_gaps) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS mean_s,
       ROUND(
         (SQRT(CAST(mom.s2 AS DOUBLE) / mom.n_gaps
               - (CAST(mom.s1 AS DOUBLE) / mom.n_gaps)
                 * (CAST(mom.s1 AS DOUBLE) / mom.n_gaps))
          - CAST(mom.s1 AS DOUBLE) / mom.n_gaps)
         / NULLIF(
             SQRT(CAST(mom.s2 AS DOUBLE) / mom.n_gaps
                  - (CAST(mom.s1 AS DOUBLE) / mom.n_gaps)
                    * (CAST(mom.s1 AS DOUBLE) / mom.n_gaps))
             + CAST(mom.s1 AS DOUBLE) / mom.n_gaps, 0), 6) AS burstiness
FROM mom""",
)
def ef_interarrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Inter-arrival profile** of per-user click gaps: nearest-rank
    p50/p90/p99 on the whole-second grid plus the Goh–Barabási
    burstiness index B = (σ−μ)/(σ+μ) (−1 = metronome, 0 = Poisson,
    →1 = bursty) — the statistic that decides session-gap thresholds
    (:func:`ef_sessionize`'s dial) and watermark budgets, and a drift
    canary for bot storms (B collapsing toward −1 means machine-regular
    traffic).

    Determinism: gaps are exact integer seconds (µs subtraction then
    DIV), percentiles are integer nearest-rank logic on the distinct
    grid, and σ/µ come from exact BIGINT Σ/Σ² — the only doubles are
    the final quantized ratios (same discipline as the trimmed mean
    / conversion-lag ops).

    Scale: one user_id-shuffled lag window over clicks, then
    everything runs on the bounded distinct-gap-seconds grid. The
    µs-epoch (event_id tiebroken) ordering matches the sessionizer's."""

    ev = events_raw(spark, sf_dir)
    us = F.expr("ts DIV 1000")
    clicks_t = ev.filter(F.col("event_type") == "click").select(
        "user_id", us.alias("us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gaps = clicks_t.select(
        (F.col("us") - F.lag("us").over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    g = gaps.select(F.expr("gap_us DIV 1000000").alias("gap_s"))
    byval = g.groupBy("gap_s").agg(F.count("*").cast("bigint").alias("c"))
    cum = byval.select(
        "gap_s",
        "c",
        F.sum("c")
        .over(
            Window.orderBy("gap_s").rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .alias("cn"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )

    def cut(p: int):
        return F.min(
            F.when(F.col("cn") * 100 >= F.col("n") * p, F.col("gap_s"))
        )

    pct = cum.agg(
        cut(50).alias("p50_s"),
        cut(90).alias("p90_s"),
        cut(99).alias("p99_s"),
    )
    mom = byval.agg(
        F.sum("c").cast("bigint").alias("n_gaps"),
        F.sum(F.col("gap_s") * F.col("c")).cast("bigint").alias("s1"),
        F.sum(F.col("gap_s") * F.col("gap_s") * F.col("c"))
        .cast("bigint")
        .alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n_gaps")
    sd = F.sqrt(F.col("s2").cast("double") / F.col("n_gaps") - mu * mu)
    return mom.crossJoin(F.broadcast(pct)).select(
        "n_gaps",
        "p50_s",
        "p90_s",
        "p99_s",
        ppm_value(mu).alias("mean_s"),
        F.round((sd - mu) / F.nullif(sd + mu, F.lit(0.0)), 6).alias(
            "burstiness"
        ),
    )


# ------------------------------------------------- design effect

@register(
    "ef_design_effect",
    """WITH per AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(CAST(ROUND(CAST(value AS DECIMAL(18,6)) * 100, 0)
                  AS BIGINT)) AS BIGINT) AS s,
         CAST(SUM(CAST(ROUND(CAST(value AS DECIMAL(18,6)) * 100, 0)
                  AS BIGINT)
                  * CAST(ROUND(CAST(value AS DECIMAL(18,6)) * 100, 0)
                  AS BIGINT)) AS BIGINT) AS q
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(m) AS BIGINT) AS n,
         CAST(SUM(s) AS BIGINT) AS g,
         CAST(SUM(q) AS BIGINT) AS qq,
         CAST(CAST(SUM(CAST(FLOOR((CAST(s AS DOUBLE) * s / m)
                  * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE)
           / 1000000.0 AS between_raw,
         CAST(SUM(CAST(m AS DECIMAL(38,0)) * m) AS DOUBLE) AS m2
  FROM per
)
SELECT k AS k_clusters, n AS n_events,
       CAST(CAST(FLOOR((CAST(n AS DOUBLE) / k) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS mean_cluster_size,
       CAST(CAST(FLOOR((icc) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS icc,
       CAST(CAST(FLOOR((1 + (m0 - 1) * icc) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS deff,
       CAST(CAST(FLOOR((n / (1 + (m0 - 1) * icc)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS effective_n
FROM (
  SELECT k, n, m0, (msb - msw) / NULLIF(msb + (m0 - 1) * msw, 0) AS icc
  FROM (
    SELECT k, n,
           (CAST(n AS DOUBLE) - m2 / n) / (k - 1) AS m0,
           (between_raw - CAST(g AS DOUBLE) * g / n) / (k - 1) AS msb,
           (CAST(qq AS DOUBLE) - between_raw) / (n - k) AS msw
    FROM tot
  )
)""",
)
def ef_design_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Cluster-sampling design effect** for event-level revenue
    clustered by user: deff = 1 + (m₀−1)·ICC, with the intraclass
    correlation from the one-way ANOVA estimator (MSB/MSW over
    cent-quantized purchase values) and m₀ the ANOVA-adjusted mean
    cluster size. The "your n is not your n" correction: randomizing
    by user while measuring per event inflates variance by deff, so
    the honest sample size is n/deff (``effective_n``) — feeds
    straight into :func:`ef_power_analysis`'s n-required check.

    Determinism: per-user (m, Σx, Σx²) are exact BIGINT on the cent
    grid; the cross-user between-cluster sum quantizes each s²/m term
    to rule-free FLOOR micro-units and accumulates in exact BIGINT
    (round-9 upgrade of the ef_welch_ttest rule: s²/m is an exact
    rational whose denominator can be 2-5-smooth, i.e. a true 6-dp
    half-boundary where ROUND rules diverge), m² sums exactly in
    DECIMAL, and the final ANOVA ratios are published through the same
    FLOOR quantizer.

    Scale: one user_id hash aggregate + a 1-row formula. Identical
    envelope to the z-test subject build."""
    ev = events_raw(spark, sf_dir)
    cents = F.round(F.col("value").cast("decimal(18,6)") * 100, 0).cast(
        "bigint"
    )
    per = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", cents.alias("x"))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("m"),
            F.sum("x").cast("bigint").alias("s"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("q"),
        )
    )
    tot = per.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("m").cast("bigint").alias("n"),
        F.sum("s").cast("bigint").alias("g"),
        F.sum("q").cast("bigint").alias("qq"),
        (
            ppm_sum(F.col("s").cast("double") * F.col("s") / F.col("m"))
            .cast("double")
            / 1000000.0
        ).alias("between_raw"),
        F.sum(F.col("m").cast("decimal(38,0)") * F.col("m"))
        .cast("double")
        .alias("m2"),
    )
    n_d = F.col("n").cast("double")
    m0 = (n_d - F.col("m2") / F.col("n")) / (F.col("k") - 1)
    msb = (F.col("between_raw") - F.col("g").cast("double") * F.col("g") / F.col("n")) / (
        F.col("k") - 1
    )
    msw = (F.col("qq").cast("double") - F.col("between_raw")) / (
        F.col("n") - F.col("k")
    )
    icc = (msb - msw) / F.nullif(msb + (m0 - 1) * msw, F.lit(0.0))
    deff = 1 + (m0 - 1) * icc
    return tot.select(
        F.col("k").alias("k_clusters"),
        F.col("n").alias("n_events"),
        ppm_value(n_d / F.col("k")).alias("mean_cluster_size"),
        ppm_value(icc).alias("icc"),
        ppm_value(deff).alias("deff"),
        ppm_value(F.col("n") / deff).alias("effective_n"),
    )


# --------------------------------------- interval-overlap band join

#: Session-overlap join bounds: user-id cap (keeps the demo output
#: bounded at any SF; the join itself is band-bounded, not user-bounded)
#: and the time-band width for the interval×interval banding.
OVERLAP_USERS = 120
OVERLAP_BAND_US = 7_200_000_000  # 2 h

_OVERLAP_ORACLE = f"""WITH {_sessions_ctes(where=f" WHERE user_id < {OVERLAP_USERS}")}, s AS (
  SELECT user_id, session_seq,
         MIN(tsm) AS session_start, MAX(tsm) AS session_end
  FROM sess GROUP BY user_id, session_seq
)
SELECT a.user_id AS user_a, b.user_id AS user_b,
       CAST(COUNT(*) AS BIGINT) AS n_session_pairs,
       CAST(SUM(LEAST(a.session_end, b.session_end)
                - GREATEST(a.session_start, b.session_start)) AS BIGINT)
         AS total_overlap_us
FROM s a JOIN s b
  ON a.user_id < b.user_id
 AND a.session_start <= b.session_end
 AND b.session_start <= a.session_end
GROUP BY a.user_id, b.user_id"""


@register("ef_session_overlap_join", _OVERLAP_ORACLE)
def ef_session_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval **overlap join**: which session pairs of
    different users were live at the same time, and for how long
    (co-presence — the audience-overlap primitive).

    ``ef_range_join_banded`` banded point-in-interval; this is the
    harder shape: BOTH sides are intervals, so both replicate to every
    ``OVERLAP_BAND_US`` band they span and a pair can meet in several
    shared bands. The standard dedup-free trick assigns each overlap
    to exactly ONE band — the band containing the overlap's *start*
    (``greatest(starts) DIV band``) — so no post-join ``distinct`` is
    needed. Scale: shuffle keys are time bands (time-uniform), fan-out
    is duration/band + 1 per session (sessions are gap-bounded, bands
    2 h), and the join is a plain shuffled equi-join on band — never a
    nested-loop. The inequality re-check inside the band is a cheap
    residual filter."""
    ev = events_raw(spark, sf_dir).filter(F.col("user_id") < OVERLAP_USERS).select(
        "user_id", "event_id", F.expr("ts DIV 1000").alias("tsm"), "value"
    )
    s = sessionize_events(ev).select(
        "user_id", "session_seq", "session_start", "session_end"
    )
    banded = s.select(
        "user_id",
        "session_start",
        "session_end",
        F.explode(
            F.sequence(
                F.expr(f"session_start DIV {OVERLAP_BAND_US}"),
                F.expr(f"session_end DIV {OVERLAP_BAND_US}"),
            )
        ).alias("band"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    ov_start = F.greatest(F.col("a.session_start"), F.col("b.session_start"))
    ov_end = F.least(F.col("a.session_end"), F.col("b.session_end"))
    pairs = (
        a.join(b, "band")
        .filter(
            (F.col("a.user_id") < F.col("b.user_id"))
            & (ov_start <= ov_end)
            # dedup-free: count the pair only in the overlap-start band
            & (F.expr(f"greatest(a.session_start, b.session_start) DIV {OVERLAP_BAND_US}")
               == F.col("band"))
        )
        .select(
            F.col("a.user_id").alias("user_a"),
            F.col("b.user_id").alias("user_b"),
            (ov_end - ov_start).alias("overlap_us"),
        )
    )
    return pairs.groupBy("user_a", "user_b").agg(
        F.count("*").alias("n_session_pairs"),
        F.sum("overlap_us").alias("total_overlap_us"),
    )


# ------------------------------------------- difference-in-differences

#: Period boundary (epoch day) splitting the 30-day fixture window in
#: half: pre = days < boundary, post = days >= boundary.
DID_BOUNDARY_DAY = 19738  # 2024-01-16

_DID_ORACLE = f"""WITH per_user AS (
  SELECT user_id % 2 AS treated,
         CASE WHEN epoch_us(ts) // 86400000000 >= {DID_BOUNDARY_DAY}
              THEN 1 ELSE 0 END AS post,
         user_id,
         SUM(CAST(value AS DECIMAL(18,6))) AS y
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1, 2, user_id
),
cells AS (
  SELECT treated, post,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(CAST(y AS DOUBLE) * CAST(y AS DOUBLE), 6)
                  AS DECIMAL(38,6))) AS DOUBLE) AS syy
  FROM per_user GROUP BY treated, post
),
stats AS (
  SELECT treated, post, n,
         sy / n AS mu,
         (syy - sy * sy / n) / NULLIF(n - 1, 0) AS v
  FROM cells
)
SELECT ROUND(MAX(CASE WHEN treated = 1 AND post = 0 THEN mu END), 6) AS t_pre,
       ROUND(MAX(CASE WHEN treated = 1 AND post = 1 THEN mu END), 6) AS t_post,
       ROUND(MAX(CASE WHEN treated = 0 AND post = 0 THEN mu END), 6) AS c_pre,
       ROUND(MAX(CASE WHEN treated = 0 AND post = 1 THEN mu END), 6) AS c_post,
       ROUND((MAX(CASE WHEN treated = 1 AND post = 1 THEN mu END)
              - MAX(CASE WHEN treated = 1 AND post = 0 THEN mu END))
             - (MAX(CASE WHEN treated = 0 AND post = 1 THEN mu END)
                - MAX(CASE WHEN treated = 0 AND post = 0 THEN mu END)), 6)
         AS did_estimate,
       ROUND(SQRT(SUM(v / n)), 6) AS se,
       ROUND(((MAX(CASE WHEN treated = 1 AND post = 1 THEN mu END)
               - MAX(CASE WHEN treated = 1 AND post = 0 THEN mu END))
              - (MAX(CASE WHEN treated = 0 AND post = 1 THEN mu END)
                 - MAX(CASE WHEN treated = 0 AND post = 0 THEN mu END)))
             / SQRT(SUM(v / n)), 6) AS t_stat
FROM stats"""


@register("ef_diff_in_diff", _DID_ORACLE)
def ef_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Difference-in-differences**: the observational-causal
    counterpart of the A/B family (ef_welch_ttest, ef_cuped_adjustment)
    — treatment = the parity cohort, periods split at the fixture
    midpoint, outcome = per-user purchase value. DiD =
    (T_post − T_pre) − (C_post − C_pre) of cell means, with the
    classic 4-cell SE √(Σ varᵢ/nᵢ) (the 2×2 OLS-with-interaction
    standard error under homoskedastic cells). One per-user aggregate
    (exact-DECIMAL money summation per repo convention), one 4-row
    cell rollup over quantized-DECIMAL moment sums (the ef_welch_ttest
    rule: cell mean/variance derive from exact SUM(y) and a 6-dp
    quantized SUM(y²) — no order-dependent double accumulation, no
    engine-specific VAR_SAMP algorithm), one 1-row combine — nothing
    scales past the user aggregation."""
    per_user = (
        events_raw(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .groupBy(
            (F.col("user_id") % 2).alias("treated"),
            F.when(
                F.expr("(ts DIV 1000) DIV 86400000000") >= DID_BOUNDARY_DAY, 1
            )
            .otherwise(0)
            .alias("post"),
            "user_id",
        )
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("y"))
    )
    y_d = F.col("y").cast("double")
    cells = per_user.groupBy("treated", "post").agg(
        F.count("*").alias("n"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.round(y_d * y_d, 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("syy"),
    )
    stats = cells.select(
        "treated",
        "post",
        "n",
        (F.col("sy") / F.col("n")).alias("mu"),
        (
            (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"))
            / F.nullif((F.col("n") - 1).cast("double"), F.lit(0.0))
        ).alias("v"),
    )

    def cell(t: int, p: int):
        return F.max(
            F.when((F.col("treated") == t) & (F.col("post") == p), F.col("mu"))
        )

    did = (cell(1, 1) - cell(1, 0)) - (cell(0, 1) - cell(0, 0))
    se = F.sqrt(F.sum(F.col("v") / F.col("n")))
    return stats.agg(
        F.round(cell(1, 0), 6).alias("t_pre"),
        F.round(cell(1, 1), 6).alias("t_post"),
        F.round(cell(0, 0), 6).alias("c_pre"),
        F.round(cell(0, 1), 6).alias("c_post"),
        F.round(did, 6).alias("did_estimate"),
        F.round(se, 6).alias("se"),
        F.round(did / se, 6).alias("t_stat"),
    )


# ------------------------------------------- regression discontinuity

#: RD design on the document corpus: running variable n_chars, pinned
#: cutoff, local-linear fit inside the bandwidth on each side.
RD_CUTOFF = 300
RD_BANDWIDTH = 150

_RD_ORACLE = f"""WITH pts AS (
  SELECT CAST(n_chars - {RD_CUTOFF} AS DOUBLE) AS x,
         {the_label_sql()} AS y,
         CASE WHEN n_chars >= {RD_CUTOFF} THEN 1 ELSE 0 END AS side
  FROM documents
  WHERE n_chars >= {RD_CUTOFF - RD_BANDWIDTH}
    AND n_chars < {RD_CUTOFF + RD_BANDWIDTH}
),
fits AS (
  SELECT side, CAST(COUNT(*) AS BIGINT) AS n,
         (COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))
           / (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)) AS slope,
         (SUM(y) - (COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))
                   / (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)) * SUM(x))
           / COUNT(*) AS icpt
  FROM pts GROUP BY side
)
SELECT MAX(CASE WHEN side = 1 THEN n END) AS n_right,
       MAX(CASE WHEN side = 0 THEN n END) AS n_left,
       ROUND(MAX(CASE WHEN side = 1 THEN icpt END), 6) AS limit_right,
       ROUND(MAX(CASE WHEN side = 0 THEN icpt END), 6) AS limit_left,
       ROUND(MAX(CASE WHEN side = 1 THEN icpt END)
             - MAX(CASE WHEN side = 0 THEN icpt END), 6) AS rd_jump,
       ROUND(MAX(CASE WHEN side = 1 THEN slope END), 6) AS slope_right,
       ROUND(MAX(CASE WHEN side = 0 THEN slope END), 6) AS slope_left
FROM fits"""


@register("ef_regression_discontinuity", _RD_ORACLE)
def ef_regression_discontinuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Regression discontinuity**: completes the causal family
    (Welch A/B → CUPED → DiD → RD). Local-linear OLS on each side of
    a pinned cutoff of the running variable within a bandwidth; the
    treatment effect is the jump between the two intercepts AT the
    cutoff (x is centered, so each fit's intercept IS its boundary
    limit). Each side's fit is closed-form from 5 sums — one filtered
    scan, a 2-row aggregate, a 1-row combine; the bandwidth predicate
    pushes to the parquet scan."""
    from ..sources import load_raw

    docs = load_raw(spark, sf_dir, "documents").filter(
        (F.col("n_chars") >= RD_CUTOFF - RD_BANDWIDTH)
        & (F.col("n_chars") < RD_CUTOFF + RD_BANDWIDTH)
    )
    pts = docs.select(
        (F.col("n_chars") - RD_CUTOFF).cast("double").alias("x"),
        the_label(F.col("text")).alias("y"),
        F.when(F.col("n_chars") >= RD_CUTOFF, 1).otherwise(0).alias("side"),
    )
    n, sx, sy = F.count("*"), F.sum("x"), F.sum("y")
    sxy, sxx = F.sum(F.col("x") * F.col("y")), F.sum(F.col("x") * F.col("x"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    fits = pts.groupBy("side").agg(
        n.alias("n"),
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("icpt"),
    )

    def at(side: int, col: str):
        return F.max(F.when(F.col("side") == side, F.col(col)))

    return fits.agg(
        at(1, "n").alias("n_right"),
        at(0, "n").alias("n_left"),
        F.round(at(1, "icpt"), 6).alias("limit_right"),
        F.round(at(0, "icpt"), 6).alias("limit_left"),
        F.round(at(1, "icpt") - at(0, "icpt"), 6).alias("rd_jump"),
        F.round(at(1, "slope"), 6).alias("slope_right"),
        F.round(at(0, "slope"), 6).alias("slope_left"),
    )


# ------------------------------------------------ uplift by decile

_UPLIFT_ORACLE = f"""WITH per_user AS (
  SELECT user_id,
         user_id % 2 AS treated,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
           AS spend,
         CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS DOUBLE)
           AS clicks
  FROM events GROUP BY user_id
),
scored AS (
  -- pinned targeting score: click volume (who looks engaged)
  SELECT treated, COALESCE(spend, 0.0) AS spend,
         NTILE(10) OVER (ORDER BY clicks DESC, user_id ASC) AS decile
  FROM per_user
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(COUNT(CASE WHEN treated = 1 THEN 1 END) AS BIGINT) AS n_treated,
       CAST(COUNT(CASE WHEN treated = 0 THEN 1 END) AS BIGINT) AS n_control,
       ROUND(CAST(SUM(CASE WHEN treated = 1
                      THEN CAST(ROUND(spend, 6) AS DECIMAL(38,6)) END)
                  AS DOUBLE)
             / NULLIF(COUNT(CASE WHEN treated = 1 THEN 1 END), 0), 6)
         AS mu_treated,
       ROUND(CAST(SUM(CASE WHEN treated = 0
                      THEN CAST(ROUND(spend, 6) AS DECIMAL(38,6)) END)
                  AS DOUBLE)
             / NULLIF(COUNT(CASE WHEN treated = 0 THEN 1 END), 0), 6)
         AS mu_control,
       ROUND(CAST(SUM(CASE WHEN treated = 1
                      THEN CAST(ROUND(spend, 6) AS DECIMAL(38,6)) END)
                  AS DOUBLE)
             / NULLIF(COUNT(CASE WHEN treated = 1 THEN 1 END), 0)
             - CAST(SUM(CASE WHEN treated = 0
                        THEN CAST(ROUND(spend, 6) AS DECIMAL(38,6)) END)
                    AS DOUBLE)
             / NULLIF(COUNT(CASE WHEN treated = 0 THEN 1 END), 0), 6)
         AS uplift
FROM scored
GROUP BY decile ORDER BY decile"""


@register("ef_uplift_by_decile", _UPLIFT_ORACLE)
def ef_uplift_by_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Uplift-by-decile** (the Qini-curve table): users deciled by a
    pinned targeting score (click volume), each decile reporting the
    treated-minus-control mean spend — the evaluation that tells you
    WHERE a treatment works, not just whether (flat uplift across
    deciles = the score doesn't segment responders). Deciling uses one
    NTILE over the per-user aggregate (O(|users|) pre-aggregated rows,
    the bounded-input exception to the no-global-window rule — at true
    user-count scale swap in percentile_approx cuts like
    ev_user_rfm_scalable); everything else is a 10-group conditional
    aggregate. Spend sums in exact DECIMAL per repo convention, and the
    per-decile means accumulate 6-dp-quantized DECIMAL terms (the
    ef_welch_ttest rule) rather than order-dependent double AVGs."""
    per_user = (
        events_raw(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            (F.col("user_id") % 2).alias("treated"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.col("value").cast("decimal(18,6)"),
                )
            )
            .cast("double")
            .alias("spend"),
            F.count(
                F.when(F.col("event_type") == "click", 1)
            )
            .cast("double")
            .alias("clicks"),
        )
    )
    w = Window.orderBy(F.desc("clicks"), F.asc("user_id"))
    scored = per_user.select(
        F.col("treated"),
        F.coalesce(F.col("spend"), F.lit(0.0)).alias("spend"),
        F.ntile(10).over(w).alias("decile"),
    )
    # per-decile means via quantized-DECIMAL sums (ef_welch_ttest rule:
    # no order-dependent double accumulation across users)
    t = F.when(
        F.col("treated") == 1, F.round("spend", 6).cast("decimal(38,6)")
    )
    c = F.when(
        F.col("treated") == 0, F.round("spend", 6).cast("decimal(38,6)")
    )
    n_t = F.count(F.when(F.col("treated") == 1, 1))
    n_c = F.count(F.when(F.col("treated") == 0, 1))
    mu_t = F.sum(t).cast("double") / F.nullif(
        n_t.cast("double"), F.lit(0.0)
    )
    mu_c = F.sum(c).cast("double") / F.nullif(
        n_c.cast("double"), F.lit(0.0)
    )
    return (
        scored.groupBy(F.col("decile").cast("long").alias("decile"))
        .agg(
            n_t.alias("n_treated"),
            n_c.alias("n_control"),
            F.round(mu_t, 6).alias("mu_treated"),
            F.round(mu_c, 6).alias("mu_control"),
            F.round(mu_t - mu_c, 6).alias("uplift"),
        )
        .orderBy("decile")
    )
