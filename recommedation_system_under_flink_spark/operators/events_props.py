"""Semi-structured event properties: typed JSON extraction + rollup.

``events.props`` carries a JSON object per event (the driver fixture
stores ``{"k": <int>}``). The reference never parses it — its click
ingestion keeps only (user, news, date, cnt) — but any real event
pipeline must lift JSON payloads into typed columns before analytics,
so this module makes the parse a first-class, oracle-checked operator.

Engine approach (100 TB):

- ``from_json`` with an **explicit schema** — never schema inference,
  which needs an extra full pass over the data. The parse is a JVM-side
  codegen expression: one scan, no Python boundary, no shuffle.
- Parsing happens **after** pushed-down predicates on real columns
  (``event_type``), so at scale the JSON CPU cost is paid only on the
  surviving rows. A predicate on the *parsed* value cannot prune the
  scan — queries that filter on payload fields should land behind a
  materialized typed column (write the parsed table once, read it
  many times) rather than re-parse per query.
- The rollup is a plain hash aggregate on low-cardinality keys —
  map-side combinable, output rows = |event_type| × buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import bsp
from ..registry import register
from ..sources import events_raw
from ..sources.tables import ts_date
from .quantize import ppm_sum, ppm_value

#: Explicit payload schema — the single source of truth for the parse.
PROPS_SCHEMA = "k INT"


@register(
    "ev_props_parse",
    """SELECT event_id, event_type,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events""",
)
def ev_props_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction: ``props -> k`` as a real column.

    ``from_json(props, 'k INT')`` is a single codegen expression per
    row; malformed JSON yields NULL (PERMISSIVE mode), matching the
    oracle's NULL on failed extraction."""
    ev = events_raw(spark, sf_dir)
    return ev.select(
        "event_id",
        "event_type",
        F.from_json("props", PROPS_SCHEMA).getField("k").cast("long").alias("k"),
    )


@register(
    "ev_props_rollup",
    """SELECT event_type,
       CAST(k % 10 AS BIGINT) AS k_bucket,
       COUNT(*) AS n,
       CAST(SUM(value) AS DOUBLE) AS sum_value
FROM (
  SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, value
  FROM events
)
WHERE k IS NOT NULL
GROUP BY event_type, k % 10""",
)
def ev_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup on a parsed payload field: events per (event_type,
    ``k % 10``) bucket with the summed ``value``. Parse → bucket →
    map-side-combinable hash aggregate; the only shuffle moves
    |event_type|·10 partial rows per task."""
    ev = events_raw(spark, sf_dir)
    k = F.from_json("props", PROPS_SCHEMA).getField("k").cast("long")
    return (
        ev.select("event_type", k.alias("k"), "value")
        .filter(F.col("k").isNotNull())
        .groupBy("event_type", (F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").cast("double").alias("sum_value"),
        )
    )


# ------------------------------------------------------- diagnostics

#: Histogram bucket width over events.value.
HIST_BUCKET_WIDTH = 25.0
#: Heavy-hitter report size.
SKEW_TOP_N = 10


@register(
    "ev_value_histogram",
    f"""SELECT event_type, bucket,
       CAST(bucket * {HIST_BUCKET_WIDTH} AS DOUBLE) AS bucket_lo,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM (SELECT event_type, value,
             CAST(floor(value / {HIST_BUCKET_WIDTH}) AS BIGINT) AS bucket
      FROM events)
GROUP BY 1, 2""",
)
def ev_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type — the distribution
    profile every pipeline runs before choosing filters/clips. One
    scan + one map-side-combinable aggregation on (type, bucket);
    bucket boundaries are exact (width is a power-of-two-free constant,
    but floor(v/w) is the same correctly-rounded double both engines
    compute). At 100 TB this is the cheap pre-pass that sizes the
    quantile sketches (operators/sketches.py) and spots outliers."""
    ev = events_raw(spark, sf_dir)
    bucket = F.floor(F.col("value") / HIST_BUCKET_WIDTH).cast("long")
    return (
        ev.groupBy("event_type", bucket.alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            "event_type",
            "bucket",
            (F.col("bucket").cast("double") * HIST_BUCKET_WIDTH).alias("bucket_lo"),
            "n",
            "min_value",
            "max_value",
        )
    )


@register(
    "ev_key_skew_report",
    f"""WITH per_key AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY user_id
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total,
         CAST(AVG(n) AS DOUBLE) AS mean_n
  FROM per_key
)
SELECT user_id, n,
       CAST(n AS DOUBLE) / tot.total AS share,
       CAST(n AS DOUBLE) / tot.mean_n AS skew_factor,
       CAST(ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS BIGINT) AS rank
FROM per_key, tot
QUALIFY rank <= {SKEW_TOP_N}""",
)
def ev_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter / skew report for the event log's natural join key:
    the top-N users by row count with their share of the table and
    skew factor (count ÷ mean count). This is the measurement that
    decides between plain shuffle, AQE skew splitting, and explicit
    salting (operators/joins.py J3-salted) — at 100 TB you run this
    BEFORE picking a join strategy, on a sample or the full log (one
    map-side-combinable count per key + a 1-row global reduce that
    broadcasts back).

    The top-N runs over the per-key aggregate (≤ distinct keys rows,
    never the raw log) through :func:`~..operators.ranking.global_top_k`
    — round 10 established that InferWindowGroupLimit does NOT prune
    partition-spec-free rank windows, so the pre-limit is a
    TakeOrderedAndProject and the single-partition window sees only
    the N survivors."""
    from .ranking import global_top_k

    ev = events_raw(spark, sf_dir)
    per_key = ev.groupBy("user_id").agg(F.count("*").cast("long").alias("n"))
    tot = per_key.agg(
        F.sum("n").cast("long").alias("total"),
        F.avg("n").cast("double").alias("mean_n"),
    )
    enriched = per_key.crossJoin(F.broadcast(tot)).select(
        "user_id",
        "n",
        (F.col("n").cast("double") / F.col("total")).alias("share"),
        (F.col("n").cast("double") / F.col("mean_n")).alias("skew_factor"),
    )
    return global_top_k(
        enriched, [F.desc("n"), F.asc("user_id")], SKEW_TOP_N
    ).withColumn("rank", F.col("rank").cast("long"))


# ------------------------------------------------------- gap filling

@register(
    "ev_daily_spine_fill",
    """WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily
), spine AS (
  SELECT DISTINCT d.event_type, CAST(g.day AS DATE) AS day
  FROM (SELECT DISTINCT event_type FROM daily) d,
       (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
        FROM bounds) g
)
SELECT s.event_type, s.day,
       CAST(COALESCE(dd.n, 0) AS BIGINT) AS n,
       CAST(dd.n IS NULL AS BOOLEAN) AS filled
FROM spine s LEFT JOIN daily dd
  ON s.event_type = dd.event_type AND s.day = dd.day""",
)
def ev_daily_spine_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series **gap filling**: daily counts per event type on a
    complete date spine — missing (type, day) cells become explicit
    zero rows flagged ``filled`` (downstream ML/forecasting needs dense
    series; silent gaps read as missing data, not as zero activity).

    The spine is ``sequence(min_day, max_day)`` exploded once and
    cross-joined with the tiny type dimension — generated data, not a
    scan. The left join back to the aggregated counts is keyed (type,
    day): spine size is days × types regardless of event volume, so at
    100 TB the dense side of the join is still trivially small — gap
    filling is always cheap AFTER aggregation, never before it."""
    ev = events_raw(spark, sf_dir)
    daily = (
        ev.select("event_type", ts_date("ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").cast("long").alias("n"))
    )
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = (
        daily.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi")).alias("day"),
        )
    )
    return spine.join(daily, ["event_type", "day"], "left").select(
        "event_type",
        "day",
        F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        F.col("n").isNull().alias("filled"),
    )


# ------------------------------------------------------- anomaly flags

#: Z-score threshold for daily-volume anomaly flagging.
ANOMALY_Z = 2.0


@register(
    "ev_daily_anomaly",
    f"""WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type, AVG(n) AS mean_n, stddev_samp(n) AS sd_n
  FROM daily GROUP BY event_type
)
SELECT d.event_type, d.day, d.n,
       ROUND((d.n - s.mean_n) / s.sd_n, 6) AS z,
       CAST(abs((d.n - s.mean_n) / s.sd_n) > {ANOMALY_Z} AS BOOLEAN) AS anomaly
FROM daily d JOIN stats s ON d.event_type = s.event_type
WHERE s.sd_n > 0""",
)
def ev_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume **anomaly detection**: z-score of each day's event
    count against its type's mean/stddev; |z| > threshold flags the
    day. The monitoring query every ingest pipeline runs to catch
    upstream outages (volume collapse) and duplicates storms (volume
    spikes) before they poison training data.

    Two passes over the tiny per-(type, day) aggregate: stats per type
    (a broadcastable handful of rows) join back to the daily series.
    The z-score is quantized to 6 decimals for the cross-engine hash
    (stddev accumulates in data-dependent order). Constant series
    (sd = 0) are excluded — no z-score is defined there."""
    ev = events_raw(spark, sf_dir)
    daily = (
        ev.select("event_type", ts_date("ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").cast("long").alias("n"))
    )
    stats = daily.groupBy("event_type").agg(
        F.avg("n").alias("mean_n"), F.stddev_samp("n").alias("sd_n")
    )
    z = (F.col("n") - F.col("mean_n")) / F.col("sd_n")
    return (
        daily.join(F.broadcast(stats), "event_type")
        .filter(F.col("sd_n") > 0)
        .select(
            "event_type",
            "day",
            "n",
            F.round(z, 6).alias("z"),
            (F.abs(z) > ANOMALY_Z).alias("anomaly"),
        )
    )


# --------------------------------------------------- RFM segmentation

def ev_user_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM user segmentation, EXACT-ntile diagnostic form — per-user
    Recency (last active day), Frequency (event count), Monetary
    (purchase value, summed as exact DECIMAL so the quartile sort key
    is deterministic), each bucketed into quartiles via ``ntile`` with
    a pinned user_id tiebreak.

    NOT REGISTERED (round-4 demotion, VERDICT r3 item 2): the three
    un-partitioned ``ntile`` windows are single-reducer sorts over the
    full user population — fine as an sf-bounded validation twin,
    wrong as a 100 TB primitive. The registered, oracle-verified form
    is :func:`ev_user_rfm_scalable` (distinct-value-histogram ECDF
    cuts + map-side bucketing); this exact form survives only as the
    pytest cross-check (tests/test_relational.py)."""
    base = (
        events_raw(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.max(ts_date("ts")).alias("last_day"),
            F.count("*").alias("frequency"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", F.col("value")
                ).otherwise(F.lit(0.0)).cast("decimal(18,6)")
            ).alias("monetary_dec"),
        )
    )
    r_w = Window.orderBy(F.desc("last_day"), F.asc("user_id"))
    f_w = Window.orderBy(F.desc("frequency"), F.asc("user_id"))
    m_w = Window.orderBy(F.desc("monetary_dec"), F.asc("user_id"))
    return base.select(
        "user_id",
        "last_day",
        "frequency",
        F.col("monetary_dec").cast("double").alias("monetary"),
        F.ntile(4).over(r_w).cast("int").alias("r_quartile"),
        F.ntile(4).over(f_w).cast("int").alias("f_quartile"),
        F.ntile(4).over(m_w).cast("int").alias("m_quartile"),
    )


#: Shared base CTE for the RFM oracle: exact-DECIMAL monetary per the
#: determinism conventions, anchor/threshold scalars from one aggregate.
_RFM_BASE_SQL = """WITH base AS (
  SELECT user_id,
         CAST(MAX(CAST(ts AS DATE)) AS DATE) AS last_day,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END
                  AS DECIMAL(18,6))) AS monetary
  FROM events GROUP BY user_id
),
agg AS (SELECT MAX(last_day) AS anchor, CAST(COUNT(*) AS BIGINT) AS n FROM base),
th AS (SELECT (n + 3) // 4 AS t1, (n + 1) // 2 AS t2, (3 * n + 3) // 4 AS t3 FROM agg),
b2 AS (
  SELECT b.user_id, b.last_day, b.frequency, b.monetary,
         CAST(date_diff('day', b.last_day, a.anchor) AS INTEGER) AS recency_days
  FROM base b, agg a
)"""


@register(
    "ev_user_rfm_scalable",
    _RFM_BASE_SQL
    + """,
rh AS (SELECT recency_days AS v,
              SUM(CAST(COUNT(*) AS BIGINT)) OVER (ORDER BY recency_days) AS cum
       FROM b2 GROUP BY recency_days),
rc AS (SELECT MIN(CASE WHEN r.cum >= t.t1 THEN r.v END) AS c1,
              MIN(CASE WHEN r.cum >= t.t2 THEN r.v END) AS c2,
              MIN(CASE WHEN r.cum >= t.t3 THEN r.v END) AS c3 FROM rh r, th t),
fh AS (SELECT frequency AS v,
              SUM(CAST(COUNT(*) AS BIGINT)) OVER (ORDER BY frequency) AS cum
       FROM b2 GROUP BY frequency),
fc AS (SELECT MIN(CASE WHEN f.cum >= t.t1 THEN f.v END) AS c1,
              MIN(CASE WHEN f.cum >= t.t2 THEN f.v END) AS c2,
              MIN(CASE WHEN f.cum >= t.t3 THEN f.v END) AS c3 FROM fh f, th t),
mh AS (SELECT monetary AS v,
              SUM(CAST(COUNT(*) AS BIGINT)) OVER (ORDER BY monetary) AS cum
       FROM b2 GROUP BY monetary),
mc AS (SELECT MIN(CASE WHEN m.cum >= t.t1 THEN m.v END) AS c1,
              MIN(CASE WHEN m.cum >= t.t2 THEN m.v END) AS c2,
              MIN(CASE WHEN m.cum >= t.t3 THEN m.v END) AS c3 FROM mh m, th t)
SELECT b.user_id, b.last_day, b.frequency,
       CAST(b.monetary AS DOUBLE) AS monetary,
       CAST(1 + CAST(b.recency_days > rc.c1 AS INTEGER)
              + CAST(b.recency_days > rc.c2 AS INTEGER)
              + CAST(b.recency_days > rc.c3 AS INTEGER) AS INTEGER) AS r_quartile,
       CAST(1 + CAST(b.frequency <= fc.c3 AS INTEGER)
              + CAST(b.frequency <= fc.c2 AS INTEGER)
              + CAST(b.frequency <= fc.c1 AS INTEGER) AS INTEGER) AS f_quartile,
       CAST(1 + CAST(b.monetary <= mc.c3 AS INTEGER)
              + CAST(b.monetary <= mc.c2 AS INTEGER)
              + CAST(b.monetary <= mc.c1 AS INTEGER) AS INTEGER) AS m_quartile
FROM b2 b, rc, fc, mc""",
)
def ev_user_rfm_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of RFM segmentation, now fully deterministic and
    oracle-verified (round-4 upgrade from the old ``percentile_approx``
    rows-only sketch). Quartile BOUNDARIES are type-1 (inverse-ECDF)
    quantiles — cut_q = smallest value v with |{x : x ≤ v}| ≥ ceil(q·n)
    — computed from the per-dimension DISTINCT-VALUE histogram:

    - the cumulative-count window runs over O(distinct values) rows
      (day offsets, event counts, 6-dp decimal spend), NOT over users —
      the pre-aggregated-O(|keys|) window pattern that survives scale;
    - thresholds use pure integer arithmetic ((n+3)//4 …), and cuts are
      actual data values, so both engines agree bit-for-bit — no
      interpolation, no sketch error, no float boundary flips;
    - recency anchors on the data's own MAX(last_day) (not wall-clock
      ``current_date``), keeping the query reproducible;
    - bucketing is MAP-SIDE against 9 collected scalars (bounded model
      state, like the IVF centroid fit). No global sort, no
      single-reducer ntile window — the only per-user shuffle is the
      base aggregate itself.

    Quartile definition: recency (smaller = better)
    q = 1 + [v>c1] + [v>c2] + [v>c3]; frequency/monetary (larger =
    better) q = 1 + [v≤c3] + [v≤c2] + [v≤c1]. Ties always share a
    bucket (unlike ntile, which splits ties by the user_id tiebreak);
    agreement with the exact-ntile diagnostic is pytest-asserted
    (tests/test_relational.py)."""
    base = bsp.persist(
        events_raw(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.max(ts_date("ts")).alias("last_day"),
            F.count("*").cast("long").alias("frequency"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", F.col("value")
                ).otherwise(F.lit(0.0)).cast("decimal(18,6)")
            ).alias("monetary_dec"),
        )
    )
    head = base.agg(
        F.max("last_day").alias("anchor"), F.count("*").alias("n")
    ).first()
    if head is None or head["anchor"] is None:  # empty input
        return spark.createDataFrame(
            [],
            "user_id long, last_day date, frequency long, monetary double,"
            " r_quartile int, f_quartile int, m_quartile int",
        )
    anchor, n = head["anchor"], int(head["n"])
    t1, t2, t3 = (n + 3) // 4, (n + 1) // 2, (3 * n + 3) // 4
    base = base.withColumn(
        "recency_days", F.datediff(F.lit(anchor), F.col("last_day"))
    )

    def ecdf_cuts(col: str) -> tuple:
        """Type-1 quantile cuts from the distinct-value histogram.

        The cumulative window is partition-less but runs over the
        pre-aggregated distinct values of one dimension — bounded by
        value cardinality, not user count."""
        hist = base.groupBy(col).agg(F.count("*").cast("long").alias("cnt"))
        cum = hist.withColumn(
            "cum", F.sum("cnt").over(Window.orderBy(col))
        )
        row = cum.agg(
            F.min(F.when(F.col("cum") >= t1, F.col(col))).alias("c1"),
            F.min(F.when(F.col("cum") >= t2, F.col(col))).alias("c2"),
            F.min(F.when(F.col("cum") >= t3, F.col(col))).alias("c3"),
        ).first()
        return row["c1"], row["c2"], row["c3"]

    r1, r2, r3 = ecdf_cuts("recency_days")
    f1, f2, f3 = ecdf_cuts("frequency")
    m1, m2, m3 = ecdf_cuts("monetary_dec")

    def asc_q(col: str, c1, c2, c3):  # smaller value = better (quartile 1)
        c = F.col(col)
        return (
            F.lit(1)
            + (c > F.lit(c1)).cast("int")
            + (c > F.lit(c2)).cast("int")
            + (c > F.lit(c3)).cast("int")
        ).cast("int")

    def desc_q(col: str, c1, c2, c3):  # larger value = better (quartile 1)
        c = F.col(col)
        return (
            F.lit(1)
            + (c <= F.lit(c3)).cast("int")
            + (c <= F.lit(c2)).cast("int")
            + (c <= F.lit(c1)).cast("int")
        ).cast("int")

    return bsp.checkpoint_result(
        base.select(
            "user_id",
            "last_day",
            "frequency",
            F.col("monetary_dec").cast("double").alias("monetary"),
            asc_q("recency_days", r1, r2, r3).alias("r_quartile"),
            desc_q("frequency", f1, f2, f3).alias("f_quartile"),
            desc_q("monetary_dec", m1, m2, m3).alias("m_quartile"),
        )
    )


# --------------------------------------------- user activity features

@register(
    "ev_user_activity_features",
    """WITH e AS (
  SELECT user_id, event_id, CAST(ts AS DATE) AS day, epoch_us(ts) AS tsm
  FROM events
), gaps AS (
  SELECT user_id, tsm - lag(tsm) OVER w AS gap
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsm, event_id)
)
SELECT e.user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT e.day) AS BIGINT) AS n_active_days,
       ROUND(COUNT(*) / CAST(COUNT(DISTINCT e.day) AS DOUBLE), 6)
         AS events_per_active_day,
       ANY_VALUE(g.max_gap) AS max_gap_us,
       ROUND(SUM(CASE WHEN e.day >= DATE '2024-01-24' THEN 1.0 ELSE 0.0 END)
             / COUNT(*), 6) AS last7_share
FROM e
JOIN (SELECT user_id, MAX(gap) AS max_gap FROM gaps GROUP BY user_id) g
  ON e.user_id = g.user_id
GROUP BY e.user_id""",
)
def ev_user_activity_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user **activity feature vector** for churn/engagement
    models: event count, distinct active days, events per active day,
    the longest inactivity gap, and the share of activity in the final
    week of the (pinned) observation window — classic behavioral
    features, all from one scan + one lag window + one aggregate, every
    value a deterministic rational (shares quantized to 6 dp).

    The week boundary is pinned to the fixture window (TODAY−6), not
    wall-clock — features must be reproducible for a training set.
    Scale: the gap window and the aggregate share one hash partitioning
    on user_id; ``max_gap_us`` is NULL for single-event users (no
    gap), which downstream imputation handles explicitly."""
    import datetime as dt

    from ..config import TODAY

    week_start = TODAY - dt.timedelta(days=6)
    ev = events_raw(spark, sf_dir).select(
        "user_id",
        "event_id",
        ts_date("ts").alias("day"),
        F.expr("ts DIV 1000").alias("tsm"),
    )
    order = Window.partitionBy("user_id").orderBy("tsm", "event_id")
    gaps = ev.withColumn("gap", F.col("tsm") - F.lag("tsm").over(order))
    return gaps.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("day").alias("n_active_days"),
        F.round(
            F.count("*") / F.countDistinct("day").cast("double"), 6
        ).alias("events_per_active_day"),
        F.max("gap").alias("max_gap_us"),
        F.round(
            F.sum(
                F.when(
                    F.col("day") >= F.lit(week_start.isoformat()).cast("date"),
                    F.lit(1.0),
                ).otherwise(F.lit(0.0))
            )
            / F.count("*"),
            6,
        ).alias("last7_share"),
    )


# -------------------------------------------- daily-series smoothing

#: EWMA decay (weight on a day k back = EWMA_ALPHA^k).
EWMA_DECAY = 0.7


@register(
    "ev_daily_ewma",
    f"""WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT a.event_type, a.day, a.n,
       ROUND(SUM(b.n * POWER({EWMA_DECAY}, a.day - b.day))
             / SUM(POWER({EWMA_DECAY}, a.day - b.day)), 6) AS ewma
FROM daily a JOIN daily b
  ON a.event_type = b.event_type AND b.day <= a.day
GROUP BY a.event_type, a.day, a.n""",
)
def ev_daily_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of the daily event series
    per type — the smoothing behind trend/anomaly baselines (the
    sibling of the z-score flags, ``ev_daily_anomaly``, and the
    fixed-window mean, ``a9``). Normalized form (Σwx/Σw) so gaps in
    the series reweight instead of decaying toward zero.

    Computed as a banded self-join over the **aggregated** daily
    matrix (days² per type, trivial after aggregation — never over raw
    events). POWER on doubles can drift an ulp between libm and the
    JVM; positive sums + 6-dp quantization absorb it."""
    daily = (
        events_raw(spark, sf_dir)
        .groupBy("event_type", ts_date("ts").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    a = daily.alias("a")
    b = daily.alias("b")
    wgt = F.pow(F.lit(EWMA_DECAY), F.datediff(F.col("a.day"), F.col("b.day")))
    return (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("b.day") <= F.col("a.day")),
        )
        .groupBy(
            F.col("a.event_type").alias("event_type"),
            F.col("a.day").alias("day"),
            F.col("a.n").alias("n"),
        )
        .agg(
            F.round(
                F.sum(F.col("b.n") * wgt) / F.sum(wgt), 6
            ).alias("ewma")
        )
    )


@register(
    "ev_weekday_profile",
    """WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       CAST((day - DATE '1970-01-01') % 7 AS INTEGER) AS dow,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(CAST(FLOOR((CAST(CAST(SUM(n) AS BIGINT) AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS avg_events
FROM daily GROUP BY 1, 2""",
)
def ev_weekday_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday seasonality profile: average daily event volume per
    (type, day-of-week). DOW is pinned as ``epoch_days % 7`` (0 =
    Thursday) — plain integer arithmetic, because the engines' native
    day-of-week functions disagree on week start and indexing. The
    input is the aggregated daily matrix, so the profile costs nothing
    at any scale."""
    daily = (
        events_raw(spark, sf_dir)
        .groupBy("event_type", ts_date("ts").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    dow = (
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")) % 7
    ).cast("int")
    return daily.groupBy("event_type", dow.alias("dow")).agg(
        F.count("*").alias("n_days"),
        ppm_value(
            F.sum("n").cast("double") / F.count("*")
        ).alias("avg_events"),
    )


@register(
    "ev_props_variant",
    """SELECT event_id, event_type,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events""",
)
def ev_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`ev_props_parse` through Spark 4's **VARIANT** type:
    ``try_parse_json`` decodes the payload once into the binary
    variant encoding, ``variant_get`` extracts typed paths from it.
    Same verified semantics as the from_json form (shared oracle
    shape; malformed/absent → NULL via the try_ variant), so the two
    parse paths are hash-cross-validated.

    Why it exists: ``from_json`` needs the full schema up front and
    re-parses the string per extracted field; VARIANT parses once and
    serves any number of ``variant_get`` paths from the binary form —
    the right call when the payload is wide, evolving, or shredded to
    parquet. The fixture payload is one key, so this is the wired-in
    mechanics (schema, null-safety, typed extraction) rather than the
    payoff."""
    ev = events_raw(spark, sf_dir)
    return ev.select(
        "event_id",
        "event_type",
        F.try_variant_get(F.try_parse_json("props"), "$.k", "long").alias("k"),
    )


# --------------------------------------------- distribution drift (PSI)

#: Drift split: the trailing week is "current", everything before is
#: the reference distribution.
PSI_SPLIT = "2024-01-23"
#: Decile probes for the reference bin edges.
PSI_DECILES = tuple(round(0.1 * i, 1) for i in range(1, 10))


def _psi_oracle() -> str:
    qs = ", ".join(
        f"ROUND(quantile_cont(value, {q}), 6)" for q in PSI_DECILES
    )
    return f"""WITH ref AS (
  SELECT value FROM events WHERE CAST(ts AS DATE) < DATE '{PSI_SPLIT}'
), cur AS (
  SELECT value FROM events WHERE CAST(ts AS DATE) >= DATE '{PSI_SPLIT}'
), edges AS (
  SELECT [{qs}] AS es FROM ref
), refb AS (
  SELECT 1 + len(list_filter(es, e -> value > e)) AS bin, COUNT(*) AS n
  FROM ref, edges GROUP BY 1
), curb AS (
  SELECT 1 + len(list_filter(es, e -> value > e)) AS bin, COUNT(*) AS n
  FROM cur, edges GROUP BY 1
), spine AS (SELECT unnest(generate_series(1, 10)) AS bin),
j AS (
  SELECT s.bin, COALESCE(r.n, 0) AS rn, COALESCE(c.n, 0) AS cn
  FROM spine s LEFT JOIN refb r USING (bin) LEFT JOIN curb c USING (bin)
), tot AS (SELECT SUM(rn) AS tr, SUM(cn) AS tc FROM j)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(rn AS BIGINT) AS ref_n,
       CAST(cn AS BIGINT) AS cur_n,
       ROUND(((rn + 0.5) / (tr + 5.0) - (cn + 0.5) / (tc + 5.0))
             * ln(((rn + 0.5) / (tr + 5.0)) / ((cn + 0.5) / (tc + 5.0))), 6)
         AS psi_term
FROM j, tot"""


@register("ev_value_psi", _psi_oracle())
def ev_value_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Population stability index** of the event ``value``
    distribution: trailing week vs everything before — the standard
    drift gate between a model's training window and its serving
    window (PSI < 0.1 stable, > 0.25 drifted; the per-bin terms sum to
    it). Bin edges are the reference window's EXACT interpolated
    deciles rounded to 6 dp (the `sk_value_percentiles_exact`
    cross-engine pinning), bucketing is ``1 + |{edges < v}|`` on
    identical doubles, and counts are smoothed ``(n+0.5)/(N+5)`` so
    empty bins contribute finite terms.

    Scale: two pushed-down date-window scans, one decile sort over the
    reference window (swap in `percentile_approx` cuts at 100 TB — the
    `ev_user_rfm_scalable` trade), map-side-combinable bin counts, and
    a 10-row spine join. Every psi_term is a few IEEE ops on exact
    integer counts + rounded edges — hash-stable at 6 dp."""
    import datetime as dt

    from ..sources.tables import events_raw as _ev

    split = dt.date.fromisoformat(PSI_SPLIT)
    # NOTE (r12): the reference window feeds both the decile aggregate
    # and its own bin counts (2 scans), but an in-query persist +
    # checkpoint was MEASURED 2.6x slower on this 0.3s-class query -
    # the fixed cache/checkpoint overhead exceeds one cheap pruned
    # re-scan. See OPTIMIZATION_r12.md (measure-first reverts).
    ref = _ev(
        spark, sf_dir, date_to=split - dt.timedelta(days=1)
    ).select("value")
    cur = _ev(spark, sf_dir, date_from=split).select("value")
    probes = ", ".join(str(q) for q in PSI_DECILES)
    edges = ref.agg(
        F.expr(
            f"transform(percentile(value, array({probes})), e -> round(e, 6))"
        ).alias("es")
    )

    def bucketed(df: DataFrame) -> DataFrame:
        return (
            df.crossJoin(F.broadcast(edges))
            .select(
                (
                    1
                    + F.size(
                        F.filter("es", lambda e: F.col("value") > e)
                    )
                ).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count("*").alias("n"))
        )

    spine = spark.range(1, 11).select(F.col("id").cast("int").alias("bin"))
    j = (
        spine.join(bucketed(ref).withColumnRenamed("n", "rn"), "bin", "left")
        .join(bucketed(cur).withColumnRenamed("n", "cn"), "bin", "left")
        .select(
            "bin",
            F.coalesce("rn", F.lit(0)).alias("rn"),
            F.coalesce("cn", F.lit(0)).alias("cn"),
        )
    )
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    p = (F.col("rn") + 0.5) / (F.sum("rn").over(w) + 5.0)
    q = (F.col("cn") + 0.5) / (F.sum("cn").over(w) + 5.0)
    return j.select(
        F.col("bin").cast("long").alias("bin"),
        F.col("rn").cast("long").alias("ref_n"),
        F.col("cn").cast("long").alias("cur_n"),
        F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
    )


# ------------------------------------------------- daily click series

def daily_click_series(ev: DataFrame) -> DataFrame:
    """Clicks per day ``(date, y)`` with the 0-based day order ``x`` (a
    row_number over the tiny daily relation) — the series every trend
    and forecast query below fits. Callers rename, cast or offset
    ``x``/``y`` themselves. SQL twin: ``_DAILY_CTES``."""
    daily = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(ts_date().alias("date"))
        .agg(F.count("*").cast("long").alias("y"))
    )
    return daily.select(
        "date",
        "y",
        (F.row_number().over(Window.orderBy("date")) - 1).cast("long").alias("x"),
    )


#: SQL twin of :func:`daily_click_series`: ``daily(date, y)`` and
#: ``idx(date, y, x)``.
_DAILY_CTES = """daily AS (
  SELECT CAST(ts AS DATE) AS date, CAST(COUNT(*) AS BIGINT) AS y
  FROM events WHERE event_type = 'click' GROUP BY 1
), idx AS (
  SELECT date, y, CAST(ROW_NUMBER() OVER (ORDER BY date) - 1 AS BIGINT) AS x
  FROM daily
)"""


# --------------------------------------------------------- OLS trend

@register(
    "ev_daily_trend_ols",
    f"""WITH {_DAILY_CTES}, s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM idx
)
SELECT cnt AS n_days,
       CAST(CAST(FLOOR(((cnt * sxy - sx * sy) * 1.0 / (cnt * sxx - sx * sx)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS slope,
       CAST(CAST(FLOOR(((sy - (cnt * sxy - sx * sy) * 1.0 / (cnt * sxx - sx * sx) * sx) / cnt) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS intercept,
       CAST(CAST(FLOOR((CASE WHEN cnt * syy - sy * sy = 0 THEN 1.0 ELSE (cnt * sxy - sx * sy) * (cnt * sxy - sx * sy) * 1.0 / ((cnt * sxx - sx * sx) * (cnt * syy - sy * sy)) END) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS r2
FROM s""",
)
def ev_daily_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Closed-form OLS trend** over daily click volume: slope /
    intercept / R² from the normal equations — the forecast-lite
    "is traffic growing and how fast" report. Every moment
    (Σx, Σy, Σx², Σxy, Σy²) is an exact INTEGER sum (day index ×
    integer counts), so the closed-form division is one double op on
    bit-identical operands in both engines — regression as a
    hash-verifiable aggregate, no MLlib, no iteration. The day index
    comes from a row_number over the (tiny) daily relation; the
    moments are one map-side-combinable aggregate. Degenerate
    zero-variance y pins R² = 1."""
    idx = daily_click_series(events_raw(spark, sf_dir))
    s = idx.agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    sl_num = F.col("cnt") * F.col("sxy") - F.col("sx") * F.col("sy")
    sl_den = F.col("cnt") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = sl_num * F.lit(1.0) / sl_den
    y_var = F.col("cnt") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        F.col("cnt").alias("n_days"),
        ppm_value(slope).alias("slope"),
        ppm_value(
            (F.col("sy") - slope * F.col("sx")) / F.col("cnt")
        ).alias("intercept"),
        ppm_value(
            F.when(y_var == 0, F.lit(1.0)).otherwise(
                sl_num * sl_num * F.lit(1.0) / (sl_den * y_var)
            )
        ).alias("r2"),
    )


# -------------------------------------------------------- KS drift

#: The two samples whose value distributions the KS statistic compares.
KS_TYPE_A = "click"
KS_TYPE_B = "purchase"

#: Value-bucket width for the two-phase ECDF prefix sum — bucket count
#: is bounded by (value range / width), ~70 for the fixture's [0, 560]
#: money range; widen for wider domains.
KS_BUCKET_WIDTH = 8


@register(
    "ev_ks_drift",
    f"""WITH s AS (
  SELECT value, event_type FROM events
  WHERE event_type IN ('{KS_TYPE_A}', '{KS_TYPE_B}')
), counts AS (
  SELECT (SELECT COUNT(*) FROM s WHERE event_type = '{KS_TYPE_A}') AS na,
         (SELECT COUNT(*) FROM s WHERE event_type = '{KS_TYPE_B}') AS nb
), steps AS (
  SELECT value,
         SUM(CASE WHEN event_type = '{KS_TYPE_A}' THEN 1 ELSE 0 END)
           OVER (ORDER BY value
                 RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
         SUM(CASE WHEN event_type = '{KS_TYPE_B}' THEN 1 ELSE 0 END)
           OVER (ORDER BY value
                 RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
  FROM s
)
SELECT CAST(counts.na AS BIGINT) AS n_a,
       CAST(counts.nb AS BIGINT) AS n_b,
       ROUND(MAX(ABS(CAST(ca AS DOUBLE) / counts.na
                     - CAST(cb AS DOUBLE) / counts.nb)), 6) AS ks_stat
FROM steps CROSS JOIN counts
GROUP BY counts.na, counts.nb""",
)
def ev_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Two-sample Kolmogorov-Smirnov statistic** between the click
    and purchase value distributions — ``max |ECDF_a − ECDF_b|``, the
    nonparametric drift detector that complements the binned PSI
    (``ev_value_psi``): KS needs no bin choice and catches shape
    drift PSI's deciles smear out. Tied values step together (the ECDF
    evaluates once per DISTINCT value), which is what makes the
    statistic — and the hash — deterministic under ties. Counts are
    exact integers; each ECDF value is one double division of
    bit-identical operands.

    Plan (round-11 verdict item 6 rewrite — this previously ran a
    single-partition RANGE window over every raw sample row): rows
    aggregate to per-distinct-value (ca, cb) counts FIRST, then the
    running counts come from the two-phase distributed prefix sum
    (``operators/prefix.py``): per-value-bucket partitioned windows
    plus bucket offsets from a broadcast triangular join over the
    O(range/width) bucket grid — no single-partition stage anywhere.
    The max over per-value ECDF gaps is a plain aggregate. State
    bounds: distinct-value relation ≤ the value grid; bucket grid ≤
    value range / {width} — both domain-bounded, never O(rows)."""
    from .prefix import with_cum_before

    s = events_raw(spark, sf_dir).filter(
        F.col("event_type").isin(KS_TYPE_A, KS_TYPE_B)
    ).select("value", "event_type")
    byval = s.groupBy("value").agg(
        F.sum(
            F.when(F.col("event_type") == KS_TYPE_A, 1).otherwise(0)
        ).cast("long").alias("ca_cnt"),
        F.sum(
            F.when(F.col("event_type") == KS_TYPE_B, 1).otherwise(0)
        ).cast("long").alias("cb_cnt"),
    )
    counts = byval.agg(
        F.sum("ca_cnt").alias("na"), F.sum("cb_cnt").alias("nb")
    )
    cum = with_cum_before(
        byval,
        "value",
        ["ca_cnt", "cb_cnt"],
        F.floor(F.col("value") / F.lit(float(KS_BUCKET_WIDTH))).cast("long"),
    )
    steps = cum.select(
        (F.col("cum_before_ca_cnt") + F.col("ca_cnt")).alias("ca"),
        (F.col("cum_before_cb_cnt") + F.col("cb_cnt")).alias("cb"),
    )
    return (
        steps.crossJoin(F.broadcast(counts))
        .groupBy("na", "nb")
        .agg(
            F.round(
                F.max(
                    F.abs(
                        F.col("ca").cast("double") / F.col("na")
                        - F.col("cb").cast("double") / F.col("nb")
                    )
                ),
                6,
            ).alias("ks_stat")
        )
        .select(
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            "ks_stat",
        )
    )


# --------------------------------------------- CUSUM changepoint scan

#: CUSUM reference drift (in sd units) and alarm threshold — the
#: standard (k, h) = (0.5, 4) tuning: detects ≥1sd mean shifts with
#: ~370-sample in-control ARL.
CUSUM_K = 0.5
CUSUM_H = 4.0


@register(
    "ev_cusum_changepoint",
    f"""WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
z AS (
  SELECT event_type, day, n,
         (n - AVG(n) OVER (PARTITION BY event_type))
           / stddev_samp(n) OVER (PARTITION BY event_type) AS z
  FROM daily
  QUALIFY stddev_samp(n) OVER (PARTITION BY event_type) > 0
),
p0 AS (
  SELECT event_type, day, n, z,
         SUM(z - {CUSUM_K}) OVER w AS rp,
         SUM(z + {CUSUM_K}) OVER w AS rq
  FROM z
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
p AS (
  SELECT event_type, day, n, z, rp, rq,
         MIN(rp) OVER w AS min_rp,
         MAX(rq) OVER w AS max_rq
  FROM p0
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, day, n, ROUND(z, 6) AS z,
       ROUND(rp - LEAST(0.0, min_rp), 6) AS cusum_pos,
       ROUND(GREATEST(0.0, max_rq) - rq, 6) AS cusum_neg,
       CAST(ROUND(rp - LEAST(0.0, min_rp), 6) > {CUSUM_H}
            OR ROUND(GREATEST(0.0, max_rq) - rq, 6) > {CUSUM_H}
          AS BOOLEAN) AS alarm
FROM p""",
)
def ev_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**CUSUM changepoint scan** over each event type's daily volume —
    the sequential mean-shift detector (Page 1954): one-sided
    cumulative sums of standardized deviations, reset at zero, alarm
    when either side exceeds ``CUSUM_H``. Unlike the pointwise z-score
    flags (``ev_daily_anomaly``), CUSUM accumulates SMALL persistent
    drifts — the slow upstream regression that never trips a 3-sd day
    but has shifted the mean for a week.

    The textbook recursion ``S⁺_d = max(0, S⁺_{{d-1}} + z_d − k)`` is
    not a built-in window function, but its closed form is:
    ``S⁺_n = P_n − min(0, min_{{j≤n}} P_j)`` where ``P`` is the running
    sum of ``z − k`` — a cumulative sum plus a running extremum, both
    plain window functions over the per-type daily series (O(days)
    rows after the one aggregation shuffle — never data-sized).
    Symmetrically ``S⁻_n = max(0, max_j Q_j) − Q_n`` on ``z + k``.
    The alarm compares the 6-dp-quantized sums on both engines, so the
    boundary decision itself is hash-stable."""
    ev = events_raw(spark, sf_dir)
    daily = (
        ev.select("event_type", ts_date("ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").cast("long").alias("n"))
    )
    stats_w = Window.partitionBy("event_type")
    z = (F.col("n") - F.avg("n").over(stats_w)) / F.stddev_samp("n").over(
        stats_w
    )
    zd = daily.withColumn("sd", F.stddev_samp("n").over(stats_w)).filter(
        F.col("sd") > 0
    ).select("event_type", "day", "n", z.alias("z"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p0 = zd.select(
        "event_type",
        "day",
        "n",
        "z",
        F.sum(F.col("z") - CUSUM_K).over(w).alias("rp"),
        F.sum(F.col("z") + CUSUM_K).over(w).alias("rq"),
    )
    p = p0.select(
        "event_type",
        "day",
        "n",
        "z",
        "rp",
        "rq",
        F.min("rp").over(w).alias("min_rp"),
        F.max("rq").over(w).alias("max_rq"),
    )
    pos = F.round(F.col("rp") - F.least(F.lit(0.0), F.col("min_rp")), 6)
    neg = F.round(F.greatest(F.lit(0.0), F.col("max_rq")) - F.col("rq"), 6)
    return p.select(
        "event_type",
        "day",
        "n",
        F.round("z", 6).alias("z"),
        pos.alias("cusum_pos"),
        neg.alias("cusum_neg"),
        ((pos > CUSUM_H) | (neg > CUSUM_H)).alias("alarm"),
    )


# --------------------------------------------- growth accounting

@register(
    "ev_growth_accounting",
    """WITH activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), seq AS (
  SELECT user_id, day,
         LAG(day)  OVER (PARTITION BY user_id ORDER BY day) AS prev_day,
         LEAD(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
  FROM activity
), act AS (
  SELECT day,
         CAST(COUNT(*) AS BIGINT) AS n_active,
         CAST(SUM(CASE WHEN prev_day IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new,
         CAST(SUM(CASE WHEN prev_day = day - 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_retained,
         CAST(SUM(CASE WHEN prev_day IS NOT NULL AND prev_day < day - 1
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
  FROM seq GROUP BY day
), churn AS (
  SELECT day + 1 AS day, CAST(COUNT(*) AS BIGINT) AS n_churned
  FROM seq
  WHERE (next_day IS NULL OR next_day > day + 1)
    AND day + 1 <= (SELECT MAX(day) FROM activity)
  GROUP BY day + 1
)
SELECT COALESCE(a.day, c.day) AS day,
       CAST(COALESCE(a.n_active, 0) AS BIGINT) AS n_active,
       CAST(COALESCE(a.n_new, 0) AS BIGINT) AS n_new,
       CAST(COALESCE(a.n_retained, 0) AS BIGINT) AS n_retained,
       CAST(COALESCE(a.n_resurrected, 0) AS BIGINT) AS n_resurrected,
       CAST(COALESCE(c.n_churned, 0) AS BIGINT) AS n_churned,
       ROUND(CAST(COALESCE(a.n_new, 0) + COALESCE(a.n_resurrected, 0)
                  AS DOUBLE) / NULLIF(COALESCE(c.n_churned, 0), 0), 6)
         AS quick_ratio
FROM act a FULL OUTER JOIN churn c ON a.day = c.day""",
)
def ev_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Growth accounting**: each day's active users decomposed into
    new (first day ever), retained (also active yesterday), and
    resurrected (active before, but not yesterday), plus churned
    (active yesterday, gone today — attributed to the first inactive
    day, bounded to the observed range since churn after the last
    observed day is unknowable) and the quick ratio
    (new + resurrected) / churned. The companion of the cohort matrix
    (``a13_retention_cohorts``): same per-user activity spine, but
    decomposing day-over-day flux instead of cohort survival.

    Plan: one distinct over (user, day) — the A1 clickers shuffle —
    then lag/lead in ONE user-partitioned window pass, two O(days)
    aggregates, and a full-outer join on the tiny day spine. The churn
    bound is a 1-row MAX(day) scalar broadcast. At 100 TB the distinct
    dominates; the window partitions by user (millions of independent
    partitions, no global sort)."""
    activity = (
        events_raw(spark, sf_dir)
        .select("user_id", ts_date("ts").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    seq = activity.select(
        "user_id",
        "day",
        F.lag("day").over(w).alias("prev_day"),
        F.lead("day").over(w).alias("next_day"),
    )
    act = seq.groupBy("day").agg(
        F.count("*").cast("long").alias("n_active"),
        F.sum(F.when(F.col("prev_day").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(
            F.when(F.col("prev_day") == F.date_sub("day", 1), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_retained"),
        F.sum(
            F.when(
                F.col("prev_day").isNotNull()
                & (F.col("prev_day") < F.date_sub("day", 1)),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_resurrected"),
    )
    max_day = activity.agg(F.max("day").alias("max_day"))
    churn = (
        seq.filter(
            F.col("next_day").isNull()
            | (F.col("next_day") > F.date_add("day", 1))
        )
        .select(F.date_add("day", 1).alias("day"))
        .crossJoin(F.broadcast(max_day))
        .filter(F.col("day") <= F.col("max_day"))
        .groupBy("day")
        .agg(F.count("*").cast("long").alias("n_churned"))
    )
    a, c = act.alias("a"), churn.alias("c")
    n = lambda col: F.coalesce(F.col(col), F.lit(0)).cast("long")  # noqa: E731
    growth = n("a.n_new") + n("a.n_resurrected")
    return a.join(c, F.col("a.day") == F.col("c.day"), "full_outer").select(
        F.coalesce(F.col("a.day"), F.col("c.day")).alias("day"),
        n("a.n_active").alias("n_active"),
        n("a.n_new").alias("n_new"),
        n("a.n_retained").alias("n_retained"),
        n("a.n_resurrected").alias("n_resurrected"),
        n("c.n_churned").alias("n_churned"),
        F.round(
            F.when(n("c.n_churned") > 0, growth.cast("double") / n("c.n_churned")),
            6,
        ).alias("quick_ratio"),
    )


# ------------------------------------------------ robust MAD anomaly

#: Iglewicz–Hoaglin modified z-score: 0.6745·(x−med)/MAD, flag > 3.5.
MAD_Z_SCALE = 0.6745
MAD_Z_CUTOFF = 3.5


@register(
    "ev_mad_anomaly",
    f"""WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), med AS (
  SELECT event_type, n AS median_n FROM (
    SELECT event_type, n,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY n, day) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS cnt
    FROM daily
  ) WHERE rn = (cnt + 1) // 2
), dev AS (
  SELECT d.event_type, d.day, d.n, m.median_n,
         ABS(d.n - m.median_n) AS adev
  FROM daily d JOIN med m ON d.event_type = m.event_type
), mad AS (
  SELECT event_type, adev AS mad_n FROM (
    SELECT event_type, adev,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY adev, day) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS cnt
    FROM dev
  ) WHERE rn = (cnt + 1) // 2
)
SELECT d.event_type, d.day, d.n,
       d.median_n, a.mad_n,
       CAST(CAST(FLOOR(({MAD_Z_SCALE} * (d.n - d.median_n)
             / NULLIF(CAST(a.mad_n AS DOUBLE), 0))
             * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0
         AS robust_z,
       COALESCE(ABS({MAD_Z_SCALE} * (d.n - d.median_n)
                    / NULLIF(CAST(a.mad_n AS DOUBLE), 0))
                > {MAD_Z_CUTOFF}, FALSE) AS anomaly
FROM dev d JOIN mad a ON d.event_type = a.event_type""",
)
def ev_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Robust anomaly flags** on the daily series via median / MAD
    (Iglewicz–Hoaglin modified z-score): the mean/std twin
    (``ev_daily_anomaly``) lets one spike inflate σ and mask its
    neighbors; median and MAD have a 50% breakdown point, so the
    baseline ignores the outliers it is hunting. Selection is the
    TYPE-1 lower median — rank the values and take position
    ``(n+1)//2`` with day as the deterministic tie-break — the same
    exact-selection convention as the ECDF quantile cuts
    (``ev_user_rfm_scalable``): no interpolation, both engines pick
    the identical integer, so med/MAD are exact and the only float is
    the final scaled ratio. MAD = 0 (a constant series) yields NULL z
    and a FALSE flag.

    Plan: one map-side (type, day) count, then all windows partition by
    event_type over the O(days)-per-type daily matrix — the same
    bounded-relation discipline as EWMA/CUSUM; nothing global, nothing
    data-sized past the first aggregate."""
    daily = (
        events_raw(spark, sf_dir)
        .groupBy("event_type", ts_date("ts").alias("day"))
        .agg(F.count("*").cast("long").alias("n"))
    )

    def type1_median(df: DataFrame, val: str, out: str) -> DataFrame:
        w = Window.partitionBy("event_type").orderBy(val, "day")
        cw = Window.partitionBy("event_type")
        return (
            df.select(
                "event_type",
                F.col(val),
                F.row_number().over(w).alias("rn"),
                F.count("*").over(cw).alias("cnt"),
            )
            .filter(F.col("rn") == F.floor((F.col("cnt") + 1) / 2))
            .select("event_type", F.col(val).alias(out))
        )

    med = type1_median(daily, "n", "median_n")
    dev = daily.join(med, "event_type").withColumn(
        "adev", F.abs(F.col("n") - F.col("median_n"))
    )
    mad = type1_median(dev, "adev", "mad_n")
    rz = F.lit(MAD_Z_SCALE) * (F.col("n") - F.col("median_n")) / F.nullif(
        F.col("mad_n").cast("double"), F.lit(0.0)
    )
    return dev.join(mad, "event_type").select(
        "event_type",
        "day",
        "n",
        "median_n",
        "mad_n",
        ppm_value(rz).alias("robust_z"),
        F.coalesce(F.abs(rz) > MAD_Z_CUTOFF, F.lit(False)).alias("anomaly"),
    )


# -------------------------------------------- trimmed / winsorized mean

#: Tail fraction dropped (trimmed) or clamped (winsorized) on EACH side,
#: in percent. 5% two-sided — the standard robust-revenue convention.
TRIM_PCT = 5


@register(
    "ev_trimmed_mean",
    f"""WITH vals AS (
  SELECT CAST(ROUND(CAST(value AS DECIMAL(18,6)), 2) AS DECIMAL(18,2)) AS v
  FROM events WHERE event_type = 'purchase'
), byval AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM vals GROUP BY v
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(SUM(cnt) * {TRIM_PCT} // 100 AS BIGINT) AS k
  FROM byval
), cum AS (
  SELECT v, cnt, n, k,
         SUM(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - cnt
           AS cum_before
  FROM byval CROSS JOIN tot
), contrib AS (
  SELECT v, cnt, n, k, cum_before,
         GREATEST(LEAST(cnt, n - k - cum_before)
                  - GREATEST(0, k - cum_before), 0) AS kept
  FROM cum
)
SELECT MAX(n) AS n,
       MAX(k) AS k_each_side,
       CAST(MAX(CASE WHEN cum_before < k + 1
                      AND k + 1 <= cum_before + cnt THEN v END)
            AS DOUBLE) AS v_low,
       CAST(MAX(CASE WHEN cum_before < n - k
                      AND n - k <= cum_before + cnt THEN v END)
            AS DOUBLE) AS v_high,
       CAST(CAST(FLOOR((CAST(SUM(v * kept) AS DOUBLE)
                        / (MAX(n) - 2 * MAX(k)))
                       * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0
         AS trimmed_mean,
       CAST(CAST(FLOOR(((CAST(SUM(v * kept) AS DOUBLE)
              + MAX(k) * CAST(MAX(CASE WHEN cum_before < k + 1
                                        AND k + 1 <= cum_before + cnt
                                   THEN v END) AS DOUBLE)
              + MAX(k) * CAST(MAX(CASE WHEN cum_before < n - k
                                        AND n - k <= cum_before + cnt
                                   THEN v END) AS DOUBLE))
             / MAX(n)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0
         AS winsorized_mean
FROM contrib""",
)
def ev_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Trimmed and winsorized revenue means** — the robust location
    estimates every revenue dashboard needs next to the raw mean
    (one whale purchase should not move the KPI). Drops (trimmed) or
    clamps (winsorized) the top/bottom 5% of purchase values; one row:
    n, per-side cut count k, the two cut values, both means.

    Scale design: per-row ranks are never materialized. Values are
    cent-quantized and aggregated to ``(value, count)`` first, the
    cut positions come from a running sum over the *distinct-value*
    relation (bounded by the money grid), and each value group
    contributes ``clamp(min(cnt, (n−k)−cum_before) − max(0, k−cum_before))``
    kept copies — exact integer arithmetic, the boundary groups
    partially included. Sums are DECIMAL×BIGINT (exact); only the two
    final divisions are doubles. Same aggregation-first discipline as
    :func:`~..operators.events_flow.ef_mannwhitney_u`.

    The cut-position running sum is the two-phase distributed prefix
    sum (``operators/prefix.py``, round-11 verdict item 6): per-bucket
    partitioned windows + broadcast triangular-join offsets over the
    O(range/width) cent-bucket grid — no single-partition window over
    the ~10k-distinct-value money grid."""
    from .prefix import with_cum_before

    ev = events_raw(spark, sf_dir)
    vals = ev.filter(F.col("event_type") == "purchase").select(
        F.round(F.col("value").cast("decimal(18,6)"), 2)
        .cast("decimal(18,2)")
        .alias("v")
    )
    byval = vals.groupBy("v").agg(F.count("*").cast("long").alias("cnt"))
    tot = byval.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.expr(f"CAST(SUM(cnt) * {TRIM_PCT} DIV 100 AS BIGINT)").alias("k"),
    )
    cum = with_cum_before(
        byval,
        "v",
        ["cnt"],
        F.floor(F.col("v").cast("double") / 8.0).cast("long"),
    ).crossJoin(F.broadcast(tot)).select(
        "v",
        "cnt",
        "n",
        "k",
        F.col("cum_before_cnt").alias("cum_before"),
    )
    kept = F.greatest(
        F.least(F.col("cnt"), F.col("n") - F.col("k") - F.col("cum_before"))
        - F.greatest(F.lit(0), F.col("k") - F.col("cum_before")),
        F.lit(0),
    )
    contrib = cum.withColumn("kept", kept)
    v_low = F.max(
        F.when(
            (F.col("cum_before") < F.col("k") + 1)
            & (F.col("k") + 1 <= F.col("cum_before") + F.col("cnt")),
            F.col("v"),
        )
    ).cast("double")
    v_high = F.max(
        F.when(
            (F.col("cum_before") < F.col("n") - F.col("k"))
            & (F.col("n") - F.col("k") <= F.col("cum_before") + F.col("cnt")),
            F.col("v"),
        )
    ).cast("double")
    tsum = F.sum(F.col("v") * F.col("kept")).cast("double")
    return contrib.agg(
        F.max("n").alias("n"),
        F.max("k").alias("k_each_side"),
        v_low.alias("v_low"),
        v_high.alias("v_high"),
        ppm_value(tsum / (F.max("n") - 2 * F.max("k"))).alias(
            "trimmed_mean"
        ),
        ppm_value(
            (tsum + F.max("k") * v_low + F.max("k") * v_high) / F.max("n")
        ).alias("winsorized_mean"),
    )


# ---------------------------------------------- Theil-Sen robust trend

@register(
    "ev_theil_sen",
    f"""WITH {_DAILY_CTES}, pairs AS (
  SELECT a.x AS xi, b.x AS xj,
         (b.y - a.y) * 1.0 / (b.x - a.x) AS sl
  FROM idx a JOIN idx b ON b.x > a.x
), ms AS (
  SELECT sl, ROW_NUMBER() OVER (ORDER BY sl, xi, xj) AS rn,
         COUNT(*) OVER () AS m
  FROM pairs
), med AS (
  SELECT AVG(sl) AS slope FROM ms
  WHERE rn IN ((m + 1) // 2, (m + 2) // 2)
), res AS (
  SELECT i.y - med.slope * i.x AS r, i.x FROM idx i CROSS JOIN med
), mr AS (
  SELECT r, ROW_NUMBER() OVER (ORDER BY r, x) AS rn,
         COUNT(*) OVER () AS c
  FROM res
), imed AS (
  SELECT AVG(r) AS icpt FROM mr WHERE rn IN ((c + 1) // 2, (c + 2) // 2)
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM idx) AS n_days,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_pairs,
       ROUND(med.slope, 6) AS ts_slope,
       ROUND(imed.icpt, 6) AS ts_intercept
FROM med CROSS JOIN imed""",
)
def ev_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Theil-Sen robust trend** over daily click volume — the median
    of all pairwise slopes, with intercept as the median residual at
    that slope. The breakdown-resistant companion of
    :func:`ev_daily_trend_ols`: one corrupted day (outage, bot storm)
    drags OLS but moves a median of ~n²/2 slopes almost nowhere.

    Bounded by construction: the pair relation is |days|² over the
    PRE-AGGREGATED daily series (30 days → 435 pairs), so the global
    median windows run on a tiny relation — same
    aggregate-first-then-window discipline as the trimmed mean.
    Slopes are ratios of exact integers (identical doubles both
    engines); medians select by deterministic (value, pair) order and
    average at most two identical doubles. One row out."""
    # idx (|days| rows) feeds both pair sides, the residual pass and
    # the day count; pairs feeds the median window and the pair count —
    # persist both tiny relations or the events scan re-runs per
    # consumer (r12 scan audit: 8 duplicate scans before)
    idx = bsp.persist(
        daily_click_series(events_raw(spark, sf_dir)).select(
            F.col("y").alias("n"), "x"
        )
    )
    a = idx.select(F.col("x").alias("xi"), F.col("n").alias("ni"))
    b = idx.select(F.col("x").alias("xj"), F.col("n").alias("nj"))
    pairs = bsp.persist(
        a.join(b, F.col("xj") > F.col("xi")).select(
            "xi",
            "xj",
            ((F.col("nj") - F.col("ni")) * 1.0 / (F.col("xj") - F.col("xi"))).alias(
                "sl"
            ),
        )
    )
    wm = Window.orderBy("sl", "xi", "xj")
    ms = pairs.select(
        "sl",
        F.row_number().over(wm).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("m"),
    )
    med = ms.filter(
        (F.col("rn") == F.expr("(m + 1) DIV 2"))
        | (F.col("rn") == F.expr("(m + 2) DIV 2"))
    ).agg(F.avg("sl").alias("slope"))
    res = idx.crossJoin(F.broadcast(med)).select(
        (F.col("n") - F.col("slope") * F.col("x")).alias("r"), "x"
    )
    wr = Window.orderBy("r", "x")
    mr = res.select(
        "r",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("c"),
    )
    imed = mr.filter(
        (F.col("rn") == F.expr("(c + 1) DIV 2"))
        | (F.col("rn") == F.expr("(c + 2) DIV 2"))
    ).agg(F.avg("r").alias("icpt"))
    n_days = idx.agg(F.count("*").cast("long").alias("n_days"))
    n_pairs = pairs.agg(F.count("*").cast("long").alias("n_pairs"))
    out = (
        n_days.crossJoin(F.broadcast(n_pairs))
        .crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(imed))
        .select(
            "n_days",
            "n_pairs",
            F.round(F.col("slope"), 6).alias("ts_slope"),
            F.round(F.col("icpt"), 6).alias("ts_intercept"),
        )
    )
    return bsp.checkpoint_result(out)


# ------------------------------------------------- autocorrelation (ACF)

#: Maximum lag reported (1 week of daily lags).
ACF_MAX_LAG = 7


@register(
    "ev_autocorrelation",
    f"""WITH {_DAILY_CTES}, s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS sy
  FROM idx
), dev AS (
  -- n·y_t − S: integer deviations scaled by n (exact, no rational mean)
  SELECT i.x + 1 AS t, i.y * s.n - s.sy AS d, s.n FROM idx i CROSS JOIN s
), denom AS (
  SELECT CAST(SUM(d * d) AS BIGINT) AS den FROM dev
), lags AS (
  SELECT CAST(k AS BIGINT) AS lag FROM generate_series(1, {ACF_MAX_LAG}) g(k)
)
SELECT l.lag,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(CAST(FLOOR((CAST(SUM(a.d * b.d) AS DOUBLE) / MAX(dn.den)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS acf
FROM lags l
JOIN dev a ON TRUE
JOIN dev b ON b.t = a.t + l.lag
CROSS JOIN denom dn
GROUP BY l.lag""",
)
def ev_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Autocorrelation function** of daily click volume at lags 1-7 —
    the seasonality detector (a weekly cycle shows as an acf spike at
    lag 7) that tells the forecasting layer whether the trend ops
    (:func:`ev_daily_trend_ols`, :func:`ev_theil_sen`) need seasonal
    adjustment.

    Exact-arithmetic trick: deviations are computed as ``n·y_t − Σy``
    (integers — no rational mean anywhere), so numerator and
    denominator are exact BIGINT sums and the single division is one
    double op on identical operands. The lag join runs over the
    pre-aggregated daily relation (|days| rows) against a 7-row lag
    spine — bounded like every series op here."""
    # idx feeds the totals and the deviation pass; dev feeds the
    # denominator and both lag-join sides — persist both tiny series
    # relations (r12 scan audit: 6 duplicate scans before)
    idx = bsp.persist(
        daily_click_series(events_raw(spark, sf_dir)).select(
            "y", (F.col("x") + 1).alias("t")
        )
    )
    s = idx.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
    )
    dev = bsp.persist(
        idx.crossJoin(F.broadcast(s)).select(
            "t", (F.col("y") * F.col("n") - F.col("sy")).alias("d")
        )
    )
    denom = dev.agg(F.sum(F.col("d") * F.col("d")).cast("long").alias("den"))
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a = dev.select(F.col("t").alias("ta"), F.col("d").alias("da"))
    b = dev.select(F.col("t").alias("tb"), F.col("d").alias("db"))
    out = (
        lags.join(a, F.lit(True))
        .join(b, F.col("tb") == F.col("ta") + F.col("lag"))
        .crossJoin(F.broadcast(denom))
        .groupBy("lag")
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            ppm_value(
                F.sum(F.col("da") * F.col("db")).cast("double")
                / F.max("den")
            ).alias("acf"),
        )
    )
    return bsp.checkpoint_result(out)


# ------------------------------------------------- EWMA forecast

#: Truncated-EWMA smoothing constant and horizon. s_t is the W-term
#: truncation of the recursion s_t = a*y_t + (1-a)*s_(t-1) (exact for
#: t < W; for t >= W the dropped tail carries (1-a)^W ~ 0.68% of the
#: weight -- BOTH engines compute this identical definition, which is
#: also the fixed-lookback recompute a streaming EWMA deployment
#: uses). The weights are computed once here as ``a*(1-a)**j`` and
#: ``(1-a)**j`` (a running product differs in the last ulp) and injected
#: into BOTH plans as literal doubles -- no pow() in either engine, so
#: no libm variance.
EWMA_ALPHA = 0.3
EWMA_W = 14

_EWMA_A = [EWMA_ALPHA * (1 - EWMA_ALPHA) ** j for j in range(EWMA_W)]
_EWMA_H = [(1 - EWMA_ALPHA) ** j for j in range(EWMA_W)]


def _ewma_smoothed(spark: SparkSession, idx: DataFrame) -> DataFrame:
    """Shared W-truncated EWMA levels over an indexed daily series
    ``(x, y)`` → ``(tx, ty, s)`` — the banded-join kernel used by the
    forecast op and the rolling-origin backtest."""
    coef = spark.createDataFrame(
        list(enumerate(_EWMA_A)), "j long, c double"
    )
    head = spark.createDataFrame(
        list(enumerate(_EWMA_H)), "t long, h double"
    )
    y0 = idx.filter(F.col("x") == 0).select(F.col("y").alias("y0"))
    t = idx.select(F.col("x").alias("tx"), F.col("y").alias("ty"))
    k = idx.select(F.col("x").alias("kx"), F.col("y").alias("ky"))
    terms = (
        t.join(
            k,
            (
                F.col("kx")
                >= F.greatest(F.lit(1), F.col("tx") - (EWMA_W - 1))
            )
            & (F.col("kx") <= F.col("tx")),
            "left",
        )
        .join(
            F.broadcast(coef),
            F.col("j") == F.col("tx") - F.col("kx"),
            "left",
        )
        .join(
            F.broadcast(head),
            (F.col("t") == F.col("tx"))
            & F.col("tx").between(1, EWMA_W - 1),
            "left",
        )
        .crossJoin(F.broadcast(y0))
    )
    return terms.groupBy("tx", "ty").agg(
        F.when(F.col("tx") == 0, F.first("ty").cast("double"))
        .otherwise(
            F.sum(F.col("c") * F.col("ky"))
            + F.coalesce(F.max(F.col("h") * F.col("y0")), F.lit(0.0))
        )
        .alias("s")
    )


def _ewma_values_sql() -> str:
    """SQL twin of :func:`_ewma_smoothed` over ``idx(x, y)``: CTEs
    ``coef``, ``head``, ``y0`` and the smoothed levels ``s(x, s)``."""
    a_vals = ", ".join(f"({j}, {c!r})" for j, c in enumerate(_EWMA_A))
    h_vals = ", ".join(f"({t}, {h!r})" for t, h in enumerate(_EWMA_H))
    return f"""coef(j, c) AS (VALUES {a_vals}),
head(t, h) AS (VALUES {h_vals}),
y0 AS (SELECT y AS y0 FROM idx WHERE x = 0),
s AS (
  SELECT t.x,
         CASE WHEN t.x = 0 THEN CAST(t.y AS DOUBLE)
              ELSE SUM(c.c * k.y) + COALESCE(MAX(hd.h * y0.y0), 0.0)
         END AS s
  FROM idx t
  CROSS JOIN y0
  LEFT JOIN idx k ON k.x >= GREATEST(1, t.x - {EWMA_W - 1}) AND k.x <= t.x
  LEFT JOIN coef c ON c.j = t.x - k.x
  LEFT JOIN head hd ON hd.t = t.x AND t.x BETWEEN 1 AND {EWMA_W - 1}
  GROUP BY t.x, t.y
)"""


@register(
    "ev_ewma_forecast",
    f"""WITH {_DAILY_CTES}, {_ewma_values_sql()},
last AS (SELECT s FROM s ORDER BY x DESC LIMIT 1),
mae AS (
  SELECT AVG(ABS(i.y - sp.s)) AS m
  FROM idx i JOIN s sp ON sp.x = i.x - 1 WHERE i.x > 0
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM idx)
SELECT n.n_days, CAST(0.3 AS DOUBLE) AS alpha,
       ROUND(last.s, 6) AS forecast_next,
       ROUND(mae.m, 6) AS mae_one_step
FROM n CROSS JOIN last CROSS JOIN mae""",
)
def ev_ewma_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Truncated-EWMA one-step forecast** of daily click volume with
    in-sample mean absolute error -- the capacity-planning primitive
    ("what does tomorrow look like, and how wrong is this smoother
    usually"). s_t = sum_(j<W) a(1-a)^j y_(t-j) (+ the exact (1-a)^t
    y_0 head while t < W); forecast_(t+1) = s_t; MAE over the
    one-step residuals |y_t - s_(t-1)|.

    Scale: everything runs on the PRE-AGGREGATED daily series -- the
    banded self-join is |days| x W rows (a year -> ~5k), the same
    aggregate-first discipline as Theil-Sen/autocorrelation. At
    100 TB only the daily count aggregate touches data."""
    # idx feeds the smoother and the day count; the smoothed series
    # feeds the last value, the shifted copy and the MAE join — persist
    # both tiny series relations (r12 scan audit: 10 duplicate scans)
    idx = bsp.persist(daily_click_series(events_raw(spark, sf_dir)).select("y", "x"))
    s = bsp.persist(_ewma_smoothed(spark, idx))
    last = (
        s.orderBy(F.col("tx").desc())
        .limit(1)
        .select(F.col("s").alias("s_last"))
    )
    sp = s.select(F.col("tx").alias("px"), F.col("s").alias("s_prev"))
    mae = (
        s.join(sp, F.col("px") == F.col("tx") - 1)
        .filter(F.col("tx") > 0)
        .agg(F.avg(F.abs(F.col("ty") - F.col("s_prev"))).alias("m"))
    )
    n = idx.agg(F.count("*").cast("long").alias("n_days"))
    out = (
        n.crossJoin(F.broadcast(last))
        .crossJoin(F.broadcast(mae))
        .select(
            "n_days",
            F.lit(EWMA_ALPHA).cast("double").alias("alpha"),
            F.round("s_last", 6).alias("forecast_next"),
            F.round("m", 6).alias("mae_one_step"),
        )
    )
    return bsp.checkpoint_result(out)


# ------------------------------------- seasonal decomposition (weekly)

@register(
    "ev_seasonal_decomposition",
    f"""WITH {_DAILY_CTES}, tr AS (
  SELECT date, y, isodow(date) AS dow,
         AVG(y) OVER (ORDER BY date
                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS ma,
         COUNT(*) OVER (ORDER BY date
                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wn
  FROM daily
), det AS (
  SELECT dow, y - ma AS d FROM tr WHERE wn = 7
), seas AS (
  SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days, AVG(d) AS s
  FROM det GROUP BY dow
), stats AS (
  SELECT SUM(det.d * det.d) AS ss_det,
         SUM((det.d - seas.s) * (det.d - seas.s)) AS ss_res
  FROM det JOIN seas USING (dow)
)
SELECT CAST(seas.dow AS INTEGER) AS isodow, seas.n_days,
       ROUND(seas.s, 6) AS seasonal,
       ROUND(1.0 - stats.ss_res / stats.ss_det, 6) AS seasonal_r2
FROM seas CROSS JOIN stats""",
)
def ev_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Classical additive seasonal decomposition** of daily click
    volume at weekly period: trend = centered 7-day moving average
    (only full windows — the standard endpoint exclusion), seasonal
    index = mean detrended value per ISO day-of-week, and the share of
    detrended variance the weekly pattern explains (the "is there a
    weekday effect worth modeling" dial; companions:
    :func:`ev_autocorrelation` detects the period,
    :func:`ev_ewma_forecast` forecasts the level).

    ISO dow is pinned cross-engine as Spark ``weekday()+1`` ≡ DuckDB
    ``isodow()`` (Monday=1) — Spark's ``dayofweek`` (Sunday=1) is the
    trap deliberately avoided.

    Scale: the decomposition runs entirely on the PRE-AGGREGATED
    O(|days|) series — one global 7-row sliding window over days, one
    7-group aggregate, 1-row variance broadcast. Only the daily count
    aggregate is data-sized, identical to every op in this family."""
    daily = daily_click_series(events_raw(spark, sf_dir)).select("date", "y")
    wma = Window.orderBy("date").rowsBetween(-3, 3)
    tr = daily.select(
        (F.weekday("date") + 1).cast("int").alias("dow"),
        "y",
        F.avg("y").over(wma).alias("ma"),
        F.count("*").over(wma).alias("wn"),
    )
    det = tr.filter(F.col("wn") == 7).select(
        "dow", (F.col("y") - F.col("ma")).alias("d")
    )
    seas = det.groupBy("dow").agg(
        F.count("*").cast("long").alias("n_days"),
        F.avg("d").alias("s"),
    )
    stats = (
        det.join(F.broadcast(seas.select("dow", "s")), "dow")
        .agg(
            F.sum(F.col("d") * F.col("d")).alias("ss_det"),
            F.sum(
                (F.col("d") - F.col("s")) * (F.col("d") - F.col("s"))
            ).alias("ss_res"),
        )
    )
    return seas.crossJoin(F.broadcast(stats)).select(
        F.col("dow").alias("isodow"),
        "n_days",
        F.round("s", 6).alias("seasonal"),
        F.round(
            F.lit(1.0) - F.col("ss_res") / F.col("ss_det"), 6
        ).alias("seasonal_r2"),
    )


# ------------------------------------------------ revenue concentration

@register(
    "ev_revenue_concentration",
    """WITH per_user AS (
  SELECT user_id,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))) * 100, 0) AS BIGINT)
           AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
), grid AS (
  SELECT cents AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM per_user GROUP BY cents
), cum AS (
  SELECT v, c,
         COALESCE(SUM(c) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cprev,
         SUM(c) OVER () AS n,
         SUM(v * c) OVER () AS s
  FROM grid
), gini AS (
  SELECT MAX(n) AS n, MAX(s) AS s,
         SUM(v * (c * cprev + c * (c + 1) / 2)) AS ranked_sum
  FROM cum
)
SELECT CAST(n AS BIGINT) AS n_users,
       ROUND(CAST(s AS DOUBLE) / 100, 6) AS total_revenue,
       ROUND(2.0 * CAST(ranked_sum AS DOUBLE) / (CAST(n AS DOUBLE) * s)
             - (CAST(n AS DOUBLE) + 1) / n, 6) AS gini
FROM gini""",
)
def ev_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Revenue concentration**: exact Gini coefficient of per-user
    purchase revenue — the whale-dependence dial (0 = revenue spread
    evenly, →1 = a few users carry everything), the economy-health
    companion to the heavy-hitter sketch and the key-skew report.

    Exactness on the grouped grid: with cent-quantized totals
    aggregated to (value, count), the rank-weighted sum Σ i·x_(i)
    folds per group as v·(c·C_prev + c(c+1)/2) — whole-population
    Gini from O(distinct values) rows, no per-row ranks (the NTILE
    trap), all in BIGINT until the final two divisions.

    Scale: one user_id hash aggregate, one distinct-value grid, one
    ordered prefix-sum window over the bounded money grid — the exact
    shape the r3 verdict prescribed for rank statistics."""
    ev = events_raw(spark, sf_dir)
    per_user = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")) * 100, 0
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    grid = per_user.groupBy(F.col("cents").alias("v")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    wprev = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = grid.select(
        "v",
        "c",
        F.coalesce(F.sum("c").over(wprev), F.lit(0)).alias("cprev"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
        F.sum(F.col("v") * F.col("c"))
        .over(Window.partitionBy())
        .alias("s"),
    )
    gini = cum.agg(
        F.max("n").alias("n"),
        F.max("s").alias("s"),
        F.sum(
            F.col("v")
            * (
                F.col("c") * F.col("cprev")
                + F.col("c") * (F.col("c") + 1) / 2
            )
        ).alias("ranked_sum"),
    )
    return gini.select(
        F.col("n").alias("n_users"),
        F.round(F.col("s").cast("double") / 100, 6).alias(
            "total_revenue"
        ),
        F.round(
            F.lit(2.0)
            * F.col("ranked_sum")
            / (F.col("n").cast("double") * F.col("s"))
            - (F.col("n").cast("double") + 1) / F.col("n"),
            6,
        ).alias("gini"),
    )


# ------------------------------------------------ forecast backtest

def _backtest_oracle() -> str:
    return f"""WITH {_DAILY_CTES}, {_ewma_values_sql()}, lagged AS (
  SELECT i.x, i.y,
         LAG(i.y, 1) OVER (ORDER BY i.x) AS f_naive,
         LAG(i.y, 7) OVER (ORDER BY i.x) AS f_seasonal,
         sp.s AS f_ewma
  FROM idx i LEFT JOIN s sp ON sp.x = i.x - 1
), test AS (SELECT * FROM lagged WHERE x >= 7),
mu AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(FLOOR(CAST(CAST(SUM(ABS(y - f_naive)) AS BIGINT) AS DOUBLE)
                    * 1000000.0 / COUNT(*) + 0.5) AS BIGINT) AS u_naive,
         CAST(FLOOR(CAST(CAST(SUM(ABS(y - f_seasonal)) AS BIGINT) AS DOUBLE)
                    * 1000000.0 / COUNT(*) + 0.5) AS BIGINT) AS u_seasonal,
         CAST(FLOOR(CAST(CAST(SUM(CAST(FLOOR(ABS(y - f_ewma)
                        * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE)
                    / COUNT(*) + 0.5) AS BIGINT) AS u_ewma
  FROM test
)
SELECT n_test,
       CAST(u_naive AS DOUBLE) / 1000000.0 AS mae_naive,
       CAST(u_seasonal AS DOUBLE) / 1000000.0 AS mae_seasonal,
       CAST(u_ewma AS DOUBLE) / 1000000.0 AS mae_ewma,
       CASE WHEN u_ewma <= u_naive AND u_ewma <= u_seasonal THEN 'ewma'
            WHEN u_seasonal <= u_naive THEN 'seasonal_naive'
            ELSE 'naive' END AS best
FROM mu"""


@register("ev_forecast_backtest", _backtest_oracle())
def ev_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Rolling-origin one-step backtest** of three forecasters on
    daily click volume — naive (y_(t−1)), seasonal naive (y_(t−7)),
    and the truncated EWMA level — scored by MAE over every origin
    with all three defined (t ≥ 7), plus the winner (ties resolve
    ewma → seasonal → naive on the 6-dp-quantized MAEs, so the label
    is hash-stable). The model-selection discipline behind
    :func:`ev_ewma_forecast`: never ship a smoother that can't beat
    y_(t−1).

    Scale: the EWMA levels reuse the shared |days|×W banded kernel
    (``_ewma_smoothed``); the naive/seasonal forecasts are two lag
    windows over the O(|days|) series; one aggregate row out."""
    idx = daily_click_series(events_raw(spark, sf_dir)).select("y", "x")
    s = _ewma_smoothed(spark, idx).select(
        F.col("tx").alias("px"), F.col("s").alias("f_ewma")
    )
    w = Window.orderBy("x")
    lagged = (
        idx.withColumn("f_naive", F.lag("y", 1).over(w))
        .withColumn("f_seasonal", F.lag("y", 7).over(w))
        .join(s, F.col("px") == F.col("x") - 1, "left")
    )
    test = lagged.filter(F.col("x") >= 7)
    # micro-unit MAEs (round-9 rule-free quantization): naive/seasonal
    # errors are exact integers, the irrational ewma errors are
    # FLOOR-quantized per term — no order-dependent double AVG and no
    # ROUND rule anywhere; the winner compares exact BIGINTs
    u_n = F.floor(
        F.sum(F.abs(F.col("y") - F.col("f_naive"))).cast("double")
        * 1000000.0
        / F.count("*")
        + 0.5
    ).cast("long")
    u_s = F.floor(
        F.sum(F.abs(F.col("y") - F.col("f_seasonal"))).cast("double")
        * 1000000.0
        / F.count("*")
        + 0.5
    ).cast("long")
    u_e = F.floor(
        ppm_sum(F.abs(F.col("y") - F.col("f_ewma")))
        .cast("double")
        / F.count("*")
        + 0.5
    ).cast("long")
    return test.agg(
        F.count("*").cast("bigint").alias("n_test"),
        (u_n.cast("double") / 1000000.0).alias("mae_naive"),
        (u_s.cast("double") / 1000000.0).alias("mae_seasonal"),
        (u_e.cast("double") / 1000000.0).alias("mae_ewma"),
        F.when((u_e <= u_n) & (u_e <= u_s), F.lit("ewma"))
        .when(u_s <= u_n, F.lit("seasonal_naive"))
        .otherwise(F.lit("naive"))
        .alias("best"),
    )


# ------------------------------------------------------ PIVOT by dow

#: Day-of-week from epoch days, engine-portable: 1970-01-01 was a
#: Thursday, so (days + 4) % 7 gives 0 = Sunday in plain integer
#: arithmetic — no reliance on either engine's DOW convention (Spark
#: dayofweek() is 1=Sunday, DuckDB dayofweek() is 0=Sunday).
_DOW_SQL = "((epoch_us(ts) // 86400000000) + 4) % 7"

_PIVOT_ORACLE = f"""SELECT event_type,
       {', '.join(
           f"CAST(COALESCE(SUM(CASE WHEN dow = {d} THEN 1 END), 0) AS BIGINT)"
           f" AS dow_{d}" for d in range(7))},
       CAST(COUNT(*) AS BIGINT) AS total
FROM (SELECT event_type, {_DOW_SQL} AS dow FROM events)
GROUP BY event_type ORDER BY event_type"""


@register("ev_pivot_event_dow", _PIVOT_ORACLE)
def ev_pivot_event_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT surface: per-event-type counts spread across day-of-week
    columns (0 = Sunday). ``pivot()`` with an explicit value list —
    never the inference form, which needs an extra distinct-values job
    before planning. Compiles to one hash aggregate with 7 conditional
    counts: map-side combinable, output rows = |event_type|. DOW uses
    the portable (epoch_days + 4) % 7, not either engine's dayofweek
    convention."""
    ev = events_raw(spark, sf_dir).select(
        "event_type",
        ((F.expr("(ts DIV 1000) DIV 86400000000") + 4) % 7).alias("dow"),
    )
    pivoted = (
        ev.groupBy("event_type")
        .pivot("dow", list(range(7)))
        .agg(F.count(F.lit(1)))
    )
    cols = [
        F.coalesce(F.col(f"`{d}`"), F.lit(0)).cast("long").alias(f"dow_{d}")
        for d in range(7)
    ]
    total = None
    for d in range(7):
        c = F.coalesce(F.col(f"`{d}`"), F.lit(0)).cast("long")
        total = c if total is None else total + c
    return pivoted.select(
        "event_type", *cols, total.alias("total")
    ).orderBy("event_type")


# ------------------------------------------- harmonic trend regression

#: Weekly period of the harmonic term.
_HARM_PERIOD = 7


def _cramer4(m: str = "m", b: str = "b") -> list[str]:
    """Closed-form 4-unknown least squares: Cramer-rule expression
    strings over moment columns ``m{i}{j}`` (Gram matrix, i ≤ j) and
    ``b{i}`` (feature·target sums). Generated ONCE and embedded
    verbatim in both the Spark plan (``F.expr``) and the DuckDB oracle,
    so the algebra cannot diverge between engines. Returns
    [det(M), det(M_0), …, det(M_3)]."""
    from itertools import permutations

    def cell(i: int, j: int, repl: int | None) -> str:
        if repl is not None and j == repl:
            return f"{b}{i}"
        lo, hi = min(i, j), max(i, j)
        return f"{m}{lo}{hi}"

    def det(repl: int | None) -> str:
        terms = []
        for perm in permutations(range(4)):
            sign = 1
            p = list(perm)
            for i in range(4):  # parity via inversion count
                for j in range(i + 1, 4):
                    if p[i] > p[j]:
                        sign = -sign
            prod = " * ".join(cell(i, perm[i], repl) for i in range(4))
            terms.append(("+ " if sign > 0 else "- ") + prod)
        return "(" + " ".join(terms).lstrip("+ ") + ")"

    return [det(None)] + [det(k) for k in range(4)]


# One normal-equation solve per engine, shared by ev_harmonic_regression,
# ml_ridge_regression and ml_cv_ridge_path. The input has a target
# ``y`` and the features ``f0``..``f3``; the moments are ``m{i}{j}``
# (i ≤ j) and ``b{i}``, the solved coefficients ``c0``..``c3``.


def _gram4(agg=F.sum, ridge: float | None = None) -> list[Column]:
    """Aggregate columns of the Gram moments ``m{i}{j}`` and the
    feature·target moments ``b{i}``, each ``agg`` of its product
    (``ppm_sum`` for quantized moments). ``ridge`` rides on the
    diagonal; the off-diagonal moments then get ``+ 0.0``."""
    def ridged(c: Column, i: int, j: int) -> Column:
        if ridge is None:
            return c
        return c + (F.lit(float(ridge)) if i == j else F.lit(0.0))

    return [
        ridged(agg(F.col(f"f{i}") * F.col(f"f{j}")), i, j).alias(f"m{i}{j}")
        for i in range(4)
        for j in range(i, 4)
    ] + [agg(F.col(f"f{i}") * F.col("y")).alias(f"b{i}") for i in range(4)]


def _cramer4_solve(mom: DataFrame, keep: list[str], m: str = "m",
                   b: str = "b") -> DataFrame:
    """``keep`` plus the coefficients ``c0``..``c3`` solved by
    :func:`_cramer4` from the moment columns of ``mom``."""
    d, d0, d1, d2, d3 = _cramer4(m, b)
    return mom.select(
        *keep,
        F.expr(f"{d0} / {d}").alias("c0"),
        F.expr(f"{d1} / {d}").alias("c1"),
        F.expr(f"{d2} / {d}").alias("c2"),
        F.expr(f"{d3} / {d}").alias("c3"),
    )


def _fit4() -> Column:
    """The fitted value c0·f0 + c1·f1 + c2·f2 + c3·f3."""
    return (
        F.col("c0") * F.col("f0")
        + F.col("c1") * F.col("f1")
        + F.col("c2") * F.col("f2")
        + F.col("c3") * F.col("f3")
    )


def _ols4(f: DataFrame, n: str,
          ridge: float | None = None) -> tuple[DataFrame, Column]:
    """One-pass least squares of ``y`` on f0..f3 over ``f``: the 1-row
    moments (row count ``n``, Σy, Σy²), the Cramer solve, and ``f``
    joined back with that row. Returns the joined frame and its R²
    aggregate column."""
    mom = f.agg(
        F.count("*").alias(n),
        *_gram4(ridge=ridge),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    fit = _fit4()
    r2 = 1.0 - F.sum((F.col("y") - fit) * (F.col("y") - fit)) / (
        F.first("syy") - F.first("sy") * F.first("sy") / F.first(n)
    )
    return f.crossJoin(F.broadcast(_cramer4_solve(mom, [n, "sy", "syy"]))), r2


def _gram4_sql(agg=lambda e: f"SUM({e})", ridge: float | None = None) -> str:
    """SQL twin of :func:`_gram4`: the select list of the moments
    (``ridge`` added to the diagonal only)."""
    moms = ", ".join(
        agg(f"f{i} * f{j}")
        + (f" + {ridge}" if ridge is not None and i == j else "")
        + f" AS m{i}{j}"
        for i in range(4)
        for j in range(i, 4)
    )
    bs = ", ".join(f"{agg(f'f{i} * y')} AS b{i}" for i in range(4))
    return f"{moms}, {bs}"


def _cramer4_solve_sql(keep: str, src: str) -> str:
    """SQL twin of :func:`_cramer4_solve`: a SELECT over ``src``."""
    d, d0, d1, d2, d3 = _cramer4()
    return f"""SELECT {keep},
         {d0} / {d} AS c0, {d1} / {d} AS c1,
         {d2} / {d} AS c2, {d3} / {d} AS c3
  FROM {src}"""


#: SQL twin of :func:`_fit4`.
_FIT4_SQL = "(c0 * f0 + c1 * f1 + c2 * f2 + c3 * f3)"


def _ols4_sql(n: str, ridge: float | None = None) -> tuple[str, str]:
    """SQL twin of :func:`_ols4` over the CTE ``f``: the ``mom`` and
    ``beta`` CTEs, and the R² aggregate over ``f CROSS JOIN beta``."""
    ctes = f"""mom AS (SELECT CAST(COUNT(*) AS BIGINT) AS {n}, {_gram4_sql(ridge=ridge)},
               SUM(y) AS sy, SUM(y * y) AS syy FROM f),
beta AS (
  {_cramer4_solve_sql(f"{n}, sy, syy", "mom")}
)"""
    r2 = f"""1.0 - SUM((y - {_FIT4_SQL}) * (y - {_FIT4_SQL}))
                   / (ANY_VALUE(syy) - ANY_VALUE(sy) * ANY_VALUE(sy)
                      / ANY_VALUE(beta.{n}))"""
    return ctes, r2


def _harmonic_oracle() -> str:
    tau = 2 * 3.141592653589793 / _HARM_PERIOD
    feats = f"1.0 AS f0, CAST(x AS DOUBLE) AS f1, SIN({tau} * x) AS f2, COS({tau} * x) AS f3"
    ols, r2 = _ols4_sql("n_days")
    return f"""WITH {_DAILY_CTES},
f AS (SELECT CAST(y AS DOUBLE) AS y, {feats} FROM idx),
{ols}
SELECT ANY_VALUE(beta.n_days) AS n_days,
       ROUND(ANY_VALUE(c0), 6) AS intercept,
       ROUND(ANY_VALUE(c1), 6) AS slope,
       ROUND(ANY_VALUE(c2), 6) AS sin_coef,
       ROUND(ANY_VALUE(c3), 6) AS cos_coef,
       ROUND(SQRT(ANY_VALUE(c2) * ANY_VALUE(c2)
                  + ANY_VALUE(c3) * ANY_VALUE(c3)), 6) AS amplitude,
       ROUND({r2}, 6) AS r2
FROM f CROSS JOIN beta"""


@register("ev_harmonic_regression", _harmonic_oracle())
def ev_harmonic_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-seasonal trend as **closed-form least squares**: fit
    y ~ intercept + slope·t + A·sin(2πt/7) + B·cos(2πt/7) on the daily
    click series. One aggregate pass collects the 4×4 Gram moments,
    Cramer's rule (generated once, shared verbatim with the oracle —
    see :func:`_cramer4`) solves the normal equations INSIDE the plan
    as 1-row literal algebra, and a second bounded pass scores R².

    The scale pattern completes the regression family: ev_daily_trend
    (d=2 closed form) → here d=4 with engineered features →
    ml_logreg_gd (iterative when no closed form exists). At 100 TB the
    moment aggregate is map-side combinable and everything after it is
    O(1); no driver-side solve, no collect — the whole fit is a
    DataFrame expression."""
    idx = daily_click_series(events_raw(spark, sf_dir))
    tau = 2 * 3.141592653589793 / _HARM_PERIOD
    f = idx.select(
        F.col("y").cast("double").alias("y"),
        F.lit(1.0).alias("f0"),
        F.col("x").cast("double").alias("f1"),
        F.sin(F.lit(tau) * F.col("x")).alias("f2"),
        F.cos(F.lit(tau) * F.col("x")).alias("f3"),
    )
    fitted, r2 = _ols4(f, "n_days")
    return fitted.agg(
        F.first("n_days").alias("n_days"),
        F.round(F.first("c0"), 6).alias("intercept"),
        F.round(F.first("c1"), 6).alias("slope"),
        F.round(F.first("c2"), 6).alias("sin_coef"),
        F.round(F.first("c3"), 6).alias("cos_coef"),
        F.round(
            F.sqrt(
                F.first("c2") * F.first("c2") + F.first("c3") * F.first("c3")
            ),
            6,
        ).alias("amplitude"),
        F.round(r2, 6).alias("r2"),
    )


# --------------------------------------- rolling exact distinct users

#: Trailing window width (days) for the rolling distinct-user count.
_ROLL_DAYS = 7

_ROLLING_DISTINCT_ORACLE = f"""WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS date, user_id
  FROM events WHERE event_type = 'click'
),
days AS (SELECT DISTINCT date FROM du)
SELECT d.date,
       CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS users_7d,
       CAST(COUNT(DISTINCT CASE WHEN u.date = d.date
                                THEN u.user_id END) AS BIGINT) AS users_1d
FROM days d
JOIN du u ON u.date > d.date - INTERVAL {_ROLL_DAYS} DAY AND u.date <= d.date
GROUP BY d.date ORDER BY d.date"""


@register("ev_rolling_distinct_users", _ROLLING_DISTINCT_ORACLE)
def ev_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing {_ROLL_DAYS}-day **exact rolling distinct** users per
    day (the WAU-style metric). COUNT(DISTINCT) does NOT decompose
    over sliding window frames — a window SUM of daily distincts
    double-counts returning users — so the exact form is the
    spine-replication join: dedup to (date, user) first (the crucial
    cardinality reducer: |days|×|daily users|, not |events|), then
    replicate each row to the ≤{_ROLL_DAYS} window anchors it serves
    and count distinct per anchor. At 100 TB the replication factor is
    the window width — bounded and tunable — and everything shuffles
    on the date key. The approximate path at extreme scale is the HLL
    union over daily sketches (sk_monthly_from_daily_hll); this is the
    exact one, and the single-day column doubles as its own check
    (users_1d ≤ users_7d, users_1d = a1's daily count)."""
    du = (
        events_raw(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.expr("(ts DIV 1000) DIV 86400000000").alias("epoch_day"),
            "user_id",
        )
        .distinct()
    )
    anchors = du.select(
        F.explode(
            F.sequence(
                F.col("epoch_day"),
                F.col("epoch_day") + (_ROLL_DAYS - 1),
            )
        ).alias("anchor_day"),
        F.col("epoch_day"),
        "user_id",
    )
    days = du.select(F.col("epoch_day").alias("anchor_day")).distinct()
    return (
        anchors.join(days, "anchor_day")
        .groupBy("anchor_day")
        .agg(
            F.countDistinct("user_id").alias("users_7d"),
            F.countDistinct(
                F.when(
                    F.col("epoch_day") == F.col("anchor_day"), F.col("user_id")
                )
            ).alias("users_1d"),
        )
        .select(
            F.date_add(
                F.lit("1970-01-01").cast("date"),
                F.col("anchor_day").cast("int"),
            ).alias("date"),
            "users_7d",
            "users_1d",
        )
        .orderBy("date")
    )


# ------------------------------------------------ cohort retention

_COHORT_ORACLE = """WITH wk AS (
  SELECT user_id,
         (epoch_us(ts) // 86400000000) // 7 AS week
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, (epoch_us(ts) // 86400000000) // 7
),
first_wk AS (
  SELECT user_id, MIN(week) AS cohort_week FROM wk GROUP BY user_id
),
sizes AS (
  SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size
  FROM first_wk GROUP BY cohort_week
)
SELECT f.cohort_week AS cohort_week,
       CAST(w.week - f.cohort_week AS BIGINT) AS week_offset,
       CAST(COUNT(DISTINCT w.user_id) AS BIGINT) AS active_users,
       ANY_VALUE(s.cohort_size) AS cohort_size,
       ROUND(COUNT(DISTINCT w.user_id)
             / CAST(ANY_VALUE(s.cohort_size) AS DOUBLE), 6) AS retention
FROM wk w
JOIN first_wk f ON w.user_id = f.user_id
JOIN sizes s ON f.cohort_week = s.cohort_week
GROUP BY f.cohort_week, w.week - f.cohort_week
ORDER BY cohort_week, week_offset"""


@register("ev_cohort_retention", _COHORT_ORACLE)
def ev_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic **cohort retention triangle**: users grouped by
    first-active week, each cell = share of the cohort active again at
    that week offset. The analytics staple behind every growth
    dashboard, as three hash aggregates: dedup to (user, week) FIRST
    (the cardinality reducer — |users|×|weeks|, not |events|), a
    per-user MIN for the cohort, and the (cohort, offset) rollup with
    the |weeks|-row cohort sizes broadcast. All shuffles key on
    user_id or the tiny cohort key; at 100 TB the (user, week) dedup
    is the only big exchange and it is map-side combinable."""
    wk = (
        events_raw(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            (F.expr("(ts DIV 1000) DIV 86400000000") / 7)
            .cast("long")
            .alias("week"),
        )
        .distinct()
    )
    first_wk = wk.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = first_wk.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_size")
    )
    return (
        wk.join(first_wk, "user_id")
        .join(F.broadcast(sizes), "cohort_week")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(
            F.countDistinct("user_id").alias("active_users"),
            F.first("cohort_size").alias("cohort_size"),
            F.round(
                F.countDistinct("user_id")
                / F.first("cohort_size").cast("double"),
                6,
            ).alias("retention"),
        )
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------- Holt linear smoothing (daily)

#: Smoothing grid for the Holt recursion: state lives in 1e-6 units.
_HOLT_PPM = 1_000_000


def _holt_idiv(a: int, b: int) -> int:
    """Truncation-toward-zero integral division — DuckDB ``//`` and
    Spark ``div`` semantics; Python ``//`` floors, hence the mirror."""
    q = abs(a) // b
    return -q if a < 0 else q


def _holt_oracle() -> str:
    return f"""WITH RECURSIVE {_DAILY_CTES},
days AS (SELECT date, y, x + 1 AS x FROM idx),
hw AS (
  SELECT x, date, y,
         y * {_HOLT_PPM} AS lev,
         CAST(COALESCE((SELECT y FROM days WHERE x = 2) - y, 0)
              * {_HOLT_PPM} AS BIGINT) AS tr,
         CAST(NULL AS BIGINT) AS fitted
  FROM days WHERE x = 1
  UNION ALL
  SELECT i.x, i.date, i.y,
         (i.y * {_HOLT_PPM} + (hw.lev + hw.tr)) // 2 AS lev,
         ((((i.y * {_HOLT_PPM} + (hw.lev + hw.tr)) // 2) - hw.lev) + hw.tr)
           // 2 AS tr,
         hw.lev + hw.tr AS fitted
  FROM days i JOIN hw ON i.x = hw.x + 1
)
SELECT date, y, lev AS level_ppm, tr AS trend_ppm, fitted AS fitted_ppm,
       CASE WHEN fitted IS NULL THEN NULL
            ELSE y * {_HOLT_PPM} - fitted END AS resid_ppm
FROM hw"""


@register("ev_holt_linear_daily", _holt_oracle())
def ev_holt_linear_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Holt linear exponential smoothing** over the daily click
    series (Holt 1957 / Gardner 1985) — the recursive-filter
    companion to :func:`ev_harmonic_regression`'s closed-form fit:
    level and trend update day by day, each day's one-step-ahead
    forecast and residual land beside the observation (the residuals
    are what an anomaly monitor thresholds).

    α = β = 1/2 makes every update a DYADIC step:

        L_d = (y_d·1e6 + (L_{{d-1}} + B_{{d-1}})) div 2
        B_d = ((L_d − L_{{d-1}}) + B_{{d-1}}) div 2

    — pure integer arithmetic on the 1e-6 grid (truncating integral
    division, identical in DuckDB and the driver-side mirror), so the
    whole filter is hash-exact cross-engine. The oracle runs the SAME
    recursion as a ``WITH RECURSIVE`` CTE — unlike the unrolled BPE /
    squaring chains this one is DATA-LENGTH independent.

    Scale (100 TB): the distributed work is the daily aggregate (one
    map-side-combinable pass over the click log); the recursion state
    is calendar-bounded (O(days) rows — bounded model state like the
    IVF/PCA fits) and inherently sequential, so it runs driver-side
    on the collected series and the result re-enters as a bounded
    relation. A century of days is 36 k rows; the click log is the
    100 TB, the series never is."""
    daily = daily_click_series(events_raw(spark, sf_dir)).orderBy("x").collect()
    schema = (
        "date date, y long, level_ppm long, trend_ppm long,"
        " fitted_ppm long, resid_ppm long"
    )
    if not daily:
        return spark.createDataFrame([], schema)
    ys = [int(r["y"]) for r in daily]
    lev = ys[0] * _HOLT_PPM
    tr = (ys[1] - ys[0]) * _HOLT_PPM if len(ys) > 1 else 0
    rows = [(daily[0]["date"], ys[0], lev, tr, None, None)]
    for i in range(1, len(ys)):
        fitted = lev + tr
        new_lev = _holt_idiv(ys[i] * _HOLT_PPM + fitted, 2)
        tr = _holt_idiv((new_lev - lev) + tr, 2)
        lev = new_lev
        rows.append(
            (daily[i]["date"], ys[i], lev, tr, fitted,
             ys[i] * _HOLT_PPM - fitted)
        )
    return spark.createDataFrame(rows, schema)
