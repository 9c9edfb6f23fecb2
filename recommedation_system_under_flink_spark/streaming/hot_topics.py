"""Streaming HotTopics: the daily driver loop as event-time windows.

The reference simulates time by resubmitting a batch job per day
(HotTopics.java:36-56 inside the DateIterator loop, SURVEY §2.8 "none"
row); the idiomatic Spark upgrade is ONE continuous query:

- ``readStream`` over the events parquet (file source — in production,
  Kafka/queue);
- 1-day **tumbling event-time window** + watermark for late clicks
  replaces P2's date-equality filter per day;
- 7-day **sliding window** replaces the P3 trailing zone re-scan per
  day — each click enters 7 window panes instead of being re-read 7
  times;
- aggregation state lives in the state store, not in O(days) job
  resubmissions (BASELINE.md "daily-loop amortization" target).

The registry entries run with ``trigger(availableNow=True)`` into a
memory sink and return the settled table — batch-replayable, so the
driver's rows-only check covers them; tests/test_streaming.py asserts
equivalence against the batch operators on the same fixtures. Replay
uses **complete** output mode: in append mode the windows still open at
end-of-input (the last ``num_days`` of history) are held back by the
watermark and never emit, so a bounded replay would silently drop the
newest days. A production continuous run flips to append +
``foreachBatch`` and lets the watermark close windows as time advances.

Scale notes (100 TB/day): the window aggregate is a streaming hash agg
keyed (window, news_id) with partial aggregation before the state-store
shuffle; watermark bounds state to windows still open. ``foreachBatch``
is the production sink seam (write top-K per closed window to parquet).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DEFAULT_SCENE
from ..registry import register
from ..sources.tables import DATE0, DATE_MOD, NEWS_MOD

def _events_stream_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """readStream needs an explicit schema; take it from a batch footer
    read so it adapts to either fixture encoding of ``ts`` (nanos-as-long
    BIGINT or TIMESTAMP(MICROS)) — the same duality
    ``sources.tables.events_raw`` handles for batch."""
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema


def _canon_ts(ev: DataFrame) -> DataFrame:
    """Canonicalize ``ts`` to epoch-long **nanoseconds** (streaming twin
    of ``sources.tables.events_raw``): downstream event-time columns are
    all derived as ``timestamp_micros(ts DIV 1000)``."""
    if dict(ev.dtypes)["ts"] != "bigint":
        ev = ev.withColumn(
            "ts", F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
        )
    return ev


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw event stream (file-source readStream) with ``ts`` as a nanos
    long — the streaming twin of ``sources.tables.events_raw``."""
    # The file source wants a directory to monitor; the fixture is one
    # file among unrelated tables, so expose it via a symlink dir (in
    # production this is the landing directory / Kafka topic).
    stream_dir = os.path.join(
        "/tmp", "spark_stream_src", sf_dir.strip("/").replace("/", "_")
    )
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    return _canon_ts(
        spark.readStream.schema(_events_stream_schema(spark, sf_dir)).parquet(
            stream_dir
        )
    )


def stream_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of sources.tables.clicks: file-source readStream →
    click filter → event-time column from the nanos long."""
    ev = _stream_events(spark, sf_dir)
    return ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        (F.col("event_id") % NEWS_MOD).alias("news_id"),
        F.timestamp_micros(F.expr("ts DIV 1000")).alias("event_time"),
    )


def _run_to_memory(result: DataFrame, mode: str) -> DataFrame:
    """Drive a streaming DF to settlement with availableNow into a
    memory sink; return the settled table (a plain batch DF)."""
    name = f"stream_{uuid.uuid4().hex[:12]}"
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return result.sparkSession.table(name)


@register(
    "stream_hot_topics_daily",
    # bounded replay settles deterministically → full oracle: the
    # tumbling windows must equal the batch per-(date, news) counts
    f"""SELECT CAST(ts AS DATE) AS date, event_id % {NEWS_MOD} AS news_id,
       CAST(COUNT(*) AS BIGINT) AS clicks
FROM events WHERE event_type = 'click'
GROUP BY 1, 2""",
)
def stream_hot_topics_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day per-news click counts as a 1-day tumbling event-time
    window with a 1-day watermark — the streaming A2. Equivalence with
    the batch (date, news) aggregate is pytest-checked."""
    clicks = stream_clicks(spark, sf_dir)
    agg = (
        clicks.withWatermark("event_time", "1 day")
        .groupBy(F.window("event_time", "1 day").alias("win"), F.col("news_id"))
        .agg(F.count("*").alias("clicks"))
        .select(
            F.col("win.start").cast("date").alias("date"), "news_id", "clicks"
        )
    )
    return _run_to_memory(agg, "complete")


@register(
    "stream_clicks_dedup",
    # the doubled source must settle to exactly-once click rows
    f"""SELECT DISTINCT event_id, user_id, event_id % {NEWS_MOD} AS news_id,
       ts AS event_time
FROM events WHERE event_type = 'click'""",
)
def stream_clicks_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ingestion dedup: ``dropDuplicates`` on ``event_id``
    with a watermark bounding the dedup state. The source deliberately
    delivers every event TWICE (two symlinks to the same file — the
    at-least-once delivery a real queue exhibits on redelivery); the
    output must carry each click exactly once. Equivalence with the
    batch distinct is pytest-checked.

    Scale: dedup state is keyed by event_id and expired by the
    watermark — memory is bounded by (watermark horizon × event rate),
    not stream length. At 100 TB/day the horizon is the knob."""
    stream_dir = os.path.join(
        "/tmp", "spark_stream_dup", sf_dir.strip("/").replace("/", "_")
    )
    os.makedirs(stream_dir, exist_ok=True)
    for name in ("events_a.parquet", "events_b.parquet"):
        link = os.path.join(stream_dir, name)
        if not os.path.exists(link):
            os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    ev = _canon_ts(
        spark.readStream.schema(_events_stream_schema(spark, sf_dir)).parquet(
            stream_dir
        )
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            "event_id",
            F.col("user_id"),
            (F.col("event_id") % NEWS_MOD).alias("news_id"),
            F.timestamp_micros(F.expr("ts DIV 1000")).alias("event_time"),
        )
        .withWatermark("event_time", "1 day")
        .dropDuplicates(["event_id"])
    )
    return _run_to_memory(clicks, "append")


@register(
    "stream_news_running_totals",
    # settled running totals == total clicks per news
    f"""SELECT event_id % {NEWS_MOD} AS news_id, CAST(COUNT(*) AS BIGINT) AS total
FROM events WHERE event_type = 'click' GROUP BY 1""",
)
def stream_news_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a
    per-news running click total carried in explicit GroupState — the
    Structured-Streaming analogue of the reference's per-day
    re-aggregation (each micro-batch updates state instead of
    recomputing history). Emits (news_id, total) per updated key per
    batch; on a bounded availableNow replay the settled totals equal
    the batch A2 aggregate without the date rewrite (pytest-checked).

    Scale: state is one long per news key, partitioned by the state
    store; no shuffle beyond the groupBy key exchange."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    clicks = stream_clicks(spark, sf_dir)

    def update_totals(key, pdfs, state: GroupState):
        import pandas as pd

        n_new = sum(len(p) for p in pdfs)
        total = (state.get[0] if state.exists else 0) + n_new
        state.update((total,))
        yield pd.DataFrame({"news_id": [key[0]], "total": [total]})

    totals = clicks.select("news_id").groupBy("news_id").applyInPandasWithState(
        update_totals,
        outputStructType="news_id long, total long",
        stateStructType="total long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    settled = _run_to_memory(totals, "update")
    # availableNow may split the input across micro-batches, leaving one
    # update row per key per batch in the sink; totals are monotonic, so
    # the settled value per key is the max.
    return settled.groupBy("news_id").agg(F.max("total").alias("total"))


@register(
    "stream_hot_topics_trailing",
    # each click serves the 7 sliding panes ending on days d..d+6
    f"""SELECT CAST(ts AS DATE) + CAST(i AS INTEGER) AS date, event_id % {NEWS_MOD} AS news_id,
       CAST(COUNT(*) AS BIGINT) AS clicks
FROM events CROSS JOIN generate_series(0, {DEFAULT_SCENE.num_days - 1}) AS t(i)
WHERE event_type = 'click'
GROUP BY 1, 2""",
)
def stream_hot_topics_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The P3 trailing 7-day zone as a **sliding** window (7-day width,
    1-day slide): each pane (d-6..d, news) carries the trailing count
    the batch HotTopics recomputes from scratch per day
    (HotTopics.java:67-93). Emitted per pane end-day."""
    num_days = DEFAULT_SCENE.num_days
    clicks = stream_clicks(spark, sf_dir)
    agg = (
        clicks.withWatermark("event_time", "1 day")
        .groupBy(
            F.window("event_time", f"{num_days} days", "1 day").alias("win"),
            F.col("news_id"),
        )
        .agg(F.count("*").alias("clicks"))
        .select(
            (F.date_sub(F.col("win.end").cast("date"), 1)).alias("date"),
            "news_id",
            "clicks",
        )
    )
    return _run_to_memory(agg, "complete")


@register(
    "stream_purchase_click_join",
    # inner interval-join matches emit deterministically on replay
    """SELECT p.user_id,
       p.event_id AS purchase_id,
       c.event_id AS click_id,
       (epoch_us(p.ts) // 1000000) - (epoch_us(c.ts) // 1000000) AS gap_sec
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 1 HOUR""",
)
def stream_purchase_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream **interval join**: purchases joined to the same
    user's clicks from the preceding hour (attribution-window shape).
    Both sides carry a 1-hour watermark; the event-time range condition
    lets Spark evict join state as the watermark advances — state is
    bounded by (horizon × rate), not stream length. Inner-join matches
    emit as they occur (the watermark gates eviction, not emission), so
    a bounded availableNow replay in append mode yields the complete
    match set; equivalence with the identical batch join is
    pytest-checked.

    Scale: the join shuffles both sides on user_id; the interval bound
    is applied inside the state store, never as a pair blow-up. This is
    the streaming twin of the batch as-of/interval family
    (operators/events_flow.py)."""
    clicks = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.timestamp_micros(F.expr("ts DIV 1000")).alias("click_time"),
        )
        .withWatermark("click_time", "1 hour")
    )
    purchases = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.timestamp_micros(F.expr("ts DIV 1000")).alias(
                "purchase_time"
            ),
        )
        .withWatermark("purchase_time", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            """p_user = c_user
               AND click_time <= purchase_time
               AND click_time >= purchase_time - INTERVAL 1 HOUR"""
        ),
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        (
            F.unix_timestamp("purchase_time") - F.unix_timestamp("click_time")
        ).alias("gap_sec"),
    )
    return _run_to_memory(joined, "append")


@register(
    "stream_topk_to_parquet",
    # full oracle: the settled parquet must equal the batch daily top-K
    # (T3 semantics, clicks counted from raw events)
    f"""WITH clicks AS (
  SELECT user_id, event_id % {NEWS_MOD} AS news_id, CAST(ts AS DATE) AS date
  FROM events WHERE event_type = 'click'
), daily AS (
  SELECT date, news_id, CAST(COUNT(*) AS BIGINT) AS clicks
  FROM clicks GROUP BY date, news_id
)
SELECT date, news_id, clicks,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY date ORDER BY clicks DESC, news_id ASC
       ) AS BIGINT) AS rank
FROM daily
QUALIFY rank <= {DEFAULT_SCENE.num_recommendations}""",
)
def stream_topk_to_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production sink seam as real code: the 1-day-window click
    counts stream into ``foreachBatch``, which ranks top-K per day and
    **overwrites a parquet sink** each batch (complete mode → every
    batch carries the full settled aggregate, so overwrite makes the
    sink idempotent — the exactly-once pattern for full-refresh
    outputs). The registered query returns the parquet re-read, so the
    whole stream→rank→sink→scan loop is hash-verified against the batch
    daily-top-K oracle — not just rows-counted.

    Scale: foreachBatch hands a *batch* DataFrame per trigger, so the
    rank+write runs as a normal Catalyst job (WindowGroupLimit, file
    commit protocol); for append-mode (incremental) sinks the same seam
    writes only closed windows as the watermark passes them."""
    out = os.path.join(
        "/tmp", "spark_stream_sink", sf_dir.strip("/").replace("/", "_")
    )
    k = DEFAULT_SCENE.num_recommendations
    clicks = stream_clicks(spark, sf_dir)
    agg = (
        clicks.withWatermark("event_time", "1 day")
        .groupBy(F.window("event_time", "1 day").alias("win"), F.col("news_id"))
        .agg(F.count("*").cast("long").alias("clicks"))
        .select(
            F.col("win.start").cast("date").alias("date"), "news_id", "clicks"
        )
    )

    def write_topk(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import Window

        w = Window.partitionBy("date").orderBy(F.desc("clicks"), F.asc("news_id"))
        ranked = batch_df.withColumn(
            "rank", F.row_number().over(w).cast("long")
        ).filter(F.col("rank") <= k)
        ranked.write.mode("overwrite").parquet(out)

    q = (
        agg.writeStream.foreachBatch(write_topk)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out)


@register(
    "stream_enrich_news_join",
    # settled enrichment == batch clicks ⋈ news dim, counted per news date
    f"""WITH clicks AS (
  SELECT event_id % {NEWS_MOD} AS news_id
  FROM events WHERE event_type = 'click'
), news AS (
  SELECT doc_id AS news_id,
         DATE '{DATE0}' + CAST(doc_id % {DATE_MOD} AS INTEGER) AS date
  FROM documents
)
SELECT n.date AS news_date, CAST(COUNT(*) AS BIGINT) AS clicks
FROM clicks c JOIN news n ON c.news_id = n.news_id
GROUP BY 1""",
)
def stream_enrich_news_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Stream–static enrichment join**: the click stream joins the
    static news dimension (publication date) and aggregates clicks per
    news date — the standard "enrich events with a dimension table"
    topology. The dimension is a broadcast batch DataFrame: each
    micro-batch hash-joins against it with NO stream-side state (unlike
    stream-stream joins, nothing is buffered — the join is stateless
    per batch; only the downstream count keeps state).

    Scale: at 100 TB/day the stream side never shuffles for the join
    (broadcast), and dimension refresh is a re-broadcast per batch —
    the Spark-native equivalent of a Flink broadcast-state join.
    Settled output is hash-compared against the batch equivalent."""
    from ..sources import news

    clicks = stream_clicks(spark, sf_dir)
    dim = news(spark, sf_dir).select("news_id", F.col("date").alias("news_date"))
    enriched = clicks.join(F.broadcast(dim), "news_id")
    agg = enriched.groupBy("news_date").agg(
        F.count("*").cast("long").alias("clicks")
    )
    return _run_to_memory(agg, "complete")


def _sessions_stream_oracle() -> str:
    from ..operators.events_flow import _SESSIONS_NATIVE_ORACLE

    return _SESSIONS_NATIVE_ORACLE


@register("stream_sessionize", _sessions_stream_oracle())
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming **session windows**: the batch gap-sessionization
    (``ef_sessionize_native``) run as a continuous query — the same
    ``events_flow.native_sessions`` query (``session_window`` over
    event-time, GAP+1µs boundary pinning) over the stream source. The
    bounded availableNow replay in complete mode settles to exactly the
    batch session set, so the full batch oracle applies.

    This is THE stateful-streaming session shape: window state merges
    adjacent sessions as events arrive (out-of-order events within the
    gap fuse sessions); in production (append mode + watermark) a
    session emits once the watermark passes its close, bounding state
    to open sessions only — the knob SCALE.md §9 documents for
    100 TB/day."""
    from ..operators.events_flow import native_sessions

    return _run_to_memory(native_sessions(_stream_events(spark, sf_dir)), "complete")


# ------------------------------------------- streaming decayed popularity

def _stream_decay_oracle() -> str:
    # ranking registers t6 before the streaming modules load in the
    # registry order, but guard the direct-import path too.
    from ..operators import ranking  # noqa: F401
    from ..registry import _REGISTRY

    return _REGISTRY["t6_decayed_popularity"].oracle


@register("stream_decayed_popularity", _stream_decay_oracle())
def stream_decayed_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Streaming→batch decayed popularity**: the live half is the
    1-day tumbling click count (the ``stream_hot_topics_daily``
    aggregation); once the bounded replay settles, the decay blend and
    global top-N run as a BATCH ranking over the settled O(news·days)
    relation — the lambda-architecture seam (stream maintains the
    daily matrix incrementally; the ranking is a cheap batch pass any
    scheduler re-runs per serving refresh). Shares
    ``t6_decayed_popularity``'s oracle verbatim: the settled stream
    must produce bit-identical rankings to the pure-batch path.

    Scale: streaming state is one count per (window, news) bounded by
    the watermark horizon; the post-settlement ranking touches only the
    aggregated matrix — same cost law as T6."""
    from ..operators.ranking import POP_DECAY, POP_TOP_N
    from pyspark.sql import Window

    clicks = stream_clicks(spark, sf_dir)
    agg = (
        clicks.withWatermark("event_time", "1 day")
        .groupBy(F.window("event_time", "1 day").alias("win"), F.col("news_id"))
        .agg(F.count("*").cast("long").alias("n"))
        .select(F.col("win.start").cast("date").alias("date"), "news_id", "n")
    )
    daily = _run_to_memory(agg, "complete")
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
    w = Window.orderBy(F.desc("score"), F.asc("news_id"))
    return (
        scored.select("news_id", F.round("raw", 6).alias("score"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= POP_TOP_N)
    )


# ---------------------------------------------------- streaming CDC

#: Micro-batch count for the staged change stream (seq-ordered files).
_CDC_BATCHES = 4
_CDC_DELETE_MOD = 50  # mirrors operators/kernels_sql.S26_DELETE_MOD


def _cdc_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import load_raw

    return load_raw(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_id"),
        F.col("c_acctbal").alias("balance"),
        F.lit(0).cast("long").alias("last_seq"),
        F.lit("kept").alias("action"),
    )


@register(
    "stream_cdc_apply",
    # the settled snapshot must equal the BATCH CDC apply exactly
    # (operators/kernels_sql.s26_cdc_apply's oracle, verbatim)
    f"""WITH changes AS (
  SELECT o_custkey AS entity_id, o_orderkey AS seq,
         CASE WHEN o_orderkey % {_CDC_DELETE_MOD} = 0 THEN 'D' ELSE 'U' END AS op,
         o_totalprice AS new_balance
  FROM orders
),
latest AS (
  SELECT entity_id, seq, op, new_balance FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY entity_id ORDER BY seq DESC) AS rn
    FROM changes) WHERE rn = 1
)
SELECT c.c_custkey AS entity_id,
       CASE WHEN l.op = 'U' THEN l.new_balance ELSE c.c_acctbal END AS balance,
       COALESCE(l.seq, 0) AS last_seq,
       CASE WHEN l.op = 'U' THEN 'updated' ELSE 'kept' END AS action
FROM customer c LEFT JOIN latest l ON c.c_custkey = l.entity_id
WHERE l.op IS NULL OR l.op <> 'D'""",
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Streaming CDC apply**: the change stream (op/seq rows derived
    from orders, staged as {_CDC_BATCHES} sequence-ordered files)
    replays through ``foreachBatch``, each micro-batch MERGED into the
    running snapshot — reduce-the-batch-first (top-1 per key by seq),
    then one keyed join against the current snapshot, guarded by
    ``seq > last_seq`` so redelivered or replayed batches converge to
    the same state (the idempotence that makes exactly-once effective
    from an at-least-once source). Tombstones delete; the settled
    snapshot is hash-verified against the BATCH s26_cdc_apply oracle —
    streaming and batch must agree row-for-row.

    The snapshot is versioned per micro-batch (write-new-then-advance,
    never overwrite-in-place — the non-Delta merge pattern); at scale
    the same loop targets a table format's MERGE with the identical
    seq guard.

    (The batch-count placeholder above interpolates from _CDC_BATCHES —
    see the module-level ``__doc__`` fix-up after this function.)"""
    import shutil
    import tempfile

    from ..sources import load_raw

    changes = load_raw(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("entity_id"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % _CDC_DELETE_MOD == 0, "D")
        .otherwise("U")
        .alias("op"),
        F.col("o_totalprice").alias("new_balance"),
    )
    work = tempfile.mkdtemp(prefix="cdc_stream_")
    stream_dir = os.path.join(work, "changes")
    os.makedirs(stream_dir)
    # stage seq-ordered micro-batch files (in-order delivery)
    bounds = changes.agg(
        F.min("seq").alias("lo"), F.max("seq").alias("hi")
    ).collect()[0]
    lo, hi = bounds["lo"], bounds["hi"]
    if lo is None:  # empty change stream: the base snapshot IS the result
        return _cdc_base(spark, sf_dir)
    step = max(1, (hi - lo + _CDC_BATCHES) // _CDC_BATCHES)
    for b in range(_CDC_BATCHES):
        part = changes.filter(
            (F.col("seq") >= lo + b * step) & (F.col("seq") < lo + (b + 1) * step)
        )
        part.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(work, f"staged_{b}")
        )
        for fn in os.listdir(os.path.join(work, f"staged_{b}")):
            if fn.endswith(".parquet"):
                shutil.copy(
                    os.path.join(work, f"staged_{b}", fn),
                    os.path.join(stream_dir, f"batch_{b}.parquet"),
                )
    snap0 = os.path.join(work, "snap_0")
    _cdc_base(spark, sf_dir).write.mode("overwrite").parquet(snap0)
    state = {"version": 0}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        cur = spark.read.parquet(os.path.join(work, f"snap_{state['version']}"))
        w = Window.partitionBy("entity_id").orderBy(F.desc("seq"))
        latest = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                F.col("entity_id").alias("c_entity"),
                F.col("seq").alias("c_seq"),
                F.col("op"),
                F.col("new_balance"),
            )
        )
        stale = F.col("c_seq").isNull() | (F.col("c_seq") <= F.col("last_seq"))
        # deletes become TOMBSTONES (action='deleted'), never physical
        # drops: a later in-order U must be able to resurrect the row
        # (batch semantics = the FINAL op wins), and the kept last_seq
        # is what makes the seq guard idempotent under redelivery.
        merged = (
            cur.join(latest, cur.entity_id == latest.c_entity, "left")
            .select(
                "entity_id",
                F.when(stale | (F.col("op") != "U"), F.col("balance"))
                .otherwise(F.col("new_balance"))
                .alias("balance"),
                F.when(stale, F.col("last_seq"))
                .otherwise(F.col("c_seq"))
                .alias("last_seq"),
                F.when(stale, F.col("action"))
                .when(F.col("op") == "D", F.lit("deleted"))
                .otherwise(F.lit("updated"))
                .alias("action"),
            )
        )
        nxt = state["version"] + 1
        merged.write.mode("overwrite").parquet(os.path.join(work, f"snap_{nxt}"))
        state["version"] = nxt

    schema = changes.schema
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(stream_dir)
    q = (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(os.path.join(work, f"snap_{state['version']}"))
        .filter(F.col("action") != "deleted")
    )


# Docstring tracks the staged-batch constant (r7 advice).
stream_cdc_apply.__doc__ = stream_cdc_apply.__doc__.replace(
    "{_CDC_BATCHES}", str(_CDC_BATCHES)
)


# ------------------------------------------- streaming exact dedup

#: Micro-batch count for the staged document stream (doc_id-ordered).
_DEDUP_BATCHES = 4


@register(
    "stream_dedup_exact",
    # settled state must equal the BATCH exact dedup (dedup_exact's
    # canonical-pick semantics): first-seen doc per content hash, with
    # the copy count
    """SELECT MIN(doc_id) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM documents
GROUP BY md5(text)
ORDER BY doc_id""",
)
def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Streaming exact dedup** — the ingest-time shape of the batch
    ``dedup_exact``: documents arrive as doc_id-ordered micro-batches,
    ``foreachBatch`` reduces each batch to (content_hash → min doc_id,
    count) FIRST, then merges into the running seen-hash snapshot:
    unseen hash → insert as canonical; seen hash → bump the copy count
    and keep ``least(canonical, batch min)`` (order-proof even though
    in-order staging already guarantees the incumbent is older). The
    settled snapshot is hash-verified against the batch GROUP BY —
    streaming and batch dedup must agree row-for-row, the same
    settled-parity contract as stream_cdc_apply.

    At scale the snapshot merge is a keyed join on the fixed-width
    content hash (the exact-dedup shuffle discipline) against a table
    format's MERGE; per-batch state touched is O(batch distinct
    hashes), never corpus-sized. Redelivery: min(canonical) converges
    on its own, but the copy-count SUM is not naturally idempotent —
    the merge carries the applied-batch-id guard (skip batch_id ≤ last
    applied), the standard discipline for a non-transactional
    ``foreachBatch`` sink (stream_cdc_apply gets idempotence from its
    per-key seq guard instead)."""
    import shutil
    import tempfile

    from ..sources import load_raw

    docs = load_raw(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("h")
    )
    work = tempfile.mkdtemp(prefix="dedup_stream_")
    stream_dir = os.path.join(work, "docs")
    os.makedirs(stream_dir)
    bounds = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).collect()[0]
    lo, hi = bounds["lo"], bounds["hi"]
    if lo is None:  # empty corpus: nothing to dedup
        return docs.select(
            "doc_id", F.lit(0).cast("long").alias("n_copies")
        )
    step = max(1, (hi - lo + _DEDUP_BATCHES) // _DEDUP_BATCHES)
    for b in range(_DEDUP_BATCHES):
        part = docs.filter(
            (F.col("doc_id") >= lo + b * step)
            & (F.col("doc_id") < lo + (b + 1) * step)
        )
        part.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(work, f"staged_{b}")
        )
        for fn in os.listdir(os.path.join(work, f"staged_{b}")):
            if fn.endswith(".parquet"):
                shutil.copy(
                    os.path.join(work, f"staged_{b}", fn),
                    os.path.join(stream_dir, f"batch_{b}.parquet"),
                )
    snap0 = os.path.join(work, "snap_0")
    docs.filter(F.lit(False)).select(
        F.col("h"),
        F.col("doc_id").alias("canonical"),
        F.lit(0).cast("long").alias("n_copies"),
    ).write.mode("overwrite").parquet(snap0)
    state = {"version": 0, "last_batch": -1}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        # Idempotence under at-least-once redelivery: min(canonical)
        # converges on its own, but the copy-count SUM would double on
        # a replayed batch — skip batch ids already applied (the
        # applied-batch-id guard every non-transactional foreachBatch
        # sink needs; stream_cdc_apply gets this from its per-key seq
        # guard instead).
        if batch_id <= state["last_batch"]:
            return
        cur = spark.read.parquet(
            os.path.join(work, f"snap_{state['version']}")
        )
        batch = batch_df.groupBy("h").agg(
            F.min("doc_id").alias("b_canonical"),
            F.count("*").alias("b_copies"),
        )
        merged = cur.join(batch, "h", "full").select(
            "h",
            F.least(
                F.col("canonical"),
                F.coalesce(F.col("b_canonical"), F.col("canonical")),
            ).alias("canonical"),
            (
                F.coalesce(F.col("n_copies"), F.lit(0))
                + F.coalesce(F.col("b_copies"), F.lit(0))
            ).cast("long").alias("n_copies"),
        )
        nxt = state["version"] + 1
        merged.write.mode("overwrite").parquet(
            os.path.join(work, f"snap_{nxt}")
        )
        state["version"] = nxt
        state["last_batch"] = batch_id

    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(stream_dir)
    q = (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(os.path.join(work, f"snap_{state['version']}"))
        .select(F.col("canonical").alias("doc_id"), "n_copies")
        .orderBy("doc_id")
    )
