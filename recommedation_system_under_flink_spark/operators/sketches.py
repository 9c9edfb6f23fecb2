"""Sketch aggregates: the sub-linear-memory versions of exact operators.

At 100 TB the exact forms of "distinct users" (A1) and "value
percentiles" stop being free: exact distinct shuffles every (key,
member) pair, exact percentiles need a full sort. The sketch forms
bound state instead:

- **HyperLogLog** (pinned md5 registers, round 9 — see below): fixed
  ≤ m integer registers per group regardless of cardinality; register
  tables MAX-merge in the map-side combine, so the shuffle moves one
  register set per (task × group), never member rows.
- **Quantile sketch** (``percentile_approx``, a Greenwald-Khanna
  variant): bounded state per group, mergeable the same way.

The HLL entries run on PINNED md5-derived registers (round 9), so
their register tables — and therefore the estimates — are
bit-identical across engines and fully oracle-HASHED; only the
quantile sketch (whose GK state is engine-internal by construction)
remains rows-only, with its accuracy contract pytest-enforced
(relative error vs the exact batch answer on the same fixture:
tests/test_events_flow.py). The exact twins stay the oracle-gated
defaults (SCALE.md §4: "the oracle gate needs exact"); the sketches
are the documented swap-in at cardinality the exact forms can't carry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import bsp
from ..registry import register
from ..sources import clicks, events_raw, load_raw
from ..sources.tables import CLICKS_CTE, NEWS_MOD, with_ctes

#: percentile_approx accuracy knob (higher = tighter, more state).
PCT_ACCURACY = 10_000


# ------------------------------ portable pinned-register HyperLogLog

#: Portable HLL geometry (Flajolet, Fusy, Gandouet, Meunier 2007):
#: p = 10 → m = 1024 buckets ≈ 3.25% rsd, with linear counting below
#: 2.5·m. The 32-bit md5-derived hash spends p bits on the bucket and
#: leaves 22 rank bits, so ranks live in [1, 23]. Registers are exact
#: integers (MAX per bucket — idempotent, associative, map-side
#: combinable), which is what makes this sketch ORACLE-HASHABLE: both
#: engines compute the identical register table from the identical
#: pinned hash, and the estimator is one mirrored double expression.
#: (Spark's native ``approx_count_distinct`` / ``hll_sketch_agg`` are
#: the engine-tuned alternatives, but their sketch bytes are
#: engine-internal and can never be cross-checked — round-9 swap.)
HLL_P = 10
HLL_M = 1 << HLL_P
HLL_RANK_BITS = 32 - HLL_P  # 22 → rank ∈ [1, 23]

#: rank-sum scale: Σ 2^(−rank) is accumulated as Σ 2^(23 − rank),
#: an exact BIGINT (order-free); an empty bucket contributes 2^23.
_HLL_SCALE = 1 << (HLL_RANK_BITS + 1)  # 2^23

#: estimator E_raw = α_m · m² / Σ2^(−M_j), as ONE literal expression
#: kept textually identical in both engines ({s} = the scaled sum).
_HLL_E_RAW = (
    "0.7213 / (1.0 + 1.079 / 1024.0) * 1048576.0 * 8388608.0"
    " / CAST({s} AS DOUBLE)"
)


def _hll_daily_regs_sql() -> str:
    """DuckDB CTEs: per-(date, bucket) max rank over the pinned hash."""
    return f"""hashed AS (
  SELECT date,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) AS h
  FROM clicks
),
regs AS (
  SELECT date, h % {HLL_M} AS bucket,
         MAX(CASE WHEN h // {HLL_M} = 0 THEN {HLL_RANK_BITS + 1}
                  ELSE {HLL_RANK_BITS + 1} - LENGTH(BIN(h // {HLL_M}))
             END) AS m_rank
  FROM hashed GROUP BY date, bucket
)"""


def _hll_est_cte(key: str, regs: str = "regs") -> str:
    """DuckDB CTE: registers → (key, nonempty, scaled rank-sum)."""
    return f"""est AS (
  SELECT {key},
         CAST(COUNT(*) AS BIGINT) AS nonempty,
         CAST(CAST(SUM(CAST(1 AS BIGINT)
                       << ({HLL_RANK_BITS + 1} - m_rank)) AS BIGINT)
              + ({HLL_M} - COUNT(*)) * {_HLL_SCALE} AS BIGINT) AS s_full
  FROM {regs} GROUP BY {key}
)"""


def _hll_select(key: str) -> str:
    """SELECT head: the mirrored estimator over the ``est`` CTE."""
    e_raw = _HLL_E_RAW.format(s="s_full")
    return f"""SELECT {key},
       CAST(FLOOR(CASE WHEN {e_raw} <= {2.5 * HLL_M}
                        AND {HLL_M} - nonempty > 0
                       THEN 1024.0 * LN(1024.0
                            / CAST({HLL_M} - nonempty AS DOUBLE))
                       ELSE {e_raw} END + 0.5) AS BIGINT) AS approx_users"""


def _hll_registers(df: DataFrame, *keys: str) -> DataFrame:
    """Spark twin of the register CTE: exact MAX-rank registers per
    (*keys, bucket) from the pinned md5 hash of user_id."""
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    hashed = df.select(*keys, h.alias("h"))
    v = F.shiftright(F.col("h"), HLL_P)
    rank = F.when(v == 0, F.lit(HLL_RANK_BITS + 1)).otherwise(
        F.lit(HLL_RANK_BITS + 1) - F.length(F.bin(v))
    )
    return hashed.groupBy(
        *keys, (F.col("h") % HLL_M).alias("bucket")
    ).agg(F.max(rank).alias("m_rank"))


def _hll_estimate(regs: DataFrame, *keys: str) -> DataFrame:
    """Spark twin of the estimate body — the identical IEEE tree."""
    est = regs.groupBy(*keys).agg(
        F.count("*").cast("long").alias("nonempty"),
        (
            F.sum(
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT),"
                    f" {HLL_RANK_BITS + 1} - m_rank)"
                )
            )
            + (F.lit(HLL_M) - F.count("*")) * _HLL_SCALE
        )
        .cast("long")
        .alias("s_full"),
    )
    e_raw = (
        F.lit(0.7213)
        / (F.lit(1.0) + F.lit(1.079) / F.lit(1024.0))
        * F.lit(1048576.0)
        * F.lit(8388608.0)
        / F.col("s_full").cast("double")
    )
    v_empty = F.lit(HLL_M) - F.col("nonempty")
    e = F.when(
        (e_raw <= F.lit(2.5 * HLL_M)) & (v_empty > 0),
        F.lit(1024.0) * F.log(F.lit(1024.0) / v_empty.cast("double")),
    ).otherwise(e_raw)
    return est.select(
        *keys, F.floor(e + 0.5).cast("long").alias("approx_users")
    )


@register(
    "sk_daily_clickers_hll",
    with_ctes(
        _hll_select("date") + "\nFROM est",
        CLICKS_CTE,
        _hll_daily_regs_sql(),
        _hll_est_cte("date"),
    ),
)
def sk_daily_clickers_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1's sketch twin: per-day distinct clickers via a **portable
    pinned-register HyperLogLog** (md5 bucket/rank, m = 1024, linear
    counting below 2.5m) — the bounded-state distinct count whose
    register table is bit-identical on any engine, so the whole sketch
    is oracle-HASHABLE, not merely rows-checked (round-9: previously
    Spark's engine-internal ``approx_count_distinct``, which can never
    be cross-verified). Accuracy vs the exact A1 aggregate stays
    pytest-bounded; the estimate itself is FLOOR-published (no ROUND
    rule on the hash path). The only irrational on the hash path is
    the linear-counting ln, and its FLOOR margin is not an assumption
    but an ENUMERATED bound: the branch has exactly 1023 possible
    inputs (V = m − nonempty ∈ [1, 1023]), and over all of them the
    distance of 1024·ln(1024/V) + 0.5 from the nearest integer is
    ≥ 6.6e-6 (worst case V = 24; 60-digit Decimal enumeration,
    pinned in tests/test_round10_ops.py) — ≥ 7 million ulps at the
    branch's largest magnitude, so no realistic libm divergence
    between Spark's Math.log and DuckDB's std::log can flip the
    published integer. The raw-estimate branch is rational arithmetic
    (one exactly-rounded division of IEEE-identical operands) and has
    no libm exposure at all.

    Scale: registers are a (day, bucket ≤ 1024) MAX aggregate —
    map-side combinable, kilobytes per day of shuffled state no matter
    how many clicks; the estimate reads m values per day."""
    regs = _hll_registers(clicks(spark, sf_dir), "date")
    return _hll_estimate(regs, "date")


def sk_value_quantiles_gk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type value quantiles via Spark's native
    ``percentile_approx`` (a Greenwald-Khanna variant) — the
    engine-tuned sketch whose internal state can never be
    cross-engine-checked. UNREGISTERED pytest diagnostic since round
    10: the certified quantile sketch is :func:`sk_value_quantiles`
    below (pinned-bin histogram registers, the HLL playbook); this
    form keeps its bounded-rank-error pytest as the engine-native
    contrast."""
    from ..sources import events_raw

    return (
        events_raw(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.percentile_approx(
                "value", [0.5, 0.95, 0.99], PCT_ACCURACY
            ).alias("quantiles")
        )
    )


# ------------------------- portable pinned-bin histogram quantile sketch

#: Pinned histogram geometry: 256 bins of width 4 over [0, 1024); the
#: width is a power of two, so ``value / 4.0`` is an EXACT IEEE
#: operation and the register table (per-group bin counts — exact
#: integers, SUM-mergeable map-side like the HLL MAX-merge) is
#: bit-identical across engines. Values past the top edge clamp into
#: the last bin (the sketch's documented saturation contract, like
#: HLL's m=1024 pin). Worst-case quantile error is one bin width.
QSK_BINS = 256
QSK_W = 4.0


def qsk_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The storable sketch state: (event_type, bin, cnt) — one bounded
    register table per group regardless of row count. Two register
    tables merge by summing counts per (group, bin), so the shuffle
    moves ≤ QSK_BINS rows per (task × group), never values."""
    from ..sources import events_raw

    b = F.floor(F.col("value") / F.lit(QSK_W)).cast("int")
    return (
        events_raw(spark, sf_dir)
        .groupBy(
            "event_type",
            F.greatest(F.lit(0), F.least(F.lit(QSK_BINS - 1), b)).alias("bin"),
        )
        .agg(F.count("*").alias("cnt"))
    )


#: The estimator, mirrored textually in the oracle: target rank
#: r_p = ceil(n·p/100) computed as FLOOR((n·p + 99) / 100.0) — the
#: numerator is an exact integer ≲ 2^40, so the one double division
#: either lands exactly on an integer quotient or sits ≥ 0.01 from the
#: FLOOR boundary; then within the first bin whose cumulative count
#: reaches r_p, linear interpolation at rank r_p:
#: est = bin·4 + 4·(r − cum_before) / cnt  (all products by 4 exact,
#: one exactly-rounded integer/integer double division).
_QSK_PS = (50, 95, 99)


@register(
    "sk_value_quantiles",
    f"""WITH regs AS (
  SELECT event_type,
         GREATEST(0, LEAST({QSK_BINS - 1},
                           CAST(FLOOR(value / {QSK_W}) AS INTEGER))) AS bin,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
), cum AS (
  SELECT event_type, bin, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM regs
), melted AS (
  SELECT c.*, p.p,
         CAST(FLOOR((c.n * p.p + 99) / 100.0) AS BIGINT) AS r
  FROM cum c CROSS JOIN (SELECT unnest([{", ".join(str(p) for p in _QSK_PS)}]) AS p) p
), pick AS (
  SELECT event_type, p, n,
         bin * {QSK_W} + {QSK_W} * (r - (cum - cnt)) / cnt AS est,
         ROW_NUMBER() OVER (PARTITION BY event_type, p ORDER BY bin) AS rn
  FROM melted WHERE cum >= r
)
SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_events,
       MAX(CASE WHEN p = 50 THEN est END) AS p50,
       MAX(CASE WHEN p = 95 THEN est END) AS p95,
       MAX(CASE WHEN p = 99 THEN est END) AS p99
FROM pick WHERE rn = 1
GROUP BY event_type""",
)
def sk_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type value quantiles (p50/p95/p99) from the
    **pinned-bin histogram sketch** — the portable, ORACLE-HASHED
    quantile sketch (round 10, the playbook that promoted the HLL
    pair): no global sort, one ≤ 256-integer register table per group,
    SUM-mergeable map-side, so the 100 TB "latency percentiles per
    service" query shuffles registers, not values. Accuracy is a hard
    ±4 (one bin width) — the pytest contract — vs GK's rank-error
    guarantee; the trade is determinism and a storable/re-aggregable
    state (the same reason the HLL entries pin md5 registers instead
    of ``approx_count_distinct``). Exact twin:
    ``sk_value_percentiles_exact``."""
    from pyspark.sql import Window

    regs = qsk_registers(spark, sf_dir)
    cum = regs.select(
        "event_type",
        "bin",
        "cnt",
        F.sum("cnt")
        .over(Window.partitionBy("event_type").orderBy("bin"))
        .alias("cum"),
        F.sum("cnt").over(Window.partitionBy("event_type")).alias("n"),
    )
    melted = cum.withColumn(
        "p", F.explode(F.array(*[F.lit(p) for p in _QSK_PS]))
    ).withColumn(
        "r", F.floor((F.col("n") * F.col("p") + 99) / F.lit(100.0)).cast("long")
    )
    est = F.col("bin") * F.lit(QSK_W) + F.lit(QSK_W) * (
        F.col("r") - (F.col("cum") - F.col("cnt"))
    ) / F.col("cnt")
    pick = (
        melted.filter(F.col("cum") >= F.col("r"))
        .select(
            "event_type",
            "p",
            "n",
            est.alias("est"),
            F.row_number()
            .over(Window.partitionBy("event_type", "p").orderBy("bin"))
            .alias("rn"),
        )
        .filter(F.col("rn") == 1)
    )
    return pick.groupBy("event_type").agg(
        F.max("n").alias("n_events"),
        F.max(F.when(F.col("p") == 50, F.col("est"))).alias("p50"),
        F.max(F.when(F.col("p") == 95, F.col("est"))).alias("p95"),
        F.max(F.when(F.col("p") == 99, F.col("est"))).alias("p99"),
    )


# ------------------------------------------------- exact percentiles

@register(
    "sk_value_percentiles_exact",
    """SELECT event_type,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.95) AS p95,
       quantile_cont(value, 0.99) AS p99
FROM events GROUP BY event_type""",
)
def sk_value_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT interpolated percentiles per event type — the ground-truth
    twin of the ``percentile_approx`` sketch entry (same groups, same
    probe points). Both engines implement the standard linear
    interpolation (type-7), so the values hash-match exactly. Exact
    percentiles need the full sorted group (a distributed sort per
    group) — affordable per (type) here, and the reason the sketch
    variant exists for 100 TB: this pair IS the accuracy/cost trade,
    measurable query-to-query."""
    ev = events_raw(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.95)").alias("p95"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    )


# -------------------------------- sketch-accelerated exact heavy hitters

#: Heavy-hitter threshold: items with frequency > n / HH_K. The fixture
#: click distribution is near-uniform over ~500 items (max frequency
#: ~ n/223), so the threshold sits below the uniform ceiling to yield a
#: real, non-trivial answer; the MG capacity (== HH_K) still exercises
#: the decrement path (capacity < distinct keys).
HH_K = 300


@register(
    "sk_heavy_hitters_exact",
    f"""WITH clicks AS (
  SELECT event_id % {NEWS_MOD} AS news_id FROM events WHERE event_type = 'click'
), tot AS (SELECT COUNT(*) AS n FROM clicks)
SELECT news_id, CAST(COUNT(*) AS BIGINT) AS n_clicks
FROM clicks, tot
GROUP BY news_id, tot.n
HAVING COUNT(*) > tot.n / {HH_K}.0""",
)
def sk_heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Heavy hitters, sketch-accelerated but EXACT**: items clicked
    more than n/``HH_K`` times, found by per-partition **Misra-Gries**
    summaries (capacity ``HH_K``, `mapInPandas`) whose union is a
    guaranteed SUPERSET of the true heavy hitters (the summed summary
    undercounts any item by at most n/capacity, so a > n/capacity item
    cannot vanish), then verified by one exact counting pass restricted
    to the candidates. Output is exact → full oracle, unlike the HLL /
    quantile sketches above.

    Why it exists next to the plain groupBy (t3/a2): at 100 TB with
    ~trillions of DISTINCT keys, the full groupBy shuffles one row per
    key; this plan shuffles ``capacity × partitions`` candidate rows
    plus the candidate-filtered counts — state bounded by the answer
    size, not the key space. The MG loop is per-partition imperative
    work — exactly the documented legitimate `mapInPandas` use."""
    import pandas as pd

    from ..sources import clicks as clicks_table

    cl = clicks_table(spark, sf_dir).select("news_id")

    def mg_partition(batches):
        counters: dict[int, int] = {}
        for pdf in batches:
            for v in pdf["news_id"]:
                v = int(v)
                if v in counters:
                    counters[v] += 1
                elif len(counters) < HH_K:
                    counters[v] = 1
                else:
                    # decrement-all step; drop zeros
                    for k in list(counters):
                        counters[k] -= 1
                        if counters[k] == 0:
                            del counters[k]
        yield pd.DataFrame(
            {"news_id": list(counters), "cnt": list(counters.values())}
        )

    candidates = (
        cl.mapInPandas(mg_partition, "news_id long, cnt long")
        .groupBy("news_id")
        .agg(F.sum("cnt").alias("cnt"))
        .select("news_id")
    )
    total = cl.count()
    exact = (
        cl.join(F.broadcast(candidates), "news_id", "left_semi")
        .groupBy("news_id")
        .agg(F.count("*").cast("long").alias("n_clicks"))
    )
    return exact.filter(F.col("n_clicks") > total / HH_K)


# ----------------------------- mergeable sketch store (re-aggregation)

@register(
    "sk_monthly_from_daily_hll",
    with_ctes(
        _hll_select("month")
        + ",\n       d.n_days AS n_days"
        "\nFROM est JOIN days d USING (month)",
        CLICKS_CTE,
        _hll_daily_regs_sql(),
        "mregs AS (\n"
        "  SELECT strftime(date, '%Y-%m') AS month, bucket,\n"
        "         MAX(m_rank) AS m_rank\n"
        "  FROM regs GROUP BY month, bucket\n"
        ")",
        "days AS (\n"
        "  SELECT strftime(date, '%Y-%m') AS month,\n"
        "         CAST(COUNT(DISTINCT date) AS BIGINT) AS n_days\n"
        "  FROM regs GROUP BY month\n"
        ")",
        _hll_est_cte("month", regs="mregs"),
    ),
)
def sk_monthly_from_daily_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Sketch re-aggregation**: the per-day pinned-register HLL
    tables of :func:`sk_daily_clickers_hll`, rolled up to months by
    MAX-merging registers — the daily pass never re-runs. This is the
    pattern that carries distinct-count reporting at 100 TB: persist
    the daily REGISTER table (≤ m rows per day) as a materialized
    relation, and any ad-hoc window — month, trailing 28 days,
    year-to-date — is a register MAX-merge, not a rescan of the click
    log. With pinned md5 registers the merged sketch is plain
    integer data (storable, engine-portable, oracle-hashable), which
    Spark's engine-internal Datasketches bytes are not (round-9 swap;
    the native pair remains ``hll_sketch_agg`` → ``hll_union_agg``).

    Accuracy vs the exact monthly distinct is pytest-bounded
    (tests/test_events_flow.py::test_monthly_hll_rollup_error_bound)."""
    daily_regs = _hll_registers(clicks(spark, sf_dir), "date")
    month = F.date_format("date", "yyyy-MM").alias("month")
    mregs = daily_regs.groupBy(month, F.col("bucket")).agg(
        F.max("m_rank").alias("m_rank")
    )
    days = daily_regs.groupBy(month).agg(
        F.count_distinct("date").cast("long").alias("n_days")
    )
    return _hll_estimate(mregs, "month").join(days, "month")


# ------------------------------------------------- Count-Min sketch

#: CMS geometry: D pinned hash rows × W counters.
CMS_D = 4
CMS_W = 64


def _cms_hash_sql(row: int) -> str:
    """Pinned md5-derived CMS bucket for hash row ``row`` — portable
    integer arithmetic, same scheme as the MinHash signatures."""
    return (
        f"CAST(('0x' || substr(md5(CAST(news_id AS VARCHAR) || '#{row}'), 1, 8))"
        f" AS BIGINT) % {CMS_W}"
    )


@register(
    "sk_count_min_accuracy",
    f"""WITH clicks AS (
  SELECT event_id % {NEWS_MOD} AS news_id FROM events
  WHERE event_type = 'click'
), exact AS (
  SELECT news_id, CAST(COUNT(*) AS BIGINT) AS n FROM clicks GROUP BY news_id
), cms AS (
  {" UNION ALL ".join(
      f"SELECT {r} AS h_row, {_cms_hash_sql(r)} AS bucket,"
      f" CAST(COUNT(*) AS BIGINT) AS c FROM clicks GROUP BY 1, 2"
      for r in range(CMS_D)
  )}
), est AS (
  SELECT e.news_id, e.n,
         MIN(c.c) AS est
  FROM exact e
  JOIN cms c ON {" OR ".join(
      f"(c.h_row = {r} AND c.bucket = {_cms_hash_sql(r)})"
      for r in range(CMS_D)
  )}
  GROUP BY e.news_id, e.n
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(CASE WHEN est = n THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(MAX(est - n) AS BIGINT) AS max_overestimate,
       ROUND(AVG(CAST(est - n AS DOUBLE)), 6) AS avg_overestimate
FROM est""",
)
def sk_count_min_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Count-Min sketch, built and audited in one query**: the
    ``CMS_D × CMS_W`` counter matrix over the click stream (pinned
    md5-derived row hashes — engine-portable, like the MinHash
    scheme), point-estimates for every key (min over the D rows —
    never an underestimate, by construction), and the accuracy audit
    against exact counts: how many keys are estimated exactly, and
    the worst/mean collision overestimate. The fourth classic sketch
    next to HLL (distinct), GK (quantiles), and Misra-Gries (heavy
    hitters) — and the only one whose full state is deterministic, so
    the WHOLE sketch, not just its contract, hash-matches the oracle.

    Scale: the sketch build is D map-side-combinable aggregates of
    W counters each (D×W rows total shuffle state — the mergeability
    that makes CMS a streaming/distributed staple); the audit joins
    the |keys| exact counts against D×W rows broadcast."""
    from ..sources import clicks as clicks_table

    # the click stream feeds the exact counts plus CMS_D bucket
    # aggregates (no cross-subtree CSE - r12 scan audit: 5 duplicate
    # scans); persist once, released after the 1-row audit materializes
    cl = bsp.persist(clicks_table(spark, sf_dir).select("news_id"))

    def bucket(row: int):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.col("news_id").cast("string"), F.lit(f"#{row}"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long") % CMS_W

    exact = cl.groupBy("news_id").agg(F.count("*").cast("long").alias("n"))
    cms_parts = [
        cl.groupBy(bucket(r).alias("bucket"))
        .agg(F.count("*").cast("long").alias("c"))
        .select(F.lit(r).alias("h_row"), "bucket", "c")
        for r in range(CMS_D)
    ]
    cms = cms_parts[0]
    for part in cms_parts[1:]:
        cms = cms.unionByName(part)
    keyed = exact
    for r in range(CMS_D):
        keyed = keyed.withColumn(f"b{r}", bucket(r))
    est = (
        keyed.join(
            F.broadcast(cms),
            F.expr(
                " OR ".join(
                    f"(h_row = {r} AND bucket = b{r})" for r in range(CMS_D)
                )
            ),
        )
        .groupBy("news_id", "n")
        .agg(F.min("c").alias("est"))
    )
    out = est.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum(F.when(F.col("est") == F.col("n"), 1).otherwise(0))
        .cast("long")
        .alias("n_exact"),
        F.max(F.col("est") - F.col("n")).cast("long").alias("max_overestimate"),
        F.round(F.avg((F.col("est") - F.col("n")).cast("double")), 6).alias(
            "avg_overestimate"
        ),
    )
    return bsp.checkpoint_result(out)


# ------------------------------------------------------- Bloom filter

#: Bloom geometry: M bits, K pinned hash functions. At the sf0.1
#: build set (~4k train docs) the fill is ~17% → theoretical fp ≈
#: 0.5%; at 100 TB you size m/n ≈ 14 bits/key for ~0.1%.
BLOOM_M = 65536
BLOOM_K = 3


def _bloom_pos_sql(i: int) -> str:
    """Pinned md5-derived bit position for hash ``i`` (same portable
    scheme as the Count-Min and MinHash hashes)."""
    return (
        f"CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '@{i}'), 1, 8))"
        f" AS BIGINT) % {BLOOM_M}"
    )


def _bloom_oracle() -> str:
    from .sampling import TRAIN_BUCKETS, split_hash_sql

    build_pos = " UNION ALL ".join(
        f"SELECT doc_id, {_bloom_pos_sql(i)} AS pos FROM build"
        for i in range(BLOOM_K)
    )
    probe_pos = " UNION ALL ".join(
        f"SELECT doc_id, {_bloom_pos_sql(i)} AS pos FROM probe"
        for i in range(BLOOM_K)
    )
    return f"""WITH build AS (
  SELECT doc_id FROM documents
  WHERE {split_hash_sql()} % 10 < {TRAIN_BUCKETS}
),
probe AS (SELECT doc_id FROM documents),
bits AS (SELECT DISTINCT pos FROM ({build_pos})),
ppos AS (SELECT DISTINCT doc_id, pos FROM ({probe_pos})),
verdict AS (
  SELECT p.doc_id,
         COUNT(*) = COUNT(b.pos) AS pass,
         {split_hash_sql('p.doc_id')} % 10 < {TRAIN_BUCKETS}
           AS member
  FROM ppos p LEFT JOIN bits b ON b.pos = p.pos
  GROUP BY p.doc_id
)
SELECT CAST((SELECT COUNT(*) FROM build) AS BIGINT) AS n_build,
       CAST((SELECT COUNT(*) FROM bits) AS BIGINT) AS n_bits_set,
       CAST(COUNT(*) AS BIGINT) AS n_probe,
       CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       CAST(SUM(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
       CAST(SUM(CASE WHEN pass AND NOT member THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_pos,
       ROUND(CAST(SUM(CASE WHEN pass AND NOT member THEN 1 ELSE 0 END)
                  AS DOUBLE)
             / NULLIF(COUNT(*) - SUM(CASE WHEN member THEN 1 ELSE 0 END), 0),
             6) AS fp_rate_observed,
       ROUND(POWER(1.0 - POWER(1.0 - 1.0 / {BLOOM_M},
                               {BLOOM_K} * (SELECT COUNT(*) FROM build)),
                   {BLOOM_K}), 6) AS fp_rate_theory
FROM verdict"""


@register("sk_bloom_prefilter", _bloom_oracle())
def sk_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Bloom-filter membership prefilter, built and audited in one
    query**: insert the train-split doc_ids (the same pinned-hash
    split as ``samp_split_assign``) into an M-bit / K-hash Bloom
    filter (pinned md5-derived positions — engine-portable), probe
    EVERY document, and report pass/membership/false-positive counts
    plus observed vs theoretical fp rate. This is the
    train-membership decontamination primitive: "might this eval doc
    be in the training set?" answered with O(M) bits instead of an
    O(n) shuffle — no false negatives ever, false positives at the
    audited rate, so a pass still needs the exact check but a miss is
    PROVEN clean.

    Scale (100 TB): the bit relation is ≤ M rows (deterministic,
    mergeable via distinct-union across partitions) and broadcasts to
    the probe scan — the manual form of the runtime bloom-filter
    pruning Spark applies to shuffle joins, exposed as data so it can
    be persisted, shipped cross-job, and audited. The verdict join is
    per-position against a broadcast; no data-sized shuffle."""
    from .sampling import TRAIN_BUCKETS, split_hash

    docs = load_raw(spark, sf_dir, "documents").select("doc_id")
    member = split_hash("doc_id") % 10 < TRAIN_BUCKETS

    def pos(i: int):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f"@{i}"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long") % BLOOM_M

    build = docs.filter(member)
    all_pos = F.array(*[pos(i) for i in range(BLOOM_K)])
    # one scan per side: the K positions explode from a per-row array
    bits = build.select(F.explode(all_pos).alias("pos")).distinct()
    ppos = docs.select(
        "doc_id", F.explode(all_pos).alias("pos")
    ).distinct()
    verdict = (
        ppos.join(
            F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left"
        )
        .groupBy("doc_id")
        .agg((F.count("*") == F.count("hit")).alias("pass"))
        .withColumn("member", member)
    )
    report = verdict.agg(
        F.count("*").cast("long").alias("n_probe"),
        F.sum(F.when(F.col("pass"), 1).otherwise(0)).cast("long").alias("n_pass"),
        F.sum(F.when(F.col("member"), 1).otherwise(0))
        .cast("long")
        .alias("n_members"),
        F.sum(F.when(F.col("pass") & ~F.col("member"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_pos"),
    )
    scalars = build.agg(F.count("*").cast("long").alias("n_build")).crossJoin(
        bits.agg(F.count("*").cast("long").alias("n_bits_set"))
    )
    theory = F.round(
        F.pow(
            1.0 - F.pow(F.lit(1.0) - 1.0 / BLOOM_M, BLOOM_K * F.col("n_build")),
            F.lit(BLOOM_K),
        ),
        6,
    )
    return scalars.crossJoin(report).select(
        "n_build",
        "n_bits_set",
        "n_probe",
        "n_pass",
        "n_members",
        "n_false_pos",
        F.round(
            F.col("n_false_pos")
            / F.nullif(
                (F.col("n_probe") - F.col("n_members")).cast("double"),
                F.lit(0.0),
            ),
            6,
        ).alias("fp_rate_observed"),
        theory.alias("fp_rate_theory"),
    )


# --------------------------- KMV (bottom-k) set-intersection sketch

#: KMV geometry: bottom-K distinct 60-bit md5 hashes per day. K = 64
#: gives ~1/√K ≈ 12.5% rsd on the union estimate (Bar-Yossef et al.
#: 2002; Beyer et al. 2007 "On synopses for distinct-value estimation
#: under multiset operations" — the unbiased (K−1)/θ form used here).
#: 60 bits (15 md5 hex chars) keeps the hash inside BIGINT and makes
#: ties/collisions negligible, so bottom-K is a deterministic set.
KMV_K = 64
_KMV_HBITS = 1 << 60


def _kmv_oracle() -> str:
    k = KMV_K
    return with_ctes(
        f"""SELECT date_a, date_b, kk, rho,
       (rho * 1000000) // kk AS est_jaccard_ppm,
       (ex.exact_inter * 1000000) // ex.exact_union AS exact_jaccard_ppm,
       CASE WHEN km.full_cnt < {k} THEN km.full_cnt
            ELSE CAST((CAST(kk - 1 AS HUGEINT) * {_KMV_HBITS}) // theta
                      AS BIGINT) END AS est_union,
       ex.exact_union
FROM km JOIN ex USING (date_a, date_b)""",
        CLICKS_CTE,
        f"""du AS (
  SELECT DISTINCT date,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS h
  FROM clicks
)""",
        f"""sk AS (
  SELECT date, h FROM (
    SELECT date, h, ROW_NUMBER() OVER (PARTITION BY date ORDER BY h) AS rn
    FROM du
  ) WHERE rn <= {k}
)""",
        """pairs AS (
  SELECT a.date AS date_a, b.date AS date_b
  FROM (SELECT DISTINCT date FROM du) a
  JOIN (SELECT DISTINCT date FROM du) b ON b.date = a.date + 1
)""",
        """mu AS (
  SELECT date_a, date_b, h,
         MAX(in_a) AS in_a, MAX(in_b) AS in_b
  FROM (
    SELECT p.date_a, p.date_b, s.h, 1 AS in_a, 0 AS in_b
    FROM pairs p JOIN sk s ON s.date = p.date_a
    UNION ALL
    SELECT p.date_a, p.date_b, s.h, 0 AS in_a, 1 AS in_b
    FROM pairs p JOIN sk s ON s.date = p.date_b
  ) GROUP BY date_a, date_b, h
)""",
        f"""bot AS (
  SELECT date_a, date_b, h, in_a, in_b,
         ROW_NUMBER() OVER (PARTITION BY date_a, date_b ORDER BY h) AS rn
  FROM mu
)""",
        f"""km AS (
  SELECT date_a, date_b,
         CAST(COUNT(*) AS BIGINT) AS full_cnt,
         CAST(LEAST({k}, COUNT(*)) AS BIGINT) AS kk,
         CAST(SUM(CASE WHEN rn <= {k} THEN in_a * in_b ELSE 0 END)
              AS BIGINT) AS rho,
         CAST(MAX(CASE WHEN rn <= {k} THEN h END) AS BIGINT) AS theta
  FROM bot GROUP BY date_a, date_b
)""",
        """exu AS (
  SELECT date_a, date_b, h,
         MAX(in_a) AS in_a, MAX(in_b) AS in_b
  FROM (
    SELECT p.date_a, p.date_b, d.h, 1 AS in_a, 0 AS in_b
    FROM pairs p JOIN du d ON d.date = p.date_a
    UNION ALL
    SELECT p.date_a, p.date_b, d.h, 0 AS in_a, 1 AS in_b
    FROM pairs p JOIN du d ON d.date = p.date_b
  ) GROUP BY date_a, date_b, h
)""",
        """ex AS (
  SELECT date_a, date_b,
         CAST(COUNT(*) AS BIGINT) AS exact_union,
         CAST(SUM(in_a * in_b) AS BIGINT) AS exact_inter
  FROM exu GROUP BY date_a, date_b
)""",
    )


@register("sk_kmv_day_overlap", _kmv_oracle())
def sk_kmv_day_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**KMV (bottom-k) sketch with SET-INTERSECTION estimation** —
    the member the mergeable-sketch store was missing: HLL unions,
    the pinned-bin histogram quantiles, CMS frequencies and Bloom
    membership all merge, but none of them can estimate an
    INTERSECTION; the bottom-k sketch can (Beyer et al. 2007). Per
    day: the K smallest 60-bit md5 hashes of the distinct clickers —
    a K-row integer relation, storable and engine-portable like the
    HLL register table. Per consecutive-day pair: merge = bottom-K of
    the two sketches' union (the KMV merge is closed — bottom-K(A∪B)
    is derivable from bottom-K(A) ∪ bottom-K(B), asserted by pytest),
    ρ = members of the merged sketch present in BOTH inputs, and

        Ĵ = ρ/kk            (exact integer rational, ppm-floored)
        |A∪B| ≈ (kk−1)·2⁶⁰ // θ   (θ = kk-th smallest merged hash)

    — both estimators pure integer arithmetic on the pinned hash, so
    the whole sketch → merge → estimate chain hash-compares against
    DuckDB, alongside the corpus-exact union/intersection computed in
    the same query (the |sketch| < K branch returns the exact union
    by construction — the sketch IS the set there).

    Retention/overlap reporting at 100 TB runs off the persisted
    K-row-per-day sketch table, never rescanning the click log; any
    day-pair / week-over-week / cohort overlap is a K-row merge.

    Scale: the sketch build is one window top-K per day (map-side
    partial via the rank pushdown); pair estimation joins K-row
    relations — O(days·K) total. The exact twin columns are the
    audit, corpus-sized by nature, and would be dropped at scale."""
    k = KMV_K
    cl = clicks(spark, sf_dir)
    du = cl.select(
        "date",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    ).distinct()
    w = Window.partitionBy("date").orderBy("h")
    # Materialize the K-row-per-day sketch ONCE (localCheckpoint on
    # bounded state — the "persisted sketch table" a deployment would
    # store); everything downstream reuses it instead of re-deriving
    # the distinct-hash relation from the click log per branch.
    sk = (
        du.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("date", "h")
        .localCheckpoint(eager=True)
    )
    days = sk.select("date").distinct()
    pairs = days.alias("a").join(
        days.alias("b"),
        F.col("b.date") == F.date_add(F.col("a.date"), 1),
    ).select(F.col("a.date").alias("date_a"), F.col("b.date").alias("date_b"))
    pairs = F.broadcast(pairs)

    def _flagged(members: DataFrame) -> DataFrame:
        via_a = pairs.join(
            members, members["date"] == pairs["date_a"]
        ).select(
            "date_a", "date_b", "h",
            F.lit(1).alias("in_a"), F.lit(0).alias("in_b"),
        )
        via_b = pairs.join(
            members, members["date"] == pairs["date_b"]
        ).select(
            "date_a", "date_b", "h",
            F.lit(0).alias("in_a"), F.lit(1).alias("in_b"),
        )
        return (
            via_a.unionAll(via_b)
            .groupBy("date_a", "date_b", "h")
            .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
        )

    wp = Window.partitionBy("date_a", "date_b").orderBy("h")
    bot = _flagged(sk).withColumn("rn", F.row_number().over(wp))
    km = bot.groupBy("date_a", "date_b").agg(
        F.count("*").cast("long").alias("full_cnt"),
        F.least(F.lit(k), F.count("*")).cast("long").alias("kk"),
        F.sum(
            F.when(F.col("rn") <= k, F.col("in_a") * F.col("in_b")).otherwise(0)
        )
        .cast("long")
        .alias("rho"),
        F.max(F.when(F.col("rn") <= k, F.col("h"))).cast("long").alias("theta"),
    )
    ex = _flagged(du).groupBy("date_a", "date_b").agg(
        F.count("*").cast("long").alias("exact_union"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("exact_inter"),
    )
    return km.join(ex, ["date_a", "date_b"]).select(
        "date_a",
        "date_b",
        "kk",
        "rho",
        F.expr("(rho * 1000000) div kk").alias("est_jaccard_ppm"),
        F.expr("(exact_inter * 1000000) div exact_union").alias(
            "exact_jaccard_ppm"
        ),
        F.when(F.col("full_cnt") < k, F.col("full_cnt"))
        .otherwise(
            F.expr(
                f"CAST(CAST(kk - 1 AS DECIMAL(38,0)) * {_KMV_HBITS}"
                f" div theta AS BIGINT)"
            )
        )
        .cast("long")
        .alias("est_union"),
        "exact_union",
    )


def _kmv_monthly_oracle() -> str:
    k = KMV_K
    return with_ctes(
        f"""SELECT m.month, d.n_days, m.kk,
       CASE WHEN m.full_cnt < {k} THEN m.full_cnt
            ELSE CAST((CAST(m.kk - 1 AS HUGEINT) * {_KMV_HBITS}) // m.theta
                      AS BIGINT) END AS est_users,
       e.exact_users
FROM m JOIN d USING (month) JOIN e USING (month)""",
        CLICKS_CTE,
        f"""du AS (
  SELECT DISTINCT date,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS h
  FROM clicks
)""",
        f"""sk AS (
  SELECT date, h FROM (
    SELECT date, h, ROW_NUMBER() OVER (PARTITION BY date ORDER BY h) AS rn
    FROM du
  ) WHERE rn <= {k}
)""",
        """mu AS (
  SELECT DISTINCT strftime(date, '%Y-%m') AS month, h FROM sk
)""",
        f"""bot AS (
  SELECT month, h,
         ROW_NUMBER() OVER (PARTITION BY month ORDER BY h) AS rn
  FROM mu
)""",
        f"""m AS (
  SELECT month,
         CAST(COUNT(*) AS BIGINT) AS full_cnt,
         CAST(LEAST({k}, COUNT(*)) AS BIGINT) AS kk,
         CAST(MAX(CASE WHEN rn <= {k} THEN h END) AS BIGINT) AS theta
  FROM bot GROUP BY month
)""",
        """d AS (
  SELECT strftime(date, '%Y-%m') AS month,
         CAST(COUNT(DISTINCT date) AS BIGINT) AS n_days
  FROM sk GROUP BY month
)""",
        """e AS (
  SELECT strftime(date, '%Y-%m') AS month,
         CAST(COUNT(DISTINCT h) AS BIGINT) AS exact_users
  FROM du GROUP BY month
)""",
    )


@register("sk_kmv_monthly_rollup", _kmv_monthly_oracle())
def sk_kmv_monthly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**KMV sketch re-aggregation**: monthly distinct-clicker
    estimates produced by MERGING the stored per-day bottom-K sketches
    — the daily pass never re-runs, mirroring
    :func:`sk_monthly_from_daily_hll` for the bottom-k family. The
    merge is EXACTLY lossless by the KMV closure property:
    bottom-K(∪ᵢ bottom-K(Sᵢ)) = bottom-K(∪ᵢ Sᵢ) (every element of the
    true union's bottom-K survives in its day's bottom-K), so the
    monthly estimate from stored sketches equals the estimate a full
    rescan would produce — pytest-pinned, and the corpus-exact monthly
    distinct rides alongside as the audit column.

    Same pinned 60-bit md5 hash and integer estimator as
    :func:`sk_kmv_day_overlap`; at 100 TB the monthly report reads
    O(days·K) stored integers, never the click log."""
    k = KMV_K
    cl = clicks(spark, sf_dir)
    du = cl.select(
        "date",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    ).distinct()
    w = Window.partitionBy("date").orderBy("h")
    sk = (
        du.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("date", "h")
        .localCheckpoint(eager=True)
    )
    month = F.date_format("date", "yyyy-MM").alias("month")
    mu = sk.select(month, "h").distinct()
    wm = Window.partitionBy("month").orderBy("h")
    m = (
        mu.withColumn("rn", F.row_number().over(wm))
        .groupBy("month")
        .agg(
            F.count("*").cast("long").alias("full_cnt"),
            F.least(F.lit(k), F.count("*")).cast("long").alias("kk"),
            F.max(F.when(F.col("rn") <= k, F.col("h"))).cast("long").alias("theta"),
        )
    )
    d = sk.groupBy(month).agg(
        F.count_distinct("date").cast("long").alias("n_days")
    )
    e = du.groupBy(month).agg(
        F.count_distinct("h").cast("long").alias("exact_users")
    )
    return (
        m.join(d, "month")
        .join(e, "month")
        .select(
            "month",
            "n_days",
            "kk",
            F.when(F.col("full_cnt") < k, F.col("full_cnt"))
            .otherwise(
                F.expr(
                    f"CAST(CAST(kk - 1 AS DECIMAL(38,0)) * {_KMV_HBITS}"
                    f" div theta AS BIGINT)"
                )
            )
            .cast("long")
            .alias("est_users"),
            "exact_users",
        )
    )
