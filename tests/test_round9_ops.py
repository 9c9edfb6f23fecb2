"""Round-9 additions: the rule-free 6-dp quantizer (ppm_floor and its
SQL twin must agree bit-for-bit across engines, including on true
half-boundary rationals where ROUND flips), the bootstrap key's
pre-reduced interleaving (congruent mod 2^32, overflow-safe for every
BIGINT id), and mm_scene_cuts' null-duration row handling (drop, like
the oracle — not raise).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from recommedation_system_under_flink_spark import registry
from recommedation_system_under_flink_spark.operators.quantize import (
    PPM,
    ppm_floor,
    ppm_floor_sql,
    ppm_value,
    ppm_value_sql,
)


@pytest.fixture(scope="module")
def queries():
    return registry.queries()


# ------------------------------------------------ ppm quantizer parity

#: Exact 6-dp half-boundaries (the ml_cv_ridge_path repro class:
#: n_chars²/(5000·ntok) odd multiples of 1.25e-5), negatives, zeros,
#: and plain off-grid values.
_PPM_CASES = [
    1.25e-05,
    3 * 1.25e-05,
    -1.25e-05,
    0.0,
    -0.0,
    0.2053165,
    -0.2053165,
    1234.0000005,
    0.1,
    -7.25,
    525.0 * 525.0 / (5000.0 * 42.0),
]


def test_ppm_floor_spark_duckdb_bit_parity(spark):
    """ppm_floor / ppm_floor_sql (and the published-value twins) must
    return IDENTICAL results in Spark and DuckDB for every case —
    that is the whole contract that lets them sit on the hash path."""
    sdf = spark.createDataFrame([(v,) for v in _PPM_CASES], "x double")
    got_spark = [
        (r["f"], r["v"])
        for r in sdf.select(
            ppm_floor(F.col("x")).alias("f"), ppm_value(F.col("x")).alias("v")
        ).collect()
    ]
    con = duckdb.connect()
    con.sql("CREATE TABLE t (x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in _PPM_CASES])
    got_duck = con.sql(
        f"SELECT {ppm_floor_sql('x')} AS f, {ppm_value_sql('x')} AS v FROM t"
    ).fetchall()
    con.close()
    for (sf_, sv), (df_, dv), x in zip(got_spark, got_duck, _PPM_CASES):
        assert sf_ == df_, (x, sf_, df_)
        assert sv == dv, (x, sv, dv)
        # and the quantizer really is 6-dp: |v - x| <= half a grid step
        assert abs(sv - x) <= 0.5 / PPM + 1e-12


def test_ppm_floor_is_rule_free_on_half_boundaries(spark):
    """FLOOR(x·1e6 + 0.5) sends halves toward +inf for BOTH signs —
    the single pinned behavior both engines implement identically
    (ROUND disagrees exactly here: Spark HALF_UP over the decimal
    form vs DuckDB over the binary value)."""
    rows = spark.createDataFrame(
        [(1.25e-05,), (-1.25e-05,)], "x double"
    ).select(ppm_floor("x").alias("f")).collect()
    assert [r["f"] for r in rows] == [13, -12]


# ------------------------------------- bootstrap key pre-reduction

def test_bootstrap_key_prereduce_congruent_and_safe(spark):
    """(d % 2^32)·B + b is congruent to d·B + b mod 2^32 — certified
    hashes unchanged — and its magnitude stays ≤ ~3.4e10 even for
    d = 2^63−1, where the plain interleaving wraps BIGINT."""
    from recommedation_system_under_flink_spark.operators.sampling import (
        BOOT_B,
        HASH_MOD,
        split_hash,
        split_hash_sql,
    )

    ids = [0, 1, 12345, 2**31, 2**32 + 7, 2**62 + 99, 2**63 - 1]
    rows = []
    for d in ids:
        for b in range(BOOT_B):
            rows.append((d, b))
    sdf = spark.createDataFrame(rows, "doc_id long, b int")
    got = sdf.select(
        "doc_id",
        "b",
        split_hash(
            (F.col("doc_id") % F.lit(HASH_MOD)) * BOOT_B + F.col("b")
        ).alias("h"),
    ).collect()
    from recommedation_system_under_flink_spark.operators.sampling import (
        HASH_MULT,
    )

    for r in got:
        # arbitrary-precision ground truth of the ORIGINAL definition
        want = ((r["doc_id"] * BOOT_B + r["b"]) * HASH_MULT) % HASH_MOD
        assert r["h"] == want, (r["doc_id"], r["b"], r["h"], want)

    # SQL twin agrees in DuckDB (which RAISES on BIGINT overflow, so
    # merely evaluating it at 2^63-1 proves the pre-reduction works)
    con = duckdb.connect()
    con.sql("CREATE TABLE t (doc_id BIGINT, b BIGINT)")
    con.executemany("INSERT INTO t VALUES (?,?)", rows)
    expr = split_hash_sql(f"(doc_id % {HASH_MOD}) * {BOOT_B} + b")
    for doc_id, b, h in con.sql(
        f"SELECT doc_id, b, {expr} FROM t"
    ).fetchall():
        want = ((doc_id * BOOT_B + b) * HASH_MULT) % HASH_MOD
        assert h == want, (doc_id, b, h, want)
    con.close()


# --------------------------------------- scene cuts: null duration

def test_scene_cuts_kernel_drops_null_duration_rows(spark):
    """A media row with NULL meta.duration_ms must be silently dropped
    by the signature kernel (the oracle's NULL nf drops it on the SQL
    side), never raise. The fixture media table can't produce one —
    duration_ms is derived n_chars·40 — so the kernel is driven
    directly with a planted malformed row."""
    from recommedation_system_under_flink_spark.operators.multimodal import (
        _frame_signatures,
    )

    m = spark.createDataFrame(
        [
            (1, b"\x10" * 64, 2500),
            (2, b"\x20" * 64, None),
        ],
        "media_id long, payload binary, duration_ms long",
    ).select(
        "media_id",
        "payload",
        F.struct(F.col("duration_ms")).alias("meta"),
    )
    out = _frame_signatures(m).collect()
    ids = {r["media_id"] for r in out}
    assert 1 in ids and 2 not in ids
    # 2500 ms -> nf = 3 sampled frames for the surviving video
    assert len([r for r in out if r["media_id"] == 1]) == 3


# ----------------------------------- bucketed co-located join (s28)

def test_s28_bucketed_join_is_colocated(queries, spark):
    """The whole point of s28: both table scans read bucketed metadata
    and the aggregate + join run with ZERO Exchange nodes (the sorts
    that remain are bucket-local). Values are covered by the oracle
    gate; this pins the layout contract."""
    import re

    from conftest import SF_DIR

    df = queries["s28_bucketed_join_colocated"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange", plan)) == 0, plan[:800]
    assert plan.count("Bucketed: true") == 2, plan[:800]
    assert "SortMergeJoin" in plan
    # and bucketing is a pure layout change: same rows as the plain
    # recompute on the raw parquet
    from pyspark.sql import functions as F
    from recommedation_system_under_flink_spark.sources import (
        clicks,
        events_raw,
    )

    cl = (
        clicks(spark, SF_DIR)
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("n_clicks"))
    )
    cents = F.round(F.col("value").cast("decimal(18,6)") * 100, 0).cast(
        "bigint"
    )
    pu = (
        events_raw(spark, SF_DIR)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", cents.alias("cents"))
        .groupBy("user_id")
        .agg(F.sum("cents").cast("bigint").alias("purchase_cents"))
    )
    want = {
        (r["user_id"], r["n_clicks"], r["purchase_cents"])
        for r in cl.join(pu, "user_id").collect()
    }
    got = {
        (r["user_id"], r["n_clicks"], r["purchase_cents"])
        for r in df.collect()
    }
    assert got == want


# -------------------------------- quantizer source-text lint

def test_inlined_quantizer_copies_are_canonical():
    """~60 oracle strings inline the quantizer SQL (they are frozen
    f-string literals, so they cannot call ppm_floor_sql at class-load
    time without a refactor of every registration). This lint pins
    every inlined copy to the canonical arithmetic — multiplier
    1000000.0 (or the equal literal 1e6), addend +0.5, BIGINT cast —
    so a future hand-edit typo ('100000.0', '- 0.5') re-creating the
    cross-engine flake class fails HERE, not at the driver gate."""
    import pathlib
    import re

    pkg = pathlib.Path(
        "recommedation_system_under_flink_spark"
    )
    pat = re.compile(r"FLOOR\(([^\n]{0,400}?)\)\s*AS\s+BIGINT", re.S)
    bad = []
    n_found = 0
    for f in pkg.rglob("*.py"):
        text = f.read_text()
        for m in re.finditer(r"FLOOR\(", text):
            # capture to the matching close over a window
            window = text[m.start() : m.start() + 500]
            if "AS BIGINT" not in window:
                continue
            head = window[: window.index("AS BIGINT")]
            suspect = (
                "1000000.0" in head
                or "* 1e6" in head
                or "/ 1e6" in head
                or "+ 0.5)" in head
            )
            if not suspect:
                continue  # FLOOR for binning / hashing, not the quantizer
            n_found += 1
            # every quantizer-shaped FLOOR must round half-up ...
            add_ok = "+ 0.5" in head
            # ... and the SCALE op directly in front of the +0.5 (if
            # any — no-scale forms round values already in micro-units
            # or whole counts) must be exactly the canonical 1e6
            mult_ok = True
            if add_ok:
                tail = head[: head.rindex("+ 0.5")].rstrip()
                m2 = re.search(r"([*/])\s*([0-9][0-9.e]*)$", tail)
                if m2:
                    mult_ok = m2.group(2) in ("1000000.0", "1e6")
            if not (mult_ok and add_ok):
                bad.append((str(f), window[:120].replace("\n", " ")))
    assert n_found >= 50, f"lint found too few sites ({n_found})"
    assert not bad, bad
