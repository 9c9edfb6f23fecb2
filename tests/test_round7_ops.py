"""Round-7 additions: AQE skew-join demonstration under planted skew,
and invariants for the mm hashable oracle twins + the curation mix.

The skew test is the demonstration VERDICT r6 item 8 asked for: the
repo documents AQE skew-splitting as its standard skew lever (SCALE.md
"skew levers"), and this pins, under actually-skewed data, that the
lever fires — the final adaptive plan splits the hot partition into
multiple reader tasks (``skew=true`` in the AQEShuffleRead node) and
the join result stays exactly correct.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR

from recommedation_system_under_flink_spark import registry


@pytest.fixture(scope="module")
def queries():
    return registry.queries()

N_FACT = 200_000
N_KEYS = 499
HOT_SHARE = 7  # id % 10 < 7 -> ~70% of the fact lands on key 0


@pytest.fixture()
def skew_confs(spark):
    """Tune AQE so the planted skew is 'skewed' at test scale, force a
    sort-merge join, and restore every conf afterwards."""
    keys = (
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # at test scale the hot partition is ~MBs, not the prod 256 MB
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    # force a shuffle join: skew-splitting only applies to SMJ/SHJ
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield spark
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def _planted(spark):
    fact = spark.range(0, N_FACT).select(
        F.when(F.col("id") % 10 < HOT_SHARE, F.lit(0))
        .otherwise(F.col("id") % N_KEYS)
        .alias("k"),
        (F.col("id") % 1000).cast("long").alias("v"),
    )
    dim = spark.range(0, N_KEYS).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("w")
    )
    return fact, dim


def test_aqe_splits_planted_skew_join(skew_confs):
    """The lever firing: a skew-heavy join whose output imposes no
    downstream distribution requirement gets its hot partition split
    into multiple reader tasks (``skew=true`` in the final plan)."""
    spark = skew_confs
    fact, dim = _planted(spark)
    joined = fact.join(dim, "k").agg(
        F.count("*").alias("n"), F.sum(F.col("v") + F.col("w")).alias("s")
    )
    row = joined.collect()[0]
    # correctness under the skew split: exact global count
    assert row["n"] == N_FACT
    # the demonstration: the FINAL adaptive plan split the hot partition
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in plan, plan[:2000]


def test_aqe_skew_split_declines_when_distribution_required(skew_confs):
    """The documented caveat: when the join feeds a SAME-KEY aggregate,
    splitting the hot partition would break the distribution the
    aggregate reuses, so OptimizeSkewedJoin declines (results stay
    exactly correct; the cure there is salting — j3_scored_join_salted).
    """
    spark = skew_confs
    fact, dim = _planted(spark)
    joined = fact.join(dim, "k").groupBy("k").agg(F.count("*").alias("n"))
    rows = {r["k"]: r["n"] for r in joined.collect()}
    hot = sum(1 for i in range(N_FACT) if i % 10 < HOT_SHARE)
    assert rows[0] == hot + sum(
        1 for i in range(N_FACT) if i % 10 >= HOT_SHARE and i % N_KEYS == 0
    )
    assert sum(rows.values()) == N_FACT
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" not in plan


def test_skew_split_equals_unsplit_result(skew_confs):
    """The skew-split plan's full result must equal the plain AQE-off
    plan's result row-for-row (values are partition-independent)."""
    spark = skew_confs
    fact, dim = _planted(spark)
    agg = (
        fact.join(dim, "k")
        .groupBy("k")
        .agg(F.sum(F.col("v") * F.col("w")).alias("s"))
    )
    with_skew = {(r["k"], r["s"]) for r in agg.collect()}
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        without = {(r["k"], r["s"]) for r in agg.collect()}
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert with_skew == without


def test_mm_hashable_twins_project_the_kernels(spark, queries):
    """The hashable twins must be pure projections of the rows-only
    kernels: same media rows, feature_idx fan-out = FEATURE_DIM, and
    entropy only re-rounded (never recomputed differently)."""
    from recommedation_system_under_flink_spark.operators.multimodal import (
        FEATURE_DIM,
    )

    full = queries["mm_binary_stats"](spark, SF_DIR).collect()
    twin = queries["mm_binary_stats_hashable"](spark, SF_DIR).collect()
    assert len(full) == len(twin)
    by_id = {r["media_id"]: r for r in full}
    for t in twin:
        assert t["entropy"] == pytest.approx(
            round(by_id[t["media_id"]]["entropy"], 6), abs=1e-9
        )
        assert t["n_distinct"] == by_id[t["media_id"]]["n_distinct"]

    n_media = len(full)
    flat = queries["mm_decode_features_hashable"](spark, SF_DIR)
    assert flat.count() == n_media * FEATURE_DIM


def test_curation_mix_budget_invariants(spark, queries):
    """Equal-share mix: no source exceeds its share, full-weight
    sources take exactly their tokens, and the total allocation never
    exceeds the budget."""
    from recommedation_system_under_flink_spark.plans.curation import (
        MIX_BUDGET_FRAC,
    )

    rows = queries["llm_curation_mix_fused"](spark, SF_DIR).collect()
    assert rows, "mix must produce per-source rows"
    tot_tokens = sum(r["n_tokens"] for r in rows)
    share = MIX_BUDGET_FRAC * tot_tokens / len(rows)
    for r in rows:
        assert 0.0 < r["weight"] <= 1.0
        assert r["alloc_tokens"] <= min(r["n_tokens"], share) + 1e-6
        if r["weight"] == 1.0:
            assert r["alloc_tokens"] == r["n_tokens"]
    assert sum(r["alloc_tokens"] for r in rows) <= MIX_BUDGET_FRAC * tot_tokens + 1e-6


# ------------------------------------------ round-7 new-op invariants


def test_dataset_card_sanity(spark, queries):
    import duckdb

    row = queries["llm_dataset_card"](spark, SF_DIR).collect()[0]
    n_docs, n_langs, n_sources = duckdb.sql(
        f"""SELECT COUNT(*), COUNT(DISTINCT lang), COUNT(DISTINCT source)
            FROM '{SF_DIR}/documents.parquet'"""
    ).fetchone()
    assert row["n_docs"] == n_docs
    assert row["n_langs"] == n_langs
    assert row["n_sources"] == n_sources
    assert 0 < row["n_unique_texts"] <= row["n_docs"]
    assert row["dup_rate"] == pytest.approx(
        1.0 - row["n_unique_texts"] / row["n_docs"], abs=2e-6
    )
    assert row["n_tokens"] > 0
    assert 0.0 < row["mean_quality"] < 1.0
    assert 0.0 < row["pct_en"] < 1.0


def test_decontamination_flags_verbatim_test_dups(spark, queries):
    """A train doc whose text verbatim-equals a test doc's text (and
    has >= DECON_N tokens) must be flagged with contamination rate 1.0;
    all rates must lie in (0, 1]."""
    import re

    import duckdb

    from recommedation_system_under_flink_spark.operators.sampling import (
        HASH_MOD,
        HASH_MULT,
        TRAIN_BUCKETS,
        VAL_BUCKETS,
    )
    from recommedation_system_under_flink_spark.operators.textstats import (
        DECON_N,
    )

    rows = {
        r["doc_id"]: r
        for r in queries["ts_decontamination"](spark, SF_DIR).collect()
    }
    for r in rows.values():
        assert 0.0 < r["contamination_rate"] <= 1.0
        assert 0 < r["n_contaminated"]
        assert r["n_ngrams"] >= r["n_contaminated"]

    docs = duckdb.sql(
        f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()

    def split_of(doc_id):
        b = ((doc_id * HASH_MULT) % HASH_MOD) % 10
        if b < TRAIN_BUCKETS:
            return "train"
        if b < TRAIN_BUCKETS + VAL_BUCKETS:
            return "val"
        return "test"

    def ntok(text):
        return len([t for t in re.split(r"[^a-z0-9]+", text.lower()) if t])

    test_texts = {t for i, t in docs if split_of(i) == "test"}
    for i, t in docs:
        if split_of(i) == "train" and t in test_texts and ntok(t) >= DECON_N:
            assert i in rows, f"verbatim dup of a test doc not flagged: {i}"
            assert rows[i]["contamination_rate"] == pytest.approx(1.0)


def test_gopher_rules_consistency(spark, queries):
    """Rule battery sanity: any_rule dominates each individual rule,
    rates are in [0,1] and equal n_fail / n_docs, and the word-count
    rule agrees with a duckdb recount of short/long docs."""
    import duckdb

    from recommedation_system_under_flink_spark.operators.textstats import (
        GOPHER_MAX_WORDS,
        GOPHER_MIN_WORDS,
    )

    rows = {r["rule"]: r for r in queries["ts_gopher_rules"](spark, SF_DIR).collect()}
    assert set(rows) == {
        "word_count", "mean_word_length", "alpha_word_fraction",
        "stopword_hits", "symbol_ratio", "any_rule",
    }
    for r in rows.values():
        assert 0.0 <= r["fail_rate"] <= 1.0
    any_fail = rows["any_rule"]["n_fail"]
    for name, r in rows.items():
        if name != "any_rule":
            assert r["n_fail"] <= any_fail
    expected_wc = duckdb.sql(
        f"""SELECT COUNT(*) FROM (
              SELECT len(list_filter(string_split_regex(lower(text),
                '[^a-z0-9]+'), t -> t <> '')) AS n
              FROM '{SF_DIR}/documents.parquet')
            WHERE n < {GOPHER_MIN_WORDS} OR n > {GOPHER_MAX_WORDS}"""
    ).fetchone()[0]
    assert rows["word_count"]["n_fail"] == expected_wc
