"""Round-13 optimization invariants.

Pins the equivalences the round-13 rewrites rely on:

- the Arrow vote kernel (`_vote_rounds_arrow`) reproduces the replaced
  Catalyst HOF fold loop BIT-exactly (same v = score/deg per sender,
  same array_sort(nbrs) accumulation order per receiver, same
  (1-d) + d*acc scalar ops) — checked against a pure-Python fold
  reference on the sf0.001 fixture's real P1 graph.
"""

from __future__ import annotations

from recommedation_system_under_flink_spark.config import DEFAULT_SCENE
from recommedation_system_under_flink_spark.operators import keywords as KW
from recommedation_system_under_flink_spark.sources import news

SF_DIR = "/root/testdata/sf0.001"


def _ref_vote_fold(adj_rows, d, rounds):
    """The replaced Catalyst loop's semantics in pure Python: per round,
    v(term) = score/deg once per sender; each receiver folds
    acc ← acc + v(n) over its array_sort'd neighbor list starting from
    0.0; score ← (1-d) + d*acc. Python floats are IEEE doubles, so this
    is the bit-level reference."""
    scores = {(k, w): 1.0 - d for k, w, _ in adj_rows}
    deg = {(k, w): float(len(nb)) for k, w, nb in adj_rows}
    for _ in range(rounds):
        v = {kw: scores[kw] / deg[kw] for kw in scores}
        new = {}
        for k, w, nb in adj_rows:
            acc = 0.0
            for n in nb:
                acc = acc + v[(k, n)]
            new[(k, w)] = (1.0 - d) + d * acc
        scores = new
    return scores


def test_vote_kernel_matches_catalyst_fold_bitexact(spark):
    from pyspark.sql import functions as F

    d = DEFAULT_SCENE.friction
    rounds = KW.TEXTRANK_SQL_ITERS - 1
    pos = KW.tr_positions_from(news(spark, SF_DIR).select("news_id", "content"))
    edges = KW.windowed_edges(pos)
    adj = (
        edges.groupBy("news_id", "w")
        .agg(F.array_sort(F.collect_list("n")).alias("nbrs"))
        .repartition(3, F.col("news_id"))
        .persist()
    )
    try:
        adj_rows = [
            (r["news_id"], r["w"], list(r["nbrs"])) for r in adj.collect()
        ]
        assert adj_rows, "fixture produced an empty adjacency"
        ref = _ref_vote_fold(adj_rows, d, rounds)
        got = {
            (r["news_id"], r["term"]): r["score"]
            for r in KW._vote_rounds_arrow(adj, "news_id", d, rounds).collect()
        }
        assert set(got) == set(ref)
        # BIT-exact, not approx: the rewrite's claim is identical floats
        mismatches = {k: (got[k], ref[k]) for k in ref if got[k] != ref[k]}
        assert not mismatches, f"{len(mismatches)} words differ: {list(mismatches.items())[:3]}"
    finally:
        adj.unpersist()
