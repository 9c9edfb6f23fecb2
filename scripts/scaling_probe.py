"""Scaling-exponent probe: time flagship queries at sf0.001/0.01/0.1
and report the growth ratio against the 10x data-size steps.

A query whose wall time grows ~linearly (ratio ~<= 10 per step, usually
far less while fixed overhead dominates) is plan-shaped to survive the
100x extrapolation; a super-linear ratio flags a shape that will not.
Timing uses bench.py's warm-up (``bench.warm_session``, once per SF
before the loop) and timed action (``bench.run_action``), build +
execute, plus one untimed warm run of the smallest SF per query.

Usage: python scripts/scaling_probe.py [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SFS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")

#: Flagships spanning the plan families: inverted-index vs naive scored
#: join, LSH dedup, TF-IDF agg chain, sessionization, relational scan
#: agg, BSP graph loop, token-joined LM scoring, ANN compression.
DEFAULT = (
    "j3_scored_join",
    "j3_scored_join_naive",
    "dedup_minhash_lsh",
    "a5_news_tfidf",
    "ef_sessionize",
    "rel_q1_pricing_summary",
    "graph_pagerank_clicks",
    "ts_bigram_lm_perplexity",
    "sim_pq_topk_pinned",
    "hot_topics_pipeline",
    # final-session flagships
    "sim_semdedup",
    "ts_bm25_search",
    "rel_q9_product_profit",
    "samp_dsir_weights",
    "ef_attribution_position_based",
    "sim_dbscan",
)


def main() -> int:
    from recommedation_system_under_flink_spark.session import get_spark

    import __spark_entry__ as entrymod
    import bench

    spark = get_spark(app_name="scaling_probe")
    qs = entrymod.queries()
    names = sys.argv[1:] or list(DEFAULT)
    for sf in SFS:
        bench.warm_session(spark, sf)

    print(f"{'query':34s} {'sf0.001':>8s} {'sf0.01':>8s} {'sf0.1':>8s} "
          f"{'r(0.01)':>8s} {'r(0.1)':>7s}")
    for name in names:
        fn = qs[name]
        bench.run_action(name, fn(spark, SFS[0]))  # untimed warm run
        times = []
        for sf in SFS:
            t0 = time.time()
            bench.run_action(name, fn(spark, sf))
            times.append(time.time() - t0)
        r1 = times[1] / times[0] if times[0] > 0 else float("nan")
        r2 = times[2] / times[1] if times[1] > 0 else float("nan")
        print(
            f"{name:34s} {times[0]:8.2f} {times[1]:8.2f} {times[2]:8.2f} "
            f"{r1:7.1f}x {r2:6.1f}x"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
