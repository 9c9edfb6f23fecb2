"""Per-query plan dump and timing harness (optimization guide §1).

For each named query: time ``repeats`` executions and, with ``--tag``,
write the plan of every SQL execution the first repeat's build and
action ran to ``plans/r13/<query>_<tag>.txt``. The plans come from
Spark's SQL status store (kept with the UI off), so a query that ends
in ``bsp.checkpoint_result`` still shows the lineage its
``localCheckpoint`` ran, not only the returned ``Scan ExistingRDD``
stub. Timing uses bench.py's warm-up (``bench.warm_session``) and
timed action (``bench.run_action``), build + execute, so numbers are
comparable with the committed controls, but the timed action is
selectable:

- ``count``  — bench.py's action (default; what the driver measures)
- ``noop``   — ``df.write.format("noop")`` per guide §1.4 (computes
  every column; used for deep dives where count() would prune)

Usage:
    python scripts/plan_probe.py [--tag before] [--repeats 3]
        [--action count] [--sf SF_DIR] query [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _executions(spark):
    """The session's retained SQL executions, once the listener bus has
    delivered every event already posted (the store is filled
    asynchronously)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [execs.apply(i) for i in range(execs.size())]


def last_execution_id(spark) -> int:
    """Watermark for :func:`executed_plans`: the newest recorded SQL
    execution id, -1 if none."""
    return max((e.executionId() for e in _executions(spark)), default=-1)


def executed_plans(spark, since: int) -> list[tuple[int, str, str]]:
    """``(executionId, description, physicalPlanDescription)`` of every
    SQL execution recorded after the ``since`` watermark, oldest first.
    Selected by id, not list position: the store drops its oldest
    entries past ``spark.sql.ui.retainedExecutions``."""
    return sorted(
        (e.executionId(), e.description(), e.physicalPlanDescription())
        for e in _executions(spark)
        if e.executionId() > since
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--tag", default=None, help="plan file suffix; omit to skip plan dump")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--action", choices=("count", "noop"), default="count")
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    from recommedation_system_under_flink_spark.session import get_spark

    import __spark_entry__ as entrymod
    import bench

    spark = get_spark(app_name="plan_probe")
    qs = entrymod.queries()

    bench.warm_session(spark, args.sf)

    plan_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r13")
    os.makedirs(plan_dir, exist_ok=True)

    out: dict[str, dict] = {}
    for name in args.queries:
        fn = qs.get(name)
        if fn is None:
            out[name] = {"error": "not registered"}
            continue
        times = []
        for i in range(args.repeats):
            dump = i == 0 and args.tag is not None
            since = last_execution_id(spark) if dump else None
            t0 = time.time()
            df = fn(spark, args.sf)
            if args.action == "noop" and name not in bench.FROZEN_PLAN_QUERIES:
                df.write.format("noop").mode("overwrite").save()
            else:
                bench.run_action(name, df)
            times.append(round(time.time() - t0, 3))
            if dump:
                with open(os.path.join(plan_dir, f"{name}_{args.tag}.txt"), "w") as fh:
                    for eid, desc, plan in executed_plans(spark, since):
                        fh.write(f"== execution {eid}: {desc} ==\n{plan}\n")
        out[name] = {"times": times, "min": min(times)}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
