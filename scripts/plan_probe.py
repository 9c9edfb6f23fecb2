"""Round-12 measurement harness (optimization guide §1).

For each named query: build the DataFrame, dump ``explain("formatted")``
to ``plans/r13/<query>_<tag>.txt``, then time ``repeats`` executions.
Timing uses bench.py's warm-up (``bench.warm_session``) and timed
action (``bench.run_action``), build + execute, so numbers are
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


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--tag", default=None, help="plan file suffix; omit to skip plan dump")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--action", choices=("count", "noop"), default="count")
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument(
        "--plan-audit",
        action="store_true",
        help="dump the PRE-checkpoint plan (operators/bsp.py plan-audit "
        "mode): full lineage instead of the Scan ExistingRDD stub; "
        "skips timing (both timing and cache lifecycle are invalid in "
        "this mode)",
    )
    args = ap.parse_args()

    if args.plan_audit:
        os.environ["SPARK_GRAFT_PLAN_AUDIT"] = "1"

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
        spark.sparkContext.setJobDescription(f"probe:{name}")
        if args.plan_audit:
            df = fn(spark, args.sf)
            if args.tag:
                with open(os.path.join(plan_dir, f"{name}_{args.tag}.txt"), "w") as fh:
                    fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"))
            out[name] = {"plan_only": True}
            spark.sparkContext.setJobDescription(None)
            continue
        times = []
        for i in range(args.repeats):
            t0 = time.time()
            df = fn(spark, args.sf)
            if i == 0 and args.tag:
                with open(os.path.join(plan_dir, f"{name}_{args.tag}.txt"), "w") as fh:
                    fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"))
            if args.action == "noop" and name not in bench.FROZEN_PLAN_QUERIES:
                df.write.format("noop").mode("overwrite").save()
            else:
                bench.run_action(name, df)
            times.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = {"times": times, "min": min(times)}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
