"""Empty-input robustness sweep: run EVERY registered query against a
fixture where all ten tables exist but hold zero rows (schemas copied
exactly from the real fixture, including the TIMESTAMP(NANOS) events
column — an empty table written with a downgraded schema produces
false type errors, not robustness signals).

Empty inputs are normal at scale (empty partitions, quiet days, fresh
deployments); operators must return empty relations, not throw.
Current state: 0 crashes / all queries (the three historical offenders
— ALS on no ratings, the partitioned re-read with no partition dirs,
the IVF fit on an empty corpus — are guarded and regression-tested in
tests/test_events_flow.py::test_empty_input_robustness). A query that
leaves a cached frame in the session counts as a failure too.

Usage: ``python scripts/empty_sweep.py [src_sf_dir]``
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def make_empty_fixture(src: str) -> str:
    """Write schema-exact empty twins of every fixture table."""
    import pyarrow.parquet as pq

    dst = os.path.join(tempfile.gettempdir(), "spark_graft_empty_sf")
    os.makedirs(dst, exist_ok=True)
    for t in TABLES:
        p = os.path.join(src, f"{t}.parquet")
        if os.path.exists(p):
            pq.write_table(pq.read_schema(p).empty_table(), os.path.join(dst, f"{t}.parquet"))
    return dst


def main() -> int:
    import __spark_entry__ as entrymod
    from recommedation_system_under_flink_spark.operators import bsp
    from recommedation_system_under_flink_spark.session import get_spark

    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    dst = make_empty_fixture(src)

    spark = get_spark(app_name="empty-sweep")
    qs = entrymod.queries()
    bad, leaks = [], []
    for name in sorted(qs):
        try:
            qs[name](spark, dst).count()
        except Exception as exc:  # pragma: no cover - audit tool
            bad.append(name)
            print(f"CRASH {name}: {type(exc).__name__}: {str(exc).splitlines()[0][:120]}")
        if bsp.leaked_cache(spark):
            leaks.append(name)
            print(f"LEAK  {name}: left a cached frame in the session")
    print(f"{len(bad)} crashes, {len(leaks)} cache leaks / {len(qs)} queries")
    return 1 if bad or leaks else 0


if __name__ == "__main__":
    raise SystemExit(main())
