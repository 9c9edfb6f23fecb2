"""SparkSession factory.

The reference obtains its execution environment through the absent
``Controller.getEnvironment()`` (TextRank.java:359); here the analogue is a
single tuned :class:`~pyspark.sql.SparkSession`.

Tuning rationale (100 TB-scale defaults, scaled down for local[N] tests):

- AQE on: runtime coalescing + skew-join splitting replaces any hand
  scheduling for skewed user×news keys (SURVEY §4.2).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster this is overridden per-deployment (AQE coalesces down anyway).
- Arrow enabled: every pandas UDF crosses the JVM↔Python boundary in
  columnar batches, not row-at-a-time pickles.
- Session timezone pinned UTC so date/timestamp semantics match the
  DuckDB oracle exactly.
- Generated-code cache sized to the engine's working set
  (:data:`CODEGEN_CACHE_ENTRIES`). Spark compiles every whole-stage and
  expression class with Janino and keeps the result in one JVM-wide LRU
  keyed by the generated source text, so it holds code, never data,
  paths or results. Spark's default of 100 entries is smaller than one
  request: a warm ``daily_recs`` perfbench request compiles 204-207
  classes at the default and an ``iterative_tail`` one 211-217, so
  every class is evicted before its next use and each daily run
  recompiles everything. One pass over the full registry at sf0.001
  (``scripts/check.py``, all 392 queries, 4 CPUs) compiles 5,760
  classes without a single eviction; 8,192 is that rounded up to a
  power of two, about 40% headroom for queries added later and for the
  stage renumbering below. At that size, after the full pass in a 3 GB
  driver heap, metaspace is 263 MB and the heap after a full GC
  615 MB. The count is a working set, not a bound on reuse: AQE
  numbers whole-stage stages in completion order and the number is
  part of the source, so a repeat run can still meet a few unseen
  classes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

#: ``spark.sql.codegen.cache.maxEntries``, a static conf: it takes
#: effect only when :func:`get_spark` creates the session. Derivation in
#: the module docstring.
CODEGEN_CACHE_ENTRIES = 8192


def default_driver_mem() -> str:
    """Driver heap unless ``SPARK_GRAFT_DRIVER_MEM`` is set: 3/8 of
    physical RAM, capped at 24 GB. A heap near the host's RAM lets G1
    grow past it before collecting, and the JVM is OOM-killed; on a
    16 GB host this gives 6 GB, where the test suite and a full
    ``scripts/check.py`` run complete."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(24 * 1024, ram * 3 // 8 // 2**20)}m"


def get_spark(
    app_name: str = "recommedation_system_under_flink_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``. On a real
    cluster, pass ``master=None`` after setting it externally, or supply
    the cluster master URL; everything else carries over.
    """
    if master is None:
        master = f"local[{DEFAULT_CPUS}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(DEFAULT_CPUS) if DEFAULT_CPUS.isdigit() else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Driver fixture events.parquet stores TIMESTAMP(NANOS), which
        # Spark 4 rejects outright (PARQUET_TYPE_ILLEGAL) unless read as
        # raw long nanos; sources/tables.py re-derives timestamps from
        # the long. Bonus at scale: date predicates become raw-long
        # range predicates that push down into the parquet scan.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_driver_mem()),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
