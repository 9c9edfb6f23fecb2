"""Generated code is compiled once per session, not once per run.

``session.CODEGEN_CACHE_ENTRIES`` sizes Spark's generated-code cache to
the engine's working set. At Spark's default of 100 entries the classes
of one flagship evict each other, so a second run of the same query
recompiles them all. These tests pin the conf and count the classes a
repeat run compiles (``CodegenMetrics``, exact, unmoved by CPU load).

The repeat bound is not zero: AQE numbers whole-stage stages in the
order they complete and that number is part of the generated source,
so a repeat can meet a numbering it has not compiled yet.
"""

from __future__ import annotations

import pytest

import bench
from conftest import SF_DIR

from recommedation_system_under_flink_spark import registry
from recommedation_system_under_flink_spark.session import CODEGEN_CACHE_ENTRIES

#: The costliest ``daily_recs`` query, its A3 vote and an iterative trainer.
REPEATED = (
    "textrank_pipeline_distributed",
    "a3_user_keywords_distributed",
    "ml_gbdt_k_rounds",
)

#: Most classes a back-to-back repeat may compile.
MAX_REPEAT_COMPILES = 5


def test_cache_size_is_the_session_constant(spark):
    got = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    assert int(got) == CODEGEN_CACHE_ENTRIES


@pytest.mark.parametrize("name", REPEATED)
def test_repeat_run_reuses_generated_code(name, spark):
    build = registry.queries()[name]
    build(spark, SF_DIR).collect()
    before = bench.codegen_compiles(spark)
    build(spark, SF_DIR).collect()
    compiled = bench.codegen_compiles(spark) - before
    assert (
        compiled <= MAX_REPEAT_COMPILES
    ), f"{name}: a repeat compiled {compiled} classes"
