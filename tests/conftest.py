"""Shared Spark session for integration tests (one JVM per run)."""

from __future__ import annotations

import os

import pytest

#: Driver heap for the test JVM unless ``SPARK_GRAFT_DRIVER_MEM`` is set.
#: The session default (24g) lets G1 grow the heap past a small host's
#: RAM before it collects; the whole suite needs far less.
TEST_DRIVER_MEM = "6g"


@pytest.fixture(scope="session")
def spark():
    from recommedation_system_under_flink_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", TEST_DRIVER_MEM)
    s = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=4)
    yield s


SF_DIR = "/root/testdata/sf0.001"
