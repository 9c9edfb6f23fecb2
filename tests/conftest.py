"""Shared Spark session for integration tests (one JVM per run)."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from recommedation_system_under_flink_spark.session import get_spark

    s = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=4)
    yield s


SF_DIR = "/root/testdata/sf0.001"
