"""Shared pytest fixtures: one SparkSession per test run + ER fixture tables."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from blink_spark.session import get_spark

    # local[N] follows the host (SPARK_GRAFT_CPUS or the CPU count); the
    # shuffle width stays fixed so partition-sensitive plans do not vary
    spark = get_spark("blink_spark_tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def fixture_paths():
    from blink_spark.synth import write_fixtures

    return write_fixtures(FIXTURE_DIR)
