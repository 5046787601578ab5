from __future__ import annotations

import os

import pytest

from hopspark.functions import register_all, register_sql_functions
from hopspark.session import get_spark

# Small SF for fast unit runs; the driver's own gate runs sf0.01.
TEST_SF_DIR = os.environ.get("HOPSPARK_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="hopspark-tests", shuffle_partitions=8)
    register_all(spark)
    register_sql_functions(spark)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TEST_SF_DIR
