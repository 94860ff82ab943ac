from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from steaminganalysis_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_CORRECTNESS = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="sa-spark-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def miniredis():
    """URL of a fresh in-process ``MiniRedisServer``. Teardown drops the
    URL's cached store before stopping the server, so a later server on
    the same ephemeral port is never handed this one's dead client."""
    from steaminganalysis_spark.backends.miniredis import MiniRedisServer
    from steaminganalysis_spark.streaming.sinks import KVStore

    srv = MiniRedisServer().start()
    try:
        yield srv.url
    finally:
        KVStore.reset(srv.url)
        srv.stop()
