from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from msk_flink_streaming_cdk_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cpus=int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "4")))
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_medium():
    return SF_MEDIUM


@pytest.fixture(scope="session")
def built_queries(spark, sf_small):
    """Every registered query built once at sf0.001. Building the
    whole registry is most of the cost of the lints that read it, so
    they share one build."""
    from msk_flink_streaming_cdk_spark.registry import QUERIES

    return {name: fn(spark, sf_small) for name, fn in QUERIES.items()}
