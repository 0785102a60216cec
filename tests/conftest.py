"""Shared Spark session for tests — local mode, AQE on, small shuffle count
so tiny-data tests don't pay 200-partition overhead."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from self_healing_data_pipeline_agent_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="tests",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=8,
        extra_conf={
            "spark.driver.memory": "6g",
            # Independent of the core count: spread() repartitions to this
            # value, and the committed contract fingerprints render it.
            "spark.default.parallelism": "8",
        },
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
