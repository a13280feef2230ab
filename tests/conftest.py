from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from docker_airflow_spark_minio_spark.session import get_spark_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark_session(
        app_name="engine-tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def plan_verdicts() -> dict[str, bool]:
    """Registry entry -> cartesian-plan verdict from the oracle sweep
    (tests/oracle_check.run_check), shared with the plan-posture test
    so one session builds each entry's frame once."""
    return {}
