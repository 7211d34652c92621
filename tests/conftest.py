from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_time_iot_data_engineering_pipeline_spark.session import build_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="pytest-engine", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def registry_pass(spark, sf_dir, tmp_path_factory):
    """Every registered query built and run once per session, at sf_dir and
    on a x10 replica (tests/test_registry_pass.py)."""
    from .test_registry_pass import run_registry_pass

    return run_registry_pass(spark, sf_dir, str(tmp_path_factory.mktemp("registry_pass")))
