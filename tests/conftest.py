"""Shared fixtures: one small local SparkSession per test run.

Session startup costs ~6 s, so it is session-scoped; tests must not stop
it or mutate global state other than temp views.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from gcp_etl_pipeline_spark.session import get_session

    spark = get_session(app_name="pytest", master="local[4]", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
