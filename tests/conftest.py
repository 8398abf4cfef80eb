from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from advanced_data_mining_and_big_data_analysis_spark import get_spark
from advanced_data_mining_and_big_data_analysis_spark.testing import duck_catalog

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    return get_spark("tests", shuffle_partitions=8)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    return duck_catalog(SF_DIR)
