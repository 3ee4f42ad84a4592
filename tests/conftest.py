from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flights_etl_pipeline_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
