from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from sp500_stock_etl_spark.session import get_spark

    s = get_spark("sp500-etl-tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct():
    return SF_CORRECT
