from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ds_mapreduce_spark.session import get_spark  # noqa: E402

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    # every run's tail lists where the time went, unless --durations
    # was given
    if config.option.durations is None:
        config.option.durations = 15


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ds-mapreduce-spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL
