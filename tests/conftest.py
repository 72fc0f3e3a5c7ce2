from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("LITEBASE_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session", autouse=True)
def spark(tmp_path_factory):
    """One session for the whole run, created before any test builds its
    own (getOrCreate then returns it), with a warehouse of its own: every
    Engine's versioned store lives there, so runs do not share history."""
    from litebase_spark.session import get_spark

    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    spark = get_spark("litebase-tests", master="local[8]", shuffle_partitions=8,
                      extra_conf={"spark.sql.warehouse.dir": warehouse})
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running live-source soak tests"
    )
