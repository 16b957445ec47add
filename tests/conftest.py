from __future__ import annotations

import pytest

from technical_test_data_engineer_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


def make_session():
    """The suite's session; the plan-shape ledger is generated on it too.
    Its heap is ``session.driver_memory()``, sized to the box."""
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    return s


@pytest.fixture(scope="session")
def spark():
    s = make_session()
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
