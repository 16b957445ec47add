from __future__ import annotations

import os

import pytest

from technical_test_data_engineer_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


def make_session():
    """The suite's session; the plan-shape ledger is generated on it too.

    Unless ``SPARK_GRAFT_DRIVER_MEM`` sets it, the heap is half the
    box's physical memory, capped at the engine's 32g default: a 32g
    heap on a 16 GB box lets the JVM grow until the kernel kills it."""
    confs = {}
    if "SPARK_GRAFT_DRIVER_MEM" not in os.environ:
        phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
        confs["spark.driver.memory"] = f"{min(phys_mb // 2, 32 << 10)}m"
    s = get_spark("tests", master="local[4]", shuffle_partitions=4, extra_confs=confs)
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
