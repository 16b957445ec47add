"""Per-query isolation: ``harness.release`` leaves nothing cached, so a
timed query never reads an earlier query's persisted frame, and
``operators/materialize.py`` has to keep its session-scoped relations
outside the block manager. And the driver heap every entry point
launches with is sized to the box."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import harness  # noqa: E402
from technical_test_data_engineer_spark import session  # noqa: E402


def test_release_frees_persists_and_local_checkpoints(spark):
    jsc = spark.sparkContext._jsc
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = set(jsc.getPersistentRDDs().keys())
    persisted = spark.range(100).selectExpr("id * 2 AS v").persist()
    persisted.count()
    checkpointed = spark.range(50).localCheckpoint()  # eager
    assert checkpointed.count() == 50
    # both hold a persistent RDD: the cached relation's and the local
    # checkpoint's, which clearCache alone does not free
    assert len(set(jsc.getPersistentRDDs().keys()) - before) >= 2
    assert not cache.isEmpty()

    harness.release(spark)

    assert len(jsc.getPersistentRDDs()) == 0
    assert cache.isEmpty()


def test_driver_heap_is_half_the_box_capped_at_32g(monkeypatch):
    """bench.py, verify_local.py and the suite all start through
    ``get_spark``: without ``SPARK_GRAFT_DRIVER_MEM`` the heap is half the
    physical memory (a 15 GB box gets 7.5 GB, not 32g), capped at 32g."""
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": (15 << 30) // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
    assert session.driver_memory() == "7680m"
    pages["SC_PHYS_PAGES"] = (256 << 30) // 4096
    assert session.driver_memory() == "32768m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.driver_memory() == "3g"
