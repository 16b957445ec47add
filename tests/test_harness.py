"""Per-query isolation: ``harness.release`` leaves nothing cached, so a
timed query never reads an earlier query's persisted frame, and
``operators/materialize.py`` has to keep its session-scoped relations
outside the block manager."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import harness  # noqa: E402


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
