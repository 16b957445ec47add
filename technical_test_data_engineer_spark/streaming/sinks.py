"""Streaming sinks.

``snapshot_overwrite_sink`` reproduces the reference's refresh
semantics — every scrape fully replaces the stored tables
(``to_sql(if_exists='replace')``,
/root/reference/tasks/scraper/src/scraper.py:23-24) — as a
``foreachBatch`` that overwrites a parquet snapshot per micro-batch.
With an aggregation upstream in ``complete`` mode, each snapshot is the
full current rollup: downstream readers always see one consistent,
latest table, exactly like the reference's Postgres tables after a
refresh, but updated incrementally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def snapshot_overwrite_sink(
    sdf: DataFrame,
    path: str,
    checkpoint: str,
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """Write each micro-batch of a ``complete``-mode stream as a
    full-replace parquet snapshot."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(path)

    writer = (
        sdf.writeStream.outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_write)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def memory_sink(
    sdf: DataFrame,
    name: str,
    output_mode: str = "complete",
) -> StreamingQuery:
    """In-memory table sink under ``Trigger.AvailableNow`` — test/debug
    only (driver-resident)."""
    return (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def upsert_sink(
    sdf: DataFrame,
    root: str,
    name: str,
    key_cols: list[str],
    checkpoint: str,
) -> StreamingQuery:
    """CDC-apply sink under ``Trigger.AvailableNow``: each micro-batch
    of keyed updates MERGEs into the atomically-published table
    (sources/maintenance.publish_upsert) — last write per key wins,
    inserts appear, untouched rows persist, and a crash mid-batch leaves
    readers on the previous complete snapshot (the publish is a pointer
    flip).

    The batch is deduped to one row per key first (latest by the whole
    row's order within the batch is NOT defined on a stream — callers
    needing in-batch ordering must carry an event-time column and
    pre-aggregate). This is the plain-parquet shape of what Delta's
    ``foreachBatch`` MERGE recipes do."""
    from technical_test_data_engineer_spark.sources.maintenance import (
        publish_upsert,
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            updates = batch_df.dropDuplicates(key_cols)
            publish_upsert(batch_df.sparkSession, root, name, updates, key_cols)

    return (
        sdf.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_apply)
        .trigger(availableNow=True)
        .start()
    )


def audited_publish_sink(
    sdf: DataFrame,
    root: str,
    table: str,
    checkpoint: str,
    audit_fn,
    output_mode: str = "complete",
    trigger_available_now: bool = False,
    rejected: list | None = None,
) -> StreamingQuery:
    """Quality-gated streaming publish: each micro-batch runs
    ``audit_fn(batch_df)`` (a constraint_audit/referential_check
    report) and publishes through the atomic versioned snapshot ONLY
    if every check passes. A failing batch is skipped — readers keep
    the last good snapshot and the stream keeps running (the failure
    is appended to ``rejected`` with its batch id and failing checks,
    the hook a production pipeline turns into an alert). The
    exactly-once story composes: the publish is the atomic pointer
    flip, so a crash mid-batch can never expose a half-written or
    unaudited snapshot."""
    from technical_test_data_engineer_spark.sources.maintenance import (
        publish_if_clean,
    )

    def _publish(batch_df: DataFrame, batch_id: int) -> None:
        try:
            publish_if_clean(
                root, {table: batch_df}, {table: audit_fn(batch_df)}
            )
        except ValueError as e:
            if rejected is not None:
                rejected.append((batch_id, str(e)))

    writer = (
        sdf.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_publish)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
