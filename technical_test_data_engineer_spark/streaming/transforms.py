"""Event-time transformations shared by batch and streaming.

Each function is DataFrame-in → DataFrame-out and contains nothing
stream-specific except ``withWatermark`` (which is a no-op on batch
frames). The batch twins are oracle-checked against DuckDB
(plans/window_queries.py, plans/streaming_queries.py); the streaming
tests (tests/test_streaming.py) assert stream output == batch output on
the same files — the recommended way to validate streaming logic, since
the semantics of the aggregation itself are engine-identical.

At scale: every aggregation here shuffles on (window, key) — uniform
keys, bounded state. Watermarks bound the state store: without one, an
event-time window aggregation on an unbounded stream grows state
forever; with delay D the store holds only windows newer than
max_event_time − D.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from technical_test_data_engineer_spark.functions.scalars import exact_sum


def tumbling_rollup(
    df: DataFrame,
    window: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling event-time window over ``ts``: count + exact sum of
    ``value`` per (window, ``event_type``).

    Batch twin of the reference's "refresh then re-aggregate" loop —
    with a stream source this maintains the same rollup incrementally
    instead of recomputing from scratch per refresh
    (/root/reference/tasks/visualization/src/visualization.py:226-233).
    """
    if watermark:
        df = df.withWatermark("ts", watermark)
    return df.groupBy(
        F.window("ts", window).alias("win"), F.col("event_type")
    ).agg(
        F.count("*").alias("n_events"),
        exact_sum(F.col("value"), "total_value"),
    ).select(
        F.col("win.start").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


def sliding_rollup(df: DataFrame, watermark: str | None = None) -> DataFrame:
    """Sliding event-time window over ``ts``: count + exact sum of
    ``value`` per (1-hour window, ``event_type``), sliding every 15
    minutes — each event lands in four overlapping windows; Spark
    expands them scan-side (no UDTF)."""
    if watermark:
        df = df.withWatermark("ts", watermark)
    return df.groupBy(
        F.window("ts", "1 hour", "15 minutes").alias("win"), F.col("event_type")
    ).agg(
        F.count("*").alias("n_events"),
        exact_sum(F.col("value"), "total_value"),
    ).select(
        F.col("win.start").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


def session_rollup(df: DataFrame, watermark: str | None = None) -> DataFrame:
    """Session windows over ``ts`` (count + exact sum of ``value``):
    events for one ``user_id`` belong to one session while
    consecutive gaps stay under 30 minutes; a longer gap starts a new
    session. ``session_window``'s end is last_event + gap, so we emit
    the start plus aggregates (the stable, engine-independent part).
    """
    if watermark:
        df = df.withWatermark("ts", watermark)
    return df.groupBy(
        F.session_window("ts", "30 minutes").alias("win"), F.col("user_id")
    ).agg(
        F.count("*").alias("n_events"),
        exact_sum(F.col("value"), "total_value"),
    ).select(
        F.col("win.start").alias("session_start"),
        "user_id",
        "n_events",
        "total_value",
    )


def stream_exact_dedup(
    df: DataFrame,
    key_cols: list[str],
    watermark: str | None = None,
) -> DataFrame:
    """Streaming exact dedup: drop repeat keys across micro-batches.

    With a watermark, uses ``dropDuplicatesWithinWatermark`` — state
    holds only keys newer than the watermark horizon (bounded memory,
    the 100 TB-stream answer). Without one (or on a batch frame),
    plain ``dropDuplicates`` — unbounded state, test/batch use only.
    """
    if watermark and df.isStreaming:
        return df.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            key_cols
        )
    return df.dropDuplicates(key_cols)


def view_click_attribution_join(
    events: DataFrame, watermark: str | None = None
) -> DataFrame:
    """Stream-stream interval join (batch self-join twin): every
    (view, click) pair for one ``user_id`` where the click lands in
    (view_ts, view_ts + 30 minutes]. The canonical Structured Streaming
    stream-stream join shape: BOTH sides watermarked and the join
    condition time-bounded, so the state store retains only rows within
    watermark + 30 minutes — without the time bound, stream-stream join
    state grows forever.

    On batch frames the watermark is a no-op and the same plan is a
    range self-join — the oracle-paired batch twin
    (plans/streaming_queries.view_click_within_30m) anchors the
    semantics, the stream==batch parity test anchors the streaming
    execution.
    """
    views = events.filter(F.col("event_type") == "view").select(
        F.col("user_id"), F.col("ts").alias("view_ts")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("_c_user"), F.col("ts").alias("click_ts")
    )
    if watermark:
        views = views.withWatermark("view_ts", watermark)
        clicks = clicks.withWatermark("click_ts", watermark)
    cond = (
        (F.col("user_id") == F.col("_c_user"))
        & (F.col("click_ts") > F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr("interval 30 minutes"))
    )
    return views.join(clicks, cond, "inner").select(
        "user_id", "view_ts", "click_ts"
    )


def unconverted_views(
    events: DataFrame, watermark: str | None = None
) -> DataFrame:
    """Views with NO click inside (view_ts, view_ts + 30 minutes] for
    the same ``user_id`` — the abandonment side of the attribution join, and
    the stream-stream OUTER join shape: on a stream, Spark can only
    declare a view unconverted once the watermark has passed
    view_ts + 30 minutes (no earlier click can still arrive), so the
    null-matched rows flush as state expires — bounded state, late
    results by construction (exactly the semantics a funnel alert
    needs). Requires watermarks on BOTH sides for streaming; on batch
    frames the same plan is a plain left-anti-shaped outer join and
    pairs with the NOT EXISTS oracle
    (plans/streaming_queries.views_unconverted_30m).
    """
    views = events.filter(F.col("event_type") == "view").select(
        F.col("user_id"), F.col("ts").alias("view_ts")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("_c_user"), F.col("ts").alias("click_ts")
    )
    if watermark:
        views = views.withWatermark("view_ts", watermark)
        clicks = clicks.withWatermark("click_ts", watermark)
    cond = (
        (F.col("user_id") == F.col("_c_user"))
        & (F.col("click_ts") > F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr("interval 30 minutes"))
    )
    return (
        views.join(clicks, cond, "left_outer")
        .filter(F.col("click_ts").isNull())
        .select("user_id", "view_ts")
    )


def attribution_full_outer(
    events: DataFrame, watermark: str | None = None
) -> DataFrame:
    """The COMPLETE attribution picture in one relation — stream-stream
    FULL OUTER interval join: matched (view, click) pairs, views with
    no click in (view_ts, view_ts + 30 minutes] (click side NULL), and
    clicks with no preceding view in the window (view side NULL).
    Completes the join family next to the inner
    (:func:`view_click_attribution_join`) and left-outer
    (:func:`unconverted_views`) halves.

    Streaming semantics: Spark supports full-outer stream-stream joins
    when both sides are watermarked and the condition is time-bounded —
    each side's null-matched rows flush as the watermark passes the
    window end, exactly like the left-outer case but symmetric. On
    batch the same plan is a sort-merge full-outer with the interval
    predicate as join filter; user_id equality carries the shuffle, so
    there is never a cross product."""
    views = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("_v_user"), F.col("ts").alias("view_ts")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("_c_user"), F.col("ts").alias("click_ts")
    )
    if watermark:
        views = views.withWatermark("view_ts", watermark)
        clicks = clicks.withWatermark("click_ts", watermark)
    cond = (
        (F.col("_v_user") == F.col("_c_user"))
        & (F.col("click_ts") > F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr("interval 30 minutes"))
    )
    return views.join(clicks, cond, "full_outer").select(
        F.coalesce(F.col("_v_user"), F.col("_c_user")).alias("user_id"),
        "view_ts",
        "click_ts",
    )


def source_mixture_rollup(docs: DataFrame) -> DataFrame:
    """Per-ingest-batch source mixture: (batch_id, source) → doc count +
    whitespace-token count. The shared kernel behind the batch
    ``source_mixture_drift`` monitor and its streaming twin — documents
    carry no event time, so the arrival axis is the ingest order proxy
    ``doc_id div 200`` (exactly the micro-batch boundary a file
    stream over doc_id-ordered shards sees).

    Streaming-safe by construction: one projection + one grouped
    aggregation (no window-over, no ordering), so the same function runs
    under ``readStream`` in complete/update mode and incrementally
    maintains the mixture as shards land. At 100 TB this is the ONE
    corpus-sized pass; everything downstream (share, drift vs target)
    operates on the batches×sources-bounded rollup.
    """
    return (
        docs.select(
            F.floor(F.col("doc_id") / 200)
            .cast("bigint")
            .alias("batch_id"),
            F.col("source").alias("source"),
            F.size(F.split(F.col("text"), " ")).alias("_ntok"),
        )
        .groupBy("batch_id", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("_ntok").cast("bigint").alias("n_tokens"),
        )
    )
