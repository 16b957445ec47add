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


def with_event_time(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Normalize the event-time column (truncate to µs precision if the
    source delivered raw nanos as long — see sources/parquet_source)."""
    if dict(df.dtypes).get(ts_col) == "bigint":
        df = df.withColumn(ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000")))
    return df


def tumbling_rollup(
    df: DataFrame,
    window: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling event-time window: count + exact sum per (window, key).

    Batch twin of the reference's "refresh then re-aggregate" loop —
    with a stream source this maintains the same rollup incrementally
    instead of recomputing from scratch per refresh
    (/root/reference/tasks/visualization/src/visualization.py:226-233).
    """
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    return df.groupBy(
        F.window(ts_col, window).alias("win"), F.col(key_col)
    ).agg(
        F.count("*").alias("n_events"),
        exact_sum(F.col(value_col), "total_value"),
    ).select(
        F.col("win.start").alias("window_start"),
        key_col,
        "n_events",
        "total_value",
    )


def sliding_rollup(
    df: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    watermark: str | None = None,
) -> DataFrame:
    """Sliding event-time window — each event lands in window/slide
    overlapping windows; Spark expands them scan-side (no UDTF)."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    return df.groupBy(
        F.window(ts_col, window, slide).alias("win"), F.col(key_col)
    ).agg(
        F.count("*").alias("n_events"),
        exact_sum(F.col(value_col), "total_value"),
    ).select(
        F.col("win.start").alias("window_start"),
        key_col,
        "n_events",
        "total_value",
    )


def session_rollup(
    df: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    watermark: str | None = None,
) -> DataFrame:
    """Session windows: events for one key belong to one session while
    consecutive gaps stay < ``gap``; a gap ≥ ``gap`` starts a new
    session. ``session_window``'s end is last_event + gap, so we emit
    the start plus aggregates (the stable, engine-independent part).
    """
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    return df.groupBy(
        F.session_window(ts_col, gap).alias("win"), F.col(key_col)
    ).agg(
        F.count("*").alias("n_events"),
        exact_sum(F.col(value_col), "total_value"),
    ).select(
        F.col("win.start").alias("session_start"),
        key_col,
        "n_events",
        "total_value",
    )


def stream_exact_dedup(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Streaming exact dedup: drop repeat keys across micro-batches.

    With a watermark, uses ``dropDuplicatesWithinWatermark`` — state
    holds only keys newer than the watermark horizon (bounded memory,
    the 100 TB-stream answer). Without one (or on a batch frame),
    plain ``dropDuplicates`` — unbounded state, test/batch use only.
    """
    if watermark and df.isStreaming:
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            key_cols
        )
    return df.dropDuplicates(key_cols)


def view_click_attribution_join(
    events: DataFrame,
    within: str = "30 minutes",
    ts_col: str = "ts",
    user_col: str = "user_id",
    watermark: str | None = None,
) -> DataFrame:
    """Stream-stream interval join (batch self-join twin): every
    (view, click) pair for one user where the click lands in
    (view_ts, view_ts + ``within``]. The canonical Structured Streaming
    stream-stream join shape: BOTH sides watermarked and the join
    condition time-bounded, so the state store retains only rows within
    watermark + ``within`` — without the time bound, stream-stream join
    state grows forever.

    On batch frames the watermark is a no-op and the same plan is a
    range self-join — the oracle-paired batch twin
    (plans/streaming_queries.view_click_within_30m) anchors the
    semantics, the stream==batch parity test anchors the streaming
    execution.
    """
    views = events.filter(F.col("event_type") == "view").select(
        F.col(user_col), F.col(ts_col).alias("view_ts")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col(user_col).alias("_c_user"), F.col(ts_col).alias("click_ts")
    )
    if watermark:
        views = views.withWatermark("view_ts", watermark)
        clicks = clicks.withWatermark("click_ts", watermark)
    cond = (
        (F.col(user_col) == F.col("_c_user"))
        & (F.col("click_ts") > F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr(f"interval {within}"))
    )
    return views.join(clicks, cond, "inner").select(
        user_col, "view_ts", "click_ts"
    )


def unconverted_views(
    events: DataFrame,
    within: str = "30 minutes",
    ts_col: str = "ts",
    user_col: str = "user_id",
    watermark: str | None = None,
) -> DataFrame:
    """Views with NO click inside (view_ts, view_ts + ``within``] for
    the same user — the abandonment side of the attribution join, and
    the stream-stream OUTER join shape: on a stream, Spark can only
    declare a view unconverted once the watermark has passed
    view_ts + ``within`` (no earlier click can still arrive), so the
    null-matched rows flush as state expires — bounded state, late
    results by construction (exactly the semantics a funnel alert
    needs). Requires watermarks on BOTH sides for streaming; on batch
    frames the same plan is a plain left-anti-shaped outer join and
    pairs with the NOT EXISTS oracle
    (plans/streaming_queries.views_unconverted_30m).
    """
    views = events.filter(F.col("event_type") == "view").select(
        F.col(user_col), F.col(ts_col).alias("view_ts")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col(user_col).alias("_c_user"), F.col(ts_col).alias("click_ts")
    )
    if watermark:
        views = views.withWatermark("view_ts", watermark)
        clicks = clicks.withWatermark("click_ts", watermark)
    cond = (
        (F.col(user_col) == F.col("_c_user"))
        & (F.col("click_ts") > F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr(f"interval {within}"))
    )
    return (
        views.join(clicks, cond, "left_outer")
        .filter(F.col("click_ts").isNull())
        .select(user_col, "view_ts")
    )


def attribution_full_outer(
    events: DataFrame,
    within: str = "30 minutes",
    ts_col: str = "ts",
    user_col: str = "user_id",
    watermark: str | None = None,
) -> DataFrame:
    """The COMPLETE attribution picture in one relation — stream-stream
    FULL OUTER interval join: matched (view, click) pairs, views with
    no click in (view_ts, view_ts + ``within``] (click side NULL), and
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
        F.col(user_col).alias("_v_user"), F.col(ts_col).alias("view_ts")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col(user_col).alias("_c_user"), F.col(ts_col).alias("click_ts")
    )
    if watermark:
        views = views.withWatermark("view_ts", watermark)
        clicks = clicks.withWatermark("click_ts", watermark)
    cond = (
        (F.col("_v_user") == F.col("_c_user"))
        & (F.col("click_ts") > F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr(f"interval {within}"))
    )
    return views.join(clicks, cond, "full_outer").select(
        F.coalesce(F.col("_v_user"), F.col("_c_user")).alias(user_col),
        "view_ts",
        "click_ts",
    )


def source_mixture_rollup(
    docs: DataFrame,
    batch_size: int = 200,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-ingest-batch source mixture: (batch_id, source) → doc count +
    whitespace-token count. The shared kernel behind the batch
    ``source_mixture_drift`` monitor and its streaming twin — documents
    carry no event time, so the arrival axis is the ingest order proxy
    ``doc_id div batch_size`` (exactly the micro-batch boundary a file
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
            F.floor(F.col(id_col) / batch_size)
            .cast("bigint")
            .alias("batch_id"),
            F.col(source_col).alias("source"),
            F.size(F.split(F.col(text_col), " ")).alias("_ntok"),
        )
        .groupBy("batch_id", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("_ntok").cast("bigint").alias("n_tokens"),
        )
    )
