"""Window-analytic and time-series coverage: running totals, lag,
event-time bucketing, as-of attribution (SURVEY.md §2.5 extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from technical_test_data_engineer_spark.functions.scalars import dec, exact_sum
from technical_test_data_engineer_spark.operators.bounded import (
    collect_bounded,
    local_frame,
)
from technical_test_data_engineer_spark.operators.joins import asof_join
from technical_test_data_engineer_spark.operators.partitioning import (
    ordered_python_stage,
)
from technical_test_data_engineer_spark.plans.star_queries import _decsum, query
from technical_test_data_engineer_spark.sources.parquet_source import load_table


@query(
    "running_customer_spend",
    f"""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_spend
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
)
def running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative frame-spec window (rowsBetween) — decimal-path so the
    running sum is exact at every prefix, not just the total."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec(F.col("o_totalprice")))
        .over(w)
        .cast("double")
        .alias("running_spend"),
    ).orderBy("o_custkey", "o_orderkey")


@query(
    "order_gap_days",
    """
    SELECT o_custkey, o_orderkey,
           CAST(DATEDIFF('day',
               LAG(o_orderdate) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               o_orderdate) AS BIGINT) AS gap_days
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
)
def order_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG analytic window: days since the customer's previous order
    (null for the first)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff("o_orderdate", prev).cast("bigint").alias("gap_days"),
    ).orderBy("o_custkey", "o_orderkey")


@query(
    "events_hourly_rollup",
    f"""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
           event_type,
           COUNT(*) AS n_events,
           {_decsum('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling bucket aggregate — the batch twin of the
    streaming layer's windowed aggregation (SURVEY.md §2.10/§7 Phase 4);
    both share this groupBy(date_trunc) shape."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            exact_sum(F.col("value"), "total_value"),
        )
        .orderBy("hour_start", "event_type")
    )


@query(
    "asof_click_attribution",
    """
    SELECT c.event_id, CAST(c.ts AS TIMESTAMP) AS click_ts, c.user_id,
           v.view_event_id
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (
        SELECT user_id, ts AS view_ts, event_id AS view_event_id
        FROM events WHERE event_type = 'view'
    ) v ON c.user_id = v.user_id AND v.view_ts <= c.ts
    ORDER BY c.event_id
    """,
)
def asof_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/joins.asof_join): each click attributed to
    the user's latest prior-or-simultaneous view. DuckDB expresses this
    natively (ASOF JOIN); Spark lacks it — the engine's union+window
    composition is the scale-safe equivalent (one shuffle on user_id)."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_event_id"),
    )
    out = asof_join(clicks, views, on="user_id", left_ts="ts", right_ts="view_ts")
    return out.select(
        "event_id",
        F.col("ts").alias("click_ts"),
        "user_id",
        "view_event_id",
    ).orderBy("event_id")


@query(
    "events_campaign_attribution",
    """
    WITH campaigns AS (
        SELECT CAST(w AS INTEGER) AS campaign_id,
               TIMESTAMP '2024-01-01 00:00:00' + w * INTERVAL 1 DAY AS start_ts,
               TIMESTAMP '2024-01-01 00:00:00' + (w + 3) * INTERVAL 1 DAY
                   AS end_ts
        FROM (SELECT UNNEST(GENERATE_SERIES(0, 29)) AS w)
    )
    SELECT campaign_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS total_value
    FROM events JOIN campaigns
      ON ts >= start_ts AND ts <= end_ts
    GROUP BY campaign_id
    ORDER BY campaign_id
    """,
)
def events_campaign_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join: events attributed to every overlapping
    3-day campaign window (operators/joins.range_join). The campaign dim
    is tiny → broadcast-nested-loop with the range predicate; an event
    matches ≤3 overlapping windows (stride 1 day). At fact×fact scale
    the documented upgrade is bucketizing both sides to a coarse grid
    key so the range predicate rides an equi-join."""
    from technical_test_data_engineer_spark.operators.joins import range_join

    events = load_table(spark, sf_dir, "events")
    campaigns = spark.range(30).select(
        F.col("id").cast("int").alias("campaign_id"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.col("id") * F.expr("INTERVAL 1 DAY")
        ).alias("start_ts"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + (F.col("id") + 3) * F.expr("INTERVAL 1 DAY")
        ).alias("end_ts"),
    )
    joined = range_join(events, campaigns, "ts", "start_ts", "end_ts")
    return (
        joined.groupBy("campaign_id")
        .agg(
            F.count("*").alias("n_events"),
            exact_sum(F.col("value"), "total_value"),
        )
        .orderBy("campaign_id")
    )


@query(
    "customer_value_ranks",
    """
    SELECT c_custkey, c_mktsegment, c_acctbal,
           CAST(RANK() OVER w AS BIGINT) AS bal_rank,
           CAST(DENSE_RANK() OVER w AS BIGINT) AS bal_dense_rank,
           ROUND(PERCENT_RANK() OVER w, 9) AS bal_pct_rank,
           ROUND(CUME_DIST() OVER w, 9) AS bal_cume_dist,
           FIRST_VALUE(c_custkey) OVER w AS poorest_custkey
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal ASC, c_custkey ASC)
    ORDER BY c_mktsegment, bal_rank, c_custkey
    """,
)
def customer_value_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-rank battery per segment: rank / dense_rank /
    percent_rank / cume_dist / first_value in ONE window spec — one
    shuffle on the partition key, all five functions evaluated in a
    single streaming pass over each sorted partition. Fractions rounded
    to 9 dp (both engines compute (rank-1)/(n-1) in double)."""
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.asc("c_acctbal"), F.asc("c_custkey")
    )
    return customer.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.rank().over(w).cast("bigint").alias("bal_rank"),
        F.dense_rank().over(w).cast("bigint").alias("bal_dense_rank"),
        F.round(F.percent_rank().over(w), 9).alias("bal_pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("bal_cume_dist"),
        F.first("c_custkey").over(w).alias("poorest_custkey"),
    ).orderBy("c_mktsegment", "bal_rank", "c_custkey")


@query(
    "events_gapfilled_hourly",
    """
    WITH hourly AS (
        SELECT DATE_TRUNC('hour', ts) AS hour,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*)
                   AS avg_value
        FROM events WHERE event_type = 'error'
        GROUP BY 1
    ),
    spine AS (
        SELECT UNNEST(GENERATE_SERIES(
            (SELECT MIN(hour) FROM hourly),
            (SELECT MAX(hour) FROM hourly),
            INTERVAL 1 HOUR)) AS hour
    ),
    joined AS (
        SELECT s.hour, h.n_events, h.avg_value,
               LAST_VALUE(h.avg_value IGNORE NULLS) OVER (
                   ORDER BY s.hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS prev_v,
               FIRST_VALUE(h.avg_value IGNORE NULLS) OVER (
                   ORDER BY s.hour
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ) AS next_v,
               LAST_VALUE(CASE WHEN h.avg_value IS NOT NULL THEN s.hour END
                          IGNORE NULLS) OVER (
                   ORDER BY s.hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS prev_h,
               FIRST_VALUE(CASE WHEN h.avg_value IS NOT NULL THEN s.hour END
                           IGNORE NULLS) OVER (
                   ORDER BY s.hour
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ) AS next_h
        FROM spine s LEFT JOIN hourly h USING (hour)
    )
    SELECT hour,
           CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
           ROUND(CASE
               WHEN avg_value IS NOT NULL THEN avg_value
               WHEN prev_v IS NULL THEN next_v
               WHEN next_v IS NULL THEN prev_v
               ELSE prev_v + (next_v - prev_v)
                    * (CAST(DATE_DIFF('hour', prev_h, hour) AS DOUBLE)
                       / CAST(DATE_DIFF('hour', prev_h, next_h) AS DOUBLE))
           END, 9) AS avg_value_filled
    FROM joined
    ORDER BY hour
    """,
)
def events_gapfilled_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap fill: hourly 'error' series on a full
    hour spine; missing hours get count 0 and a LINEARLY INTERPOLATED
    value between the nearest observed neighbors (boundary gaps take
    the nearest value). The last/first IGNORE-NULLS window pair is the
    standard forward/backward-fill primitive; interpolation weights by
    hour distance. Single global window here (one series, 721 rows) —
    ``events_gapfilled_by_type`` is the partitioned many-series form.
    The spine derives from the aggregate's min/max row entirely in-plan
    (explode over a 1-row frame — no driver collect, and an empty
    filtered series yields an empty result instead of a parse error).
    Rounded to 9 dp: the interpolation is pure double arithmetic,
    structured identically in the oracle."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "error"
    )
    return _gapfilled_hourly(events, [])


def _gapfilled_hourly(events: DataFrame, keys: list[str]) -> DataFrame:
    """Hourly (count, average value) per series — one series per value
    of ``keys``, a single series when ``keys`` is empty — on a full hour
    spine from each series' own min to max hour: missing hours get
    count 0 and a value linearly interpolated between the nearest
    observed neighbors (boundary gaps take the nearest value), rounded
    to 9 dp. Every window is partitioned by ``keys``. Ordered by
    ``keys``, then hour."""
    from pyspark import StorageLevel

    # persist: the hourly aggregate feeds both the spine bounds and the
    # join side — without it the events scan + agg run twice
    hourly = events.groupBy(*keys, F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count("*").alias("n_events"),
        (
            exact_sum(F.col("value"))
            / F.count("*")
        ).alias("avg_value"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    spine = (
        hourly.groupBy(*keys)
        .agg(F.min("hour").alias("_lo"), F.max("hour").alias("_hi"))
        .select(
            *keys,
            F.explode(
                F.sequence("_lo", "_hi", F.expr("interval 1 hour"))
            ).alias("hour"),
        )
    )
    joined = spine.join(hourly, [*keys, "hour"], "left")
    w_prev = (
        Window.partitionBy(*keys)
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy(*keys)
        .orderBy("hour")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_hour = F.when(F.col("avg_value").isNotNull(), F.col("hour"))
    prev_v = F.last("avg_value", ignorenulls=True).over(w_prev)
    next_v = F.first("avg_value", ignorenulls=True).over(w_next)
    prev_h = F.last(obs_hour, ignorenulls=True).over(w_prev)
    next_h = F.first(obs_hour, ignorenulls=True).over(w_next)
    hours_between = lambda a, b: (  # noqa: E731
        (F.unix_timestamp(b) - F.unix_timestamp(a)) / 3600
    ).cast("double")
    interp = (
        F.when(F.col("avg_value").isNotNull(), F.col("avg_value"))
        .when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        .otherwise(
            prev_v
            + (next_v - prev_v)
            * (hours_between(prev_h, F.col("hour")) / hours_between(prev_h, next_h))
        )
    )
    return joined.select(
        *keys,
        "hour",
        F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
        F.round(interp, 9).alias("avg_value_filled"),
    ).orderBy(*keys, "hour")


@query(
    "events_gapfilled_by_type",
    """
    WITH hourly AS (
        SELECT event_type, DATE_TRUNC('hour', ts) AS hour,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*)
                   AS avg_value
        FROM events
        GROUP BY 1, 2
    ),
    spine AS (
        SELECT event_type,
               UNNEST(GENERATE_SERIES(lo, hi, INTERVAL 1 HOUR)) AS hour
        FROM (
            SELECT event_type, MIN(hour) AS lo, MAX(hour) AS hi
            FROM hourly GROUP BY 1
        )
    ),
    joined AS (
        SELECT s.event_type, s.hour, h.n_events, h.avg_value,
               LAST_VALUE(h.avg_value IGNORE NULLS) OVER (
                   PARTITION BY s.event_type ORDER BY s.hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS prev_v,
               FIRST_VALUE(h.avg_value IGNORE NULLS) OVER (
                   PARTITION BY s.event_type ORDER BY s.hour
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ) AS next_v,
               LAST_VALUE(CASE WHEN h.avg_value IS NOT NULL THEN s.hour END
                          IGNORE NULLS) OVER (
                   PARTITION BY s.event_type ORDER BY s.hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS prev_h,
               FIRST_VALUE(CASE WHEN h.avg_value IS NOT NULL THEN s.hour END
                           IGNORE NULLS) OVER (
                   PARTITION BY s.event_type ORDER BY s.hour
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ) AS next_h
        FROM spine s LEFT JOIN hourly h
          ON s.event_type = h.event_type AND s.hour = h.hour
    )
    SELECT event_type, hour,
           CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
           ROUND(CASE
               WHEN avg_value IS NOT NULL THEN avg_value
               WHEN prev_v IS NULL THEN next_v
               WHEN next_v IS NULL THEN prev_v
               ELSE prev_v + (next_v - prev_v)
                    * (CAST(DATE_DIFF('hour', prev_h, hour) AS DOUBLE)
                       / CAST(DATE_DIFF('hour', prev_h, next_h) AS DOUBLE))
           END, 9) AS avg_value_filled
    FROM joined
    ORDER BY event_type, hour
    """,
)
def events_gapfilled_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-series gap fill — the form a real pipeline hits first
    (round-2 verdict item 5): one spine PER SERIES KEY (event_type),
    derived from each series' own min/max hour entirely in-plan (agg →
    explode(sequence) — no driver collect), and every window PARTITIONED
    by the series key, so series fill in parallel and no executor ever
    holds more than one series' frame. Interpolation semantics are
    identical to events_gapfilled_hourly."""
    return _gapfilled_hourly(load_table(spark, sf_dir, "events"), ["event_type"])


@query(
    "user_conversion_funnel",
    """
    WITH firsts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events
        GROUP BY user_id
    )
    SELECT
        COUNT(*) AS n_users,
        CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS viewed,
        CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                 THEN 1 ELSE 0 END) AS BIGINT) AS clicked_after_view,
        CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                      AND t_purchase > t_click
                 THEN 1 ELSE 0 END) AS BIGINT) AS purchased_after_click
    FROM firsts
    """,
)
def user_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: per user, FIRST occurrence of each
    step (conditional MIN — one pass, no per-step scan), then strict
    event-time ordering view < click < purchase. The standard product-
    analytics shape: one shuffle on user_id, funnel logic entirely in
    the aggregate row."""
    events = load_table(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    firsts = events.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    as_cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    return firsts.agg(
        F.count("*").alias("n_users"),
        as_cnt(viewed).alias("viewed"),
        as_cnt(clicked).alias("clicked_after_view"),
        as_cnt(purchased).alias("purchased_after_click"),
    )


@query(
    "weekly_retention_cohorts",
    """
    WITH user_weeks AS (
        SELECT DISTINCT user_id,
               CAST(DATE_TRUNC('week', ts) AS TIMESTAMP) AS week
        FROM events
    ),
    cohorts AS (
        SELECT user_id, MIN(week) AS cohort_week FROM user_weeks GROUP BY user_id
    )
    SELECT c.cohort_week,
           CAST(DATE_DIFF('week', c.cohort_week, w.week) AS INTEGER)
               AS weeks_since,
           COUNT(*) AS n_active
    FROM cohorts c JOIN user_weeks w USING (user_id)
    GROUP BY 1, 2
    ORDER BY cohort_week, weeks_since
    """,
)
def weekly_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort triangle: users grouped by first-active week,
    counted in each later week they return. Two aggregations over one
    distinct (user, week) relation — the cohort join is on user_id and
    reuses the dedup shuffle's partitioning. The denominator for rate
    curves is the weeks_since=0 row of each cohort."""
    from pyspark import StorageLevel

    events = load_table(spark, sf_dir, "events")
    # persist: the distinct (user, week) relation feeds both the cohort
    # aggregate and the join side — without it the events scan + dedup
    # shuffle run twice
    user_weeks = (
        events.select("user_id", F.date_trunc("week", "ts").alias("week"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cohorts = user_weeks.groupBy("user_id").agg(
        F.min("week").alias("cohort_week")
    )
    return (
        user_weeks.join(cohorts, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff(F.col("week"), F.col("cohort_week")) / 7
            ).cast("int").alias("weeks_since"),
        )
        .agg(F.count("*").alias("n_active"))
        .orderBy("cohort_week", "weeks_since")
    )


@query(
    "user_type_scd2",
    """
    WITH e AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        FROM events WHERE user_id % 25 = 0
    ),
    d AS (
        SELECT *,
               LAG(event_type) OVER w AS prev,
               LAG(1) OVER w AS notfirst
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    ch AS (
        SELECT user_id, event_id, ts, event_type FROM d
        WHERE notfirst IS NULL OR prev IS DISTINCT FROM event_type
    )
    SELECT user_id,
           event_type,
           ts AS valid_from,
           LEAD(ts) OVER w2 AS valid_to,
           LEAD(ts) OVER w2 IS NULL AS is_current,
           CAST(ROW_NUMBER() OVER w2 AS INT) AS version
    FROM ch WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, valid_from
    """,
)
def user_type_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type 2 (``sources.maintenance.scd2_from_changelog``): the
    event stream collapsed into per-user event_type validity intervals
    — consecutive repeats merge into one versioned row, NULL upper
    bound marks the current state. One shuffle on user_id serves both
    window passes (change detection + interval assembly); the oracle
    recomputes the same lag/lead pipeline with IS DISTINCT FROM
    null-safe semantics. The %25 key filter bounds the proof's output,
    pushed to the scan on both sides."""
    from technical_test_data_engineer_spark.sources.maintenance import (
        scd2_from_changelog,
    )

    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 25 == 0
    )
    return scd2_from_changelog(
        events.select("user_id", "event_id", "ts", "event_type"),
        key_cols=["user_id"],
        ts_col="ts",
        attr_cols=["event_type"],
        tiebreak="event_id",
    ).orderBy("user_id", "valid_from")


@query(
    "event_value_outliers",
    """
    WITH med AS (
        SELECT event_type,
               PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY value) AS m
        FROM events GROUP BY event_type
    ),
    mad AS (
        SELECT e.event_type,
               PERCENTILE_CONT(0.5) WITHIN GROUP (
                   ORDER BY ABS(e.value - med.m)
               ) AS md
        FROM events e JOIN med USING (event_type)
        GROUP BY e.event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           (e.value - med.m) / (1.4826 * mad.md) AS robust_z
    FROM events e
    JOIN med USING (event_type)
    JOIN mad USING (event_type)
    WHERE ABS(e.value - med.m) / (1.4826 * mad.md) > 3.5
    ORDER BY e.event_id
    """,
)
def event_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier gate — median/MAD z-score (the
    data-cleaning screen that, unlike mean/stddev, is not dragged by
    the outliers it hunts): flag events whose value sits >3.5 robust
    sigmas from its type's median. Two tiny keyed aggs (exact
    interpolated ``percentile`` ≡ PERCENTILE_CONT, the
    doc_above_lang_median convention) broadcast back onto one corpus
    scan — thresholds are per-type scalars, so the filter is scan-side
    at any scale."""
    events = load_table(spark, sf_dir, "events")
    med = events.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("m")
    )
    dev = events.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type").agg(
        F.percentile(F.abs(F.col("value") - F.col("m")), F.lit(0.5)).alias("md")
    )
    z = (F.col("value") - F.col("m")) / (F.lit(1.4826) * F.col("md"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.abs(F.col("value") - F.col("m")) / (F.lit(1.4826) * F.col("md")) > 3.5)
        .select("event_id", "event_type", "value", z.alias("robust_z"))
        .orderBy("event_id")
    )


@query(
    "user_value_ewma",
    """
    WITH RECURSIVE e AS (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
               ) AS rn
        FROM events WHERE user_id % 25 = 0
    ),
    r(user_id, event_id, value, rn, ewma) AS (
        SELECT user_id, event_id, value, rn, value FROM e WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.event_id, e.value, e.rn,
               0.3 * e.value + 0.7 * r.ewma
        FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1
    )
    SELECT user_id, event_id, value, ewma
    FROM r ORDER BY user_id, event_id
    """,
)
def user_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values (α=0.3) — the sequential
    recurrence no window frame expresses, run on the grouped-map
    ``applyInPandas`` surface (``operators.windows.grouped_ewma``) and
    value-checked against a recursive-CTE oracle stepping the
    IDENTICAL float64 ops: the first oracle-paired proof that the
    engine's Python-stateful path is bit-reproducible, not just
    row-countable. The %25 key filter bounds the proof output;
    order is (event time, event_id) — fully deterministic."""
    from technical_test_data_engineer_spark.operators.windows import grouped_ewma

    events = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 25 == 0)
        .select("user_id", "event_id", "ts", "value")
    )
    return ordered_python_stage(
        events,
        lambda ev: grouped_ewma(
            ev, ["user_id"], ["ts", "event_id"], "value", alpha=0.3
        ).select("user_id", "event_id", "value", "ewma"),
        ["user_id", "event_id"],
    )


@query(
    "view_click_dwell_overlaps",
    """
    WITH v AS (
        SELECT event_id AS view_id, user_id,
               CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS vs,
               CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
                   + value * 300 AS ve
        FROM events WHERE event_type = 'view'
    ),
    c AS (
        SELECT event_id AS click_id, user_id,
               CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS cs,
               CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
                   + value * 300 AS ce
        FROM events WHERE event_type = 'click'
    )
    SELECT v.user_id, view_id, click_id,
           LEAST(ve, ce) - GREATEST(vs, cs) AS overlap_sec
    FROM v JOIN c ON v.user_id = c.user_id
    WHERE vs <= ce AND cs <= ve
    ORDER BY view_id, click_id
    """,
)
def view_click_dwell_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join (``operators.joins.overlap_join``)
    — view dwell windows overlapping click dwell windows per user
    ([ts, ts + value×300 s]). Fact×fact interval matching: the
    inequality-only formulation the oracle runs is a nested loop, but
    the operator decomposes each interval into 6-hour grid cells so the
    join is hash (cell, user_id) with a residual filter, each
    qualifying pair surviving in exactly the cell of its later start
    (no dedup shuffle). overlap_sec is the matched pairs' dwell
    intersection."""
    from technical_test_data_engineer_spark.operators.joins import overlap_join

    ev = load_table(spark, sf_dir, "events")
    # unix_timestamp, not a raw cast: TIMESTAMP_NTZ won't ANSI-cast to
    # long. A session-timezone offset shifts BOTH interval sets equally,
    # and the join condition + overlap_sec are shift-invariant, so the
    # result matches the oracle's UTC epochs in any session timezone.
    epoch = F.unix_timestamp(F.col("ts"))
    base = ev.select(
        "event_id",
        "user_id",
        "event_type",
        epoch.alias("s"),
        (epoch + F.col("value") * 300).alias("e"),
    )
    v = base.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("s").alias("vs"),
        F.col("e").alias("ve"),
    )
    c = base.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("_cu"),
        F.col("s").alias("cs"),
        F.col("e").alias("ce"),
    )
    joined = overlap_join(
        v,
        c.withColumnRenamed("_cu", "user_id"),
        "vs", "ve", "cs", "ce",
        bucket_width=21600,
        equi_keys=["user_id"],
    )
    return joined.select(
        "user_id",
        "view_id",
        "click_id",
        (F.least("ve", "ce") - F.greatest("vs", "cs")).alias("overlap_sec"),
    ).orderBy("view_id", "click_id")


@query(
    "orders_cdc_merge",
    """
    WITH base AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 4 <> 3
    ),
    ch AS (
        SELECT o_orderkey, o_orderstatus,
               o_totalprice * 1.1 AS o_totalprice,
               1 AS seq, 'U' AS op
        FROM orders WHERE o_orderkey % 2 = 1
        UNION ALL
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 6 = 3
                    THEN o_totalprice * 1.2 ELSE o_totalprice END,
               2, CASE WHEN o_orderkey % 6 = 1 THEN 'D' ELSE 'U' END
        FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey % 6 IN (1, 3)
    ),
    latest AS (
        SELECT * FROM ch QUALIFY ROW_NUMBER() OVER (
            PARTITION BY o_orderkey ORDER BY seq DESC
        ) = 1
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM base
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM latest)
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM latest
    WHERE op <> 'D'
    ORDER BY o_orderkey
    """,
)
def orders_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog apply (``sources.maintenance.apply_changelog``):
    a synthetic multi-version changelog — every odd key gets a v1
    price-bump upsert, keys ≡1 (mod 6) a v2 delete, keys ≡3 (mod 6) a
    v2 second upsert — collapsed latest-wins onto a base snapshot that
    is missing the ≡3 (mod 4) keys, so the result exercises all four
    MERGE outcomes at once: untouched survivors, updated rows,
    inserted new keys, and deleted keys. The changelog alone is
    windowed (top-1-per-key by seq); the snapshot moves through a
    single anti-join shuffle. Oracle recomputes the identical
    changelog and QUALIFY-collapses it."""
    from technical_test_data_engineer_spark.sources.maintenance import (
        apply_changelog,
    )

    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    base = orders.filter(k % 4 != 3).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    odd = orders.filter(k % 2 == 1)
    v1 = odd.select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
    )
    v2 = odd.filter((k % 6).isin(1, 3)).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(k % 6 == 3, F.col("o_totalprice") * 1.2)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        F.lit(2).alias("seq"),
        F.when(k % 6 == 1, F.lit("D")).otherwise(F.lit("U")).alias("op"),
    )
    merged = apply_changelog(
        base, v1.unionByName(v2), ["o_orderkey"], "seq"
    )
    return merged.orderBy("o_orderkey")


@query(
    "incremental_daily_revenue",
    f"""
    SELECT CAST(o_orderdate AS DATE) AS day,
           COUNT(*) AS n_orders,
           {_decsum('o_totalprice')} AS revenue
    FROM orders
    GROUP BY 1
    ORDER BY 1
    """,
)
def incremental_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance
    (``sources.maintenance.merge_partial_aggs``): the daily revenue
    aggregate is built as a STORED snapshot of pre-1997 partials plus a
    1997+ delta batch, merged by re-summing partials — the incremental
    refresh pattern that avoids re-scanning history. Partials stay in
    decimal through the merge so the algebraic identity is exact; the
    oracle is the full one-pass recompute over all orders, which the
    merged result must equal to the last bit (THE correctness statement
    for incremental view maintenance)."""
    from technical_test_data_engineer_spark.sources.maintenance import (
        merge_partial_aggs,
    )

    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("date")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(F.to_date("o_orderdate").alias("day")).agg(
            F.count("*").alias("n_orders"),
            F.sum(dec(F.col("o_totalprice"))).alias(
                "revenue"
            ),
        )

    snap = partials(orders.filter(F.to_date("o_orderdate") < cutoff))
    delta = partials(orders.filter(F.to_date("o_orderdate") >= cutoff))
    merged = merge_partial_aggs(snap, delta, ["day"], ["n_orders", "revenue"])
    return merged.select(
        "day",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("revenue").cast("double").alias("revenue"),
    ).orderBy("day")


@query(
    "monthly_from_daily_rollup",
    f"""
    SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month,
           COUNT(*) AS n_orders,
           {_decsum('o_totalprice')} AS revenue
    FROM orders
    GROUP BY 1
    ORDER BY 1
    """,
)
def monthly_from_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation-tree consistency
    (the ``merge_partial_aggs`` identity one level up): the MONTHLY
    rollup is derived from the materialized DAILY partials
    — never from the fact table — and must equal the direct monthly
    recompute (the oracle) exactly. This is the warehouse aggregate-
    tree pattern: day feeds month feeds year, each level re-summing
    the level below's decimal partials, so a year-end query touches
    365 rows instead of the fact table. Shares the daily derivation
    with incremental_daily_revenue."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count("*").alias("n_orders"),
        F.sum(dec(F.col("o_totalprice"))).alias("revenue"),
    )
    monthly = (
        daily.withColumn("month", F.trunc("day", "month"))
        .groupBy("month")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("revenue").alias("revenue"),
        )
    )
    return monthly.select(
        "month",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("revenue").cast("double").alias("revenue"),
    ).orderBy("month")


@query(
    "purchase_touch_attribution",
    """
    WITH p AS (
        SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS pts,
               value
        FROM events WHERE event_type = 'purchase'
    ),
    t AS (
        SELECT event_id AS touch_id, user_id, CAST(ts AS TIMESTAMP) AS tts,
               event_type
        FROM events WHERE event_type IN ('view', 'click')
    ),
    j AS (
        SELECT p.purchase_id, p.user_id, p.value, t.touch_id, t.event_type
        FROM p JOIN t
          ON t.user_id = p.user_id
         AND t.tts < p.pts
         AND t.tts >= p.pts - INTERVAL 2 HOUR
    )
    SELECT purchase_id, touch_id, event_type,
           value / (COUNT(*) OVER (PARTITION BY purchase_id)) AS credit
    FROM j
    ORDER BY purchase_id, touch_id
    """,
)
def purchase_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every view/click in the 2 hours
    before a purchase shares the purchase value equally — the
    marketing-analytics allocation the last-touch as-of join
    (asof_click_attribution) is the degenerate case of. Shape: one
    user-keyed interval join (time-bounded, so stream-capable with
    watermarks) + one per-purchase count window over the touch set —
    credit normalization never rescans the events. The oracle repeats
    the join and the window division; value/COUNT in double is the
    identical single op both engines."""
    events = load_table(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("_pu"),
        F.col("ts").alias("pts"),
        "value",
    )
    t = events.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("touch_id"),
        F.col("user_id"),
        F.col("ts").alias("tts"),
        "event_type",
    )
    j = t.join(
        p.withColumnRenamed("_pu", "user_id"),
        ["user_id"],
    ).filter(
        (F.col("tts") < F.col("pts"))
        & (F.col("tts") >= F.col("pts") - F.expr("interval 2 hours"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("purchase_id")
    return j.select(
        "purchase_id",
        "touch_id",
        "event_type",
        (F.col("value") / F.count("*").over(w)).alias("credit"),
    ).orderBy("purchase_id", "touch_id")


@query(
    "event_value_ab_test",
    """
    WITH g AS (
        SELECT event_type,
               user_id % 2 = 0 AS in_a,
               value
        FROM events
    ),
    s AS (
        SELECT event_type,
               COUNT(*) FILTER (WHERE in_a) AS n_a,
               COUNT(*) FILTER (WHERE NOT in_a) AS n_b,
               CAST(SUM(CAST(value AS DECIMAL(30,10))) FILTER (WHERE in_a)
                    AS DOUBLE) AS sum_a,
               CAST(SUM(CAST(value AS DECIMAL(30,10))) FILTER (WHERE NOT in_a)
                    AS DOUBLE) AS sum_b,
               CAST(SUM(CAST(value * value AS DECIMAL(30,10)))
                    FILTER (WHERE in_a) AS DOUBLE) AS ss_a,
               CAST(SUM(CAST(value * value AS DECIMAL(30,10)))
                    FILTER (WHERE NOT in_a) AS DOUBLE) AS ss_b
        FROM g GROUP BY event_type
    )
    SELECT event_type,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           sum_a / n_a - sum_b / n_b AS mean_diff,
           (sum_a / n_a - sum_b / n_b)
           / SQRT(
               ((ss_a - sum_a * sum_a / n_a) / (n_a - 1)) / n_a
               + ((ss_b - sum_b * sum_b / n_b) / (n_b - 1)) / n_b
             ) AS welch_t
    FROM s
    ORDER BY event_type
    """,
)
def event_value_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t statistic per event type between the
    even/odd-user split — the experiment-analysis readout (unequal
    variances assumed, the safe default). One conditional-aggregation
    pass computes both arms' count/sum/sum-of-squares simultaneously
    (sufficient statistics — the map-side-combinable form every
    distributed A/B platform reduces to); moments accumulate in
    decimal so the variance subtraction doesn't cancel
    catastrophically, and the final t arithmetic runs in double in the
    same operation order as the oracle."""
    events = load_table(spark, sf_dir, "events")
    in_a = F.col("user_id") % 2 == 0
    s = events.groupBy("event_type").agg(
        F.count(F.when(in_a, 1)).alias("n_a"),
        F.count(F.when(~in_a, 1)).alias("n_b"),
        F.sum(F.when(in_a, dec(F.col("value")))).cast("double").alias("sum_a"),
        F.sum(F.when(~in_a, dec(F.col("value")))).cast("double").alias("sum_b"),
        F.sum(F.when(in_a, dec(F.col("value") * F.col("value"))))
        .cast("double")
        .alias("ss_a"),
        F.sum(F.when(~in_a, dec(F.col("value") * F.col("value"))))
        .cast("double")
        .alias("ss_b"),
    )
    mean_diff = F.col("sum_a") / F.col("n_a") - F.col("sum_b") / F.col("n_b")
    var_a = (F.col("ss_a") - F.col("sum_a") * F.col("sum_a") / F.col("n_a")) / (
        F.col("n_a") - 1
    )
    var_b = (F.col("ss_b") - F.col("sum_b") * F.col("sum_b") / F.col("n_b")) / (
        F.col("n_b") - 1
    )
    return s.select(
        "event_type",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        mean_diff.alias("mean_diff"),
        (
            mean_diff
            / F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b"))
        ).alias("welch_t"),
    ).orderBy("event_type")


@query(
    "event_value_ks_drift",
    """
    WITH g AS (
        SELECT CAST(value AS DOUBLE) AS v,
               DAYOFMONTH(CAST(ts AS TIMESTAMP)) % 2 = 0 AS in_a
        FROM events
    ),
    tot AS (
        SELECT COUNT(*) FILTER (WHERE in_a) AS n_a,
               COUNT(*) FILTER (WHERE NOT in_a) AS n_b
        FROM g
    ),
    pv AS (
        SELECT v,
               COUNT(*) FILTER (WHERE in_a) AS c_a,
               COUNT(*) FILTER (WHERE NOT in_a) AS c_b
        FROM g GROUP BY v
    ),
    cdf AS (
        SELECT v,
               SUM(c_a) OVER (ORDER BY v) / CAST(t.n_a AS DOUBLE) AS f_a,
               SUM(c_b) OVER (ORDER BY v) / CAST(t.n_b AS DOUBLE) AS f_b
        FROM pv CROSS JOIN tot t
    )
    SELECT MAX(ABS(f_a - f_b)) AS ks_stat,
           (SELECT CAST(n_a AS BIGINT) FROM tot) AS n_a,
           (SELECT CAST(n_b AS BIGINT) FROM tot) AS n_b
    FROM cdf
    """,
)
def event_value_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between even- and
    odd-day event values — the non-parametric numeric-drift monitor
    beside corpus_drift_psi's categorical one: max gap between the two
    empirical CDFs, computed by collapsing the stream to per-distinct-
    value counts for BOTH samples in one conditional-aggregation pass,
    then one ordered prefix-sum over the (small) distinct-value
    relation. The global ordering window runs over distinct values,
    not events — the shape that keeps an exact KS feasible when the
    raw stream is 100 TB but its value domain is not; for unbounded
    domains you bin first (the histogram-sketch trade)."""
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    g = events.select(
        F.col("value").cast("double").alias("v"),
        (F.dayofmonth("ts") % 2 == 0).alias("in_a"),
    )
    tot = g.agg(
        F.count(F.when(F.col("in_a"), 1)).alias("n_a"),
        F.count(F.when(~F.col("in_a"), 1)).alias("n_b"),
    )
    pv = g.groupBy("v").agg(
        F.count(F.when(F.col("in_a"), 1)).alias("c_a"),
        F.count(F.when(~F.col("in_a"), 1)).alias("c_b"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cdf = pv.crossJoin(F.broadcast(tot)).select(
        (F.sum("c_a").over(w) / F.col("n_a").cast("double")).alias("f_a"),
        (F.sum("c_b").over(w) / F.col("n_b").cast("double")).alias("f_b"),
        "n_a",
        "n_b",
    )
    return cdf.agg(
        F.max(F.abs(F.col("f_a") - F.col("f_b"))).alias("ks_stat"),
        F.first("n_a").cast("bigint").alias("n_a"),
        F.first("n_b").cast("bigint").alias("n_b"),
    )


@query(
    "customer_rfm_segments",
    f"""
    WITH base AS (
        SELECT o_custkey AS custkey,
               MAX(CAST(o_orderdate AS DATE)) AS last_order,
               COUNT(*) AS frequency,
               {_decsum('o_totalprice')} AS monetary
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT custkey,
               CAST(NTILE(5) OVER (ORDER BY last_order, custkey) AS INT) AS r,
               CAST(NTILE(5) OVER (ORDER BY frequency, custkey) AS INT) AS f,
               CAST(NTILE(5) OVER (ORDER BY monetary, custkey) AS INT) AS m
        FROM base
    )
    SELECT r, f, m,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM scored
    GROUP BY r, f, m
    ORDER BY r, f, m
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every customer scored 1-5 on Recency,
    Frequency and Monetary via NTILE quintiles (deterministic custkey
    tiebreak inside each ordering), then the 125-cell segment census —
    the marketing-CRM workhorse. Shape: one keyed aggregate collapses
    the fact table to one row per customer; the three ranking windows
    run over that customer-sized relation (a deliberate global sort of
    dimension-scale data, same note as the vocab rankings), and the
    census is a tiny final aggregate. Oracle repeats aggregate →
    NTILE → census."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    base = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.to_date("o_orderdate")).alias("last_order"),
        F.count("*").alias("frequency"),
        exact_sum(F.col("o_totalprice"), "monetary"),
    )
    scored = base.select(
        "custkey",
        F.ntile(5)
        .over(Window.orderBy("last_order", "custkey"))
        .cast("int")
        .alias("r"),
        F.ntile(5)
        .over(Window.orderBy("frequency", "custkey"))
        .cast("int")
        .alias("f"),
        F.ntile(5)
        .over(Window.orderBy("monetary", "custkey"))
        .cast("int")
        .alias("m"),
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(F.count("*").cast("bigint").alias("n_customers"))
        .orderBy("r", "f", "m")
    )


@query(
    "orders_equidepth_hist",
    """
    WITH b AS (
        SELECT o_totalprice,
               CAST(NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey)
                    AS INT) AS bucket
        FROM orders
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def orders_equidepth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram of order values — the optimizer-statistics
    primitive (ANALYZE ... FOR COLUMNS builds exactly this): 10
    equal-count buckets with their value boundaries, which estimate
    selectivity far better than equi-width bins on skewed money
    columns (price_histogram shows the equi-width counterpart). NTILE
    with a key tiebreak keeps bucket assignment deterministic; at
    scale you'd swap the global sort for percentile_approx boundaries
    — the sketch trade documented on the quantile queries."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    b = orders.select(
        "o_totalprice",
        F.ntile(10)
        .over(Window.orderBy("o_totalprice", "o_orderkey"))
        .cast("int")
        .alias("bucket"),
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("bucket")
    )


@query(
    "lineitem_measure_correlations",
    """
    WITH s AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE) AS sq,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE) AS sp,
               CAST(SUM(CAST(l_discount AS DECIMAL(30,10))) AS DOUBLE) AS sd,
               CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,10))) AS DOUBLE) AS sqq,
               CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,10))) AS DOUBLE) AS spp,
               CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(30,10))) AS DOUBLE) AS sdd,
               CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(30,10))) AS DOUBLE) AS sqp,
               CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(30,10))) AS DOUBLE) AS sqd,
               CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(30,10))) AS DOUBLE) AS spd
        FROM lineitem
    )
    SELECT CAST(n AS BIGINT) AS n,
           (n * sqp - sq * sp)
           / SQRT((n * sqq - sq * sq) * (n * spp - sp * sp))
               AS corr_qty_price,
           (n * sqd - sq * sd)
           / SQRT((n * sqq - sq * sq) * (n * sdd - sd * sd))
               AS corr_qty_discount,
           (n * spd - sp * sd)
           / SQRT((n * spp - sp * sp) * (n * sdd - sd * sd))
               AS corr_price_discount
    FROM s
    """,
)
def lineitem_measure_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix over the fact measures in ONE pass:
    every pairwise correlation reduces to nine sufficient statistics
    (sums, squares, cross-products), all map-side-combinable and
    accumulated in decimal so the n·Σxy − ΣxΣy subtractions don't
    cancel catastrophically — the same moments shape as the Welch
    query, extended to the full covariance battery (Spark's built-in
    corr() makes one pass PER PAIR; this is the k²-in-one-scan form a
    profiler wants). Final arithmetic in double, same op order as the
    oracle. fan_out spreads the nine decimal partial aggregations off
    the single-row-group local scan task (4.4 s -> ~1 s at sf0.1);
    decimal sums are order-free, so the result is unchanged."""
    from technical_test_data_engineer_spark.operators.partitioning import (
        fan_out,
    )

    li = fan_out(
        load_table(spark, sf_dir, "lineitem").select(
            "l_quantity", "l_extendedprice", "l_discount"
        )
    )
    q, p, d = F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount")
    s = li.agg(
        F.count("*").alias("n"),
        exact_sum(q, "sq"),
        exact_sum(p, "sp"),
        exact_sum(d, "sd"),
        exact_sum(q * q, "sqq"),
        exact_sum(p * p, "spp"),
        exact_sum(d * d, "sdd"),
        exact_sum(q * p, "sqp"),
        exact_sum(q * d, "sqd"),
        exact_sum(p * d, "spd"),
    )
    n = F.col("n")

    def corr(sxy, sx, sy, sxx, syy):
        return (n * F.col(sxy) - F.col(sx) * F.col(sy)) / F.sqrt(
            (n * F.col(sxx) - F.col(sx) * F.col(sx))
            * (n * F.col(syy) - F.col(sy) * F.col(sy))
        )

    return s.select(
        n.cast("bigint").alias("n"),
        corr("sqp", "sq", "sp", "sqq", "spp").alias("corr_qty_price"),
        corr("sqd", "sq", "sd", "sqq", "sdd").alias("corr_qty_discount"),
        corr("spd", "sp", "sd", "spp", "sdd").alias("corr_price_discount"),
    )


@query(
    "ship_latency_percentiles",
    """
    WITH lat AS (
        SELECT o_orderpriority,
               DATEDIFF('day', CAST(o_orderdate AS DATE),
                        CAST(l_shipdate AS DATE)) AS days
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY days)
                AS DOUBLE) AS p50_days,
           CAST(PERCENTILE_CONT(0.95) WITHIN GROUP (ORDER BY days)
                AS DOUBLE) AS p95_days,
           CAST(MAX(days) AS BIGINT) AS max_days
    FROM lat GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def ship_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency SLA readout per priority class: exact
    p50/p95/max of the orderdate→shipdate gap — the fulfillment
    equivalent of a service latency dashboard, and the query that
    catches a priority class silently missing its SLA. One fact join
    (order key, broadcast-eligible dimension side) + per-group exact
    percentiles; at 100 TB swap in percentile_approx
    (acctbal_quantile_sketch shows the sketch path and its tolerance
    test)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    lat = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "o_orderpriority",
        F.datediff(
            F.to_date("l_shipdate"), F.to_date("o_orderdate")
        ).alias("days"),
    )
    return (
        lat.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.expr("percentile(days, 0.5)").cast("double").alias("p50_days"),
            F.expr("percentile(days, 0.95)").cast("double").alias("p95_days"),
            F.max("days").cast("bigint").alias("max_days"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "purchase_tier_at_time",
    """
    WITH e AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
               CASE
                   WHEN CAST(json_extract(props, '$.k') AS INTEGER) < 25
                       THEN 'bronze'
                   WHEN CAST(json_extract(props, '$.k') AS INTEGER) < 50
                       THEN 'silver'
                   WHEN CAST(json_extract(props, '$.k') AS INTEGER) < 75
                       THEN 'gold'
                   ELSE 'platinum'
               END AS tier
        FROM events WHERE user_id % 25 = 0
    ),
    d AS (
        SELECT *,
               LAG(tier) OVER w AS prev,
               LAG(1) OVER w AS notfirst
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    ch AS (
        SELECT user_id, event_id, ts, tier FROM d
        WHERE notfirst IS NULL OR prev IS DISTINCT FROM tier
    ),
    dim AS (
        SELECT user_id, tier,
               ts AS valid_from,
               LEAD(ts) OVER w2 AS valid_to,
               CAST(ROW_NUMBER() OVER w2 AS INT) AS version
        FROM ch WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT p.user_id, p.event_id, p.ts AS purchase_ts,
           dim.tier AS tier_at_purchase, dim.version
    FROM e p
    JOIN dim ON dim.user_id = p.user_id
            AND p.ts >= dim.valid_from
            AND (dim.valid_to IS NULL OR p.ts < dim.valid_to)
    WHERE p.event_type = 'purchase'
    ORDER BY p.user_id, p.ts, p.event_id
    """,
)
def purchase_tier_at_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME dimension lookup — the consumption half of SCD2
    that user_type_scd2 only builds: each purchase event joined to the
    tier version valid AT ITS TIMESTAMP (valid_from ≤ ts < valid_to,
    open current interval). The tier dimension derives from the same
    stream (props.k bucketed) via scd2_from_changelog, so the proof
    value-checks build + temporal join end to end. Join shape at
    scale: equality on user_id carries the shuffle, the interval
    predicate rides as a join filter — never a cross product; the
    half-open intervals partition each user's timeline, so the lookup
    is provably 1:1 (a zero-length [t, t) version from same-timestamp
    changes matches nothing, its successor covers). The %25 key filter
    bounds the proof output, pushed to both scans."""
    from technical_test_data_engineer_spark.sources.maintenance import (
        scd2_from_changelog,
    )

    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 25 == 0
    )
    k = F.get_json_object("props", "$.k").cast("int")
    tiered = events.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.when(k < 25, "bronze")
        .when(k < 50, "silver")
        .when(k < 75, "gold")
        .otherwise("platinum")
        .alias("tier"),
    )
    dim = scd2_from_changelog(
        tiered.select("user_id", "event_id", "ts", "tier"),
        key_cols=["user_id"],
        ts_col="ts",
        attr_cols=["tier"],
        tiebreak="event_id",
    ).select(
        F.col("user_id").alias("d_user"),
        "tier",
        "valid_from",
        "valid_to",
        "version",
    )
    purchases = (
        tiered.filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "ts")
        .alias("p")
    )
    dim = dim.alias("d")
    return (
        purchases.join(
            dim,
            (F.col("p.user_id") == F.col("d.d_user"))
            & (F.col("p.ts") >= F.col("d.valid_from"))
            & (
                F.col("d.valid_to").isNull()
                | (F.col("p.ts") < F.col("d.valid_to"))
            ),
        )
        .select(
            F.col("p.user_id").alias("user_id"),
            F.col("p.event_id").alias("event_id"),
            F.col("p.ts").alias("purchase_ts"),
            F.col("d.tier").alias("tier_at_purchase"),
            F.col("d.version").alias("version"),
        )
        .orderBy("user_id", "purchase_ts", "event_id")
    )


@query(
    "monthly_new_customers_cumulative",
    """
    WITH first_seen AS (
        SELECT o_custkey,
               MIN(DATE_TRUNC('month', CAST(o_orderdate AS DATE)))
                   AS first_month
        FROM orders GROUP BY o_custkey
    ),
    per_month AS (
        SELECT first_month AS month, COUNT(*) AS new_customers
        FROM first_seen GROUP BY first_month
    )
    SELECT CAST(month AS DATE) AS month, new_customers,
           CAST(SUM(new_customers) OVER (
               ORDER BY month ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW
           ) AS BIGINT) AS cumulative_customers
    FROM per_month
    ORDER BY month
    """,
)
def monthly_new_customers_cumulative(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Running DISTINCT cardinality done exactly at scale (the customer
    acquisition curve): "cumulative distinct customers through month m"
    has no partial-aggregate form, but "first month each customer
    ordered" does — one keyed MIN collapses the fact table, per-month
    new-customer counts are tiny, and the running total windows over
    ≤12 rows/year. The exact companion to the HLL sketch path
    (events_approx_user_counts): same question shape, sketch-free, the
    corpus passing through a single customer-keyed shuffle instead of
    a per-period distinct-union blowup."""
    orders = load_table(spark, sf_dir, "orders")
    first_seen = orders.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", F.col("o_orderdate"))).alias(
            "first_month"
        )
    )
    per_month = first_seen.groupBy(
        F.col("first_month").alias("month")
    ).agg(F.count("*").alias("new_customers"))
    w = Window.orderBy("month").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_month.select(
        F.col("month").cast("date").alias("month"),
        "new_customers",
        F.sum("new_customers")
        .over(w)
        .cast("bigint")
        .alias("cumulative_customers"),
    ).orderBy("month")


@query(
    "event_transition_probs",
    """
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id
               ) AS prev
        FROM events
    ),
    pc AS (
        SELECT prev AS from_type, event_type AS to_type,
               COUNT(*) AS n_transitions
        FROM seq WHERE prev IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT from_type, to_type, n_transitions,
           CAST(n_transitions AS DOUBLE)
               / CAST(SUM(n_transitions) OVER (
                     PARTITION BY from_type) AS DOUBLE) AS prob
    FROM pc
    ORDER BY from_type, to_type
    """,
)
def event_transition_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current) — the session-model input
    for funnel simulation and anomaly scoring. One lag window per user
    (ordered by event time with the event_id tiebreak — the µs-
    truncated timestamp on BOTH engines, so nanosecond ties cannot
    reorder the lag), then a vocabulary-sized count relation and a
    row-normalizing window over ≤ |types|² rows. The only full-data
    shuffle is the per-user window; everything after is
    vocabulary-sized. Probabilities are exact bigint/bigint divisions
    — identical doubles on both engines."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev"),
    ).filter(F.col("prev").isNotNull())
    pc = seq.groupBy(
        F.col("prev").alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).agg(F.count("*").alias("n_transitions"))
    wt = Window.partitionBy("from_type")
    return pc.select(
        "from_type",
        "to_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(wt).cast("double")
        ).alias("prob"),
    ).orderBy("from_type", "to_type")


# rows-only: the absorbing-chain solve is matrix algebra DuckDB SQL
# cannot express; exactness is proven by a hand-computed-chain parity
# test plus determinism (exact bigint counts -> one numpy solve)
@query("channel_removal_effect")
def channel_removal_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al. 2014) — the
    principled upgrade of last-touch/position attribution already in
    the family (purchase_touch_attribution): model per-user journeys
    as a first-order chain over channel touches with absorbing
    CONVERSION/DROP states, then credit each channel by how much the
    corpus conversion probability falls when that channel is removed
    (its incoming transitions redirected to DROP).

    Scale split lives in operators/attribution.py: journeys truncate
    and transitions count DISTRIBUTED (per-user window + vocabulary-
    sized groupBy); only the (channels+3)²-bounded count matrix is
    collected, and each removal is one ≤(channels+1)² numpy solve.
    Effects are exact-count deterministic, rounded to 6."""
    from technical_test_data_engineer_spark.operators.attribution import (
        absorption_probability,
        channels_of,
        fetch_transition_counts,
    )

    counts = fetch_transition_counts(load_table(spark, sf_dir, "events"))
    channels = channels_of(counts)
    p_full = absorption_probability(counts, set(channels))
    effects = [
        (
            c,
            1.0 - absorption_probability(counts, set(channels) - {c}) / p_full
            if p_full > 0
            else 0.0,
        )
        for c in channels
    ]
    total = sum(e for _, e in effects)
    rows = [
        (c, round(e, 6), round(e / total, 6) if total > 0 else 0.0)
        for c, e in effects
    ]
    return local_frame(
        spark,
        rows,
        "channel string, removal_effect double, attribution_share double",
    ).orderBy("channel")


# Exact Shapley is 2^k absorption solves — fine for real marketing
# channel vocabularies (k ≤ ~15); the guard raises past 12 where the
# production answer is permutation-sampling approximation.
SHAPLEY_MAX_CHANNELS = 12


# rows-only: same matrix-algebra reasoning as channel_removal_effect
@query("channel_shapley_attribution")
def channel_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value attribution over the Markov conversion game
    (Shapley 1953 applied to the absorbing-chain characteristic
    function v(S) = conversion probability using only channels in S,
    all others redirected to DROP): each channel's credit is its
    average marginal contribution over all subsets — the
    axiomatically-fair split that removal effects only approximate
    (removal double-counts channels that substitute for each other).
    Efficiency axiom Σφ = v(all) - v(∅) is asserted in tests, and
    v(∅) — direct no-touch conversions — is reported so the attributed
    mass is explicit.

    Cost: one distributed transition-count pass (shared machinery,
    operators/attribution.py), then 2^k driver solves on
    vocabulary-sized systems — exact up to SHAPLEY_MAX_CHANNELS
    ({SHAPLEY_MAX_CHANNELS}), raising loudly past it (the 100 TB-and-
    many-channels answer is permutation sampling over the same
    machinery, an approximation this proof query refuses to silently
    substitute)."""
    from itertools import combinations
    from math import factorial

    from technical_test_data_engineer_spark.operators.attribution import (
        absorption_probability,
        channels_of,
        fetch_transition_counts,
    )

    counts = fetch_transition_counts(load_table(spark, sf_dir, "events"))
    channels = channels_of(counts)
    k = len(channels)
    if k > SHAPLEY_MAX_CHANNELS:
        raise ValueError(
            f"exact Shapley is 2^{k} solves; use permutation sampling "
            f"above {SHAPLEY_MAX_CHANNELS} channels"
        )
    v = {}
    for r in range(k + 1):
        for s in combinations(channels, r):
            v[frozenset(s)] = absorption_probability(counts, set(s))
    phi = {}
    for c in channels:
        acc = 0.0
        for s in v:
            if c in s:
                continue
            w = factorial(len(s)) * factorial(k - len(s) - 1) / factorial(k)
            acc += w * (v[s | {c}] - v[s])
        phi[c] = acc
    base = v[frozenset()]
    rows = [
        (c, round(phi[c], 6), round(base, 6)) for c in channels
    ]
    return local_frame(
        spark, rows, "channel string, shapley_value double, v_empty double"
    ).orderBy("channel")


@query(
    "ab_test_cuped",
    """
    WITH u AS (
        SELECT user_id,
               user_id % 2 = 0 AS in_a,
               CAST(SUM(CASE WHEN event_type = 'view'
                             THEN CAST(value AS DECIMAL(30,10))
                             ELSE CAST(0 AS DECIMAL(30,10)) END)
                    AS DOUBLE) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN CAST(value AS DECIMAL(30,10))
                             ELSE CAST(0 AS DECIMAL(30,10)) END)
                    AS DOUBLE) AS y
        FROM events
        GROUP BY user_id
    ),
    arm AS (
        SELECT in_a,
               COUNT(*) AS n,
               CAST(SUM(CAST(x AS DECIMAL(30,10))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(30,10))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x * y AS DECIMAL(30,10))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(x * x AS DECIMAL(30,10))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(y * y AS DECIMAL(30,10))) AS DOUBLE) AS syy
        FROM u GROUP BY in_a
    ),
    pool AS (
        SELECT SUM(n) AS n, SUM(sx) AS sx, SUM(sy) AS sy,
               SUM(sxy) AS sxy, SUM(sxx) AS sxx
        FROM arm
    ),
    th AS (
        SELECT n, sx,
               (sxy - sx * sy / n) / NULLIF(sxx - sx * sx / n, 0) AS theta
        FROM pool
    )
    SELECT arm.in_a,
           CAST(arm.n AS BIGINT) AS n_users,
           ROUND(arm.sy / arm.n, 6) AS mean_y,
           ROUND((arm.sy - th.theta * arm.sx) / arm.n
                 + th.theta * th.sx / th.n, 6) AS mean_y_cuped,
           ROUND(1.0 - ((arm.syy - 2 * th.theta * arm.sxy
                         + th.theta * th.theta * arm.sxx)
                        - (arm.sy - th.theta * arm.sx)
                          * (arm.sy - th.theta * arm.sx) / arm.n)
                 / NULLIF(arm.syy - arm.sy * arm.sy / arm.n, 0),
                 6) AS var_reduction
    FROM arm CROSS JOIN th
    ORDER BY arm.in_a
    """,
)
def ab_test_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013) on the even/odd-user
    experiment readout: per user, pre-exposure covariate x = view
    value-sum predicts outcome y = purchase value-sum; the adjusted
    outcome y - θ(x - x̄) with θ = cov(x,y)/var(x) (POOLED across arms
    — θ must not peek at assignment) keeps each arm's mean estimate
    unbiased while shrinking its variance by the covariate's explained
    share — how every large experimentation platform cuts experiment
    runtime at constant power. Everything reduces to per-arm
    sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy² — one user-keyed
    shuffle then a 2-row agg), accumulated in DECIMAL and combined in
    double in the same operation order as the oracle; θ and the
    adjusted moments are pure algebra on the tiny arm frame. NULLIF
    guards zero-variance covariates (degenerate fixtures) on both
    engines. Reported: raw vs adjusted arm means (identical iff the
    arms' covariate means coincide) and the per-arm variance-reduction
    fraction."""
    events = load_table(spark, sf_dir, "events")
    zero = dec(F.lit(0))
    u = events.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "view", dec(F.col("value"))).otherwise(zero)
        )
        .cast("double")
        .alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", dec(F.col("value"))).otherwise(
                zero
            )
        )
        .cast("double")
        .alias("y"),
    ).select(
        (F.col("user_id") % 2 == 0).alias("in_a"), "x", "y"
    )
    arm = u.groupBy("in_a").agg(
        F.count("*").alias("n"),
        exact_sum(F.col("x"), "sx"),
        exact_sum(F.col("y"), "sy"),
        exact_sum(F.col("x") * F.col("y"), "sxy"),
        exact_sum(F.col("x") * F.col("x"), "sxx"),
        exact_sum(F.col("y") * F.col("y"), "syy"),
    )
    pool = arm.agg(
        F.sum("n").alias("pn"),
        F.sum("sx").alias("psx"),
        F.sum("sy").alias("psy"),
        F.sum("sxy").alias("psxy"),
        F.sum("sxx").alias("psxx"),
    )
    th = pool.select(
        "pn",
        "psx",
        (
            (F.col("psxy") - F.col("psx") * F.col("psy") / F.col("pn"))
            / F.nullif(
                F.col("psxx") - F.col("psx") * F.col("psx") / F.col("pn"),
                F.lit(0.0),
            )
        ).alias("theta"),
    )
    j = arm.crossJoin(F.broadcast(th))
    sz = F.col("sy") - F.col("theta") * F.col("sx")
    szz = (
        F.col("syy")
        - 2 * F.col("theta") * F.col("sxy")
        + F.col("theta") * F.col("theta") * F.col("sxx")
    )
    return j.select(
        "in_a",
        F.col("n").cast("bigint").alias("n_users"),
        F.round(F.col("sy") / F.col("n"), 6).alias("mean_y"),
        F.round(
            sz / F.col("n") + F.col("theta") * F.col("psx") / F.col("pn"), 6
        ).alias("mean_y_cuped"),
        F.round(
            F.lit(1.0)
            - (szz - sz * sz / F.col("n"))
            / F.nullif(
                F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"),
                F.lit(0.0),
            ),
            6,
        ).alias("var_reduction"),
    ).orderBy("in_a")


@query(
    "user_value_holtwinters",
    """
    WITH RECURSIVE e AS (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
               ) AS rn
        FROM events WHERE user_id % 30 = 0
    ),
    r(user_id, event_id, value, rn, lvl, trend) AS (
        SELECT user_id, event_id, value, rn, value, CAST(0.0 AS DOUBLE)
        FROM e WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.event_id, e.value, e.rn,
               0.5 * e.value + 0.5 * (r.lvl + r.trend),
               0.3 * ((0.5 * e.value + 0.5 * (r.lvl + r.trend)) - r.lvl)
                   + 0.7 * r.trend
        FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1
    )
    SELECT user_id, event_id, value, lvl, trend,
           lvl + trend AS forecast_1
    FROM r ORDER BY user_id, event_id
    """,
)
def user_value_holtwinters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Holt linear (level+trend) exponential smoothing
    (α=0.5, β=0.3) with the one-step forecast l+b — the time-series
    twin of ``user_value_ewma`` extended to a TWO-state recurrence
    (``operators.windows.grouped_holt``): the grouped-map Arrow path
    steps the textbook float64 ops literally, and the recursive-CTE
    oracle steps the IDENTICAL expressions in the identical order, so
    the driver value-hashes the stateful Python surface bit-for-bit —
    now with coupled state, not just a single accumulator. The %30
    key filter bounds the proof output; (event time, event_id) order
    is fully deterministic."""
    from technical_test_data_engineer_spark.operators.windows import (
        grouped_holt,
    )

    events = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 30 == 0)
        .select("user_id", "event_id", "ts", "value")
    )
    return ordered_python_stage(
        events,
        lambda ev: grouped_holt(
            ev, ["user_id"], ["ts", "event_id"], "value", alpha=0.5, beta=0.3
        ).select(
            "user_id",
            "event_id",
            "value",
            "lvl",
            "trend",
            (F.col("lvl") + F.col("trend")).alias("forecast_1"),
        ),
        ["user_id", "event_id"],
    )


@query(
    "ab_test_sprt",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS na,
               SUM(CASE WHEN user_id % 2 = 0
                        THEN CAST(value AS DECIMAL(30,10))
                        ELSE CAST(0 AS DECIMAL(30,10)) END) AS sa,
               SUM(CASE WHEN user_id % 2 = 0
                        THEN CAST(value * value AS DECIMAL(30,10))
                        ELSE CAST(0 AS DECIMAL(30,10)) END) AS ssa,
               CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS nb,
               SUM(CASE WHEN user_id % 2 = 1
                        THEN CAST(value AS DECIMAL(30,10))
                        ELSE CAST(0 AS DECIMAL(30,10)) END) AS sb,
               SUM(CASE WHEN user_id % 2 = 1
                        THEN CAST(value * value AS DECIMAL(30,10))
                        ELSE CAST(0 AS DECIMAL(30,10)) END) AS ssb
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    ),
    cum AS (
        SELECT day,
               CAST(SUM(na)  OVER w AS BIGINT) AS cna,
               CAST(SUM(sa)  OVER w AS DOUBLE) AS csa,
               CAST(SUM(ssa) OVER w AS DOUBLE) AS cssa,
               CAST(SUM(nb)  OVER w AS BIGINT) AS cnb,
               CAST(SUM(sb)  OVER w AS DOUBLE) AS csb,
               CAST(SUM(ssb) OVER w AS DOUBLE) AS cssb
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    ),
    stat AS (
        SELECT day, cna, cnb,
               csa / cna - csb / cnb AS diff,
               (cssa - csa * csa / cna) / (cna - 1) / cna
                   + (cssb - csb * csb / cnb) / (cnb - 1) / cnb AS v
        FROM cum WHERE cna >= 2 AND cnb >= 2
    )
    SELECT day, cna AS n_treat, cnb AS n_control,
           ROUND(diff, 6) AS mean_diff,
           ROUND(0.5 * LN(v / (v + 1.0))
                 + diff * diff / (2.0 * v * (v + 1.0)), 6) AS llr,
           (0.5 * LN(v / (v + 1.0))
                 + diff * diff / (2.0 * v * (v + 1.0))) > LN(20.0)
               AS reject_null
    FROM stat ORDER BY day
    """,
)
def ab_test_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential A/B monitoring — the mixture SPRT
    (Johari et al., "Peeking at A/B tests") readout that lets an
    experimenter peek daily without inflating false positives, closing
    the experimentation family (Welch → CUPED → Kaplan-Meier → this).
    Per day, each arm's purchase-value sufficient statistics (n, Σx,
    Σx²) accumulate in DECIMAL (exact, order-independent); ONE
    cumulative window over the bounded day spine turns them into
    running moments, and the mSPRT log-likelihood ratio with a N(0,τ²)
    mixture (τ²=1) is pure scalar algebra on each row:
    llr = ½·ln(V/(V+τ²)) + Δ²τ²/(2V(V+τ²)), rejecting when
    Λ > 1/α (α=.05 → ln 20). The corpus-sized work is one scan + one
    day-keyed aggregation; the window runs over days only. Rounded to
    6dp — ln() may differ in the last ulp across libm builds."""
    import math

    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    zero = dec(F.lit(0))
    in_a = F.col("user_id") % 2 == 0
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(in_a, 1).otherwise(0)).cast("bigint").alias("na"),
        F.sum(F.when(in_a, dec(F.col("value"))).otherwise(zero)).alias("sa"),
        F.sum(
            F.when(in_a, dec(F.col("value") * F.col("value"))).otherwise(zero)
        ).alias("ssa"),
        F.sum(F.when(~in_a, 1).otherwise(0)).cast("bigint").alias("nb"),
        F.sum(F.when(~in_a, dec(F.col("value"))).otherwise(zero)).alias("sb"),
        F.sum(
            F.when(~in_a, dec(F.col("value") * F.col("value"))).otherwise(zero)
        ).alias("ssb"),
    )
    w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = daily.select(
        "day",
        F.sum("na").over(w).cast("bigint").alias("cna"),
        F.sum("sa").over(w).cast("double").alias("csa"),
        F.sum("ssa").over(w).cast("double").alias("cssa"),
        F.sum("nb").over(w).cast("bigint").alias("cnb"),
        F.sum("sb").over(w).cast("double").alias("csb"),
        F.sum("ssb").over(w).cast("double").alias("cssb"),
    )
    stat = cum.filter((F.col("cna") >= 2) & (F.col("cnb") >= 2)).select(
        "day",
        "cna",
        "cnb",
        (F.col("csa") / F.col("cna") - F.col("csb") / F.col("cnb")).alias(
            "diff"
        ),
        (
            (F.col("cssa") - F.col("csa") * F.col("csa") / F.col("cna"))
            / (F.col("cna") - 1)
            / F.col("cna")
            + (F.col("cssb") - F.col("csb") * F.col("csb") / F.col("cnb"))
            / (F.col("cnb") - 1)
            / F.col("cnb")
        ).alias("v"),
    )
    llr = 0.5 * F.log(F.col("v") / (F.col("v") + 1.0)) + F.col("diff") * F.col(
        "diff"
    ) / (2.0 * F.col("v") * (F.col("v") + 1.0))
    return stat.select(
        "day",
        F.col("cna").alias("n_treat"),
        F.col("cnb").alias("n_control"),
        F.round(F.col("diff"), 6).alias("mean_diff"),
        F.round(llr, 6).alias("llr"),
        (llr > math.log(20.0)).alias("reject_null"),
    ).orderBy("day")


@query(
    "daily_revenue_decomposition",
    f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               {_decsum('o_totalprice')} AS rev
        FROM orders GROUP BY 1
    ),
    tr AS (
        SELECT day, rev,
               CAST(SUM(CAST(rev AS DECIMAL(30,10))) OVER w AS DOUBLE)
                   / COUNT(*) OVER w AS trend
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
        SELECT day, rev, trend, rev - trend AS detrended,
               ISODOW(day) AS dow
        FROM tr
    ),
    seas AS (
        SELECT dow,
               CAST(SUM(CAST(detrended AS DECIMAL(30,10))) AS DOUBLE)
                   / COUNT(*) AS seasonal
        FROM det GROUP BY dow
    )
    SELECT day, CAST(dow AS INT) AS dow,
           ROUND(rev, 6) AS revenue,
           ROUND(trend, 6) AS trend,
           ROUND(seasonal, 6) AS seasonal,
           ROUND(rev - trend - seasonal, 6) AS residual
    FROM det JOIN seas USING (dow)
    ORDER BY day
    """,
)
def daily_revenue_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive time-series decomposition of daily revenue —
    trend (centered 7-row moving average), day-of-week seasonality
    (mean of the detrended series per ISO weekday), and the residual
    an anomaly monitor would threshold: the moving-average
    decomposition STL refines, and the standard pre-model step for any
    calendar-driven KPI. Scale shape: ONE fact-sized aggregation to the
    day spine, then every window/group runs over days only. The
    sliding-frame mean rides a DECIMAL SUM (exact, so Spark's
    recompute-per-frame and DuckDB's segment-tree accumulation cannot
    drift) and Spark's ``weekday()+1`` is defined identical to DuckDB's
    ``ISODOW``. Edge days average their partial frame on both engines
    (ROWS frame semantics). Rounded to 6dp."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(exact_sum("o_totalprice").alias("rev"))
    w = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day",
        "rev",
        (
            F.sum(dec("rev")).over(w).cast("double") / F.count("*").over(w)
        ).alias("trend"),
    )
    # persisted: the day-spine detrended frame feeds the seasonal agg
    # and the final join — one orders scan total (tests/PLAN_SHAPES.json)
    det = tr.select(
        "day",
        "rev",
        "trend",
        (F.col("rev") - F.col("trend")).alias("detrended"),
        (F.weekday("day") + F.lit(1)).alias("dow"),
    ).persist()
    seas = det.groupBy("dow").agg(
        (exact_sum("detrended") / F.count("*")).alias(
            "seasonal"
        )
    )
    return (
        det.join(F.broadcast(seas), "dow")
        .select(
            "day",
            F.col("dow").cast("int").alias("dow"),
            F.round("rev", 6).alias("revenue"),
            F.round("trend", 6).alias("trend"),
            F.round("seasonal", 6).alias("seasonal"),
            F.round(
                F.col("rev") - F.col("trend") - F.col("seasonal"), 6
            ).alias("residual"),
        )
        .orderBy("day")
    )


@query(
    "daily_revenue_forecast_backtest",
    f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               {_decsum('o_totalprice')} AS rev
        FROM orders GROUP BY 1
    ),
    lagged AS (
        SELECT day, rev,
               LAG(rev, 1) OVER (ORDER BY day) AS naive,
               LAG(rev, 7) OVER (ORDER BY day) AS snaive
        FROM daily
    ),
    scored AS (
        SELECT * FROM lagged WHERE snaive IS NOT NULL
    ),
    m AS (
        SELECT 'naive_lag1' AS model, COUNT(*) AS n,
               CAST(SUM(CAST(ABS(rev - naive) / rev AS DECIMAL(30,12)))
                    AS DOUBLE) / COUNT(*) AS mape,
               CAST(SUM(CAST(2.0 * ABS(rev - naive)
                             / (ABS(rev) + ABS(naive)) AS DECIMAL(30,12)))
                    AS DOUBLE) / COUNT(*) AS smape
        FROM scored
        UNION ALL
        SELECT 'seasonal_lag7' AS model, COUNT(*) AS n,
               CAST(SUM(CAST(ABS(rev - snaive) / rev AS DECIMAL(30,12)))
                    AS DOUBLE) / COUNT(*) AS mape,
               CAST(SUM(CAST(2.0 * ABS(rev - snaive)
                             / (ABS(rev) + ABS(snaive)) AS DECIMAL(30,12)))
                    AS DOUBLE) / COUNT(*) AS smape
        FROM scored
    )
    SELECT model, CAST(n AS BIGINT) AS n_days,
           ROUND(mape, 6) AS mape, ROUND(smape, 6) AS smape
    FROM m ORDER BY model
    """,
)
def daily_revenue_forecast_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Forecast-accuracy backtest — the model-selection readout every
    forecasting pipeline runs before trusting a model: score the two
    canonical baselines (naive = yesterday, seasonal-naive = same
    weekday last week) on the daily revenue series with MAPE and
    sMAPE, restricted to the days where BOTH are defined so the
    comparison is on a common support. Any real model must beat the
    seasonal-naive row to earn deployment (the M-competition
    discipline). Scale shape: one fact-sized aggregation to the day
    spine, two row-lags over days, and per-row error terms summed in
    DECIMAL so partition order cannot drift the hash."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(exact_sum("o_totalprice").alias("rev"))
    w = Window.orderBy("day")
    # persisted: the day-spine lag frame feeds both model scorecards —
    # one orders scan total (tests/PLAN_SHAPES.json)
    scored = daily.select(
        "rev",
        F.lag("rev", 1).over(w).alias("naive"),
        F.lag("rev", 7).over(w).alias("snaive"),
    ).filter(F.col("snaive").isNotNull()).persist()

    def _metrics(fc: str, label: str) -> DataFrame:
        return scored.agg(
            F.lit(label).alias("model"),
            F.count("*").cast("bigint").alias("n_days"),
            F.round(
                exact_sum(
                    F.abs(F.col("rev") - F.col(fc)) / F.col("rev"),
                    precision=30,
                    scale=12,
                )
                / F.count("*"),
                6,
            ).alias("mape"),
            F.round(
                exact_sum(
                    F.lit(2.0)
                    * F.abs(F.col("rev") - F.col(fc))
                    / (F.abs(F.col("rev")) + F.abs(F.col(fc))),
                    precision=30,
                    scale=12,
                )
                / F.count("*"),
                6,
            ).alias("smape"),
        )
    return (
        _metrics("naive", "naive_lag1")
        .unionByName(_metrics("snaive", "seasonal_lag7"))
        .orderBy("model")
    )


@query(
    "order_pit_features",
    """
    WITH o AS (
        SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS od,
               o_totalprice
        FROM orders WHERE o_custkey % 20 = 0
    )
    SELECT o_orderkey, o_custkey,
           CAST(COUNT(*) OVER w AS BIGINT) AS prior_orders,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(30,10))) OVER w,
                         0) AS DOUBLE) AS prior_spend,
           CAST(od - LAG(od, 1) OVER (
               PARTITION BY o_custkey ORDER BY od, o_orderkey
           ) AS BIGINT) AS days_since_prev
    FROM o
    WINDOW w AS (PARTITION BY o_custkey ORDER BY od, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ORDER BY o_orderkey
    """,
)
def order_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature materialization — the feature-store
    op that makes offline training match online serving: for every
    order, the customer features AS OF just before that order (count
    and spend of strictly-prior orders, recency gap), built with a
    1-PRECEDING-bounded cumulative frame so the row's own target can
    never leak into its features — the temporal twin of the out-of-fold
    discipline (customer_segment_target_encoding). One keyed
    shuffle (customer), deterministic (date, orderkey) order within
    key; prior spend rides DECIMAL inside the frame. First-order rows
    report 0 prior orders/spend and NULL recency on both engines. The
    %20 key filter bounds the proof output."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") % 20 == 0
    )
    o = orders.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("od"),
        "o_totalprice",
    )
    wo = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    w = wo.rowsBetween(Window.unboundedPreceding, -1)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.count("*").over(w).cast("bigint").alias("prior_orders"),
        F.coalesce(
            F.sum(dec(F.col("o_totalprice"))).over(w),
            dec(F.lit(0)),
        )
        .cast("double")
        .alias("prior_spend"),
        F.datediff(F.col("od"), F.lag("od", 1).over(wo))
        .cast("bigint")
        .alias("days_since_prev"),
    ).orderBy("o_orderkey")


@query(
    "ab_test_uplift_deciles",
    """
    WITH u AS (
        SELECT user_id,
               user_id % 2 = 0 AS in_a,
               CAST(SUM(CASE WHEN event_type = 'view'
                             THEN CAST(value AS DECIMAL(30,10))
                             ELSE CAST(0 AS DECIMAL(30,10)) END)
                    AS DOUBLE) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN CAST(value AS DECIMAL(30,10))
                             ELSE CAST(0 AS DECIMAL(30,10)) END)
                    AS DOUBLE) AS y
        FROM events GROUP BY user_id
    ),
    binned AS (
        SELECT in_a, y,
               NTILE(10) OVER (ORDER BY x, user_id) AS decile
        FROM u
    ),
    per AS (
        SELECT decile,
               CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
               CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_b,
               CAST(SUM(CASE WHEN in_a THEN CAST(y AS DECIMAL(30,10))
                             ELSE CAST(0 AS DECIMAL(30,10)) END)
                    AS DOUBLE) AS sy_a,
               CAST(SUM(CASE WHEN in_a THEN CAST(0 AS DECIMAL(30,10))
                             ELSE CAST(y AS DECIMAL(30,10)) END)
                    AS DOUBLE) AS sy_b
        FROM binned GROUP BY decile
    )
    SELECT CAST(decile AS INT) AS decile, n_a, n_b,
           ROUND(sy_a / n_a, 6) AS mean_a,
           ROUND(sy_b / n_b, 6) AS mean_b,
           ROUND(sy_a / n_a - sy_b / n_b, 6) AS uplift
    FROM per ORDER BY decile
    """,
)
def ab_test_uplift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous-treatment-effect readout — the uplift-by-decile
    table that answers the question a single average treatment effect
    hides: WHERE does the experiment move the metric? Users are
    decile-binned by the pre-exposure covariate (view value-sum — the
    CUPED covariate, so the binning never peeks at assignment or
    outcome), and each decile reports per-arm purchase means and their
    difference; a monotone uplift column is the classic targeting
    signal. One user-keyed shuffle for sufficient stats, one NTILE
    sort, then a 10-row frame. DECIMAL accumulation throughout."""
    events = load_table(spark, sf_dir, "events")
    zero = dec(F.lit(0))
    u = events.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "view", dec(F.col("value"))).otherwise(zero)
        )
        .cast("double")
        .alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", dec(F.col("value"))).otherwise(zero)
        )
        .cast("double")
        .alias("y"),
    ).select(
        "user_id", (F.col("user_id") % 2 == 0).alias("in_a"), "x", "y"
    )
    binned = u.select(
        "in_a",
        "y",
        F.ntile(10).over(Window.orderBy("x", "user_id")).alias("decile"),
    )
    per = binned.groupBy("decile").agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("in_a"), 0).otherwise(1)).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("in_a"), dec(F.col("y"))).otherwise(zero))
        .cast("double")
        .alias("sy_a"),
        F.sum(F.when(F.col("in_a"), zero).otherwise(dec(F.col("y"))))
        .cast("double")
        .alias("sy_b"),
    )
    return per.select(
        F.col("decile").cast("int").alias("decile"),
        "n_a",
        "n_b",
        F.round(F.col("sy_a") / F.col("n_a"), 6).alias("mean_a"),
        F.round(F.col("sy_b") / F.col("n_b"), 6).alias("mean_b"),
        F.round(
            F.col("sy_a") / F.col("n_a") - F.col("sy_b") / F.col("n_b"), 6
        ).alias("uplift"),
    ).orderBy("decile")


@query(
    "customer_cohort_ltv",
    """
    WITH f AS (
        SELECT o_custkey AS ck,
               DATE_TRUNC('month', MIN(CAST(o_orderdate AS DATE))) AS cohort
        FROM orders GROUP BY o_custkey
    ),
    cs AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_customers
           FROM f GROUP BY cohort),
    p AS (
        SELECT o_custkey AS ck,
               DATE_TRUNC('month', CAST(o_orderdate AS DATE)) AS m,
               CAST(o_totalprice AS DECIMAL(30,10)) AS v
        FROM orders
    ),
    rev AS (
        SELECT f.cohort,
               (YEAR(p.m) - YEAR(f.cohort)) * 12
                   + (MONTH(p.m) - MONTH(f.cohort)) AS age,
               CAST(SUM(p.v) AS DOUBLE) AS rev
        FROM p JOIN f USING (ck)
        GROUP BY 1, 2
    )
    SELECT CAST(rev.cohort AS DATE) AS cohort_month,
           CAST(age AS INT) AS month_age,
           cs.n_customers,
           ROUND(CAST(SUM(CAST(rev AS DECIMAL(30,10))) OVER w AS DOUBLE)
                 / cs.n_customers, 6) AS cum_ltv_per_customer
    FROM rev JOIN cs ON rev.cohort = cs.cohort
    WINDOW w AS (PARTITION BY rev.cohort ORDER BY age
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY cohort_month, month_age
    """,
)
def customer_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves — the growth-analytics staple:
    customers cohorted by first-order month, revenue accumulated by
    month-age, normalized per cohort customer, so every cohort's spend
    trajectory is comparable at the same age (the payback-period /
    LTV:CAC readout). Built on orders (a 7-year span — the events
    stream covers one month, which would make every curve one point).
    Two keyed shuffles (first-order, then cohort-month revenue grid);
    the cumulative window runs over the bounded cohort×age grid with
    DECIMAL accumulation. Month-age is calendar year/month arithmetic,
    identical on both engines."""
    orders = load_table(spark, sf_dir, "orders")
    # persisted: the per-customer cohort frame feeds cohort sizes AND
    # the revenue-grid join — one orders scan per role (tests/PLAN_SHAPES.json)
    f = orders.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.date_trunc("month", F.min(F.col("o_orderdate").cast("date"))).alias(
            "cohort"
        )
    ).persist()
    cs = f.groupBy("cohort").agg(
        F.count("*").cast("bigint").alias("n_customers")
    )
    p = orders.select(
        F.col("o_custkey").alias("ck"),
        F.date_trunc("month", F.col("o_orderdate").cast("date")).alias("m"),
        dec(F.col("o_totalprice")).alias("v"),
    )
    rev = (
        p.join(f, "ck")
        .groupBy(
            "cohort",
            (
                (F.year("m") - F.year("cohort")) * 12
                + (F.month("m") - F.month("cohort"))
            ).alias("age"),
        )
        .agg(F.sum("v").cast("double").alias("rev"))
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rev.join(cs, "cohort")
        .select(
            F.col("cohort").cast("date").alias("cohort_month"),
            F.col("age").cast("int").alias("month_age"),
            "n_customers",
            F.round(
                F.sum(dec(F.col("rev"))).over(w).cast("double")
                / F.col("n_customers"),
                6,
            ).alias("cum_ltv_per_customer"),
        )
        .orderBy("cohort_month", "month_age")
    )


@query(
    "daily_revenue_acf",
    f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               {_decsum('o_totalprice')} AS rev
        FROM orders GROUP BY 1
    ),
    lagged AS (
        SELECT rev,
               LAG(rev, 1) OVER (ORDER BY day) AS l1,
               LAG(rev, 7) OVER (ORDER BY day) AS l7,
               LAG(rev, 28) OVER (ORDER BY day) AS l28
        FROM daily
    ),
    m AS (
        SELECT 1 AS lag, COUNT(l1) AS n,
               CAST(SUM(CAST(rev AS DECIMAL(30,10))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l1 AS DECIMAL(30,10))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(rev * l1 AS DECIMAL(38,8))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(rev * rev AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(l1 * l1 AS DECIMAL(38,8))) AS DOUBLE) AS syy
        FROM lagged WHERE l1 IS NOT NULL
        UNION ALL
        SELECT 7, COUNT(l7),
               CAST(SUM(CAST(rev AS DECIMAL(30,10))) AS DOUBLE),
               CAST(SUM(CAST(l7 AS DECIMAL(30,10))) AS DOUBLE),
               CAST(SUM(CAST(rev * l7 AS DECIMAL(38,8))) AS DOUBLE),
               CAST(SUM(CAST(rev * rev AS DECIMAL(38,8))) AS DOUBLE),
               CAST(SUM(CAST(l7 * l7 AS DECIMAL(38,8))) AS DOUBLE)
        FROM lagged WHERE l7 IS NOT NULL
        UNION ALL
        SELECT 28, COUNT(l28),
               CAST(SUM(CAST(rev AS DECIMAL(30,10))) AS DOUBLE),
               CAST(SUM(CAST(l28 AS DECIMAL(30,10))) AS DOUBLE),
               CAST(SUM(CAST(rev * l28 AS DECIMAL(38,8))) AS DOUBLE),
               CAST(SUM(CAST(rev * rev AS DECIMAL(38,8))) AS DOUBLE),
               CAST(SUM(CAST(l28 * l28 AS DECIMAL(38,8))) AS DOUBLE)
        FROM lagged WHERE l28 IS NOT NULL
    )
    SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_pairs,
           ROUND((sxy - sx * sy / n)
                 / NULLIF(SQRT((sxx - sx * sx / n) * (syy - sy * sy / n)),
                          0), 6) AS acf
    FROM m ORDER BY lag
    """,
)
def daily_revenue_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation diagnostics of the daily revenue series at lags
    1 / 7 / 28 — the first chart a forecaster reads: lag-1 measures
    momentum, lag-7 weekly seasonality (the decomposition query's DOW
    signal, quantified), lag-28 the monthly echo. Each lag's Pearson
    correlation comes from sufficient statistics over the PAIRED
    subset (row-lag over the dense day spine). One fact-sized
    aggregation; the lag frame is persisted and the three moment sets
    are day-spine-sized aggs with DECIMAL accumulation (products at
    DECIMAL(38,8) — daily revenues are ~1e7, squares ~1e14)."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(exact_sum("o_totalprice").alias("rev"))
    w = Window.orderBy("day")
    # persisted: three per-lag moment aggs share the lag frame — one
    # orders scan total (tests/PLAN_SHAPES.json)
    lagged = daily.select(
        "rev",
        F.lag("rev", 1).over(w).alias("l1"),
        F.lag("rev", 7).over(w).alias("l7"),
        F.lag("rev", 28).over(w).alias("l28"),
    ).persist()

    def m_of(col: str, lag: int) -> DataFrame:
        s = lagged.filter(F.col(col).isNotNull())
        return s.agg(
            F.lit(lag).alias("lag"),
            F.count(col).alias("n"),
            exact_sum(F.col("rev"), "sx"),
            exact_sum(F.col(col), "sy"),
            exact_sum(F.col("rev") * F.col(col), "sxy", precision=38, scale=8),
            exact_sum(F.col("rev") * F.col("rev"), "sxx", precision=38, scale=8),
            exact_sum(F.col(col) * F.col(col), "syy", precision=38, scale=8),
        )

    m = (
        m_of("l1", 1)
        .unionByName(m_of("l7", 7))
        .unionByName(m_of("l28", 28))
    )
    acf = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / F.nullif(
        F.sqrt(
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
            * (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"))
        ),
        F.lit(0.0),
    )
    return m.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("bigint").alias("n_pairs"),
        F.round(acf, 6).alias("acf"),
    ).orderBy("lag")


_K_STEPS = 8


def _kstep_cte() -> str:
    """Unrolled k-step backward recursion over the journey chain —
    generated CTE chain (the PageRank/label-propagation convention
    applied to the attribution family's absorbing walk)."""
    steps = []
    prev = "v0"
    for t in range(1, _K_STEPS + 1):
        steps.append(f"""
    v{t} AS (
        SELECT src AS state,
               CAST(SUM(CAST(p * COALESCE(v.v, 0.0) AS DECIMAL(30,15)))
                    AS DOUBLE) AS v
        FROM t LEFT JOIN {prev} v ON t.dst = v.state
        GROUP BY src
        UNION ALL SELECT 'CONV', 1.0
        UNION ALL SELECT 'DROP', 0.0
    )""")
        prev = f"v{t}"
    return ",".join(steps)


@query(
    "channel_conversion_k8",
    f"""
    WITH conv AS (
        SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS conv_ts
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    touches AS (
        SELECT e.user_id, e.event_type AS ch,
               CAST(e.ts AS TIMESTAMP) AS tss, e.event_id, c.conv_ts
        FROM events e LEFT JOIN conv c USING (user_id)
        WHERE e.event_type <> 'purchase'
          AND (c.conv_ts IS NULL OR CAST(e.ts AS TIMESTAMP) < c.conv_ts)
    ),
    seq AS (
        SELECT user_id, conv_ts, ch,
               LAG(ch) OVER (PARTITION BY user_id ORDER BY tss, event_id)
                   AS prev,
               LEAD(ch) OVER (PARTITION BY user_id ORDER BY tss, event_id)
                   AS nxt
        FROM touches
    ),
    hops AS (
        SELECT COALESCE(prev, 'START') AS src, ch AS dst FROM seq
        UNION ALL
        SELECT ch AS src,
               CASE WHEN conv_ts IS NOT NULL THEN 'CONV' ELSE 'DROP' END
                   AS dst
        FROM seq WHERE nxt IS NULL
        UNION ALL
        SELECT 'START', 'CONV'
        FROM conv c
        WHERE NOT EXISTS (
            SELECT 1 FROM touches t WHERE t.user_id = c.user_id
        )
    ),
    tc AS (SELECT src, dst, COUNT(*) AS n FROM hops GROUP BY src, dst),
    t AS (
        SELECT src, dst,
               CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY src) AS p
        FROM tc
    ),
    v0 AS (SELECT 'CONV' AS state, 1.0 AS v
           UNION ALL SELECT 'DROP', 0.0),
    {_kstep_cte()}
    SELECT state, ROUND(v, 6) AS p_convert_k8
    FROM v{_K_STEPS}
    WHERE state NOT IN ('CONV', 'DROP')
    ORDER BY state
    """,
)
def channel_conversion_k8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-step truncated conversion probability per journey state — the
    oracle-pairable twin of the attribution family's absorbing-chain
    solve (channel_removal_effect): the infinite-horizon absorption
    probability needs (I−Q)x=R matrix algebra, but the probability of
    converting WITHIN 8 steps unrolls into 8 chained matrix-vector
    CTEs over the vocabulary-sized transition relation (the fixed-
    iteration convention that made PageRank, label propagation, and
    the k-core peel driver-checkable). v₀ = 1 on CONV; each step
    v'(s) = Σ P(s→d)·v(d) with the absorbing rows re-pinned; per-step
    terms sum through DECIMAL so neither engine's aggregation order
    matters. Reported per channel plus the START row (the corpus-level
    8-step conversion rate). Transition counts come from the SAME
    distributed journey machinery (operators/attribution.py) the
    removal-effect and Shapley queries share."""
    from decimal import ROUND_HALF_UP, Decimal

    from technical_test_data_engineer_spark.operators.attribution import (
        CONV,
        DROP,
        fetch_transition_counts,
    )

    # bounded collect — the removal-effect/CC discipline: the transition
    # relation is channel-vocabulary-sized, and 8 recursion steps as
    # Spark jobs are pure scheduler latency (measured 12-19 s for ~30
    # rows); the DISTRIBUTED work is journey_transition_counts
    counts = fetch_transition_counts(load_table(spark, sf_dir, "events"))
    tot: dict[str, int] = {}
    for r in counts:
        tot[r["src"]] = tot.get(r["src"], 0) + r["n"]
    edges = [(r["src"], r["dst"], r["n"] / tot[r["src"]]) for r in counts]
    # the recursion replicates the oracle's arithmetic EXACTLY: each
    # term is the double product cast to DECIMAL(30,15) (HALF_UP — both
    # engines' decimal-cast rounding), summed exactly, surfaced as the
    # nearest double — so aggregation order cannot matter on either side
    q15 = Decimal(1).scaleb(-15)
    q6 = Decimal(1).scaleb(-6)
    v: dict[str, float] = {CONV: 1.0, DROP: 0.0}
    for _ in range(_K_STEPS):
        acc: dict[str, Decimal] = {}
        for src, dst, prob in edges:
            term = Decimal(prob * v.get(dst, 0.0)).quantize(
                q15, ROUND_HALF_UP
            )
            acc[src] = acc.get(src, Decimal(0)) + term
        v = {s: float(x) for s, x in acc.items()}
        v[CONV] = 1.0
        v[DROP] = 0.0
    rows = sorted(
        (s, float(Decimal(x).quantize(q6, ROUND_HALF_UP)))
        for s, x in v.items()
        if s not in (CONV, DROP)
    )
    return local_frame(spark, rows, "state string, p_convert_k8 double").orderBy(
        "state"
    )


@query(
    "daily_revenue_runs_test",
    f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               {_decsum('o_totalprice')} AS rev
        FROM orders GROUP BY 1
    ),
    med AS (
        SELECT PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY rev) AS m
        FROM daily
    ),
    signs AS (
        SELECT day, rev > m AS above,
               LAG(rev > m) OVER (ORDER BY day) AS prev_above
        FROM daily CROSS JOIN med
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1,
               CAST(SUM(CASE WHEN above THEN 0 ELSE 1 END) AS BIGINT)
                   AS n2,
               CAST(1 + SUM(CASE WHEN prev_above IS NOT NULL
                                  AND above <> prev_above
                            THEN 1 ELSE 0 END) AS BIGINT) AS runs
        FROM signs
    )
    SELECT n AS n_days, n1 AS n_above, n2 AS n_below, runs,
           ROUND(2.0 * n1 * n2 / (n1 + n2) + 1.0, 6) AS expected_runs,
           ROUND((runs - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
                 / SQRT(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / ((n1 + n2) * (n1 + n2) * 1.0 * (n1 + n2 - 1))),
                 6) AS z
    FROM agg
    """,
)
def daily_revenue_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on the daily revenue series — the
    nonparametric randomness screen that complements the ACF readout
    (forensics family with Benford): too FEW runs of above/below-median
    days means level shifts or drift, too MANY means oscillation; the
    z-score against the exact run-count moments makes it a one-number
    monitor. One fact-sized aggregation to the day spine; median,
    signs, lag, and moments all run on days. The sign comparison uses
    the interpolated median of a continuous series (ties measure-zero),
    so both engines produce identical run sequences."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(exact_sum("o_totalprice").alias("rev")).persist()
    med = daily.agg(F.percentile("rev", F.lit(0.5)).alias("m"))
    signs = (
        daily.crossJoin(F.broadcast(med))
        .select("day", (F.col("rev") > F.col("m")).alias("above"))
        .select(
            "above", F.lag("above").over(Window.orderBy("day")).alias("prev_above")
        )
    )
    agg = signs.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("above"), 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("above"), 0).otherwise(1)).cast("bigint").alias("n2"),
        (
            F.lit(1)
            + F.sum(
                F.when(
                    F.col("prev_above").isNotNull()
                    & (F.col("above") != F.col("prev_above")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("bigint")
        .alias("runs"),
    )
    mu = 2.0 * F.col("n1") * F.col("n2") / (F.col("n1") + F.col("n2")) + 1.0
    sig = F.sqrt(
        2.0
        * F.col("n1")
        * F.col("n2")
        * (2.0 * F.col("n1") * F.col("n2") - F.col("n1") - F.col("n2"))
        / (
            (F.col("n1") + F.col("n2"))
            * (F.col("n1") + F.col("n2"))
            * 1.0
            * (F.col("n1") + F.col("n2") - 1)
        )
    )
    return agg.select(
        F.col("n").alias("n_days"),
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        "runs",
        F.round(mu, 6).alias("expected_runs"),
        F.round((F.col("runs") - mu) / sig, 6).alias("z"),
    )


@query(
    "daily_revenue_cusum",
    f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               {_decsum('o_totalprice')} AS rev
        FROM orders GROUP BY 1
    ),
    m AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(rev AS DECIMAL(30,10))) AS DOUBLE) AS s,
               CAST(SUM(CAST(rev * rev AS DECIMAL(38,8))) AS DOUBLE) AS ss
        FROM daily
    ),
    st AS (
        SELECT n, s / n AS mu,
               SQRT(ss / n - (s / n) * (s / n)) AS sigma
        FROM m
    )
    SELECT day,
           ROUND(CAST(SUM(CAST(rev - mu AS DECIMAL(30,10))) OVER w
                      AS DOUBLE) / sigma, 6) + 0.0 AS cusum
    FROM daily CROSS JOIN st
    WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
    ORDER BY day
    """,
)
def daily_revenue_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point curve of daily revenue — Page's cumulative-sum
    monitor in its retrospective form: Sₜ = Σ(xᵢ−μ)/σ drifts near zero
    under a stable level and bends at a change point (its extremum is
    the classic change-point locator); the monitoring twin of the
    decomposition/ACF/runs diagnostics. One fact-sized aggregation to
    the day spine; global moments ride DECIMAL, the cumulative sum of
    centered deviations accumulates in DECIMAL (order-free), and the
    per-day standardization is a broadcast-scalar attach."""
    orders = load_table(spark, sf_dir, "orders")
    # persisted: the day spine feeds the global moments and the curve
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(exact_sum("o_totalprice").alias("rev")).persist()
    m = daily.agg(
        F.count("*").alias("n"),
        exact_sum(F.col("rev"), "s"),
        exact_sum(F.col("rev") * F.col("rev"), "ss", precision=38, scale=8),
    )
    st = m.select(
        (F.col("s") / F.col("n")).alias("mu"),
        F.sqrt(
            F.col("ss") / F.col("n")
            - (F.col("s") / F.col("n")) * (F.col("s") / F.col("n"))
        ).alias("sigma"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.crossJoin(F.broadcast(st))
        .select(
            "day",
            # + 0.0 normalizes IEEE signed zero: on the final day the
            # telescoped Σ(rev−μ) residual rounds to zero with engine-
            # dependent sign (Spark 0.0 vs DuckDB -0.0 — the r07 driver
            # red); -0.0 + 0.0 = +0.0 and nonzero values are unchanged.
            (F.round(
                F.sum(dec(F.col("rev") - F.col("mu"))).over(w).cast("double")
                / F.col("sigma"),
                6,
            ) + F.lit(0.0)).alias("cusum"),
        )
        .orderBy("day")
    )


@query(
    "ab_test_covariate_balance",
    """
    WITH u AS (
        SELECT user_id, user_id % 2 = 0 AS in_a,
               CAST(SUM(CASE WHEN event_type = 'view'
                             THEN CAST(value AS DECIMAL(30,10))
                             ELSE CAST(0 AS DECIMAL(30,10)) END)
                    AS DOUBLE) AS view_sum,
               CAST(SUM(CASE WHEN event_type = 'click'
                             THEN CAST(value AS DECIMAL(30,10))
                             ELSE CAST(0 AS DECIMAL(30,10)) END)
                    AS DOUBLE) AS click_sum,
               CAST(COUNT(*) AS DOUBLE) AS n_events
        FROM events GROUP BY user_id
    ),
    long_ AS (
        SELECT in_a, 'view_sum' AS covariate, view_sum AS x FROM u
        UNION ALL SELECT in_a, 'click_sum', click_sum FROM u
        UNION ALL SELECT in_a, 'n_events', n_events FROM u
    ),
    m AS (
        SELECT covariate, in_a, COUNT(*) AS n,
               CAST(SUM(CAST(x AS DECIMAL(30,10))) AS DOUBLE) AS s,
               CAST(SUM(CAST(x * x AS DECIMAL(30,10))) AS DOUBLE) AS ss
        FROM long_ GROUP BY covariate, in_a
    ),
    w AS (
        SELECT a.covariate,
               CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
               a.s / a.n AS mean_a, b.s / b.n AS mean_b,
               (a.ss - a.s * a.s / a.n) / (a.n - 1) AS var_a,
               (b.ss - b.s * b.s / b.n) / (b.n - 1) AS var_b
        FROM m a JOIN m b ON a.covariate = b.covariate
         AND a.in_a AND NOT b.in_a
    )
    SELECT covariate, n_a, n_b,
           ROUND(mean_a, 6) AS mean_a, ROUND(mean_b, 6) AS mean_b,
           ROUND((mean_a - mean_b) / SQRT((var_a + var_b) / 2.0), 6)
               AS smd
    FROM w ORDER BY covariate
    """,
)
def ab_test_covariate_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariate balance audit — the FIRST table any experiment readout
    should show (randomization-health check): standardized mean
    difference (mean_A − mean_B) / √((var_A+var_B)/2) per pre-exposure
    covariate; |SMD| > 0.1 flags a broken randomizer or instrumented
    assignment bias, invalidating everything downstream (CUPED, SPRT,
    uplift all assume balance). One user-keyed shuffle to covariate
    sufficient statistics, unpivoted to long form, then a 6-row moment
    frame. DECIMAL accumulation; rounded to 6dp (sqrt ulp)."""
    events = load_table(spark, sf_dir, "events")
    zero = dec(F.lit(0))
    u = events.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "view", dec(F.col("value"))).otherwise(zero)
        ).cast("double").alias("view_sum"),
        F.sum(
            F.when(F.col("event_type") == "click", dec(F.col("value"))).otherwise(zero)
        ).cast("double").alias("click_sum"),
        F.count("*").cast("double").alias("n_events"),
    ).select((F.col("user_id") % 2 == 0).alias("in_a"), "view_sum", "click_sum", "n_events")
    # persisted: the per-user covariate frame feeds the 3-way unpivot —
    # one events scan total (tests/PLAN_SHAPES.json)
    u = u.persist()
    long_ = (
        u.select("in_a", F.lit("view_sum").alias("covariate"), F.col("view_sum").alias("x"))
        .unionByName(u.select("in_a", F.lit("click_sum").alias("covariate"), F.col("click_sum").alias("x")))
        .unionByName(u.select("in_a", F.lit("n_events").alias("covariate"), F.col("n_events").alias("x")))
    )
    m = long_.groupBy("covariate", "in_a").agg(
        F.count("*").alias("n"),
        exact_sum(F.col("x"), "s"),
        exact_sum(F.col("x") * F.col("x"), "ss"),
    )
    a = m.filter(F.col("in_a")).select(
        "covariate",
        F.col("n").alias("na"), F.col("s").alias("sa"), F.col("ss").alias("ssa"),
    )
    b = m.filter(~F.col("in_a")).select(
        "covariate",
        F.col("n").alias("nb"), F.col("s").alias("sb"), F.col("ss").alias("ssb"),
    )
    j = a.join(b, "covariate")
    mean_a = F.col("sa") / F.col("na")
    mean_b = F.col("sb") / F.col("nb")
    var_a = (F.col("ssa") - F.col("sa") * F.col("sa") / F.col("na")) / (F.col("na") - 1)
    var_b = (F.col("ssb") - F.col("sb") * F.col("sb") / F.col("nb")) / (F.col("nb") - 1)
    return j.select(
        "covariate",
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round(
            (mean_a - mean_b) / F.sqrt((var_a + var_b) / F.lit(2.0)), 6
        ).alias("smd"),
    ).orderBy("covariate")


@query(
    "event_path_trigrams",
    """
    WITH seq AS (
        SELECT user_id, event_type AS e1,
               LEAD(event_type, 1) OVER w AS e2,
               LEAD(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP), event_id)
    ),
    tri AS (
        SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE e3 IS NOT NULL
        GROUP BY e1, e2, e3
    )
    SELECT e1, e2, e3, n, CAST(rn AS INT) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            ORDER BY n DESC, e1, e2, e3
        ) AS rn FROM tri
    )
    WHERE rn <= 20
    ORDER BY rank
    """,
)
def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top behavioral paths — third-order sequence mining over user
    event streams (the Sankey/flow readout product teams live in, and
    the higher-order complement of the first-order Markov transition
    matrix): per-user ordered event-type trigrams via two LEADs in one
    window pass, counted and ranked. One user-keyed shuffle; the
    trigram vocabulary is event_types³-bounded so counting and ranking
    are tiny. Deterministic (ts, event_id) order and a full tiebreak
    on the rank."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    tri = seq.groupBy("e1", "e2", "e3").agg(
        F.count("*").cast("bigint").alias("n")
    )
    wr = Window.orderBy(F.desc("n"), "e1", "e2", "e3")
    return (
        tri.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 20)
        .select("e1", "e2", "e3", "n", F.col("rn").cast("int").alias("rank"))
        .orderBy("rank")
    )


@query(
    "customer_bg_nbd_stats",
    """
    WITH mx AS (
        SELECT MAX(CAST(o_orderdate AS DATE)) AS mxd FROM orders
    ),
    cust AS (
        SELECT o_custkey,
               CAST(COUNT(*) - 1 AS BIGINT) AS x,
               CAST(MAX(CAST(o_orderdate AS DATE))
                    - MIN(CAST(o_orderdate AS DATE)) AS BIGINT) AS t_x,
               CAST(MAX(mxd) - MIN(CAST(o_orderdate AS DATE)) AS BIGINT)
                   AS t_obs
        FROM orders CROSS JOIN mx
        GROUP BY o_custkey
    ),
    b AS (
        SELECT CASE WHEN x >= 10 THEN 10 ELSE x END AS x_bucket,
               t_x, t_obs
        FROM cust
    )
    SELECT CAST(x_bucket AS INT) AS repeat_orders,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(CAST(SUM(t_x) AS DOUBLE)
                 / COUNT(*), 6) AS avg_recency_days,
           ROUND(CAST(SUM(t_obs) AS DOUBLE)
                 / COUNT(*), 6) AS avg_age_days
    FROM b GROUP BY x_bucket ORDER BY repeat_orders
    """,
)
def customer_bg_nbd_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BG/NBD sufficient statistics — the input table of the standard
    buy-till-you-die CLV model (Fader/Hardie): per customer the repeat
    count x, recency t_x (first→last purchase), and observation age T,
    rolled to the x-bucket frequency table the model is fit against
    (the whole 100 TB history reduces to ~11 rows of sufficient
    statistics — the same compression discipline as the OLS/CUPED
    moments, applied to CLV). One keyed aggregation; the max-date
    scalar attaches broadcast; day arithmetic is integer-exact —
    r14: the day sums fold as exact BIGINT (t_x / t_obs are integer
    day counts, so the old DECIMAL(30,10)-of-double accumulators were
    integer sums in disguise; bit-identical by construction, oracle
    mirrored in lockstep)."""
    orders = load_table(spark, sf_dir, "orders")
    # one orders scan (the kmeans2 discipline): per-customer first/last
    # dates aggregate first (persisted); the observation horizon is the
    # max of per-customer last dates, attached broadcast
    cust0 = orders.groupBy("o_custkey").agg(
        F.count("*").alias("cnt"),
        F.min(F.col("o_orderdate").cast("date")).alias("first_od"),
        F.max(F.col("o_orderdate").cast("date")).alias("last_od"),
    ).persist()
    mx = cust0.agg(F.max("last_od").alias("mxd"))
    cust = cust0.crossJoin(F.broadcast(mx)).select(
        (F.col("cnt") - 1).cast("bigint").alias("x"),
        F.datediff(F.col("last_od"), F.col("first_od"))
        .cast("bigint")
        .alias("t_x"),
        F.datediff(F.col("mxd"), F.col("first_od"))
        .cast("bigint")
        .alias("t_obs"),
    )
    b = cust.select(
        F.when(F.col("x") >= 10, 10).otherwise(F.col("x")).alias("x_bucket"),
        "t_x",
        "t_obs",
    )
    return (
        b.groupBy(F.col("x_bucket").cast("int").alias("repeat_orders"))
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.round(
                F.sum("t_x").cast("double") / F.count("*"), 6
            ).alias("avg_recency_days"),
            F.round(
                F.sum("t_obs").cast("double") / F.count("*"), 6
            ).alias("avg_age_days"),
        )
        .orderBy("repeat_orders")
    )


@query(
    "orders_double_submission",
    """
    WITH o AS (
        SELECT o_orderkey, o_custkey, o_totalprice,
               CAST(FLOOR(o_totalprice / 10000) AS BIGINT) AS band,
               CAST(o_orderdate AS DATE) AS od
        FROM orders
    )
    SELECT a.o_orderkey AS key_a, b.o_orderkey AS key_b,
           a.o_custkey AS custkey,
           ROUND(a.o_totalprice, 2) AS price_a,
           ROUND(b.o_totalprice, 2) AS price_b,
           CAST(b.od - a.od AS BIGINT) AS gap_days
    FROM o a JOIN o b
      ON a.o_custkey = b.o_custkey
     AND a.band = b.band
     AND a.o_orderkey < b.o_orderkey
    WHERE b.od >= a.od - 30 AND b.od <= a.od + 30
    ORDER BY key_a, key_b
    """,
)
def orders_double_submission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-submission detector — the idempotency audit every ingest
    pipeline runs on transactional facts: pairs of orders from the
    same customer in the SAME amount band (10k-wide) within ±30 days —
    the retry/duplicate-payment candidate signature exact-key dedup
    misses because the order keys differ (an exact-amount match is the
    degenerate case; the band catches amended resubmissions too, and
    the synthetic fixture has no exact-amount twins at all — the band
    keeps the audit non-vacuous). The join is hash-equi on (customer,
    band) — the blocked-linkage discipline — with date proximity as a
    residual filter, so no fact×fact explosion at scale."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.floor(F.col("o_totalprice") / 10000).cast("bigint").alias("band"),
        F.col("o_orderdate").cast("date").alias("od"),
    )
    a, b = o.alias("a"), o.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .filter(
            (F.col("b.od") >= F.date_sub(F.col("a.od"), 30))
            & (F.col("b.od") <= F.date_add(F.col("a.od"), 30))
        )
        .select(
            F.col("a.o_orderkey").alias("key_a"),
            F.col("b.o_orderkey").alias("key_b"),
            F.col("a.o_custkey").alias("custkey"),
            F.round(F.col("a.o_totalprice"), 2).alias("price_a"),
            F.round(F.col("b.o_totalprice"), 2).alias("price_b"),
            F.datediff(F.col("b.od"), F.col("a.od"))
            .cast("bigint")
            .alias("gap_days"),
        )
        .orderBy("key_a", "key_b")
    )


@query(
    "hourly_traffic_profile",
    """
    WITH g AS (
        SELECT ISODOW(CAST(ts AS TIMESTAMP)) AS dow,
               EXTRACT(HOUR FROM CAST(ts AS TIMESTAMP)) AS hr,
               COUNT(*) AS n,
               SUM(CAST(value AS DECIMAL(30,10))) AS sv
        FROM events GROUP BY 1, 2
    ),
    t AS (SELECT SUM(n) AS tot FROM g)
    SELECT CAST(dow AS INT) AS dow, CAST(hr AS INT) AS hour,
           CAST(n AS BIGINT) AS n_events,
           ROUND(CAST(n AS DOUBLE) / tot, 6) AS traffic_share,
           ROUND(CAST(sv AS DOUBLE) / n, 6) AS avg_value
    FROM g CROSS JOIN t
    ORDER BY dow, hour
    """,
)
def hourly_traffic_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday × hour traffic heatmap — the two-factor seasonal profile
    behind every capacity plan and on-call schedule: event share and
    mean value per (ISO weekday, hour) cell. One scan to the ≤168-cell
    grid (scan-side calendar expressions, Spark ``weekday()+1`` ≡
    DuckDB ``ISODOW``, both engines' hour from the same µs-truncated
    timestamp); the share normalizer is a 1-row broadcast."""
    events = load_table(spark, sf_dir, "events")
    g = events.groupBy(
        (F.weekday("ts") + F.lit(1)).alias("dow"),
        F.hour("ts").alias("hr"),
    ).agg(
        F.count("*").alias("n"),
        F.sum(dec(F.col("value"))).alias("sv"),
    ).persist()
    t = g.agg(F.sum("n").alias("tot"))
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            F.col("dow").cast("int").alias("dow"),
            F.col("hr").cast("int").alias("hour"),
            F.col("n").cast("bigint").alias("n_events"),
            F.round(F.col("n").cast("double") / F.col("tot"), 6).alias(
                "traffic_share"
            ),
            F.round(F.col("sv").cast("double") / F.col("n"), 6).alias(
                "avg_value"
            ),
        )
        .orderBy("dow", "hour")
    )


@query(
    "ab_test_ipw_ate",
    """
    WITH u AS (
        SELECT user_id,
               user_id % 2 = 0 AS t,
               COUNT(*) FILTER (WHERE event_type = 'view') AS n_views,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN CAST(value AS DECIMAL(30,10))
                             ELSE CAST(0 AS DECIMAL(30,10)) END)
                    AS DOUBLE) AS y
        FROM events GROUP BY user_id
    ),
    strata AS (
        SELECT LEAST(5, CAST(FLOOR(n_views / 10.0) AS BIGINT)) AS stratum,
               COUNT(*) AS n,
               COUNT(*) FILTER (WHERE t) AS n_t,
               CAST(SUM(CASE WHEN t THEN CAST(y AS DECIMAL(30,10))
                             ELSE CAST(0 AS DECIMAL(30,10)) END)
                    AS DOUBLE) AS sy_t,
               CAST(SUM(CASE WHEN NOT t THEN CAST(y AS DECIMAL(30,10))
                             ELSE CAST(0 AS DECIMAL(30,10)) END)
                    AS DOUBLE) AS sy_c
        FROM u GROUP BY 1
    ),
    valid AS (
        SELECT *, CAST(n_t AS DOUBLE) / n AS p
        FROM strata WHERE n_t > 0 AND n_t < n
    )
    SELECT CAST(SUM(n) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_strata,
           ROUND(SUM(sy_t) / SUM(n_t) - SUM(sy_c) / SUM(n - n_t), 6)
               AS ate_naive,
           ROUND(SUM(sy_t / p) / SUM(n_t / p)
                 - SUM(sy_c / (1 - p)) / SUM((n - n_t) / (1 - p)), 6)
               AS ate_ipw
    FROM valid
    """,
)
def ab_test_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted ATE (stabilized Hajek estimator)
    with stratified propensity scores — the observational-causal
    workhorse that completes the experimentation family (Welch, CUPED,
    SPRT, uplift deciles, survival): propensity per activity stratum
    (views-count bins, the pre-treatment covariate) is the within-
    stratum treated fraction; treated/control outcome sums are
    reweighted by 1/p and 1/(1-p), normalized by the weight sums
    (Hajek — bounded, unlike Horvitz-Thompson). Off-support strata
    (single-arm) are excluded, the count surfaced. Under the even/odd
    randomization IPW should track the naive difference — the
    agreement IS the diagnostic. Scale shape: one events scan -> user
    agg -> 6-row stratum agg -> 1-row reduce; entirely map-side-
    combinable sufficient statistics, no attach, no window."""
    events = load_table(spark, sf_dir, "events")
    u = events.groupBy("user_id").agg(
        F.sum((F.col("event_type") == "view").cast("int")).alias("n_views"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase", dec(F.col("value"))
            ).otherwise(dec(F.lit(0)))
        )
        .cast("double")
        .alias("y"),
    ).select(
        (F.col("user_id") % 2 == 0).alias("t"), "n_views", "y"
    )
    strata = u.groupBy(
        F.least(F.lit(5), F.floor(F.col("n_views") / 10.0).cast("bigint")).alias(
            "stratum"
        )
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("t").cast("int")).alias("n_t"),
        F.sum(F.when(F.col("t"), dec(F.col("y"))).otherwise(dec(F.lit(0))))
        .cast("double")
        .alias("sy_t"),
        F.sum(F.when(~F.col("t"), dec(F.col("y"))).otherwise(dec(F.lit(0))))
        .cast("double")
        .alias("sy_c"),
    )
    valid = strata.filter(
        (F.col("n_t") > 0) & (F.col("n_t") < F.col("n"))
    ).withColumn("p", F.col("n_t").cast("double") / F.col("n"))
    return valid.agg(
        F.sum("n").cast("bigint").alias("n_users"),
        F.count("*").cast("bigint").alias("n_strata"),
        F.round(
            F.sum("sy_t") / F.sum("n_t")
            - F.sum("sy_c") / F.sum(F.col("n") - F.col("n_t")),
            6,
        ).alias("ate_naive"),
        F.round(
            F.sum(F.col("sy_t") / F.col("p"))
            / F.sum(F.col("n_t") / F.col("p"))
            - F.sum(F.col("sy_c") / (1 - F.col("p")))
            / F.sum((F.col("n") - F.col("n_t")) / (1 - F.col("p"))),
            6,
        ).alias("ate_ipw"),
    )


# daily_revenue_repeated_median's day-frame ceiling: its docstring's
# ~4 GB driver peak at 10k days (about 27 years of daily grain)
_REPMED_MAX_DAYS = 10_000


@query(
    "daily_revenue_repeated_median",
    f"""
    WITH daily AS (
        SELECT CAST(DATE_DIFF('day', DATE '1992-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
               {_decsum('o_totalprice')} AS y
        FROM orders GROUP BY 1
    ),
    anchor AS (
        SELECT a.x,
               CAST(PERCENTILE_CONT(0.5) WITHIN GROUP (
                   ORDER BY (b.y - a.y) / (b.x - a.x)
               ) AS DOUBLE) AS med_slope,
               CAST(COUNT(*) AS BIGINT) AS n_partners
        FROM daily a JOIN daily b ON a.x <> b.x
        GROUP BY a.x
    ),
    ts AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(n_partners) AS BIGINT) AS n_pairs,
               CAST(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY med_slope)
                    AS DOUBLE) AS slope
        FROM anchor
    ),
    ols AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(x AS DECIMAL(30,10))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(30,10))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x * y AS DECIMAL(38,8))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(x * x AS DECIMAL(38,8))) AS DOUBLE) AS sxx
        FROM daily
    )
    SELECT ts.n_days,
           ts.n_pairs,
           ROUND(ts.slope, 6) AS repmed_slope,
           ROUND((SELECT CAST(PERCENTILE_CONT(0.5)
                              WITHIN GROUP (ORDER BY y - ts.slope * x)
                         AS DOUBLE) FROM daily), 6) AS intercept,
           ROUND((ols.sxy - ols.sx * ols.sy / ols.n)
                 / (ols.sxx - ols.sx * ols.sx / ols.n), 6) AS ols_slope
    FROM ols CROSS JOIN ts
    """,
)
def daily_revenue_repeated_median(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Siegel REPEATED-MEDIAN robust trend of daily revenue — per
    anchor day, the median slope to every other day; the estimate is
    the median of those per-anchor medians (50% breakdown point, vs
    29.3% for Theil-Sen and 0% for OLS, which is reported alongside so
    the gap itself flags outlier days). The two-level median is the
    SCALE-CORRECT robust regression: a flat Theil-Sen needs one exact
    median over all O(d^2) pair slopes (a single unbounded aggregation
    buffer — it OOMs a default-heap session at 5.7M pairs), while the
    repeated median's inner percentile is GROUPED by anchor, so every
    aggregation buffer is bounded by the d-sized day frame and the
    outer median sees only d values. The pair join is calendar-bounded
    (~2.4k-row day frame regardless of fact scale); the 100 TB fact
    table contributes only the one keyed daily agg. Medians use the
    interpolated-percentile convention.

    r15 (guide §1.2; VERDICT item 2 flagged this query's driver
    drift): the day frame is CALENDAR-bounded (~2.4k rows at any fact
    scale), so the d² slope matrix, both median levels and the
    residual median now run driver-side in numpy off ONE Arrow fetch
    of the daily aggregate — the 5.7M-row NLJ, two grouped
    interpreted-percentile aggregates (the ImperativeAggregate whose
    first-use JIT cost the r10 bench burn-in exists for) and two
    persists are gone; only the fact-sized daily agg and the OLS
    moment agg stay distributed. The percentile mirror uses Spark's
    EXACT interpolation arithmetic — (higher−pos)·lower +
    (pos−lower)·higher, NOT the lerp form, which differs by an ulp on
    ties (adversarially discriminated and pinned in
    tests/test_round15_ops.py) — and every slope/residual is the same
    IEEE double expression the old plan evaluated, so all five output
    values are bit-identical. SCALE CEILING: the driver peak is
    ≈ 5·d²·8 B — ``dx``, ``dy``, the two masked gathers and ``slopes``
    are live at once (~230 MB at 2.4k days; ~53 GB at a century of
    daily grain), so a driver with a few GB of heap caps d near 10k
    days (~4 GB, about 27 years) — past that, the documented fallback
    is this query's previous shape (grouped percentile over the pair
    NLJ, every buffer d-bounded). Oracle unchanged."""
    import math

    import numpy as np

    orders = load_table(spark, sf_dir, "orders")
    # persisted: the bounded collect and the OLS moment agg both
    # consume it — one fact scan total
    daily = (
        orders.groupBy(
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1992-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("x")
        )
        .agg(exact_sum("o_totalprice").alias("y"))
        .persist()
    )
    # calendar-bounded collect (see docstring); every median below
    # sorts first, so the fetch order does not matter
    pdf = collect_bounded(
        daily, _REPMED_MAX_DAYS, "daily_revenue_repeated_median days"
    ).to_pandas()
    xs = pdf["x"].to_numpy(dtype=np.int64)
    ys = pdf["y"].to_numpy(dtype=np.float64)
    d = len(xs)

    def _spark_pctl50(sorted_vals: np.ndarray) -> float:
        # Spark Percentile interpolation, mirrored exactly:
        # (higher - pos) * lower + (pos - lower) * higher
        n = sorted_vals.shape[-1]
        pos = 0.5 * (n - 1)
        lo = math.floor(pos)
        hi = math.ceil(pos)
        if lo == hi:
            return sorted_vals[..., lo]
        return (hi - pos) * sorted_vals[..., lo] + (pos - lo) * sorted_vals[
            ..., hi
        ]

    if d >= 2:
        dx = (xs[None, :] - xs[:, None]).astype(np.float64)
        dy = ys[None, :] - ys[:, None]
        off = ~np.eye(d, dtype=bool)
        # (d, d-1) per-anchor slope rows, diagonal removed; division
        # and subtraction are the identical IEEE double ops the old
        # plan's (yb - ya) / cast(xb - xa AS double) evaluated
        slopes = (dy[off] / dx[off]).reshape(d, d - 1)
        slopes.sort(axis=1)
        med = _spark_pctl50(slopes)
        med = np.sort(np.asarray(med, dtype=np.float64))
        slope = float(_spark_pctl50(med))
        resid = np.sort(ys - slope * xs)
        intercept = float(_spark_pctl50(resid))
        n_pairs = d * (d - 1)
        n_days = d
    else:
        # degenerate 0/1-day corpus: the old plan's anchor frame is
        # EMPTY, so its ungrouped rollup yielded count 0 / NULL sum /
        # NULL percentiles — mirror that exactly
        slope = None
        intercept = None
        n_pairs = None
        n_days = 0

    from technical_test_data_engineer_spark.functions.mirrors import spark_round

    def _r6(v):
        return None if v is None else spark_round(v, 6)

    ols = daily.agg(
        F.count("*").alias("n"),
        exact_sum(F.col("x"), "sx"),
        exact_sum(F.col("y"), "sy"),
        exact_sum(F.col("x") * F.col("y"), "sxy", precision=38, scale=8),
        exact_sum(F.col("x") * F.col("x"), "sxx", precision=38, scale=8),
    )
    return ols.select(
        F.lit(n_days).cast("bigint").alias("n_days"),
        F.lit(n_pairs).cast("bigint").alias("n_pairs"),
        F.lit(_r6(slope)).cast("double").alias("repmed_slope"),
        F.lit(_r6(intercept)).cast("double").alias("intercept"),
        F.round(
            (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")),
            6,
        ).alias("ols_slope"),
    )


@query(
    "daily_revenue_changepoint",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS rev
        FROM orders GROUP BY 1
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(CAST(SUM(rev) AS DECIMAL(38,2)) AS DOUBLE) AS s
        FROM daily
    ),
    cum AS (
        SELECT day,
               CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS nl,
               CAST(CAST(SUM(rev) OVER (
                   ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS DECIMAL(38,2)) AS DOUBLE) AS cl
        FROM daily
    ),
    gains AS (
        SELECT cum.day AS split_day, cum.nl AS n_left,
               tot.n - cum.nl AS n_right,
               cum.cl / cum.nl AS mean_left,
               (tot.s - cum.cl) / (tot.n - cum.nl) AS mean_right,
               CAST(cum.nl AS DOUBLE) * (tot.n - cum.nl) / tot.n
                   * (cum.cl / cum.nl - (tot.s - cum.cl) / (tot.n - cum.nl))
                   * (cum.cl / cum.nl - (tot.s - cum.cl) / (tot.n - cum.nl))
                   AS gain
        FROM cum CROSS JOIN tot
        WHERE cum.nl < tot.n
    )
    SELECT split_day, n_left, n_right,
           ROUND(mean_left, 6) AS mean_left,
           ROUND(mean_right, 6) AS mean_right,
           ROUND(mean_right - mean_left, 6) AS level_shift,
           ROUND(gain, 2) AS sse_gain
    FROM gains
    ORDER BY ROUND(gain, 2) DESC, split_day
    LIMIT 1
    """,
)
def daily_revenue_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point detection by binary segmentation (the first
    split of the classic Scott-Knott / binseg recursion; Truong et al.
    2020 survey): the day t whose left/right partition maximizes the
    between-segment sum of squares n_l*n_r/n*(m_l-m_r)^2 — equivalently
    the largest SSE reduction a one-break piecewise-constant fit buys.
    The locator CUSUM's extremum only hints at; this reports the argmax
    split with its level shift, turning the daily_revenue_cusum monitor
    into an actionable 'regime changed HERE' readout. All candidate
    splits are scored from cumulative sufficient statistics: one
    fact-sized agg to the day spine, one DECIMAL cumulative-sum window
    (order-free exact prefix sums), a 1-row total attach, pure double
    algebra per row — no per-split re-scan, so the 100 TB cost is the
    day-spine agg regardless of series length. Argmax via rounded-gain
    ordering with day tiebreak (float-drift-proof rank).

    Cross-engine determinism (r08 driver red, root-caused): sums stay
    DECIMAL end-to-end and rescale to scale 2 (exact — monetary data
    has 2 decimals) before the double cast, so the scaled integer fits
    in 2^53 and BOTH engines' casts are single-rounded (DuckDB's
    decimal->double at scale 10 is double-rounded and came back 1 ulp
    off Spark on the grand total, which the squared mean gap amplified
    to 0.05 at 1e12 magnitude). sse_gain rounds at 2 decimals — at
    1e12 magnitude, x*1e6 overflows 2^53 and DuckDB's multiply-based
    ROUND(x, 6) is not exact; x*100 is."""
    orders = load_table(spark, sf_dir, "orders")
    # persisted: the day spine feeds the 1-row total AND the cumulative curve
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum(dec(F.col("o_totalprice"))).alias("rev")).persist()
    tot = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        dec(F.sum(F.col("rev")), 38, 2).cast("double").alias("s"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("nl"),
        dec(F.sum(F.col("rev")).over(w), 38, 2).cast("double").alias("cl"),
    )
    ml = F.col("cl") / F.col("nl")
    mr = (F.col("s") - F.col("cl")) / (F.col("n") - F.col("nl"))
    gain = (
        F.col("nl").cast("double")
        * (F.col("n") - F.col("nl"))
        / F.col("n")
        * (ml - mr)
        * (ml - mr)
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("nl") < F.col("n"))
        .select(
            F.col("day").alias("split_day"),
            F.col("nl").alias("n_left"),
            (F.col("n") - F.col("nl")).alias("n_right"),
            F.round(ml, 6).alias("mean_left"),
            F.round(mr, 6).alias("mean_right"),
            F.round(mr - ml, 6).alias("level_shift"),
            F.round(gain, 2).alias("sse_gain"),
        )
        .orderBy(F.desc(F.col("sse_gain")), "split_day")
        .limit(1)
    )


@query(
    "ab_test_bayes_beta",
    """
    WITH u AS (
        SELECT user_id, user_id % 2 = 0 AS in_a,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM events GROUP BY user_id
    ),
    arm AS (
        SELECT CAST(COUNT(*) FILTER (WHERE in_a) AS BIGINT) AS n_a,
               CAST(COALESCE(SUM(conv) FILTER (WHERE in_a), 0) AS BIGINT)
                   AS conv_a,
               CAST(COUNT(*) FILTER (WHERE NOT in_a) AS BIGINT) AS n_b,
               CAST(COALESCE(SUM(conv) FILTER (WHERE NOT in_a), 0)
                    AS BIGINT) AS conv_b
        FROM u
    ),
    post AS (
        SELECT n_a, conv_a, n_b, conv_b,
               (conv_a + 1.0) / (n_a + 2.0) AS ma,
               (conv_b + 1.0) / (n_b + 2.0) AS mb,
               ((conv_a + 1.0) / (n_a + 2.0))
                   * (1.0 - (conv_a + 1.0) / (n_a + 2.0)) / (n_a + 3.0)
                   AS va,
               ((conv_b + 1.0) / (n_b + 2.0))
                   * (1.0 - (conv_b + 1.0) / (n_b + 2.0)) / (n_b + 3.0)
                   AS vb
        FROM arm
    )
    SELECT n_a, conv_a, n_b, conv_b,
           ROUND(ma, 6) AS post_mean_a,
           ROUND(mb, 6) AS post_mean_b,
           ROUND(ma - mb, 6) AS delta,
           ROUND(1.0 / (1.0 + EXP(-1.702 * (ma - mb) / SQRT(va + vb))), 6)
               AS p_a_beats_b,
           ROUND(ma - mb - 1.96 * SQRT(va + vb), 6) AS cred_lo,
           ROUND(ma - mb + 1.96 * SQRT(va + vb), 6) AS cred_hi
    FROM post
    """,
)
def ab_test_bayes_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian A/B readout on the even/odd-user conversion experiment:
    Beta(1+s, 1+n-s) posteriors per arm (uniform prior on the purchase
    conversion rate), summarized by their exact means and variances and
    combined into P(rate_A > rate_B) — the 'chance to beat' number a
    Bayesian experimentation dashboard leads with, complementing the
    frequentist Welch/CUPED/mSPRT family. The normal approximation of
    the posterior difference is scored with the logistic-probit map
    Phi(z) ~ 1/(1+exp(-1.702 z)) (Bowling et al. 2009; max abs error
    <0.01) because neither engine ships erf/lgamma as a builtin — the
    LITERAL constant keeps both engines bit-identical, and the 95%
    credible interval uses the literal 1.96 normal quantile the same
    way. Everything reduces to one user-keyed shuffle then a 1-row
    conditional agg; the posterior algebra is driver-free scalar math,
    so the readout costs one pass at any scale."""
    events = load_table(spark, sf_dir, "events")
    u = events.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(
                F.lit(0)
            )
        ).alias("conv")
    ).select((F.col("user_id") % 2 == 0).alias("in_a"), "conv")
    arm = u.agg(
        F.count(F.when(F.col("in_a"), 1)).cast("bigint").alias("n_a"),
        F.coalesce(F.sum(F.when(F.col("in_a"), F.col("conv"))), F.lit(0))
        .cast("bigint")
        .alias("conv_a"),
        F.count(F.when(~F.col("in_a"), 1)).cast("bigint").alias("n_b"),
        F.coalesce(F.sum(F.when(~F.col("in_a"), F.col("conv"))), F.lit(0))
        .cast("bigint")
        .alias("conv_b"),
    )
    ma = (F.col("conv_a") + F.lit(1.0)) / (F.col("n_a") + F.lit(2.0))
    mb = (F.col("conv_b") + F.lit(1.0)) / (F.col("n_b") + F.lit(2.0))
    va = ma * (F.lit(1.0) - ma) / (F.col("n_a") + F.lit(3.0))
    vb = mb * (F.lit(1.0) - mb) / (F.col("n_b") + F.lit(3.0))
    sd = F.sqrt(va + vb)
    return arm.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(ma, 6).alias("post_mean_a"),
        F.round(mb, 6).alias("post_mean_b"),
        F.round(ma - mb, 6).alias("delta"),
        F.round(
            F.lit(1.0)
            / (F.lit(1.0) + F.exp(F.lit(-1.702) * (ma - mb) / sd)),
            6,
        ).alias("p_a_beats_b"),
        F.round(ma - mb - F.lit(1.96) * sd, 6).alias("cred_lo"),
        F.round(ma - mb + F.lit(1.96) * sd, 6).alias("cred_hi"),
    )


@query(
    "ab_test_did",
    """
    WITH p AS (
        SELECT (user_id % 2 = 0) AS in_a,
               (ts >= TIMESTAMP '2024-01-16 00:00:00') AS post,
               CAST(value AS DECIMAL(30,10)) AS v
        FROM events
        WHERE event_type = 'purchase'
    ),
    cell AS (
        SELECT
            COUNT(CASE WHEN in_a AND NOT post THEN 1 END) AS n_pre_a,
            COUNT(CASE WHEN in_a AND post THEN 1 END) AS n_post_a,
            COUNT(CASE WHEN NOT in_a AND NOT post THEN 1 END) AS n_pre_b,
            COUNT(CASE WHEN NOT in_a AND post THEN 1 END) AS n_post_b,
            CAST(SUM(CASE WHEN in_a AND NOT post THEN v
                          ELSE CAST(0 AS DECIMAL(30,10)) END) AS DOUBLE)
                / COUNT(CASE WHEN in_a AND NOT post THEN 1 END) AS m_pre_a,
            CAST(SUM(CASE WHEN in_a AND post THEN v
                          ELSE CAST(0 AS DECIMAL(30,10)) END) AS DOUBLE)
                / COUNT(CASE WHEN in_a AND post THEN 1 END) AS m_post_a,
            CAST(SUM(CASE WHEN NOT in_a AND NOT post THEN v
                          ELSE CAST(0 AS DECIMAL(30,10)) END) AS DOUBLE)
                / COUNT(CASE WHEN NOT in_a AND NOT post THEN 1 END)
                AS m_pre_b,
            CAST(SUM(CASE WHEN NOT in_a AND post THEN v
                          ELSE CAST(0 AS DECIMAL(30,10)) END) AS DOUBLE)
                / COUNT(CASE WHEN NOT in_a AND post THEN 1 END) AS m_post_b
        FROM p
    )
    SELECT CAST(n_pre_a AS BIGINT) AS n_pre_a,
           CAST(n_post_a AS BIGINT) AS n_post_a,
           CAST(n_pre_b AS BIGINT) AS n_pre_b,
           CAST(n_post_b AS BIGINT) AS n_post_b,
           ROUND(m_pre_a, 6) AS mean_pre_a,
           ROUND(m_post_a, 6) AS mean_post_a,
           ROUND(m_pre_b, 6) AS mean_pre_b,
           ROUND(m_post_b, 6) AS mean_post_b,
           ROUND((m_post_a - m_pre_a) - (m_post_b - m_pre_b), 6) AS did
    FROM cell
    """,
)
def ab_test_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on the even/odd-user experiment: mean
    purchase value per (arm, pre/post) cell around the literal
    2024-01-16 cutover, DiD = (post_A − pre_A) − (post_B − pre_B) —
    the causal readout when assignment isn't randomized-at-cutover and
    each arm carries its own level: the control arm's pre→post drift
    nets out shared time shocks (Card & Krueger 1994). Completes the
    experimentation family (Welch, CUPED, mSPRT, IPW, permutation,
    Bayes) with the panel estimator. Plan: one scan-side filtered
    projection, ONE 4-cell conditional agg — no shuffle beyond the
    1-row reduce, the same cost at any event volume. Cell means are
    DECIMAL sums divided in double (both engines execute the identical
    final op); DiD is computed from the unrounded means then rounded
    to 6 alongside them."""
    events = load_table(spark, sf_dir, "events")
    zero = dec(F.lit(0))
    p = events.filter(F.col("event_type") == "purchase").select(
        (F.col("user_id") % 2 == 0).alias("in_a"),
        (F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp")).alias(
            "post"
        ),
        dec(F.col("value")).alias("v"),
    )

    def cnt(cond):
        return F.count(F.when(cond, 1))

    def mean(cond):
        return (
            F.sum(F.when(cond, F.col("v")).otherwise(zero)).cast("double")
            / F.count(F.when(cond, 1))
        )

    a_pre = F.col("in_a") & ~F.col("post")
    a_post = F.col("in_a") & F.col("post")
    b_pre = ~F.col("in_a") & ~F.col("post")
    b_post = ~F.col("in_a") & F.col("post")
    cell = p.agg(
        cnt(a_pre).alias("n_pre_a"),
        cnt(a_post).alias("n_post_a"),
        cnt(b_pre).alias("n_pre_b"),
        cnt(b_post).alias("n_post_b"),
        mean(a_pre).alias("m_pre_a"),
        mean(a_post).alias("m_post_a"),
        mean(b_pre).alias("m_pre_b"),
        mean(b_post).alias("m_post_b"),
    )
    return cell.select(
        F.col("n_pre_a").cast("bigint").alias("n_pre_a"),
        F.col("n_post_a").cast("bigint").alias("n_post_a"),
        F.col("n_pre_b").cast("bigint").alias("n_pre_b"),
        F.col("n_post_b").cast("bigint").alias("n_post_b"),
        F.round("m_pre_a", 6).alias("mean_pre_a"),
        F.round("m_post_a", 6).alias("mean_post_a"),
        F.round("m_pre_b", 6).alias("mean_pre_b"),
        F.round("m_post_b", 6).alias("mean_post_b"),
        F.round(
            (F.col("m_post_a") - F.col("m_pre_a"))
            - (F.col("m_post_b") - F.col("m_pre_b")),
            6,
        ).alias("did"),
    )


@query(
    "event_next_prediction_eval",
    """
    WITH seq AS (
        SELECT (CAST('0x' || SUBSTRING(MD5(CAST(user_id AS VARCHAR)), 1, 8)
                     AS BIGINT) % 100) < 80 AS in_train,
               event_type,
               LAG(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id
               ) AS prev
        FROM events
    ),
    train AS (
        SELECT prev AS from_type, event_type AS to_type,
               COUNT(*) AS n
        FROM seq WHERE prev IS NOT NULL AND in_train
        GROUP BY 1, 2
    ),
    pred AS (
        SELECT from_type, to_type AS predicted_next
        FROM train
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY from_type ORDER BY n DESC, to_type
        ) = 1
    ),
    test AS (
        SELECT prev AS from_type, event_type AS to_type
        FROM seq WHERE prev IS NOT NULL AND NOT in_train
    ),
    ev AS (
        SELECT t.from_type, p.predicted_next,
               CAST(COUNT(*) AS BIGINT) AS n_test,
               CAST(COUNT(CASE WHEN t.to_type = p.predicted_next
                                THEN 1 END) AS BIGINT) AS n_hits
        FROM test t LEFT JOIN pred p ON t.from_type = p.from_type
        GROUP BY 1, 2
    )
    SELECT from_type, predicted_next, n_test, n_hits,
           ROUND(CAST(n_hits AS DOUBLE) / n_test, 6) AS accuracy,
           ROUND(CAST(SUM(n_hits) OVER () AS DOUBLE)
                 / SUM(n_test) OVER (), 6) AS overall_accuracy
    FROM ev
    ORDER BY from_type
    """,
)
def event_next_prediction_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event prediction evaluated the way a training pipeline
    actually ships it: fit the Markov top-1 next-event table on an
    80% md5-bucket USER split (the house split convention — grouping
    by user prevents the leakage a row-level split would cause, since
    one user's transitions would straddle train and test), then score
    top-1 accuracy per from-state on the held-out 20% — turning
    ``event_transition_probs``' descriptive matrix into a measured
    model with a train/eval contract. Argmax is on integer counts with
    lexicographic tiebreak, so the prediction table is drift-proof.
    Plan: ONE user-partitioned lag window builds all transitions (the
    transition-probs shape); the persisted transition frame feeds the
    train count and the test eval; the prediction table is
    states²-bounded and broadcast onto the test counts. At 100 TB the
    only full-data cost is the lag window — everything downstream is
    vocabulary-sized."""
    from technical_test_data_engineer_spark.operators.text import md5_bucket
    from technical_test_data_engineer_spark.operators.windows import (
        top1_per_group,
    )

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").cast("timestamp"), "event_id"
    )
    # persisted: feeds the train transition count AND the test eval
    seq = (
        events.select(
            (md5_bucket(F.col("user_id").cast("string")) < 80).alias(
                "in_train"
            ),
            "event_type",
            F.lag("event_type").over(w).alias("prev"),
        )
        .filter(F.col("prev").isNotNull())
        .persist()
    )
    train = (
        seq.filter("in_train")
        .groupBy(
            F.col("prev").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n"))
    )
    pred = top1_per_group(
        train, ["from_type"], [F.desc("n"), F.asc("to_type")]
    ).select("from_type", F.col("to_type").alias("predicted_next"))
    test = seq.filter(~F.col("in_train")).select(
        F.col("prev").alias("from_type"), F.col("event_type").alias("to_type")
    )
    ev = (
        test.join(F.broadcast(pred), "from_type", "left")
        .groupBy("from_type", "predicted_next")
        .agg(
            F.count("*").cast("bigint").alias("n_test"),
            F.count(
                F.when(F.col("to_type") == F.col("predicted_next"), 1)
            )
            .cast("bigint")
            .alias("n_hits"),
        )
    )
    wg = Window.partitionBy()
    return ev.select(
        "from_type",
        "predicted_next",
        "n_test",
        "n_hits",
        F.round(F.col("n_hits").cast("double") / F.col("n_test"), 6).alias(
            "accuracy"
        ),
        F.round(
            F.sum("n_hits").over(wg).cast("double")
            / F.sum("n_test").over(wg),
            6,
        ).alias("overall_accuracy"),
    ).orderBy("from_type")


@query(
    "events_raking_weights",
    """
    WITH grid AS (
        SELECT event_type,
               ISODOW(CAST(ts AS TIMESTAMP)) AS dow,
               CAST(COUNT(*) AS BIGINT) AS n_full,
               CAST(COUNT(CASE WHEN (CAST('0x' || SUBSTRING(
                        MD5(CAST(user_id AS VARCHAR)), 1, 8)
                        AS BIGINT) % 100) < 10 THEN 1 END) AS BIGINT)
                   AS n_sample
        FROM events
        GROUP BY 1, 2
    ),
    g1 AS (
        SELECT *,
               SUM(n_full) OVER (PARTITION BY event_type) AS nt,
               SUM(n_full) OVER (PARTITION BY dow) AS nd,
               ROUND(CAST(SUM(n_full) OVER (PARTITION BY event_type)
                          AS DOUBLE)
                     / NULLIF(SUM(n_sample) OVER (PARTITION BY event_type),
                              0), 12) AS w1
        FROM grid
    ),
    g2 AS (
        SELECT *,
               ROUND(w1 * (CAST(nd AS DOUBLE)
                 / NULLIF(CAST(SUM(CAST(ROUND(n_sample * w1, 9)
                                        AS DECIMAL(30,15)))
                               OVER (PARTITION BY dow) AS DOUBLE), 0)),
                     12) AS w2
        FROM g1
    ),
    g3 AS (
        SELECT *,
               ROUND(w2 * (CAST(nt AS DOUBLE)
                 / NULLIF(CAST(SUM(CAST(ROUND(n_sample * w2, 9)
                                        AS DECIMAL(30,15)))
                               OVER (PARTITION BY event_type) AS DOUBLE),
                          0)), 12) AS w3
        FROM g2
    ),
    g4 AS (
        SELECT *,
               ROUND(w3 * (CAST(nd AS DOUBLE)
                 / NULLIF(CAST(SUM(CAST(ROUND(n_sample * w3, 9)
                                        AS DECIMAL(30,15)))
                               OVER (PARTITION BY dow) AS DOUBLE), 0)),
                     12) AS w4
        FROM g3
    )
    SELECT event_type, CAST(dow AS INTEGER) AS dow,
           n_sample, n_full,
           ROUND(w4, 6) AS weight,
           ROUND(n_sample * w4, 6) AS est_total
    FROM g4
    ORDER BY event_type, dow
    """,
)
def events_raking_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raking / iterative proportional fitting (Deming & Stephan 1940)
    — the survey-calibration step a sampled telemetry pipeline runs so
    a 10% md5-bucket user sample reweights to the full population's
    (event_type × ISO weekday) margins: two unrolled IPF iterations
    (type-margin, day-margin, type, day), each a ratio adjustment on
    the ≤|types|·7-cell grid. Both the sample and full-population
    grids come from ONE conditional-agg scan (n_full and n_sample per
    cell in the same groupBy); every IPF step is a window sum over the
    vocabulary-sized grid, so the 100 TB cost is that single scan
    regardless of iteration count. Determinism: each weight is rounded
    to 12 after its ratio step and every margin sum accumulates
    ROUND(n·w, 9) in DECIMAL — both engines chain identical doubles.
    NULLIF guards empty-sample margins at tiny scales (weight NULL =
    cell uncalibratable, surfaced rather than hidden)."""
    from technical_test_data_engineer_spark.operators.text import md5_bucket

    events = load_table(spark, sf_dir, "events")
    grid = events.groupBy(
        "event_type",
        (F.weekday(F.col("ts").cast("timestamp")) + F.lit(1)).alias("dow"),
    ).agg(
        F.count("*").cast("bigint").alias("n_full"),
        F.count(
            F.when(md5_bucket(F.col("user_id").cast("string")) < 10, 1)
        )
        .cast("bigint")
        .alias("n_sample"),
    )
    wt = Window.partitionBy("event_type")
    wd = Window.partitionBy("dow")

    def margin_sum(expr, win):
        return (
            F.sum(dec(F.round(expr, 9), 30, 15))
            .over(win)
            .cast("double")
        )

    g1 = grid.select(
        "*",
        F.sum("n_full").over(wt).alias("nt"),
        F.sum("n_full").over(wd).alias("nd"),
        F.round(
            F.sum("n_full").over(wt).cast("double")
            / F.nullif(F.sum("n_sample").over(wt), F.lit(0)),
            12,
        ).alias("w1"),
    )
    g2 = g1.select(
        "*",
        F.round(
            F.col("w1")
            * (
                F.col("nd").cast("double")
                / F.nullif(
                    margin_sum(F.col("n_sample") * F.col("w1"), wd),
                    F.lit(0.0),
                )
            ),
            12,
        ).alias("w2"),
    )
    g3 = g2.select(
        "*",
        F.round(
            F.col("w2")
            * (
                F.col("nt").cast("double")
                / F.nullif(
                    margin_sum(F.col("n_sample") * F.col("w2"), wt),
                    F.lit(0.0),
                )
            ),
            12,
        ).alias("w3"),
    )
    g4 = g3.select(
        "*",
        F.round(
            F.col("w3")
            * (
                F.col("nd").cast("double")
                / F.nullif(
                    margin_sum(F.col("n_sample") * F.col("w3"), wd),
                    F.lit(0.0),
                )
            ),
            12,
        ).alias("w4"),
    )
    return g4.select(
        "event_type",
        F.col("dow").cast("int").alias("dow"),
        "n_sample",
        "n_full",
        F.round("w4", 6).alias("weight"),
        F.round(F.col("n_sample") * F.col("w4"), 6).alias("est_total"),
    ).orderBy("event_type", "dow")


_XCORR_LAGS = (0, 1, 2, 3, 7)


def _xcorr_oracle() -> str:
    lag_cols = ",\n               ".join(
        f"LEAD(cnt, {k}) OVER (ORDER BY day) AS c{k}" for k in _XCORR_LAGS
    )
    arms = "\n    UNION ALL\n".join(
        f"""    SELECT {k} AS lag, COUNT(c{k}) AS n,
               CAST(SUM(CASE WHEN c{k} IS NOT NULL
                    THEN CAST(rev AS DECIMAL(30,10)) END) AS DOUBLE) AS sx,
               CAST(SUM(CAST(c{k} AS DECIMAL(30,10))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(rev * c{k} AS DECIMAL(38,8))) AS DOUBLE) AS sxy,
               CAST(SUM(CASE WHEN c{k} IS NOT NULL
                    THEN CAST(rev * rev AS DECIMAL(38,8)) END) AS DOUBLE)
                   AS sxx,
               CAST(SUM(CAST(c{k} * c{k} AS DECIMAL(38,8))) AS DOUBLE) AS syy
        FROM lagged"""
        for k in _XCORR_LAGS
    )
    return f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10)))
                    AS DOUBLE) AS rev,
               CAST(COUNT(*) AS DOUBLE) AS cnt
        FROM orders GROUP BY 1
    ),
    lagged AS (
        SELECT rev,
               {lag_cols}
        FROM daily
    ),
    m AS (
{arms}
    )
    SELECT CAST(lag AS INTEGER) AS lag,
           CAST(n AS BIGINT) AS n_pairs,
           ROUND((sxy - sx * sy / n)
                 / NULLIF(SQRT((sxx - sx * sx / n)
                               * (syy - sy * sy / n)), 0), 6) AS xcorr
    FROM m
    ORDER BY lag
    """


@query("daily_revenue_leadlag_xcorr", _xcorr_oracle())
def daily_revenue_leadlag_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between today's revenue and order
    VOLUME k days ahead (k ∈ 0,1,2,3,7) — the demand-sensing readout
    that tells a forecaster which series leads which and by how much,
    completing ``daily_revenue_acf``'s single-series diagnostics with
    the bivariate version. Same sufficient-statistics discipline: one
    fact-sized agg to the (day, rev, cnt) spine, ONE ordered window
    computes every lead column, the persisted lag frame feeds one tiny
    moment agg per lag (pairwise-complete: each lag's x-moments are
    restricted to rows where the lead exists, so both engines reduce
    the identical pair set). DECIMAL accumulation throughout; at
    100 TB the cost is the day-spine agg, the windows run over a
    years-sized frame."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        exact_sum("o_totalprice").alias("rev"),
        F.count("*").cast("double").alias("cnt"),
    )
    w = Window.orderBy("day")
    # persisted: one moment agg per lag shares the lead frame — one
    # orders scan total (tests/PLAN_SHAPES.json)
    lagged = daily.select(
        "rev",
        *[F.lead("cnt", k).over(w).alias(f"c{k}") for k in _XCORR_LAGS],
    ).persist()

    def m_of(k: int) -> DataFrame:
        c = F.col(f"c{k}")
        present = c.isNotNull()
        return lagged.agg(
            F.lit(k).alias("lag"),
            F.count(f"c{k}").alias("n"),
            F.sum(F.when(present, dec(F.col("rev"))))
            .cast("double")
            .alias("sx"),
            exact_sum(c, "sy"),
            exact_sum(F.col("rev") * c, "sxy", precision=38, scale=8),
            F.sum(F.when(present, dec(F.col("rev") * F.col("rev"), 38, 8)))
            .cast("double")
            .alias("sxx"),
            exact_sum(c * c, "syy", precision=38, scale=8),
        )

    m = m_of(_XCORR_LAGS[0])
    for k in _XCORR_LAGS[1:]:
        m = m.unionByName(m_of(k))
    xc = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / F.nullif(
        F.sqrt(
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
            * (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"))
        ),
        F.lit(0.0),
    )
    return m.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("bigint").alias("n_pairs"),
        F.round(xc, 6).alias("xcorr"),
    ).orderBy("lag")


@query(
    "monthly_revenue_gumbel",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10)))
                    AS DOUBLE) AS rev
        FROM orders GROUP BY 1
    ),
    mx AS (
        SELECT DATE_TRUNC('month', day) AS month, MAX(rev) AS m
        FROM daily GROUP BY 1
    ),
    mo AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(m AS DECIMAL(30,10))) AS DOUBLE) AS s,
               CAST(SUM(CAST(m * m AS DECIMAL(38,8))) AS DOUBLE) AS ss
        FROM mx
    ),
    p AS (
        SELECT n, s / n AS mean_max,
               SQRT(ss / n - (s / n) * (s / n)) AS sd_max
        FROM mo
    )
    SELECT CAST(n AS BIGINT) AS n_months,
           ROUND(mean_max, 2) AS mean_max,
           ROUND(sd_max, 2) AS sd_max,
           ROUND(sd_max * SQRT(6.0) / 3.141592653589793, 6) AS beta,
           ROUND(mean_max - 0.5772156649015329
                 * (sd_max * SQRT(6.0) / 3.141592653589793), 6) AS mu,
           ROUND((mean_max - 0.5772156649015329
                  * (sd_max * SQRT(6.0) / 3.141592653589793))
                 - (sd_max * SQRT(6.0) / 3.141592653589793)
                   * LN(-LN(1.0 - 1.0 / 12.0)), 6) AS return_level_12m
    FROM p
    """,
)
def monthly_revenue_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value (Gumbel) fit on monthly block maxima of daily
    revenue — the capacity-planning readout: method-of-moments
    β = σ√6/π, μ = x̄ − γβ (Euler-Mascheroni γ as a LITERAL, the house
    shared-constant convention) and the 12-month return level
    μ − β·ln(−ln(1−1/T)) — 'the daily peak you should provision for
    once a year'. Block-maxima + MoM is the classical Gumbel recipe
    (Coles 2001 ch.3); the fit runs entirely on sufficient statistics:
    one fact-sized day agg, one months-sized max, one 1-row DECIMAL
    moment reduce — nothing at corpus width beyond the first agg."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(exact_sum("o_totalprice").alias("rev"))
    mx = daily.groupBy(F.date_trunc("month", F.col("day")).alias("month")).agg(
        F.max("rev").alias("m")
    )
    mo = mx.agg(
        F.count("*").alias("n"),
        exact_sum(F.col("m"), "s"),
        exact_sum(F.col("m") * F.col("m"), "ss", precision=38, scale=8),
    )
    mean = F.col("s") / F.col("n")
    sd = F.sqrt(F.col("ss") / F.col("n") - mean * mean)
    beta = sd * F.sqrt(F.lit(6.0)) / F.lit(3.141592653589793)
    mu = mean - F.lit(0.5772156649015329) * beta
    return mo.select(
        F.col("n").cast("bigint").alias("n_months"),
        F.round(mean, 2).alias("mean_max"),
        F.round(sd, 2).alias("sd_max"),
        F.round(beta, 6).alias("beta"),
        F.round(mu, 6).alias("mu"),
        F.round(
            mu - beta * F.log(-F.log(F.lit(1.0) - F.lit(1.0) / F.lit(12.0))),
            6,
        ).alias("return_level_12m"),
    )


@query(
    "ab_test_bh_fdr",
    """
    WITH u AS (
        SELECT c.c_mktsegment AS segment,
               (o.o_custkey % 2 = 0) AS in_a,
               CAST(o.o_totalprice AS DOUBLE) AS v
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    arm AS (
        SELECT segment,
               COUNT(CASE WHEN in_a THEN 1 END) AS na,
               COUNT(CASE WHEN NOT in_a THEN 1 END) AS nb,
               CAST(SUM(CASE WHEN in_a THEN CAST(v AS DECIMAL(30,10))
                             ELSE CAST(0 AS DECIMAL(30,10)) END)
                    AS DOUBLE) AS sa,
               CAST(SUM(CASE WHEN NOT in_a THEN CAST(v AS DECIMAL(30,10))
                             ELSE CAST(0 AS DECIMAL(30,10)) END)
                    AS DOUBLE) AS sb,
               CAST(SUM(CASE WHEN in_a THEN CAST(v * v AS DECIMAL(38,8))
                             ELSE CAST(0 AS DECIMAL(38,8)) END)
                    AS DOUBLE) AS qa,
               CAST(SUM(CASE WHEN NOT in_a THEN CAST(v * v AS DECIMAL(38,8))
                             ELSE CAST(0 AS DECIMAL(38,8)) END)
                    AS DOUBLE) AS qb
        FROM u GROUP BY segment
    ),
    z AS (
        SELECT segment, na, nb,
               (sa / na - sb / nb)
               / SQRT((qa / na - (sa / na) * (sa / na)) / na
                      + (qb / nb - (sb / nb) * (sb / nb)) / nb) AS zval
        FROM arm
    ),
    pv AS (
        SELECT segment, na, nb, zval,
               ROUND(2.0 * (1.0 - 1.0
                   / (1.0 + EXP(-1.702 * ABS(zval)))), 12) AS p
        FROM z
    ),
    r AS (
        SELECT segment, na, nb, zval, p,
               ROW_NUMBER() OVER (ORDER BY p, segment) AS rnk,
               COUNT(*) OVER () AS m
        FROM pv
    ),
    cr AS (
        SELECT *,
               MAX(CASE WHEN p <= rnk * 0.10 / m THEN rnk ELSE 0 END)
                   OVER () AS k_star
        FROM r
    )
    SELECT segment,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           ROUND(zval, 6) AS z,
           ROUND(p, 6) AS p_value,
           CAST(rnk AS INTEGER) AS p_rank,
           ROUND(rnk * 0.10 / m, 6) AS bh_threshold,
           (rnk <= k_star) AS discovery
    FROM cr
    ORDER BY p_rank
    """,
)
def ab_test_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over per-segment treatment
    tests — the multiple-testing step every experimentation platform
    applies before reading segment-level 'wins' (5 segments tested at
    once inflate false positives; BH bounds the expected false-
    discovery share at q = 0.10 by the step-up rule: largest k with
    p_(k) ≤ k·q/m, everything ranked at or below k is a discovery —
    including p-values above their own threshold, the step-up subtlety
    a naive per-row comparison gets wrong). Per-segment Welch z on
    even/odd customer arms from one join+agg of DECIMAL sufficient
    statistics; p-values via the house literal logistic-probit Φ,
    rounded to 12 BEFORE ranking so the BH order is drift-proof.
    Everything after the fact-sized agg runs on the 5-row test frame.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    zero = dec(F.lit(0))
    zerop = dec(F.lit(0), 38, 8)
    u = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == cust.c_custkey,
    ).select(
        F.col("c_mktsegment").alias("segment"),
        (F.col("o_custkey") % 2 == 0).alias("in_a"),
        F.col("o_totalprice").cast("double").alias("v"),
    )
    a = F.col("in_a")
    arm = u.groupBy("segment").agg(
        F.count(F.when(a, 1)).alias("na"),
        F.count(F.when(~a, 1)).alias("nb"),
        F.sum(F.when(a, dec(F.col("v"))).otherwise(zero))
        .cast("double")
        .alias("sa"),
        F.sum(F.when(~a, dec(F.col("v"))).otherwise(zero))
        .cast("double")
        .alias("sb"),
        F.sum(F.when(a, dec(F.col("v") * F.col("v"), 38, 8)).otherwise(zerop))
        .cast("double")
        .alias("qa"),
        F.sum(F.when(~a, dec(F.col("v") * F.col("v"), 38, 8)).otherwise(zerop))
        .cast("double")
        .alias("qb"),
    )
    ma, mb = F.col("sa") / F.col("na"), F.col("sb") / F.col("nb")
    zval = (ma - mb) / F.sqrt(
        (F.col("qa") / F.col("na") - ma * ma) / F.col("na")
        + (F.col("qb") / F.col("nb") - mb * mb) / F.col("nb")
    )
    pv = arm.select(
        "segment",
        "na",
        "nb",
        zval.alias("zval"),
        F.round(
            F.lit(2.0)
            * (
                F.lit(1.0)
                - F.lit(1.0)
                / (F.lit(1.0) + F.exp(F.lit(-1.702) * F.abs(zval)))
            ),
            12,
        ).alias("p"),
    )
    wr = Window.orderBy(F.asc("p"), F.asc("segment"))
    wg = Window.partitionBy()
    r = pv.select(
        "*",
        F.row_number().over(wr).alias("rnk"),
        F.count("*").over(wg).alias("m"),
    )
    cr = r.select(
        "*",
        F.max(
            F.when(
                F.col("p") <= F.col("rnk") * 0.10 / F.col("m"), F.col("rnk")
            ).otherwise(F.lit(0))
        )
        .over(wg)
        .alias("k_star"),
    )
    return cr.select(
        "segment",
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.round("zval", 6).alias("z"),
        F.round("p", 6).alias("p_value"),
        F.col("rnk").cast("int").alias("p_rank"),
        F.round(F.col("rnk") * 0.10 / F.col("m"), 6).alias("bh_threshold"),
        (F.col("rnk") <= F.col("k_star")).alias("discovery"),
    ).orderBy("p_rank")


@query(
    "daily_revenue_hurst",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10)))
                    AS DOUBLE) AS rev
        FROM orders GROUP BY 1
    ),
    spine AS (
        SELECT rev,
               ROW_NUMBER() OVER (ORDER BY day) AS rn,
               COUNT(*) OVER () AS n
        FROM daily
    ),
    blocks AS (
        SELECT s.size, sp.rev, sp.rn,
               CAST(FLOOR((sp.rn - 1) / s.size) AS BIGINT) AS blk,
               sp.rn - CAST(FLOOR((sp.rn - 1) / s.size) AS BIGINT)
                   * s.size AS pos
        FROM spine sp
        CROSS JOIN (SELECT UNNEST([8, 16, 32, 64]) AS size) s
        WHERE FLOOR((sp.rn - 1) / s.size) < FLOOR(sp.n / s.size)
    ),
    cum AS (
        SELECT size, blk, pos,
               CAST(SUM(CAST(rev AS DECIMAL(30,10))) OVER (
                   PARTITION BY size, blk ORDER BY rn) AS DOUBLE)
                   AS prefix,
               CAST(SUM(CAST(rev AS DECIMAL(30,10))) OVER (
                   PARTITION BY size, blk) AS DOUBLE) / size AS mean,
               CAST(SUM(CAST(rev * rev AS DECIMAL(38,8))) OVER (
                   PARTITION BY size, blk) AS DOUBLE) / size AS m2
        FROM blocks
    ),
    rs AS (
        SELECT size, blk,
               MAX(prefix - pos * mean) - MIN(prefix - pos * mean) AS r,
               SQRT(MAX(m2) - MAX(mean) * MAX(mean)) AS s
        FROM cum GROUP BY size, blk
    ),
    lnrs AS (
        SELECT size,
               ROUND(LN(NULLIF(r, 0) / NULLIF(s, 0)), 12) AS y
        FROM rs
    ),
    per_size AS (
        SELECT size,
               CAST(COUNT(y) AS BIGINT) AS n_blocks,
               ROUND(CAST(SUM(CAST(y AS DECIMAL(30,15))) AS DOUBLE)
                     / COUNT(y), 12) AS mean_ln_rs
        FROM lnrs GROUP BY size
    ),
    reg AS (
        SELECT size, n_blocks, mean_ln_rs,
               COUNT(*) OVER () AS np,
               SUM(CAST(ROUND(LN(CAST(size AS DOUBLE)), 12)
                        AS DECIMAL(30,15))) OVER () AS sx,
               SUM(CAST(mean_ln_rs AS DECIMAL(30,15))) OVER () AS sy,
               SUM(CAST(ROUND(LN(CAST(size AS DOUBLE)) * mean_ln_rs, 12)
                        AS DECIMAL(30,15))) OVER () AS sxy,
               SUM(CAST(ROUND(LN(CAST(size AS DOUBLE))
                              * LN(CAST(size AS DOUBLE)), 12)
                        AS DECIMAL(30,15))) OVER () AS sxx
        FROM per_size
    )
    SELECT CAST(size AS INTEGER) AS block_size,
           n_blocks,
           ROUND(mean_ln_rs, 6) AS mean_ln_rs,
           ROUND((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                  * CAST(sy AS DOUBLE) / np)
                 / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                    * CAST(sx AS DOUBLE) / np), 6) AS hurst
    FROM reg
    ORDER BY block_size
    """,
)
def daily_revenue_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by rescaled-range (R/S) analysis of the daily
    revenue series (Hurst 1951; Mandelbrot & Wallis 1969) — the
    long-memory diagnostic beside the ACF and runs test: H ≈ 0.5 means
    the series forgets (random walk increments), H > 0.5 persistent
    trends, H < 0.5 mean reversion — which tells a forecaster whether
    long-horizon smoothing helps at all. For each literal block size
    s ∈ {8,16,32,64}: split the day spine into full blocks, per block
    compute R = range of cumulative mean-deviations and S = population
    sd, average ln(R/S) per size, then H = OLS slope of mean ln(R/S)
    on ln s. Plan: one fact-sized day agg; the 4-size ladder
    broadcast-crosses the day spine (4× a years-sized frame); block
    prefix sums are one (size, blk)-partitioned window with DECIMAL
    accumulation; the regression runs on a 4-row frame with the
    house round-then-DECIMAL-sum discipline. Degenerate blocks
    (R or S = 0) drop via NULLIF on both engines."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(exact_sum("o_totalprice").alias("rev"))
    spine = daily.select(
        "rev",
        F.row_number().over(Window.orderBy("day")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    sizes = local_frame(spark, [(8,), (16,), (32,), (64,)], "size int")
    blocks = (
        spine.crossJoin(F.broadcast(sizes))
        .withColumn(
            "blk", F.floor((F.col("rn") - 1) / F.col("size")).cast("bigint")
        )
        .filter(F.col("blk") < F.floor(F.col("n") / F.col("size")))
        .select(
            "size",
            "rev",
            "rn",
            "blk",
            (F.col("rn") - F.col("blk") * F.col("size")).alias("pos"),
        )
    )
    wb = Window.partitionBy("size", "blk")
    wbo = wb.orderBy("rn").rowsBetween(Window.unboundedPreceding, 0)
    cum = blocks.select(
        "size",
        "blk",
        "pos",
        F.sum(dec(F.col("rev"))).over(wbo).cast("double").alias("prefix"),
        (F.sum(dec(F.col("rev"))).over(wb).cast("double") / F.col("size")).alias(
            "mean"
        ),
        (
            F.sum(dec(F.col("rev") * F.col("rev"), 38, 8)).over(wb).cast("double")
            / F.col("size")
        ).alias("m2"),
    )
    dev = F.col("prefix") - F.col("pos") * F.col("mean")
    rs = cum.groupBy("size", "blk").agg(
        (F.max(dev) - F.min(dev)).alias("r"),
        F.sqrt(F.max("m2") - F.max("mean") * F.max("mean")).alias("s"),
    )
    lnrs = rs.select(
        "size",
        F.round(
            F.log(
                F.nullif(F.col("r"), F.lit(0.0))
                / F.nullif(F.col("s"), F.lit(0.0))
            ),
            12,
        ).alias("y"),
    )
    per_size = lnrs.groupBy("size").agg(
        F.count("y").cast("bigint").alias("n_blocks"),
        F.round(
            exact_sum(F.col("y"), precision=30, scale=15)
            / F.count("y"),
            12,
        ).alias("mean_ln_rs"),
    )
    lx = F.round(F.log(F.col("size").cast("double")), 12)
    wg = Window.partitionBy()
    reg = per_size.select(
        "size",
        "n_blocks",
        "mean_ln_rs",
        F.count("*").over(wg).alias("np"),
        F.sum(dec(lx, 30, 15)).over(wg).cast("double").alias("sx"),
        F.sum(dec(F.col("mean_ln_rs"), 30, 15)).over(wg).cast("double").alias(
            "sy"
        ),
        F.sum(dec(F.round(lx * F.col("mean_ln_rs"), 12), 30, 15))
        .over(wg)
        .cast("double")
        .alias("sxy"),
        F.sum(dec(F.round(lx * lx, 12), 30, 15))
        .over(wg)
        .cast("double")
        .alias("sxx"),
    )
    return reg.select(
        F.col("size").cast("int").alias("block_size"),
        "n_blocks",
        F.round("mean_ln_rs", 6).alias("mean_ln_rs"),
        F.round(
            (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("np"))
            / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("np")),
            6,
        ).alias("hurst"),
    ).orderBy("block_size")


@query(
    "event_value_cvm_drift",
    """
    WITH g AS (
        SELECT value AS v,
               (CAST(EXTRACT(day FROM CAST(ts AS TIMESTAMP)) AS INTEGER)
                % 2 = 0) AS in_a
        FROM events
    ),
    pv AS (
        SELECT v,
               COUNT(CASE WHEN in_a THEN 1 END) AS c_a,
               COUNT(CASE WHEN NOT in_a THEN 1 END) AS c_b
        FROM g GROUP BY v
    ),
    cdf AS (
        SELECT c_a, c_b,
               SUM(c_a) OVER (ORDER BY v) AS ka,
               SUM(c_b) OVER (ORDER BY v) AS kb,
               SUM(c_a) OVER () AS na,
               SUM(c_b) OVER () AS nb
        FROM pv
    ),
    t AS (
        SELECT na, nb,
               ROUND((c_a + c_b)
                     * POW(CAST(ka AS DOUBLE) / na
                           - CAST(kb AS DOUBLE) / nb, 2), 12) AS term
        FROM cdf
    )
    SELECT CAST(MAX(na) AS BIGINT) AS n_a,
           CAST(MAX(nb) AS BIGINT) AS n_b,
           ROUND(CAST(MAX(na) AS DOUBLE) * MAX(nb)
                 / POW(MAX(na) + MAX(nb), 2)
                 * CAST(SUM(CAST(term AS DECIMAL(30,15))) AS DOUBLE), 6)
               AS cvm_t
    FROM t
    """,
)
def event_value_cvm_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises statistic between even- and odd-day
    event values — the INTEGRAL drift monitor beside
    ``event_value_ks_drift``'s sup-norm: T = nm/(n+m)² Σ(F_a−F_b)²
    over the pooled sample weights every CDF gap instead of only the
    largest, so slow body-of-distribution drift that KS under-reacts
    to accumulates (Anderson 1962). Same scale shape as KS: one
    conditional-agg pass collapses the stream to per-distinct-value
    counts for both samples, one ordered prefix window over the
    DISTINCT-VALUE relation — and unlike the KS twin the sample totals
    come from window sums over that same small frame, so the fact is
    scanned exactly once. Each pooled term is rounded to 12 and
    DECIMAL-summed order-free."""
    events = load_table(spark, sf_dir, "events")
    g = events.select(
        F.col("value").alias("v"),
        (F.dayofmonth("ts") % 2 == 0).alias("in_a"),
    )
    pv = g.groupBy("v").agg(
        F.count(F.when(F.col("in_a"), 1)).alias("c_a"),
        F.count(F.when(~F.col("in_a"), 1)).alias("c_b"),
    )
    wo = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wg = Window.partitionBy()
    cdf = pv.select(
        "c_a",
        "c_b",
        F.sum("c_a").over(wo).alias("ka"),
        F.sum("c_b").over(wo).alias("kb"),
        F.sum("c_a").over(wg).alias("na"),
        F.sum("c_b").over(wg).alias("nb"),
    )
    term = F.round(
        (F.col("c_a") + F.col("c_b"))
        * F.pow(
            F.col("ka").cast("double") / F.col("na")
            - F.col("kb").cast("double") / F.col("nb"),
            2,
        ),
        12,
    )
    t = cdf.select("na", "nb", term.alias("term"))
    return t.agg(
        F.max("na").cast("bigint").alias("n_a"),
        F.max("nb").cast("bigint").alias("n_b"),
        F.round(
            F.max("na").cast("double")
            * F.max("nb")
            / F.pow(F.max("na") + F.max("nb"), 2)
            * exact_sum(F.col("term"), precision=30, scale=15),
            6,
        ).alias("cvm_t"),
    )


@query(
    "retention_decay_fit",
    """
    WITH uw AS (
        SELECT DISTINCT user_id,
               DATE_TRUNC('week', CAST(ts AS TIMESTAMP)) AS week
        FROM events
    ),
    cohort AS (
        SELECT user_id, MIN(week) AS cweek FROM uw GROUP BY user_id
    ),
    act AS (
        SELECT CAST(DATEDIFF('day', c.cweek, u.week) / 7 AS BIGINT) AS k,
               COUNT(DISTINCT u.user_id) AS n_active
        FROM uw u JOIN cohort c ON u.user_id = c.user_id
        GROUP BY 1
    ),
    r AS (
        SELECT k, n_active,
               MAX(CASE WHEN k = 0 THEN n_active END) OVER () AS n0,
               ROUND(CAST(n_active AS DOUBLE)
                     / MAX(CASE WHEN k = 0 THEN n_active END) OVER (),
                     12) AS retention
        FROM act
    ),
    pts AS (
        SELECT k, n_active, retention,
               ROUND(LN(retention), 12) AS y
        FROM r WHERE k >= 1 AND n_active > 0
    ),
    reg AS (
        SELECT k, n_active, retention,
               COUNT(*) OVER () AS np,
               SUM(CAST(k AS DECIMAL(30,15))) OVER () AS sx,
               SUM(CAST(y AS DECIMAL(30,15))) OVER () AS sy,
               SUM(CAST(ROUND(k * y, 12) AS DECIMAL(30,15))) OVER () AS sxy,
               SUM(CAST(k * k AS DECIMAL(30,15))) OVER () AS sxx
        FROM pts
    )
    SELECT CAST(k AS INTEGER) AS week_age,
           CAST(n_active AS BIGINT) AS n_active,
           ROUND(retention, 6) AS retention,
           ROUND((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                  * CAST(sy AS DOUBLE) / np)
                 / NULLIF(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                          * CAST(sx AS DOUBLE) / np, 0), 6)
               AS decay_rate,
           ROUND(-0.6931471805599453
                 / NULLIF((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                           * CAST(sy AS DOUBLE) / np)
                          / NULLIF(CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE)
                                     * CAST(sx AS DOUBLE) / np, 0), 0),
                 6) AS half_life_weeks
    FROM reg
    ORDER BY week_age
    """,
)
def retention_decay_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric retention-decay fit — the growth-team summary of the
    retention curve: pooled weekly retention r(k) = active-at-age-k /
    cohort-0 actives, then OLS of ln r(k) on k gives the per-week
    decay rate and ln2/|rate| the retention half-life (exponential
    decay is the canonical first fit; Fader & Hardie's sBG refines it
    when curves flatten). Extends ``weekly_retention_cohorts``' grid
    with the fitted summary a dashboard actually tracks. Plan: one
    distinct (user, week) collapse, a per-user min for the cohort
    week, one age-keyed count — all keyed shuffles at user width; the
    regression runs on the ≤weeks-sized age frame with the house
    round-then-DECIMAL-sum discipline, slope guarded by NULLIF for
    degenerate single-point fits."""
    events = load_table(spark, sf_dir, "events")
    # persisted: feeds the cohort min AND the age join
    uw = events.select(
        "user_id",
        F.date_trunc("week", F.col("ts").cast("timestamp")).alias("week"),
    ).distinct().persist()
    cohort = uw.groupBy("user_id").agg(F.min("week").alias("cweek"))
    act = (
        uw.join(cohort, "user_id")
        .groupBy(
            (F.datediff(F.col("week"), F.col("cweek")) / 7)
            .cast("bigint")
            .alias("k")
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    wg = Window.partitionBy()
    n0 = F.max(F.when(F.col("k") == 0, F.col("n_active"))).over(wg)
    r = act.select(
        "k",
        "n_active",
        F.round(F.col("n_active").cast("double") / n0, 12).alias(
            "retention"
        ),
    )
    pts = r.filter((F.col("k") >= 1) & (F.col("n_active") > 0)).select(
        "k",
        "n_active",
        "retention",
        F.round(F.log("retention"), 12).alias("y"),
    )
    reg = pts.select(
        "k",
        "n_active",
        "retention",
        F.count("*").over(wg).alias("np"),
        F.sum(dec(F.col("k"), 30, 15)).over(wg).cast("double").alias("sx"),
        F.sum(dec(F.col("y"), 30, 15)).over(wg).cast("double").alias("sy"),
        F.sum(dec(F.round(F.col("k") * F.col("y"), 12), 30, 15))
        .over(wg)
        .cast("double")
        .alias("sxy"),
        F.sum(dec(F.col("k") * F.col("k"), 30, 15))
        .over(wg)
        .cast("double")
        .alias("sxx"),
    )
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("np")) / F.nullif(
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("np"), F.lit(0.0)
    )
    return reg.select(
        F.col("k").cast("int").alias("week_age"),
        F.col("n_active").cast("bigint").alias("n_active"),
        F.round("retention", 6).alias("retention"),
        F.round(slope, 6).alias("decay_rate"),
        F.round(
            F.lit(-0.6931471805599453) / F.nullif(slope, F.lit(0.0)), 6
        ).alias("half_life_weeks"),
    ).orderBy("week_age")


@query(
    "events_entropy_rate",
    """
    WITH seq AS (
        SELECT event_type,
               LAG(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id
               ) AS prev
        FROM events
    ),
    tr AS (
        SELECT prev AS i, event_type AS j, COUNT(*) AS nij
        FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
    ),
    m AS (
        SELECT i, j, nij,
               SUM(nij) OVER (PARTITION BY i) AS ni,
               SUM(nij) OVER () AS nn,
               COUNT(DISTINCT j) OVER () AS n_states
        FROM tr
    ),
    t AS (
        SELECT nn, n_states,
               ROUND(-(CAST(nij AS DOUBLE) / nn)
                     * LN(CAST(nij AS DOUBLE) / ni), 12) AS term
        FROM m
    )
    SELECT CAST(MAX(nn) AS BIGINT) AS n_transitions,
           CAST(MAX(n_states) AS BIGINT) AS n_states,
           ROUND(CAST(SUM(CAST(term AS DECIMAL(30,15))) AS DOUBLE), 6)
               AS entropy_rate,
           ROUND(LN(CAST(MAX(n_states) AS DOUBLE)), 6) AS max_entropy,
           ROUND(CAST(SUM(CAST(term AS DECIMAL(30,15))) AS DOUBLE)
                 / LN(CAST(MAX(n_states) AS DOUBLE)), 6)
               AS relative_entropy
    FROM t
    """,
)
def events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov entropy rate of user event streams —
    H = −Σ_ij p(i,j) ln p(j|i), the predictability ceiling of the
    process (Shannon): how many nats the NEXT event carries once you
    know the current one, with the uniform-chain maximum ln|states|
    and the ratio as a normalized 'how predictable are our users'
    readout that bounds what ``event_next_prediction_eval``'s model
    can ever achieve. One user-partitioned lag window (the
    transition-probs shape) to the states²-bounded transition counts;
    entropy terms are exact count-ratio logs rounded to 12 and
    DECIMAL-summed. At 100 TB the lag window is the only corpus-width
    op."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").cast("timestamp"), "event_id"
    )
    seq = events.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    tr = seq.groupBy(
        F.col("prev").alias("i"), F.col("event_type").alias("j")
    ).agg(F.count("*").alias("nij"))
    wi = Window.partitionBy("i")
    wg = Window.partitionBy()
    m = tr.select(
        "nij",
        F.sum("nij").over(wi).alias("ni"),
        F.sum("nij").over(wg).alias("nn"),
        F.size(F.collect_set("j").over(wg)).alias("n_states"),
    )
    t = m.select(
        "nn",
        "n_states",
        F.round(
            -(F.col("nij").cast("double") / F.col("nn"))
            * F.log(F.col("nij").cast("double") / F.col("ni")),
            12,
        ).alias("term"),
    )
    ent = exact_sum(F.col("term"), precision=30, scale=15)
    return t.agg(
        F.max("nn").cast("bigint").alias("n_transitions"),
        F.max("n_states").cast("bigint").alias("n_states"),
        F.round(ent, 6).alias("entropy_rate"),
        F.round(F.log(F.max("n_states").cast("double")), 6).alias(
            "max_entropy"
        ),
        F.round(
            ent / F.log(F.max("n_states").cast("double")), 6
        ).alias("relative_entropy"),
    )


@query(
    "orders_weekday_anova",
    """
    WITH g AS (
        SELECT ISODOW(CAST(o_orderdate AS DATE)) AS dow,
               COUNT(*) AS n,
               SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS s_dec,
               SUM(CAST(o_totalprice * o_totalprice
                        AS DECIMAL(38,8))) AS ss_dec
        FROM orders GROUP BY 1
    ),
    t AS (
        SELECT dow, n,
               CAST(CAST(s_dec AS DECIMAL(38,2)) AS DOUBLE) AS s,
               CAST(CAST(ss_dec AS DECIMAL(38,0)) AS DOUBLE) AS ss,
               SUM(n) OVER () AS nn,
               CAST(CAST(SUM(s_dec) OVER () AS DECIMAL(38,2))
                    AS DOUBLE) AS st,
               COUNT(*) OVER () AS k
        FROM g
    ),
    f AS (
        SELECT dow, n, s / n AS mean_value, nn, k,
               SUM(CAST(ROUND(n * (s / n - st / nn) * (s / n - st / nn),
                              2) AS DECIMAL(38,2))) OVER () AS ssb,
               SUM(CAST(ROUND(ss - s * s / n, 0)
                        AS DECIMAL(38,0))) OVER () AS ssw
        FROM t
    )
    SELECT CAST(dow AS INTEGER) AS dow,
           CAST(n AS BIGINT) AS n_orders,
           ROUND(mean_value, 6) AS mean_value,
           ROUND(CAST(ssb AS DOUBLE) / (k - 1), 2) AS ms_between,
           ROUND(CAST(ssw AS DOUBLE) / (nn - k), 2) AS ms_within,
           ROUND((CAST(ssb AS DOUBLE) / (k - 1))
                 / (CAST(ssw AS DOUBLE) / (nn - k)), 6) AS f_stat
    FROM f
    ORDER BY dow
    """,
)
def orders_weekday_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of order value across ISO weekdays — the k-group
    generalization of the Welch/CUPED two-arm tests: F = MS_between /
    MS_within answers 'does day-of-week move basket size AT ALL'
    before any per-day drilldown, the gate a seasonality model needs.
    Everything reduces to per-group (n, Σx, Σx²) from ONE conditional
    scan-side agg — SS_between = Σnᵢ(x̄ᵢ−x̄)², SS_within = Σ(Σx²−
    (Σx)²/n) are window algebra over the 7-row group frame, terms
    rounded then DECIMAL-summed (order-free). Spark ``weekday()+1`` ≡
    DuckDB ``ISODOW``, the house calendar convention. At any scale the
    cost is the one fact agg.

    Cross-engine determinism (r08 driver red, root-caused): group sums
    stay DECIMAL and rescale to a scale small enough that value*10^scale
    fits in 2^53 before the double cast (scale 2 for amounts — exact on
    monetary data; scale 0 for the 1e14-magnitude sums of squares), so
    both engines' decimal->double casts are single-rounded and
    bit-identical. POW(d, 2) is replaced by d*d (Math.pow vs std::pow
    differ in ulps; IEEE multiply of identical doubles cannot). SS terms
    and the 1e9-magnitude mean squares round at 2 (resp. 0) decimals —
    ROUND(x, 6) at those magnitudes overflows 2^53 in DuckDB's
    multiply-based rounding and is not exact."""
    orders = load_table(spark, sf_dir, "orders")
    g = orders.groupBy(
        (F.weekday(F.col("o_orderdate").cast("date")) + F.lit(1)).alias(
            "dow"
        )
    ).agg(
        F.count("*").alias("n"),
        F.sum(dec(F.col("o_totalprice"))).alias("s_dec"),
        F.sum(dec(F.col("o_totalprice") * F.col("o_totalprice"), 38, 8)).alias(
            "ss_dec"
        ),
    )
    wg = Window.partitionBy()
    t = g.select(
        "dow",
        "n",
        F.col("s_dec").cast("decimal(38,2)").cast("double").alias("s"),
        F.col("ss_dec").cast("decimal(38,0)").cast("double").alias("ss"),
        F.sum("n").over(wg).alias("nn"),
        F.sum(F.col("s_dec"))
        .over(wg)
        .cast("decimal(38,2)")
        .cast("double")
        .alias("st"),
        F.count("*").over(wg).alias("k"),
    )
    mean_i = F.col("s") / F.col("n")
    grand = F.col("st") / F.col("nn")
    f = t.select(
        "dow",
        "n",
        mean_i.alias("mean_value"),
        "nn",
        "k",
        F.sum(
            dec(F.round(F.col("n") * (mean_i - grand) * (mean_i - grand), 2), 38, 2)
        )
        .over(wg)
        .alias("ssb"),
        F.sum(
            dec(F.round(F.col("ss") - F.col("s") * F.col("s") / F.col("n"), 0), 38, 0)
        )
        .over(wg)
        .alias("ssw"),
    )
    msb = F.col("ssb").cast("double") / (F.col("k") - 1)
    msw = F.col("ssw").cast("double") / (F.col("nn") - F.col("k"))
    return f.select(
        F.col("dow").cast("int").alias("dow"),
        F.col("n").cast("bigint").alias("n_orders"),
        F.round("mean_value", 6).alias("mean_value"),
        F.round(msb, 2).alias("ms_between"),
        F.round(msw, 2).alias("ms_within"),
        F.round(msb / msw, 6).alias("f_stat"),
    ).orderBy("dow")


@query(
    "monthly_late_p_chart",
    """
    WITH m AS (
        SELECT DATE_TRUNC('month', CAST(o.o_orderdate AS DATE)) AS month,
               COUNT(*) AS n,
               COUNT(CASE WHEN CAST(l.l_shipdate AS DATE)
                               > CAST(o.o_orderdate AS DATE)
                                 + INTERVAL 60 DAY
                          THEN 1 END) AS n_late
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1
    ),
    t AS (
        SELECT month, n, n_late,
               CAST(SUM(n_late) OVER () AS DOUBLE)
                   / SUM(n) OVER () AS pbar
        FROM m
    )
    SELECT CAST(month AS DATE) AS month,
           CAST(n AS BIGINT) AS n_lines,
           CAST(n_late AS BIGINT) AS n_late,
           ROUND(CAST(n_late AS DOUBLE) / n, 6) AS p_late,
           ROUND(pbar, 6) AS p_bar,
           ROUND(pbar + 3 * SQRT(pbar * (1 - pbar) / n), 6) AS ucl,
           ROUND(GREATEST(0.0, pbar - 3 * SQRT(pbar * (1 - pbar) / n)),
                 6) AS lcl,
           (CAST(n_late AS DOUBLE) / n
            > pbar + 3 * SQRT(pbar * (1 - pbar) / n))
           OR (CAST(n_late AS DOUBLE) / n
               < GREATEST(0.0, pbar - 3 * SQRT(pbar * (1 - pbar) / n)))
               AS out_of_control
    FROM t
    ORDER BY month
    """,
)
def monthly_late_p_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart p-chart on the monthly late-delivery PROPORTION — the
    attribute-data control chart beside the x̄ chart
    (``monthly_latency_control_chart``) and CUSUM: per-month fraction
    of line items shipped more than 60 days after the order date (the
    ``late_order_counts`` lateness convention) against ±3σ binomial
    limits p̄ ± 3√(p̄(1−p̄)/n) with per-month n (variable-width limits,
    the correct p-chart form when subgroup sizes differ). One
    fact-sized join+agg to the months frame; p̄ and the limits are
    window algebra over it — integer counts throughout, so both
    engines compute identical doubles. The SPC family now covers
    means, proportions, and cumulative drift."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    m = (
        li.join(
            orders.select("o_orderkey", "o_orderdate"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy(
            F.date_trunc("month", F.col("o_orderdate").cast("date")).alias(
                "month"
            )
        )
        .agg(
            F.count("*").alias("n"),
            F.count(
                F.when(
                    F.col("l_shipdate").cast("date")
                    > F.date_add(F.col("o_orderdate").cast("date"), 60),
                    1,
                )
            ).alias("n_late"),
        )
    )
    wg = Window.partitionBy()
    t = m.select(
        "month",
        "n",
        "n_late",
        (
            F.sum("n_late").over(wg).cast("double") / F.sum("n").over(wg)
        ).alias("pbar"),
    )
    p = F.col("n_late").cast("double") / F.col("n")
    sig = F.sqrt(F.col("pbar") * (1 - F.col("pbar")) / F.col("n"))
    ucl = F.col("pbar") + 3 * sig
    lcl = F.greatest(F.lit(0.0), F.col("pbar") - 3 * sig)
    return t.select(
        F.col("month").cast("date").alias("month"),
        F.col("n").cast("bigint").alias("n_lines"),
        F.col("n_late").cast("bigint").alias("n_late"),
        F.round(p, 6).alias("p_late"),
        F.round("pbar", 6).alias("p_bar"),
        F.round(ucl, 6).alias("ucl"),
        F.round(lcl, 6).alias("lcl"),
        ((p > ucl) | (p < lcl)).alias("out_of_control"),
    ).orderBy("month")


@query(
    "daily_revenue_kendall_tau",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10)))
                    AS DOUBLE) AS rev,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders GROUP BY 1
    ),
    p AS (
        SELECT CASE WHEN (a.rev < b.rev AND a.cnt < b.cnt)
                      OR (a.rev > b.rev AND a.cnt > b.cnt)
                    THEN 1 ELSE 0 END AS conc,
               CASE WHEN (a.rev < b.rev AND a.cnt > b.cnt)
                      OR (a.rev > b.rev AND a.cnt < b.cnt)
                    THEN 1 ELSE 0 END AS disc,
               CASE WHEN a.rev = b.rev THEN 1 ELSE 0 END AS tie_x,
               CASE WHEN a.cnt = b.cnt THEN 1 ELSE 0 END AS tie_y
        FROM daily a JOIN daily b ON a.day < b.day
    ),
    m AS (
        SELECT COUNT(*) AS n_pairs,
               CAST(SUM(conc) AS BIGINT) AS nc,
               CAST(SUM(disc) AS BIGINT) AS nd,
               CAST(SUM(tie_x) AS BIGINT) AS tx,
               CAST(SUM(tie_y) AS BIGINT) AS ty
        FROM p
    )
    SELECT CAST(n_pairs AS BIGINT) AS n_pairs, nc AS n_concordant,
           nd AS n_discordant,
           ROUND((CAST(nc AS DOUBLE) - nd)
                 / SQRT((CAST(n_pairs AS DOUBLE) - tx)
                        * (CAST(n_pairs AS DOUBLE) - ty)), 6)
               AS kendall_tau_b
    FROM m
    """,
)
def daily_revenue_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b between daily revenue and daily order count — the
    concordance-based rank correlation that completes the trio with
    Pearson and Spearman (``lineitem_spearman_corr``): τ counts
    agreeing vs disagreeing pair orientations, with the τ-b tie
    correction in both margins, and is the most outlier-robust of the
    three. Bounded documented proof: the O(d²) pair self-join runs on
    the DAY SPINE (years of days, never the fact) — ~3M pairs at
    sf 0.1; at 100 TB the same statistic computes in O(d log d) by
    merge-sort inversion counting, and d (calendar days) doesn't grow
    with the fact anyway. Integer comparisons only — nothing rounds,
    nothing drifts. The one fact-sized op is the day agg; the pair
    join is day-keyed range, persisted spine on both sides."""
    orders = load_table(spark, sf_dir, "orders")
    # persisted: feeds both sides of the pair self-join
    daily = (
        orders.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            exact_sum("o_totalprice").alias("rev"),
            F.count("*").cast("bigint").alias("cnt"),
        )
        .persist()
    )
    a = daily.select(
        F.col("day").alias("da"), F.col("rev").alias("ra"), F.col("cnt").alias("ca")
    )
    b = daily.select(
        F.col("day").alias("db"), F.col("rev").alias("rb"), F.col("cnt").alias("cb")
    )
    pairs = a.join(b, F.col("da") < F.col("db"))
    conc = (
        ((F.col("ra") < F.col("rb")) & (F.col("ca") < F.col("cb")))
        | ((F.col("ra") > F.col("rb")) & (F.col("ca") > F.col("cb")))
    ).cast("int")
    disc = (
        ((F.col("ra") < F.col("rb")) & (F.col("ca") > F.col("cb")))
        | ((F.col("ra") > F.col("rb")) & (F.col("ca") < F.col("cb")))
    ).cast("int")
    tx = (F.col("ra") == F.col("rb")).cast("int")
    ty = (F.col("ca") == F.col("cb")).cast("int")
    m = pairs.agg(
        F.count("*").alias("n_pairs"),
        F.sum(conc).cast("bigint").alias("nc"),
        F.sum(disc).cast("bigint").alias("nd"),
        F.sum(tx).cast("bigint").alias("tx"),
        F.sum(ty).cast("bigint").alias("ty"),
    )
    return m.select(
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.col("nc").alias("n_concordant"),
        F.col("nd").alias("n_discordant"),
        F.round(
            (F.col("nc").cast("double") - F.col("nd"))
            / F.sqrt(
                (F.col("n_pairs").cast("double") - F.col("tx"))
                * (F.col("n_pairs").cast("double") - F.col("ty"))
            ),
            6,
        ).alias("kendall_tau_b"),
    )


@query(
    "event_value_mann_whitney",
    """
    WITH g AS (
        SELECT value AS v,
               (CAST(EXTRACT(day FROM CAST(ts AS TIMESTAMP)) AS INTEGER)
                % 2 = 0) AS in_a
        FROM events
    ),
    pv AS (
        SELECT v,
               COUNT(CASE WHEN in_a THEN 1 END) AS c_a,
               COUNT(CASE WHEN NOT in_a THEN 1 END) AS c_b
        FROM g GROUP BY v
    ),
    rk AS (
        SELECT c_a, c_b, c_a + c_b AS c,
               SUM(c_a + c_b) OVER (ORDER BY v) AS k,
               SUM(c_a) OVER () AS na,
               SUM(c_b) OVER () AS nb
        FROM pv
    ),
    s AS (
        SELECT na, nb, na + nb AS nn,
               CAST(SUM(CAST(ROUND(c_a * (k - (c - 1) / 2.0), 6)
                             AS DECIMAL(38,6))) AS DOUBLE) AS ra,
               CAST(SUM(CAST(c * c * c - c AS DECIMAL(38,0)))
                    AS DOUBLE) AS tie3
        FROM rk
        GROUP BY na, nb
    ),
    u AS (
        SELECT na, nb, nn,
               ra - na * (na + 1) / 2.0 AS u_a,
               CAST(na AS DOUBLE) * nb / 12.0
                 * ((nn + 1) - tie3 / (CAST(nn AS DOUBLE) * (nn - 1)))
                 AS var_u
        FROM s
    )
    SELECT CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           ROUND(u_a, 6) AS u_stat,
           ROUND((u_a - CAST(na AS DOUBLE) * nb / 2.0) / SQRT(var_u), 6)
               AS z,
           ROUND(2.0 * (1.0 - 1.0 / (1.0 + EXP(-1.702
                 * ABS((u_a - CAST(na AS DOUBLE) * nb / 2.0)
                       / SQRT(var_u))))), 6) AS p_value
    FROM u
    """,
)
def event_value_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test between even- and odd-day event
    values — the NONPARAMETRIC arm of the drift battery (KS = sup gap,
    CvM = integral gap, U = stochastic dominance): does one sample
    tend to take larger values, with no normality assumption, immune
    to the outliers that move a Welch t. Tie-corrected normal
    approximation (the midrank + Σ(t³−t) variance deflation, Lehmann
    1975); p via the house literal logistic-probit Φ. The whole test
    runs on the per-DISTINCT-VALUE frame (the KS/CvM collapse): avg
    midranks come from one cumulative window over distinct values —
    rank sums never touch event width, so 100 TB costs one
    conditional-agg scan. Midranks are exact .0/.5 so every term is
    DECIMAL-exact."""
    events = load_table(spark, sf_dir, "events")
    g = events.select(
        F.col("value").alias("v"),
        (F.dayofmonth("ts") % 2 == 0).alias("in_a"),
    )
    pv = g.groupBy("v").agg(
        F.count(F.when(F.col("in_a"), 1)).alias("c_a"),
        F.count(F.when(~F.col("in_a"), 1)).alias("c_b"),
    )
    wo = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wg = Window.partitionBy()
    c = F.col("c_a") + F.col("c_b")
    rk = pv.select(
        "c_a",
        "c_b",
        c.alias("c"),
        F.sum(c).over(wo).alias("k"),
        F.sum("c_a").over(wg).alias("na"),
        F.sum("c_b").over(wg).alias("nb"),
    )
    s = rk.groupBy("na", "nb").agg(
        exact_sum(
            F.round(F.col("c_a") * (F.col("k") - (F.col("c") - 1) / 2.0), 6),
            "ra",
            precision=38,
            scale=6,
        ),
        exact_sum(
            F.col("c") * F.col("c") * F.col("c") - F.col("c"),
            "tie3",
            precision=38,
            scale=0,
        ),
    )
    nn = F.col("na") + F.col("nb")
    u_a = F.col("ra") - F.col("na") * (F.col("na") + 1) / 2.0
    var_u = (
        F.col("na").cast("double")
        * F.col("nb")
        / 12.0
        * (
            (nn + 1)
            - F.col("tie3") / (nn.cast("double") * (nn - 1))
        )
    )
    z = (u_a - F.col("na").cast("double") * F.col("nb") / 2.0) / F.sqrt(
        var_u
    )
    return s.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.round(u_a, 6).alias("u_stat"),
        F.round(z, 6).alias("z"),
        F.round(
            F.lit(2.0)
            * (
                F.lit(1.0)
                / (F.lit(1.0) + F.exp(F.lit(-1.702) * F.abs(z)))
                * F.lit(-1.0)
                + F.lit(1.0)
            ),
            6,
        ).alias("p_value"),
    )


@query(
    "ab_test_cmh_odds",
    """
    WITH cell AS (
        SELECT c.c_mktsegment AS segment,
               COUNT(CASE WHEN o.o_custkey % 2 = 0
                          AND o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                          THEN 1 END) AS a,
               COUNT(CASE WHEN o.o_custkey % 2 = 0
                          AND o.o_orderpriority NOT IN
                              ('1-URGENT', '2-HIGH')
                          THEN 1 END) AS b,
               COUNT(CASE WHEN o.o_custkey % 2 = 1
                          AND o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                          THEN 1 END) AS c,
               COUNT(CASE WHEN o.o_custkey % 2 = 1
                          AND o.o_orderpriority NOT IN
                              ('1-URGENT', '2-HIGH')
                          THEN 1 END) AS d
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
    ),
    t AS (
        SELECT segment, a, b, c, d, a + b + c + d AS n,
               ROUND(CAST(a AS DOUBLE) * d / (a + b + c + d), 9) AS adn,
               ROUND(CAST(b AS DOUBLE) * c / (a + b + c + d), 9) AS bcn
        FROM cell
    )
    SELECT segment,
           CAST(a AS BIGINT) AS n_a_urgent,
           CAST(b AS BIGINT) AS n_a_other,
           CAST(c AS BIGINT) AS n_b_urgent,
           CAST(d AS BIGINT) AS n_b_other,
           ROUND(CAST(a AS DOUBLE) * d / NULLIF(CAST(b AS DOUBLE) * c, 0),
                 6) AS stratum_or,
           ROUND(CAST(SUM(CAST(adn AS DECIMAL(30,12))) OVER () AS DOUBLE)
                 / NULLIF(CAST(SUM(CAST(bcn AS DECIMAL(30,12))) OVER ()
                               AS DOUBLE), 0), 6) AS cmh_or
    FROM t
    ORDER BY segment
    """,
)
def ab_test_cmh_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel pooled odds ratio — the stratified 2×2
    estimator (Mantel & Haenszel 1959) that answers 'does the even/odd
    arm shift urgent-priority odds AFTER controlling for market
    segment': Simpson's paradox insurance, since segment composition
    can differ between arms and flip the crude OR. OR_MH =
    Σ(aᵢdᵢ/nᵢ)/Σ(bᵢcᵢ/nᵢ) weights each stratum by precision without
    modeling. One join+agg builds all five 2×2 tables in a single
    conditional pass; per-stratum and pooled ORs are window algebra on
    the 5-row frame with terms rounded then DECIMAL-summed. NULLIF
    guards empty cells at tiny scales."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    arm_a = F.col("o_custkey") % 2 == 0
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    cell = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == cust.c_custkey,
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.when(arm_a & urgent, 1)).alias("a"),
            F.count(F.when(arm_a & ~urgent, 1)).alias("b"),
            F.count(F.when(~arm_a & urgent, 1)).alias("c"),
            F.count(F.when(~arm_a & ~urgent, 1)).alias("d"),
        )
    )
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    t = cell.select(
        "segment",
        "a",
        "b",
        "c",
        "d",
        F.round(F.col("a").cast("double") * F.col("d") / n, 9).alias("adn"),
        F.round(F.col("b").cast("double") * F.col("c") / n, 9).alias("bcn"),
    )
    wg = Window.partitionBy()
    return t.select(
        "segment",
        F.col("a").cast("bigint").alias("n_a_urgent"),
        F.col("b").cast("bigint").alias("n_a_other"),
        F.col("c").cast("bigint").alias("n_b_urgent"),
        F.col("d").cast("bigint").alias("n_b_other"),
        F.round(
            F.col("a").cast("double")
            * F.col("d")
            / F.nullif(F.col("b").cast("double") * F.col("c"), F.lit(0.0)),
            6,
        ).alias("stratum_or"),
        F.round(
            F.sum(dec(F.col("adn"), 30, 12))
            .over(wg)
            .cast("double")
            / F.nullif(
                F.sum(dec(F.col("bcn"), 30, 12))
                .over(wg)
                .cast("double"),
                F.lit(0.0),
            ),
            6,
        ).alias("cmh_or"),
    ).orderBy("segment")


@query(
    "daily_revenue_interpolated",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10)))
                    AS DOUBLE) AS rev
        FROM orders
        WHERE o_orderdate >= DATE '1995-01-01'
          AND o_orderdate < DATE '1995-07-01'
          AND o_orderpriority = '1-URGENT'
        GROUP BY 1
    ),
    spine AS (
        SELECT UNNEST(GENERATE_SERIES(DATE '1995-01-01',
                                      DATE '1995-06-30',
                                      INTERVAL 1 DAY))::DATE AS day
    ),
    j AS (
        SELECT s.day, d.rev FROM spine s LEFT JOIN daily d USING (day)
    ),
    g AS (
        SELECT day, rev,
               COUNT(rev) OVER (ORDER BY day) AS gf,
               COUNT(rev) OVER (ORDER BY day DESC) AS gb
        FROM j
    ),
    locf AS (
        SELECT day, rev,
               MAX(rev) OVER (PARTITION BY gf) AS prev_val,
               MAX(CASE WHEN rev IS NOT NULL THEN day END)
                   OVER (PARTITION BY gf) AS prev_day,
               MAX(rev) OVER (PARTITION BY gb) AS next_val,
               MIN(CASE WHEN rev IS NOT NULL THEN day END)
                   OVER (PARTITION BY gb) AS next_day
        FROM g
    )
    SELECT day,
           (rev IS NULL) AS was_gap,
           ROUND(COALESCE(rev,
               CASE
                 WHEN prev_val IS NULL THEN next_val
                 WHEN next_val IS NULL THEN prev_val
                 ELSE prev_val + (next_val - prev_val)
                      * CAST(DATEDIFF('day', prev_day, day) AS DOUBLE)
                      / DATEDIFF('day', prev_day, next_day)
               END), 6) AS rev_filled
    FROM locf
    ORDER BY day
    """,
)
def daily_revenue_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap repair with linear interpolation on a sparse daily series
    (urgent-priority revenue over a fixed half-year window — sparse
    enough to have real gaps): build the dense day spine, LOCF both
    directions, and fill each gap with the time-weighted line between
    its bracketing observations (edges fall back to nearest) — the
    time-series repair step between naive zero-fill
    (``events_gapfilled_hourly``) and model imputation. LOCF uses the
    PORTABLE gaps-and-islands trick — COUNT(non-null) OVER (ORDER BY
    day) partitions each gap with its last observation, so no
    IGNORE-NULLS dialect dependency — and the backward pass is the
    same window descending. One fact agg, one generated spine
    (``sequence``, no UDF), four windows over the spine — nothing at
    fact width after the agg. Interpolation weights are exact integer
    day ratios."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01"))
            & (F.col("o_orderdate") < F.lit("1995-07-01"))
            & (F.col("o_orderpriority") == "1-URGENT")
        )
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(exact_sum("o_totalprice").alias("rev"))
    )
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("1995-06-30").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("day")
    )
    j = spine.join(daily, "day", "left")
    wf = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wb = Window.orderBy(F.desc("day")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    g = j.select(
        "day",
        "rev",
        F.count("rev").over(wf).alias("gf"),
        F.count("rev").over(wb).alias("gb"),
    )
    obs_day = F.when(F.col("rev").isNotNull(), F.col("day"))
    locf = g.select(
        "day",
        "rev",
        F.max("rev").over(Window.partitionBy("gf")).alias("prev_val"),
        F.max(obs_day).over(Window.partitionBy("gf")).alias("prev_day"),
        F.max("rev").over(Window.partitionBy("gb")).alias("next_val"),
        F.min(obs_day).over(Window.partitionBy("gb")).alias("next_day"),
    )
    interp = (
        F.col("prev_val")
        + (F.col("next_val") - F.col("prev_val"))
        * F.datediff(F.col("day"), F.col("prev_day")).cast("double")
        / F.datediff(F.col("next_day"), F.col("prev_day"))
    )
    fill = F.coalesce(
        F.col("rev"),
        F.when(F.col("prev_val").isNull(), F.col("next_val"))
        .when(F.col("next_val").isNull(), F.col("prev_val"))
        .otherwise(interp),
    )
    return locf.select(
        "day",
        F.col("rev").isNull().alias("was_gap"),
        F.round(fill, 6).alias("rev_filled"),
    ).orderBy("day")


@query(
    "orders_perfect_rate",
    """
    WITH per_order AS (
        SELECT o.o_orderkey,
               DATE_TRUNC('month', CAST(o.o_orderdate AS DATE)) AS month,
               MAX(CASE WHEN CAST(l.l_shipdate AS DATE)
                             > CAST(o.o_orderdate AS DATE)
                               + INTERVAL 60 DAY
                        THEN 1 ELSE 0 END) AS any_late,
               MAX(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                   AS any_return
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, DATE_TRUNC('month',
                                          CAST(o.o_orderdate AS DATE))
    )
    SELECT CAST(month AS DATE) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(CASE WHEN any_late = 0 AND any_return = 0
                           THEN 1 END) AS BIGINT) AS n_perfect,
           ROUND(CAST(COUNT(CASE WHEN any_late = 0 AND any_return = 0
                                 THEN 1 END) AS DOUBLE) / COUNT(*), 6)
               AS perfect_rate,
           ROUND(CAST(SUM(any_late) AS DOUBLE) / COUNT(*), 6)
               AS late_rate,
           ROUND(CAST(SUM(any_return) AS DOUBLE) / COUNT(*), 6)
               AS return_rate
    FROM per_order
    GROUP BY month
    ORDER BY month
    """,
)
def orders_perfect_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perfect-order rate by month — the composite fulfillment KPI
    supply-chain dashboards lead with: an order is perfect iff NO line
    shipped late (the ``late_order_counts`` 60-day convention) and NO
    line was returned; the monthly rate plus its two failure-mode
    decompositions (late rate, return rate) shows WHICH leg drags the
    KPI. Two keyed aggs: line→order (the any-late/any-return rollup,
    one fact-sized shuffle) then order→month — the composite
    all-or-nothing semantics NEEDS the per-order hop, a direct
    line-level rate would overweight big orders. Integer flags
    end-to-end."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = (
        li.join(
            orders.select("o_orderkey", "o_orderdate"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy(
            "o_orderkey",
            F.date_trunc("month", F.col("o_orderdate").cast("date")).alias(
                "month"
            ),
        )
        .agg(
            F.max(
                F.when(
                    F.col("l_shipdate").cast("date")
                    > F.date_add(F.col("o_orderdate").cast("date"), 60),
                    1,
                ).otherwise(0)
            ).alias("any_late"),
            F.max(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("any_return"),
        )
    )
    perfect = (F.col("any_late") == 0) & (F.col("any_return") == 0)
    return (
        per_order.groupBy("month")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.count(F.when(perfect, 1)).cast("bigint").alias("n_perfect"),
            F.round(
                F.count(F.when(perfect, 1)).cast("double") / F.count("*"),
                6,
            ).alias("perfect_rate"),
            F.round(
                F.sum("any_late").cast("double") / F.count("*"), 6
            ).alias("late_rate"),
            F.round(
                F.sum("any_return").cast("double") / F.count("*"), 6
            ).alias("return_rate"),
        )
        .select(
            F.col("month").cast("date").alias("month"),
            "n_orders",
            "n_perfect",
            "perfect_rate",
            "late_rate",
            "return_rate",
        )
        .orderBy("month")
    )


@query(
    "daily_revenue_wavelet_energy",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10)))
                    AS DOUBLE) AS rev
        FROM orders GROUP BY 1
    ),
    spine AS (
        SELECT rev, ROW_NUMBER() OVER (ORDER BY day) AS rn,
               COUNT(*) OVER () AS n
        FROM daily
    ),
    blocks AS (
        SELECT s.half, sp.rev,
               CAST(FLOOR((sp.rn - 1) / (2 * s.half)) AS BIGINT) AS blk,
               ((sp.rn - 1) % (2 * s.half)) < s.half AS is_left
        FROM spine sp
        CROSS JOIN (SELECT UNNEST([1, 2, 4, 8]) AS half) s
        WHERE FLOOR((sp.rn - 1) / (2 * s.half))
              < FLOOR(sp.n / (2 * s.half))
    ),
    coef AS (
        SELECT half, blk,
               (CAST(SUM(CASE WHEN is_left
                              THEN CAST(rev AS DECIMAL(30,10))
                              ELSE CAST(0 AS DECIMAL(30,10)) END)
                     AS DOUBLE)
                - CAST(SUM(CASE WHEN NOT is_left
                               THEN CAST(rev AS DECIMAL(30,10))
                               ELSE CAST(0 AS DECIMAL(30,10)) END)
                      AS DOUBLE)) / (2 * half) AS d
        FROM blocks GROUP BY half, blk
    ),
    lvl AS (
        SELECT half, CAST(COUNT(*) AS BIGINT) AS n_blocks,
               CAST(SUM(CAST(ROUND(d * d, 4) AS DECIMAL(38,6)))
                    AS DOUBLE) / COUNT(*) AS energy
        FROM coef GROUP BY half
    )
    SELECT CAST(half * 2 AS INTEGER) AS block_days,
           n_blocks,
           ROUND(energy, 4) AS mean_energy,
           ROUND(energy / CAST(SUM(CAST(ROUND(energy, 4)
                                        AS DECIMAL(38,6))) OVER ()
                               AS DOUBLE), 6) AS energy_share
    FROM lvl
    ORDER BY block_days
    """,
)
def daily_revenue_wavelet_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet energy decomposition of daily revenue — WHERE the
    variance lives across time scales: per half-width s ∈ {1,2,4,8}
    days, the Haar detail coefficient of each 2s-day block (left-half
    mean minus right-half mean) and the mean squared coefficient per
    level, with each level's share of total detail energy — day-to-day
    noise vs week-scale swings vs fortnight trends, the multiresolution
    readout that tells the forecaster which smoothing window actually
    removes variance (the spectral complement to the ACF/Hurst pair,
    same block discipline as ``daily_revenue_hurst`` but conditional
    aggs instead of prefix windows). One fact-sized day agg; the 4-row
    scale ladder broadcast-crosses the day spine; per-level energy is
    DECIMAL-summed rounded squares. Cost at any scale: the day agg."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(exact_sum("o_totalprice").alias("rev"))
    spine = daily.select(
        "rev",
        F.row_number().over(Window.orderBy("day")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    halves = local_frame(spark, [(1,), (2,), (4,), (8,)], "half int")
    size2 = 2 * F.col("half")
    blocks = (
        spine.crossJoin(F.broadcast(halves))
        .withColumn("blk", F.floor((F.col("rn") - 1) / size2).cast("bigint"))
        .filter(F.col("blk") < F.floor(F.col("n") / size2))
        .select(
            "half",
            "rev",
            "blk",
            (((F.col("rn") - 1) % size2) < F.col("half")).alias("is_left"),
        )
    )
    zero = dec(F.lit(0))
    coef = blocks.groupBy("half", "blk").agg(
        (
            (
                F.sum(
                    F.when(F.col("is_left"), dec(F.col("rev"))).otherwise(
                        zero
                    )
                ).cast("double")
                - F.sum(
                    F.when(~F.col("is_left"), dec(F.col("rev"))).otherwise(
                        zero
                    )
                ).cast("double")
            )
            / (2 * F.col("half"))
        ).alias("d")
    )
    lvl = coef.groupBy("half").agg(
        F.count("*").cast("bigint").alias("n_blocks"),
        (
            exact_sum(F.round(F.col("d") * F.col("d"), 4), precision=38, scale=6)
            / F.count("*")
        ).alias("energy"),
    )
    wg = Window.partitionBy()
    return lvl.select(
        (F.col("half") * 2).cast("int").alias("block_days"),
        "n_blocks",
        F.round("energy", 4).alias("mean_energy"),
        F.round(
            F.col("energy")
            / F.sum(dec(F.round(F.col("energy"), 4), 38, 6))
            .over(wg)
            .cast("double"),
            6,
        ).alias("energy_share"),
    ).orderBy("block_days")


@query(
    "events_dau_wau_stickiness",
    """
    WITH uw AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    dau AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM uw GROUP BY day
    ),
    cover AS (
        SELECT user_id, CAST(UNNEST(GENERATE_SERIES(
                   day, day + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE)
                   AS wday
        FROM uw
    ),
    wau AS (
        SELECT wday AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
        FROM cover GROUP BY wday
    )
    SELECT d.day, d.dau, w.wau,
           ROUND(CAST(d.dau AS DOUBLE) / w.wau, 6) AS stickiness
    FROM dau d JOIN wau w ON d.day = w.day
    ORDER BY d.day
    """,
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness — the growth metric ('what share of this
    week's users showed up today') read daily: DAU over the trailing-
    7-day distinct-user count. The WAU is computed WITHOUT a sliding
    distinct window (which Spark can't stream and a self-join would
    fan out): each active (user, day) EXPLODES into the 7 future days
    it covers, so trailing-7-day distinct users = plain COUNT(DISTINCT)
    per covered day — the coverage-explode trick that turns any
    trailing-window distinct into one keyed agg (7× the distinct-day
    frame, not the event stream). Days only reported where both
    exist; at 100 TB the only event-width op is the initial distinct
    collapse."""
    events = load_table(spark, sf_dir, "events")
    # persisted: feeds the DAU agg AND the coverage explode
    uw = events.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct().persist()
    dau = uw.groupBy("day").agg(F.count("*").cast("bigint").alias("dau"))
    cover = uw.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.date_add(F.col("day"), 6),
                F.expr("interval 1 day"),
            )
        ).alias("wday"),
    )
    wau = cover.groupBy(F.col("wday").alias("day")).agg(
        F.countDistinct("user_id").cast("bigint").alias("wau")
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )


@query(
    "customer_interpurchase_cv",
    """
    WITH gaps AS (
        SELECT o_custkey,
               DATEDIFF('day',
                   LAG(CAST(o_orderdate AS DATE)) OVER (
                       PARTITION BY o_custkey ORDER BY
                       CAST(o_orderdate AS DATE), o_orderkey),
                   CAST(o_orderdate AS DATE)) AS gap
        FROM orders
    ),
    cv AS (
        SELECT o_custkey,
               COUNT(gap) AS n_gaps,
               CAST(SUM(gap) AS DOUBLE) / COUNT(gap) AS mean_gap,
               SQRT(CAST(SUM(gap * gap) AS DOUBLE) / COUNT(gap)
                    - POW(CAST(SUM(gap) AS DOUBLE) / COUNT(gap), 2))
                   / (CAST(SUM(gap) AS DOUBLE) / COUNT(gap)) AS cv
        FROM gaps WHERE gap IS NOT NULL
        GROUP BY o_custkey
        HAVING COUNT(gap) >= 3 AND SUM(gap) > 0
    ),
    cls AS (
        SELECT CASE WHEN cv < 0.5 THEN 'clockwork'
                    WHEN cv < 1.0 THEN 'regular'
                    ELSE 'erratic' END AS regularity,
               cv, mean_gap
        FROM cv
    )
    SELECT regularity,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(CAST(SUM(CAST(ROUND(cv, 9) AS DECIMAL(30,12)))
                      AS DOUBLE) / COUNT(*), 6) AS mean_cv,
           ROUND(CAST(SUM(CAST(ROUND(mean_gap, 9) AS DECIMAL(30,12)))
                      AS DOUBLE) / COUNT(*), 6) AS mean_gap_days
    FROM cls
    GROUP BY regularity
    ORDER BY regularity
    """,
)
def customer_interpurchase_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase regularity — the coefficient of variation of each
    customer's order-gap distribution, bucketed into clockwork
    (CV < 0.5, subscription-like), regular (Poisson-ish, CV ≈ 1) and
    erratic (CV > 1, bursty): the behavioral segmentation that decides
    whether a timing-based churn alarm is even meaningful per customer
    (a clockwork buyer 2× overdue is a churn signal; an erratic one is
    noise) — the per-customer twin of ``daily_arrivals_dispersion``
    and the timing complement to the BG/NBD frequency stats. One lag
    window per customer (the order-gap shape), per-customer integer
    moment agg (≥3 gaps to make CV meaningful), a 3-row class rollup
    with rounded-then-DECIMAL-summed means."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").cast("date"), "o_orderkey"
    )
    gaps = orders.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    agg = gaps.groupBy("o_custkey").agg(
        F.count("gap").alias("n_gaps"),
        F.sum("gap").alias("sg"),
        F.sum(F.col("gap") * F.col("gap")).alias("sgg"),
    ).filter((F.col("n_gaps") >= 3) & (F.col("sg") > 0))
    mean_gap = F.col("sg").cast("double") / F.col("n_gaps")
    cv = (
        F.sqrt(
            F.col("sgg").cast("double") / F.col("n_gaps")
            - F.pow(mean_gap, 2)
        )
        / mean_gap
    )
    cls = agg.select(
        F.when(cv < 0.5, "clockwork")
        .when(cv < 1.0, "regular")
        .otherwise("erratic")
        .alias("regularity"),
        cv.alias("cv"),
        mean_gap.alias("mean_gap"),
    )
    return (
        cls.groupBy("regularity")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.round(
                exact_sum(F.round(F.col("cv"), 9), precision=30, scale=12)
                / F.count("*"),
                6,
            ).alias("mean_cv"),
            F.round(
                exact_sum(F.round(F.col("mean_gap"), 9), precision=30, scale=12)
                / F.count("*"),
                6,
            ).alias("mean_gap_days"),
        )
        .orderBy("regularity")
    )


@query(
    "order_value_hill_tail",
    """
    WITH topk AS (
        SELECT o_totalprice AS x,
               ROW_NUMBER() OVER (
                   ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        FROM orders
        QUALIFY ROW_NUMBER() OVER (
            ORDER BY o_totalprice DESC, o_orderkey) <= 101
    ),
    xk AS (SELECT x AS xmin FROM topk WHERE rnk = 101),
    h AS (
        SELECT COUNT(*) AS k,
               CAST(SUM(CAST(ROUND(LN(t.x / xk.xmin), 12)
                             AS DECIMAL(30,15))) AS DOUBLE) AS slog
        FROM topk t CROSS JOIN xk
        WHERE t.rnk <= 100
    )
    SELECT CAST(k AS BIGINT) AS k_top,
           ROUND(slog / k, 6) AS hill_inv_alpha,
           ROUND(k / slog, 6) AS hill_alpha,
           ROUND(1.0 + k / slog, 6) AS pareto_exponent
    FROM h
    """,
)
def order_value_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the order-value tail index (Hill 1975) — the
    standard answer to 'how heavy is the big-order tail': over the top
    k = 100 order values, α̂ = k / Σln(xᵢ/x₍ₖ₊₁₎); α < 2 means infinite
    variance (percentile-based capacity planning breaks), and the
    implied Pareto exponent 1+α feeds the same power-law readouts as
    the Zipf-slope query does for vocabulary. One TakeOrdered top-101
    (no global sort materialization — the top-N shape), log-ratio
    terms rounded to 12 and DECIMAL-summed against the broadcast
    (k+1)-th order statistic. The fact-width cost is the top-k
    selection alone, at any scale."""
    orders = load_table(spark, sf_dir, "orders")
    topk = (
        orders.select("o_totalprice", "o_orderkey")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(101)
        .select(
            F.col("o_totalprice").alias("x"),
            F.row_number()
            .over(
                Window.orderBy(
                    F.desc("o_totalprice"), F.asc("o_orderkey")
                )
            )
            .alias("rnk"),
        )
        .persist()  # feeds the x_(k+1) slice AND the log-ratio sum
    )
    xk = topk.filter(F.col("rnk") == 101).select(
        F.col("x").alias("xmin")
    )
    h = (
        topk.filter(F.col("rnk") <= 100)
        .crossJoin(F.broadcast(xk))
        .agg(
            F.count("*").alias("k"),
            exact_sum(
                F.round(F.log(F.col("x") / F.col("xmin")), 12),
                "slog",
                precision=30,
                scale=15,
            ),
        )
    )
    return h.select(
        F.col("k").cast("bigint").alias("k_top"),
        F.round(F.col("slog") / F.col("k"), 6).alias("hill_inv_alpha"),
        F.round(F.col("k") / F.col("slog"), 6).alias("hill_alpha"),
        F.round(F.lit(1.0) + F.col("k") / F.col("slog"), 6).alias(
            "pareto_exponent"
        ),
    )


@query(
    "urgent_share_trend_test",
    """
    WITH yr AS (
        SELECT CAST(YEAR(CAST(o_orderdate AS DATE)) AS INTEGER) AS y,
               COUNT(*) AS n,
               COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                          THEN 1 END) AS r
        FROM orders GROUP BY 1
    ),
    sc AS (
        SELECT y, n, r,
               y - CAST(MIN(y) OVER () AS INTEGER) AS s,
               SUM(n) OVER () AS nn,
               SUM(r) OVER () AS rr
        FROM yr
    ),
    m AS (
        SELECT MAX(nn) AS nn, MAX(rr) AS rr,
               CAST(SUM(s * r) AS BIGINT) AS srsum,
               CAST(SUM(s * n) AS BIGINT) AS snsum,
               CAST(SUM(s * s * n) AS BIGINT) AS ssnsum
        FROM sc
    ),
    z AS (
        SELECT nn, rr,
               (srsum - CAST(rr AS DOUBLE) * snsum / nn)
               / SQRT((CAST(rr AS DOUBLE) / nn)
                      * (1.0 - CAST(rr AS DOUBLE) / nn)
                      * (ssnsum - CAST(snsum AS DOUBLE) * snsum / nn))
                   AS zval
        FROM m
    )
    SELECT CAST(nn AS BIGINT) AS n_orders,
           CAST(rr AS BIGINT) AS n_urgent,
           ROUND(zval, 6) AS z,
           ROUND(2.0 * (1.0 - 1.0 / (1.0 + EXP(-1.702 * ABS(zval)))),
                 6) AS p_value
    FROM z
    """,
)
def urgent_share_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test on the urgent-order share across
    order years — 'is the proportion drifting monotonically over
    time', the categorical trend question chi-square homogeneity
    wastes power on (it ignores year ORDER; Armitage 1955 scores the
    years 0..k and tests the linear component directly) — the
    proportions twin of the runs test and the formal version of what
    the p-chart eyeballs. Everything reduces to four integer
    sufficient statistics over the years-sized frame (Σsr, Σsn, Σs²n,
    totals) from ONE conditional fact agg; z and the logistic-probit
    p are scalar algebra. Integer sums — nothing drifts."""
    orders = load_table(spark, sf_dir, "orders")
    yr = orders.groupBy(
        F.year(F.col("o_orderdate").cast("date")).cast("int").alias("y")
    ).agg(
        F.count("*").alias("n"),
        F.count(
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
            )
        ).alias("r"),
    )
    wg = Window.partitionBy()
    sc = yr.select(
        (F.col("y") - F.min("y").over(wg)).alias("s"),
        "n",
        "r",
        F.sum("n").over(wg).alias("nn"),
        F.sum("r").over(wg).alias("rr"),
    )
    m = sc.agg(
        F.max("nn").alias("nn"),
        F.max("rr").alias("rr"),
        F.sum(F.col("s") * F.col("r")).cast("bigint").alias("srsum"),
        F.sum(F.col("s") * F.col("n")).cast("bigint").alias("snsum"),
        F.sum(F.col("s") * F.col("s") * F.col("n"))
        .cast("bigint")
        .alias("ssnsum"),
    )
    p = F.col("rr").cast("double") / F.col("nn")
    zval = (
        F.col("srsum") - F.col("rr").cast("double") * F.col("snsum") / F.col("nn")
    ) / F.sqrt(
        p
        * (1.0 - p)
        * (
            F.col("ssnsum")
            - F.col("snsum").cast("double") * F.col("snsum") / F.col("nn")
        )
    )
    return m.select(
        F.col("nn").cast("bigint").alias("n_orders"),
        F.col("rr").cast("bigint").alias("n_urgent"),
        F.round(zval, 6).alias("z"),
        F.round(
            F.lit(2.0)
            * (
                F.lit(1.0)
                - F.lit(1.0)
                / (F.lit(1.0) + F.exp(F.lit(-1.702) * F.abs(zval)))
            ),
            6,
        ).alias("p_value"),
    )


@query(
    "user_funnel_staged_24h",
    """
    WITH ev AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        FROM events
        WHERE event_type IN ('signup', 'view', 'click', 'purchase')
          AND ts IS NOT NULL
    ),
    s1 AS (
        SELECT user_id, MIN(ts) AS t FROM ev
        WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t
        FROM ev e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'view' AND e.ts > s1.t
          AND e.ts <= s1.t + INTERVAL 24 HOUR
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t
        FROM ev e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'click' AND e.ts > s2.t
          AND e.ts <= s2.t + INTERVAL 24 HOUR
        GROUP BY e.user_id
    ),
    s4 AS (
        SELECT e.user_id, MIN(e.ts) AS t
        FROM ev e JOIN s3 ON e.user_id = s3.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s3.t
          AND e.ts <= s3.t + INTERVAL 24 HOUR
        GROUP BY e.user_id
    ),
    c AS (
        SELECT (SELECT COUNT(*) FROM s1) AS n1,
               (SELECT COUNT(*) FROM s2) AS n2,
               (SELECT COUNT(*) FROM s3) AS n3,
               (SELECT COUNT(*) FROM s4) AS n4
    )
    SELECT step, step_name, n_users,
           ROUND(CAST(n_users AS DOUBLE)
                 / NULLIF(prev_users, 0), 6) AS conv_from_prev,
           ROUND(CAST(n_users AS DOUBLE)
                 / NULLIF(first_users, 0), 6) AS conv_from_first
    FROM (
        SELECT 1 AS step, 'signup' AS step_name,
               CAST(n1 AS BIGINT) AS n_users,
               CAST(n1 AS BIGINT) AS prev_users,
               CAST(n1 AS BIGINT) AS first_users FROM c
        UNION ALL
        SELECT 2, 'view', CAST(n2 AS BIGINT), CAST(n1 AS BIGINT),
               CAST(n1 AS BIGINT) FROM c
        UNION ALL
        SELECT 3, 'click', CAST(n3 AS BIGINT), CAST(n2 AS BIGINT),
               CAST(n1 AS BIGINT) FROM c
        UNION ALL
        SELECT 4, 'purchase', CAST(n4 AS BIGINT), CAST(n3 AS BIGINT),
               CAST(n1 AS BIGINT) FROM c
    )
    ORDER BY step
    """,
)
def user_funnel_staged_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict ORDERED conversion funnel signup → view → click →
    purchase: a user reaches step k only via an event STRICTLY after
    their step-(k−1) time AND within a 24-hour conversion deadline per
    step (without the deadline every active user eventually trips all
    four types and the funnel saturates — the deadline is what makes it
    a funnel; the product-analytics semantics that
    distinguishes a real journey from a user who merely has all four
    event types in any order — the unordered form is just four
    distinct-counts). Spark plan: ONE user-keyed shuffle — per user the
    typed events collect and sort in-task, and a single array fold
    (`F.aggregate`) carries the staged timestamps (t1..t4) through the
    sorted sequence, each stage arming only when the previous one is
    set and the event is strictly later — the sessionization shape, not
    the oracle's 3 chained fact self-joins (equivalent semantics: fold
    takes the FIRST qualifying event in sorted order ≡ MIN over
    qualifying events; equal-timestamp ties sort signup<view<click<
    purchase and strict `>` skips them on both engines). Per-user
    event lists are activity-bounded (the sessionization assumption).
    Funnel rollup is a 1-row agg exploded to 4 atomic rows."""
    events = load_table(spark, sf_dir, "events")
    tcode = (
        F.when(F.col("event_type") == "signup", 1)
        .when(F.col("event_type") == "view", 2)
        .when(F.col("event_type") == "click", 3)
        .when(F.col("event_type") == "purchase", 4)
    )
    # ts IS NOT NULL on BOTH sides (r08 advice): without it the oracle's
    # s1 would count a user whose only signups carry a NULL ts (MIN
    # yields a NULL-t row) while the staged fold counts non-null t1.
    ev = events.filter(
        F.col("event_type").isin("signup", "view", "click", "purchase")
        & F.col("ts").isNotNull()
    ).select("user_id", F.col("ts"), tcode.alias("tc"))
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("ts", "tc"))).alias("seq")
    )
    nil = F.lit(None).cast("timestamp")
    init = F.struct(
        nil.alias("t1"), nil.alias("t2"), nil.alias("t3"), nil.alias("t4")
    )

    def step(acc, x):
        def arm(cur, code, prev):
            cond = (
                cur.isNull()
                & (x["tc"] == code)
                & (
                    prev.isNotNull()
                    & (x["ts"] > prev)
                    & (x["ts"] <= prev + F.expr("INTERVAL 24 HOURS"))
                    if code > 1
                    else F.lit(True)
                )
            )
            return F.when(cond, x["ts"]).otherwise(cur)

        return F.struct(
            arm(acc["t1"], 1, nil).alias("t1"),
            arm(acc["t2"], 2, acc["t1"]).alias("t2"),
            arm(acc["t3"], 3, acc["t2"]).alias("t3"),
            arm(acc["t4"], 4, acc["t3"]).alias("t4"),
        )

    staged = per_user.select(F.aggregate("seq", init, step).alias("s"))
    counts = staged.agg(
        F.count("s.t1").alias("n1"),
        F.count("s.t2").alias("n2"),
        F.count("s.t3").alias("n3"),
        F.count("s.t4").alias("n4"),
    )
    rows = counts.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("step"),
                    F.lit("signup").alias("step_name"),
                    F.col("n1").alias("n_users"),
                    F.col("n1").alias("prev_users"),
                    F.col("n1").alias("first_users"),
                ),
                F.struct(
                    F.lit(2).alias("step"),
                    F.lit("view").alias("step_name"),
                    F.col("n2").alias("n_users"),
                    F.col("n1").alias("prev_users"),
                    F.col("n1").alias("first_users"),
                ),
                F.struct(
                    F.lit(3).alias("step"),
                    F.lit("click").alias("step_name"),
                    F.col("n3").alias("n_users"),
                    F.col("n2").alias("prev_users"),
                    F.col("n1").alias("first_users"),
                ),
                F.struct(
                    F.lit(4).alias("step"),
                    F.lit("purchase").alias("step_name"),
                    F.col("n4").alias("n_users"),
                    F.col("n3").alias("prev_users"),
                    F.col("n1").alias("first_users"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    return rows.select(
        "step",
        "step_name",
        F.col("n_users").cast("bigint").alias("n_users"),
        F.round(
            F.col("n_users").cast("double")
            / F.nullif(F.col("prev_users").cast("double"), F.lit(0.0)),
            6,
        ).alias("conv_from_prev"),
        F.round(
            F.col("n_users").cast("double")
            / F.nullif(F.col("first_users").cast("double"), F.lit(0.0)),
            6,
        ).alias("conv_from_first"),
    ).orderBy("step")
