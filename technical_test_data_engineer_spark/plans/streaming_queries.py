"""Batch twins of the streaming transforms (streaming/transforms.py),
oracle-paired so the shared transformation logic is DuckDB-verified;
tests/test_streaming.py then asserts stream output == batch output for
the same functions, closing the loop without needing a SQL oracle for
the unbounded path (SURVEY.md §2.10 / §7 Phase 4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from technical_test_data_engineer_spark.functions.scalars import dec, exact_sum
from technical_test_data_engineer_spark.plans.star_queries import _decsum, query
from technical_test_data_engineer_spark.sources.parquet_source import load_table
from technical_test_data_engineer_spark.streaming.transforms import (
    session_rollup,
    sliding_rollup,
    tumbling_rollup,
)


@query(
    "events_tumbling_30m",
    f"""
    SELECT CAST(to_timestamp(FLOOR(epoch(CAST(ts AS TIMESTAMP)) / 1800) * 1800)
                AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {_decsum('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def events_tumbling_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute tumbling windows — F.window() on a batch frame; the
    oracle floors epoch seconds to the same 1800 s buckets."""
    events = load_table(spark, sf_dir, "events")
    return tumbling_rollup(events, window="30 minutes").orderBy(
        "window_start", "event_type"
    )


@query(
    "events_sliding_1h_15m",
    f"""
    WITH offsets AS (SELECT UNNEST([0, 1, 2, 3]) AS k),
    slid AS (
        SELECT to_timestamp(
                   (FLOOR(epoch(CAST(e.ts AS TIMESTAMP)) / 900) - o.k) * 900
               ) AS window_start,
               e.event_type, e.value
        FROM events e CROSS JOIN offsets o
    )
    SELECT CAST(window_start AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {_decsum('value')} AS total_value
    FROM slid
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def events_sliding_1h_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 minutes. Spark assigns each event
    to window/slide = 4 overlapping windows; the oracle reproduces that
    by exploding k ∈ 0..3 slide offsets per event."""
    events = load_table(spark, sf_dir, "events")
    return sliding_rollup(events).orderBy(
        "window_start", "event_type"
    )


@query(
    "events_user_sessions",
    f"""
    WITH ordered AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL 30 MINUTE
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM ordered
    )
    SELECT MIN(ts) AS session_start, user_id,
           COUNT(*) AS n_events,
           {_decsum('value')} AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def events_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30 min inactivity gap) per user. Spark's
    ``session_window`` merges an event into the current session iff it
    falls strictly inside last_ts + gap; the oracle reproduces that with
    LAG-based gap detection + cumulative session ids."""
    events = load_table(spark, sf_dir, "events")
    return session_rollup(events).orderBy(
        "user_id", "session_start"
    )


# rows-only: HLL estimates differ across engines by design; the
# tolerance vs exact distinct is asserted in tests instead
@query("events_approx_user_counts")
def events_approx_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++, rsd=2%) users per event
    type — the sketch path for cardinality at 100 TB, one pass, O(1)
    state per group vs a shuffle-heavy exact distinct."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.count("*").alias("n_events"),
        )
        .orderBy("event_type")
    )


@query(
    "user_hll_md5_estimate",
    """
    WITH h AS (
        SELECT user_id,
               CAST('0x' || SUBSTRING(MD5(CAST(user_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS h
        FROM events
    ),
    b AS (
        SELECT h >> 52 AS bucket, h & 4503599627370495 AS low FROM h
    ),
    regs AS (
        SELECT CAST(bucket AS BIGINT) AS bucket,
               CAST(MAX(CASE WHEN low = 0 THEN 53
                             ELSE 53 - LENGTH(BIN(low)) END)
                    AS BIGINT) AS register
        FROM b GROUP BY bucket
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS occ,
               CAST(SUM(CAST(1.0 / CAST(CAST(1 AS BIGINT) << register
                                        AS DOUBLE)
                             AS DECIMAL(30,15))) AS DOUBLE) AS sdec
        FROM regs
    ),
    n AS (
        SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact FROM h
    ),
    est AS (
        SELECT CAST(256 - occ AS BIGINT) AS v_zero,
               (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
                   / (sdec + CAST(256 - occ AS DOUBLE)) AS est_raw
        FROM s
    )
    SELECT r.bucket, r.register, n.n_exact, e.v_zero,
           ROUND(e.est_raw, 6) AS est_raw,
           ROUND(CASE WHEN e.est_raw <= 640.0 AND e.v_zero > 0
                      THEN 256.0 * LN(256.0 / CAST(e.v_zero AS DOUBLE))
                      ELSE e.est_raw END, 6) AS estimate
    FROM regs r CROSS JOIN est e CROSS JOIN n
    ORDER BY r.bucket
    """,
)
def user_hll_md5_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable HyperLogLog companion (r13 verdict item 7 — the
    sketch-binary conversion trend): the SAME register algebra
    approx_count_distinct runs opaquely, recomputed openly under the
    engine-portable md5 hash so DuckDB value-checks every stage.
    p = 8 → m = 256 buckets from the hash's top 8 bits; ρ = leading-
    zero count of the 52-bit remainder + 1 (via the exact BIN-string
    length, no float log2); registers are per-bucket MAXes; the
    estimate is the canonical α_m·m²/Σ2^(−M_j) with the linear-counting
    small-range correction (Flajolet et al. 2007). What a hash match
    certifies: the register MULTISET (each occupied bucket's register
    is an output row), the zero-register count, and the estimate
    algebra — and, Spark-side only, HLL MERGEABILITY: registers are
    built per md5-shard then merged by MAX (the production path — per-
    partition sketches unioned without rescanning), which must equal
    the oracle's global registers. Arithmetic conventions: 2⁻ʳ terms
    are exact powers of two (1.0 / (1<<r), never POWER) folded through
    DECIMAL(30,15) per-term casts (both engines' half-up decimal cast)
    so neither engine's sum order matters; α_m and the correction are
    literal double expressions evaluated identically. At 100 TB this
    is ONE fact scan + a (shard × 256)-bounded shuffle — the exact
    countDistinct rides the same scan only to report the sketch's
    error honestly. events_approx_user_counts stays the production
    HLL++ path (rows-only by design: its binary sketch is
    engine-specific)."""
    from technical_test_data_engineer_spark.operators.text import md5_hash64

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", md5_hash64(F.col("user_id").cast("string")).alias("h")
    )
    b = ev.select(
        F.shiftright(F.col("h"), 52).cast("bigint").alias("bucket"),
        F.col("h").bitwiseAND(F.lit((1 << 52) - 1)).alias("low"),
        F.pmod(F.col("h"), F.lit(8)).alias("shard"),
    )
    rho = (
        F.when(F.col("low") == 0, F.lit(53))
        .otherwise(F.lit(53) - F.length(F.bin(F.col("low"))))
        .cast("bigint")
    )
    # the merge demonstration: per-shard registers first (what each
    # partition's sketch would hold), then MAX-merged — value-equal to
    # the oracle's single global MAX by HLL's merge algebra
    shard_regs = (
        b.select("shard", "bucket", rho.alias("rho"))
        .groupBy("shard", "bucket")
        .agg(F.max("rho").alias("r"))
    )
    regs = shard_regs.groupBy("bucket").agg(
        F.max("r").cast("bigint").alias("register")
    )
    inv = F.lit(1.0) / F.expr(
        "shiftleft(cast(1 as bigint), cast(register as int))"
    ).cast("double")
    s = regs.agg(
        F.count("*").alias("occ"),
        F.sum(dec(inv, 30, 15)).alias("sdec"),
    )
    est = s.select(
        (F.lit(256) - F.col("occ")).cast("bigint").alias("v_zero"),
        (
            (F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(256.0)))
            * F.lit(65536.0)
            / (
                F.col("sdec").cast("double")
                + (F.lit(256) - F.col("occ")).cast("double")
            )
        ).alias("est_raw"),
    )
    n = ev.agg(F.countDistinct("user_id").cast("bigint").alias("n_exact"))
    return (
        regs.crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(n))
        .select(
            "bucket",
            "register",
            "n_exact",
            "v_zero",
            F.round("est_raw", 6).alias("est_raw"),
            F.round(
                F.when(
                    (F.col("est_raw") <= 640.0) & (F.col("v_zero") > 0),
                    F.lit(256.0)
                    * F.log(F.lit(256.0) / F.col("v_zero").cast("double")),
                ).otherwise(F.col("est_raw")),
                6,
            ).alias("estimate"),
        )
        .orderBy("bucket")
    )


# rows-only: the t-digest/Greenwald-Khanna sketch is engine-specific;
# the tolerance vs exact quantiles is asserted in tests
@query("acctbal_quantile_sketch")
def acctbal_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (Greenwald-Khanna sketch, accuracy 10000) per
    segment — the single-pass mergeable-sketch path for quantiles at
    100 TB, where exact percentile's full sort per group is the
    bottleneck; paired with acctbal_quantiles_by_segment (exact) as the
    correctness anchor."""
    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.groupBy("c_mktsegment")
        .agg(
            F.percentile_approx("c_acctbal", 0.5, 10000).alias("median_approx"),
            F.percentile_approx("c_acctbal", 0.95, 10000).alias("p95_approx"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "view_click_within_30m",
    """
    SELECT v.user_id AS user_id,
           CAST(v.ts AS TIMESTAMP) AS view_ts,
           CAST(c.ts AS TIMESTAMP) AS click_ts
    FROM events v JOIN events c
      ON v.user_id = c.user_id
    WHERE v.event_type = 'view' AND c.event_type = 'click'
      AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
    ORDER BY v.user_id, view_ts, click_ts
    """,
)
def view_click_within_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream interval join
    (streaming/transforms.view_click_attribution_join): per-user
    (view, click) pairs with the click inside the 30-minute attribution
    window. The stream==batch parity test plus this oracle anchor give
    the stream-stream join the same transitive DuckDB verification as
    the windowed rollups."""
    from technical_test_data_engineer_spark.streaming.transforms import (
        view_click_attribution_join,
    )

    events = load_table(spark, sf_dir, "events")
    return view_click_attribution_join(events).orderBy(
        "user_id", "view_ts", "click_ts"
    )


@query(
    "session_paths_top",
    """
    WITH ordered AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
               CASE WHEN ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                    OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, event_id, ts, event_type,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM ordered
    ),
    p AS (
        SELECT user_id,
               STRING_AGG(event_type, '>' ORDER BY ts, event_id) AS path
        FROM sessions GROUP BY user_id, session_id
    )
    SELECT path,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM p GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 25
    """,
)
def session_paths_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-path mining: the 25 most frequent within-session
    event-type journeys ('view>click>purchase' …) — the funnel
    discovery step product analytics runs before defining funnels.
    Sessionization rides Spark's native ``session_window`` (same
    30-minute-gap semantics the sessions query proves); the per-session
    path is assembled engine-side by sorting the collected
    (ts, event_id, event_type) structs — array_sort on a struct is a
    lexicographic sort, giving the deterministic event_id tiebreak —
    and joining the type field. Per-session state is bounded by
    session length; the path aggregation shuffles one short string per
    session. Oracle sessionizes via LAG-gap + running sum and
    ORDER-BY-qualified STRING_AGG."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    sess = events.groupBy(
        F.session_window("ts", "30 minutes"), "user_id"
    ).agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("evs")
    )
    paths = sess.select(
        "user_id",
        F.concat_ws(
            ">", F.transform(F.col("evs"), lambda e: e["event_type"])
        ).alias("path"),
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count("*").alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("n_sessions"), "path")
        .limit(25)
    )


@query(
    "views_unconverted_30m",
    """
    SELECT v.user_id, CAST(v.ts AS TIMESTAMP) AS view_ts
    FROM events v
    WHERE v.event_type = 'view'
      AND NOT EXISTS (
          SELECT 1 FROM events c
          WHERE c.event_type = 'click'
            AND c.user_id = v.user_id
            AND c.ts > v.ts
            AND c.ts <= v.ts + INTERVAL 30 MINUTE
      )
    ORDER BY v.user_id, view_ts
    """,
)
def views_unconverted_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unconverted views (``streaming.transforms.unconverted_views``):
    the LEFT OUTER half of the stream-stream interval join — views
    with no same-user click in the following 30 minutes, the funnel
    abandonment feed. Batch twin of the watermark-flushed streaming
    outer join (state expiry = answer finality); oracle is the NOT
    EXISTS anti form. Same time-bound condition the inner attribution
    join proves, so the pair (view_click_within_30m /
    views_unconverted_30m) partitions the view stream exactly."""
    from technical_test_data_engineer_spark.streaming.transforms import (
        unconverted_views,
    )

    events = load_table(spark, sf_dir, "events")
    return unconverted_views(events).orderBy("user_id", "view_ts")


@query(
    "daily_active_users",
    """
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM du),
    dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY day),
    wau AS (
        SELECT d.day, COUNT(DISTINCT du.user_id) AS wau
        FROM days d JOIN du ON du.day > d.day - 7 AND du.day <= d.day
        GROUP BY d.day
    )
    SELECT dau.day, CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
           CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
    FROM dau JOIN wau USING (day)
    ORDER BY day
    """,
)
def daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness — THE product-analytics
    headline metric. Shape for a 100 TB event log: the raw stream is
    first collapsed to the (day, user) distinct grid — the only
    corpus-sized shuffle — then DAU is a plain count and WAU fans the
    grid out over a BROADCAST day dimension (≤7× grid rows; a rolling
    DISTINCT has no partial-aggregate form, so the day-grid join is
    the exact path — swap in per-day HLL sketch merges when
    approximate WAU is acceptable, events_approx_user_counts shows
    that machinery). Oracle repeats grid → count → interval join."""
    events = load_table(spark, sf_dir, "events")
    du = events.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    days = du.select("day").distinct()
    dau = du.groupBy("day").agg(F.count("*").alias("dau"))
    wau = (
        du.alias("g")
        .join(
            F.broadcast(days.select(F.col("day").alias("d"))),
            (F.col("g.day") > F.col("d") - F.expr("interval 7 days"))
            & (F.col("g.day") <= F.col("d")),
        )
        .groupBy(F.col("d").alias("day"))
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            F.col("dau").cast("bigint").alias("dau"),
            F.col("wau").cast("bigint").alias("wau"),
            (F.col("dau").cast("double") / F.col("wau").cast("double")).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )


@query(
    "daily_bounce_rate",
    """
    WITH ordered AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                    OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM ordered
    ),
    per_session AS (
        SELECT user_id, session_id,
               MIN(CAST(ts AS DATE)) AS day,
               COUNT(*) AS n_events
        FROM sessions GROUP BY user_id, session_id
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounces,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*) AS bounce_rate
    FROM per_session GROUP BY day ORDER BY day
    """,
)
def daily_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: fraction of sessions containing exactly one
    event, attributed to the session's start day — the engagement
    headline next to DAU/stickiness. Rides the proven
    ``session_window`` semantics (30-minute gap); per-day reduction is
    a tiny aggregate over session-sized data. The oracle sessionizes
    with the LAG-gap running sum as in the sessions query."""
    events = load_table(spark, sf_dir, "events")
    sess = events.groupBy(
        F.session_window("ts", "30 minutes").alias("win"), F.col("user_id")
    ).agg(F.count("*").alias("n_events"))
    per = sess.select(
        F.to_date(F.col("win.start")).alias("day"), "n_events"
    )
    return (
        per.groupBy("day")
        .agg(
            F.count("*").cast("bigint").alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_bounces"),
            (
                F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).cast(
                    "double"
                )
                / F.count("*")
            ).alias("bounce_rate"),
        )
        .orderBy("day")
    )


@query(
    "time_to_first_purchase",
    """
    WITH firsts AS (
        SELECT user_id,
               MIN(CAST(ts AS TIMESTAMP)) AS first_seen,
               MIN(CASE WHEN event_type = 'purchase'
                        THEN CAST(ts AS TIMESTAMP) END) AS first_purchase
        FROM events GROUP BY user_id
    ),
    conv AS (
        SELECT user_id,
               DATEDIFF('second', first_seen, first_purchase) / 3600.0
                   AS hours_to_convert
        FROM firsts WHERE first_purchase IS NOT NULL
    )
    SELECT CAST((SELECT COUNT(*) FROM firsts) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_converted,
           CAST(COUNT(*) AS DOUBLE)
           / (SELECT COUNT(*) FROM firsts) AS conversion_rate,
           CAST(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY hours_to_convert)
                AS DOUBLE) AS p50_hours,
           CAST(PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY hours_to_convert)
                AS DOUBLE) AS p90_hours
    FROM conv
    """,
)
def time_to_first_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activation metric: time from a user's first event to their first
    purchase — conversion rate plus p50/p90 latency, the onboarding
    funnel's headline. ONE conditional-aggregation pass computes both
    firsts per user (MIN and purchase-filtered MIN together — never
    two event scans); the percentile reduction runs over the converted-
    user relation."""
    events = load_table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.min("ts").alias("first_seen"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    conv = firsts.filter(F.col("first_purchase").isNotNull()).select(
        (
            (
                F.unix_timestamp("first_purchase")
                - F.unix_timestamp("first_seen")
            )
            / 3600.0
        ).alias("hours_to_convert")
    )
    n_users = firsts.agg(F.count("*").alias("n_users"))
    return (
        conv.agg(
            F.count("*").cast("bigint").alias("n_converted"),
            F.expr("percentile(hours_to_convert, 0.5)")
            .cast("double")
            .alias("p50_hours"),
            F.expr("percentile(hours_to_convert, 0.9)")
            .cast("double")
            .alias("p90_hours"),
        )
        .crossJoin(F.broadcast(n_users))
        .select(
            F.col("n_users").cast("bigint").alias("n_users"),
            "n_converted",
            (
                F.col("n_converted").cast("double") / F.col("n_users")
            ).alias("conversion_rate"),
            "p50_hours",
            "p90_hours",
        )
    )


@query(
    "hourly_traffic_anomalies",
    """
    WITH hourly AS (
        SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
               DAYOFWEEK(CAST(ts AS TIMESTAMP)) AS dow,
               HOUR(CAST(ts AS TIMESTAMP)) AS hod,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2, 3
    ),
    base AS (
        SELECT dow, hod,
               COUNT(*) AS n_obs,
               CAST(SUM(CAST(n AS DECIMAL(30,10))) AS DOUBLE) AS s,
               CAST(SUM(CAST(n * n AS DECIMAL(30,10))) AS DOUBLE) AS ss
        FROM hourly GROUP BY dow, hod
    )
    SELECT h.hour_start, CAST(h.n AS BIGINT) AS n_events,
           (h.n - b.s / b.n_obs)
           / SQRT((b.ss - b.s * b.s / b.n_obs) / (b.n_obs - 1)) AS z
    FROM hourly h
    JOIN base b ON b.dow = h.dow AND b.hod = h.hod
    WHERE b.n_obs > 1
      AND (b.ss - b.s * b.s / b.n_obs) > 0
      AND ABS((h.n - b.s / b.n_obs)
              / SQRT((b.ss - b.s * b.s / b.n_obs) / (b.n_obs - 1))) > 1.5
    ORDER BY hour_start
    """,
)
def hourly_traffic_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal anomaly detection: each hour's event count scored
    against the SAME-HOUR-OF-WEEK baseline (mean/std from decimal
    moments over all matching hours) — the seasonality-aware monitor
    that a flat global threshold gets wrong twice a day. Stream is
    reduced to hourly counts first, the 168-cell baseline broadcasts
    back, and the |z| > 2 flags are the alert feed. Same sufficient-
    statistics discipline as the Welch/correlation queries. The 1.5σ
    flag threshold is tuned to the fixture's near-uniform synthetic
    traffic (max |z| ≈ 1.74 at sf0.01 — a 2σ gate would pass
    vacuously); production would run 3σ."""
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_start"),
        F.dayofweek("ts").alias("dow"),
        F.hour("ts").alias("hod"),
    ).agg(F.count("*").alias("n"))
    base = hourly.groupBy("dow", "hod").agg(
        F.count("*").alias("n_obs"),
        exact_sum(F.col("n"), "s"),
        exact_sum(F.col("n") * F.col("n"), "ss"),
    )
    j = hourly.join(F.broadcast(base), ["dow", "hod"]).filter(
        # n_obs > 1 alone is not enough: a (dow, hod) cell whose observed
        # counts are all equal has zero variance, and the z denominator
        # SQRT(0) divides by zero under Spark 4 ANSI defaults (seen at
        # sf0.001). Guard variance > 0 identically here and in the oracle
        # so DuckDB (which would yield inf/NaN) stays hash-identical.
        (F.col("n_obs") > 1)
        & (
            F.col("ss") - F.col("s") * F.col("s") / F.col("n_obs") > 0
        )
    )
    z = (F.col("n") - F.col("s") / F.col("n_obs")) / F.sqrt(
        (F.col("ss") - F.col("s") * F.col("s") / F.col("n_obs"))
        / (F.col("n_obs") - 1)
    )
    return (
        j.select(
            "hour_start",
            F.col("n").cast("bigint").alias("n_events"),
            z.alias("z"),
        )
        .filter(F.abs(F.col("z")) > 1.5)
        .orderBy("hour_start")
    )


@query(
    "view_click_full_outer_30m",
    """
    WITH v AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS view_ts
        FROM events WHERE event_type = 'view'
    ),
    c AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts
        FROM events WHERE event_type = 'click'
    )
    SELECT COALESCE(v.user_id, c.user_id) AS user_id,
           v.view_ts, c.click_ts
    FROM v FULL JOIN c
      ON v.user_id = c.user_id
     AND c.click_ts > v.view_ts
     AND c.click_ts <= v.view_ts + INTERVAL 30 MINUTE
    ORDER BY user_id, view_ts, click_ts
    """,
)
def view_click_full_outer_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream FULL OUTER interval join
    (``streaming.transforms.attribution_full_outer``): one relation
    holding converted pairs, unconverted views (NULL click), and
    orphan clicks (NULL view) — the third member of the join family
    whose inner and left-outer halves are already oracle-anchored
    (view_click_within_30m / views_unconverted_30m). The three are
    mutually consistent by construction: this query's non-null pairs
    equal the inner join, its NULL-click rows equal the left-outer
    complement. Value hash is order-insensitive, so engine NULL-sort
    differences cannot flake the gate."""
    from technical_test_data_engineer_spark.streaming.transforms import (
        attribution_full_outer,
    )

    events = load_table(spark, sf_dir, "events")
    return attribution_full_outer(events).orderBy(
        "user_id", "view_ts", "click_ts"
    )


@query(
    "user_event_type_map",
    """
    WITH counts AS (
        SELECT user_id, event_type, COUNT(*) AS n
        FROM events WHERE user_id % 50 = 0
        GROUP BY user_id, event_type
    )
    SELECT user_id, event_type, n,
           CAST(SUM(n) OVER (PARTITION BY user_id) AS BIGINT) AS user_total
    FROM counts
    ORDER BY user_id, event_type
    """,
)
def user_event_type_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType round trip — the one Spark container type the engine had
    not yet value-checked (SURVEY §1 notes the reference's only map is
    a driver-side dict). Per-user event-type counts assemble into a
    map<string,bigint> column (``map_from_entries``), a map-level HOF
    computes the per-user total (``aggregate`` over ``map_values``),
    and ``explode`` unpacks the map back to rows — so the oracle's
    plain GROUP BY + window twin value-checks BOTH the map's contents
    and the map-HOF arithmetic. Maps stay per-row-bounded (≤4 event
    types); the %50 key filter bounds the proof output."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 50 == 0
    )
    counts = events.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n")
    )
    mapped = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "n")))
        ).alias("type_counts")
    )
    with_total = mapped.select(
        "user_id",
        "type_counts",
        F.aggregate(
            F.map_values("type_counts"),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("user_total"),
    )
    return (
        with_total.select(
            "user_id",
            F.explode("type_counts").alias("event_type", "n"),
            "user_total",
        )
        .select("user_id", "event_type", "n", "user_total")
        .orderBy("user_id", "event_type")
    )


# rows-only: the DataSketches HLL binary is engine-specific; the
# merge-vs-rescan equivalence and the error floor vs exact distinct
# are asserted in tests (and the exact count rides in the output)
@query("monthly_users_hll_merge")
def monthly_users_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGE rollup — the piece approx_count_distinct alone
    doesn't prove: per-DAY HLL sketches (``hll_sketch_agg``,
    DataSketches HLL_8, lgK=14) union into per-month estimates
    (``hll_union_agg`` + ``hll_sketch_estimate``) WITHOUT touching the
    event stream again. This is the 100 TB daily→monthly→quarterly
    distinct-users pattern: materialize day-level sketches once
    (kilobytes per day), and every coarser rollup is a union over
    sketches — re-aggregating raw events per rollup level would re-scan
    the fact table per level and re-shuffle user ids each time. The
    exact per-month distinct rides along (one COUNT(DISTINCT) pass)
    so the estimate's error is visible in the row itself, not hidden
    in a test log — no-silent-caps discipline; tests pin rel_err
    ≤ 2% (lgK=14 standard error ~0.8%)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.to_date("ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"))
    monthly_est = daily.groupBy(
        F.trunc("day", "month").alias("month")
    ).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
        F.count("*").alias("n_days_merged"),
    )
    exact = events.groupBy(
        F.trunc(F.to_date("ts"), "month").alias("month")
    ).agg(F.count_distinct("user_id").alias("exact_users"))
    return (
        monthly_est.join(exact, "month")
        .select(
            "month",
            "n_days_merged",
            "est_users",
            "exact_users",
            F.round(
                F.abs(F.col("est_users") - F.col("exact_users"))
                / F.col("exact_users"),
                6,
            ).alias("rel_err"),
        )
        .orderBy("month")
    )


@query(
    "user_conversion_survival",
    """
    WITH per_user AS (
        SELECT user_id,
               MIN(CAST(ts AS TIMESTAMP)) AS first_seen,
               MIN(CASE WHEN event_type = 'purchase'
                        THEN CAST(ts AS TIMESTAMP) END) AS first_purchase,
               MAX(CAST(ts AS TIMESTAMP)) AS last_seen
        FROM events GROUP BY user_id
    ),
    dur AS (
        SELECT user_id,
               CASE WHEN first_purchase IS NOT NULL
                    THEN CAST(date_diff('second', first_seen, first_purchase)
                              AS BIGINT)
                    ELSE CAST(date_diff('second', first_seen, last_seen)
                              AS BIGINT) END AS t,
               CASE WHEN first_purchase IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM per_user
    ),
    n AS (SELECT COUNT(*) AS n_total FROM dur),
    g AS (
        SELECT t, COUNT(*) AS removed, SUM(ev) AS d
        FROM dur GROUP BY t
    ),
    r AS (
        SELECT t, d,
               n.n_total
               - COALESCE(SUM(removed) OVER (
                     ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS n_risk
        FROM g CROSS JOIN n
    ),
    k AS (
        SELECT t, d, n_risk,
               CASE WHEN d = n_risk THEN 1 ELSE 0 END AS dies_out,
               CASE WHEN d < n_risk
                    THEN LN(1.0 - CAST(d AS DOUBLE) / n_risk)
                    ELSE 0.0 END AS lnf
        FROM r WHERE d > 0
    )
    SELECT t AS t_seconds,
           CAST(n_risk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS n_events,
           CASE WHEN MAX(dies_out) OVER (
                    ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) = 1
                THEN 0.0
                ELSE ROUND(EXP(SUM(lnf) OVER (
                         ORDER BY t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     )), 6) END AS survival
    FROM k
    ORDER BY t_seconds
    """,
)
def user_conversion_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-first-purchase WITH
    censoring — the statistically-correct upgrade of
    time_to_first_purchase's converted-only percentiles (those are
    biased optimistic: users who never purchased are evidence too, and
    KM counts them at-risk until their last observed event). Per user:
    entry = first event, event = first purchase, censor = last seen;
    durations in exact integer seconds so distinct event times group
    identically on both engines. S(t) = Π(1 - d_i/n_i) computed as
    exp of a cumulative sum of logs (exact count ratios → identical
    doubles; round-6 absorbs libm ulps), with the d = n_at_risk
    boundary pinned to exactly 0 via a cumulative flag instead of
    LN(0). Plan: one user-keyed shuffle to (duration, event), then
    everything is distinct-duration-sized; the unpartitioned
    cumulative window runs over event times only — at corpus scale the
    same curve runs at time-bucket granularity (the vocab_growth_curve
    tranche note), bounded by curve resolution."""
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.min("ts").alias("first_seen"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_purchase"),
        F.max("ts").alias("last_seen"),
    )
    converted = F.col("first_purchase").isNotNull()
    dur = per_user.select(
        F.when(
            converted,
            F.unix_timestamp("first_purchase") - F.unix_timestamp("first_seen"),
        )
        .otherwise(F.unix_timestamp("last_seen") - F.unix_timestamp("first_seen"))
        .cast("bigint")
        .alias("t"),
        converted.cast("int").alias("ev"),
    )
    n = dur.agg(F.count("*").alias("n_total"))
    g = dur.groupBy("t").agg(
        F.count("*").alias("removed"), F.sum("ev").alias("d")
    )
    w_prev = (
        Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    )
    r = (
        g.crossJoin(F.broadcast(n))
        .withColumn(
            "n_risk",
            F.col("n_total")
            - F.coalesce(F.sum("removed").over(w_prev), F.lit(0)),
        )
        .filter(F.col("d") > 0)
    )
    k = r.select(
        "t",
        "d",
        "n_risk",
        (F.col("d") == F.col("n_risk")).cast("int").alias("dies_out"),
        F.when(
            F.col("d") < F.col("n_risk"),
            F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")),
        )
        .otherwise(F.lit(0.0))
        .alias("lnf"),
    )
    w_cum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return k.select(
        F.col("t").alias("t_seconds"),
        F.col("n_risk").cast("bigint").alias("n_at_risk"),
        F.col("d").cast("bigint").alias("n_events"),
        F.when(F.max("dies_out").over(w_cum) == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.sum("lnf").over(w_cum)), 6))
        .alias("survival"),
    ).orderBy("t_seconds")


@query(
    "user_bot_scores",
    """
    WITH e AS (
        SELECT user_id,
               CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec
        FROM events
    ),
    gaps AS (
        SELECT user_id, sec,
               sec - LAG(sec, 1) OVER (
                   PARTITION BY user_id ORDER BY sec
               ) AS gap
        FROM e
    ),
    agg AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY gap)
                   AS median_gap_sec,
               CAST(SUM(CASE WHEN gap < 3600 THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(gap) AS frac_fast
        FROM gaps GROUP BY user_id
        HAVING COUNT(*) >= 20
    )
    SELECT user_id, n_events,
           ROUND(median_gap_sec, 1) AS median_gap_sec,
           ROUND(frac_fast, 6) AS frac_fast,
           frac_fast > 0.5 AND n_events >= 50 AS is_bot
    FROM agg ORDER BY user_id
    """,
)
def user_bot_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral bot/abuse screen — the traffic-quality filter every
    event pipeline runs before its data feeds metrics or training:
    per-user inter-event gap statistics (median gap, fraction of gaps
    under an hour) plus volume, and a rule flag (fast-dominant AND
    high-volume) of the kind rule-based abuse systems ship while ML
    models train. One keyed shuffle; the gap lag and the interpolated
    median (``percentile`` ≡ PERCENTILE_CONT) run within each user's
    bounded partition; the ≥20-event floor bounds output to the heavy
    tail. Gap order is by epoch second — ties (same-second events)
    produce the same ordered gap multiset either way, so the
    percentile is order-stable."""
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "user_id", F.unix_timestamp("ts").alias("sec")
    )
    w = Window.partitionBy("user_id").orderBy("sec")
    gaps = e.select(
        "user_id",
        "sec",
        (F.col("sec") - F.lag("sec", 1).over(w)).alias("gap"),
    )
    agg = (
        gaps.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.percentile("gap", F.lit(0.5)).alias("median_gap_sec"),
            (
                F.sum(F.when(F.col("gap") < 3600, 1).otherwise(0)).cast(
                    "double"
                )
                / F.count("gap")
            ).alias("frac_fast"),
        )
        .filter(F.col("n_events") >= 20)
    )
    return agg.select(
        "user_id",
        "n_events",
        F.round("median_gap_sec", 1).alias("median_gap_sec"),
        F.round("frac_fast", 6).alias("frac_fast"),
        ((F.col("frac_fast") > 0.5) & (F.col("n_events") >= 50)).alias(
            "is_bot"
        ),
    ).orderBy("user_id")


@query(
    "user_capture_recapture",
    """
    WITH u AS (SELECT DISTINCT user_id FROM events),
    marked AS (
        SELECT user_id,
               CAST('0x' || SUBSTRING(MD5(CAST(user_id AS VARCHAR) || ':A'),
                    1, 8) AS BIGINT) % 10 = 0 AS in_a,
               CAST('0x' || SUBSTRING(MD5(CAST(user_id AS VARCHAR) || ':B'),
                    1, 8) AS BIGINT) % 10 = 0 AS in_b
        FROM u
    )
    SELECT CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(SUM(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           CAST(SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT)
               AS n_both,
           CAST(COUNT(*) AS BIGINT) AS n_true,
           ROUND((SUM(CASE WHEN in_a THEN 1 ELSE 0 END) + 1.0)
                 * (SUM(CASE WHEN in_b THEN 1 ELSE 0 END) + 1.0)
                 / (SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) + 1.0)
                 - 1.0, 6) AS chapman_estimate
    FROM marked
    """,
)
def user_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture population estimation (Chapman's estimator) —
    the ecology-lineage trick for estimating a population you can only
    sample: two INDEPENDENT deterministic 10% hash samples (the house
    md5 convention with different salts — independence comes from
    md5's avalanche, which this query also empirically audits since
    the estimate is only unbiased if the marks are independent), and
    N̂ = (n_a+1)(n_b+1)/(m+1) − 1 from the overlap. The same estimator
    teams use to size logs that are too big to distinct-count exactly
    — here emitted NEXT TO the true distinct count so the driver
    value-checks estimator and error jointly. One distinct + one
    scan-side mark pass; output is one row of scalars."""
    events = load_table(spark, sf_dir, "events")
    from technical_test_data_engineer_spark.operators.text import md5_bucket

    u = events.select("user_id").distinct()
    marked = u.select(
        (
            md5_bucket(F.concat(F.col("user_id").cast("string"), F.lit(":A")), 10)
            == 0
        ).alias("in_a"),
        (
            md5_bucket(F.concat(F.col("user_id").cast("string"), F.lit(":B")), 10)
            == 0
        ).alias("in_b"),
    )
    na = F.sum(F.when(F.col("in_a"), 1).otherwise(0))
    nb = F.sum(F.when(F.col("in_b"), 1).otherwise(0))
    m = F.sum(F.when(F.col("in_a") & F.col("in_b"), 1).otherwise(0))
    return marked.agg(
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        m.cast("bigint").alias("n_both"),
        F.count("*").cast("bigint").alias("n_true"),
        F.round(
            (na + F.lit(1.0)) * (nb + F.lit(1.0)) / (m + F.lit(1.0))
            - F.lit(1.0),
            6,
        ).alias("chapman_estimate"),
    )


@query(
    "user_event_entropy",
    """
    WITH c AS (
        SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
        FROM events WHERE user_id % 20 = 0
        GROUP BY user_id, event_type
    ),
    n AS (SELECT user_id, SUM(c) AS n FROM c GROUP BY user_id)
    SELECT c.user_id,
           CAST(MAX(n.n) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS INT) AS n_types,
           ROUND(CAST(SUM(CAST(
               -(CAST(c AS DOUBLE) / n) * LN(CAST(c AS DOUBLE) / n)
               AS DECIMAL(30,15))) AS DOUBLE), 6) AS entropy
    FROM c JOIN n USING (user_id)
    GROUP BY c.user_id
    ORDER BY c.user_id
    """,
)
def user_event_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral entropy per user — Shannon entropy of the event-type
    distribution, the diversity feature that separates single-purpose
    automation (entropy → 0) from organic multi-surface usage, and the
    information-theoretic companion to the bot screen's gap timing.
    One keyed shuffle to (user, type) counts; the per-user totals join
    is user-vocabulary-sized; −p·ln p terms sum through DECIMAL so
    type order cannot drift the hash. The %20 key filter bounds the
    proof output."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 20 == 0
    )
    # persisted: the (user, type) count grid feeds the totals agg and
    # the entropy join — one events scan total (tests/PLAN_SHAPES.json)
    c = events.groupBy("user_id", "event_type").agg(
        F.count("*").cast("bigint").alias("c")
    ).persist()
    n = c.groupBy("user_id").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    return (
        c.join(n, "user_id")
        .groupBy("user_id")
        .agg(
            F.max("n").cast("bigint").alias("n_events"),
            F.count("*").cast("int").alias("n_types"),
            F.round(
                exact_sum(-p * F.log(p), precision=30, scale=15),
                6,
            ).alias("entropy"),
        )
        .orderBy("user_id")
    )


_KMV_K = 32
_KMV_SCALE = float(1 << 60)  # md5_hash64 is 60 bits -> uniform in [0,1)


@query(
    "user_kmv_distinct",
    f"""
    WITH hashed AS (
        SELECT DISTINCT event_type,
               CAST('0x' || SUBSTRING(MD5(CAST(user_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS h
        FROM events
    ),
    ranked AS (
        SELECT event_type, h,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY h ASC
               ) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n_exact
        FROM hashed
    )
    SELECT event_type,
           CAST(MAX(n_exact) AS BIGINT) AS n_exact,
           ROUND(CASE
               WHEN MAX(n_exact) < {_KMV_K} THEN CAST(MAX(n_exact) AS DOUBLE)
               ELSE ({_KMV_K} - 1)
                    / (MAX(CASE WHEN rn = {_KMV_K} THEN h END)
                       / {_KMV_SCALE!r})
           END, 6) AS n_est,
           ROUND(ABS(CASE
               WHEN MAX(n_exact) < {_KMV_K} THEN CAST(MAX(n_exact) AS DOUBLE)
               ELSE ({_KMV_K} - 1)
                    / (MAX(CASE WHEN rn = {_KMV_K} THEN h END)
                       / {_KMV_SCALE!r})
           END - MAX(n_exact)) / MAX(n_exact), 6) AS rel_err
    FROM ranked
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def user_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct-count sketch per
    event type — the ORDER-STATISTIC sketch family (theta sketches)
    made oracle-checkable: unlike HLL (whose register layout is
    engine-private, hence ``monthly_users_hll_merge`` stays
    rows-only), KMV's state is just the k smallest hash values, so
    both engines compute the identical estimate from the identical
    house md5 hash. Estimator: n-hat = (k-1)/u_(k) with u_(k) the k-th
    smallest of the distinct 60-bit hashes mapped to [0,1) (Beyer et
    al., PODS'07 — unbiased, rel-err ~ 1/sqrt(k-2)). Types with fewer
    than k distinct users fall back to the exact count (a real KMV
    stores all values below capacity — the estimate IS exact there);
    sf0.001 (15 users/type) exercises the fallback, sf0.01 (150) the
    estimator. Scale shape: one distinct shuffle on (type, hash) and a
    per-type bottom-k — at 100 TB the bottom-k window would ride a
    partial TakeOrderedAndProject per partition, never a full sort;
    the exact-count column here is the audit, not the production
    path. Cross-check: rel_err at k=32 should sit near 1/sqrt(30) ~
    0.18."""
    from technical_test_data_engineer_spark.operators.text import md5_hash64

    events = load_table(spark, sf_dir, "events")
    hashed = (
        events.select(
            "event_type",
            md5_hash64(F.col("user_id").cast("string")).alias("h"),
        )
        .distinct()
    )
    wr = Window.partitionBy("event_type").orderBy(F.asc("h"))
    wc = Window.partitionBy("event_type")
    ranked = hashed.select(
        "event_type",
        "h",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wc).alias("n_exact"),
    )
    est = F.when(
        F.max("n_exact") < _KMV_K, F.max("n_exact").cast("double")
    ).otherwise(
        F.lit(_KMV_K - 1)
        / (
            F.max(F.when(F.col("rn") == _KMV_K, F.col("h")))
            / F.lit(_KMV_SCALE)
        )
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.max("n_exact").cast("bigint").alias("n_exact"),
            F.round(est, 6).alias("n_est"),
            F.round(
                F.abs(est - F.max("n_exact")) / F.max("n_exact"), 6
            ).alias("rel_err"),
        )
        .orderBy("event_type")
    )


@query(
    "user_score_reliability",
    """
    WITH u AS (
        SELECT user_id,
               CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS DOUBLE)
                   / COUNT(*) AS score,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN CAST(value AS DECIMAL(30,10))
                             ELSE CAST(0 AS DECIMAL(30,10)) END)
                    AS DOUBLE) AS py
        FROM events GROUP BY user_id
    ),
    med AS (
        SELECT CAST(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY py)
                    AS DOUBLE) AS m
        FROM u
    ),
    scored AS (
        SELECT LEAST(9, CAST(FLOOR(score * 10.0) AS BIGINT)) AS bin,
               score,
               CASE WHEN py > med.m THEN 1 ELSE 0 END AS y
        FROM u CROSS JOIN med
    ),
    g AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_total,
               CAST(SUM(y) AS DOUBLE) / COUNT(*) AS ybar
        FROM scored
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(AVG(score), 6) AS mean_score,
           ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS obs_rate,
           ROUND(COUNT(*) * POW(AVG(score) - CAST(SUM(y) AS DOUBLE)
                                             / COUNT(*), 2)
                 / MAX(g.n_total), 6) AS reliability_term,
           ROUND(COUNT(*) * POW(CAST(SUM(y) AS DOUBLE) / COUNT(*)
                                - MAX(g.ybar), 2)
                 / MAX(g.n_total), 6) AS resolution_term
    FROM scored CROSS JOIN g
    GROUP BY bin ORDER BY bin
    """,
)
def user_score_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration curve + Murphy/Brier decomposition terms for a
    behavioral propensity score — the model-eval harness every scored
    pipeline needs before its scores gate anything (the quality-filter
    and bot-score queries emit scores; this is how you audit one).
    Score = user's view share, outcome = above-median purchaser
    (balanced by construction). Decile reliability bins give the
    calibration curve (mean_score vs obs_rate per bin); the per-bin
    reliability and resolution terms sum to the Murphy decomposition
    (Brier = reliability - resolution + uncertainty). Scale shape: one
    events scan -> user agg; the median and the global base rate are
    1-row broadcast attaches onto the user frame; the bin rollup is a
    10-row agg. AVG(score) stays in double on both engines (same
    summation order irrelevance does not hold in general, so the
    per-bin means ride ROUND(...,6) like every ln/ratio output)."""
    events = load_table(spark, sf_dir, "events")
    # persisted: median attach + scored frame both consume it
    u = (
        events.groupBy("user_id")
        .agg(
            (
                F.sum((F.col("event_type") == "view").cast("int")).cast(
                    "double"
                )
                / F.count("*")
            ).alias("score"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", dec(F.col("value"))
                ).otherwise(dec(F.lit(0)))
            )
            .cast("double")
            .alias("py"),
        )
        .persist()
    )
    med = u.agg(
        F.percentile("py", F.lit(0.5)).cast("double").alias("m")
    )
    scored = u.crossJoin(F.broadcast(med)).select(
        F.least(F.lit(9), F.floor(F.col("score") * 10.0).cast("bigint")).alias(
            "bin"
        ),
        "score",
        (F.col("py") > F.col("m")).cast("int").alias("y"),
    ).persist()
    g = scored.agg(
        F.count("*").cast("double").alias("n_total"),
        (F.sum("y").cast("double") / F.count("*")).alias("ybar"),
    )
    obs = F.sum("y").cast("double") / F.count("*")
    return (
        scored.crossJoin(F.broadcast(g))
        .groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.round(F.avg("score"), 6).alias("mean_score"),
            F.round(obs, 6).alias("obs_rate"),
            F.round(
                F.count("*")
                * F.pow(F.avg("score") - obs, 2)
                / F.max("n_total"),
                6,
            ).alias("reliability_term"),
            F.round(
                F.count("*")
                * F.pow(obs - F.max("ybar"), 2)
                / F.max("n_total"),
                6,
            ).alias("resolution_term"),
        )
        .orderBy("bin")
    )


@query(
    "event_type_overlap_kmv",
    f"""
    WITH hashed AS (
        SELECT DISTINCT event_type,
               CAST('0x' || SUBSTRING(MD5(CAST(user_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS h
        FROM events
    ),
    ranked AS (
        SELECT event_type, h,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY h ASC
               ) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n_exact
        FROM hashed
    ),
    sk AS (SELECT event_type, h FROM ranked WHERE rn <= {_KMV_K}),
    theta AS (
        SELECT event_type,
               CASE WHEN MAX(n_exact) < {_KMV_K} THEN {_KMV_SCALE!r}
                    ELSE CAST(MAX(CASE WHEN rn = {_KMV_K} THEN h END)
                         AS DOUBLE) END AS th,
               CAST(MAX(n_exact) AS BIGINT) AS n_exact
        FROM ranked GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               LEAST(a.th, b.th) AS th,
               a.n_exact AS na, b.n_exact AS nb
        FROM theta a JOIN theta b ON a.event_type < b.event_type
    ),
    both_ AS (
        SELECT s1.event_type AS type_a, s2.event_type AS type_b, s1.h
        FROM sk s1 JOIN sk s2
          ON s1.h = s2.h AND s1.event_type < s2.event_type
    ),
    inter AS (
        SELECT b.type_a, b.type_b, CAST(COUNT(*) AS BIGINT) AS ic
        FROM both_ b JOIN pairs p
          ON p.type_a = b.type_a AND p.type_b = b.type_b
        WHERE b.h < p.th
        GROUP BY 1, 2
    ),
    ka AS (
        SELECT p.type_a, p.type_b, CAST(COUNT(*) AS BIGINT) AS kept_a
        FROM pairs p JOIN sk s ON s.event_type = p.type_a
        WHERE s.h < p.th GROUP BY 1, 2
    ),
    kb AS (
        SELECT p.type_a, p.type_b, CAST(COUNT(*) AS BIGINT) AS kept_b
        FROM pairs p JOIN sk s ON s.event_type = p.type_b
        WHERE s.h < p.th GROUP BY 1, 2
    ),
    einter AS (
        SELECT h1.event_type AS type_a, h2.event_type AS type_b,
               CAST(COUNT(*) AS BIGINT) AS ie
        FROM hashed h1 JOIN hashed h2
          ON h1.h = h2.h AND h1.event_type < h2.event_type
        GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b,
           COALESCE(e.ie, 0) AS n_inter_exact,
           ROUND(COALESCE(i.ic, 0) / (p.th / {_KMV_SCALE!r}), 6)
               AS n_inter_est,
           ROUND(CAST(COALESCE(e.ie, 0) AS DOUBLE)
                 / (p.na + p.nb - COALESCE(e.ie, 0)), 6) AS jaccard_exact,
           ROUND(CAST(COALESCE(i.ic, 0) AS DOUBLE)
                 / NULLIF(COALESCE(a.kept_a, 0) + COALESCE(b.kept_b, 0)
                          - COALESCE(i.ic, 0), 0), 6) AS jaccard_est
    FROM pairs p
    LEFT JOIN inter i ON i.type_a = p.type_a AND i.type_b = p.type_b
    LEFT JOIN ka a ON a.type_a = p.type_a AND a.type_b = p.type_b
    LEFT JOIN kb b ON b.type_a = p.type_a AND b.type_b = p.type_b
    LEFT JOIN einter e ON e.type_a = p.type_a AND e.type_b = p.type_b
    ORDER BY p.type_a, p.type_b
    """,
)
def event_type_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET OPERATIONS over the per-event-type user sets:
    intersect each pair of KMV bottom-k sketches the Apache
    DataSketches way (theta = min of the two sketch thresholds;
    retained = common hashes below theta; |A INTERSECT B|-hat =
    retained/theta) and estimate audience-overlap Jaccard from the
    same retained sets — the sketch algebra that answers 'how many
    users both viewed AND purchased' without ever joining the raw
    fact table twice at full width. Extends ``user_kmv_distinct``
    (single-set cardinality) to the binary-op half of the sketch API;
    exact companions computed alongside audit every pair. One distinct
    shuffle on (type, hash) builds all sketches; every downstream
    relation is k x types rows, so pair enumeration costs nothing at
    any corpus scale — the exact companion's hash self-join is the
    audit, not the production path. All arithmetic is count ratios on
    the house 60-bit md5 hash, bit-identical across engines."""
    from technical_test_data_engineer_spark.operators.text import md5_hash64

    events = load_table(spark, sf_dir, "events")
    # persisted: the distinct (type, hash) frame feeds the sketch build
    # AND both sides of the exact-intersection audit self-join
    hashed = (
        events.select(
            "event_type",
            md5_hash64(F.col("user_id").cast("string")).alias("h"),
        )
        .distinct()
        .persist()
    )
    wr = Window.partitionBy("event_type").orderBy(F.asc("h"))
    wc = Window.partitionBy("event_type")
    ranked = hashed.select(
        "event_type",
        "h",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wc).alias("n_exact"),
    ).persist()  # feeds the k-row sketches AND the per-type thresholds
    sk = ranked.filter(F.col("rn") <= _KMV_K).select("event_type", "h")
    theta = ranked.groupBy("event_type").agg(
        F.when(F.max("n_exact") < _KMV_K, F.lit(_KMV_SCALE))
        .otherwise(
            F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).cast("double")
        )
        .alias("th"),
        F.max("n_exact").cast("bigint").alias("n_exact"),
    )
    ta = theta.select(
        F.col("event_type").alias("type_a"),
        F.col("th").alias("th_a"),
        F.col("n_exact").alias("na"),
    )
    tb = theta.select(
        F.col("event_type").alias("type_b"),
        F.col("th").alias("th_b"),
        F.col("n_exact").alias("nb"),
    )
    pairs = (
        ta.join(tb, F.col("type_a") < F.col("type_b"))
        .select(
            "type_a", "type_b", F.least("th_a", "th_b").alias("th"),
            "na", "nb",
        )
        .persist()  # tiny; feeds 3 kept-count branches + the readout
    )
    s1 = sk.select(F.col("event_type").alias("type_a"), "h")
    s2 = sk.select(F.col("event_type").alias("type_b"), "h")
    both = s1.join(s2, "h").filter(F.col("type_a") < F.col("type_b"))
    inter = (
        both.join(pairs.select("type_a", "type_b", "th"), ["type_a", "type_b"])
        .filter(F.col("h") < F.col("th"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("ic"))
    )
    ka = (
        pairs.select("type_a", "type_b", "th")
        .join(s1, "type_a")
        .filter(F.col("h") < F.col("th"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("kept_a"))
    )
    kb = (
        pairs.select("type_a", "type_b", "th")
        .join(s2, "type_b")
        .filter(F.col("h") < F.col("th"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("kept_b"))
    )
    h1 = hashed.select(F.col("event_type").alias("type_a"), "h")
    h2 = hashed.select(F.col("event_type").alias("type_b"), "h")
    einter = (
        h1.join(h2, "h")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("ie"))
    )
    keys = ["type_a", "type_b"]
    out = (
        pairs.join(inter, keys, "left")
        .join(ka, keys, "left")
        .join(kb, keys, "left")
        .join(einter, keys, "left")
    )
    ic = F.coalesce(F.col("ic"), F.lit(0))
    ie = F.coalesce(F.col("ie"), F.lit(0))
    kept = (
        F.coalesce(F.col("kept_a"), F.lit(0))
        + F.coalesce(F.col("kept_b"), F.lit(0))
        - ic
    )
    return out.select(
        "type_a",
        "type_b",
        ie.cast("bigint").alias("n_inter_exact"),
        F.round(ic / (F.col("th") / F.lit(_KMV_SCALE)), 6).alias(
            "n_inter_est"
        ),
        F.round(
            ie.cast("double") / (F.col("na") + F.col("nb") - ie), 6
        ).alias("jaccard_exact"),
        F.round(
            ic.cast("double") / F.nullif(kept.cast("double"), F.lit(0.0)), 6
        ).alias("jaccard_est"),
    ).orderBy("type_a", "type_b")


@query(
    "source_mixture_drift",
    """
    WITH rollup AS (
        SELECT CAST(FLOOR(doc_id / 200.0) AS BIGINT) AS batch_id,
               source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(LEN(STR_SPLIT(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents
        GROUP BY 1, 2
    )
    SELECT batch_id, source, n_docs, n_tokens,
           ROUND(CAST(n_tokens AS DOUBLE)
                 / SUM(n_tokens) OVER (PARTITION BY batch_id), 6)
               AS batch_share,
           ROUND(CAST(SUM(n_tokens) OVER (PARTITION BY source) AS DOUBLE)
                 / SUM(n_tokens) OVER (), 6) AS corpus_share,
           ROUND(CAST(n_tokens AS DOUBLE)
                     / SUM(n_tokens) OVER (PARTITION BY batch_id)
                 - CAST(SUM(n_tokens) OVER (PARTITION BY source) AS DOUBLE)
                     / SUM(n_tokens) OVER (), 6) + 0.0 AS drift
    FROM rollup
    ORDER BY batch_id, source
    """,
)
def source_mixture_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture monitoring — the streaming-operable twin of the
    mixing family (temperature / DSIR / DoReMi set the TARGET mixture;
    this watches what actually ARRIVES). Per ingest batch (doc_id div
    200, the micro-batch proxy — documents carry no event time) and
    source: doc/token counts, the source's token share within the
    batch, its corpus-wide share, and the signed drift between them —
    the number an ingestion monitor alerts on when one source's shard
    feed surges or stalls mid-run.

    The corpus-sized work is ONE projection + grouped aggregation
    (streaming/transforms.source_mixture_rollup — the identical
    function runs under readStream in complete mode;
    tests/test_streaming.py asserts stream == batch). Every window here
    partitions the batches×sources-bounded rollup, never the corpus:
    at 100 TB the shares are window sums over a few thousand rows.
    Shares are single double divisions of exact BIGINT token counts
    (< 2^53 by construction); drift re-derives from the raw shares and
    rounds once, with the signed-zero normalization (r07 cusum lesson)
    since it crosses zero by construction."""
    from technical_test_data_engineer_spark.streaming.transforms import (
        source_mixture_rollup,
    )

    docs = load_table(spark, sf_dir, "documents")
    rollup = source_mixture_rollup(docs)
    w_batch = Window.partitionBy("batch_id")
    w_source = Window.partitionBy("source")
    w_all = Window.partitionBy()
    batch_share = F.col("n_tokens").cast("double") / F.sum("n_tokens").over(
        w_batch
    )
    corpus_share = F.sum("n_tokens").over(w_source).cast("double") / F.sum(
        "n_tokens"
    ).over(w_all)
    return rollup.select(
        "batch_id",
        "source",
        "n_docs",
        "n_tokens",
        F.round(batch_share, 6).alias("batch_share"),
        F.round(corpus_share, 6).alias("corpus_share"),
        (F.round(batch_share - corpus_share, 6) + F.lit(0.0)).alias("drift"),
    ).orderBy("batch_id", "source")
