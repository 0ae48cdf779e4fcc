"""Event-analytics composites over the events table (EXT — SURVEY §2.3
scale rule; the reference has no relational surface).

Sessionization, funnel, and cohort retention — the workhorse queries of
behavioral analytics. All three shuffle exclusively on user_id (or on
nothing), so they co-partition with any user-keyed layout and scale
linearly: no query here ever materializes cross-user state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nibbler_spark.queries import pin, register
from nibbler_spark.sources import load_table


@register(
    "ext_sessionize_batch",
    survey_id="EXT-SESSION",
    category="event-analytics",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS session_seq
  FROM flagged
)
SELECT user_id,
       CAST(session_seq AS BIGINT) AS session_seq,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events
FROM sess
GROUP BY user_id, session_seq
ORDER BY user_id, session_seq
""",
)
def ext_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands, 30-minute inactivity gap):
    lag over (user_id, ts) flags session starts, a running sum numbers
    the sessions, then a per-(user, session) aggregate. The batch dual of
    I3's streaming session_window, with identical close-after-gap
    semantics. Both windows and the final groupBy hash on user_id, so one
    exchange serves all three steps at any scale; event_id is the
    total-order tiebreaker (SURVEY §2.3 E discipline)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0).alias("is_new"),
    )
    sess = flagged.withColumn("session_seq", F.sum("is_new").over(w))
    return (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .select(
            "user_id",
            F.col("session_seq").cast("bigint").alias("session_seq"),
            "session_start",
            "session_end",
            "n_events",
        )
        .orderBy("user_id", "session_seq")
    )


@register(
    "ext_funnel",
    survey_id="EXT-FUNNEL",
    category="event-analytics",
    oracle="""
WITH s AS (
  SELECT user_id, MIN(ts) AS st FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
v AS (
  SELECT e.user_id, MIN(e.ts) AS vt
  FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'view' AND e.ts > s.st GROUP BY e.user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS ct
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.vt GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS pt
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.ct GROUP BY e.user_id
)
SELECT (SELECT COUNT(*) FROM s) AS n_signup,
       (SELECT COUNT(*) FROM v) AS n_view,
       (SELECT COUNT(*) FROM c) AS n_click,
       (SELECT COUNT(*) FROM p) AS n_purchase
""",
)
def ext_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup → view → click → purchase: each
    stage is the earliest qualifying event strictly after the previous
    stage's timestamp, per user. Four chained filter-join-aggregate
    stages, every one keyed by user_id — the chain reuses one hash
    partitioning end to end, and each stage's output is ≤ |users| rows,
    so the funnel costs four co-partitioned passes over events at any
    scale (never a per-user sort of the whole history)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )

    def stage(prev: DataFrame, etype: str, prev_col: str, out: str) -> DataFrame:
        return (
            e.where(F.col("event_type") == etype)
            .join(prev, "user_id")
            .where(F.col("ts") > F.col(prev_col))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out))
        )

    s = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("st"))
    )
    v = stage(s, "view", "st", "vt")
    c = stage(v, "click", "vt", "ct")
    p = stage(c, "purchase", "ct", "pt")
    # 1-row sides: Spark would pick BroadcastNestedLoopJoin anyway, but
    # the hint pins the plan intent like every other broadcast site.
    return (
        s.agg(F.count("*").alias("n_signup"))
        .crossJoin(F.broadcast(v.agg(F.count("*").alias("n_view"))))
        .crossJoin(F.broadcast(c.agg(F.count("*").alias("n_click"))))
        .crossJoin(F.broadcast(p.agg(F.count("*").alias("n_purchase"))))
    )


@register(
    "ext_cohort_retention",
    survey_id="EXT-RETAIN",
    category="event-analytics",
    oracle="""
WITH first AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
  FROM events GROUP BY user_id
),
act AS (
  SELECT DISTINCT user_id,
         CAST(date_trunc('week', ts) AS TIMESTAMP) AS active_week
  FROM events
)
SELECT f.cohort_week,
       CAST((epoch(a.active_week) - epoch(f.cohort_week)) / 604800 AS BIGINT)
         AS week_offset,
       COUNT(DISTINCT a.user_id) AS n_users
FROM first f JOIN act a ON f.user_id = a.user_id
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def ext_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by the ISO week of their
    first event; n_users counts how many of each cohort are active k
    weeks later. Both CTEs aggregate on user_id, the join is
    user_id-equi, and the final rollup groups on (cohort, offset) whose
    cardinality is weeks² — tiny at any scale. Week arithmetic is done on
    epoch seconds of week-truncated timestamps (exact multiples of 7
    days; session TZ pinned UTC) so both engines bucket identically.
    Divergence note (SURVEY H6 discipline): DuckDB date_trunc('week')
    yields DATE where Spark yields TIMESTAMP — the oracle casts back."""
    e = load_table(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    act = e.select(
        "user_id", F.date_trunc("week", "ts").alias("active_week")
    ).distinct()
    off = (
        (
            F.col("active_week").cast("long")
            - F.col("cohort_week").cast("long")
        )
        / 604800
    ).cast("bigint")
    return (
        first.join(act, "user_id")
        .groupBy("cohort_week", off.alias("week_offset"))
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "ext_event_transitions",
    survey_id="EXT-TRANSITIONS",
    category="event-analytics",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type, COUNT(*) AS n
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
ORDER BY prev_type, next_type
""",
)
def ext_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (bigram counts over each user's
    timeline): lag window keyed by user_id, then a 25-cell rollup — the
    input to Markov-chain behavior models. One user-keyed exchange for
    the window; the transition aggregate is partial-combined."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    return (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
        .orderBy("prev_type", "next_type")
    )


@register(
    "ext_resample_ffill",
    survey_id="EXT-RESAMPLE",
    category="event-analytics",
    oracle="""
WITH ev AS (
  SELECT user_id, ts, ARG_MAX(value, event_id) AS value
  FROM events WHERE user_id % 10 = 0 GROUP BY user_id, ts
),
bounds AS (
  SELECT user_id,
         date_trunc('hour', MIN(ts)) AS t0,
         date_trunc('hour', MAX(ts)) AS t1
  FROM ev GROUP BY user_id
),
grid AS (
  SELECT user_id, UNNEST(generate_series(t0, t1, INTERVAL 1 HOUR)) AS grid_ts
  FROM bounds
)
SELECT g.user_id, g.grid_ts, e.value AS last_value
FROM grid g ASOF LEFT JOIN ev e
  ON g.user_id = e.user_id AND g.grid_ts >= e.ts
ORDER BY g.user_id, g.grid_ts
""",
)
def ext_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling: each user's irregular event stream
    regularized onto an hourly grid with forward-fill (last value at or
    before each grid point) — the gap-filling operator every
    metrics/feature pipeline needs. Spark idiom: per-user grid from
    sequence(), unioned with the (deduped) events, then
    last(value, ignoreNulls) over a user-keyed window; grid rows sort
    after events at equal timestamps so an exactly-on-grid event is
    included. One user-keyed exchange; grid size is bounded by time
    range, not event count. Oracle: DuckDB native ASOF LEFT JOIN — two
    independent formulations of the same semantics."""
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") % 10 == 0)
    ev = e.groupBy("user_id", "ts").agg(
        F.max_by("value", "event_id").alias("value")
    )
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))
        ).alias("grid_ts"),
    )
    stacked = grid.select(
        "user_id",
        F.col("grid_ts").alias("ts"),
        F.lit(None).cast("double").alias("value"),
        F.lit(1).alias("is_grid"),
    ).unionByName(
        ev.select("user_id", "ts", "value", F.lit(0).alias("is_grid"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_grid")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = stacked.withColumn(
        "last_value", F.last("value", ignorenulls=True).over(w)
    )
    return (
        filled.where(F.col("is_grid") == 1)
        .select("user_id", F.col("ts").alias("grid_ts"), "last_value")
        .orderBy("user_id", "grid_ts")
    )


@register(
    "ext_session_window_native",
    survey_id="EXT-SESSION-NATIVE",
    category="event-analytics",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         -- Spark's session_window closes at last_ts + gap END-EXCLUSIVE:
         -- an event exactly 30 min after the previous one starts a NEW
         -- session, so the rewrite must use >= (not >) to agree.
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS seq
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id, seq
ORDER BY user_id, session_start
""",
)
def ext_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window in BATCH mode (the same operator
    I3 exercises in streaming), hash-checked against the
    first-principles gaps-and-islands rewrite — two independent
    formulations of 30-minute-gap sessionization must agree exactly.
    The native form is one groupBy(session_window, user): Spark sorts
    within the user partition and merges adjacent sessions — no window
    function pass needed."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.session_window("ts", "30 minutes").alias("sw"), "user_id"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "ext_cumulative_distinct_users",
    survey_id="EXT-GROWTH",
    category="event-analytics",
    oracle="""
WITH first_seen AS (
  SELECT user_id, CAST(MIN(date_trunc('day', ts)) AS DATE) AS first_day
  FROM events GROUP BY user_id
),
daily AS (
  SELECT first_day, COUNT(*) AS new_users
  FROM first_seen GROUP BY first_day
)
SELECT first_day AS day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY first_day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cumulative_users
FROM daily ORDER BY day
""",
)
def ext_cumulative_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """User growth curve: cumulative distinct users by day WITHOUT a
    per-day distinct scan — each user reduces to their first-seen day
    (one user-keyed aggregate), daily new-user counts roll up, and a
    running sum yields the cumulative curve. The running window is over
    DAYS (bounded domain), so the O(users) work happens in the
    partial-aggregated first pass — the scale-correct rewrite of
    'COUNT(DISTINCT) per day so far', which would rescan history."""
    e = load_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("first_day")
    )
    daily = first_seen.groupBy("first_day").agg(
        F.count("*").alias("new_users")
    )
    w = (
        Window.orderBy("first_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        F.col("first_day").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cumulative_users"),
    ).orderBy("day")


@register(
    "ext_time_to_convert",
    survey_id="EXT-TTC",
    category="event-analytics",
    oracle="""
WITH s AS (
  SELECT user_id, MIN(ts) AS st FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS pt
  FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s.st GROUP BY e.user_id
)
SELECT COUNT(*) AS n_converted,
       CAST(CAST(MEDIAN(epoch_us(pt) - epoch_us(st)) AS DECIMAL(28,4))
            AS DOUBLE) AS median_micros_to_convert,
       CAST(MIN(epoch_us(pt) - epoch_us(st)) AS BIGINT) AS fastest_micros
FROM s JOIN p ON p.user_id = s.user_id
""",
)
def ext_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert: for every user with a purchase after their first
    signup, the conversion lag — reported as count, median, and fastest.
    Two user-keyed min-aggregates (the funnel's first and last stages)
    and one tiny global rollup. Lags are computed in exact integer
    MICROSECONDS (unix_micros / epoch_us — Spark's unix_timestamp
    truncates to seconds where DuckDB's epoch keeps fractions); the
    median interpolates per D17 and rounds through decimal."""
    e = load_table(spark, sf_dir, "events")
    s = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("st"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .where(F.col("ts") > F.col("st"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("pt"))
    )
    lag_us = F.unix_micros("pt") - F.unix_micros("st")
    return s.join(p, "user_id").agg(
        F.count("*").alias("n_converted"),
        F.median(lag_us).cast("decimal(28,4)").cast("double").alias(
            "median_micros_to_convert"
        ),
        F.min(lag_us).cast("bigint").alias("fastest_micros"),
    )


@register(
    "ext_lag1_autocorrelation",
    survey_id="EXT-AUTOCORR",
    category="event-analytics",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, COUNT(*) AS n
  FROM events GROUP BY 1
),
pairs AS (
  SELECT a.n AS x, b.n AS y
  FROM daily a JOIN daily b ON b.d = a.d + INTERVAL 1 DAY
),
m AS (
  SELECT COUNT(*) AS k,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM pairs
)
SELECT k AS n_pairs,
       CAST(CAST(CAST(k * sxy - sx * sy AS DOUBLE)
            / SQRT(CAST(k * sxx - sx * sx AS DOUBLE)
                   * CAST(k * syy - sy * sy AS DOUBLE))
            AS DECIMAL(18,6)) AS DOUBLE) AS lag1_autocorr
FROM m
""",
)
def ext_lag1_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the daily event-count series — the
    first check for momentum/seasonality in any metric. Counts are
    integers, so every Pearson moment is EXACT integer arithmetic; the
    only float op is the final sqrt, rounded through decimal. The
    series is O(days) regardless of event volume — all heavy work is
    the one day-keyed count."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(F.count("*").alias("n"))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(
        b, F.col("b.d") == F.date_add(F.col("a.d"), 1)
    ).select(F.col("a.n").alias("x"), F.col("b.n").alias("y"))
    m = pairs.agg(
        F.count("*").alias("k"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    num = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.sqrt(
        (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
        * (F.col("k") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    return m.select(
        F.col("k").alias("n_pairs"),
        (num / den).cast("decimal(18,6)").cast("double").alias(
            "lag1_autocorr"
        ),
    )


@register(
    "ext_dow_seasonality",
    survey_id="EXT-SEASONALITY",
    category="event-analytics",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, COUNT(*) AS n
  FROM events GROUP BY 1
),
by_dow AS (
  SELECT dayofweek(d) + 1 AS dow,
         CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS n_days
  FROM daily GROUP BY 1
),
overall AS (
  SELECT CAST(SUM(n) AS BIGINT) AS g_total, COUNT(*) AS g_days FROM daily
)
SELECT dow, total, n_days,
       CAST(CAST((CAST(total AS DOUBLE) / n_days)
            / (CAST(g_total AS DOUBLE) / g_days) AS DECIMAL(18,8))
            AS DOUBLE) AS seasonality_index
FROM by_dow CROSS JOIN overall
ORDER BY dow
""",
)
def ext_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality index: mean daily volume per weekday
    relative to the overall mean (1.0 = flat) — the decomposition step
    before any anomaly threshold is set. Integer counts make every
    ratio input exact; the index divides identical doubles and rounds
    through decimal. Work is O(days) past the one day-keyed count."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(F.count("*").alias("n"))
    by_dow = daily.groupBy(F.dayofweek("d").alias("dow")).agg(
        F.sum("n").cast("bigint").alias("total"),
        F.count("*").alias("n_days"),
    )
    overall = daily.agg(
        F.sum("n").cast("bigint").alias("g_total"),
        F.count("*").alias("g_days"),
    )
    idx = (F.col("total").cast("double") / F.col("n_days")) / (
        F.col("g_total").cast("double") / F.col("g_days")
    )
    return (
        by_dow.crossJoin(F.broadcast(overall))
        .select(
            "dow",
            "total",
            "n_days",
            idx.cast("decimal(18,8)").cast("double").alias(
                "seasonality_index"
            ),
        )
        .orderBy("dow")
    )


@register(
    "ext_engagement_distribution",
    survey_id="EXT-ENGAGEMENT",
    category="event-analytics",
    oracle="""
WITH per_user AS (
  SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
)
SELECT COUNT(*) AS n_users,
       CAST(MIN(n) AS BIGINT) AS min_events,
       ROUND(QUANTILE_CONT(n, 0.25), 4) AS p25,
       ROUND(MEDIAN(n), 4) AS p50,
       ROUND(QUANTILE_CONT(n, 0.75), 4) AS p75,
       CAST(MAX(n) AS BIGINT) AS max_events
FROM per_user
""",
)
def ext_engagement_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Engagement distribution: the five-number summary of events per
    user — the shape check (heavy head? long tail?) that decides
    whether per-user operators need skew handling at all. One keyed
    count, then percentiles over the O(users) aggregate (D17
    interpolation)."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count("*").alias("n"))
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.min("n").cast("bigint").alias("min_events"),
        F.round(F.percentile("n", 0.25), 4).alias("p25"),
        F.round(F.median("n"), 4).alias("p50"),
        F.round(F.percentile("n", 0.75), 4).alias("p75"),
        F.max("n").cast("bigint").alias("max_events"),
    )


@register(
    "ext_error_rate_monitor",
    survey_id="EXT-ERRMON",
    category="event-analytics",
    oracle="""
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_errors,
       CAST(CAST(CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                 AS DOUBLE) / COUNT(*) AS DECIMAL(18,8)) AS DOUBLE)
         AS error_rate,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
            AS DOUBLE) / COUNT(*) > 0.25 AS breached
FROM events
GROUP BY 1 HAVING COUNT(*) >= 10
ORDER BY hour
""",
)
def ext_error_rate_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly error-rate monitoring with a breach flag — the operational
    rollup a pipeline alerts on (min-volume HAVING guard avoids
    low-traffic false alarms). Integer conditional counts divide to
    identical doubles; the same query runs unchanged as a streaming
    tumbling-window aggregate (I1's shape)."""
    e = load_table(spark, sf_dir, "events")
    n_err = F.sum(
        F.when(F.col("event_type") == "error", 1).otherwise(0)
    )
    rate = n_err.cast("double") / F.count("*")
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(
            F.count("*").alias("n"),
            n_err.cast("bigint").alias("n_errors"),
            rate.cast("decimal(18,8)").cast("double").alias("error_rate"),
            (rate > 0.25).alias("breached"),
        )
        .where(F.col("n") >= 10)
        .orderBy("hour")
    )


@register(
    "ext_inter_event_gaps",
    survey_id="EXT-GAPS",
    category="event-analytics",
    oracle="""
WITH seq AS (
  SELECT user_id,
         epoch_us(ts) - epoch_us(LAG(ts) OVER (
           PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
  FROM events
)
SELECT user_id,
       COUNT(gap_us) AS n_gaps,
       CAST(CAST(MEDIAN(gap_us) AS DECIMAL(28,4)) AS DOUBLE)
         AS median_gap_us,
       CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
FROM seq WHERE gap_us IS NOT NULL AND user_id % 30 = 0
GROUP BY user_id ORDER BY user_id
""",
)
def ext_inter_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap distribution per user (median and max, exact
    integer microseconds — the time_to_convert unit discipline): the
    statistic that calibrates sessionization gap thresholds and
    watermark delays, instead of guessing them. One user-keyed window +
    one keyed aggregate."""
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") % 30 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    seq = e.select("user_id", gap.alias("gap_us")).where(
        F.col("gap_us").isNotNull()
    )
    return (
        seq.groupBy("user_id")
        .agg(
            F.count("gap_us").alias("n_gaps"),
            F.median("gap_us").cast("decimal(28,4)").cast("double").alias(
                "median_gap_us"
            ),
            F.max("gap_us").cast("bigint").alias("max_gap_us"),
        )
        .orderBy("user_id")
    )


@register(
    "ext_ewma_anomaly",
    survey_id="EXT-EWMA",
    category="event-analytics",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
j AS (
  SELECT d.event_type, d.day, d.n,
         SUM(CAST(FLOOR(POWER(0.8, date_diff('day', p.day, d.day))
                        * p.n * 1e6) AS BIGINT)) AS swx,
         SUM(CAST(FLOOR(POWER(0.8, date_diff('day', p.day, d.day))
                        * 1e6) AS BIGINT)) AS sw
  FROM daily d JOIN daily p
    ON d.event_type = p.event_type
   AND p.day >= d.day - 14 AND p.day <= d.day - 1
  GROUP BY d.event_type, d.day, d.n
),
scored AS (
  SELECT event_type, day, n,
         ROUND(CAST(swx AS DOUBLE) / sw, 4) AS ewma,
         ROUND((n - CAST(swx AS DOUBLE) / sw)
               / (CAST(swx AS DOUBLE) / sw), 4) AS dev
  FROM j
)
SELECT event_type, day, n, ewma, dev FROM (
  SELECT *, ROW_NUMBER() OVER (
    ORDER BY ABS(dev) DESC, event_type, day) AS rn
  FROM scored
) WHERE rn <= 20 ORDER BY ABS(dev) DESC, event_type, day
""",
)
def ext_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving-average anomaly detection on the
    per-type daily event series: each day's count is compared against
    the decay-weighted mean of its previous 14 days (decay 0.8/day) and
    the 20 largest relative deviations surface.

    The corpus reduces to (event_type, day) counts first — map-side
    combined, kilobytes per year per type — so the 14-day
    band self-join runs on the aggregate, never on raw events: an
    equi-join on event_type with a bounded date-range predicate, the
    c10_interval_join shape. Decay weights are transcendental →
    each term is floored to a 1e-6 grid and summed as integers
    (playbook #3), so both engines divide identical sums; ranking uses
    the rounded deviation with (type, day) tie-breaks.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("n"))
    d = daily.alias("d")
    p = daily.alias("p")
    k = F.datediff(F.col("d.day"), F.col("p.day"))
    decay = F.pow(F.lit(0.8), k)
    j = (
        d.join(
            p,
            (F.col("d.event_type") == F.col("p.event_type"))
            & (F.col("p.day") >= F.date_sub(F.col("d.day"), 14))
            & (F.col("p.day") <= F.date_sub(F.col("d.day"), 1)),
        )
        .groupBy("d.event_type", "d.day", "d.n")
        .agg(
            F.sum(
                F.floor(decay * F.col("p.n") * 1e6).cast("bigint")
            ).alias("swx"),
            F.sum(F.floor(decay * 1e6).cast("bigint")).alias("sw"),
        )
    )
    ewma = F.col("swx").cast("double") / F.col("sw").cast("double")
    scored = j.select(
        F.col("event_type"),
        F.col("day"),
        F.col("n"),
        F.round(ewma, 4).alias("ewma"),
        F.round((F.col("n") - ewma) / ewma, 4).alias("dev"),
    )
    # orderBy+limit = TakeOrderedAndProject over the daily aggregate.
    return (
        scored.select("event_type", "day", "n", "ewma", "dev")
        .orderBy(F.abs(F.col("dev")).desc(), "event_type", "day")
        .limit(20)
    )


@register(
    "ext_session_stats",
    survey_id="EXT-SESSION-STATS",
    category="event-analytics",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS session_seq
  FROM flagged
),
per_session AS (
  SELECT user_id, session_seq,
         date_diff('second', MIN(ts), MAX(ts)) AS dur_s,
         COUNT(*) AS n_events
  FROM sess GROUP BY user_id, session_seq
),
buckets AS (
  SELECT CASE WHEN dur_s = 0 THEN 'bounce'
              WHEN dur_s < 600 THEN 'lt_10m'
              WHEN dur_s < 3600 THEN 'lt_1h'
              ELSE 'ge_1h' END AS dur_bucket,
         dur_s, n_events
  FROM per_session
)
SELECT dur_bucket,
       COUNT(*) AS n_sessions,
       CAST(SUM(dur_s) AS BIGINT) AS total_dur_s,
       CAST(SUM(n_events) AS BIGINT) AS total_events,
       CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS events_per_session
FROM buckets
GROUP BY dur_bucket
ORDER BY dur_bucket
""",
)
def ext_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-duration distribution on top of the gaps-and-islands
    sessionization: sessions bucket into bounce / <10 min / <1 h / ≥1 h
    with per-bucket volume and events-per-session — the engagement
    panel a behavioral pipeline derives right after sessionizing.

    Same single user_id exchange as ext_sessionize_batch feeding both
    windows and the per-session aggregate; the bucket rollup then
    reduces sessions to four rows. Durations are integer seconds and
    counts are integers, so every emitted ratio divides bit-identically.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0).alias("is_new"),
    )
    sess = flagged.withColumn("session_seq", F.sum("is_new").over(w))
    per_session = sess.groupBy("user_id", "session_seq").agg(
        (
            F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))
        ).alias("dur_s"),
        F.count("*").alias("n_events"),
    )
    bucket = (
        F.when(F.col("dur_s") == 0, "bounce")
        .when(F.col("dur_s") < 600, "lt_10m")
        .when(F.col("dur_s") < 3600, "lt_1h")
        .otherwise("ge_1h")
    )
    return (
        per_session.select(
            bucket.alias("dur_bucket"), "dur_s", "n_events"
        )
        .groupBy("dur_bucket")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("dur_s").cast("bigint").alias("total_dur_s"),
            F.sum("n_events").cast("bigint").alias("total_events"),
            (
                F.sum("n_events").cast("double") / F.count("*")
            ).alias("events_per_session"),
        )
        .orderBy("dur_bucket")
    )


@register(
    "ext_gap_fill_interpolate",
    survey_id="EXT-GAPFILL",
    category="event-analytics",
    oracle="""
WITH e AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(FLOOR(value * 100) AS BIGINT) AS c
  FROM events WHERE user_id % 10 = 0
),
known AS (
  SELECT event_type, hr, CAST(SUM(c) AS BIGINT) AS cents
  FROM e GROUP BY event_type, hr
),
b AS (SELECT event_type, MIN(hr) AS mn, MAX(hr) AS mx
      FROM known GROUP BY event_type),
spine AS (
  SELECT event_type,
         UNNEST(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr
  FROM b
),
j AS (
  SELECT s.event_type, s.hr, k.cents
  FROM spine s LEFT JOIN known k USING (event_type, hr)
),
f AS (
  SELECT *,
    last_value(CASE WHEN cents IS NOT NULL THEN hr END IGNORE NULLS)
      OVER w_p AS p_hr,
    last_value(cents IGNORE NULLS) OVER w_p AS p_v,
    first_value(CASE WHEN cents IS NOT NULL THEN hr END IGNORE NULLS)
      OVER w_n AS n_hr,
    first_value(cents IGNORE NULLS) OVER w_n AS n_v
  FROM j
  WINDOW w_p AS (PARTITION BY event_type ORDER BY hr
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         w_n AS (PARTITION BY event_type ORDER BY hr
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, hr, cents,
  ROUND(CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
             WHEN p_hr IS NOT NULL AND n_hr IS NOT NULL THEN
               CAST(p_v AS DOUBLE)
               + (CAST(n_v AS DOUBLE) - CAST(p_v AS DOUBLE))
                 * (CAST(epoch(hr) AS DOUBLE) - CAST(epoch(p_hr) AS DOUBLE))
                 / (CAST(epoch(n_hr) AS DOUBLE) - CAST(epoch(p_hr) AS DOUBLE))
        END, 4) AS filled,
  (cents IS NULL) AS is_gap
FROM f ORDER BY event_type, hr
""",
)
def ext_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling with linear interpolation — the
    timeseries-engine staple (`time_bucket_gapfill` + `interpolate`):
    a sparse hourly revenue series per event type is densified against
    a generated hour spine, and every missing bucket is filled by
    linearly interpolating between its nearest known neighbors
    (IGNORE-NULLS window scans in both directions). Integer cents make
    the endpoints engine-exact; the interpolation itself is identical
    IEEE-double ops on identical operands, so even the filled values
    hash-match. Leading/trailing gaps (no neighbor on one side) stay
    NULL by contract. Scale: the spine explodes from per-group min/max
    bounds (never a driver loop), the join is keyed on (type, hour),
    and the two window scans partition by series — dense-ification work
    is proportional to series length, distributed across series."""
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") % 10 == 0)
    known = (
        e.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("hr")
        ).agg(
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    spine = (
        known.groupBy("event_type")
        .agg(F.min("hr").alias("mn"), F.max("hr").alias("mx"))
        .select(
            "event_type",
            F.explode(
                F.expr("sequence(mn, mx, interval 1 hour)")
            ).alias("hr"),
        )
    )
    j = spine.join(known, ["event_type", "hr"], "left")
    w_p = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_n = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    hr_of_known = F.when(F.col("cents").isNotNull(), F.col("hr"))
    f = j.select(
        "event_type",
        "hr",
        "cents",
        F.last(hr_of_known, ignorenulls=True).over(w_p).alias("p_hr"),
        F.last("cents", ignorenulls=True).over(w_p).alias("p_v"),
        F.first(hr_of_known, ignorenulls=True).over(w_n).alias("n_hr"),
        F.first("cents", ignorenulls=True).over(w_n).alias("n_v"),
    )
    sec = lambda c: F.unix_timestamp(c).cast("double")  # noqa: E731
    interp = F.col("p_v").cast("double") + (
        F.col("n_v").cast("double") - F.col("p_v").cast("double")
    ) * (sec("hr") - sec("p_hr")) / (sec("n_hr") - sec("p_hr"))
    return f.select(
        "event_type",
        "hr",
        "cents",
        F.round(
            F.when(F.col("cents").isNotNull(), F.col("cents").cast("double"))
            .when(F.col("p_hr").isNotNull() & F.col("n_hr").isNotNull(), interp),
            4,
        ).alias("filled"),
        F.col("cents").isNull().alias("is_gap"),
    ).orderBy("event_type", "hr")


@register(
    "ext_session_dynamic_gap",
    survey_id="EXT-SESS-DYNGAP",
    category="event-analytics",
    oracle="""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS t,
         CASE WHEN event_type = 'purchase'
              THEN 1800000000 ELSE 600000000 END AS gap_us
  FROM events
),
m AS (
  SELECT *, MAX(t + gap_us) OVER (
    PARTITION BY user_id ORDER BY t
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
  ) AS prev_end
  FROM e
),
flg AS (
  SELECT *, CASE WHEN prev_end IS NULL OR t >= prev_end
                 THEN 1 ELSE 0 END AS brk
  FROM m
),
sid AS (
  SELECT *, SUM(brk) OVER (
    PARTITION BY user_id ORDER BY t ROWS UNBOUNDED PRECEDING
  ) AS s
  FROM flg
)
SELECT user_id, make_timestamp(MIN(t)) AS s_start,
       make_timestamp(MAX(t + gap_us)) AS s_end,
       COUNT(*) AS n_events
FROM sid GROUP BY user_id, s
ORDER BY user_id, s_start
""",
)
def ext_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a PER-EVENT dynamic gap (Spark
    `session_window(ts, expr)`): purchases hold a session open for 30
    minutes, everything else 10 — the adaptive-timeout semantics real
    engagement analytics want, which a fixed-gap sessionizer can't
    express. Spark merges the per-event intervals [ts, ts+gap) into
    end-exclusive unions; the oracle restates that as gaps-and-islands
    over a running MAX of interval ends — in INTEGER MICROSECONDS
    (epoch_us), so every comparison and boundary is engine-exact with
    no float-epoch rounding. Tie-robust: events sharing a timestamp
    always co-session regardless of intra-tie order (any tied event's
    end strictly exceeds the shared instant). One user-keyed exchange,
    session merge inside the engine's window state — the same shape
    Structured Streaming runs incrementally (i03's streaming parity)."""
    e = load_table(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("30 minutes")
    ).otherwise(F.lit("10 minutes"))
    return (
        e.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("s_start"),
            F.col("w.end").alias("s_end"),
            "n_events",
        )
        .orderBy("user_id", "s_start")
    )


@register(
    "ext_autocorrelation",
    survey_id="EXT-ACF",
    category="event-analytics",
    oracle="""
WITH daily AS (
  SELECT date_trunc('day', ts) AS d,
         CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS c
  FROM events GROUP BY 1
),
lagged AS (
  SELECT l.lag_k, a.c AS x, b.c AS y
  FROM daily a
  JOIN (SELECT UNNEST([1, 2, 3, 7]) AS lag_k) l ON TRUE
  JOIN daily b ON b.d = a.d + (l.lag_k * INTERVAL '1 day')
),
s AS (
  SELECT lag_k, CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x * y) AS DOUBLE) AS sxy,
         CAST(SUM(x * x) AS DOUBLE) AS sxx,
         CAST(SUM(y * y) AS DOUBLE) AS syy
  FROM lagged GROUP BY lag_k
)
SELECT lag_k, CAST(n AS BIGINT) AS n_pairs,
       ROUND((n * sxy - sx * sy)
             / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6)
         AS acf
FROM s ORDER BY lag_k
""",
)
def ext_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily revenue series at lags
    {1, 2, 3, 7} — the first diagnostic any forecasting pipeline runs
    (lag-7 exposes weekly seasonality). Each lag's pairs come from a
    date-shifted self-join of the tiny daily aggregate; the Pearson
    correlation then runs on integer-exact sufficient statistics
    (BIGINT sums of integer cents — no float accumulation at any
    partition count), with sqrt/divide on identical doubles in both
    engines. Scale: the fact shuffle happens once (the daily rollup);
    everything after operates on O(days) rows — lag analysis is free
    no matter how large the event log."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.sum(F.floor(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("c")
    )
    lags = spark.createDataFrame([(1,), (2,), (3,), (7,)], "lag_k INT")
    a = daily.alias("a").join(F.broadcast(lags))
    lagged = a.join(
        daily.alias("b"),
        F.col("b.d")
        == F.col("a.d") + F.col("lag_k") * F.expr("INTERVAL 1 DAY"),
    ).select(
        "lag_k", F.col("a.c").alias("x"), F.col("b.c").alias("y")
    )
    s = lagged.groupBy("lag_k").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return s.select(
        "lag_k",
        n.cast("bigint").alias("n_pairs"),
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            6,
        ).alias("acf"),
    ).orderBy("lag_k")


@register(
    "ext_chi_square",
    survey_id="EXT-CHI2",
    category="event-analytics",
    oracle="""
WITH obs AS (
  SELECT event_type, dayofweek(CAST(ts AS DATE)) AS dow,
         COUNT(*) AS o
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT event_type, dow, o,
         SUM(o) OVER (PARTITION BY event_type) AS row_tot,
         SUM(o) OVER (PARTITION BY dow) AS col_tot,
         SUM(o) OVER () AS grand
  FROM obs
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(MIN(grand) AS BIGINT) AS n_total,
       ROUND(CAST(SUM(CAST(FLOOR(
         (CAST(o AS DOUBLE)
          - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
            / CAST(grand AS DOUBLE))
         * (CAST(o AS DOUBLE)
            - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
              / CAST(grand AS DOUBLE))
         / (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
            / CAST(grand AS DOUBLE))
         * 1e6) AS DECIMAL(24,0))) AS DOUBLE) / 1e6, 4) AS chi2
FROM tot
""",
)
def ext_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence statistic over the (event_type ×
    day-of-week) contingency table: observed cell counts vs the
    expected outer-product under independence, Σ(O−E)²/E. Counts are
    exact integers; each cell's contribution is the same IEEE-double
    expression in both engines, and the 35-term sum is over the TINY
    contingency table — summed in DuckDB's single-threaded order and
    in Spark over ≤35 rows where the decimal trick is unnecessary
    because the sum is reassociation-free at this size? No — order is
    pinned the honest way: the cell terms are floored to a 1e-6 grid
    and summed as exact decimals, so any partitioning gives the same
    bits. Scale: one fact shuffle to the contingency cells, window
    margins over ≤ |types|×7 rows."""
    e = load_table(spark, sf_dir, "events")
    obs = e.groupBy(
        "event_type",
        F.dayofweek(F.col("ts").cast("date")).alias("dow"),
    ).agg(F.count("*").alias("o"))
    w_r = Window.partitionBy("event_type")
    w_c = Window.partitionBy("dow")
    w_g = Window.partitionBy()
    tot = obs.select(
        "o",
        F.sum("o").over(w_r).alias("row_tot"),
        F.sum("o").over(w_c).alias("col_tot"),
        F.sum("o").over(w_g).alias("grand"),
    )
    exp = (
        F.col("row_tot").cast("double")
        * F.col("col_tot").cast("double")
        / F.col("grand").cast("double")
    )
    term = (F.col("o").cast("double") - exp) * (
        F.col("o").cast("double") - exp
    ) / exp
    return tot.agg(
        F.count("*").cast("bigint").alias("n_cells"),
        F.min("grand").cast("bigint").alias("n_total"),
        F.round(
            F.sum(
                F.floor(term * 1e6).cast("decimal(24,0)")
            ).cast("double")
            / F.lit(1e6),
            4,
        ).alias("chi2"),
    )


@register(
    "ext_ohlc_bars",
    survey_id="EXT-OHLC",
    category="event-analytics",
    oracle="""
WITH t AS (
  SELECT event_type, date_trunc('hour', ts) AS bar_start, ts, event_id,
         CAST(FLOOR(value * 100) AS BIGINT) AS cents
  FROM events
),
r AS (
  SELECT *,
    row_number() OVER (PARTITION BY event_type, bar_start
                       ORDER BY ts, event_id) AS rk_a,
    row_number() OVER (PARTITION BY event_type, bar_start
                       ORDER BY ts DESC, event_id DESC) AS rk_d
  FROM t
)
SELECT event_type, bar_start,
       CAST(COUNT(*) AS BIGINT) AS n_ticks,
       CAST(MIN(CASE WHEN rk_a = 1 THEN cents END) AS BIGINT)
         AS open_cents,
       CAST(MAX(cents) AS BIGINT) AS high_cents,
       CAST(MIN(cents) AS BIGINT) AS low_cents,
       CAST(MIN(CASE WHEN rk_d = 1 THEN cents END) AS BIGINT)
         AS close_cents
FROM r GROUP BY event_type, bar_start
ORDER BY event_type, bar_start
""",
)
def ext_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars — the canonical timeseries downsampling:
    per (series, hour) the first/highest/lowest/last tick values.
    Open/close are time-ordered picks expressed as min_by/max_by on
    the (ts, event_id) tuple — ORDER-FREE aggregates that partial-
    combine map-side (each partition keeps its own earliest/latest
    candidate, merge picks the winner), unlike a sort-then-first
    window which would shuffle every tick to its series partition and
    sort. The event_id tie-break makes same-microsecond ticks
    deterministic. Integer cents throughout; hash-exact."""
    e = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("bigint")
    tsk = F.struct("ts", "event_id")
    return (
        e.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("bar_start")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_ticks"),
            F.min_by(cents, tsk).alias("open_cents"),
            F.max(cents).cast("bigint").alias("high_cents"),
            F.min(cents).cast("bigint").alias("low_cents"),
            F.max_by(cents, tsk).alias("close_cents"),
        )
        .orderBy("event_type", "bar_start")
    )


@register(
    "ext_time_weighted_avg",
    survey_id="EXT-TWAP",
    category="event-analytics",
    oracle="""
WITH t AS (
  SELECT event_type, ts, epoch_us(ts) AS tu,
         CAST(FLOOR(value * 100) AS BIGINT) AS cents
  FROM events
),
seg AS (
  SELECT event_type, cents,
         LEAD(tu) OVER (PARTITION BY event_type ORDER BY tu, cents)
           - tu AS dur_us
  FROM t
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(dur_us) AS BIGINT) AS span_us,
       ROUND(CAST(SUM(cents * dur_us) AS DOUBLE)
             / CAST(SUM(dur_us) AS DOUBLE), 6) AS twap_cents
FROM seg WHERE dur_us IS NOT NULL
GROUP BY event_type ORDER BY event_type
""",
)
def ext_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP) — the correct mean for irregularly
    sampled series, where a plain AVG over-weights bursts: each
    observation holds its value until the next one, so its weight is
    its holding DURATION. Durations come from one LEAD over the
    series-partitioned order in integer microseconds; weight × value
    products stay in exact BIGINT (cents × µs ≤ ~1e17 per segment,
    summed — Spark widens, DuckDB uses int128; both cast the exact sum
    to double identically), so the quotient is engine-exact. Same-µs
    ties ordered by (ts, cents) deterministically. One series-keyed
    exchange; the trailing open-ended observation is excluded on both
    sides."""
    e = load_table(spark, sf_dir, "events")
    t = e.select(
        "event_type",
        F.unix_micros("ts").alias("tu"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("tu", "cents")
    seg = t.select(
        "event_type",
        "cents",
        (F.lead("tu").over(w) - F.col("tu")).alias("dur_us"),
    ).where(F.col("dur_us").isNotNull())
    return (
        seg.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_segments"),
            F.sum("dur_us").cast("bigint").alias("span_us"),
            F.round(
                F.sum(F.col("cents") * F.col("dur_us")).cast("double")
                / F.sum("dur_us").cast("double"),
                6,
            ).alias("twap_cents"),
        )
        .orderBy("event_type")
    )


@register(
    "ext_attribution_last_touch",
    survey_id="EXT-ATTRIB",
    category="event-analytics",
    oracle="""
WITH tagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type = 'purchase'
              THEN CAST(FLOOR(value * 100) AS BIGINT) END AS cents,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS touch
  FROM events
)
SELECT COALESCE(touch, '(none)') AS touch_channel,
       CAST(COUNT(*) AS BIGINT) AS n_conversions,
       CAST(SUM(cents) AS BIGINT) AS revenue_cents
FROM tagged WHERE event_type = 'purchase'
GROUP BY COALESCE(touch, '(none)') ORDER BY touch_channel
""",
)
def ext_attribution_last_touch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Last-touch conversion attribution: every purchase credits the
    most recent PRECEDING non-purchase event in the same user's
    timeline (strictly earlier — the 1-PRECEDING frame excludes the
    conversion itself and same-instant rows deterministically via the
    event_id tie-break); purchases with no prior touch fall into
    '(none)'. One ignore-nulls window over the user-partitioned
    timeline — the same single-exchange shape as sessionization — then
    a tiny channel rollup. The multi-touch variants (linear,
    time-decay) are the same window with a collected list instead of
    last_value."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tagged = e.select(
        "event_type",
        F.when(
            F.col("event_type") == "purchase",
            F.floor(F.col("value") * 100).cast("bigint"),
        ).alias("cents"),
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        )
        .over(w)
        .alias("touch"),
    )
    return (
        tagged.where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch", F.lit("(none)")).alias("touch_channel"))
        .agg(
            F.count("*").cast("bigint").alias("n_conversions"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
        .orderBy("touch_channel")
    )


@register(
    "ext_rfm_segmentation",
    survey_id="EXT-RFM",
    category="event-analytics",
    oracle="""
WITH cust AS (
  SELECT o_custkey,
         date_diff('day', MAX(o_orderdate),
                   (SELECT MAX(o_orderdate) FROM orders)) AS recency_days,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
           AS monetary
  FROM orders GROUP BY o_custkey
),
cuts AS (
  SELECT quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]) AS rq,
         quantile_cont(CAST(frequency AS DOUBLE),
                       [0.2, 0.4, 0.6, 0.8]) AS fq,
         quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS mq
  FROM cust
),
scored AS (
  SELECT o_custkey, monetary,
         5 - ((CASE WHEN recency_days > rq[1] THEN 1 ELSE 0 END)
            + (CASE WHEN recency_days > rq[2] THEN 1 ELSE 0 END)
            + (CASE WHEN recency_days > rq[3] THEN 1 ELSE 0 END)
            + (CASE WHEN recency_days > rq[4] THEN 1 ELSE 0 END))
           AS r_score,
         1 + (CASE WHEN frequency > fq[1] THEN 1 ELSE 0 END)
           + (CASE WHEN frequency > fq[2] THEN 1 ELSE 0 END)
           + (CASE WHEN frequency > fq[3] THEN 1 ELSE 0 END)
           + (CASE WHEN frequency > fq[4] THEN 1 ELSE 0 END)
           AS f_score,
         1 + (CASE WHEN monetary > mq[1] THEN 1 ELSE 0 END)
           + (CASE WHEN monetary > mq[2] THEN 1 ELSE 0 END)
           + (CASE WHEN monetary > mq[3] THEN 1 ELSE 0 END)
           + (CASE WHEN monetary > mq[4] THEN 1 ELSE 0 END)
           AS m_score
  FROM cust CROSS JOIN cuts
)
SELECT r_score, f_score, m_score,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(monetary AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
         AS avg_monetary
FROM scored
GROUP BY r_score, f_score, m_score
ORDER BY r_score, f_score, m_score
""",
)
def ext_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the classic CRM scoring: per
    customer recency (days since last order, against the corpus max
    date), frequency (order count), monetary (decimal-exact lifetime
    revenue), each quintile-scored 1–5 (5 best; recency inverts —
    recent = high). Scores come from exact 20/40/60/80th-percentile
    cuts broadcast to every row — NO global ranking window (the
    unpartitioned-ntile trap); each score is a fixed 4-comparison
    expression against identical cut doubles, so it is deterministic
    and the whole query is two keyed aggregates plus a 1-row
    broadcast. At 100 TB swap the exact percentile for
    approx_percentile and the plan is unchanged. Output: the segment
    histogram with decimal-exact average spend."""
    o = load_table(spark, sf_dir, "orders")
    from nibbler_spark.queries._helpers import davg, dec

    maxd = o.agg(F.max("o_orderdate").alias("maxd"))
    cust = (
        o.crossJoin(F.broadcast(maxd))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.any_value("maxd"), F.max("o_orderdate")).alias(
                "recency_days"
            ),
            F.count("*").alias("frequency"),
            F.sum(dec("o_totalprice")).cast("double").alias("monetary"),
        )
    )
    cuts = cust.agg(
        F.percentile(
            "recency_days", F.array(*[F.lit(x) for x in (0.2, 0.4, 0.6, 0.8)])
        ).alias("rq"),
        F.percentile(
            F.col("frequency").cast("double"),
            F.array(*[F.lit(x) for x in (0.2, 0.4, 0.6, 0.8)]),
        ).alias("fq"),
        F.percentile(
            "monetary", F.array(*[F.lit(x) for x in (0.2, 0.4, 0.6, 0.8)])
        ).alias("mq"),
    )

    def score(col: str, q: str) -> F.Column:
        return sum(
            F.when(F.col(col) > F.col(q)[i], 1).otherwise(0)
            for i in range(4)
        )

    scored = cust.crossJoin(F.broadcast(cuts)).select(
        "o_custkey",
        "monetary",
        (5 - score("recency_days", "rq")).alias("r_score"),
        (1 + score("frequency", "fq")).alias("f_score"),
        (1 + score("monetary", "mq")).alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").alias("n_customers"),
            davg("monetary").alias("avg_monetary"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@register(
    "ext_market_basket",
    survey_id="EXT-BASKET",
    category="event-analytics",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_orders AS (
  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM lineitem
),
supp AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS s FROM items
  GROUP BY l_partkey
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= 3
),
rules AS (
  SELECT part_a, part_b, n_both, sa.s AS n_a, sb.s AS n_b,
         CAST(n_both AS DOUBLE) / sa.s AS confidence,
         CAST(n AS DOUBLE) * n_both
           / (CAST(sa.s AS DOUBLE) * sb.s) AS lift
  FROM pairs
  JOIN supp sa ON sa.l_partkey = part_a
  JOIN supp sb ON sb.l_partkey = part_b
  CROSS JOIN n_orders
)
SELECT part_a, part_b, n_both, n_a, n_b,
       ROUND(confidence, 6) + 0 AS confidence,
       ROUND(lift, 6) + 0 AS lift
FROM rules
ORDER BY ROUND(lift, 6) DESC, part_a, part_b
LIMIT 20
""",
)
def ext_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (the Apriori pair stage): for
    part pairs co-purchased in >= 3 orders, support, confidence
    P(b|a), and lift N*supp(ab)/(supp(a)*supp(b)); top-20 by lift.
    All statistics are integer counts; confidence/lift are single
    divisions of exact integers (deterministic IEEE), rounded to 1e-6
    only for rank stability with (part_a, part_b) tie-breaks. Scale:
    the pair generation self-joins the distinct (order, part) table on
    the ORDER key — fanout bounded by per-basket size squared, never by
    catalog size (the same reason FP-growth shards by transaction);
    support joins are keyed on part; the order count broadcasts; top-20
    is TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = li.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n")
    )
    supp = items.groupBy("l_partkey").agg(
        F.count("*").cast("bigint").alias("s")
    )
    a = items.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, "ok")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("bigint").alias("n_both"))
        .where(F.col("n_both") >= 3)
    )
    rules = (
        pairs.join(
            supp.select(
                F.col("l_partkey").alias("part_a"), F.col("s").alias("n_a")
            ),
            "part_a",
        )
        .join(
            supp.select(
                F.col("l_partkey").alias("part_b"), F.col("s").alias("n_b")
            ),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_both",
            "n_a",
            "n_b",
            (F.col("n_both").cast("double") / F.col("n_a")).alias(
                "confidence"
            ),
            (
                F.col("n").cast("double")
                * F.col("n_both")
                / (F.col("n_a").cast("double") * F.col("n_b"))
            ).alias("lift"),
        )
    )
    return (
        rules.select(
            "part_a",
            "part_b",
            "n_both",
            "n_a",
            "n_b",
            (F.round("confidence", 6) + F.lit(0.0)).alias("confidence"),
            (F.round("lift", 6) + F.lit(0.0)).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "part_a", "part_b")
        .limit(20)
    )


@register(
    "ext_cusum_changepoint",
    survey_id="EXT-CUSUM",
    category="event-analytics",
    oracle="""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS x
  FROM orders GROUP BY 1
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s FROM daily),
cum AS (
  SELECT d, x,
         CAST(SUM(x) OVER w AS BIGINT) AS cx,
         CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
),
scored AS (
  SELECT d, ABS(n * cx - rn * s) AS stat FROM cum CROSS JOIN tot
),
cp AS (
  SELECT d AS cp_day, stat AS scaled_stat FROM scored
  ORDER BY stat DESC, d LIMIT 1
)
SELECT cp.cp_day, t.n AS n_days, cp.scaled_stat,
       CAST(SUM(CASE WHEN daily.d <= cp.cp_day THEN daily.x END)
            AS DOUBLE)
         / COUNT(CASE WHEN daily.d <= cp.cp_day THEN 1 END)
         AS mean_pre_cents,
       CAST(SUM(CASE WHEN daily.d > cp.cp_day THEN daily.x END)
            AS DOUBLE)
         / COUNT(CASE WHEN daily.d > cp.cp_day THEN 1 END)
         AS mean_post_cents
FROM daily CROSS JOIN cp CROSS JOIN tot t
GROUP BY cp.cp_day, t.n, cp.scaled_stat
""",
)
def ext_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the daily-revenue series — the
    classic single-changepoint estimator: the day t maximizing
    |S_t| where S_t = cumsum(x) - t·mean. Multiplying through by n
    makes the statistic n·cumsum_t − t·total, a pure BIGINT expression
    — no double accumulation, no mean division until the final
    reporting columns (integer/count divisions of identical operands).
    Ties break to the earliest day. Output: the changepoint, the
    scaled statistic, and pre/post mean daily revenue. Scale: the only
    fact-table stage is the daily aggregate (map-side combinable);
    cumulative sums ride an unpartitioned window over ~2.4k daily rows
    — a kilobyte aggregate, the documented exception to the
    no-unpartitioned-window rule (two_phase_rank applies if the series
    ever outgrows one partition)."""
    from pyspark.sql import Window as _W

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.to_date("o_orderdate").alias("d")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    tot = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    w = _W.orderBy("d").rowsBetween(_W.unboundedPreceding, _W.currentRow)
    cum = daily.select(
        "d",
        "x",
        F.sum("x").over(w).cast("bigint").alias("cx"),
        F.row_number().over(_W.orderBy("d")).cast("bigint").alias("rn"),
    )
    scored = cum.crossJoin(F.broadcast(tot)).select(
        "d", F.abs(F.col("n") * F.col("cx") - F.col("rn") * F.col("s")).alias("stat")
    )
    cp = (
        scored.orderBy(F.col("stat").desc(), "d")
        .limit(1)
        .select(F.col("d").alias("cp_day"), F.col("stat").alias("scaled_stat"))
    )
    pre = F.when(F.col("d") <= F.col("cp_day"), F.col("x"))
    post = F.when(F.col("d") > F.col("cp_day"), F.col("x"))
    return (
        daily.crossJoin(F.broadcast(cp))
        .crossJoin(F.broadcast(tot))
        .groupBy("cp_day", F.col("n").alias("n_days"), "scaled_stat")
        .agg(
            (
                F.sum(pre).cast("double") / F.count(pre)
            ).alias("mean_pre_cents"),
            (
                F.sum(post).cast("double") / F.count(post)
            ).alias("mean_post_cents"),
        )
    )


@register(
    "ext_seasonal_decompose",
    survey_id="EXT-SEASONAL",
    category="event-analytics",
    oracle="""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS x
  FROM orders GROUP BY 1
),
tagged AS (
  SELECT d, x,
         date_diff('day', DATE '1970-01-01', d) % 7 AS dow
  FROM daily
),
per_dow AS (
  SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(x) AS BIGINT) AS sum_x
  FROM tagged GROUP BY dow
)
SELECT t.dow, p.n_days,
       CAST(p.sum_x AS BIGINT) AS total_cents,
       CAST(p.sum_x AS DOUBLE) / p.n_days AS mean_cents,
       CAST(SUM(ABS(p.n_days * t.x - p.sum_x)) AS BIGINT)
         AS abs_scaled_residual
FROM tagged t JOIN per_dow p USING (dow)
GROUP BY t.dow, p.n_days, p.sum_x
ORDER BY t.dow
""",
)
def ext_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday seasonal decomposition of daily revenue — the
    seasonal-means model (trend-free STL step): each day's seasonal
    component is its weekday mean, the residual is the departure from
    it. Weekday comes from a PORTABLE epoch-day % 7 (engines disagree
    on dayofweek origins); residuals are kept in the scaled-integer
    domain (n_w·x_t − sum_w — the exact residual times n_w) so the
    per-weekday absolute-residual energy is BIGINT-exact with no
    double accumulation anywhere. Scale: one map-side-combinable
    daily aggregate off the fact table, then all decomposition math
    on the ~2.4k-row series via one keyed join against the 7-row
    weekday table."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.to_date("o_orderdate").alias("d")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    tagged = daily.select(
        "d",
        "x",
        (F.datediff("d", F.lit("1970-01-01")) % 7).alias("dow"),
    )
    per_dow = tagged.groupBy("dow").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("x").cast("bigint").alias("sum_x"),
    )
    return (
        tagged.join(F.broadcast(per_dow), "dow")
        .groupBy("dow", "n_days", "sum_x")
        .agg(
            F.sum(
                F.abs(F.col("n_days") * F.col("x") - F.col("sum_x"))
            )
            .cast("bigint")
            .alias("abs_scaled_residual")
        )
        .select(
            "dow",
            "n_days",
            F.col("sum_x").cast("bigint").alias("total_cents"),
            (F.col("sum_x").cast("double") / F.col("n_days")).alias(
                "mean_cents"
            ),
            "abs_scaled_residual",
        )
        .orderBy("dow")
    )


@register(
    "ext_windowed_funnel",
    survey_id="EXT-WFUNNEL",
    category="event-analytics",
    oracle="""
WITH s AS (
  SELECT user_id, MIN(ts) AS st FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
v AS (
  SELECT e.user_id, MIN(e.ts) AS vt
  FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'view' AND e.ts > s.st
    AND e.ts <= s.st + INTERVAL 60 MINUTE
  GROUP BY e.user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS ct
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.vt
    AND e.ts <= v.vt + INTERVAL 60 MINUTE
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS pt
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.ct
    AND e.ts <= c.ct + INTERVAL 60 MINUTE
  GROUP BY e.user_id
)
SELECT (SELECT COUNT(*) FROM s) AS n_signup,
       (SELECT COUNT(*) FROM v) AS n_view_60m,
       (SELECT COUNT(*) FROM c) AS n_click_60m,
       (SELECT COUNT(*) FROM p) AS n_purchase_60m
""",
)
def ext_windowed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded ordered funnel — ext_funnel with a 60-minute
    conversion window per step (the product-analytics default: a view
    only counts if it happens within an hour of signup, and so on down
    the funnel). Each stage is a keyed min-aggregate joined to the
    previous stage's earliest-qualifying timestamp; the interval bound
    rides the join predicate, so the plan stays three user_id-keyed
    equi-joins (the range condition is a post-join filter, not a range
    join). All counts integer-exact. Scale: every stage shuffles on
    user_id only — co-partitioned with the sessionizer family."""
    e = load_table(spark, sf_dir, "events")

    def stage(prev: DataFrame, ev: str, tcol: str, prev_t: str) -> DataFrame:
        return (
            e.where(F.col("event_type") == ev)
            .join(prev, "user_id")
            .where(
                (F.col("ts") > F.col(prev_t))
                & (
                    F.col("ts")
                    <= F.col(prev_t) + F.expr("INTERVAL 60 MINUTES")
                )
            )
            .groupBy("user_id")
            .agg(F.min("ts").alias(tcol))
        )

    s = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("st"))
    )
    v = stage(s, "view", "vt", "st")
    c = stage(v, "click", "ct", "vt")
    p = stage(c, "purchase", "pt", "ct")
    counts = [
        df.agg(F.count("*").alias(name))
        for df, name in (
            (s, "n_signup"),
            (v, "n_view_60m"),
            (c, "n_click_60m"),
            (p, "n_purchase_60m"),
        )
    ]
    out = counts[0]
    for c_df in counts[1:]:
        out = out.crossJoin(F.broadcast(c_df))
    return out



@register(
    "ext_theil_sen_trend",
    survey_id="EXT-THEILSEN",
    category="event-analytics",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) // 7
           AS di,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS x
  FROM orders GROUP BY 1
),
pairs AS (
  SELECT a.di AS d1, b.di AS d2,
         CAST(b.x - a.x AS DOUBLE) / (b.di - a.di) AS slope
  FROM daily a JOIN daily b ON b.di > a.di
),
sl AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         quantile_cont(slope, 0.5) AS slope_med
  FROM pairs
),
ic AS (
  SELECT quantile_cont(daily.x - sl.slope_med * daily.di, 0.5)
           AS intercept_med,
         CAST(COUNT(*) AS BIGINT) AS n_days
  FROM daily CROSS JOIN sl
)
SELECT ic.n_days, sl.n_pairs,
       ROUND(sl.slope_med, 6) + 0 AS slope_cents_per_week,
       ROUND(ic.intercept_med, 4) + 0 AS intercept_cents
FROM sl CROSS JOIN ic
""",
)
def ext_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend estimation on the weekly-revenue series —
    the median of all pairwise slopes (breakdown point 29%, immune to
    the outlier weeks that wreck OLS — contrast tq06's OLS). Slopes are
    single divisions of exact integers (deterministic IEEE), the
    medians are interpolated percentiles over identical doubles (d17
    precedent), intercept = median(x − slope·d). The pairwise join is
    quadratic ONLY in the series length: the fact table collapses to
    ~350 weekly rows first, so the pair count (~60k) is CONSTANT in
    corpus size — at 100 TB this query costs the same as at sf0.01
    plus one map-side-combinable daily aggregate. The tiny side
    broadcasts; no corpus-sized shuffle exists."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr(
            "datediff(to_date(o_orderdate), date '1970-01-01') div 7"
        ).alias("di")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    a = daily.select(F.col("di").alias("d1"), F.col("x").alias("x1"))
    b = daily.select(F.col("di").alias("d2"), F.col("x").alias("x2"))
    pairs = a.join(F.broadcast(b), F.col("d2") > F.col("d1")).select(
        (
            (F.col("x2") - F.col("x1")).cast("double")
            / (F.col("d2") - F.col("d1"))
        ).alias("slope")
    )
    sl = pairs.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.percentile("slope", 0.5).alias("slope_med"),
    )
    ic = (
        daily.crossJoin(F.broadcast(sl))
        .agg(
            F.percentile(
                F.col("x") - F.col("slope_med") * F.col("di"), 0.5
            ).alias("intercept_med"),
            F.count("*").cast("bigint").alias("n_days"),
        )
    )
    return sl.crossJoin(F.broadcast(ic)).select(
        "n_days",
        "n_pairs",
        (F.round("slope_med", 6) + F.lit(0.0)).alias(
            "slope_cents_per_week"
        ),
        (F.round("intercept_med", 4) + F.lit(0.0)).alias(
            "intercept_cents"
        ),
    )


@register(
    "ext_ab_test_ztest",
    survey_id="EXT-ABTEST",
    category="event-analytics",
    oracle="""
WITH assigned AS (
  SELECT user_id,
         CAST(('0x' || substr(md5('ab:' || user_id), 1, 12)) AS BIGINT)
           % 2 AS arm,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              % 2 AS INTEGER) AS converted
  FROM events GROUP BY user_id
),
arms AS (
  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(converted) AS BIGINT) AS conv
  FROM assigned GROUP BY arm
),
w AS (
  SELECT a.n AS n_a, a.conv AS conv_a, b.n AS n_b, b.conv AS conv_b
  FROM arms a JOIN arms b ON a.arm = 0 AND b.arm = 1
)
SELECT n_a, conv_a, n_b, conv_b,
       ROUND(CAST(conv_a AS DOUBLE) / n_a, 6) + 0 AS rate_a,
       ROUND(CAST(conv_b AS DOUBLE) / n_b, 6) + 0 AS rate_b,
       ROUND(
         (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
         / SQRT(
             (CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
             * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
             * (1.0 / n_a + 1.0 / n_b)
           ), 6) + 0 AS z_score
FROM w
""",
)
def ext_ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment analysis — the two-proportion pooled z-test on a
    deterministic md5 arm assignment (the same no-shared-RNG split
    discipline as ext_stratified_split: a user's arm is a pure function
    of their id, so assignment is stable under re-ingestion and across
    engines). Outcome = purchase-count parity — deliberately synthetic because the
    dense fixture converts EVERY user on any ever-purchased definition
    (pooled variance would be zero); parity is ~50% at every sf, which
    is exactly the regime a z-test exists for. Counts are integer-exact;
    rates and the z statistic are fixed expression trees over them
    (IEEE sqrt is correctly rounded), rounded at 1e-6 for the output.
    No p-value column: erf is a true transcendental with no cross-
    engine contract — the z-score is the portable statistic. Scale:
    one user-keyed aggregate + a 2-row arm table."""
    e = load_table(spark, sf_dir, "events")
    arm = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("ab:"), F.col("user_id").cast("string")
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
    )
    assigned = e.groupBy("user_id").agg(
        (
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            % 2
        )
        .cast("int")
        .alias("converted")
    ).select(arm.alias("arm"), "converted")
    arms = assigned.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("converted").cast("bigint").alias("conv"),
    )
    a = arms.where(F.col("arm") == 0).select(
        F.col("n").alias("n_a"), F.col("conv").alias("conv_a")
    )
    b = arms.where(F.col("arm") == 1).select(
        F.col("n").alias("n_b"), F.col("conv").alias("conv_b")
    )
    w = a.crossJoin(F.broadcast(b))
    ra = F.col("conv_a").cast("double") / F.col("n_a")
    rb = F.col("conv_b").cast("double") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (ra - rb) / F.sqrt(
        pool
        * (F.lit(1.0) - pool)
        * (
            F.lit(1.0) / F.col("n_a")
            + F.lit(1.0) / F.col("n_b")
        )
    )
    return w.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        (F.round(ra, 6) + F.lit(0.0)).alias("rate_a"),
        (F.round(rb, 6) + F.lit(0.0)).alias("rate_b"),
        (F.round(z, 6) + F.lit(0.0)).alias("z_score"),
    )


@register(
    "ext_metric_decomposition",
    survey_id="EXT-METRIC-DECOMP",
    category="event-analytics",
    oracle="""
WITH tagged AS (
  SELECT o_orderpriority AS segment,
         CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
              THEN 'before' ELSE 'after' END AS period,
         CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
seg AS (
  SELECT segment,
         CAST(SUM(CASE WHEN period = 'before' THEN cents ELSE 0 END)
              AS BIGINT) AS cents_before,
         CAST(SUM(CASE WHEN period = 'after' THEN cents ELSE 0 END)
              AS BIGINT) AS cents_after
  FROM tagged GROUP BY segment
),
tot AS (
  SELECT CAST(SUM(cents_after - cents_before) AS BIGINT) AS total_delta
  FROM seg
)
SELECT seg.segment, seg.cents_before, seg.cents_after,
       seg.cents_after - seg.cents_before AS delta_cents,
       ROUND(CAST(seg.cents_after - seg.cents_before AS DOUBLE)
             / tot.total_delta, 6) + 0 AS share_of_move
FROM seg CROSS JOIN tot
ORDER BY seg.segment
""",
)
def ext_metric_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topline-movement decomposition — the 'why did revenue move'
    query every BI layer runs: revenue change between two periods
    broken down by segment, with each segment's exact share of the
    total move (the contributions sum to 1 by construction — an
    additive decomposition, integer cents end-to-end, one division
    per output row). Scale: one map-side-combinable conditional
    aggregate on the segment key; the total is a 1-row broadcast."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("bigint")
    before = F.when(F.col("o_orderdate") < "1998-01-01", cents).otherwise(
        0
    )
    after = F.when(F.col("o_orderdate") >= "1998-01-01", cents).otherwise(
        0
    )
    seg = o.groupBy(F.col("o_orderpriority").alias("segment")).agg(
        F.sum(before).cast("bigint").alias("cents_before"),
        F.sum(after).cast("bigint").alias("cents_after"),
    )
    tot = seg.agg(
        F.sum(F.col("cents_after") - F.col("cents_before"))
        .cast("bigint")
        .alias("total_delta")
    )
    return (
        seg.crossJoin(F.broadcast(tot))
        .select(
            "segment",
            "cents_before",
            "cents_after",
            (F.col("cents_after") - F.col("cents_before")).alias(
                "delta_cents"
            ),
            (
                F.round(
                    (F.col("cents_after") - F.col("cents_before")).cast(
                        "double"
                    )
                    / F.col("total_delta"),
                    6,
                )
                + F.lit(0.0)
            ).alias("share_of_move"),
        )
        .orderBy("segment")
    )


_EB_ORACLE = """
WITH it AS (
  SELECT user_id % 200 AS item,
         COUNT(*) AS n,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS s
  FROM events GROUP BY 1
),
g AS (
  SELECT COUNT(*) AS m,
         SUM(CAST(FLOOR(CAST(s AS DOUBLE) / n * 1e12) AS BIGINT)) AS sp,
         SUM(CAST(FLOOR(CAST(s AS DOUBLE) / n * CAST(s AS DOUBLE) / n
                        * 1e12) AS BIGINT)) AS sp2
  FROM it
),
prior AS (
  SELECT m,
         CAST(sp AS DOUBLE) / 1e12 / m AS mu,
         CAST(sp2 AS DOUBLE) / 1e12 / m
           - (CAST(sp AS DOUBLE) / 1e12 / m)
             * (CAST(sp AS DOUBLE) / 1e12 / m) AS v
  FROM g
),
ab AS (
  SELECT ROUND(mu * (mu * (1e0 - mu) / v - 1e0), 6) AS alpha,
         ROUND((1e0 - mu) * (mu * (1e0 - mu) / v - 1e0), 6) AS beta
  FROM prior
)
SELECT CAST(it.item AS BIGINT) AS item,
       CAST(it.n AS BIGINT) AS n, CAST(it.s AS BIGINT) AS s,
       ab.alpha, ab.beta,
       ROUND((it.s + ab.alpha) / (it.n + ab.alpha + ab.beta), 6)
         AS shrunk_rate
FROM it, ab
ORDER BY shrunk_rate DESC, item
LIMIT 20
"""


@register(
    "ext_empirical_bayes_ctr",
    survey_id="EXT-EB-SHRINK",
    category="event-analytics",
    oracle=_EB_ORACLE,
)
def ext_empirical_bayes_ctr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes rate smoothing (beta-binomial shrinkage) — the
    standard fix for ranking items by conversion rate when trial
    counts vary wildly (a 1/1 item must not outrank a 95/100 one):
    fit a Beta(α, β) prior to the observed per-item rates by method
    of moments, then rank by the posterior mean (s+α)/(n+α+β).
    Determinism: the only order-dependent reduction — summing the
    per-item rate rationals — runs on the 1e-12 floor grid as exact
    BIGINTs (the gridded-sum playbook rule; per-item rates are single
    IEEE divisions of small integers); μ, variance, α, β and every
    posterior mean are then fixed double expression trees over those
    exact sums, rounded at 1e-6 for the output contract. Scale: one
    map-side-combinable groupBy to the 200-row item table; the prior
    fit and shrinkage all happen on kilobytes; top-20 is
    TakeOrderedAndProject."""
    it = (
        load_table(spark, sf_dir, "events")
        .groupBy((F.col("user_id") % 200).alias("item"))
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("s"),
        )
    )
    rate = F.col("s").cast("double") / F.col("n")
    g = it.agg(
        F.count("*").alias("m"),
        F.sum(F.floor(rate * F.lit(1e12)).cast("bigint")).alias("sp"),
        F.sum(F.floor(rate * rate * F.lit(1e12)).cast("bigint")).alias(
            "sp2"
        ),
    )
    mu = F.col("sp").cast("double") / F.lit(1e12) / F.col("m")
    v = F.col("sp2").cast("double") / F.lit(1e12) / F.col("m") - mu * mu
    k = mu * (F.lit(1.0) - mu) / v - F.lit(1.0)
    ab = g.select(
        F.round(mu * k, 6).alias("alpha"),
        F.round((F.lit(1.0) - mu) * k, 6).alias("beta"),
    )
    return (
        it.crossJoin(F.broadcast(ab))
        .select(
            F.col("item").cast("bigint").alias("item"),
            F.col("n").cast("bigint").alias("n"),
            F.col("s").cast("bigint").alias("s"),
            "alpha",
            "beta",
            F.round(
                (F.col("s") + F.col("alpha"))
                / (F.col("n") + F.col("alpha") + F.col("beta")),
                6,
            ).alias("shrunk_rate"),
        )
        .orderBy(F.desc("shrunk_rate"), "item")
        .limit(20)
    )


_INCR_SESS_ORACLE = """
WITH src AS (
  SELECT user_id, epoch_us(ts) AS tu, event_id FROM events
  UNION ALL
  SELECT user_id, 1705362600000000 + (user_id % 540) * 1000000,
         1000000000000 + user_id * 2
  FROM (SELECT DISTINCT user_id FROM events) WHERE user_id % 5 = 0
  UNION ALL
  SELECT user_id, 1705363500000000 + (user_id % 540) * 1000000,
         1000000000000 + user_id * 2 + 1
  FROM (SELECT DISTINCT user_id FROM events) WHERE user_id % 5 = 0
),
flagged AS (
  SELECT user_id, tu, event_id,
         CASE WHEN LAG(tu) OVER w IS NULL
                   OR tu - LAG(tu) OVER w > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM src
  WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)
),
sess AS (
  SELECT user_id, tu,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY tu, event_id)
           AS session_seq
  FROM flagged
),
per AS (
  SELECT user_id, session_seq,
         MIN(tu) AS s, MAX(tu) AS e, COUNT(*) AS n
  FROM sess GROUP BY user_id, session_seq
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(SUM(e - s) AS BIGINT) AS total_duration_us
FROM per GROUP BY user_id ORDER BY user_id
"""


@register(
    "ext_incremental_sessionize",
    survey_id="EXT-SESSION-INCR",
    category="event-analytics",
    oracle=_INCR_SESS_ORACLE,
)
def ext_incremental_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL sessionization with boundary STITCHING — the part
    that makes batch sessionization production-viable: pass 1
    sessionizes days 1–15 into a persisted session store; pass 2
    sessionizes days 16–31 and must MERGE each user's last stored
    session with their first new session when the boundary gap is
    within the 30-minute threshold (an event at 23:50 and one at 00:10
    are ONE session — recomputing only the new partition would split
    it). The stitch is one keyed join of two 1-row-per-user extracts;
    everything else is the ordinary gaps-and-islands pass over each
    partition. Result must equal full-range sessionization exactly
    (per-user session counts, event counts, and total duration in
    integer MICROSECONDS — the engine-exact time base). At 100 TB:
    daily incremental sessionization touches one day of events plus
    O(users) stored boundary rows, never the history."""
    real = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("tu"),
        "event_id",
        F.dayofmonth("ts").alias("day"),
    )
    # planted boundary-crossing pairs (oracle replicates them): every
    # 5th user gets an event at 23:50+offset on day 15 and one at
    # 00:05+offset on day 16 — a 15-minute gap ACROSS the partition
    # boundary, so the stitch branch provably fires (organic traffic
    # at this density never straddles midnight within 30 minutes)
    users = real.select("user_id").distinct().where(
        F.col("user_id") % 5 == 0
    )
    synth = users.select(
        "user_id",
        F.explode(
            F.array(
                F.struct(
                    (
                        F.lit(1705362600000000)
                        + (F.col("user_id") % 540) * 1000000
                    ).alias("tu"),
                    (F.lit(1000000000000) + F.col("user_id") * 2).alias(
                        "event_id"
                    ),
                    F.lit(15).alias("day"),
                ),
                F.struct(
                    (
                        F.lit(1705363500000000)
                        + (F.col("user_id") % 540) * 1000000
                    ).alias("tu"),
                    (
                        F.lit(1000000000000) + F.col("user_id") * 2 + 1
                    ).alias("event_id"),
                    F.lit(16).alias("day"),
                ),
            )
        ).alias("s"),
    ).select("user_id", "s.tu", "s.event_id", "s.day")
    e = real.unionByName(synth)

    def sessions(part: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy("tu", "event_id")
        gap = F.col("tu") - F.lag("tu").over(w)
        flagged = part.select(
            "user_id",
            "tu",
            "event_id",
            F.when(gap.isNull() | (gap > 1800000000), 1)
            .otherwise(0)
            .alias("is_new"),
        )
        return (
            flagged.withColumn("seq", F.sum("is_new").over(w))
            .groupBy("user_id", "seq")
            .agg(
                F.min("tu").alias("s"),
                F.max("tu").alias("e"),
                F.count("*").alias("n"),
            )
        )

    stored = pin(sessions(e.where(F.col("day") <= 15)))
    fresh = pin(sessions(e.where(F.col("day") >= 16)))

    last_stored = stored.groupBy("user_id").agg(
        F.max(F.struct("e", "s", "n")).alias("ls")
    )
    first_fresh = fresh.groupBy("user_id").agg(
        F.min(F.struct("s", "e", "n")).alias("ff")
    )
    boundary = last_stored.join(first_fresh, "user_id").where(
        F.col("ff.s") - F.col("ls.e") <= 1800000000
    )
    merged = pin(boundary.select(
        "user_id",
        F.col("ls.s").alias("s"),
        F.col("ff.e").alias("e"),
        (F.col("ls.n") + F.col("ff.n")).alias("n"),
        F.col("ls.e").alias("_drop_stored_e"),
        F.col("ff.s").alias("_drop_fresh_s"),
    ))
    drops = merged.select("user_id", "_drop_stored_e", "_drop_fresh_s")
    kept_stored = stored.join(
        drops.select(
            "user_id", F.col("_drop_stored_e").alias("e")
        ),
        ["user_id", "e"],
        "left_anti",
    )
    kept_fresh = fresh.join(
        drops.select("user_id", F.col("_drop_fresh_s").alias("s")),
        ["user_id", "s"],
        "left_anti",
    )
    all_sessions = (
        kept_stored.select("user_id", "s", "e", "n")
        .unionByName(kept_fresh.select("user_id", "s", "e", "n"))
        .unionByName(merged.select("user_id", "s", "e", "n"))
    )
    return (
        all_sessions.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_sessions"),
            F.sum("n").cast("bigint").alias("n_events"),
            F.sum(F.col("e") - F.col("s")).cast("bigint").alias(
                "total_duration_us"
            ),
        )
        .orderBy("user_id")
    )


_KM_ORACLE = """
WITH su AS (
  SELECT user_id, MIN(epoch_us(ts)) AS s
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
pu AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS p
  FROM events e JOIN su ON su.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > su.s
  GROUP BY e.user_id
),
horizon AS (SELECT MAX(epoch_us(ts)) AS h FROM events),
durs AS (
  SELECT su.user_id,
         CASE WHEN pu.p IS NOT NULL
              THEN (pu.p - su.s) // 86400000000
              ELSE (horizon.h - su.s) // 86400000000 END AS t,
         CASE WHEN pu.p IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM su LEFT JOIN pu ON pu.user_id = su.user_id, horizon
),
tot AS (SELECT COUNT(*) AS n_total FROM durs),
byt AS (
  SELECT t, SUM(ev) AS d, COUNT(*) AS c FROM durs GROUP BY t
),
cum AS (
  SELECT t, d,
         tot.n_total
           - COALESCE(SUM(c) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_risk
  FROM byt, tot
),
terms AS (
  SELECT t, d, n_risk,
         CAST(FLOOR(ln(CAST(n_risk - d AS DOUBLE) / n_risk) * 1e9)
              AS BIGINT) AS term
  FROM cum WHERE d > 0 AND d < n_risk
)
SELECT CAST(t AS BIGINT) AS t_days,
       CAST(n_risk AS BIGINT) AS n_risk,
       CAST(d AS BIGINT) AS d_events,
       CAST(SUM(term) OVER (ORDER BY t) AS BIGINT) AS ln_s_scaled
FROM terms ORDER BY t_days
"""


@register(
    "ext_kaplan_meier",
    survey_id="EXT-SURV-KM",
    category="event-analytics",
    oracle=_KM_ORACLE,
)
def ext_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN–MEIER survival curve with RIGHT CENSORING — the
    time-to-event estimator conversion analytics actually needs (naive
    'average days to purchase' over converters only is biased; users
    who never converted carry information until their censoring time):
    per user, duration = days from first signup to first subsequent
    purchase, censored at the observation horizon otherwise. The
    product-limit estimate S(t) = Π(1 − d_i/n_i) is carried in LOG
    space as exact BIGINTs (each factor's ln on the 1e-9 floor grid —
    products of many rationals overflow any fixed precision, gridded-ln
    sums never do), with the standard tie convention (censored at t
    remain at risk at t). Scale: durations reduce per user in one
    keyed aggregate; the risk-set arithmetic runs on the ≤31-row
    distinct-duration table (tiny-aggregate window); nothing else
    shuffles. The oracle replicates every step over integer
    microseconds."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("tu"), "event_type"
    )
    su = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("tu").alias("s"))
    )
    pu = (
        e.where(F.col("event_type") == "purchase")
        .join(su, "user_id")
        .where(F.col("tu") > F.col("s"))
        .groupBy("user_id")
        .agg(F.min("tu").alias("p"))
    )
    horizon = e.agg(F.max("tu").alias("h"))
    durs = (
        su.join(pu, "user_id", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(
                F.col("p").isNotNull(),
                F.expr("(p - s) div 86400000000"),
            )
            .otherwise(F.expr("(h - s) div 86400000000"))
            .alias("t"),
            F.when(F.col("p").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    tot = durs.agg(F.count("*").alias("n_total"))
    byt = durs.groupBy("t").agg(
        F.sum("ev").alias("d"), F.count("*").alias("c")
    )
    # ≤ horizon-days distinct durations: tiny-aggregate windows
    wc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    cum = byt.crossJoin(F.broadcast(tot)).select(
        "t",
        "d",
        (
            F.col("n_total")
            - F.coalesce(F.sum("c").over(wc), F.lit(0))
        ).alias("n_risk"),
    )
    # d == n_risk at the terminal time means S(t) hits exactly 0 —
    # ln undefined; the curve is reported up to the last time with
    # survivors (the standard presentation)
    terms = cum.where(
        (F.col("d") > 0) & (F.col("d") < F.col("n_risk"))
    ).select(
        "t",
        "d",
        "n_risk",
        F.floor(
            F.log(
                (F.col("n_risk") - F.col("d")).cast("double")
                / F.col("n_risk")
            )
            * F.lit(1e9)
        )
        .cast("bigint")
        .alias("term"),
    )
    ws = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return terms.select(
        F.col("t").cast("bigint").alias("t_days"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("d_events"),
        F.sum("term").over(ws).cast("bigint").alias("ln_s_scaled"),
    ).orderBy("t_days")


_MARKOV2_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev
  FROM events
),
c AS (
  SELECT prev AS i, event_type AS j, COUNT(*) AS n
  FROM ordered WHERE prev IS NOT NULL GROUP BY prev, event_type
),
r AS (SELECT i, SUM(n) AS rt FROM c GROUP BY i),
p AS (
  SELECT c.i, c.j, CAST(c.n AS DOUBLE) / r.rt AS p
  FROM c JOIN r USING (i)
),
two AS (
  SELECT a.i, b.j,
         SUM(CAST(FLOOR(a.p * b.p * 1e15) AS BIGINT)) AS p2_scaled
  FROM p a JOIN p b ON a.j = b.i
  GROUP BY a.i, b.j
)
SELECT i AS from_type, j AS to_type, CAST(p2_scaled AS BIGINT) AS p2_scaled
FROM two ORDER BY from_type, to_type
"""


@register(
    "ext_markov_two_step",
    survey_id="EXT-MARKOV2",
    category="event-analytics",
    oracle=_MARKOV2_ORACLE,
)
def ext_markov_two_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step Markov transition probabilities over user journeys —
    the squared transition matrix behind 'where do users end up two
    actions from here': per-user event sequences (ts, event_id total
    order) yield first-order transition counts, row-normalize to P,
    and P² computes as the keyed self-join Σ_k P[i,k]·P[k,j]. Each
    product is two exact integer divisions and one multiply (IEEE
    deterministic); the ORDER-DEPENDENT part — summing over k — rides
    the 1e-15 floor grid as exact BIGINTs, so the result hashes
    despite 5 unordered addends. Scale: one lag window + one keyed
    count on user_id; all matrix math happens on the 25-row
    transition table."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = e.select(
        F.lag("event_type").over(w).alias("i"),
        F.col("event_type").alias("j"),
    ).where(F.col("i").isNotNull())
    c = pairs.groupBy("i", "j").agg(F.count("*").alias("n"))
    r = c.groupBy("i").agg(F.sum("n").alias("rt"))
    p = c.join(r, "i").select(
        "i", "j", (F.col("n").cast("double") / F.col("rt")).alias("p")
    )
    a = p.select(
        F.col("i").alias("ai"), F.col("j").alias("k"), F.col("p").alias("pa")
    )
    b = p.select(
        F.col("i").alias("k"), F.col("j").alias("bj"), F.col("p").alias("pb")
    )
    return (
        a.join(b, "k")
        .groupBy(F.col("ai").alias("from_type"), F.col("bj").alias("to_type"))
        .agg(
            F.sum(
                F.floor(F.col("pa") * F.col("pb") * F.lit(1e15)).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("p2_scaled")
        )
        .orderBy("from_type", "to_type")
    )


_CUPED_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         SUM(CASE WHEN date_part('day', ts) <= 15
                  THEN CAST(FLOOR(value) AS BIGINT) ELSE 0 END) AS x,
         SUM(CASE WHEN date_part('day', ts) >= 16
                       AND event_type = 'purchase'
                  THEN CAST(FLOOR(value) AS BIGINT) ELSE 0 END) AS y
  FROM events GROUP BY user_id
),
armed AS (
  SELECT CASE WHEN CAST(('0x' || substr(md5('arm:' ||
              CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT)
              >= 140737488355328 THEN 'B' ELSE 'A' END AS arm,
         x, y
  FROM per_user
),
g AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x * y) AS DOUBLE) AS sxy,
         CAST(SUM(x * x) AS DOUBLE) AS sxx,
         CAST(SUM(y * y) AS DOUBLE) AS syy
  FROM armed
),
th AS (
  SELECT n, sx, sy,
         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta,
         (n * sxy - sx * sy) * (n * sxy - sx * sy)
           / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS rho2
  FROM g
),
per_arm AS (
  SELECT arm, CAST(COUNT(*) AS DOUBLE) AS an,
         CAST(SUM(x) AS DOUBLE) AS asx, CAST(SUM(y) AS DOUBLE) AS asy
  FROM armed GROUP BY arm
)
SELECT arm,
       CAST(an AS BIGINT) AS n_users,
       ROUND(asy / an, 6) AS y_mean_raw,
       ROUND(asy / an - th.theta * (asx / an - th.sx / th.n), 6)
         AS y_mean_cuped,
       ROUND(th.theta, 6) AS theta,
       ROUND(th.rho2, 6) AS rho2
FROM per_arm, th ORDER BY arm
"""


@register(
    "ext_cuped_adjustment",
    survey_id="EXT-CUPED",
    category="event-analytics",
    oracle=_CUPED_ORACLE,
)
def ext_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction — the experimentation-platform workhorse
    (Deng et al.): adjust each arm's post-period revenue by the
    pre-period covariate, Y_adj = Y − θ(X − X̄), with θ = cov(X,Y)/
    var(X) fit on the pooled pre-experiment data. All five sufficient
    statistics accumulate as EXACT BIGINTs (the d27 discipline:
    bigint→double casts round identically, unlike wide decimals), so
    θ, ρ² (the variance-reduction factor 1−ρ² follows), and both raw
    and adjusted arm means are fixed double expressions over identical
    operands — hash-exact with only the 1e-6 output rounding. Arms
    are md5-derived; at 100 TB this is one per-user keyed aggregate
    plus arithmetic on a 2-row table."""
    half = 140737488355328  # 2^47
    day = F.dayofmonth("ts")
    per_user = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(day <= 15, F.floor("value").cast("bigint")).otherwise(
                    0
                )
            ).alias("x"),
            F.sum(
                F.when(
                    (day >= 16) & (F.col("event_type") == "purchase"),
                    F.floor("value").cast("bigint"),
                ).otherwise(0)
            ).alias("y"),
        )
    )
    arm = F.when(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("arm:"), F.col("user_id").cast("string"))),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint")
        >= half,
        "B",
    ).otherwise("A")
    armed = pin(per_user.select(arm.alias("arm"), "x", "y"))
    g = armed.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    th = g.select(
        "n",
        "sx",
        ((n * sxy - sx * sy) / (n * sxx - sx * sx)).alias("theta"),
        (
            (n * sxy - sx * sy)
            * (n * sxy - sx * sy)
            / ((n * sxx - sx * sx) * (n * syy - sy * sy))
        ).alias("rho2"),
    )
    per_arm = armed.groupBy("arm").agg(
        F.count("*").cast("double").alias("an"),
        F.sum("x").cast("double").alias("asx"),
        F.sum("y").cast("double").alias("asy"),
    )
    return (
        per_arm.crossJoin(F.broadcast(th))
        .select(
            "arm",
            F.col("an").cast("bigint").alias("n_users"),
            F.round(F.col("asy") / F.col("an"), 6).alias("y_mean_raw"),
            F.round(
                F.col("asy") / F.col("an")
                - F.col("theta")
                * (F.col("asx") / F.col("an") - F.col("sx") / F.col("n")),
                6,
            ).alias("y_mean_cuped"),
            F.round("theta", 6).alias("theta"),
            F.round("rho2", 6).alias("rho2"),
        )
        .orderBy("arm")
    )


_DID_ORACLE = """
WITH cells AS (
  SELECT CASE WHEN CAST(('0x' || substr(md5('did:' ||
              CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT)
              >= 140737488355328 THEN 'T' ELSE 'C' END AS arm,
         CASE WHEN date_part('day', ts) >= 16 THEN 'post'
              ELSE 'pre' END AS period,
         CAST(FLOOR(value) AS BIGINT) AS v
  FROM events
),
m AS (
  SELECT arm, period,
         CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean_v,
         COUNT(*) AS n
  FROM cells GROUP BY arm, period
)
SELECT
  CAST((SELECT n FROM m WHERE arm='T' AND period='post') AS BIGINT)
    AS n_t_post,
  ROUND((SELECT mean_v FROM m WHERE arm='T' AND period='pre'), 6)
    AS t_pre,
  ROUND((SELECT mean_v FROM m WHERE arm='T' AND period='post'), 6)
    AS t_post,
  ROUND((SELECT mean_v FROM m WHERE arm='C' AND period='pre'), 6)
    AS c_pre,
  ROUND((SELECT mean_v FROM m WHERE arm='C' AND period='post'), 6)
    AS c_post,
  ROUND(((SELECT mean_v FROM m WHERE arm='T' AND period='post')
         - (SELECT mean_v FROM m WHERE arm='T' AND period='pre'))
        - ((SELECT mean_v FROM m WHERE arm='C' AND period='post')
           - (SELECT mean_v FROM m WHERE arm='C' AND period='pre')), 6)
    AS did_estimate
"""


@register(
    "ext_difference_in_differences",
    survey_id="EXT-DID",
    category="event-analytics",
    oracle=_DID_ORACLE,
)
def ext_difference_in_differences(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Difference-in-differences — the observational causal estimator
    completing the experimentation family (z-test → CUPED → DiD): the
    treatment effect is (T_post − T_pre) − (C_post − C_pre), which
    nets out both the group-level baseline difference and the common
    time trend under parallel trends. Cell means come from exact
    BIGINT sums over the 2×2 (md5-arm × period) grid; the estimate is
    one fixed double expression, rounded at 1e-6. One map-side-
    combinable groupBy to four rows; everything else is arithmetic on
    the driver-sized result."""
    half = 140737488355328
    arm = F.when(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("did:"), F.col("user_id").cast("string"))
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint")
        >= half,
        "T",
    ).otherwise("C")
    period = F.when(F.dayofmonth("ts") >= 16, "post").otherwise("pre")
    m = (
        load_table(spark, sf_dir, "events")
        .groupBy(arm.alias("arm"), period.alias("period"))
        .agg(
            F.sum(F.floor("value").cast("bigint"))
            .cast("double")
            .alias("sv"),
            F.count("*").alias("n"),
        )
        .select(
            "arm",
            "period",
            (F.col("sv") / F.col("n")).alias("mean_v"),
            "n",
        )
    )
    cell = lambda a, p, col: F.max(
        F.when((F.col("arm") == a) & (F.col("period") == p), F.col(col))
    )
    return m.agg(
        cell("T", "post", "n").cast("bigint").alias("n_t_post"),
        F.round(cell("T", "pre", "mean_v"), 6).alias("t_pre"),
        F.round(cell("T", "post", "mean_v"), 6).alias("t_post"),
        F.round(cell("C", "pre", "mean_v"), 6).alias("c_pre"),
        F.round(cell("C", "post", "mean_v"), 6).alias("c_post"),
        F.round(
            (cell("T", "post", "mean_v") - cell("T", "pre", "mean_v"))
            - (cell("C", "post", "mean_v") - cell("C", "pre", "mean_v")),
            6,
        ).alias("did_estimate"),
    )


_ITEMCF_ORACLE = """
WITH inter AS (
  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
cnt AS (SELECT i, COUNT(*) AS n FROM inter GROUP BY i),
co AS (
  SELECT a.i AS ia, b.i AS ib, COUNT(*) AS c
  FROM inter a JOIN inter b ON a.u = b.u AND a.i < b.i
  GROUP BY a.i, b.i
),
sim AS (
  SELECT co.ia, co.ib, co.c,
         co.c / (sqrt(CAST(na.n AS DOUBLE)) * sqrt(CAST(nb.n AS DOUBLE)))
           AS cosine
  FROM co
  JOIN cnt na ON na.i = co.ia
  JOIN cnt nb ON nb.i = co.ib
),
both_dirs AS (
  SELECT ia AS i, ib AS j, c, cosine FROM sim
  UNION ALL
  SELECT ib, ia, c, cosine FROM sim
),
probe AS (
  SELECT * FROM both_dirs WHERE i % 97 = 0
),
ranked AS (
  SELECT i, j, c, ROUND(cosine, 6) AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY i ORDER BY ROUND(cosine, 6) DESC, j
         ) AS rk
  FROM probe
)
SELECT CAST(i AS BIGINT) AS item, CAST(j AS BIGINT) AS neighbor,
       CAST(c AS BIGINT) AS co_count, cosine
FROM ranked WHERE rk <= 5
ORDER BY item, cosine DESC, neighbor
"""


@register(
    "ext_item_item_cf",
    survey_id="EXT-ITEM-CF",
    category="event-analytics",
    oracle=_ITEMCF_ORACLE,
)
def ext_item_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item COLLABORATIVE FILTERING — the recommender-system
    workload family (Amazon's classic item-to-item recipe): binary
    customer-part interactions from orders⨝lineitem, co-occurrence
    counts via the per-user basket self-join (the wedge shape whose
    fan-out is bounded by basket size, never user count), and cosine
    similarity co / √(n_a)·√(n_b) — one IEEE expression over exact
    integer counts, rounded at 1e-6 BEFORE ranking so top-k membership
    is engine-stable (the BM25 discipline). Top-5 neighbors for every
    97th item through a window PARTITIONED BY ITEM. At 100 TB:
    baskets self-join inside user partitions, similarities aggregate
    on (item, item) keys carrying three integers, and serving probes
    broadcast — the exact shape production item-CF pipelines run
    nightly."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    inter = pin(
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i")
        )
        .distinct()
    )
    cnt = inter.groupBy("i").agg(F.count("*").alias("n"))
    a = inter.select("u", F.col("i").alias("ia"))
    b = inter.select("u", F.col("i").alias("ib"))
    co = (
        a.join(b, "u")
        .where(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count("*").alias("c"))
    )
    sim = (
        co.join(cnt.select(F.col("i").alias("ia"), F.col("n").alias("na")), "ia")
        .join(cnt.select(F.col("i").alias("ib"), F.col("n").alias("nb")), "ib")
        .select(
            "ia",
            "ib",
            "c",
            (
                F.col("c")
                / (
                    F.sqrt(F.col("na").cast("double"))
                    * F.sqrt(F.col("nb").cast("double"))
                )
            ).alias("cosine"),
        )
    )
    both = sim.select(
        F.col("ia").alias("i"), F.col("ib").alias("j"), "c", "cosine"
    ).unionByName(
        sim.select(
            F.col("ib").alias("i"), F.col("ia").alias("j"), "c", "cosine"
        )
    )
    probe = both.where(F.col("i") % 97 == 0).withColumn(
        "cos_r", F.round("cosine", 6)
    )
    w = Window.partitionBy("i").orderBy(F.desc("cos_r"), F.col("j"))
    return (
        probe.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select(
            F.col("i").cast("bigint").alias("item"),
            F.col("j").cast("bigint").alias("neighbor"),
            F.col("c").cast("bigint").alias("co_count"),
            F.col("cos_r").alias("cosine"),
        )
        .orderBy("item", F.desc("cosine"), "neighbor")
    )


def _shapley_oracle() -> str:
    """Shapley over the 4-channel lattice, fully enumerated in SQL:
    per-user exposure masks -> per-mask conversion rates -> exact
    factorial-weighted marginal sums on the 1e12 grid."""
    # weights scaled by 4! = 24: w(s) = s!(4-1-s)! for s = |S| (0..3)
    w = {0: 6, 1: 2, 2: 2, 3: 6}
    legs = []
    for ch_bit, ch_name in enumerate(["click", "view", "signup", "error"]):
        terms = []
        for mask in range(16):
            if mask & (1 << ch_bit):
                continue
            s = bin(mask).count("1")
            terms.append(
                f"{w[s]} * (v.v{mask | (1 << ch_bit)} - v.v{mask})"
            )
        legs.append(
            f"SELECT '{ch_name}' AS channel,\n"
            f"       CAST({' + '.join(terms)} AS BIGINT) AS phi_scaled_24\n"
            f"FROM v"
        )
    vcols = ",\n".join(
        f"  COALESCE(MAX(CASE WHEN mask = {m} THEN "
        f"CAST(FLOOR(CAST(c AS DOUBLE) / n * 1e12) AS BIGINT) END), 0)"
        f" AS v{m}"
        for m in range(16)
    )
    return f"""
WITH per_user AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
           + 2 * MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
           + 4 * MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
           + 8 * MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
           AS mask,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM events GROUP BY user_id
),
cells AS (
  SELECT mask, COUNT(*) AS n, SUM(converted) AS c
  FROM per_user GROUP BY mask
),
v AS (
  SELECT
{vcols}
  FROM cells
)
SELECT channel, phi_scaled_24,
       ROUND(CAST(phi_scaled_24 AS DOUBLE) / 24e0 / 1e12, 6) AS phi
FROM ({' UNION ALL '.join(legs)})
ORDER BY channel
"""


@register(
    "ext_shapley_attribution",
    survey_id="EXT-SHAPLEY",
    category="event-analytics",
    oracle=_shapley_oracle(),
)
def ext_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHAPLEY-VALUE channel attribution — the game-theoretic
    alternative to last-touch: each non-purchase channel's credit is
    its factorial-weighted average marginal contribution to the
    conversion rate across every coalition of the other channels.
    With 4 channels the 16-cell lattice enumerates EXACTLY (no
    sampling): per-user exposure masks reduce in one groupBy, cell
    conversion rates land on the 1e12 floor grid, and each φ is a
    FIXED 8-term integer expression (weights s!(4−1−s)! scaled by
    4! = 24) — no order-dependent reduction anywhere. Empty cells
    contribute v = 0 (the observed-lattice convention). Scale: the
    fact scan reduces to ≤16 rows; the game theory runs on
    kilobytes."""
    e = load_table(spark, sf_dir, "events")
    has = lambda t: F.max(
        F.when(F.col("event_type") == t, 1).otherwise(0)
    )
    per_user = e.groupBy("user_id").agg(
        (
            has("click")
            + 2 * has("view")
            + 4 * has("signup")
            + 8 * has("error")
        ).alias("mask"),
        has("purchase").alias("converted"),
    )
    cells = per_user.groupBy("mask").agg(
        F.count("*").alias("n"), F.sum("converted").alias("c")
    )
    v = cells.agg(
        *[
            F.coalesce(
                F.max(
                    F.when(
                        F.col("mask") == m,
                        F.floor(
                            F.col("c").cast("double")
                            / F.col("n")
                            * F.lit(1e12)
                        ).cast("bigint"),
                    )
                ),
                F.lit(0),
            ).alias(f"v{m}")
            for m in range(16)
        ]
    )
    w = {0: 6, 1: 2, 2: 2, 3: 6}
    # r11 perf (guide §2.4): all four φ are expressions over the SAME
    # 1-row lattice aggregate, but the old 4-branch union recomputed
    # the events scan + both aggregations once per branch (4 full
    # passes). One select builds every φ, then a row-local
    # explode(array(struct...)) unpivots — identical values, one scan.
    chans = []
    for ch_bit, ch_name in enumerate(["click", "view", "signup", "error"]):
        phi = None
        for mask in range(16):
            if mask & (1 << ch_bit):
                continue
            s = bin(mask).count("1")
            term = F.lit(w[s]) * (
                F.col(f"v{mask | (1 << ch_bit)}") - F.col(f"v{mask}")
            )
            phi = term if phi is None else phi + term
        chans.append(
            F.struct(
                F.lit(ch_name).alias("channel"),
                phi.cast("bigint").alias("phi_scaled_24"),
            )
        )
    out = v.select(
        F.explode(F.array(*chans)).alias("ch")
    ).select("ch.channel", "ch.phi_scaled_24")
    return out.select(
        "channel",
        "phi_scaled_24",
        F.round(
            F.col("phi_scaled_24").cast("double") / F.lit(24.0) / F.lit(1e12),
            6,
        ).alias("phi"),
    ).orderBy("channel")


_TDECAY_ORACLE = """
WITH purch AS (
  SELECT user_id, epoch_us(ts) AS pt, event_id AS pid
  FROM events WHERE event_type = 'purchase'
),
touch AS (
  SELECT user_id, event_type, epoch_us(ts) AS tt
  FROM events WHERE event_type IN ('click', 'view', 'signup')
),
credits AS (
  SELECT t.event_type,
         64 >> CAST((p.pt - t.tt) // 86400000000 AS INT) AS w
  FROM purch p JOIN touch t
    ON t.user_id = p.user_id
   AND t.tt < p.pt
   AND p.pt - t.tt < 7 * 86400000000
)
SELECT event_type AS channel,
       CAST(SUM(w) AS BIGINT) AS credit,
       ROUND(CAST(SUM(w) AS DOUBLE)
             / (SELECT SUM(w) FROM credits), 6) AS share
FROM credits GROUP BY event_type ORDER BY channel
"""


@register(
    "ext_attribution_time_decay",
    survey_id="EXT-ATTR-DECAY",
    category="event-analytics",
    oracle=_TDECAY_ORACLE,
)
def ext_attribution_time_decay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TIME-DECAY attribution — the third member of the attribution
    family (last-touch / Shapley / decay): every touch in the 7 days
    before a purchase earns weight 2^(6−days_before)... expressed as
    the INTEGER 64 >> days, so credits are exact BIGINTs at any scale
    (exponential-decay weights are the classic float trap; a
    power-of-two half-life makes them shifts). The purchase×touch
    pairing is a per-user INTERVAL JOIN (equi on user + time band —
    the c10 shape, never a cross join); channel shares divide exact
    integers. Integer microseconds end-to-end."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("tu"),
        "event_type",
    )
    purch = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("tu").alias("pt")
    )
    touch = e.where(
        F.col("event_type").isin("click", "view", "signup")
    ).select("user_id", F.col("tu").alias("tt"), "event_type")
    day_us = 86400000000
    credits = pin(
        purch.join(touch, "user_id")
        .where(
            (F.col("tt") < F.col("pt"))
            & (F.col("pt") - F.col("tt") < 7 * day_us)
        )
        .select(
            "event_type",
            F.expr(
                f"shiftright(64, CAST((pt - tt) div {day_us} AS INT))"
            ).alias("w"),
        )
    )
    total = credits.agg(F.sum("w").alias("tw"))
    return (
        credits.groupBy(F.col("event_type").alias("channel"))
        .agg(F.sum("w").cast("bigint").alias("credit"))
        .crossJoin(F.broadcast(total))
        .select(
            "channel",
            "credit",
            F.round(
                F.col("credit").cast("double") / F.col("tw"), 6
            ).alias("share"),
        )
        .orderBy("channel")
    )


_CHURN_ORACLE = """
WITH feat AS (
  SELECT user_id,
         SUM(CASE WHEN date_part('day', ts) <= 15 THEN 1 ELSE 0 END)
           AS n_pre,
         SUM(CASE WHEN date_part('day', ts) <= 15
                  THEN CAST(FLOOR(value) AS BIGINT) ELSE 0 END) AS v_pre,
         SUM(CASE WHEN date_part('day', ts) >= 16 THEN 1 ELSE 0 END)
           AS n_post
  FROM events GROUP BY user_id
),
labeled AS (
  SELECT user_id, n_pre, v_pre,
         CASE WHEN n_post = 0 THEN 1 ELSE 0 END AS churned
  FROM feat WHERE n_pre > 0
)
SELECT churned,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(n_pre) AS BIGINT) AS total_pre_events,
       CAST(SUM(v_pre) AS BIGINT) AS total_pre_value,
       ROUND(CAST(SUM(n_pre) AS DOUBLE) / COUNT(*), 6)
         AS avg_pre_events
FROM labeled GROUP BY churned ORDER BY churned
"""


@register(
    "ext_churn_label_generation",
    survey_id="EXT-CHURN-LABEL",
    category="event-analytics",
    oracle=_CHURN_ORACLE,
)
def ext_churn_label_generation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE churn label engineering — the supervised-dataset
    construction step every retention model needs done correctly:
    features come STRICTLY from the observation window (days ≤ 15),
    the label (churned = zero activity) strictly from the disjoint
    outcome window (days ≥ 16), and only users active in the
    observation window are labelable (a user first seen in the outcome
    window has no feature vector — including them is the classic
    leakage/selection bug). One per-user keyed aggregate computes both
    windows in a single pass (conditional sums, not two scans); the
    output profiles the two label classes with exact integers. At
    100 TB this runs daily with a sliding cutoff — same single-scan
    shape."""
    day = F.dayofmonth("ts")
    feat = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.when(day <= 15, 1).otherwise(0)).alias("n_pre"),
            F.sum(
                F.when(day <= 15, F.floor("value").cast("bigint")).otherwise(
                    0
                )
            ).alias("v_pre"),
            F.sum(F.when(day >= 16, 1).otherwise(0)).alias("n_post"),
        )
        .where(F.col("n_pre") > 0)
    )
    labeled = feat.select(
        "n_pre",
        "v_pre",
        F.when(F.col("n_post") == 0, 1).otherwise(0).alias("churned"),
    )
    return (
        labeled.groupBy("churned")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.sum("n_pre").cast("bigint").alias("total_pre_events"),
            F.sum("v_pre").cast("bigint").alias("total_pre_value"),
            F.round(
                F.sum("n_pre").cast("double") / F.count("*"), 6
            ).alias("avg_pre_events"),
        )
        .orderBy("churned")
    )


_SPC_ORACLE = """
WITH daily AS (
  SELECT CAST(date_part('day', ts) AS INT) AS day, COUNT(*) AS n
  FROM events GROUP BY 1
),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS k,
         CAST(SUM(n) AS DOUBLE) AS s,
         CAST(SUM(n * n) AS DOUBLE) AS s2
  FROM daily
),
lims AS (
  SELECT s / k AS mu,
         sqrt((s2 - s * s / k) / (k - 1e0)) AS sd
  FROM stats
)
SELECT d.day, CAST(d.n AS BIGINT) AS n,
       ROUND(l.mu, 6) AS center,
       ROUND(l.mu - 3e0 * l.sd, 6) AS lcl,
       ROUND(l.mu + 3e0 * l.sd, 6) AS ucl,
       d.n < l.mu - 3e0 * l.sd OR d.n > l.mu + 3e0 * l.sd
         AS out_of_control
FROM daily d, lims l ORDER BY d.day
"""


@register(
    "ext_spc_control_chart",
    survey_id="EXT-SPC",
    category="event-analytics",
    oracle=_SPC_ORACLE,
)
def ext_spc_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart CONTROL CHART over daily event volumes — the
    operations-monitoring classic (3σ limits, out-of-control
    flagging): daily counts are exact integers, the center line and
    limits are fixed double expressions over exact Σn / Σn² (the
    sample-variance identity on integers — no order-dependent float
    reduction), and each day's breach flag compares an integer to
    those limits. Complements the EWMA/CUSUM anomaly pair with the
    memoryless chart. One groupBy to ≤31 rows."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.dayofmonth("ts").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    stats = daily.agg(
        F.count("*").cast("double").alias("k"),
        F.sum("n").cast("double").alias("s"),
        F.sum(F.col("n") * F.col("n")).cast("double").alias("s2"),
    )
    mu = F.col("s") / F.col("k")
    sd = F.sqrt(
        (F.col("s2") - F.col("s") * F.col("s") / F.col("k"))
        / (F.col("k") - F.lit(1.0))
    )
    lims = stats.select(mu.alias("mu"), sd.alias("sd"))
    return (
        daily.crossJoin(F.broadcast(lims))
        .select(
            F.col("day").cast("int").alias("day"),
            F.col("n").cast("bigint").alias("n"),
            F.round("mu", 6).alias("center"),
            F.round(F.col("mu") - 3 * F.col("sd"), 6).alias("lcl"),
            F.round(F.col("mu") + 3 * F.col("sd"), 6).alias("ucl"),
            (
                (F.col("n") < F.col("mu") - 3 * F.col("sd"))
                | (F.col("n") > F.col("mu") + 3 * F.col("sd"))
            ).alias("out_of_control"),
        )
        .orderBy("day")
    )


@register(
    "ext_match_recognize_lite",
    survey_id="EXT-MATCH",
    category="event-analytics",
    oracle="""
WITH seq AS (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
),
views AS (
  SELECT user_id, event_id, rn,
         rn - row_number() OVER (PARTITION BY user_id
                                 ORDER BY rn) AS grp
  FROM seq WHERE event_type = 'view'
),
islands AS (
  SELECT user_id, grp,
         CAST(COUNT(*) AS BIGINT) AS n_views,
         MIN(rn) AS start_rn, MAX(rn) AS end_rn,
         MIN(event_id) AS first_view_id
  FROM views GROUP BY user_id, grp
),
matches AS (
  SELECT i.user_id, i.n_views, i.first_view_id,
         s.event_id AS purchase_id
  FROM islands i
  JOIN seq s ON s.user_id = i.user_id AND s.rn = i.end_rn + 1
  WHERE s.event_type = 'purchase'
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_matches,
       MAX(n_views) AS max_view_run,
       CAST(SUM(n_views) AS BIGINT) AS views_in_matches,
       CAST(SUM(purchase_id) AS BIGINT) AS purchase_checksum,
       CAST(SUM(first_view_id) AS BIGINT) AS start_checksum
FROM matches GROUP BY user_id ORDER BY user_id
""",
)
def ext_match_recognize_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite: the row-pattern query `PATTERN (V+ P)`
    (one or more consecutive 'view' events immediately followed by a
    'purchase', per user in event-time order) compiled to the
    distributed plan Spark lacks native MATCH_RECOGNIZE for — the
    classic gaps-and-islands reduction: a per-user sequence number,
    islands of consecutive same-type rows via the rn - rn_by_type
    constant-difference trick, then a keyed self-join of each view
    island's end position to the next row to test the P suffix. This
    expresses greedy V+ semantics exactly: islands are MAXIMAL view
    runs, so every match reported is the longest-possible V+ for its
    position (SQL:2016 AFTER MATCH SKIP PAST LAST ROW + greedy
    quantifier). Per-user match counts, longest matched run, and
    event-id checksums pin the full match set. Scale: every window and
    join keys on user_id — one co-partitioned shuffle, no cross-user
    state, the same shape as ext_sessionize_batch; at 100 TB the
    sequence numbers ride the session layout and the island join is
    co-partitioned with them."""
    e = load_table(spark, sf_dir, "events")
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_id",
        "event_type",
        F.row_number().over(w_seq).alias("rn"),
    )
    w_v = Window.partitionBy("user_id").orderBy("rn")
    views = seq.where(F.col("event_type") == "view").select(
        "user_id",
        "event_id",
        "rn",
        (F.col("rn") - F.row_number().over(w_v)).alias("grp"),
    )
    islands = views.groupBy("user_id", "grp").agg(
        F.count("*").cast("bigint").alias("n_views"),
        F.min("rn").alias("start_rn"),
        F.max("rn").alias("end_rn"),
        F.min("event_id").alias("first_view_id"),
    )
    nxt = seq.select(
        F.col("user_id").alias("u2"),
        F.col("rn").alias("rn2"),
        F.col("event_type").alias("t2"),
        F.col("event_id").alias("purchase_id"),
    )
    matches = islands.join(
        nxt,
        (F.col("user_id") == F.col("u2"))
        & (F.col("rn2") == F.col("end_rn") + 1)
        & (F.col("t2") == "purchase"),
    )
    return (
        matches.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_matches"),
            F.max("n_views").alias("max_view_run"),
            F.sum("n_views").cast("bigint").alias("views_in_matches"),
            F.sum("purchase_id").cast("bigint").alias("purchase_checksum"),
            F.sum("first_view_id").cast("bigint").alias("start_checksum"),
        )
        .orderBy("user_id")
    )


@register(
    "ext_sequential_patterns",
    survey_id="EXT-SEQPAT",
    category="event-analytics",
    oracle="""
WITH k AS (
  SELECT user_id, event_type,
         (epoch_us(ts) - 1704067200000000) * 1048576 + event_id AS ord_key
  FROM events
),
firsts AS (
  SELECT user_id, event_type,
         MIN(ord_key) AS first_k, MAX(ord_key) AS last_k
  FROM k GROUP BY user_id, event_type
),
pairs AS (
  SELECT a.event_type AS a_type, b.event_type AS b_type,
         COUNT(*) AS support_users
  FROM firsts a JOIN firsts b ON a.user_id = b.user_id
  WHERE a.first_k < b.last_k
  GROUP BY a.event_type, b.event_type
),
tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM k)
SELECT p.a_type, p.b_type,
       CAST(p.support_users AS BIGINT) AS support_users,
       t.n_users
FROM pairs p CROSS JOIN tot t
ORDER BY a_type, b_type
""",
)
def ext_sequential_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining (SPADE/PrefixSpan's 2-sequence core):
    support counts for every ordered event-type pair <a -> b> — the
    number of users with SOME occurrence of a strictly before some
    occurrence of b. The existential check collapses to per-(user,
    type) first/last occurrence keys — exists(a before b) iff
    first(a) < last(b) — so the fact table reduces to a 5-row-per-user
    summary BEFORE any pair logic, and the 'pattern join' is a
    co-partitioned self-join of that summary on user_id (contrast
    ext_market_basket, which mines unordered co-occurrence; this adds
    the temporal order dimension). Event order is the single integer
    key (epoch-micros since 2024-01-01) * 2^20 + event_id — exact,
    tie-broken, overflow-safe for this testdata's one-month span and
    sub-million event ids. Scale: one keyed aggregation + one keyed
    self-join of a 5x-compressed table, output 25 pattern rows; the
    same shape mines k-sequences by iterating on the survivor
    prefixes (PrefixSpan's projection step)."""
    e = load_table(spark, sf_dir, "events")
    k = e.select(
        "user_id",
        "event_type",
        (
            (F.unix_micros("ts") - F.lit(1704067200000000))
            * F.lit(1048576)
            + F.col("event_id")
        ).alias("ord_key"),
    )
    firsts = k.groupBy("user_id", "event_type").agg(
        F.min("ord_key").alias("first_k"),
        F.max("ord_key").alias("last_k"),
    )
    a = firsts.select(
        "user_id",
        F.col("event_type").alias("a_type"),
        "first_k",
    )
    b = firsts.select(
        F.col("user_id").alias("u2"),
        F.col("event_type").alias("b_type"),
        "last_k",
    )
    pairs = (
        a.join(b, (F.col("user_id") == F.col("u2")))
        .where(F.col("first_k") < F.col("last_k"))
        .groupBy("a_type", "b_type")
        .agg(F.count("*").cast("bigint").alias("support_users"))
    )
    tot = k.agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users")
    )
    return (
        pairs.crossJoin(F.broadcast(tot))
        .select("a_type", "b_type", "support_users", "n_users")
        .orderBy("a_type", "b_type")
    )


@register(
    "ext_interval_sweepline",
    survey_id="EXT-SWEEPLINE",
    category="event-analytics",
    oracle="""
WITH w AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sess AS (
  SELECT user_id,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq,
         epoch_us(ts) AS t
  FROM w
),
iv AS (
  SELECT user_id, seq, MIN(t) AS s, MAX(t) AS e
  FROM sess GROUP BY user_id, seq
),
deltas AS (
  SELECT s AS t, 1 AS delta FROM iv
  UNION ALL
  SELECT e + 1 AS t, -1 AS delta FROM iv
),
cum AS (
  SELECT t, delta,
         CAST(SUM(delta) OVER (ORDER BY t, delta
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS active
  FROM deltas
)
SELECT t // 86400000000 AS day,
       CAST(MAX(active) AS BIGINT) AS max_concurrency,
       CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_session_starts
FROM cum GROUP BY day ORDER BY day
""",
)
def ext_interval_sweepline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval concurrency — peak simultaneous sessions per
    day, computed WITHOUT any interval join: every session (the
    EXT-SESSION 30-minute-gap definition) emits a +1 delta at its
    start and a -1 at end+1μs (closed interval in integer
    microseconds), and the concurrency curve is the running sum of
    deltas in global (t, delta) order — the -1-before-+1 tie rule
    makes adjacent sessions count as 1, not 2. The global cumulative
    sum runs as the bucketed TWO-PHASE prefix sum (per-day delta
    totals -> tiny day-ordered prefix -> broadcast offsets -> in-day
    window partitioned by day), the same Blelloch pattern as
    ext_sequence_packing — no unpartitioned window ever touches the
    delta stream, so the plan holds at any scale (contrast the naive
    session x session overlap join, which is quadratic in peak
    concurrency). Output: per-day peak concurrency + session starts,
    the capacity-planning curve."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t_us = F.unix_micros("ts")
    gap = t_us - F.lag(t_us).over(w)
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap.isNull() | (gap > 1800000000), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    sess = flagged.withColumn("seq", F.sum("is_new").over(w))
    iv = sess.groupBy("user_id", "seq").agg(
        F.min(t_us).alias("s"), F.max(t_us).alias("e")
    )
    deltas = iv.select(
        F.col("s").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        iv.select((F.col("e") + 1).alias("t"), F.lit(-1).alias("delta"))
    ).withColumn("day", F.expr("t div 86400000000"))
    # two-phase global prefix sum: day-bucket offsets, then in-day cumsum
    per_day = deltas.groupBy("day").agg(F.sum("delta").alias("dsum"))
    w_days = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = per_day.select(
        "day",
        F.coalesce(F.sum("dsum").over(w_days), F.lit(0)).alias("off"),
    )
    w_in = (
        Window.partitionBy("day")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = deltas.join(F.broadcast(offsets), "day").select(
        "day",
        "delta",
        (F.col("off") + F.sum("delta").over(w_in))
        .cast("bigint")
        .alias("active"),
    )
    return (
        cum.groupBy("day")
        .agg(
            F.max("active").cast("bigint").alias("max_concurrency"),
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_session_starts"),
        )
        .orderBy("day")
    )


_MKV_GRID = 1000000000  # 1e9 probability grid (1e9^2 = 1e18 < 2^63 - products stay in BIGINT)
_MKV_CHANNELS = ("click", "error", "signup", "view")


def _markov_oracle() -> str:
    rounds = []
    prev = "v0"
    for k in range(6):
        cur = f"v{k + 1}"
        rounds.append(f"""
{cur} AS (
  SELECT v.variant, t.to_s AS state,
         CAST(SUM(v.p * t.p // {_MKV_GRID}) AS BIGINT) AS p
  FROM {prev} v JOIN trans_v t
    ON v.variant = t.variant AND v.state = t.from_s
  GROUP BY v.variant, t.to_s)""")
        prev = cur
    removed_cases = ", ".join(f"('{c}')" for c in _MKV_CHANNELS)
    return f"""
WITH seq AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
),
firstp AS (
  SELECT user_id, MIN(rn) AS prn FROM seq
  WHERE event_type = 'purchase' GROUP BY user_id
),
journey AS (
  SELECT s.user_id, s.rn,
         CASE WHEN s.event_type = 'purchase' THEN 'conv'
              ELSE s.event_type END AS state
  FROM seq s LEFT JOIN firstp f USING (user_id)
  WHERE f.prn IS NULL OR s.rn <= f.prn
),
hops AS (
  SELECT user_id, state AS from_s,
         lead(state) OVER (PARTITION BY user_id ORDER BY rn) AS to_s,
         rn, MAX(rn) OVER (PARTITION BY user_id) AS maxrn
  FROM journey
),
pairs AS (
  SELECT 'start' AS from_s, state AS to_s FROM journey WHERE rn = 1
  UNION ALL
  SELECT from_s, COALESCE(to_s, 'null') AS to_s
  FROM hops WHERE NOT (rn = maxrn AND from_s = 'conv')
),
counts AS (
  SELECT from_s, to_s, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs GROUP BY from_s, to_s
),
variants AS (SELECT 'none' AS variant UNION ALL
             SELECT removed FROM (VALUES {removed_cases}) r(removed)),
redirected AS (
  SELECT v.variant, c.from_s,
         CASE WHEN c.to_s = v.variant THEN 'null' ELSE c.to_s END AS to_s,
         SUM(c.n) AS n
  FROM counts c CROSS JOIN variants v
  WHERE c.from_s <> v.variant
  GROUP BY v.variant, c.from_s, 3
),
trans_v AS (
  SELECT variant, from_s, to_s,
         CAST(n * {_MKV_GRID} // SUM(n) OVER (PARTITION BY variant, from_s)
              AS BIGINT) AS p
  FROM redirected
  UNION ALL
  SELECT variant, s, s, CAST({_MKV_GRID} AS BIGINT)
  FROM variants, (VALUES ('conv'), ('null')) a(s)
),
v0 AS (
  SELECT variant, 'start' AS state, CAST({_MKV_GRID} AS BIGINT) AS p
  FROM variants
),{",".join(rounds)},
conv AS (
  SELECT variant, p AS conv_grid FROM v6 WHERE state = 'conv'
),
base AS (SELECT conv_grid AS b FROM conv WHERE variant = 'none')
SELECT c.variant, c.conv_grid, base.b AS baseline_grid,
       CASE WHEN c.variant = 'none' THEN 0
            ELSE (base.b - c.conv_grid) * 1000000 // base.b END
         AS removal_effect_x1e6
FROM conv c CROSS JOIN base ORDER BY c.variant
"""


@register(
    "ext_markov_attribution",
    survey_id="EXT-MARKOV-ATTR",
    category="event-analytics",
    oracle=_markov_oracle(),
)
def ext_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain removal-effect attribution — the data-driven
    attribution model that completes the suite (last-touch /
    time-decay / Shapley): user journeys (event-time order, truncated
    at first purchase = the 'conv' absorber, channel states
    click/error/signup/view, non-converting journeys absorb in
    'null') define a first-order transition matrix; each channel's
    credit is its REMOVAL EFFECT — how much 6-step-truncated
    conversion probability disappears when every transition into that
    channel is redirected to 'null' (Anderl et al.'s graph-surgery
    formulation). All probability arithmetic lives on an integer 1e9
    grid (n_ij * GRID // n_i transition cells, per-round mass
    propagation as SUM(v*p // GRID) — floor-division keeps every
    round exact BIGINT and order-free), so five chains x 6 unrolled
    rounds hash-match the oracle's generated CTE ladder exactly.
    Scale: the fact table reduces to a <=50-cell transition-count
    table in one user-keyed window + aggregation; all chain math
    rides that kilobyte table x 5 variants."""
    e = load_table(spark, sf_dir, "events")
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        F.row_number().over(w_seq).alias("rn"),
    )
    firstp = (
        seq.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").alias("prn"))
    )
    journey = (
        seq.join(firstp, "user_id", "left")
        .where(F.col("prn").isNull() | (F.col("rn") <= F.col("prn")))
        .select(
            "user_id",
            "rn",
            F.when(F.col("event_type") == "purchase", "conv")
            .otherwise(F.col("event_type"))
            .alias("state"),
        )
    )
    w_j = Window.partitionBy("user_id").orderBy("rn")
    w_u = Window.partitionBy("user_id")
    hops = journey.select(
        "user_id",
        "rn",
        F.col("state").alias("from_s"),
        F.lead("state").over(w_j).alias("to_s"),
        F.max("rn").over(w_u).alias("maxrn"),
    )
    pairs = (
        journey.where(F.col("rn") == 1)
        .select(F.lit("start").alias("from_s"), F.col("state").alias("to_s"))
        .unionByName(
            hops.where(
                ~((F.col("rn") == F.col("maxrn")) & (F.col("from_s") == "conv"))
            ).select(
                "from_s",
                F.coalesce("to_s", F.lit("null")).alias("to_s"),
            )
        )
    )
    counts = pairs.groupBy("from_s", "to_s").agg(
        F.count("*").cast("bigint").alias("n")
    )
    count_rows = counts.collect()  # <= ~50 transition cells
    # Everything downstream rides the kilobyte transition-count table:
    # redirect, normalize to the integer grid, and fold 6 exact rounds
    # per variant driver-side (the bounded-collect pattern of the
    # KMV/CMS sketches — the fact table never leaves the cluster, only
    # the <= ~50 transition counts do).
    from collections import defaultdict as _dd

    tmat: dict[str, dict[str, list[tuple[str, int]]]] = _dd(lambda: _dd(list))
    for variant in ["none", *_MKV_CHANNELS]:
        red: dict[tuple[str, str], int] = _dd(int)
        for r in count_rows:
            if r["from_s"] == variant:
                continue
            to_s = "null" if r["to_s"] == variant else r["to_s"]
            red[(r["from_s"], to_s)] += r["n"]
        rowsums: dict[str, int] = _dd(int)
        for (f, _), n in red.items():
            rowsums[f] += n
        for (f, t), n in red.items():
            tmat[variant][f].append((t, n * _MKV_GRID // rowsums[f]))
        for s in ("conv", "null"):
            tmat[variant][s].append((s, _MKV_GRID))
    out_rows = []
    convs: dict[str, int] = {}
    for variant in ["none", *_MKV_CHANNELS]:
        vec = {"start": _MKV_GRID}
        for _ in range(6):
            nxt: dict[str, int] = _dd(int)
            for state, mass in vec.items():
                for to_s, pgrid in tmat[variant].get(state, ()):
                    nxt[to_s] += mass * pgrid // _MKV_GRID
            vec = dict(nxt)
        convs[variant] = vec.get("conv", 0)
    base = convs["none"]
    for variant in sorted(convs):
        cg = convs[variant]
        eff = 0 if variant == "none" else (base - cg) * 1000000 // base
        out_rows.append((variant, cg, base, eff))
    return spark.createDataFrame(
        out_rows,
        "variant string, conv_grid bigint, baseline_grid bigint, "
        "removal_effect_x1e6 bigint",
    ).orderBy("variant")


@register(
    "ext_conversion_latency_histogram",
    survey_id="EXT-TTC-HIST",
    category="event-analytics",
    oracle="""
WITH su AS (
  SELECT user_id, MIN(epoch_us(ts)) AS s_us
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
pu AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_us
  FROM events e JOIN su ON su.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= su.s_us
  GROUP BY e.user_id
),
lat AS (
  SELECT su.user_id, (pu.p_us - su.s_us) // 1000000 AS dur_s
  FROM su JOIN pu USING (user_id)
),
buckets AS (
  SELECT dur_s // 3600 AS hours_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_users
  FROM lat GROUP BY 1
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_conv FROM lat)
SELECT b.hours_bucket, b.n_users,
       CAST(SUM(b.n_users) OVER (ORDER BY b.hours_bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            * 1000000 // t.n_conv AS BIGINT) AS cum_share_x1e6,
       t.n_conv
FROM buckets b CROSS JOIN tot t ORDER BY b.hours_bucket
""",
)
def ext_conversion_latency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup-to-purchase conversion-latency distribution: per user,
    first signup and first purchase AT-OR-AFTER it (integer
    microseconds — the NOTES epoch_us discipline, no float time
    anywhere), bucketed into hours with an exact cumulative share on
    the 1e6 grid. The classic growth-analytics curve ('how long until
    users convert'), computed as two user-keyed aggregates + one
    co-partitioned join — the latency table is 1 row per converted
    user, the output histogram is tiny, and the cumulative window
    rides the bucket table only (≤ ~700 rows for this fixture's
    one-month span). At 100 TB everything shuffles on user_id once."""
    e = load_table(spark, sf_dir, "events")
    t_us = F.unix_micros("ts")
    su = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(t_us).alias("s_us"))
    )
    pu = (
        e.select("user_id", "event_type", t_us.alias("p_us"))
        .join(su, "user_id")
        .where(
            (F.col("event_type") == "purchase")
            & (F.col("p_us") >= F.col("s_us"))
        )
        .groupBy("user_id")
        .agg(F.min("p_us").alias("p_us"))
    )
    lat = su.join(pu, "user_id").select(
        F.expr("(p_us - s_us) div 1000000").alias("dur_s")
    )
    buckets = lat.groupBy(
        F.expr("dur_s div 3600").alias("hours_bucket")
    ).agg(F.count("*").cast("bigint").alias("n_users"))
    tot = lat.agg(F.count("*").cast("bigint").alias("n_conv"))
    w = Window.orderBy("hours_bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        buckets.crossJoin(F.broadcast(tot))
        .select(
            "hours_bucket",
            "n_users",
            F.expr(
                "sum(n_users) over (order by hours_bucket "
                "rows between unbounded preceding and current row) "
                "* 1000000 div n_conv"
            )
            .cast("bigint")
            .alias("cum_share_x1e6"),
            "n_conv",
        )
        .orderBy("hours_bucket")
    )


@register(
    "ext_cohort_ltv",
    survey_id="EXT-LTV",
    category="event-analytics",
    oracle="""
WITH first_day AS (
  SELECT user_id, MIN(epoch_us(ts)) // 86400000000 AS cohort_day
  FROM events GROUP BY user_id
),
rev AS (
  SELECT f.cohort_day,
         epoch_us(e.ts) // 86400000000 - f.cohort_day AS age_day,
         CAST(FLOOR(e.value * 100) AS BIGINT) AS cents
  FROM events e JOIN first_day f USING (user_id)
  WHERE e.event_type = 'purchase'
),
cohort_sizes AS (
  SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS n_users
  FROM first_day GROUP BY cohort_day
),
daily AS (
  SELECT cohort_day, age_day, CAST(SUM(cents) AS BIGINT) AS day_cents
  FROM rev WHERE age_day BETWEEN 0 AND 6
  GROUP BY cohort_day, age_day
)
SELECT d.cohort_day, d.age_day, s.n_users, d.day_cents,
       CAST(SUM(d.day_cents) OVER (PARTITION BY d.cohort_day
            ORDER BY d.age_day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS cum_cents
FROM daily d JOIN cohort_sizes s USING (cohort_day)
ORDER BY d.cohort_day, d.age_day
""",
)
def ext_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve — cumulative purchase revenue per acquisition
    cohort over its first week: users cohort by first-seen day, every
    purchase lands in a (cohort_day, age_day) cell as exact cents, and
    the running LTV is a cumulative window PARTITIONED by cohort (the
    partitioned prefix sum scales — contrast the global sweepline,
    which needed the two-phase treatment). The other half of the
    retention pair: ext_cohort_retention counts who comes back,
    this prices what they spend. One user-keyed join + one keyed
    aggregate at any scale; integer day arithmetic throughout."""
    e = load_table(spark, sf_dir, "events")
    day = F.expr("epoch_us_c div 86400000000")
    first_day = (
        e.select("user_id", F.unix_micros("ts").alias("epoch_us_c"))
        .groupBy("user_id")
        .agg(F.min(F.expr("epoch_us_c div 86400000000")).alias("cohort_day"))
    )
    rev = (
        e.select(
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("epoch_us_c"),
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .join(first_day, "user_id")
        .where(F.col("event_type") == "purchase")
        .select(
            "cohort_day",
            (day - F.col("cohort_day")).alias("age_day"),
            "cents",
        )
    )
    sizes = first_day.groupBy("cohort_day").agg(
        F.count("*").cast("bigint").alias("n_users")
    )
    daily = (
        rev.where(F.col("age_day").between(0, 6))
        .groupBy("cohort_day", "age_day")
        .agg(F.sum("cents").cast("bigint").alias("day_cents"))
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("age_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        daily.join(F.broadcast(sizes), "cohort_day")
        .select(
            "cohort_day",
            "age_day",
            "n_users",
            "day_cents",
            F.sum("day_cents").over(w).cast("bigint").alias("cum_cents"),
        )
        .orderBy("cohort_day", "age_day")
    )


@register(
    "ext_rolling_regression",
    survey_id="EXT-ROLLREG",
    category="event-analytics",
    oracle="""
WITH daily AS (
  SELECT epoch_us(ts) // 86400000000 AS day,
         CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
f AS (
  SELECT day, cents,
         CAST(COUNT(*) OVER w AS BIGINT) AS n,
         CAST(SUM(day) OVER w AS BIGINT) AS sx,
         CAST(SUM(cents) OVER w AS BIGINT) AS sy,
         CAST(SUM(day * cents) OVER w AS BIGINT) AS sxy,
         CAST(SUM(day * day) OVER w AS BIGINT) AS sxx
  FROM daily
  WINDOW w AS (ORDER BY day RANGE BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT day, cents, n,
       n * sxy - sx * sy AS slope_num,
       n * sxx - sx * sx AS slope_den,
       CASE WHEN n * sxx - sx * sx = 0 THEN 0e0
            ELSE ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE), 6) END
         AS slope_cents_per_day
FROM f ORDER BY day
""",
)
def ext_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 14-day OLS trend — the time-series operator dashboards
    build 'trend arrows' from: daily purchase revenue (exact cents),
    then per day a RANGE-framed window collects the five sufficient
    statistics (n, Σx, Σy, Σxy, Σx²) over the trailing 14 calendar
    days — all BIGINT, so the slope's numerator and denominator are
    exact integers (the d27 regr_* discipline inside a moving frame)
    and the reported slope is one deterministic division rounded on
    both engines. RANGE (not ROWS) framing makes missing days count
    as absent rather than stretching the window — the correct
    calendar semantics. Scale: the fact table collapses to one row
    per day before any window; the frame rides the tiny daily
    series."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.where(F.col("event_type") == "purchase")
        .groupBy(
            F.expr("unix_micros(ts) div 86400000000").alias("day")
        )
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w = Window.orderBy("day").rangeBetween(-13, 0)
    f = daily.select(
        "day",
        "cents",
        F.count("*").over(w).cast("bigint").alias("n"),
        F.sum("day").over(w).cast("bigint").alias("sx"),
        F.sum("cents").over(w).cast("bigint").alias("sy"),
        F.sum(F.col("day") * F.col("cents")).over(w).cast("bigint").alias(
            "sxy"
        ),
        F.sum(F.col("day") * F.col("day")).over(w).cast("bigint").alias(
            "sxx"
        ),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return f.select(
        "day",
        "cents",
        "n",
        num.alias("slope_num"),
        den.alias("slope_den"),
        F.when(den == 0, F.lit(0.0))
        .otherwise(F.round(num.cast("double") / den.cast("double"), 6))
        .alias("slope_cents_per_day"),
    ).orderBy("day")


@register(
    "ext_user_path_sankey",
    survey_id="EXT-SANKEY",
    category="event-analytics",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
),
tri AS (
  SELECT a.event_type AS s1, b.event_type AS s2, c.event_type AS s3
  FROM seq a
  JOIN seq b ON b.user_id = a.user_id AND b.rn = a.rn + 1
  JOIN seq c ON c.user_id = a.user_id AND c.rn = a.rn + 2
),
counts AS (
  SELECT s1, s2, s3, CAST(COUNT(*) AS BIGINT) AS n
  FROM tri GROUP BY s1, s2, s3
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_paths FROM counts)
SELECT c.s1, c.s2, c.s3, c.n,
       CAST(c.n * 1000000 // t.n_paths AS BIGINT) AS share_x1e6
FROM counts c CROSS JOIN tot t
ORDER BY c.n DESC, c.s1, c.s2, c.s3 LIMIT 15
""",
)
def ext_user_path_sankey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user paths (3-step event-type trigrams) — the Sankey/flow
    diagram feed: per-user event sequences yield every consecutive
    3-step path, counted and ranked with an exact 1e6-grid share of
    all paths. Complements ext_sequential_patterns (existential
    a-then-b support) and ext_markov_attribution (1-step transition
    chain) with the actual multi-step traffic routes. Plan: the
    sequence number is one user-keyed window; the trigram join is two
    self-joins co-partitioned on user_id (position arithmetic, the
    phrase-search plan applied to behavior); top-15 is
    TakeOrderedAndProject."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("rn"),
    )

    def s(alias):
        return seq.select(
            F.col("user_id").alias(f"u_{alias}"),
            F.col("event_type").alias(f"s{alias}"),
            F.col("rn").alias(f"r_{alias}"),
        )

    tri = (
        s(1)
        .join(
            s(2),
            (F.col("u_1") == F.col("u_2"))
            & (F.col("r_2") == F.col("r_1") + 1),
        )
        .join(
            s(3),
            (F.col("u_1") == F.col("u_3"))
            & (F.col("r_3") == F.col("r_1") + 2),
        )
        .select("s1", "s2", "s3")
    )
    counts = tri.groupBy("s1", "s2", "s3").agg(
        F.count("*").cast("bigint").alias("n")
    )
    tot = counts.agg(F.sum("n").cast("bigint").alias("n_paths"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "s1",
            "s2",
            "s3",
            "n",
            F.expr("n * 1000000 div n_paths").cast("bigint").alias(
                "share_x1e6"
            ),
        )
        .orderBy(F.col("n").desc(), "s1", "s2", "s3")
        .limit(15)
    )


@register(
    "ext_queue_backlog_lindley",
    survey_id="EXT-LINDLEY",
    category="event-analytics",
    oracle="""
WITH seq AS (
  SELECT user_id, epoch_us(ts) AS t,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
),
d AS (
  SELECT user_id, t, rn,
         60000000 * rn AS s_i,
         60000000 * (rn - 1) - t AS d_j
  FROM seq
),
q AS (
  SELECT user_id, rn,
         (s_i - t) - MIN(d_j) OVER (PARTITION BY user_id ORDER BY rn
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS backlog_us
  FROM d
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(backlog_us) AS BIGINT) AS max_backlog_us,
       CAST(MAX(CASE WHEN rn = (SELECT MAX(rn) FROM q q2
                                WHERE q2.user_id = q.user_id)
                     THEN backlog_us END) AS BIGINT) AS final_backlog_us,
       CAST(SUM(CASE WHEN backlog_us = 60000000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_busy_periods
FROM q GROUP BY user_id ORDER BY user_id
""",
)
def ext_queue_backlog_lindley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Queue-backlog analysis WITHOUT sequential recursion — the
    Lindley recursion W_i = max(W_{i-1} - Δt, 0) + c looks
    row-at-a-time-sequential (the classic 'can't do this in SQL' op:
    rate limiters, queue simulators, leaky buckets), but its closed
    form is a PREFIX EXTREMUM: W_i = (S_i - t_i) - min_{j<=i}
    (S_{j-1} - t_j) where S is the cumulative work — so one
    user-partitioned window min computes the exact backlog trajectory
    in a single pass, embarrassingly parallel across users. Model:
    each event enqueues 60 s of work, the per-user server drains in
    real time; all arithmetic in integer microseconds. Busy-period
    starts are exactly the rows where the backlog equals one job
    (the prefix-min is attained at j = i <=> the queue was empty on
    arrival) — so the busy-period count falls out of the same
    window. Per-user max/final backlog + busy periods, verified by a
    brute-force sequential replay in tests. Scale: one window + one
    aggregate, both keyed on user_id."""
    e = load_table(spark, sf_dir, "events")
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.unix_micros("ts").alias("t"),
        F.row_number().over(w_seq).alias("rn"),
    )
    d = seq.select(
        "user_id",
        "t",
        "rn",
        (F.lit(60000000).cast("bigint") * F.col("rn")).alias("s_i"),
        (
            F.lit(60000000).cast("bigint") * (F.col("rn") - 1) - F.col("t")
        ).alias("d_j"),
    )
    w_min = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    q = d.select(
        "user_id",
        "rn",
        ((F.col("s_i") - F.col("t")) - F.min("d_j").over(w_min)).alias(
            "backlog_us"
        ),
    )
    w_u = Window.partitionBy("user_id")
    q2 = q.withColumn("max_rn", F.max("rn").over(w_u))
    return (
        q2.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.max("backlog_us").cast("bigint").alias("max_backlog_us"),
            F.max(
                F.when(
                    F.col("rn") == F.col("max_rn"), F.col("backlog_us")
                )
            )
            .cast("bigint")
            .alias("final_backlog_us"),
            F.sum(
                F.when(F.col("backlog_us") == 60000000, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_busy_periods"),
        )
        .orderBy("user_id")
    )


@register(
    "ext_forecast_eval_smape",
    survey_id="EXT-SMAPE",
    category="event-analytics",
    oracle="""
WITH daily AS (
  SELECT epoch_us(ts) // 86400000000 AS day,
         CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
bounds AS (SELECT MIN(day) AS d0 FROM daily),
train AS (
  SELECT (day - d0) % 7 AS wd,
         CAST(SUM(cents) AS BIGINT) AS num,
         CAST(COUNT(*) AS BIGINT) AS den
  FROM daily, bounds WHERE day - d0 < 21 GROUP BY 1
),
test AS (
  SELECT day, (day - d0) % 7 AS wd, cents
  FROM daily, bounds WHERE day - d0 >= 21
),
terms AS (
  SELECT t.day, t.cents AS actual_cents, tr.num AS f_num, tr.den AS f_den,
         1000000 * ABS(tr.num - t.cents * tr.den)
           // (tr.num + t.cents * tr.den) AS term_x1e6
  FROM test t JOIN train tr USING (wd)
),
summary AS (
  SELECT CAST(SUM(term_x1e6) // COUNT(*) AS BIGINT) AS smape_x1e6,
         CAST(COUNT(*) AS BIGINT) AS n_test_days
  FROM terms
)
SELECT t.day, t.actual_cents, t.f_num, t.f_den,
       CAST(t.term_x1e6 AS BIGINT) AS term_x1e6,
       s.smape_x1e6, s.n_test_days
FROM terms t CROSS JOIN summary s ORDER BY t.day
""",
)
def ext_forecast_eval_smape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtesting with an EXACT error metric: a seasonal-naive
    forecaster (per-weekday mean of the 21-day train window) predicts
    the holdout days, and SMAPE — normally a float-summation hazard —
    is computed entirely in integers: the weekday-mean forecast stays
    a RATIONAL (num/den of exact cents), each term |f-a|/(f+a)
    cross-multiplies to |num - a*den| / (num + a*den), floors onto the
    1e6 grid, and sums as BIGINT (the WOE/IV lesson: order-sensitive
    double sums have no minimum row count — keep the reduction
    integral). Per-day terms + the aggregate SMAPE hash-match the
    oracle exactly. The missing half of tq06's forecast: the EVAL
    harness that scores any forecaster against any holdout. Scale:
    one keyed daily rollup, a 7-row broadcast of weekday means, and a
    tiny join."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.where(F.col("event_type") == "purchase")
        .groupBy(F.expr("unix_micros(ts) div 86400000000").alias("day"))
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    d0 = daily.agg(F.min("day").alias("d0"))
    dd = daily.crossJoin(F.broadcast(d0)).select(
        "day",
        "cents",
        ((F.col("day") - F.col("d0")) % 7).alias("wd"),
        (F.col("day") - F.col("d0")).alias("age"),
    )
    train = (
        dd.where(F.col("age") < 21)
        .groupBy("wd")
        .agg(
            F.sum("cents").cast("bigint").alias("f_num"),
            F.count("*").cast("bigint").alias("f_den"),
        )
    )
    test = dd.where(F.col("age") >= 21)
    terms = test.join(F.broadcast(train), "wd").select(
        "day",
        F.col("cents").alias("actual_cents"),
        "f_num",
        "f_den",
        F.expr(
            "1000000 * abs(f_num - cents * f_den) "
            "div (f_num + cents * f_den)"
        )
        .cast("bigint")
        .alias("term_x1e6"),
    )
    summary = terms.agg(
        F.expr("sum(term_x1e6) div count(*)")
        .cast("bigint")
        .alias("smape_x1e6"),
        F.count("*").cast("bigint").alias("n_test_days"),
    )
    return (
        terms.crossJoin(F.broadcast(summary))
        .select(
            "day",
            "actual_cents",
            "f_num",
            "f_den",
            "term_x1e6",
            "smape_x1e6",
            "n_test_days",
        )
        .orderBy("day")
    )


@register(
    "ext_srm_check",
    survey_id="EXT-SRM",
    category="event-analytics",
    oracle="""
WITH arms AS (
  SELECT DISTINCT user_id,
         CAST(('0x' || substr(md5('srm:' || user_id), 1, 12)) AS BIGINT)
           % 2 AS arm
  FROM events
),
counts AS (
  SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS o0,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS o1,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM arms
)
SELECT o0, o1, n,
       CAST(1000000 * (2 * o0 - n) * (2 * o0 - n) // n AS BIGINT)
         AS chi2_x1e6,
       1000000 * (2 * o0 - n) * (2 * o0 - n) // n > 3841459 AS srm_flag
FROM counts
""",
)
def ext_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail — the first check every
    experimentation platform runs before reading ANY metric (a biased
    assignment invalidates the whole experiment): users assign to two
    arms by the portable md5 coin, and the 1-df chi-square against the
    declared 50/50 split collapses to the exact integer form
    (2*o0 - n)^2 / n (both arms' deviations are the same number
    squared), scaled to the 1e6 grid and compared against the 95%
    critical value 3.841459. With an unbiased md5 coin the flag
    should stay quiet — and because both engines compute the same
    integers, the chi-square statistic itself is hash-checked, not
    just the verdict. One distinct-users aggregate; the statistic
    rides two counters."""
    e = load_table(spark, sf_dir, "events")
    arm = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("srm:"), F.col("user_id").cast("string")
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
    )
    arms = e.select("user_id").distinct().select(arm.alias("arm"))
    counts = arms.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("o0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("o1"),
        F.count("*").cast("bigint").alias("n"),
    )
    chi2 = F.expr("1000000 * (2 * o0 - n) * (2 * o0 - n) div n")
    return counts.select(
        "o0",
        "o1",
        "n",
        chi2.cast("bigint").alias("chi2_x1e6"),
        (chi2 > 3841459).alias("srm_flag"),
    )


@register(
    "ext_behavioral_analytics_pipeline",
    survey_id="EXT-BEHAVIOR-PIPE",
    category="event-analytics",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id)
                   > 1800000000
              OR lag(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sess AS (
  SELECT user_id, CAST(SUM(is_new) AS BIGINT) AS n_sessions
  FROM flagged GROUP BY user_id
),
stage_sessions AS (
  SELECT CAST(SUM(n_sessions) AS BIGINT) AS v1,
         CAST(COUNT(*) AS BIGINT) AS v2
  FROM sess
),
su AS (
  SELECT user_id, MIN(epoch_us(ts)) AS s FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
pu AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS p
  FROM events e JOIN su ON su.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= su.s
  GROUP BY e.user_id
),
stage_funnel AS (
  SELECT CAST((SELECT COUNT(*) FROM su) AS BIGINT) AS v1,
         CAST((SELECT COUNT(*) FROM pu) AS BIGINT) AS v2
),
lt AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rk
  FROM events WHERE event_type <> 'purchase'
),
purchases AS (
  SELECT user_id,
         CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
stage_attr AS (
  SELECT CAST(SUM(CASE WHEN lt.event_type = 'view'
                       THEN p.cents ELSE 0 END) AS BIGINT) AS v1,
         CAST(SUM(p.cents) AS BIGINT) AS v2
  FROM purchases p JOIN lt ON lt.user_id = p.user_id AND lt.rk = 1
),
fd AS (
  SELECT user_id, MIN(epoch_us(ts)) // 86400000000 AS c_day
  FROM events GROUP BY user_id
),
stage_ltv AS (
  SELECT CAST(SUM(CASE WHEN epoch_us(e.ts) // 86400000000 - fd.c_day
                            BETWEEN 0 AND 6
                       THEN CAST(FLOOR(e.value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS v1,
         CAST(COUNT(DISTINCT fd.user_id) AS BIGINT) AS v2
  FROM events e JOIN fd ON fd.user_id = e.user_id
  WHERE e.event_type = 'purchase'
)
SELECT * FROM (
  SELECT 'attribution' AS stage, v1 AS metric_a, v2 AS metric_b
  FROM stage_attr
  UNION ALL SELECT 'funnel', v1, v2 FROM stage_funnel
  UNION ALL SELECT 'ltv_week1', v1, v2 FROM stage_ltv
  UNION ALL SELECT 'sessions', v1, v2 FROM stage_sessions
) ORDER BY stage
""",
)
def ext_behavioral_analytics_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The behavioral-analytics CAPSTONE — the fourth end-to-end
    composite alongside curation / crawl / training-data: ONE
    declarative DAG computes the four reports a growth team reads
    daily — sessionization totals (30-min gaps), the signup→purchase
    funnel, last-non-purchase-touch revenue attribution (view-credited
    cents vs total), and week-1 cohort LTV — sharing scans and the
    single user_id exchange wherever the stages overlap. Every number
    is an exact integer (cents, counts, epoch-µs boundaries), so the
    whole four-stage report hash-matches the oracle. Scale: each
    stage is a user-keyed window or aggregate; nothing leaves the
    user partitioning until the final 4-row rollup — the same
    one-pass shape the per-stage queries declare individually
    (EXT-SESSION / EXT-TTC / EXT-ATTR-LAST / EXT-LTV)."""
    e = load_table(spark, sf_dir, "events")
    t_us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        F.when(
            (t_us - F.lag(t_us).over(w) > 1800000000)
            | F.lag("ts").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    sess = flagged.groupBy("user_id").agg(
        F.sum("is_new").cast("bigint").alias("n_sessions")
    )
    stage_sessions = sess.agg(
        F.sum("n_sessions").cast("bigint").alias("metric_a"),
        F.count("*").cast("bigint").alias("metric_b"),
    ).select(F.lit("sessions").alias("stage"), "metric_a", "metric_b")

    su = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(t_us).alias("s"))
    )
    pu = (
        e.select("user_id", "event_type", t_us.alias("p"))
        .join(su, "user_id")
        .where(
            (F.col("event_type") == "purchase") & (F.col("p") >= F.col("s"))
        )
        .groupBy("user_id")
        .agg(F.min("p").alias("p"))
    )
    stage_funnel = (
        su.agg(F.count("*").cast("bigint").alias("metric_a"))
        .crossJoin(
            F.broadcast(
                pu.agg(F.count("*").cast("bigint").alias("metric_b"))
            )
        )
        .select(F.lit("funnel").alias("stage"), "metric_a", "metric_b")
    )

    w_lt = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    lt = (
        e.where(F.col("event_type") != "purchase")
        .withColumn("rk", F.row_number().over(w_lt))
        .where(F.col("rk") == 1)
        .select("user_id", F.col("event_type").alias("last_touch"))
    )
    purchases = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    stage_attr = (
        purchases.join(lt, "user_id")
        .agg(
            F.sum(
                F.when(F.col("last_touch") == "view", F.col("cents"))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("metric_a"),
            F.sum("cents").cast("bigint").alias("metric_b"),
        )
        .select(F.lit("attribution").alias("stage"), "metric_a", "metric_b")
    )

    fd = e.groupBy("user_id").agg(
        F.min(F.expr("unix_micros(ts) div 86400000000")).alias("c_day")
    )
    stage_ltv = (
        e.where(F.col("event_type") == "purchase")
        .join(fd, "user_id")
        .agg(
            F.sum(
                F.when(
                    (
                        F.expr("unix_micros(ts) div 86400000000")
                        - F.col("c_day")
                    ).between(0, 6),
                    F.floor(F.col("value") * 100).cast("bigint"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("metric_a"),
            F.countDistinct("user_id").cast("bigint").alias("metric_b"),
        )
        .select(F.lit("ltv_week1").alias("stage"), "metric_a", "metric_b")
    )
    return (
        stage_attr.unionByName(stage_funnel)
        .unionByName(stage_ltv)
        .unionByName(stage_sessions)
        .orderBy("stage")
    )


@register(
    "ext_forecast_model_selection",
    survey_id="EXT-FCAST-SELECT",
    category="event-analytics",
    oracle="""
WITH daily AS (
  SELECT epoch_us(ts) // 86400000000 AS day,
         CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
bounds AS (SELECT MIN(day) AS d0 FROM daily),
train AS (SELECT day, cents FROM daily, bounds WHERE day - d0 < 21),
test AS (
  SELECT day, (day - d0) % 7 AS wd, cents
  FROM daily, bounds WHERE day - d0 >= 21
),
snaive AS (
  SELECT (day - d0) % 7 AS wd,
         CAST(SUM(cents) AS BIGINT) AS num, CAST(COUNT(*) AS BIGINT) AS den
  FROM train, bounds GROUP BY 1
),
drift AS (
  SELECT f.cents AS f_c, l.cents AS l_c, f.day AS f_day, l.day AS l_day,
         l.day - f.day AS den
  FROM (SELECT day, cents FROM train ORDER BY day LIMIT 1) f,
       (SELECT day, cents FROM train ORDER BY day DESC LIMIT 1) l
),
t_sn AS (
  SELECT t.day,
         CASE WHEN s.num + t.cents * s.den = 0 THEN 0
              ELSE 1000000 * ABS(s.num - t.cents * s.den)
                   // (s.num + t.cents * s.den) END AS term
  FROM test t JOIN snaive s USING (wd)
),
t_dr AS (
  SELECT t.day,
         CASE WHEN GREATEST(d.l_c * d.den
                            + (t.day - d.l_day) * (d.l_c - d.f_c), 0)
                   + t.cents * d.den = 0 THEN 0
              ELSE 1000000 * ABS(GREATEST(d.l_c * d.den
                       + (t.day - d.l_day) * (d.l_c - d.f_c), 0)
                       - t.cents * d.den)
                   // (GREATEST(d.l_c * d.den
                       + (t.day - d.l_day) * (d.l_c - d.f_c), 0)
                       + t.cents * d.den) END AS term
  FROM test t CROSS JOIN drift d
),
scores AS (
  SELECT 'drift' AS model,
         CAST(SUM(term) // COUNT(*) AS BIGINT) AS smape_x1e6,
         CAST(COUNT(*) AS BIGINT) AS n_test
  FROM t_dr
  UNION ALL
  SELECT 'seasonal_naive',
         CAST(SUM(term) // COUNT(*) AS BIGINT), CAST(COUNT(*) AS BIGINT)
  FROM t_sn
),
best AS (
  SELECT model AS winner FROM scores
  ORDER BY smape_x1e6, model LIMIT 1
)
SELECT s.model, s.smape_x1e6, s.n_test, s.model = b.winner AS is_winner
FROM scores s CROSS JOIN best b ORDER BY s.model
""",
)
def ext_forecast_model_selection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Forecast MODEL SELECTION on the EXT-SMAPE harness: two
    forecasters — seasonal-naive (per-weekday train mean, a rational)
    and the drift model (first-to-last linear extrapolation, clamped
    at zero, also a rational with denominator = the train span) —
    backtest on the same holdout with cross-multiplied integer SMAPE,
    and the winner is the argmin (tie -> name order). The selection
    loop every forecasting pipeline runs, with every score an exact
    BIGINT so even the model choice is hash-checked. Scale: both
    models reduce to O(1)/O(7) broadcast parameters from one daily
    rollup; scoring is a tiny join."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.where(F.col("event_type") == "purchase")
        .groupBy(F.expr("unix_micros(ts) div 86400000000").alias("day"))
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    d0 = daily.agg(F.min("day").alias("d0"))
    dd = daily.crossJoin(F.broadcast(d0)).select(
        "day",
        "cents",
        ((F.col("day") - F.col("d0")) % 7).alias("wd"),
        (F.col("day") - F.col("d0")).alias("age"),
    )
    train = dd.where(F.col("age") < 21)
    test = dd.where(F.col("age") >= 21)
    snaive = train.groupBy("wd").agg(
        F.sum("cents").cast("bigint").alias("num"),
        F.count("*").cast("bigint").alias("den"),
    )
    f_row = train.orderBy("day").limit(1).select(
        F.col("day").alias("f_day"), F.col("cents").alias("f_c")
    )
    l_row = train.orderBy(F.col("day").desc()).limit(1).select(
        F.col("day").alias("l_day"), F.col("cents").alias("l_c")
    )
    drift = f_row.crossJoin(l_row).select(
        "f_day", "f_c", "l_day", "l_c",
        (F.col("l_day") - F.col("f_day")).alias("den"),
    )
    t_sn = test.join(F.broadcast(snaive), "wd").select(
        F.when(F.col("num") + F.col("cents") * F.col("den") == 0, 0)
        .otherwise(
            F.expr(
                "1000000 * abs(num - cents * den) div (num + cents * den)"
            )
        )
        .alias("term")
    )
    dnum = F.greatest(
        F.col("l_c") * F.col("den")
        + (F.col("day") - F.col("l_day")) * (F.col("l_c") - F.col("f_c")),
        F.lit(0),
    )
    t_dr = test.crossJoin(F.broadcast(drift)).select(
        dnum.alias("dnum"), "cents", "den"
    ).select(
        F.when(F.col("dnum") + F.col("cents") * F.col("den") == 0, 0)
        .otherwise(
            F.expr(
                "1000000 * abs(dnum - cents * den) "
                "div (dnum + cents * den)"
            )
        )
        .alias("term")
    )

    def score(df: DataFrame, model: str) -> DataFrame:
        return df.agg(
            F.expr("sum(term) div count(*)")
            .cast("bigint")
            .alias("smape_x1e6"),
            F.count("*").cast("bigint").alias("n_test"),
        ).select(F.lit(model).alias("model"), "smape_x1e6", "n_test")

    scores = score(t_dr, "drift").unionByName(
        score(t_sn, "seasonal_naive")
    )
    best = scores.orderBy("smape_x1e6", "model").limit(1).select(
        F.col("model").alias("winner")
    )
    return (
        scores.crossJoin(F.broadcast(best))
        .select(
            "model",
            "smape_x1e6",
            "n_test",
            (F.col("model") == F.col("winner")).alias("is_winner"),
        )
        .orderBy("model")
    )


@register(
    "ext_bounce_rate",
    survey_id="EXT-BOUNCE",
    category="event-analytics",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id)
                   > 1800000000
              OR lag(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sid AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS s
  FROM flagged
),
sess AS (
  SELECT user_id, s,
         MIN(epoch_us(ts)) // 86400000000 AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM sid GROUP BY user_id, s
)
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS bounce_rate_x1e6
FROM sess GROUP BY day ORDER BY day
""",
)
def ext_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate — single-event sessions over total sessions,
    the web-analytics quality metric the sessionizer family was
    missing: sessions come from the EXT-SESSION 30-minute-gap
    definition, attribute to the day of their FIRST event (integer
    epoch days), and the rate rides the exact 1e6 grid. One
    user-keyed window + two keyed aggregates; the daily report is
    tiny at any scale."""
    e = load_table(spark, sf_dir, "events")
    t_us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            (t_us - F.lag(t_us).over(w) > 1800000000)
            | F.lag("ts").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sid = flagged.select(
        "user_id",
        "ts",
        F.sum("is_new").over(w_run).alias("s"),
    )
    sess = sid.groupBy("user_id", "s").agg(
        F.min(F.expr("unix_micros(ts) div 86400000000")).alias("day"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    return (
        sess.groupBy("day")
        .agg(
            F.count("*").cast("bigint").alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_bounces"),
            F.expr(
                "sum(case when n_events = 1 then 1 else 0 end) "
                "* 1000000 div count(*)"
            )
            .cast("bigint")
            .alias("bounce_rate_x1e6"),
        )
        .orderBy("day")
    )


@register(
    "ext_dau_wau_mau",
    survey_id="EXT-DAU",
    category="event-analytics",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
),
spine AS (SELECT DISTINCT day FROM ud),
dau AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day
),
wau AS (
  SELECT s.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
  FROM spine s JOIN ud u ON u.day BETWEEN s.day - 6 AND s.day
  GROUP BY s.day
),
mau AS (
  SELECT s.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS mau
  FROM spine s JOIN ud u ON u.day BETWEEN s.day - 27 AND s.day
  GROUP BY s.day
)
SELECT d.day, d.dau, w.wau, m.mau,
       CAST(d.dau * 1000000 // m.mau AS BIGINT) AS stickiness_x1e6
FROM dau d JOIN wau w USING (day) JOIN mau m USING (day)
ORDER BY d.day
""",
)
def ext_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling active-user counts — DAU / WAU / MAU plus the DAU/MAU
    stickiness ratio, the product-health dashboard header: activity
    first collapses to the DISTINCT (user, day) table (the 100 TB
    trick — everything downstream touches user-days, never raw
    events), daily actives are a keyed count, and the trailing 7/28-
    day distinct counts come from a bounded range join of the day
    spine against user-days (fanout <= window length, keyed on day —
    contrast recomputing distinct-over-window per event). Exact
    integers throughout; stickiness rides the 1e6 grid. The windowed
    complement of ext_cumulative_distinct_users."""
    e = load_table(spark, sf_dir, "events")
    ud = pin(
        e.select(
            "user_id",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
        )
        .distinct()
    )
    spine = ud.select("day").distinct()
    dau = ud.groupBy("day").agg(F.count("*").cast("bigint").alias("dau"))

    def rolling(width: int, out: str) -> DataFrame:
        s = spine.select(F.col("day").alias("s_day"))
        return (
            s.join(
                ud,
                (F.col("day") >= F.col("s_day") - (width - 1))
                & (F.col("day") <= F.col("s_day")),
            )
            .groupBy(F.col("s_day").alias("day"))
            .agg(F.countDistinct("user_id").cast("bigint").alias(out))
        )

    wau = rolling(7, "wau")
    mau = rolling(28, "mau")
    return (
        dau.join(wau, "day")
        .join(mau, "day")
        .select(
            "day",
            "dau",
            "wau",
            "mau",
            F.expr("dau * 1000000 div mau")
            .cast("bigint")
            .alias("stickiness_x1e6"),
        )
        .orderBy("day")
    )


def _viterbi_oracle(k: int) -> str:
    """Unrolled max-plus Viterbi DP (k steps, 2 states) with
    path-carrying accumulators — each step keeps the best score AND the
    best path string ending in each state, so no backtrace pass is
    needed.  Integer scores make every comparison exact; ties prefer
    the from-healthy (state 0) branch in both engines."""
    parts = [
        """
WITH seq AS (
  SELECT user_id,
         list_slice(list(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END
                         ORDER BY ts, event_id), 1, 8) AS obs
  FROM events GROUP BY user_id
),
v0 AS (
  SELECT user_id, obs, len(obs) AS n,
         CAST(0 AS BIGINT) AS a0, CAST(0 AS BIGINT) AS a1,
         '' AS p0, '' AS p1
  FROM seq
)"""
    ]
    for t in range(1, k + 1):
        prev = f"v{t - 1}"
        # no transition into the first observation (virtual start
        # contributes score 0 to both states)
        stay, sw = (0, 0) if t == 1 else (1, -2)
        parts.append(
            f""",
v{t} AS (
  SELECT user_id, obs, n,
    CASE WHEN n >= {t} THEN
      GREATEST(a0 + {stay}, a1 + {sw})
        + (CASE WHEN obs[{t}] = 1 THEN -4 ELSE 1 END)
    ELSE a0 END AS a0,
    CASE WHEN n >= {t} THEN
      GREATEST(a0 + {sw}, a1 + {stay})
        + (CASE WHEN obs[{t}] = 1 THEN 3 ELSE -2 END)
    ELSE a1 END AS a1,
    CASE WHEN n >= {t} THEN
      (CASE WHEN a0 + {stay} >= a1 + {sw} THEN p0 ELSE p1 END) || '0'
    ELSE p0 END AS p0,
    CASE WHEN n >= {t} THEN
      (CASE WHEN a0 + {sw} >= a1 + {stay} THEN p0 ELSE p1 END) || '1'
    ELSE p1 END AS p1
  FROM {prev}
)"""
        )
    parts.append(
        f"""
SELECT user_id, CAST(n AS BIGINT) AS n_events,
       CASE WHEN a1 > a0 THEN p1 ELSE p0 END AS state_path,
       CAST(CASE WHEN a1 > a0 THEN a1 ELSE a0 END AS BIGINT) AS best_score
FROM v{k} ORDER BY user_id"""
    )
    return "".join(parts)


@register(
    "ext_viterbi_decode",
    survey_id="EXT-VITERBI",
    category="event-analytics",
    oracle=_viterbi_oracle(8),
)
def ext_viterbi_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi decoding of a 2-state healthy/degraded HMM over each
    user's first 8 events (ordered by ts, event_id; obs = error vs
    non-error) — the classic sequence-labeling DP, here as ONE
    higher-order F.aggregate expression: the accumulator carries the
    best max-plus score AND the best path string ending in each state
    (path-carrying Viterbi — O(states) strings per row, no backtrace
    pass), so the whole decode is a codegen'd projection after the one
    sessionize shuffle.  Integer transition/emission scores (stay +1 /
    switch -2; healthy: non-error +1, error -4; degraded: error +3,
    non-error -2) make every comparison exact; ties prefer the
    from-healthy branch identically in both engines.

    Scale shape: one keyed shuffle to assemble per-user sequences,
    then per-row O(K * S^2) arithmetic inside whole-stage codegen — no
    UDF, no driver loop, no per-step shuffle; 100 TB of sessions is
    embarrassingly parallel.  Oracle: the identical DP unrolled as 8
    generated CTE stages."""
    e = load_table(spark, sf_dir, "events")
    seq = e.groupBy("user_id").agg(
        F.slice(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            "ts",
                            "event_id",
                            F.when(F.col("event_type") == "error", 1)
                            .otherwise(0)
                            .alias("o"),
                        )
                    )
                ),
                lambda s: s["o"],
            ),
            1,
            8,
        ).alias("obs")
    )
    zero = F.struct(
        F.lit(0).cast("bigint").alias("a0"),
        F.lit(0).cast("bigint").alias("a1"),
        F.lit("").alias("p0"),
        F.lit("").alias("p1"),
        F.lit(0).cast("int").alias("t"),
    )

    def step(acc, o):
        # no transition into the first observation (t == 0): the
        # virtual start contributes 0 to both states
        stay = F.when(acc["t"] == 0, 0).otherwise(1)
        sw = F.when(acc["t"] == 0, 0).otherwise(-2)
        c00 = acc["a0"] + stay
        c10 = acc["a1"] + sw
        c01 = acc["a0"] + sw
        c11 = acc["a1"] + stay
        e0 = F.when(o == 1, -4).otherwise(1)
        e1 = F.when(o == 1, 3).otherwise(-2)
        return F.struct(
            (F.greatest(c00, c10) + e0).cast("bigint").alias("a0"),
            (F.greatest(c01, c11) + e1).cast("bigint").alias("a1"),
            F.concat(
                F.when(c00 >= c10, acc["p0"]).otherwise(acc["p1"]),
                F.lit("0"),
            ).alias("p0"),
            F.concat(
                F.when(c01 >= c11, acc["p0"]).otherwise(acc["p1"]),
                F.lit("1"),
            ).alias("p1"),
            (acc["t"] + 1).cast("int").alias("t"),
        )

    fin = F.aggregate(F.col("obs"), zero, step)
    return seq.select(
        "user_id",
        F.size("obs").cast("bigint").alias("n_events"),
        F.when(fin["a1"] > fin["a0"], fin["p1"])
        .otherwise(fin["p0"])
        .alias("state_path"),
        F.greatest(fin["a0"], fin["a1"]).cast("bigint").alias("best_score"),
    ).orderBy("user_id")


_HOLT_MAX_T = 40


def _holt_oracle(max_t: int) -> str:
    """Unrolled Holt linear-trend recursion (alpha = beta = 1/4) over
    the per-type daily series, all-integer: each step floors through
    the positive-mod floor-division form, so both engines walk the
    identical lattice with no rational blow-up and no floats."""
    parts = [
        """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
ser AS (
  SELECT event_type, list(y ORDER BY d) AS ys,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM daily GROUP BY event_type
),
h0 AS (
  SELECT event_type, ys, n,
         CAST(ys[1] AS BIGINT) AS l, CAST(0 AS BIGINT) AS b
  FROM ser
)"""
    ]
    fd = lambda a: f"(({a}) - (((({a}) % 4) + 4) % 4)) // 4"
    for t in range(2, max_t + 1):
        prev = f"h{t - 2}" if t == 2 else f"h{t - 1}"
        lt = fd(f"ys[{t}] + 3 * (l + b)")
        bt = fd(f"({lt}) - l + 3 * b")
        parts.append(
            f""",
h{t} AS (
  SELECT event_type, ys, n,
    CASE WHEN n >= {t} THEN {lt} ELSE l END AS l,
    CASE WHEN n >= {t} THEN {bt} ELSE b END AS b
  FROM {prev}
)"""
        )
    parts.append(
        f"""
SELECT event_type, n AS n_days, l AS level, b AS trend,
       CAST(l + 7 * b AS BIGINT) AS forecast_7d
FROM h{max_t} ORDER BY event_type"""
    )
    return "".join(parts)


@register(
    "ext_holt_linear_forecast",
    survey_id="EXT-HOLT",
    category="event-analytics",
    oracle=_holt_oracle(_HOLT_MAX_T),
)
def ext_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing over each event
    type's daily value series (alpha = beta = 1/4), ALL-INTEGER: the
    recursion l_t = floor((y_t + 3(l+b))/4), b_t = floor((l_t - l +
    3b)/4) walks an exact integer lattice — no rational blow-up (the
    4^t denominators a Fraction-exact version would grow are floored
    away each step, identically in both engines via the positive-mod
    floor-division form), no transcendentals, so level/trend/7-day
    forecast hash-match bit-for-bit.

    Scale shape: the corpus collapses to the tiny per-(type, day)
    aggregate in one keyed shuffle; the recursion is a row-local
    F.aggregate fold over each collected series (the viterbi/unigram
    fold pattern — one lambda body, O(T) per series), so a million
    series cost one shuffle plus embarrassingly parallel arithmetic.
    Oracle: the identical recursion unrolled to the 40-step cap."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(
        F.sum(F.floor(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    ser = daily.groupBy("event_type").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("d", "y"))),
            lambda s: s["y"],
        ).alias("ys"),
        F.count("*").cast("bigint").alias("n"),
    )

    def fdiv4(a):
        return (a - F.pmod(a, F.lit(4))) / 4

    zero = F.struct(
        F.lit(1).cast("bigint").alias("t"),
        F.element_at("ys", 1).cast("bigint").alias("l"),
        F.lit(0).cast("bigint").alias("b"),
    )

    def step(acc, y):
        lt = fdiv4(y + 3 * (acc["l"] + acc["b"])).cast("bigint")
        bt = fdiv4(lt - acc["l"] + 3 * acc["b"]).cast("bigint")
        # the first observation seeds the level (zero); the fold runs
        # over ys[2..] only, so every folded element applies
        return F.struct(
            (acc["t"] + 1).cast("bigint").alias("t"),
            lt.alias("l"),
            bt.alias("b"),
        )

    fin = F.aggregate(
        F.slice("ys", 2, _HOLT_MAX_T - 1), zero, step
    )
    return ser.select(
        "event_type",
        F.col("n").alias("n_days"),
        fin["l"].alias("level"),
        fin["b"].alias("trend"),
        (fin["l"] + 7 * fin["b"]).cast("bigint").alias("forecast_7d"),
    ).orderBy("event_type")


@register(
    "ext_haar_energy_decomposition",
    survey_id="EXT-HAAR",
    category="event-analytics",
    oracle="""
WITH daily AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
lv AS (
  SELECT event_type, d, c, UNNEST(generate_series(1, 5)) AS level
  FROM daily
),
details AS (
  SELECT event_type, level,
         d // (1 << level) AS block,
         CAST(SUM(c * (1 - 2 * ((d // (1 << (level - 1))) % 2)))
              AS BIGINT) AS detail
  FROM lv GROUP BY 1, 2, 3
),
energy AS (
  SELECT event_type, level,
         CAST(SUM(detail * detail) AS BIGINT) AS energy,
         CAST(COUNT(*) AS BIGINT) AS n_blocks,
         ARG_MIN(block, -ABS(detail) * 1024 + block) AS dominant_block,
         ARG_MIN(detail, -ABS(detail) * 1024 + block) AS dominant_detail
  FROM details GROUP BY 1, 2
)
SELECT event_type, level, n_blocks, energy, dominant_block,
       dominant_detail
FROM energy
ORDER BY event_type, level
""",
)
def ext_haar_energy_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet energy decomposition of each event type's daily
    volume — the multi-resolution spectral profile of a timeline on an
    EXACT INTEGER LATTICE: unnormalized Haar details at level l are
    sum(left half-block) - sum(right half-block) of day counts, so
    every coefficient is a signed BIGINT and the per-level energy
    sum(detail^2) is exact. Reading: level-1 energy = day-to-day
    chatter, level-5 = month-scale trend; a traffic anomaly shows up
    as energy concentrated at its time scale, and the dominant block
    coordinates LOCATE it (|detail| argmax, ties to the earliest
    block) — the classic wavelet trick for burst detection without any
    float thresholding.

    The closed form avoids recursion entirely: day d's sign inside its
    level-l block is 1 - 2*((d >> (l-1)) & 1), so ALL levels compute
    from the daily count table in one grouped aggregate — no iterative
    halving passes, no per-level joins.

    Scale shape: one corpus-scale (event_type, day) count (map-side
    combinable, the only big exchange); the 5-level explode runs over
    the ~150-row daily table; argmax is min_by on a (-|detail|, block)
    struct — partial-combining, no window. At 100 TB with years of
    days the daily table is still tiny; the decomposition cost never
    sees raw events."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
            .cast("bigint")
            .alias("d"),
        )
        .groupBy("event_type", "d")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    lv = daily.select(
        "event_type",
        "d",
        "c",
        F.explode(F.sequence(F.lit(1), F.lit(5))).alias("level"),
    )
    details = lv.groupBy(
        "event_type",
        "level",
        F.expr("d DIV (1 << level)").alias("block"),
    ).agg(
        F.sum(
            F.col("c")
            * (1 - 2 * F.expr("(d DIV (1 << (level - 1))) % 2"))
        )
        .cast("bigint")
        .alias("detail")
    )
    # single-integer argmax key: blocks are < 1024 (and < 16 on this
    # 31-day fixture), so -|detail|*1024 + block orders by (|detail|
    # desc, block asc) — DuckDB 1.0's arg_min takes no struct keys
    key = -F.abs(F.col("detail")) * 1024 + F.col("block")
    return (
        details.groupBy("event_type", "level")
        .agg(
            F.count("*").cast("bigint").alias("n_blocks"),
            F.sum(F.col("detail") * F.col("detail"))
            .cast("bigint")
            .alias("energy"),
            F.min_by("block", key).alias("dominant_block"),
            F.min_by("detail", key).alias("dominant_detail"),
        )
        .select(
            "event_type",
            "level",
            "n_blocks",
            "energy",
            "dominant_block",
            "dominant_detail",
        )
        .orderBy("event_type", "level")
    )


_FUNNEL_W_US = 21_600_000_000  # 6 h chain window


@register(
    "ext_window_funnel",
    survey_id="EXT-WINDOW-FUNNEL",
    category="event-analytics",
    oracle=f"""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS t FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
),
u AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS total_users FROM e),
l1 AS (SELECT DISTINCT user_id FROM e WHERE event_type = 'view'),
l2 AS (
  SELECT DISTINCT v.user_id
  FROM e v JOIN e c ON v.user_id = c.user_id
  WHERE v.event_type = 'view' AND c.event_type = 'click'
    AND v.t < c.t AND c.t - v.t <= {_FUNNEL_W_US}
),
l3 AS (
  SELECT DISTINCT v.user_id
  FROM e v
  JOIN e c ON v.user_id = c.user_id AND c.event_type = 'click'
          AND v.t < c.t AND c.t - v.t <= {_FUNNEL_W_US}
  JOIN e p ON p.user_id = v.user_id AND p.event_type = 'purchase'
          AND c.t < p.t AND p.t - v.t <= {_FUNNEL_W_US}
  WHERE v.event_type = 'view'
),
lv AS (
  SELECT 1 AS level, CAST((SELECT COUNT(*) FROM l1) AS BIGINT) AS n
  UNION ALL
  SELECT 2, CAST((SELECT COUNT(*) FROM l2) AS BIGINT)
  UNION ALL
  SELECT 3, CAST((SELECT COUNT(*) FROM l3) AS BIGINT)
)
SELECT CAST(lv.level AS BIGINT) AS level,
       lv.n AS n_users_reaching,
       u.total_users,
       CAST(lv.n * 1000000 // u.total_users AS BIGINT) AS conv_micro
FROM lv CROSS JOIN u ORDER BY level
""",
)
def ext_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINDOW FUNNEL (the ClickHouse windowFunnel / product-analytics
    staple): the deepest prefix of the ordered sequence
    view -> click -> purchase each user completes with STRICTLY
    increasing event times and the whole chain inside a 6-hour window
    (chain end minus chain start <= W). Emits per funnel level the
    users reaching it and the exact micro conversion rate.

    Spark side is the scale design: one per-user fold — events
    collect into three time-sorted arrays and the chain test is
    row-local array algebra (latest-view-before-each-click via
    filter + try_element_at(-1), then existence scans; O(clicks x
    views) inside the row, zero joins). The DuckDB oracle derives the
    same levels INDEPENDENTLY as quadratic EXISTS self-joins — a
    construction-independent witness for the fold's greedy logic
    (latest view before a click is the optimal chain anchor).

    Exactness: all times are integer microseconds; comparisons are
    strict, so ts ties never create engine-dependent chains."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "click", "purchase")
    )
    per_user = (
        e.select(
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("t"),
        )
        .groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.when(F.col("event_type") == "view", F.col("t"))
                )
            ).alias("vs"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("event_type") == "click", F.col("t"))
                )
            ).alias("cs"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("event_type") == "purchase", F.col("t"))
                )
            ).alias("ps"),
        )
    )
    # latest view strictly before each click (NULL when none)
    lvs = F.transform(
        F.col("cs"),
        lambda c: F.try_element_at(
            F.filter(F.col("vs"), lambda v: v < c), F.lit(-1)
        ),
    )
    leveled = per_user.select(
        "user_id",
        (F.size("vs") > 0).alias("r1"),
        F.exists(
            F.zip_with(
                F.col("cs"),
                lvs,
                lambda c, v: v.isNotNull()
                & ((c - v) <= F.lit(_FUNNEL_W_US)),
            ),
            lambda x: x,
        ).alias("r2"),
        F.exists(
            F.col("ps"),
            lambda p: F.exists(
                F.zip_with(
                    F.col("cs"),
                    lvs,
                    lambda c, v: (c < p)
                    & v.isNotNull()
                    & ((p - v) <= F.lit(_FUNNEL_W_US)),
                ),
                lambda x: x,
            ),
        ).alias("r3"),
    )
    agg = leveled.agg(
        F.count("*").cast("bigint").alias("total_users"),
        F.sum(F.col("r1").cast("int")).cast("bigint").alias("n1"),
        F.sum(F.col("r2").cast("int")).cast("bigint").alias("n2"),
        F.sum(F.col("r3").cast("int")).cast("bigint").alias("n3"),
    )
    lv = spark.createDataFrame([(1,), (2,), (3,)], "level long")
    return (
        F.broadcast(lv)
        .crossJoin(F.broadcast(agg))
        .select(
            "level",
            F.when(F.col("level") == 1, F.col("n1"))
            .when(F.col("level") == 2, F.col("n2"))
            .otherwise(F.col("n3"))
            .cast("bigint")
            .alias("n_users_reaching"),
            "total_users",
        )
        .withColumn(
            "conv_micro",
            F.expr("n_users_reaching * 1000000 DIV total_users").cast(
                "bigint"
            ),
        )
        .orderBy("level")
    )


@register(
    "ext_offpolicy_ips_eval",
    survey_id="EXT-IPS",
    category="event-analytics",
    oracle="""
WITH e AS (
  SELECT user_id % 4 AS seg, event_type AS action,
         CAST(FLOOR(value * 100) AS BIGINT) AS cents
  FROM events
),
a AS (SELECT CAST(COUNT(DISTINCT action) AS BIGINT) AS na FROM e),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM e),
sa AS (
  SELECT seg, action, CAST(COUNT(*) AS BIGINT) AS c_sa,
         CAST(SUM(cents) AS BIGINT) AS sum_cents
  FROM e GROUP BY seg, action
),
s AS (SELECT seg, CAST(SUM(c_sa) AS BIGINT) AS c_s FROM sa GROUP BY seg),
terms AS (
  SELECT sa.seg, sa.action, sa.c_sa, s.c_s, sa.sum_cents,
         CAST(s.c_s * 1000000 // (a.na * sa.c_sa) AS BIGINT)
           AS weight_micro,
         CAST(CAST(sa.sum_cents AS HUGEINT) * s.c_s * 1000000000
              // (CAST(a.na AS HUGEINT) * sa.c_sa * n.total) AS BIGINT)
           AS term_nano,
         CAST(CAST(sa.c_sa AS HUGEINT) * s.c_s * 1000000000
              // (CAST(a.na AS HUGEINT) * sa.c_sa * n.total) AS BIGINT)
           AS wterm_nano
  FROM sa JOIN s ON s.seg = sa.seg CROSS JOIN a CROSS JOIN n
),
tot AS (
  SELECT CAST(SUM(term_nano) AS BIGINT) AS ips_nano,
         CAST(SUM(wterm_nano) AS BIGINT) AS wsum_nano
  FROM terms
)
SELECT t.seg, t.action, t.c_sa, t.c_s, t.sum_cents, t.weight_micro,
       t.term_nano, tot.ips_nano,
       CAST(tot.ips_nano * 1000 // GREATEST(tot.wsum_nano, 1) AS BIGINT)
         AS snips_milli_cents
FROM terms t CROSS JOIN tot
ORDER BY t.seg, t.action
""",
)
def ext_offpolicy_ips_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFF-POLICY EVALUATION via inverse propensity scoring (Horvitz-
    Thompson applied to logged decisions — the estimator behind every
    'what would the new policy have earned on last month's logs'
    analysis, and the bandit-log half of RLHF data work): logged
    events are (segment = user_id % 4, action = event_type, reward =
    value in cents); the logging policy's propensities are the
    empirical per-segment action frequencies c_sa / c_s; the TARGET
    policy is uniform over the A observed actions. The IPS estimate
    E_target[reward] = mean(reward * P_tgt / P_log) collapses per
    (segment, action) cell to sum_cents * c_s / (A * c_sa * N) — every
    factor an exact BIGINT. Each cell's contribution is floored to a
    1e-9 grid BEFORE the sum (per-cell flooring is the declared
    semantics — a distributed double sum would be order-dependent),
    and the self-normalized (SNIPS) variant divides by the same-grid
    weight sum, canceling the propensity-estimation bias that makes
    plain IPS drift when A * c_sa misestimates.

    Scale shape: one map-side-combinable grouped aggregate over the
    events stream into O(segments x actions) cells; everything after
    is cell-table arithmetic with two 1-row broadcasts."""
    e = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 4).alias("seg"),
        F.col("event_type").alias("action"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    a = e.agg(F.countDistinct("action").cast("bigint").alias("na"))
    n = e.agg(F.count("*").cast("bigint").alias("total"))
    sa = e.groupBy("seg", "action").agg(
        F.count("*").cast("bigint").alias("c_sa"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )
    s = sa.groupBy("seg").agg(F.sum("c_sa").cast("bigint").alias("c_s"))
    terms = (
        sa.join(s, "seg")
        .crossJoin(F.broadcast(a))
        .crossJoin(F.broadcast(n))
        .select(
            "seg",
            "action",
            "c_sa",
            "c_s",
            "sum_cents",
            F.expr("CAST(c_s * 1000000 DIV (na * c_sa) AS BIGINT)").alias(
                "weight_micro"
            ),
            # DECIMAL(38)/HUGEINT intermediates: sum_cents * c_s * 1e9
            # tops 2e22 at sf0.1 — past int64 (the overflow surfaced at
            # the sf0.1 drive; DuckDB promotes silently, Spark must not
            # wrap)
            F.expr(
                "CAST(CAST(sum_cents AS DECIMAL(38,0)) * c_s * 1000000000"
                " DIV (CAST(na AS DECIMAL(38,0)) * c_sa * total)"
                " AS BIGINT)"
            ).alias("term_nano"),
            F.expr(
                "CAST(CAST(c_sa AS DECIMAL(38,0)) * c_s * 1000000000"
                " DIV (CAST(na AS DECIMAL(38,0)) * c_sa * total)"
                " AS BIGINT)"
            ).alias("wterm_nano"),
        )
    )
    tot = terms.agg(
        F.sum("term_nano").cast("bigint").alias("ips_nano"),
        F.sum("wterm_nano").cast("bigint").alias("wsum_nano"),
    )
    return (
        terms.crossJoin(F.broadcast(tot))
        .select(
            "seg",
            "action",
            "c_sa",
            "c_s",
            "sum_cents",
            "weight_micro",
            "term_nano",
            "ips_nano",
            F.expr(
                "CAST(ips_nano * 1000 DIV GREATEST(wsum_nano, 1)"
                " AS BIGINT)"
            ).alias("snips_milli_cents"),
        )
        .orderBy("seg", "action")
    )

def _replay_policy_map() -> dict[int, str]:
    """The deterministic target policy for ext_policy_replay_eval:
    context (user_id % 16) -> action, derived once from md5 and baked
    into BOTH plans as literals (a policy must be fixed before it sees
    the logged rewards — and a constant map keeps the oracle exact)."""
    import hashlib

    acts = ["click", "error", "purchase", "signup", "view"]
    return {
        c: acts[
            int(hashlib.md5(f"policy:{c}".encode()).hexdigest()[:12], 16)
            % 5
        ]
        for c in range(16)
    }


_REPLAY_POLICY = _replay_policy_map()


def _replay_oracle() -> str:
    cases = " ".join(
        f"WHEN {c} THEN '{a}'" for c, a in _REPLAY_POLICY.items()
    )
    return f"""
WITH logged AS MATERIALIZED (
  SELECT user_id % 16 AS ctx, event_type AS action,
         CAST(FLOOR(value * 100) AS BIGINT) AS reward_cents
  FROM events
),
pol AS MATERIALIZED (
  SELECT ctx, action, reward_cents,
         CASE ctx {cases} END AS pi_hash
  FROM logged
),
rows_out AS (
  SELECT 'logged' AS policy,
         CAST(COUNT(*) AS BIGINT) AS n_matched,
         CAST(SUM(reward_cents) AS BIGINT) AS sum_cents
  FROM pol
  UNION ALL
  SELECT 'pi_hash',
         CAST(COUNT(*) AS BIGINT),
         CAST(COALESCE(SUM(reward_cents), 0) AS BIGINT)
  FROM pol WHERE action = pi_hash
  UNION ALL
  SELECT 'pi_purchase',
         CAST(COUNT(*) AS BIGINT),
         CAST(COALESCE(SUM(reward_cents), 0) AS BIGINT)
  FROM pol WHERE action = 'purchase'
)
SELECT policy, n_matched, sum_cents,
       CAST(sum_cents * 1000000 // GREATEST(n_matched, 1) AS BIGINT)
         AS mean_cents_micro
FROM rows_out ORDER BY policy"""


@register(
    "ext_policy_replay_eval",
    survey_id="EXT-POLICY-REPLAY",
    category="event-analytics",
    oracle=_replay_oracle(),
)
def ext_policy_replay_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFFLINE POLICY EVALUATION BY REPLAY (Li et al. 2011, the
    unbiased replay method for contextual bandits) — the
    counterfactual-evaluation rung next to ext_offpolicy_ips_eval's
    importance weighting: instead of reweighting every logged event,
    replay KEEPS only the events where the logged action equals the
    target policy's action for that context and averages their rewards
    directly — unbiased when logging is uniform over actions, and the
    estimator every bandit deployment runs before shipping a policy.
    Contexts are user_id % 16 buckets, actions are the event types,
    rewards are exact cents; two target policies are evaluated against
    the logged baseline: a fixed md5-derived context->action map
    (baked into both plans as literals — a policy must be fixed before
    it sees rewards) and the constant 'always purchase' policy.

    Exactness: integer contexts, literal policy map, exact cent
    rewards, and an exact micro mean (sum * 1e6 DIV n).

    Scale shape: one scan, three combinable aggregates — no shuffle
    beyond the final 3-row union; at 100 TB this is a single
    map-side-combined pass over the event log."""
    e = load_table(spark, sf_dir, "events")
    pi = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(c) for c in _REPLAY_POLICY]),
            F.array(*[F.lit(a) for a in _REPLAY_POLICY.values()]),
        ),
        (F.col("user_id") % 16).cast("int"),
    )
    pol = pin(e.select(
        F.col("event_type").alias("action"),
        F.floor(F.col("value") * 100).cast("bigint").alias("reward_cents"),
        pi.alias("pi_hash"),
    ))

    def row(policy: str, cond):
        src = pol.where(cond) if cond is not None else pol
        return src.agg(
            F.lit(policy).alias("policy"),
            F.count("*").cast("bigint").alias("n_matched"),
            F.coalesce(F.sum("reward_cents"), F.lit(0))
            .cast("bigint")
            .alias("sum_cents"),
        )

    out = (
        row("logged", None)
        .unionByName(row("pi_hash", F.col("action") == F.col("pi_hash")))
        .unionByName(row("pi_purchase", F.col("action") == "purchase"))
    )
    return out.select(
        "policy",
        "n_matched",
        "sum_cents",
        F.expr(
            "CAST(sum_cents * 1000000 DIV GREATEST(n_matched, 1)"
            " AS BIGINT)"
        ).alias("mean_cents_micro"),
    ).orderBy("policy")
