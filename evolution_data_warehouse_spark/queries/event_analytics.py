"""Event-analytics family over the events table (``event_*``, ``cdc_*``,
``cohort_*``, ``funnel_*``, ``session_*``, ``seq_*``, ``ts_*``): funnel
conversion, cohort retention, sessionization, forward-fill, and
time-spine resampling — the product-analytics queries a warehouse's
event stream serves (reference analog: the connection/usage tracking
marts, analytics/etl/track_connexions.py + Terraform/sql/005 datamart
shapes, re-expressed over the synthetic events stream).

Determinism: timestamps are exact µs on both engines (see
queries/common.py::t), sums go through dsum, every window order is
fully tie-broken by event_id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.queries.common import (
    dsum,
    dsum_sql,
    fpq,
    fpq_sql,
    register,
    t,
)


def daily_revenue(spark: SparkSession, sf_dir: str, col: str = "x") -> DataFrame:
    """(day, ``col``): revenue per order date, decimal-exact (``dsum``) —
    the daily series the time-series queries read."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(dsum("o_totalprice").alias(col))
    )


def priority_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_orderpriority, day, v): revenue per order priority and day —
    the series the rolling-window indicator queries read."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", F.to_date("o_orderdate").alias("day"))
        .agg(dsum("o_totalprice").alias("v"))
    )


# DuckDB mirrors of daily_revenue (column x) and priority_daily_revenue
DAILY_REVENUE_SQL = f"""
    SELECT o_orderdate AS day, {dsum_sql('o_totalprice')} AS x
    FROM orders GROUP BY o_orderdate
"""


PRIORITY_DAILY_REVENUE_SQL = f"""
    SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
           {dsum_sql('o_totalprice', 2)} AS v
    FROM orders GROUP BY 1, 2
"""


_FUNNEL_ORACLE = """
WITH s AS (
    SELECT user_id, MIN(ts) AS t_signup FROM events
    WHERE event_type = 'signup' GROUP BY user_id
),
v AS (
    SELECT e.user_id, MIN(e.ts) AS t_view
    FROM events e JOIN s ON e.user_id = s.user_id
    WHERE e.event_type = 'view' AND e.ts > s.t_signup
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, MIN(e.ts) AS t_purchase
    FROM events e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = 'purchase' AND e.ts > v.t_view
    GROUP BY e.user_id
)
SELECT 'signup' AS stage, COUNT(*) AS users FROM s
UNION ALL SELECT 'view_after_signup', COUNT(*) FROM v
UNION ALL SELECT 'purchase_after_view', COUNT(*) FROM p
"""


@register(
    "funnel_conversion",
    _FUNNEL_ORACLE,
    doc="Ordered funnel (signup → first view after → first purchase "
    "after that): each stage is one conditional-min aggregate joined to "
    "the previous stage's per-user timestamps — stage count shuffles on "
    "user_id, never a self-join over raw events. At 100 TB every stage "
    "input is the type-filtered slice (pushed to the scan) and the "
    "per-user stage table, both far smaller than the stream.",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    def stage(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count("*").alias("users")).select(
            F.lit(name).alias("stage"), "users"
        )
    return (
        stage(s, "signup")
        .unionAll(stage(v, "view_after_signup"))
        .unionAll(stage(p, "purchase_after_view"))
    )


_COHORT_ORACLE = """
WITH first_seen AS (
    SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
    FROM events GROUP BY user_id
)
SELECT cohort_week,
       CAST(date_diff('day', CAST(cohort_week AS DATE),
                      CAST(date_trunc('week', ts) AS DATE)) // 7 AS INT)
           AS week_offset,
       COUNT(DISTINCT e.user_id) AS active_users
FROM events e JOIN first_seen f ON e.user_id = f.user_id
GROUP BY cohort_week, week_offset
"""


@register(
    "cohort_retention",
    _COHORT_ORACLE,
    doc="Weekly cohort retention triangle: users bucket into the week "
    "they were first seen, activity counts distinct users per (cohort, "
    "week offset). Two aggregates — per-user first-seen, then the "
    "cohort×offset rollup — both shuffling on keys whose cardinality "
    "is users, not events. Week arithmetic is Monday-truncated dates "
    "diffed in whole days ÷ 7, identical on both engines.",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("user_id", "ts")
    # cast to DATE: DuckDB's date_trunc('week') yields DATE while
    # Spark's yields TIMESTAMP — the values are identical week starts
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    offset = F.floor(
        F.datediff(
            F.date_trunc("week", F.col("ts")).cast("date"),
            F.col("cohort_week"),
        )
        / 7
    ).cast("int")
    return (
        ev.join(first_seen, "user_id")
        .groupBy("cohort_week", offset.alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


_RESAMPLE_ORACLE = f"""
WITH daily AS (
    SELECT user_id, date_trunc('day', ts) AS day,
           COUNT(*) AS n_events, {dsum_sql('value')} AS day_value
    FROM events GROUP BY user_id, day
),
bounds AS (
    SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily
    GROUP BY user_id
),
spine AS (
    SELECT user_id,
           unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
    FROM bounds
)
SELECT s.user_id, s.day,
       COALESCE(n_events, 0) AS n_events,
       COALESCE(day_value, CAST(0.0 AS DOUBLE)) AS day_value
FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
"""


@register(
    "ts_resample_daily",
    _RESAMPLE_ORACLE,
    doc="Per-user daily resample with gap zero-fill: aggregate to the "
    "day grain, build each user's calendar spine with sequence() (rows "
    "generated executor-side, no driver loop), left-join the "
    "aggregates back. Spine size is users × days — dimension-scale — "
    "while the event stream is touched exactly once.",
)
def ts_resample_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day"), "value"
    )
    daily = ev.groupBy("user_id", "day").agg(
        F.count("*").alias("n_events"), dsum("value").alias("day_value")
    )
    bounds = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = bounds.select(
        "user_id",
        F.explode(
            F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    return spine.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("day_value", F.lit(0.0)).alias("day_value"),
    )


_TRANSITION_ORACLE = """
WITH nxt AS (
    SELECT event_type,
           LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS next_type
    FROM events
)
SELECT event_type, next_type, COUNT(*) AS n_transitions
FROM nxt WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
"""


@register(
    "event_transition_matrix",
    _TRANSITION_ORACLE,
    doc="Event-to-next-event transition matrix (the Markov-chain "
    "summary behind path analysis): lead() per user over a tie-broken "
    "order, then a type×type rollup whose cardinality is the square of "
    "the event vocabulary — one user_id shuffle plus a tiny aggregate.",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").alias("n_transitions"))
    )


_TWAP_ORACLE = f"""
WITH spans AS (
    SELECT user_id, value,
           epoch_us(LEAD(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           )) - epoch_us(ts) AS w_us
    FROM events
)
SELECT user_id,
       {fpq_sql(f"{dsum_sql('value * w_us', 4)} / CAST(SUM(w_us) AS DOUBLE)")}
           AS twap
FROM spans WHERE w_us IS NOT NULL
GROUP BY user_id
"""


@register(
    "ts_time_weighted_avg",
    _TWAP_ORACLE,
    doc="Time-weighted average per user (the sensor/finance TWAP): "
    "each observation weighted by the µs span until the next one "
    "(lead over a tie-broken order), value·weight summed through "
    "decimal casts so the accumulation is order-independent, the final "
    "ratio fixed-point-quantized. One user_id shuffle end-to-end.",
)
def ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_us = F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
    spans = ev.withColumn("w_us", w_us).filter(F.col("w_us").isNotNull())
    twap = dsum(F.col("value") * F.col("w_us"), 4) / F.sum(
        "w_us"
    ).cast("double")
    return spans.groupBy("user_id").agg(fpq(twap).alias("twap"))


_CDC_ORACLE = """
WITH ranked AS (
    SELECT user_id, event_id, ts, event_type, value,
           ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM events
)
SELECT user_id, event_id AS last_event_id, ts AS last_ts, value AS last_value
FROM ranked
WHERE rn = 1 AND event_type <> 'error'
"""


@register(
    "cdc_apply_log",
    _CDC_ORACLE,
    doc="CDC log apply: the events stream read as a change log per key "
    "— keep each user's latest operation (fully tie-broken by ts then "
    "event_id) and drop keys whose latest op is a tombstone ('error' "
    "stands in for DELETE). One window shuffle on the key; at 100 TB "
    "this is the compaction step a log-structured table runs, and "
    "rn=1 compiles to a per-partition top-1 (WindowGroupLimit), never "
    "a full sort of the log.",
)
def cdc_apply_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("value").alias("last_value"),
        )
    )


_SESSION_CONV_ORACLE = """
WITH g AS (
    SELECT user_id, event_id, ts, event_type,
           CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  OR lag(ts) OVER w IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id, event_id, ts, event_type,
           SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_id
    FROM g
),
per_session AS (
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
           MAX(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase
    FROM sess GROUP BY user_id, session_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS sessions_with_view,
       CAST(SUM(CASE WHEN first_view IS NOT NULL
                      AND last_purchase > first_view THEN 1 ELSE 0 END)
            AS BIGINT) AS converted_sessions
FROM per_session
"""


@register(
    "session_conversion",
    _SESSION_CONV_ORACLE,
    doc="Sessionized conversion: gap-based sessions (the win_session_gap "
    "operator) composed with funnel logic — a session converts when a "
    "purchase follows its first view. Three window/aggregate passes all "
    "keyed on user_id (one shuffle, reused), then a constant-size "
    "rollup; demonstrates the session and funnel operators composing "
    "without new shuffle keys.",
)
def session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # exact µs gap, matching the oracle's exact interval comparison
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    marker = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    sess = ev.withColumn("session_id", F.sum(marker).over(run))
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "first_view"
        ),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "last_purchase"
        ),
    )
    has_view = F.col("first_view").isNotNull()
    converted = has_view & (F.col("last_purchase") > F.col("first_view"))
    return per_session.agg(
        F.count("*").alias("n_sessions"),
        F.sum(has_view.cast("int")).alias("sessions_with_view"),
        F.sum(converted.cast("int")).alias("converted_sessions"),
    )


# ---------------------------------------------------------------------------
# Finite-horizon EWMA (exact rational weights)
# ---------------------------------------------------------------------------

_EWMA_ORACLE = """
WITH lagged AS (
    SELECT user_id, event_id, ts, value,
           lag(value, 1) OVER w AS v1,
           lag(value, 2) OVER w AS v2,
           lag(value, 3) OVER w AS v3,
           row_number() OVER w AS rn
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id,
       CAST(CAST(CAST(value AS DECIMAL(28,6)) * 8
                 + CAST(v1 AS DECIMAL(28,6)) * 4
                 + CAST(v2 AS DECIMAL(28,6)) * 2
                 + CAST(v3 AS DECIMAL(28,6)) AS DOUBLE) / 15.0
            AS DOUBLE) AS ewma4
FROM lagged WHERE rn >= 4
"""


@register(
    "ts_ewma_window",
    _EWMA_ORACLE,
    doc="Finite-horizon EWMA (half-life 1 step, 4-tap): weights "
    "8/15, 4/15, 2/15, 1/15 — powers of two over a common denominator, "
    "so the weighted numerator is EXACT in decimal and the single "
    "final double division is engine-identical. The infinite-memory "
    "recursive EWMA is deliberately truncated: a windowed 4-tap runs "
    "as one lag() pass (per-user state = 4 rows) where the recursive "
    "form needs sequential per-key iteration; rows with under 4 "
    "periods of history are excluded rather than renormalized.",
)
def ts_ewma_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    dec = lambda c: c.cast("decimal(28,6)")  # noqa: E731
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value",
        F.lag("value", 1).over(w).alias("v1"),
        F.lag("value", 2).over(w).alias("v2"),
        F.lag("value", 3).over(w).alias("v3"),
        F.row_number().over(w).alias("rn"),
    )
    num = (
        dec(F.col("value")) * 8
        + dec(F.col("v1")) * 4
        + dec(F.col("v2")) * 2
        + dec(F.col("v3"))
    )
    return ev.filter(F.col("rn") >= 4).select(
        "user_id", "event_id",
        (num.cast("double") / F.lit(15.0)).cast("double").alias("ewma4"),
    )


# ---------------------------------------------------------------------------
# Time-series gap detection (SLA / outage audit)
# ---------------------------------------------------------------------------

_GAP_MINUTES = 360  # 6 hours


_GAP_ORACLE = f"""
WITH seq AS (
    SELECT user_id, ts, event_id,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_ts
    FROM events
)
SELECT user_id,
       ts AS gap_start,
       next_ts AS gap_end,
       (epoch_us(next_ts) - epoch_us(ts)) // 60000000 AS gap_minutes
FROM seq
WHERE next_ts IS NOT NULL
  AND epoch_us(next_ts) - epoch_us(ts) > CAST({_GAP_MINUTES} AS BIGINT) * 60000000
"""


@register(
    "ts_gap_detection",
    _GAP_ORACLE,
    doc="Silence/outage detection: per-user gaps longer than 6 hours "
    "between consecutive events, as (start, end, minutes) intervals — "
    "the monitoring primitive for feeds that should never go quiet. "
    "One lead() pass over the user partitioning; gap length in exact "
    "integer epoch-µs arithmetic (floor minutes).",
)
def ts_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.lead("ts").over(w).alias("next_ts"),
    )
    span_us = F.unix_micros("next_ts") - F.unix_micros("ts")
    return (
        seq.filter(
            F.col("next_ts").isNotNull()
            & (span_us > _GAP_MINUTES * 60_000_000)
        )
        .select(
            "user_id",
            F.col("ts").alias("gap_start"),
            F.col("next_ts").alias("gap_end"),
            F.expr(
                "(unix_micros(next_ts) - unix_micros(ts)) div 60000000"
            ).alias("gap_minutes"),
        )
    )


# ---------------------------------------------------------------------------
# Engagement stickiness (DAU / WAU)
# ---------------------------------------------------------------------------

_STICKY_ORACLE = f"""
WITH day_users AS (
    SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
dau AS (SELECT day, COUNT(*) AS dau FROM day_users GROUP BY day),
spread AS (
    SELECT day + CAST(unnest(range(0, 7)) AS INT) AS wday, user_id FROM day_users
),
wau AS (
    SELECT wday AS day, COUNT(DISTINCT user_id) AS wau
    FROM spread GROUP BY wday
)
SELECT d.day, d.dau, w.wau,
       {fpq_sql('CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE)')}
           AS stickiness
FROM dau d JOIN wau w ON d.day = w.day
"""


@register(
    "event_stickiness",
    _STICKY_ORACLE,
    doc="DAU/WAU stickiness per day: the engagement ratio computed by "
    "SPREADING each (user, day) over the 7 trailing windows it "
    "belongs to — a 7× row expansion of the user-day grain, then two "
    "hash aggregates — instead of a per-day distinct re-scan of the "
    "week (O(days·events), the trap). Days trailing past the data's "
    "edge drop out via the inner join. Counts exact, ratio "
    "fixed-point quantized.",
)
def event_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    day_users = (
        t(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    dau = day_users.groupBy("day").agg(F.count("*").alias("dau"))
    spread = day_users.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        "day", "user_id",
    ).select(F.date_add("day", F.col("i")).alias("day"), "user_id")
    wau = spread.groupBy("day").agg(F.countDistinct("user_id").alias("wau"))
    return dau.join(wau, "day").select(
        "day", "dau", "wau",
        fpq(F.col("dau").cast("double") / F.col("wau").cast("double")).alias(
            "stickiness"
        ),
    )


# ---------------------------------------------------------------------------
# Concurrency sweep-line (max concurrent sessions)
# ---------------------------------------------------------------------------

_SWEEP_ORACLE = """
WITH intervals AS (
    -- CAST(ts AS TIMESTAMP): pin to µs precision so the sweep ordering is
    -- identical whether the driver's DuckDB reads parquet TIMESTAMP(NANOS)
    -- as TIMESTAMP_NS (>=1.1) or truncates like Spark does.
    SELECT event_id, CAST(ts AS TIMESTAMP) AS start_ts,
           -- floor, not CAST: CAST rounds half-even while Spark floors
           CAST(ts AS TIMESTAMP) + CAST(floor(greatest(value, 1.0) * 60) AS BIGINT)
               * INTERVAL 1 SECOND AS end_ts
    FROM events WHERE event_type = 'view'
),
pts AS (
    SELECT start_ts AS at_ts, 1 AS delta, event_id FROM intervals
    UNION ALL
    SELECT end_ts, -1, event_id FROM intervals
),
swept AS (
    SELECT at_ts, delta,
           SUM(delta) OVER (
               ORDER BY at_ts, delta, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS concurrent
    FROM pts
)
SELECT CAST(date_trunc('hour', at_ts) AS TIMESTAMP) AS hour,
       CAST(MAX(concurrent) AS BIGINT) AS peak_concurrent
FROM swept GROUP BY 1
"""


@register(
    "ts_concurrency_sweep",
    _SWEEP_ORACLE,
    doc="Peak concurrency via sweep-line: every interval contributes "
    "+1 at start and −1 at end, a running sum over the merged event "
    "points gives instantaneous concurrency, max per hour gives the "
    "capacity-planning curve. O(n log n) in ONE window pass — the "
    "naive per-timestamp interval-containment join is O(n²) and the "
    "classic scale killer. Ends tie-break BEFORE starts at the same "
    "instant (delta asc) so touching intervals don't double-count; "
    "interval length derived deterministically from the value column.",
)
def ts_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    iv = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "view")
        .select(
            "event_id",
            F.col("ts").alias("start_ts"),
            (
                F.col("ts")
                + F.make_dt_interval(
                    secs=F.floor(F.greatest("value", F.lit(1.0)) * 60).cast(
                        "bigint"
                    )
                )
            ).alias("end_ts"),
        )
    )
    pts = iv.select(
        F.col("start_ts").alias("at_ts"), F.lit(1).alias("delta"), "event_id"
    ).unionByName(
        iv.select(
            F.col("end_ts").alias("at_ts"), F.lit(-1).alias("delta"), "event_id"
        )
    )
    w = W.orderBy("at_ts", "delta", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    swept = pts.select(
        "at_ts", F.sum("delta").over(w).alias("concurrent")
    )
    return swept.groupBy(
        F.date_trunc("hour", "at_ts").alias("hour")
    ).agg(F.max("concurrent").cast("long").alias("peak_concurrent"))


# ---------------------------------------------------------------------------
# Monthly churn (active in M, absent in M+1)
# ---------------------------------------------------------------------------

_CHURN_ORACLE = """
WITH mu AS (
    SELECT DISTINCT date_trunc('month', ts) AS month, user_id FROM events
),
months AS (SELECT DISTINCT month FROM mu),
churned AS (
    SELECT a.month, COUNT(*) AS n_churned
    FROM mu a
    WHERE NOT EXISTS (
        SELECT 1 FROM mu b
        WHERE b.user_id = a.user_id
          AND b.month = a.month + INTERVAL 1 MONTH
    )
    AND EXISTS (SELECT 1 FROM months m
                WHERE m.month = a.month + INTERVAL 1 MONTH)
    GROUP BY a.month
),
active AS (SELECT month, COUNT(*) AS n_active FROM mu GROUP BY month)
SELECT CAST(a.month AS TIMESTAMP) AS month, a.n_active,
       COALESCE(c.n_churned, 0) AS n_churned
FROM active a
LEFT JOIN churned c ON a.month = c.month
WHERE EXISTS (SELECT 1 FROM months m
              WHERE m.month = a.month + INTERVAL 1 MONTH)
"""


@register(
    "event_churn_monthly",
    _CHURN_ORACLE,
    doc="Monthly churn: users active in month M with no activity in "
    "M+1, reported beside the month's active count (the retention "
    "complement of cohort_retention). Computed at the month-user "
    "grain — one distinct, one self-anti-join on (user, next month) — "
    "never a raw-event comparison; the final data month is excluded "
    "(churn there is undefined, not zero).",
)
def event_churn_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    mu = (
        t(spark, sf_dir, "events")
        .select(F.date_trunc("month", "ts").alias("month"), "user_id")
        .distinct()
    )
    months = mu.select("month").distinct()
    nxt = mu.select(
        F.add_months(F.col("month"), -1).alias("month"),
        F.col("user_id").alias("u2"),
    )
    churned = (
        mu.join(
            nxt,
            (mu.month == nxt.month) & (mu.user_id == nxt.u2),
            "left_anti",
        )
        .groupBy("month")
        .agg(F.count("*").alias("n_churned"))
    )
    active = mu.groupBy("month").agg(F.count("*").alias("n_active"))
    has_next = months.alias("m1").join(
        months.select(F.add_months("month", -1).alias("month")).alias("m2"),
        "month",
        "left_semi",
    )
    return (
        active.join(has_next, "month", "left_semi")
        .join(churned, "month", "left")
        .select(
            "month", "n_active",
            F.coalesce("n_churned", F.lit(0)).cast("long").alias("n_churned"),
        )
    )


# ---------------------------------------------------------------------------
# Transition latency (inter-event time per transition type)
# ---------------------------------------------------------------------------

_TRANS_LAT_ORACLE = f"""
WITH seq AS (
    SELECT user_id, event_type AS prev_type, ts,
           lead(event_type) OVER w AS next_type,
           lead(ts) OVER w AS next_ts
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
lat AS (
    SELECT prev_type, next_type,
           (epoch_us(next_ts) - epoch_us(ts)) / 1000000.0 AS secs
    FROM seq WHERE next_type IS NOT NULL
)
SELECT prev_type, next_type, COUNT(*) AS n,
       {fpq_sql('quantile_cont(secs, 0.5)')} AS median_secs,
       {fpq_sql('quantile_cont(secs, 0.9)')} AS p90_secs
FROM lat GROUP BY prev_type, next_type
"""


@register(
    "event_transition_latency",
    _TRANS_LAT_ORACLE,
    doc="Inter-event latency per transition type (how long from view "
    "to click?): the timing companion to event_transition_matrix. One "
    "lead() pass over the user partitioning, then exact interpolated "
    "percentiles per transition pair, fixed-point quantized; seconds "
    "derive from integer epoch-µs divided once.",
)
def event_transition_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t(spark, sf_dir, "events").select(
        F.col("event_type").alias("prev_type"),
        "ts",
        F.lead("event_type").over(w).alias("next_type"),
        F.lead("ts").over(w).alias("next_ts"),
    )
    secs = (
        (F.unix_micros("next_ts") - F.unix_micros("ts")) / F.lit(1000000.0)
    )
    lat = seq.filter(F.col("next_type").isNotNull()).select(
        "prev_type", "next_type", secs.alias("secs")
    )
    return lat.groupBy("prev_type", "next_type").agg(
        F.count("*").alias("n"),
        fpq(F.percentile("secs", F.lit(0.5))).alias("median_secs"),
        fpq(F.percentile("secs", F.lit(0.9))).alias("p90_secs"),
    )


# ---------------------------------------------------------------------------
# Behavioral path mining: top first-3-event paths per user-day
# ---------------------------------------------------------------------------

_PATHS_ORACLE = """
WITH ranked AS (
    SELECT user_id, CAST(ts AS DATE) AS day, event_type,
           ROW_NUMBER() OVER (
               PARTITION BY user_id, CAST(ts AS DATE)
               ORDER BY ts, event_id
           ) AS rn
    FROM events
),
paths AS (
    SELECT user_id, day,
           MAX(CASE WHEN rn = 1 THEN event_type END) || '>' ||
           MAX(CASE WHEN rn = 2 THEN event_type END) || '>' ||
           MAX(CASE WHEN rn = 3 THEN event_type END) AS path
    FROM ranked WHERE rn <= 3
    GROUP BY user_id, day
    HAVING COUNT(*) >= 3
)
SELECT path, COUNT(*) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 20
"""


@register(
    "seq_top_paths",
    _PATHS_ORACLE,
    doc="Top-20 opening event paths (first 3 events per user-day, "
    "tie-broken by event_id) — the sequence-mining primitive behind "
    "onboarding/funnel design. The per-group ordering is a window "
    "ranked within (user, day) partitions; the path string is built "
    "with positional conditional MAXes (exact, no ordered collect), "
    "and the final top-N is fully tie-broken (count desc, path) so "
    "LIMIT is deterministic. Compiles to WindowGroupLimit-friendly "
    "shapes; the heavy shuffle is user-day cardinality, not events.",
)
def seq_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "event_type", "ts", "event_id"
    )
    w = W.partitionBy("user_id", "day").orderBy("ts", "event_id")
    ranked = ev.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 3
    )

    def step(i: int) -> Column:
        return F.max(F.when(F.col("rn") == i, F.col("event_type")))

    paths = (
        ranked.groupBy("user_id", "day")
        .agg(
            step(1).alias("s1"),
            step(2).alias("s2"),
            step(3).alias("s3"),
            F.count("*").alias("n"),
        )
        .filter(F.col("n") >= 3)
        .select(
            F.concat_ws(">", "s1", "s2", "s3").alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Lag-7 autocorrelation of the daily event count series
# ---------------------------------------------------------------------------

_AUTOCORR_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
    FROM events GROUP BY CAST(ts AS DATE)
),
pairs AS (
    SELECT cur.x AS x, prev.x AS y
    FROM daily cur JOIN daily prev ON prev.day = cur.day - 7
),
s AS (
    SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
           SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
    FROM pairs
)
SELECT n,
       CAST(floor(
           (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
              * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
           * 1e9 + 0.5) / 1e9 AS DOUBLE) AS autocorr_lag7
FROM s
"""


@register(
    "ts_autocorr_daily",
    _AUTOCORR_ORACLE,
    doc="Lag-7 Pearson autocorrelation of the daily event-count series "
    "— the weekly-seasonality detector that decides whether a forecast "
    "needs a 7-day term. All moment sums are exact BIGINTs over "
    "integer counts (calendar join day = day-7, not a positional "
    "lag); the correlation is assembled from those exact operands in "
    "one closed-form expression (IEEE sqrt is correctly rounded, so "
    "both engines produce the same double), then fixed-point "
    "quantized. Day-cardinality data — trivially small forever.",
)
def ts_autocorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("x"))
    )
    cur, prev = daily.alias("cur"), daily.alias("prev")
    pairs = cur.join(
        prev,
        F.col("prev.day") == F.date_sub(F.col("cur.day"), 7),
    ).select(F.col("cur.x").alias("x"), F.col("prev.x").alias("y"))
    s = pairs.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    ) * F.sqrt(nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    return s.select("n", fpq(num / den, 9).alias("autocorr_lag7"))


# ---------------------------------------------------------------------------
# Session duration percentiles (30-min gap sessionization)
# ---------------------------------------------------------------------------

_SESSDUR_ORACLE = f"""
WITH e AS (
    SELECT user_id, event_id, epoch_us(ts) AS us,
           CASE WHEN epoch_us(ts)
                     - LAG(epoch_us(ts)) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) > 1800000000
                  OR LAG(epoch_us(ts)) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id
                     ) IS NULL
                THEN 1 ELSE 0 END AS marker
    FROM events
),
s AS (
    SELECT user_id, us,
           SUM(marker) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_id
    FROM e
),
dur AS (
    SELECT user_id, session_id, MAX(us) - MIN(us) AS dur_us
    FROM s GROUP BY user_id, session_id
)
SELECT COUNT(*) AS n_sessions,
       {fpq_sql('quantile_cont(dur_us, 0.5) / 1e6')} AS p50_s,
       {fpq_sql('quantile_cont(dur_us, 0.9) / 1e6')} AS p90_s,
       {fpq_sql('quantile_cont(dur_us, 0.99) / 1e6')} AS p99_s
FROM dur
"""


@register(
    "session_duration_pct",
    _SESSDUR_ORACLE,
    doc="Session-duration percentiles over 30-min-gap sessionization "
    "(the engagement-depth KPI next to win_session_gap's session ids): "
    "exact integer-µs durations per (user, session), then interpolated "
    "p50/p90/p99 fixed-point quantized. The windows partition by "
    "user_id, so state never exceeds one user's events per task; the "
    "final percentile runs on session-cardinality data. At 100 TB "
    "swap percentile() for approx_percentile, same shape.",
)
def session_duration_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    marker = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    run = W.partitionBy("user_id").orderBy("us", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    s = (
        t(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts")
        .withColumn("us", us)
        .withColumn("marker", marker)
        .withColumn("session_id", F.sum("marker").over(run))
    )
    dur = s.groupBy("user_id", "session_id").agg(
        (F.max("us") - F.min("us")).alias("dur_us")
    )
    return dur.agg(
        F.count("*").alias("n_sessions"),
        fpq(F.percentile("dur_us", F.lit(0.5)) / 1e6).alias("p50_s"),
        fpq(F.percentile("dur_us", F.lit(0.9)) / 1e6).alias("p90_s"),
        fpq(F.percentile("dur_us", F.lit(0.99)) / 1e6).alias("p99_s"),
    )


# ---------------------------------------------------------------------------
# Weekday seasonality profile
# ---------------------------------------------------------------------------

_WEEKDAY_ORACLE = """
WITH d AS (
    SELECT isodow(CAST(ts AS DATE)) AS dw FROM events
),
c AS (SELECT dw, COUNT(*) AS n_events FROM d GROUP BY dw),
tot AS (SELECT SUM(n_events) AS total FROM c)
SELECT dw, n_events,
       CAST(7 * n_events AS DOUBLE) / total AS seasonality_idx
FROM c CROSS JOIN tot
"""


@register(
    "ts_weekday_seasonality",
    _WEEKDAY_ORACLE,
    doc="Weekday seasonality index: events per ISO weekday relative to "
    "a flat week (1.0 = no seasonality) — the companion readout to "
    "ts_autocorr_daily's lag-7 correlation. Integer counts, one final "
    "division; Spark's Sunday=1 dayofweek normalized to ISO Monday=1 "
    "with (dow+5)%7+1. 7-row output forever.",
)
def ts_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        t(spark, sf_dir, "events")
        .select(((F.dayofweek(F.to_date("ts")) + 5) % 7 + 1).alias("dw"))
        .groupBy("dw")
        .agg(F.count("*").alias("n_events"))
    )
    tot = c.agg(F.sum("n_events").alias("total"))
    return c.crossJoin(tot).select(
        "dw",
        "n_events",
        ((F.lit(7) * F.col("n_events")).cast("double") / F.col("total")).alias(
            "seasonality_idx"
        ),
    )


# ---------------------------------------------------------------------------
# PMI between event types co-occurring in user-day baskets
# ---------------------------------------------------------------------------

_PMI_ORACLE = """
WITH basket AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
    FROM events
),
nb AS (SELECT COUNT(DISTINCT (user_id, day)) AS n_baskets FROM basket),
single AS (
    SELECT event_type, COUNT(*) AS k FROM basket GROUP BY event_type
),
pair AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS kab
    FROM basket a JOIN basket b
      ON a.user_id = b.user_id AND a.day = b.day
     AND a.event_type < b.event_type
    GROUP BY a.event_type, b.event_type
)
SELECT type_a, type_b, kab,
       CAST(floor(
           ln(CAST(kab AS DOUBLE) * n_baskets / (CAST(sa.k AS DOUBLE) * sb.k))
           * 1e9 + 0.5) / 1e9 AS DOUBLE) AS pmi
FROM pair
JOIN single sa ON sa.event_type = type_a
JOIN single sb ON sb.event_type = type_b
CROSS JOIN nb
"""


@register(
    "event_cooccurrence_pmi",
    _PMI_ORACLE,
    doc="Pointwise mutual information between event types sharing a "
    "user-day basket — which behaviors genuinely attract vs merely "
    "both being common (the lift-style complement to "
    "event_transition_matrix's ordered transitions). Baskets are "
    "distinct'd first, the pair join runs within (user, day) keys "
    "(fan-out bounded by the event-type alphabet, never events²), "
    "marginals and basket count are exact integers, and the single "
    "PMI log per |types|² output row is fixed-point quantized. The "
    "1-row basket count broadcasts.",
)
def event_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    basket = (
        t(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"), "event_type")
        .distinct()
    )
    nb = basket.select("user_id", "day").distinct().agg(
        F.count("*").alias("n_baskets")
    )
    single = basket.groupBy("event_type").agg(F.count("*").alias("k"))
    a, b = basket.alias("a"), basket.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("kab"))
    )
    sa, sb = single.alias("sa"), single.alias("sb")
    pmi = F.log(
        F.col("kab").cast("double")
        * F.col("n_baskets")
        / (F.col("sa.k").cast("double") * F.col("sb.k"))
    )
    return (
        pair.join(sa, F.col("type_a") == F.col("sa.event_type"))
        .join(sb, F.col("type_b") == F.col("sb.event_type"))
        .crossJoin(nb)
        .select(
            "type_a",
            "type_b",
            "kab",
            (F.floor(pmi * 1e9 + F.lit(0.5)) / 1e9)
            .cast("double")
            .alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# Monthly revenue anomaly screen (z-scores from exact moments)
# ---------------------------------------------------------------------------

_REV_ANOM_ORACLE = """
WITH m AS (
    SELECT date_trunc('month', o_orderdate) AS month,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders GROUP BY date_trunc('month', o_orderdate)
),
s AS (
    SELECT COUNT(*) AS n, SUM(cents) AS s1,
           SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS s2
    FROM m
)
SELECT month, cents,
       CAST(floor(
           (CAST(cents AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
           / sqrt(CAST(s2 AS DOUBLE) / n
                  - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
           * 1e9 + 0.5) / 1e9 AS DOUBLE) AS zscore
FROM m CROSS JOIN s
WHERE abs((CAST(cents AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
          / sqrt(CAST(s2 AS DOUBLE) / n
                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))) > 1.5
"""


@register(
    "ts_revenue_anomaly_months",
    _REV_ANOM_ORACLE,
    doc="Monthly revenue anomaly screen: months whose exact-cents "
    "revenue sits more than 1.5 population-sigma from the mean. "
    "Moments are exact (BIGINT linear sum, DECIMAL(38,0) square sum — "
    "cents² overflows int64 at warehouse scale), the z-score is one "
    "closed-form expression over identical operands on both engines, "
    "fixed-point quantized; the 1-row moment aggregate broadcasts "
    "into the month-cardinality scan. The pattern generalizes to any "
    "per-key anomaly screen where approximate sigma is not "
    "acceptable evidence.",
)
def ts_revenue_anomaly_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = (
        t(spark, sf_dir, "orders")
        .groupBy(F.trunc("o_orderdate", "month").alias("month"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents")
        )
    )
    s = m.agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("s1"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias(
            "s2"
        ),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = F.col("s2").cast("double") / F.col("n") - mean * mean
    z = (F.col("cents").cast("double") - mean) / F.sqrt(var)
    return (
        m.crossJoin(s)
        .filter(F.abs(z) > 1.5)
        .select(
            "month",
            "cents",
            (F.floor(z * 1e9 + F.lit(0.5)) / 1e9)
            .cast("double")
            .alias("zscore"),
        )
    )


# ---------------------------------------------------------------------------
# Error-rate spike detection vs a trailing window baseline
# ---------------------------------------------------------------------------

_SPIKE_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_errors
    FROM events GROUP BY CAST(ts AS DATE)
),
w AS (
    SELECT day, n_events, n_errors,
           CAST(SUM(n_errors) OVER (
               ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING
           ) AS BIGINT) AS base_errors,
           CAST(SUM(n_events) OVER (
               ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING
           ) AS BIGINT) AS base_events
    FROM daily
)
SELECT day, n_events, n_errors, base_errors, base_events
FROM w
WHERE base_events IS NOT NULL AND base_events > 0
  AND n_errors >= 5
  AND CAST(n_errors AS BIGINT) * base_events
      > 2 * CAST(base_errors AS BIGINT) * n_events
"""


@register(
    "event_error_spike",
    _SPIKE_ORACLE,
    doc="Error-burst detection: days whose error RATE more than doubles "
    "the trailing 7-day baseline (with a minimum-count floor so quiet "
    "days can't alert on noise) — the ops monitor every event "
    "warehouse feeds. The spike predicate is cross-multiplied "
    "(n_err·base_ev > 2·base_err·n_ev) so the comparison is exact "
    "integer arithmetic with NO division anywhere; the trailing "
    "window carries two integer sums over day-cardinality data.",
)
def event_error_spike(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.when(F.col("event_type") == "error", 1).otherwise(0)
            ).alias("n_errors"),
        )
    )
    w = W.orderBy("day").rowsBetween(-7, -1)
    wd = daily.withColumn("base_errors", F.sum("n_errors").over(w)).withColumn(
        "base_events", F.sum("n_events").over(w)
    )
    return wd.filter(
        F.col("base_events").isNotNull()
        & (F.col("base_events") > 0)
        & (F.col("n_errors") >= 5)
        & (
            F.col("n_errors").cast("bigint") * F.col("base_events")
            > 2 * F.col("base_errors").cast("bigint") * F.col("n_events")
        )
    ).select("day", "n_events", "n_errors", "base_errors", "base_events")


# ---------------------------------------------------------------------------
# CUSUM drift: maximum cumulative excursion of daily revenue
# ---------------------------------------------------------------------------

_CUSUM_ORACLE = """
WITH daily AS (
    SELECT o_orderdate AS day,
           SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
    FROM orders GROUP BY o_orderdate
),
tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total, COUNT(*) AS d FROM daily),
c AS (
    SELECT day,
           CAST(SUM(CAST(cents AS BIGINT) * d - total) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cusum
    FROM daily CROSS JOIN tot
)
SELECT day, cusum
FROM c ORDER BY abs(cusum) DESC, day LIMIT 1
"""


@register(
    "ts_cusum_drift",
    _CUSUM_ORACLE,
    doc="CUSUM drift detection: the day of maximum cumulative "
    "deviation from the period-mean revenue — the classic "
    "change-point locator (the excursion peak marks where the level "
    "shifted). Computed scale-free in EXACT integers by "
    "cross-multiplying the mean away (sum of cents·D - total per "
    "day), so the running sum is a BIGINT with no float anywhere; "
    "tie-broken top-1. Day-cardinality window, 1-row totals "
    "broadcast.",
)
def ts_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents")
        )
    )
    tot = daily.agg(
        F.sum("cents").alias("total"), F.count("*").alias("d")
    )
    w = W.orderBy("day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    c = daily.crossJoin(tot).withColumn(
        "cusum",
        F.sum(F.col("cents") * F.col("d") - F.col("total")).over(w),
    )
    return (
        c.select("day", "cusum")
        .orderBy(F.abs(F.col("cusum")).desc(), "day")
        .limit(1)
    )


# ---------------------------------------------------------------------------
# Lag-1 autocorrelation — time-series dependence, fixed-point exact
# ---------------------------------------------------------------------------

#: fixed-point quantizer: terms DIVIDE by 1e6 before flooring — the
#: day count is calendar-bounded (~2400) while deviation products grow
#: with SF^2, so quantizing DOWN keeps every per-row value and both
#: sums inside int64 at ANY scale (1000x up-scaling overflowed at
#: sf0.1 — caught loudly by ANSI mode); the ~1e6 absolute quantization
#: error is ~1e-8 relative on sf0.1 terms and identical on both
#: engines, so the ratio stays bit-deterministic.
_ACF_DOWNSCALE = 1_000_000


def _acf_oracle() -> str:
    return f"""
WITH daily AS ({DAILY_REVENUE_SQL}),
mu AS (
    SELECT CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS mu,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM daily
),
paired AS (
    SELECT d.x, mu.mu, mu.n_days,
           lead(d.x) OVER (ORDER BY d.day) AS x_next
    FROM daily d, mu
),
terms AS (
    SELECT n_days,
           CAST(floor((x - mu) * (x_next - mu) / {_ACF_DOWNSCALE})
                AS BIGINT) AS num_q,
           CAST(floor((x - mu) * (x - mu) / {_ACF_DOWNSCALE})
                AS BIGINT) AS den_q
    FROM paired
)
SELECT MAX(n_days) AS n_days,
       CAST(SUM(CASE WHEN num_q IS NOT NULL THEN num_q END) AS BIGINT)
           AS num_sum,
       CAST(SUM(den_q) AS BIGINT) AS den_sum,
       CAST(SUM(CASE WHEN num_q IS NOT NULL THEN num_q END) AS DOUBLE)
           / CAST(SUM(den_q) AS DOUBLE) AS acf_lag1
FROM terms
"""


@register(
    "ts_acf_lag1",
    _acf_oracle(),
    doc="Lag-1 autocorrelation of the daily revenue series — the "
    "time-series dependence statistic beside CUSUM/seasonality: "
    "daily sums are exact decimal aggregates, the series mean is one "
    "decimal sum + one division, and each (x_t - mu)(x_t+1 - mu) "
    "product quantizes to fixed point BEFORE summation (the "
    "elementwise-means discipline — double product sums are "
    "summation-order-dependent, floor(term*1000) BIGINT sums are "
    "not), so the statistic is bit-identical on any partitioning. "
    "The lead() pairing is one day-ordered window over the "
    "day-cardinality frame; everything after the daily aggregate is "
    "model-sized regardless of corpus scale.",
)
def ts_acf_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue(spark, sf_dir)
    mu = daily.agg(
        (
            F.sum(F.col("x").cast("decimal(28,6)")).cast("double")
            / F.count("*").cast("double")
        ).alias("mu"),
        F.count("*").cast("bigint").alias("n_days"),
    )
    paired = daily.crossJoin(mu).select(
        "x",
        "mu",
        "n_days",
        F.lead("x").over(W.orderBy("day")).alias("x_next"),
    )
    num_q = F.floor(
        (F.col("x") - F.col("mu"))
        * (F.col("x_next") - F.col("mu"))
        / _ACF_DOWNSCALE
    ).cast("bigint")
    den_q = F.floor(
        (F.col("x") - F.col("mu"))
        * (F.col("x") - F.col("mu"))
        / _ACF_DOWNSCALE
    ).cast("bigint")
    terms = paired.select(
        "n_days", num_q.alias("num_q"), den_q.alias("den_q")
    )
    return terms.agg(
        F.max("n_days").alias("n_days"),
        F.sum("num_q").cast("bigint").alias("num_sum"),
        F.sum("den_q").cast("bigint").alias("den_sum"),
        (
            F.sum("num_q").cast("double") / F.sum("den_q").cast("double")
        ).alias("acf_lag1"),
    )


# ---------------------------------------------------------------------------
# ts_ohlc_bars — open/high/low/close candle aggregation
# ---------------------------------------------------------------------------

_OHLC_ORACLE = f"""
SELECT event_type, CAST(ts AS DATE) AS day,
       (min(struct_pack(ts := ts, eid := event_id, v := value))).v AS open,
       max(value) AS high,
       min(value) AS low,
       (max(struct_pack(ts := ts, eid := event_id, v := value))).v AS close,
       CAST(COUNT(*) AS BIGINT) AS n_trades,
       {dsum_sql('value', 6)} AS vol
FROM events
GROUP BY event_type, CAST(ts AS DATE)
"""


@register(
    "ts_ohlc_bars",
    _OHLC_ORACLE,
    doc="OHLC candle bars: per (event_type, day), the first/max/min/"
    "last event value plus count and decimal-exact volume — the "
    "market-data resampling primitive beside ts_resample_daily. "
    "Open/close use MIN/MAX over a (ts, event_id, value) struct — "
    "lexicographic struct ordering IS the tie-broken argmin/argmax "
    "(event_id is unique, so the value field never decides), one "
    "hash aggregate with full map-side combine, NO window pass and "
    "NO per-group sort: at 100 TB this is a single linear shuffle "
    "on the bar key, the plan a first/last window formulation would "
    "not give.",
)
def ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", "value"
    )
    s = F.struct(
        F.col("ts").alias("ts"),
        F.col("event_id").alias("eid"),
        F.col("value").alias("v"),
    )
    return ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.min(s).getField("v").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(s).getField("v").alias("close"),
        F.count("*").cast("bigint").alias("n_trades"),
        dsum("value", 6).alias("vol"),
    )


# ---------------------------------------------------------------------------
# event_window_funnel — time-window-constrained funnel depth
# ---------------------------------------------------------------------------

_WF_WINDOW = "1 HOUR"


_WF_ORACLE = f"""
WITH v AS (
    SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'
),
c AS (
    SELECT v.user_id, v.event_id, v.ts,
           MIN(e.ts) AS click_ts
    FROM v LEFT JOIN events e
      ON e.user_id = v.user_id AND e.event_type = 'click'
     AND e.ts > v.ts AND e.ts <= v.ts + INTERVAL {_WF_WINDOW}
    GROUP BY v.user_id, v.event_id, v.ts
),
p AS (
    SELECT c.user_id, c.event_id, c.click_ts,
           MIN(e.ts) AS buy_ts
    FROM c LEFT JOIN events e
      ON e.user_id = c.user_id AND e.event_type = 'purchase'
     AND c.click_ts IS NOT NULL
     AND e.ts > c.click_ts AND e.ts <= c.click_ts + INTERVAL {_WF_WINDOW}
    GROUP BY c.user_id, c.event_id, c.click_ts
),
depth AS (
    SELECT user_id,
           MAX(CASE WHEN buy_ts IS NOT NULL THEN 3
                    WHEN click_ts IS NOT NULL THEN 2
                    ELSE 1 END) AS depth
    FROM p GROUP BY user_id
)
SELECT CAST(depth AS INT) AS depth,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM depth GROUP BY depth
"""


@register(
    "event_window_funnel",
    _WF_ORACLE,
    doc="Time-window-constrained funnel depth (the ClickHouse "
    "windowFunnel analog): view -> click within 1h -> purchase within "
    "1h of the click, reported as a per-user max-depth histogram. "
    "Unlike funnel_conversion's unbounded 'first event after' chain, "
    "every hop here must land inside the sliding window, which is "
    "what product funnels actually measure (a purchase a week later "
    "is not this funnel). Each hop is an equi-join on user_id with a "
    "range predicate + a MIN aggregate — fan-out is bounded by "
    "events-per-user-per-hour, and everything shuffles on the same "
    "user_id key so the two hops and the depth rollup share one "
    "partitioning. MIN over timestamps is exact (µs integers) — no "
    "float anywhere.",
)
def event_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "ts")
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", "event_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    c = (
        v.join(
            clicks,
            (F.col("c_user") == F.col("user_id"))
            & (F.col("c_ts") > F.col("ts"))
            & (F.col("c_ts") <= F.expr(f"ts + INTERVAL {_WF_WINDOW}")),
            "left",
        )
        .groupBy("user_id", "event_id", "ts")
        .agg(F.min("c_ts").alias("click_ts"))
    )
    p = (
        c.join(
            buys,
            (F.col("p_user") == F.col("user_id"))
            & F.col("click_ts").isNotNull()
            & (F.col("p_ts") > F.col("click_ts"))
            & (
                F.col("p_ts")
                <= F.expr(f"click_ts + INTERVAL {_WF_WINDOW}")
            ),
            "left",
        )
        .groupBy("user_id", "event_id", "click_ts")
        .agg(F.min("p_ts").alias("buy_ts"))
    )
    depth = p.groupBy("user_id").agg(
        F.max(
            F.when(F.col("buy_ts").isNotNull(), 3)
            .when(F.col("click_ts").isNotNull(), 2)
            .otherwise(1)
        ).alias("depth")
    )
    return depth.groupBy(F.col("depth").cast("int").alias("depth")).agg(
        F.count("*").cast("bigint").alias("n_users")
    )


# ---------------------------------------------------------------------------
# ts_interpolate_linear — gap-filling by linear interpolation
# ---------------------------------------------------------------------------

_INTERP_ORACLE = f"""
WITH daily AS ({PRIORITY_DAILY_REVENUE_SQL}),
bounds AS (
    SELECT o_orderpriority, MIN(day) AS d0, MAX(day) AS d1
    FROM daily GROUP BY o_orderpriority
),
spine AS (
    SELECT b.o_orderpriority,
           unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY))::DATE AS day
    FROM bounds b
),
joined AS (
    SELECT s.o_orderpriority, s.day, d.v FROM spine s
    LEFT JOIN daily d
      ON d.o_orderpriority = s.o_orderpriority AND d.day = s.day
),
bracketed AS (
    SELECT o_orderpriority, day, v,
           last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
               OVER w_prev AS prev_day,
           last_value(v IGNORE NULLS) OVER w_prev AS prev_v,
           first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
               OVER w_next AS next_day,
           first_value(v IGNORE NULLS) OVER w_next AS next_v
    FROM joined
    WINDOW w_prev AS (
        PARTITION BY o_orderpriority ORDER BY day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ),
    w_next AS (
        PARTITION BY o_orderpriority ORDER BY day
        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
    )
)
SELECT o_orderpriority, day,
       CAST(CASE WHEN v IS NOT NULL THEN 0 ELSE 1 END AS INT) AS filled,
       {fpq_sql(
           "CASE WHEN v IS NOT NULL THEN v"
           " ELSE prev_v + (next_v - prev_v)"
           " * (CAST(day - prev_day AS DOUBLE)"
           "    / CAST(next_day - prev_day AS DOUBLE)) END", 4
       )} AS v_interp
FROM bracketed
"""


@register(
    "ts_interpolate_linear",
    _INTERP_ORACLE,
    doc="Gap-filling by LINEAR interpolation over the per-priority "
    "date spine — the upgrade over win_fill_forward's LOCF when the "
    "series is a level, not an event count (a 3-day gap fills with "
    "the trend line, not a plateau). Spine rows missing a value take "
    "prev + (next - prev) * elapsed/gap_span from the bracketing "
    "observations (last_value/first_value IGNORE NULLS over "
    "mirror-image frames); day arithmetic is exact integer date "
    "subtraction, the one division is an identical double shape "
    "quantized at 1e-4, and edge rows (first/last days are always "
    "observed per bounds construction) need no extrapolation branch. "
    "Scale: the spine is O(days x priorities) — built by generator, "
    "joined once against the pre-aggregated daily frame.",
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = priority_daily_revenue(spark, sf_dir)
    bounds = daily.groupBy("o_orderpriority").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = bounds.select(
        "o_orderpriority",
        F.explode(
            F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    joined = spine.join(daily, ["o_orderpriority", "day"], "left")
    w_prev = (
        W.partitionBy("o_orderpriority")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    w_next = (
        W.partitionBy("o_orderpriority")
        .orderBy("day")
        .rowsBetween(0, W.unboundedFollowing)
    )
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    b = joined.select(
        "o_orderpriority",
        "day",
        "v",
        F.last(obs_day, ignorenulls=True).over(w_prev).alias("prev_day"),
        F.last("v", ignorenulls=True).over(w_prev).alias("prev_v"),
        F.first(obs_day, ignorenulls=True).over(w_next).alias("next_day"),
        F.first("v", ignorenulls=True).over(w_next).alias("next_v"),
    )
    interp = F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * (
        F.datediff(F.col("day"), F.col("prev_day")).cast("double")
        / F.datediff(F.col("next_day"), F.col("prev_day")).cast("double")
    )
    return b.select(
        "o_orderpriority",
        "day",
        F.when(F.col("v").isNotNull(), 0)
        .otherwise(1)
        .cast("int")
        .alias("filled"),
        fpq(
            F.when(F.col("v").isNotNull(), F.col("v")).otherwise(interp), 4
        ).alias("v_interp"),
    )


# ---------------------------------------------------------------------------
# ts_forecast_snaive_error — seasonal-naive backtest error profile
# ---------------------------------------------------------------------------

_SNAIVE_LAG = 7


_SNAIVE_FP = 1_000_000


_SNAIVE_ORACLE = f"""
WITH daily AS ({PRIORITY_DAILY_REVENUE_SQL}),
f AS (
    SELECT cur.o_orderpriority, cur.day, cur.v, prev.v AS yhat
    FROM daily cur
    JOIN daily prev
      ON prev.o_orderpriority = cur.o_orderpriority
     AND prev.day = cur.day - {_SNAIVE_LAG}
),
e AS (
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           {dsum_sql('abs(v - yhat)', 4)} AS sum_abs_err,
           {dsum_sql('v', 4)} AS sum_actual
    FROM f GROUP BY o_orderpriority
)
SELECT o_orderpriority, n_points,
       {fpq_sql('sum_abs_err', 4)} AS sum_abs_err,
       CAST(CASE WHEN sum_actual <= 0.0 THEN 0
            ELSE CAST(floor(sum_abs_err * {_SNAIVE_FP} / sum_actual)
                 AS BIGINT) END AS BIGINT) AS wape_fp
FROM e
"""


@register(
    "ts_forecast_snaive_error",
    _SNAIVE_ORACLE,
    doc="Seasonal-naive forecast backtest: yhat(t) = v(t-7) (the "
    "same-weekday-last-week baseline every demand forecast must "
    "beat), scored as WAPE = sum|err|/sum(actual) per priority — the "
    "error yardstick that tells a team whether their model earns its "
    "complexity. The join is an exact calendar self-join on (key, "
    "day-7) over the pre-aggregated daily frame (the ts_autocorr "
    "shape); error sums are decimal-exact; WAPE is floor fixed-point "
    "with the degenerate zero-actual case pinned to 0. Days with no "
    "week-ago observation drop out of the backtest on both engines "
    "identically (inner join).",
)
def ts_forecast_snaive_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = priority_daily_revenue(spark, sf_dir)
    cur, prev = daily.alias("cur"), daily.alias("prev")
    f = cur.join(
        prev,
        (F.col("prev.o_orderpriority") == F.col("cur.o_orderpriority"))
        & (
            F.col("prev.day")
            == F.date_sub(F.col("cur.day"), _SNAIVE_LAG)
        ),
    ).select(
        F.col("cur.o_orderpriority").alias("o_orderpriority"),
        F.col("cur.v").alias("v"),
        F.col("prev.v").alias("yhat"),
    )
    e = f.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_points"),
        dsum(F.abs(F.col("v") - F.col("yhat")), 4).alias("sum_abs_err"),
        dsum("v", 4).alias("sum_actual"),
    )
    wape = F.when(F.col("sum_actual") <= 0.0, F.lit(0)).otherwise(
        F.floor(
            F.col("sum_abs_err") * F.lit(float(_SNAIVE_FP))
            / F.col("sum_actual")
        ).cast("bigint")
    )
    return e.select(
        "o_orderpriority",
        "n_points",
        fpq(F.col("sum_abs_err"), 4).alias("sum_abs_err"),
        wape.cast("bigint").alias("wape_fp"),
    )


# ---------------------------------------------------------------------------
# event_inter_arrival_cv — burstiness profile of the event stream
# ---------------------------------------------------------------------------

_IACV_ORACLE = f"""
WITH g AS (
    SELECT event_type,
           CAST(epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
           )) AS BIGINT) AS gap_us
    FROM events
),
s AS (
    SELECT event_type,
           CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
           {dsum_sql('gap_us', 0)} AS s1,
           {dsum_sql('CAST(gap_us AS DOUBLE) * CAST(gap_us AS DOUBLE)', 0)}
               AS s2
    FROM g GROUP BY event_type
)
SELECT event_type, n_gaps,
       {fpq_sql('s1 / CAST(n_gaps AS DOUBLE) / 1e6', 6)} AS mean_gap_s,
       {fpq_sql(
           "sqrt(greatest(s2 / CAST(n_gaps AS DOUBLE)"
           " - (s1 / CAST(n_gaps AS DOUBLE))"
           " * (s1 / CAST(n_gaps AS DOUBLE)), 0.0))"
           " / (s1 / CAST(n_gaps AS DOUBLE))", 6
       )} AS cv
FROM s
"""


@register(
    "event_inter_arrival_cv",
    _IACV_ORACLE,
    doc="Burstiness profile: coefficient of variation of inter-arrival "
    "times per event type (cv ~ 1 is Poisson-like, cv >> 1 is bursty, "
    "cv << 1 is metronomic) — the traffic-shape diagnostic that "
    "decides whether event_error_spike-style anomaly thresholds can "
    "assume Poisson noise. Gaps are exact integer microseconds from "
    "the lag over the full (ts, event_id) tie-break; moments are "
    "decimal-exact sums (gap^2 at µs scale needs the wide decimal — "
    "(1e10 us)^2 overflows int64); the epsilon-negative variance "
    "guard mirrors win_bollinger. One window pass + one hash "
    "aggregate, both keyed on event_type.",
)
def event_inter_arrival_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    g = t(spark, sf_dir, "events").select(
        "event_type",
        (
            F.unix_micros(F.col("ts"))
            - F.unix_micros(F.lag("ts").over(w))
        )
        .cast("bigint")
        .alias("gap_us"),
    )
    s = g.groupBy("event_type").agg(
        F.count("gap_us").cast("bigint").alias("n_gaps"),
        dsum("gap_us", 0).alias("s1"),
        dsum(
            F.col("gap_us").cast("double") * F.col("gap_us").cast("double"),
            0,
        ).alias("s2"),
    )
    n_d = F.col("n_gaps").cast("double")
    mean = F.col("s1") / n_d
    var = F.greatest(
        F.col("s2") / n_d - mean * mean, F.lit(0.0)
    )
    return s.select(
        "event_type",
        "n_gaps",
        fpq(mean / F.lit(1e6), 6).alias("mean_gap_s"),
        fpq(F.sqrt(var) / mean, 6).alias("cv"),
    )


# ---------------------------------------------------------------------------
# event_entropy_rate — conditional next-event entropy per from-state
# ---------------------------------------------------------------------------

_ER_FP = 1_000_000_000_000


def _entropy_rate_oracle() -> str:
    return f"""
WITH seq AS (
    SELECT user_id, event_type AS cur,
           lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS nxt
    FROM events
),
trans AS (
    SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS k
    FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
),
tot AS (SELECT cur, CAST(SUM(k) AS BIGINT) AS n FROM trans GROUP BY cur),
terms AS (
    SELECT t.cur,
           CAST(floor(-(CAST(t.k AS DOUBLE) / o.n)
                      * log2(CAST(t.k AS DOUBLE) / o.n)
                      * {_ER_FP}) AS BIGINT) AS term_fp
    FROM trans t JOIN tot o ON o.cur = t.cur
)
SELECT s.cur AS from_type, o.n AS n_transitions,
       CAST(CAST(SUM(s.term_fp) AS DOUBLE) / {_ER_FP} AS DOUBLE)
           AS entropy_bits
FROM terms s JOIN tot o ON o.cur = s.cur
GROUP BY s.cur, o.n
"""


@register(
    "event_entropy_rate",
    _entropy_rate_oracle(),
    doc="Conditional next-event entropy per from-state — how "
    "predictable is what a user does NEXT given what they just did "
    "(the entropy-rate view of event_transition_matrix: ~log2(5) "
    "bits means the process is memoryless noise, near 0 means "
    "deterministic flows worth productizing). Each -p*log2(p) term "
    "is fixed-point quantized BEFORE the sum — the agg_entropy rule "
    "— so the float log's ulps can't make the aggregation "
    "order-dependent; transitions come from one lead() window over "
    "the full (ts, event_id) tie-break. Output is per from-state "
    "with its transition count; O(types^2) intermediate only.",
)
def event_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t(spark, sf_dir, "events").select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    trans = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count("*").cast("bigint").alias("k"))
    )
    tot = trans.groupBy("cur").agg(F.sum("k").cast("bigint").alias("n"))
    p = F.col("k").cast("double") / F.col("n").cast("double")
    terms = trans.join(tot, "cur").select(
        "cur",
        F.floor(-p * F.log2(p) * F.lit(float(_ER_FP)))
        .cast("bigint")
        .alias("term_fp"),
    )
    return (
        terms.groupBy("cur")
        .agg(F.sum("term_fp").alias("sum_fp"))
        .join(tot, "cur")
        .select(
            F.col("cur").alias("from_type"),
            F.col("n").alias("n_transitions"),
            (F.col("sum_fp").cast("double") / F.lit(float(_ER_FP)))
            .cast("double")
            .alias("entropy_bits"),
        )
    )


# ---------------------------------------------------------------------------
# ts_peak_detection — local maxima with a prominence fence
# ---------------------------------------------------------------------------

# A day is a reported peak when it exceeds BOTH neighbors and clears
# the trailing 7-day minimum by the fixed-point prominence fence
# (peak/base >= 1.25, integer cross-multiplied: 4*peak >= 5*base).
_PEAK_NUM, _PEAK_DEN = 5, 4


_PEAK_ORACLE = f"""
WITH daily AS ({PRIORITY_DAILY_REVENUE_SQL}),
w AS (
    SELECT o_orderpriority, day, v,
           lag(v) OVER win AS prev_v,
           lead(v) OVER win AS next_v,
           MIN(v) OVER (
               PARTITION BY o_orderpriority ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING
           ) AS base
    FROM daily
    WINDOW win AS (PARTITION BY o_orderpriority ORDER BY day)
)
SELECT o_orderpriority, day,
       {fpq_sql('v', 4)} AS v,
       {fpq_sql('base', 4)} AS base
FROM w
WHERE prev_v IS NOT NULL AND next_v IS NOT NULL AND base IS NOT NULL
  AND v > prev_v AND v > next_v
  AND {_PEAK_DEN} * v >= {_PEAK_NUM} * base
"""


@register(
    "ts_peak_detection",
    _PEAK_ORACLE,
    doc="Local-maximum peak detection with a prominence fence: a day "
    "is a peak when it beats both neighbors AND clears the trailing "
    "7-day minimum by >= 25% (integer cross-multiplication 4v >= "
    "5*base — a float ratio at the fence would be engine-dependent "
    "for borderline days) — the spike-mining primitive between "
    "event_error_spike's z-score and win_drawdown_max's trough view. "
    "Edge days without both neighbors or a full base window are "
    "excluded identically on both engines (NULL predicates). One "
    "window pass over the pre-aggregated daily frame; the lag/lead/"
    "rolling-min trio shares a single sort.",
)
def ts_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = priority_daily_revenue(spark, sf_dir)
    win = W.partitionBy("o_orderpriority").orderBy("day")
    base_w = win.rowsBetween(-7, -1)
    w = daily.select(
        "o_orderpriority",
        "day",
        "v",
        F.lag("v").over(win).alias("prev_v"),
        F.lead("v").over(win).alias("next_v"),
        F.min("v").over(base_w).alias("base"),
    )
    return w.filter(
        F.col("prev_v").isNotNull()
        & F.col("next_v").isNotNull()
        & F.col("base").isNotNull()
        & (F.col("v") > F.col("prev_v"))
        & (F.col("v") > F.col("next_v"))
        & (
            F.lit(_PEAK_DEN) * F.col("v")
            >= F.lit(_PEAK_NUM) * F.col("base")
        )
    ).select(
        "o_orderpriority",
        "day",
        fpq(F.col("v"), 4).alias("v"),
        fpq(F.col("base"), 4).alias("base"),
    )


# ---------------------------------------------------------------------------
# event_markov_stationary — stationary distribution of the type chain
# ---------------------------------------------------------------------------

_MKV_T = 12  # pinned power iterations


_MKV_FP = 10**12  # probability fixed-point scale


def _markov_oracle() -> str:
    steps = []
    prev = "p0"
    for i in range(1, _MKV_T + 1):
        steps.append(
            f"""p{i} AS MATERIALIZED (
    SELECT e.dst AS state,
           CAST(SUM((CAST(p.p AS HUGEINT) * e.n) // e.rn) AS BIGINT)
               AS p
    FROM {prev} p JOIN e ON e.src = p.state
    GROUP BY e.dst
)"""
        )
        prev = f"p{i}"
    chain = ",\n".join(steps)
    return f"""
WITH tr AS MATERIALIZED (
    SELECT event_type AS src,
           lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS dst
    FROM events
),
e0 AS (
    SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
    FROM tr WHERE dst IS NOT NULL GROUP BY src, dst
),
e AS MATERIALIZED (
    SELECT src, dst, n,
           CAST(SUM(n) OVER (PARTITION BY src) AS BIGINT) AS rn
    FROM e0
),
k0 AS (SELECT CAST(COUNT(DISTINCT src) AS BIGINT) AS nk FROM e),
p0 AS (
    SELECT src AS state, CAST({_MKV_FP} // nk AS BIGINT) AS p
    FROM (SELECT DISTINCT src FROM e), k0
),
{chain}
SELECT state AS event_type, p AS stationary_fp
FROM {prev}
"""


@register(
    "event_markov_stationary",
    _markov_oracle(),
    doc="Stationary distribution of the user-journey Markov chain: "
    "consecutive event types per user (lead over ts, event_id) form "
    "the transition counts; 12 pinned power-iteration steps propagate "
    "a uniform start through P — where user sessions spend their "
    "long-run time, the navigation-equilibrium diagnostic (PageRank's "
    "cousin on the behavioral graph; same discipline as "
    "graph_pagerank/corpus_doremi_weights: pinned iterations, exact "
    "integer fixed-point, per-edge floor division identical on both "
    "engines — mass leaks identically, so the result is "
    "bit-reproducible). Scale: transitions are one window pass over "
    "user-partitioned events; the iteration joins a K-row rank vector "
    "(K = event types) against a K^2-row edge list, eagerly "
    "localCheckpointed per step — constant lineage, dimension-sized "
    "state no matter the corpus.",
)
def event_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tr = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    e0 = tr.groupBy("src", "dst").agg(
        F.count("*").cast("bigint").alias("n")
    )
    e = (
        e0.withColumn(
            "rn", F.sum("n").over(W.partitionBy("src")).cast("bigint")
        )
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    k0 = e.select("src").distinct().agg(
        F.count("*").cast("bigint").alias("nk")
    )
    p = (
        e.select("src").distinct()
        .crossJoin(k0)
        .select(
            F.col("src").alias("state"),
            F.expr(f"CAST({_MKV_FP} DIV nk AS BIGINT)").alias("p"),
        )
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    for _ in range(_MKV_T):
        p = (
            p.join(e, p.state == e.src)
            .groupBy(F.col("dst").alias("state"))
            .agg(
                F.sum(
                    F.expr(
                        "CAST(CAST(p AS DECIMAL(38,0)) * n DIV rn"
                        " AS BIGINT)"
                    )
                )
                .cast("bigint")
                .alias("p")
            )
            .coalesce(1)
            .localCheckpoint(eager=True)
        )
    return p.select(
        F.col("state").alias("event_type"),
        F.col("p").alias("stationary_fp"),
    )


# ---------------------------------------------------------------------------
# event_attribution_ushape — U-shaped multi-touch conversion attribution
# ---------------------------------------------------------------------------

_ATTR_FP = 1_000_000  # one conversion distributes exactly ~1e6 credit


def _attr_oracle() -> str:
    return f"""
WITH j AS (
    SELECT user_id, event_type, ts, event_id,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS conv_id
    FROM events
),
touches AS (
    SELECT user_id, conv_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id, conv_id
                              ORDER BY ts, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY user_id, conv_id) AS n
    FROM j
    WHERE conv_id >= 1 AND event_type <> 'purchase'
),
credited AS (
    SELECT event_type,
           CASE WHEN n = 1 THEN {_ATTR_FP}
                WHEN n = 2 THEN {_ATTR_FP // 2}
                WHEN rn = 1 OR rn = n THEN {2 * _ATTR_FP // 5}
                ELSE {_ATTR_FP // 5} // (n - 2)
           END AS credit
    FROM touches
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(credit) AS BIGINT) AS credit_fp
FROM credited GROUP BY event_type
"""


def _journeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events with ``conv_id``, the count of the user's purchases at or
    after each event: every purchase closes the journey of the touches
    before it, so each touch belongs to exactly one conversion."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w_after = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    return ev.withColumn(
        "conv_id",
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).over(w_after),
    )


@register(
    "event_attribution_ushape",
    _attr_oracle(),
    doc="U-shaped (position-based) multi-touch attribution: every "
    "purchase closes a journey of the user's preceding non-purchase "
    "touches (journey id = count of purchases at-or-after each event, "
    "so each touch belongs to exactly one conversion); credit splits "
    "40/20/40 — first and last touch 400k fixed-point each, middles "
    "share 200k by integer floor division (1-touch journeys take the "
    "full 1e6, 2-touch journeys 500k each). The marketing-analytics "
    "standard between last-touch (all credit to the final click) and "
    "Markov removal effects (event_markov_stationary's territory). "
    "All-integer credit, full (ts, event_id) tie-breaks — bit-exact "
    "on both engines; floor remainders leak identically. Scale: two "
    "window passes over user-partitioned events + one hash aggregate "
    "— the win_session_gap shape, one user-keyed shuffle.",
)
def event_attribution_ushape(spark: SparkSession, sf_dir: str) -> DataFrame:
    j = _journeys(spark, sf_dir)
    wt = W.partitionBy("user_id", "conv_id").orderBy("ts", "event_id")
    touches = (
        j.filter(
            (F.col("conv_id") >= 1)
            & (F.col("event_type") != "purchase")
        )
        .withColumn("rn", F.row_number().over(wt))
        .withColumn(
            "n", F.count("*").over(W.partitionBy("user_id", "conv_id"))
        )
    )
    credit = (
        F.when(F.col("n") == 1, F.lit(_ATTR_FP))
        .when(F.col("n") == 2, F.lit(_ATTR_FP // 2))
        .when(
            (F.col("rn") == 1) | (F.col("rn") == F.col("n")),
            F.lit(2 * _ATTR_FP // 5),
        )
        .otherwise(
            F.expr(f"{_ATTR_FP // 5} DIV (n - 2)")
        )
    )
    return (
        touches.select("event_type", credit.alias("credit"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_touches"),
            F.sum("credit").cast("bigint").alias("credit_fp"),
        )
    )


# ---------------------------------------------------------------------------
# event_attribution_timedecay — exponential half-life attribution
# ---------------------------------------------------------------------------

_DECAY_HALF_LIFE_H = 168  # one-week half-life, the industry default


_DECAY_MAX_SHIFT = 30  # cap: beyond 30 half-lives the weight is 0-ish


def _attr_decay_oracle() -> str:
    return f"""
WITH j AS (
    SELECT user_id, event_type, ts, event_id,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS conv_id
    FROM events
),
conv_ts AS (
    SELECT user_id, conv_id, ts AS cts FROM j
    WHERE event_type = 'purchase'
),
touches AS (
    SELECT t.user_id, t.conv_id, t.event_type,
           ({_ATTR_FP} >> CAST(LEAST(
               (epoch_us(c.cts) - epoch_us(t.ts))
                   // (3600000000 * {_DECAY_HALF_LIFE_H}),
               {_DECAY_MAX_SHIFT}) AS INT)) AS w
    FROM j t JOIN conv_ts c
      ON c.user_id = t.user_id AND c.conv_id = t.conv_id
    WHERE t.conv_id >= 1 AND t.event_type <> 'purchase'
),
norm AS (
    SELECT user_id, conv_id, CAST(SUM(w) AS BIGINT) AS tw
    FROM touches GROUP BY user_id, conv_id
),
credited AS (
    SELECT t.event_type,
           CAST((CAST(t.w AS HUGEINT) * {_ATTR_FP}) // n.tw AS BIGINT)
               AS credit
    FROM touches t
    JOIN norm n ON n.user_id = t.user_id AND n.conv_id = t.conv_id
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(credit) AS BIGINT) AS credit_fp
FROM credited GROUP BY event_type
"""


@register(
    "event_attribution_timedecay",
    _attr_decay_oracle(),
    doc="Time-decay multi-touch attribution (one-week half-life): each "
    "touch in a conversion journey weighs 2^-floor(age/half_life) — "
    "the weight is an exact DYADIC integer (fixed-point right-shift, "
    "shift capped at 30), so unlike exp(-t/tau) there is no "
    "transcendental in the weighting at all; per-journey credits "
    "normalize to ~1e6 by exact integer floor division (HUGEINT/"
    "DECIMAL widening). The recency-weighted complement to "
    "event_attribution_ushape's positional split — same journey "
    "construction (purchases-at-or-after journey id), same two-window "
    "+ aggregate scale shape, one user-keyed shuffle.",
)
def event_attribution_timedecay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    j = _journeys(spark, sf_dir)
    conv_ts = j.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("cu"),
        F.col("conv_id").alias("cc"),
        F.col("ts").alias("cts"),
    )
    shift = F.expr(
        f"CAST(LEAST((unix_micros(cts) - unix_micros(ts))"
        f" DIV (3600000000 * {_DECAY_HALF_LIFE_H}),"
        f" {_DECAY_MAX_SHIFT}) AS INT)"
    )
    touches = (
        j.filter(
            (F.col("conv_id") >= 1)
            & (F.col("event_type") != "purchase")
        )
        .join(
            conv_ts,
            (F.col("user_id") == F.col("cu"))
            & (F.col("conv_id") == F.col("cc")),
        )
        .select(
            "user_id",
            "conv_id",
            "event_type",
            shift.alias("_shift"),
        )
        .select(
            "user_id",
            "conv_id",
            "event_type",
            F.expr(
                f"shiftright(CAST({_ATTR_FP} AS BIGINT), _shift)"
            ).alias("w"),
        )
    )
    norm = touches.groupBy("user_id", "conv_id").agg(
        F.sum("w").cast("bigint").alias("tw")
    )
    credited = touches.join(norm, ["user_id", "conv_id"]).select(
        "event_type",
        F.expr(
            f"CAST(CAST(w AS DECIMAL(38,0)) * {_ATTR_FP} DIV tw"
            " AS BIGINT)"
        ).alias("credit"),
    )
    return credited.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_touches"),
        F.sum("credit").cast("bigint").alias("credit_fp"),
    )


# ---------------------------------------------------------------------------
# ts_acf_multi_lag — the correlogram (ACF at lags 1, 2, 3, 7)
# ---------------------------------------------------------------------------

_ACF_LAGS = (1, 2, 3, 7)


# same downscale rationale as ts_acf_lag1: deviation
# products grow with SF^2 while day count is calendar-bounded, so
# quantizing DOWN keeps sums inside int64 at any scale
_ACFM_DOWNSCALE = 1_000_000


def _acf_multi_oracle() -> str:
    lag_rows = ", ".join(f"({L})" for L in _ACF_LAGS)
    return f"""
WITH daily AS ({DAILY_REVENUE_SQL}),
mu AS (
    SELECT CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS mu,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM daily
),
lags(lag) AS (VALUES {lag_rows}),
paired AS (
    SELECT l.lag, d.x, mu.mu, mu.n_days,
           lead(d.x, l.lag) OVER (PARTITION BY l.lag ORDER BY d.day)
               AS x_lead
    FROM daily d CROSS JOIN lags l, mu
),
terms AS (
    SELECT lag, n_days,
           CAST(floor((x - mu) * (x_lead - mu) / {_ACFM_DOWNSCALE})
                AS BIGINT) AS num_q,
           CAST(floor((x - mu) * (x - mu) / {_ACFM_DOWNSCALE})
                AS BIGINT) AS den_q
    FROM paired
)
SELECT CAST(lag AS INT) AS lag,
       MAX(n_days) AS n_days,
       CAST(COUNT(num_q) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN num_q IS NOT NULL THEN num_q END) AS BIGINT)
           AS num_sum,
       CAST(SUM(den_q) AS BIGINT) AS den_sum,
       CAST(SUM(CASE WHEN num_q IS NOT NULL THEN num_q END) AS DOUBLE)
           / CAST(SUM(den_q) AS DOUBLE) AS acf
FROM terms GROUP BY lag
"""


@register(
    "ts_acf_multi_lag",
    _acf_multi_oracle(),
    doc="The correlogram: autocorrelation of the daily revenue series "
    "at lags 1, 2, 3 and 7 in ONE pass — ts_acf_lag1 generalized to "
    "the lag set an analyst actually reads (lag-7 is the weekly-"
    "seasonality detector; the 1-2-3 decay profile separates AR-like "
    "persistence from noise). Identical determinism discipline as the "
    "lag-1 parent: exact decimal daily sums, one broadcast mean, "
    "deviation products floor-quantized to fixed point BEFORE "
    "summation, the classical common denominator sum((x-mu)^2) shared "
    "by every lag. The lag dimension is a 4-row VALUES/literal-array "
    "cross over the DAY-cardinality frame (calendar-bounded, never "
    "corpus-sized), so one window pass per lag partition computes all "
    "four leads.",
)
def ts_acf_multi_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue(spark, sf_dir)
    mu = daily.agg(
        (
            F.sum(F.col("x").cast("decimal(28,6)")).cast("double")
            / F.count("*").cast("double")
        ).alias("mu"),
        F.count("*").cast("bigint").alias("n_days"),
    )
    lagged = daily.select(
        "day",
        "x",
        F.explode(F.array(*[F.lit(L) for L in _ACF_LAGS])).alias("lag"),
    )
    paired = lagged.crossJoin(mu)
    # one ordered window per lag partition; lead distance is the lag
    # value — expressed via a join-free when() ladder over the pinned
    # lag literals (lead() needs a literal offset)
    w = W.partitionBy("lag").orderBy("day")
    x_lead = None
    for L in _ACF_LAGS:
        expr = F.lead("x", L).over(w)
        x_lead = (
            F.when(F.col("lag") == L, expr)
            if x_lead is None
            else x_lead.when(F.col("lag") == L, expr)
        )
    paired = paired.select(
        "lag", "x", "mu", "n_days", x_lead.alias("x_lead")
    )
    num_q = F.floor(
        (F.col("x") - F.col("mu"))
        * (F.col("x_lead") - F.col("mu"))
        / _ACFM_DOWNSCALE
    ).cast("bigint")
    den_q = F.floor(
        (F.col("x") - F.col("mu"))
        * (F.col("x") - F.col("mu"))
        / _ACFM_DOWNSCALE
    ).cast("bigint")
    terms = paired.select(
        F.col("lag").cast("int").alias("lag"),
        "n_days",
        num_q.alias("num_q"),
        den_q.alias("den_q"),
    )
    return terms.groupBy("lag").agg(
        F.max("n_days").alias("n_days"),
        F.count("num_q").cast("bigint").alias("n_pairs"),
        F.sum("num_q").cast("bigint").alias("num_sum"),
        F.sum("den_q").cast("bigint").alias("den_sum"),
        (
            F.sum("num_q").cast("double") / F.sum("den_q").cast("double")
        ).alias("acf"),
    )


# ---------------------------------------------------------------------------
# ts_seasonal_residual_anomaly — deseasonalized spike detection
# ---------------------------------------------------------------------------
_SRA_Z = 3  # |residual| > 3 sigma flags the day


def _seasonal_resid_oracle() -> str:
    return f"""
WITH daily AS (
    SELECT o_orderdate AS day,
           -- DuckDB dayofweek is 0-6 (Sunday=0); Spark's is 1-7
           -- (Sunday=1) — align on Spark's convention
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
           {dsum_sql('o_totalprice')} AS v
    FROM orders GROUP BY 1, 2
),
season AS (
    SELECT dow,
           CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS expected
    FROM daily GROUP BY dow
),
resid AS (
    SELECT d.day, d.dow, d.v, s.expected, d.v - s.expected AS r
    FROM daily d JOIN season s ON s.dow = d.dow
),
mom AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql('r', 6)} AS s1,
           {dsum_sql('r * r / 1000000.0', 6)} AS s2m
    FROM resid
),
z AS (
    SELECT r.day, r.dow, r.v, r.expected, r.r,
           sqrt(greatest(
               s2m * 1000000.0 / CAST(n AS DOUBLE)
               - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)),
               1e-9)) AS sigma
    FROM resid r, mom
)
SELECT day, dow,
       {fpq_sql('v', 4)} AS v,
       {fpq_sql('expected', 4)} AS expected,
       {fpq_sql('r / sigma', 4)} AS z
FROM z WHERE abs(r) > {_SRA_Z} * sigma
"""


@register(
    "ts_seasonal_residual_anomaly",
    _seasonal_resid_oracle(),
    doc="Deseasonalized anomaly detection: remove the weekday seasonal "
    "index (per-weekday mean of the daily revenue series — the "
    "ts_weekday_seasonality model) and flag days whose RESIDUAL "
    "exceeds 3 residual-sigmas — the spike detector that does not "
    "false-alarm on 'every Saturday is high' the way a raw z-score "
    "does (event_error_spike) and does not need a trailing window "
    "(ts_peak_detection). Decimal-exact daily sums and residual "
    "moments (the r^2 sum pre-divides by 1e6 inside the decimal cast "
    "— deviation squares grow with SF^2), one identical IEEE "
    "sigma/ratio expression chain on both engines, epsilon-guarded "
    "variance, fpq-quantized output. Everything after the daily "
    "aggregate is calendar-bounded (7-row season model broadcast, "
    "1-row moments).",
)
def ts_seasonal_residual_anomaly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderdate").alias("day"),
            F.dayofweek("o_orderdate").cast("int").alias("dow"),
        )
        .agg(dsum("o_totalprice").alias("v"))
    )
    season = daily.groupBy("dow").agg(
        (
            F.sum(F.col("v").cast("decimal(28,6)")).cast("double")
            / F.count("*").cast("double")
        ).alias("expected")
    )
    resid = daily.join(season, "dow").select(
        "day", "dow", "v", "expected",
        (F.col("v") - F.col("expected")).alias("r"),
    )
    mom = resid.agg(
        F.count("*").cast("bigint").alias("n"),
        dsum("r", 6).alias("s1"),
        dsum(F.col("r") * F.col("r") / F.lit(1000000.0), 6).alias("s2m"),
    )
    z = resid.crossJoin(mom).select(
        "day", "dow", "v", "expected", "r",
        F.sqrt(
            F.greatest(
                F.col("s2m") * F.lit(1000000.0) / F.col("n").cast("double")
                - (F.col("s1") / F.col("n").cast("double"))
                * (F.col("s1") / F.col("n").cast("double")),
                F.lit(1e-9),
            )
        ).alias("sigma"),
    )
    return z.filter(
        F.abs(F.col("r")) > F.lit(_SRA_Z) * F.col("sigma")
    ).select(
        "day",
        "dow",
        fpq("v", 4).alias("v"),
        fpq("expected", 4).alias("expected"),
        fpq(F.col("r") / F.col("sigma"), 4).alias("z"),
    )


# ---------------------------------------------------------------------------
# ts_theil_sen_trend — robust trend slope of the daily series
# ---------------------------------------------------------------------------

_TS_FP = 1_000_000


def _theil_sen_oracle() -> str:
    return f"""
WITH daily AS ({DAILY_REVENUE_SQL}),
pairs AS (
    SELECT CAST(floor((b.x - a.x)
                / CAST(datediff('day', a.day, b.day) AS DOUBLE)
                * {_TS_FP}) AS BIGINT) AS slope_fp
    FROM daily a JOIN daily b ON b.day > a.day
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM pairs),
ranked AS (
    SELECT slope_fp,
           ROW_NUMBER() OVER (ORDER BY slope_fp) AS rn
    FROM pairs
)
SELECT n.n_pairs,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
       r.slope_fp AS theil_sen_slope_fp,
       (SELECT MIN(slope_fp) FROM pairs) AS min_slope_fp,
       (SELECT MAX(slope_fp) FROM pairs) AS max_slope_fp
FROM ranked r, n
WHERE r.rn = (n.n_pairs + 1) // 2
"""


@register(
    "ts_theil_sen_trend",
    _theil_sen_oracle(),
    doc="Theil-Sen robust trend estimator over the daily revenue "
    "series: the LOWER MEDIAN of all pairwise slopes (x_j - x_i) / "
    "(day_j - day_i), i < j — the outlier-resistant alternative to "
    "agg_linreg_slope's least squares (a single anomalous day moves "
    "OLS, not the slope median; breakdown point 29%). Determinism: "
    "each pairwise slope floor-quantizes to 1e6 fixed point, the "
    "median is the exact (n+1)//2-th order statistic (LOWER median — "
    "never the engine-dependent average of two middles), day "
    "differences are integer datediffs. Scale: the pair relation is "
    "CALENDAR-bounded (~2.4k days -> ~2.9M pairs at ANY corpus "
    "size), so the one global sort it takes is a fixed-size job "
    "regardless of SF — the same bounded-frame argument as every "
    "daily-series query.",
)
def ts_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue(spark, sf_dir).localCheckpoint(eager=True)
    a = daily.select(F.col("day").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("day").alias("db"), F.col("x").alias("xb"))
    pairs = (
        a.join(b, F.col("db") > F.col("da"))
        .select(
            F.floor(
                (F.col("xb") - F.col("xa"))
                / F.datediff("db", "da").cast("double")
                * F.lit(_TS_FP)
            )
            .cast("bigint")
            .alias("slope_fp")
        )
        .localCheckpoint(eager=True)
    )
    stats = pairs.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.min("slope_fp").alias("min_slope_fp"),
        F.max("slope_fp").alias("max_slope_fp"),
    )
    n_days = daily.agg(F.count("*").cast("bigint").alias("n_days"))
    ranked = pairs.withColumn(
        "rn", F.row_number().over(W.orderBy("slope_fp"))
    )
    med = (
        ranked.crossJoin(stats.select("n_pairs"))
        .filter(F.col("rn") == F.expr("(n_pairs + 1) DIV 2"))
        .select(F.col("slope_fp").alias("theil_sen_slope_fp"))
    )
    return (
        stats.crossJoin(n_days)
        .crossJoin(F.broadcast(med))
        .select(
            "n_pairs",
            "n_days",
            "theil_sen_slope_fp",
            "min_slope_fp",
            "max_slope_fp",
        )
    )


# ---------------------------------------------------------------------------
# view_session_durations — connexion-session report (gap-and-island)
# ---------------------------------------------------------------------------

# 30-minute inactivity gap: the classic web/DB session boundary (the
# reference's active-session view reports "duree_connexion_min" per
# live connection; over an event log the same report is sessionization).
SESSION_GAP_US = 30 * 60 * 1_000_000


def session_oracle() -> str:
    return f"""
WITH e AS (
    SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events
),
g AS (
    SELECT user_id, event_id, ts, us,
           CASE WHEN us - LAG(us) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                ) > {SESSION_GAP_US} OR LAG(us) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                ) IS NULL
                THEN 1 ELSE 0 END AS new_sess
    FROM e
),
s AS (
    SELECT user_id, ts, us,
           SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_seq
    FROM g
)
SELECT user_id,
       CAST(session_seq AS BIGINT) AS session_seq,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       CAST((MAX(us) - MIN(us)) // 60000000 AS BIGINT) AS duration_min,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s
GROUP BY user_id, session_seq
"""
