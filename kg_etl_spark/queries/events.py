"""Event-stream catalog (batch semantics over the stored event log).

Time arithmetic is done in integer microseconds (Spark unix_micros ↔
DuckDB epoch_us) — bit-exact across engines, no double-epoch rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kg_etl_spark.session import read_table

DEC = "decimal(28,6)"
SESSION_GAP_US = 1800 * 1_000_000
HOUR_US = 3600 * 1_000_000
DAY_US = 86_400 * 1_000_000


def _trunc_us(ts, unit_us: int):
    """Truncate a timestamp column to a unit boundary in integer epoch
    micros — tz-FREE, unlike date_trunc, which truncates in the session
    timezone (an injected driver session may not be UTC)."""
    u = F.unix_micros(ts)
    return u - u % F.lit(unit_us)


def q_hourly_event_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            _trunc_us(F.col("ts"), HOUR_US).alias("hour_us"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)), 2).cast("double").alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


ORACLE_HOURLY = """
SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hour_us,
       COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    us = F.unix_micros(F.col("ts"))
    prev_us = F.lag(us).over(w)
    new_sess = F.when(prev_us.isNull() | ((us - prev_us) > SESSION_GAP_US), 1).otherwise(0)
    return (
        ev.withColumn("_new", new_sess)
        .groupBy("user_id")
        .agg(
            F.sum("_new").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


ORACLE_SESSIONIZE = f"""
WITH t AS (
  SELECT user_id,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
)
SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM t GROUP BY user_id
"""


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    pivoted = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, _EVENT_TYPES)
    )
    return pivoted.select(
        "user_id", *[F.col(t).cast("long").alias(f"n_{t}") for t in _EVENT_TYPES]
    )


ORACLE_PIVOT = """
SELECT user_id,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
       COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
       COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view
FROM events GROUP BY user_id
"""


def q_rolling_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type daily totals + 3-day trailing moving sum (window
    frame op, W-pattern)."""
    ev = read_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", _trunc_us(F.col("ts"), DAY_US).alias("day"))
        .agg(F.sum(F.col("value").cast(DEC)).alias("_dsum"))
    )
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-2, 0)
    return daily.select(
        "event_type",
        F.col("day").alias("day_us"),
        F.round(F.col("_dsum"), 2).cast("double").alias("day_value"),
        F.round(F.sum("_dsum").over(w), 2).cast("double").alias("trailing3_value"),
    )


ORACLE_ROLLING = """
WITH d AS (
  SELECT event_type, date_trunc('day', ts) AS day, SUM(CAST(value AS DECIMAL(28,6))) AS dsum
  FROM events GROUP BY 1, 2
)
SELECT event_type, epoch_us(day) AS day_us,
       CAST(ROUND(dsum, 2) AS DOUBLE) AS day_value,
       CAST(ROUND(SUM(dsum) OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS trailing3_value
FROM d
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase → the user's latest click at-or-before it
    (merge-sort as-of join; one shuffle). Checked against DuckDB's
    native ASOF LEFT JOIN."""
    from kg_etl_spark.operators.temporal import asof_join

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join(
        purchases, clicks, on="user_id", right_cols=("event_id", "value")
    )
    return out.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("event_id_asof").alias("click_id"),
        F.round(F.col("value_asof"), 6).alias("click_value"),
        F.unix_micros(F.col("ts_asof")).alias("click_ts_us"),
    )


ORACLE_ASOF = """
WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
c AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click')
SELECT p.event_id AS purchase_id, p.user_id,
       c.event_id AS click_id, ROUND(c.value, 6) AS click_value,
       epoch_us(c.ts) AS click_ts_us
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases landing inside the hour after a signup of the same
    user (1-D interval blocking — the temporal twin of the spatial grid
    join; pure equi-join plan)."""
    from kg_etl_spark.operators.temporal import range_join

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_micros("ts").alias("p_us"),
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("user_id").alias("s_user"),
        F.unix_micros("ts").alias("s_us"),
        (F.unix_micros("ts") + F.lit(3600 * 1_000_000)).alias("e_us"),
    )
    pairs = range_join(
        purchases,
        signups.withColumnRenamed("s_user", "user_id"),
        on="user_id",
        point_col="p_us",
        start_col="s_us",
        end_col="e_us",
        bucket_width=3600 * 1_000_000,
    )
    return pairs.select("purchase_id", "signup_id", "user_id")


ORACLE_RANGE = """
SELECT p.event_id AS purchase_id, s.event_id AS signup_id, p.user_id
FROM events p JOIN events s
  ON p.user_id = s.user_id
 AND p.event_type = 'purchase' AND s.event_type = 'signup'
 AND epoch_us(p.ts) >= epoch_us(s.ts)
 AND epoch_us(p.ts) < epoch_us(s.ts) + CAST(3600 AS BIGINT) * 1000000
"""


def q_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain continuous-aggregate shape: ROLLUP over
    (event_type, day) — per-day, per-type subtotals and grand total in
    one pass (grouping-sets partial aggregation; map-side combine on
    every grain)."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.withColumn("day_us", _trunc_us(F.col("ts"), DAY_US))
        .rollup("event_type", "day_us")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)), 2).cast("double").alias("sum_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("(all)")).alias("event_type"),
            F.coalesce("day_us", F.lit(-1)).alias("day_us"),
            "n_events",
            "sum_value",
        )
    )


ORACLE_ROLLUP_GRAIN = """
SELECT COALESCE(event_type, '(all)') AS event_type,
       COALESCE(day_us, -1) AS day_us,
       COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_value
FROM (SELECT event_type, epoch_us(date_trunc('day', ts)) AS day_us, value FROM events)
GROUP BY ROLLUP (event_type, day_us)
"""


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type (p50/p90/p99).
    Spark `percentile` and DuckDB `quantile_cont` both use linear
    interpolation — values match to rounding. At 100 TB swap for
    `percentile_approx` (t-digest-style sketch, map-side mergeable);
    the exact form is the oracle-able reference."""
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


ORACLE_PERCENTILES = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.9), 6) AS p90,
       ROUND(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
"""


def q_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch leg of the stats family (rows-only: sketch internals are
    engine-specific): HLL++ distinct users and t-digest-style
    percentile per event type — mergeable map-side sketches, the form
    `value_percentiles`/`count_distinct` take at 100 TB. Accuracy vs
    the exact twins is property-tested (`test_sketch_error_bounds`)."""
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile_approx("value", 0.5, 10_000).alias("approx_p50"),
        F.percentile_approx("value", 0.99, 10_000).alias("approx_p99"),
    )


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """signup → purchase funnel per user: first signup, first purchase
    at-or-after it, delay. One aggregation pass (conditional mins), no
    self-join — the scalable funnel shape."""
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.unix_micros("ts"))
        ).alias("first_signup_us"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("p_us")
    )
    first_after = (
        per_user.join(purchases, "user_id", "left")
        .groupBy("user_id", "first_signup_us")
        .agg(
            F.min(
                F.when(F.col("p_us") >= F.col("first_signup_us"), F.col("p_us"))
            ).alias("first_purchase_us")
        )
    )
    return first_after.select(
        "user_id",
        "first_signup_us",
        "first_purchase_us",
        (F.col("first_purchase_us") - F.col("first_signup_us")).alias("delay_us"),
    ).filter(F.col("first_signup_us").isNotNull())


ORACLE_FUNNEL = """
WITH su AS (
  SELECT user_id, MIN(epoch_us(ts)) AS first_signup_us
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
fp AS (
  SELECT su.user_id, su.first_signup_us,
         MIN(CASE WHEN p.event_type = 'purchase' AND epoch_us(p.ts) >= su.first_signup_us
                  THEN epoch_us(p.ts) END) AS first_purchase_us
  FROM su LEFT JOIN events p ON p.user_id = su.user_id
  GROUP BY su.user_id, su.first_signup_us
)
SELECT user_id, first_signup_us, first_purchase_us,
       first_purchase_us - first_signup_us AS delay_us
FROM fp
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort retention: users grouped by first-active day,
    distinct active users per (cohort_day, day_offset). Two shuffles
    (per-user min, then the cohort-offset count) — no self-join of the
    event log against itself. Days are UTC epoch-day integers
    (unix_micros div 86400e6) — independent of session timezone, which
    an injected session may set arbitrarily."""
    us_per_day = 86_400 * 1_000_000
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", (F.unix_micros("ts") / us_per_day).cast("long").alias("day")
    )
    first_day = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(first_day, "user_id")
        .groupBy("cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset"))
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


ORACLE_COHORT = """
WITH d AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events
),
fd AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id)
SELECT fd.cohort_day, d.day - fd.cohort_day AS day_offset,
       COUNT(DISTINCT d.user_id) AS n_active
FROM d JOIN fd ON d.user_id = fd.user_id
GROUP BY 1, 2
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix over user journeys: per user, events in
    (ts, event_id) order; count each consecutive type pair and
    row-normalize. One window shuffle on user_id + one small aggregate
    — the per-user ordering is exactly the sessionize partitioning, so
    at scale the two share a co-partitioned exchange."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros(F.col("ts")), F.col("event_id"))
    t = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = t.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    wf = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wf).cast("double"), 6).alias("p"),
    )


ORACLE_TRANSITIONS = """
WITH t AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS to_type
  FROM events
),
c AS (
  SELECT from_type, to_type, count(*) AS n
  FROM t WHERE to_type IS NOT NULL GROUP BY from_type, to_type
)
SELECT from_type, to_type, n,
       ROUND(CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
FROM c
"""


def _daily_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, UTC epoch-day) exact daily value totals —
    shared grain for the lag/gap-fill family. Day is an integer
    (unix_micros div 86400e6): tz-free on any injected session."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            (F.unix_micros("ts") / F.lit(DAY_US)).cast("long").alias("day"),
        )
        .agg(F.round(F.sum(F.col("value").cast(DEC)), 2).cast("double").alias("day_value"))
    )


def q_dod_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day deltas per event type: lag-window over the daily
    aggregate. The window partitions on event_type (bounded
    cardinality) over the already-aggregated daily rows — tiny state,
    one shuffle, scales with #types × #days not #events."""
    daily = _daily_totals(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("day")
    prev = F.lag("day_value").over(w)
    return daily.select(
        "event_type",
        "day",
        "day_value",
        (F.col("day_value") - prev).alias("delta"),
        F.when(prev > 0, F.round((F.col("day_value") - prev) / prev, 6)).alias("pct_change"),
    )


ORACLE_DOD = """
WITH d AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS day_value
  FROM events GROUP BY 1, 2
)
SELECT event_type, day, day_value,
       day_value - LAG(day_value) OVER w AS delta,
       CASE WHEN LAG(day_value) OVER w > 0
            THEN ROUND((day_value - LAG(day_value) OVER w) / LAG(day_value) OVER w, 6) END AS pct_change
FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day)
"""


def q_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: densify each event type's daily series to
    its full [min_day, max_day] span (sequence + explode — no driver
    loop), then forward-fill missing days (last-observation-carried-
    forward via last(ignorenulls) over an unbounded-preceding frame).
    The hypertable-gapfill shape: grid generation is per-group and
    map-side; the only shuffle is the per-type window. The series is
    the sparse high-value one (value > 180) so ~20% of grid days are
    genuine gaps and the LOCF actually fires (sf0.01: 29/149)."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("value") > 180)
    daily = (
        ev.groupBy(
            "event_type",
            (F.unix_micros("ts") / F.lit(DAY_US)).cast("long").alias("day"),
        )
        .agg(F.round(F.sum(F.col("value").cast(DEC)), 2).cast("double").alias("day_value"))
    )
    span = daily.groupBy("event_type").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "event_type", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.col("day_value").isNotNull().alias("observed"),
            F.last("day_value", ignorenulls=True).over(w).alias("filled_value"),
        )
    )


ORACLE_GAPFILL = """
WITH d AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS day_value
  FROM events WHERE value > 180 GROUP BY 1, 2
),
span AS (SELECT event_type, MIN(day) AS d0, MAX(day) AS d1 FROM d GROUP BY 1),
grid AS (
  SELECT span.event_type, g.day
  FROM span, LATERAL (SELECT UNNEST(generate_series(span.d0, span.d1)) AS day) g
)
SELECT grid.event_type, grid.day,
       d.day_value IS NOT NULL AS observed,
       LAST_VALUE(d.day_value IGNORE NULLS) OVER (
         PARTITION BY grid.event_type ORDER BY grid.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
FROM grid LEFT JOIN d ON grid.event_type = d.event_type AND grid.day = d.day
"""


def _sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level table: the sessionize flag turned into a running
    session ordinal (cumulative sum over the same per-user window), then
    one aggregate per (user, session). Shares the user_id exchange with
    q_sessionize — at scale the two are one shuffle."""
    ev = read_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy(us.asc(), F.col("event_id").asc())
    prev_us = F.lag(us).over(w)
    new_sess = F.when(prev_us.isNull() | ((us - prev_us) > SESSION_GAP_US), 1).otherwise(0)
    run = Window.partitionBy("user_id").orderBy(us.asc(), F.col("event_id").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        ev.withColumn("_us", us)
        .withColumn("session_id", F.sum(new_sess).over(run).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("_us").alias("start_us"),
            F.max("_us").alias("end_us"),
            F.round(F.sum(F.col("value").cast(DEC)), 2).cast("double").alias("session_value"),
        )
    )


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session durations and value totals (the session-table twin
    of q_sessionize's per-user counts)."""
    return _sessions(spark, sf_dir).select(
        "user_id",
        "session_id",
        "n_events",
        "start_us",
        (F.col("end_us") - F.col("start_us")).alias("duration_us"),
        "session_value",
    )


_SQL_SESSIONS = f"""
  SELECT user_id, session_id, COUNT(*) AS n_events,
         MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS session_value
  FROM (
    SELECT user_id, ts, value,
           CAST(SUM(CASE WHEN prev_us IS NULL OR us - prev_us > {SESSION_GAP_US}
                    THEN 1 ELSE 0 END) OVER w2 AS BIGINT) AS session_id
    FROM (
      SELECT user_id, ts, value, event_id, epoch_us(ts) AS us,
             LAG(epoch_us(ts)) OVER w AS prev_us
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ) WINDOW w2 AS (PARTITION BY user_id ORDER BY us ASC, event_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
  ) GROUP BY user_id, session_id
"""

ORACLE_SESSION_STATS = f"""
SELECT user_id, session_id, n_events, start_us,
       end_us - start_us AS duration_us, session_value
FROM ({_SQL_SESSIONS})
"""


def q_active_sessions_per_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrency timeline: each session interval exploded to the hour
    buckets it spans (sequence over integer hours — bounded by session
    length, not corpus size), then distinct-session counts per hour.
    The scalable alternative to a global sweep-line running sum, which
    would serialize into one ordered partition."""
    sess = _sessions(spark, sf_dir)
    hour = 3600 * 1_000_000
    spans = sess.select(
        "user_id",
        "session_id",
        F.explode(
            F.sequence(
                (F.col("start_us") / hour).cast("long"),
                (F.col("end_us") / hour).cast("long"),
            )
        ).alias("hour_bucket"),
    )
    return spans.groupBy("hour_bucket").agg(
        F.count(F.lit(1)).alias("n_active_sessions")
    )


ORACLE_ACTIVE_SESSIONS = f"""
WITH s AS ({_SQL_SESSIONS}),
spans AS (
  SELECT s.user_id, s.session_id, g.hour_bucket
  FROM s, LATERAL (SELECT UNNEST(generate_series(s.start_us // 3600000000,
                                                 s.end_us // 3600000000)) AS hour_bucket) g
)
SELECT hour_bucket, COUNT(*) AS n_active_sessions
FROM spans GROUP BY hour_bucket
"""


def q_range_frame_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centered ±2-day RANGE-frame sum over the daily series: unlike the
    ROWS frame in q_rolling_daily_value, a RANGE frame keys on the ORDER
    BY *value*, so calendar gaps are excluded from the window rather
    than dragging older rows in."""
    daily = _daily_totals(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("day").rangeBetween(-2, 2)
    return daily.select(
        "event_type",
        "day",
        "day_value",
        F.round(F.sum(F.col("day_value").cast(DEC)).over(w), 2)
        .cast("double")
        .alias("centered5d_value"),
    )


ORACLE_RANGE_FRAME = """
WITH d AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS day_value
  FROM events GROUP BY 1, 2
)
SELECT event_type, day, day_value,
       CAST(ROUND(SUM(CAST(day_value AS DECIMAL(28,6))) OVER (
         PARTITION BY event_type ORDER BY day
         RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING), 2) AS DOUBLE) AS centered5d_value
FROM d
"""


QUERIES = {
    "asof_join": q_asof_join,
    "event_rollup": q_event_rollup,
    "value_percentiles": q_value_percentiles,
    "sketch_stats": q_sketch_stats,
    "funnel_conversion": q_funnel_conversion,
    "cohort_retention": q_cohort_retention,
    "range_join": q_range_join,
    "hourly_event_agg": q_hourly_event_agg,
    "sessionize": q_sessionize,
    "event_type_pivot": q_event_type_pivot,
    "rolling_daily_value": q_rolling_daily_value,
    "event_transitions": q_event_transitions,
    "dod_change": q_dod_change,
    "gapfill_locf": q_gapfill_locf,
    "session_stats": q_session_stats,
    "active_sessions_per_hour": q_active_sessions_per_hour,
    "range_frame_sum": q_range_frame_sum,
}

ORACLES = {
    "asof_join": ORACLE_ASOF,
    "event_rollup": ORACLE_ROLLUP_GRAIN,
    "value_percentiles": ORACLE_PERCENTILES,
    "funnel_conversion": ORACLE_FUNNEL,
    "cohort_retention": ORACLE_COHORT,
    "range_join": ORACLE_RANGE,
    "hourly_event_agg": ORACLE_HOURLY,
    "sessionize": ORACLE_SESSIONIZE,
    "event_type_pivot": ORACLE_PIVOT,
    "rolling_daily_value": ORACLE_ROLLING,
    "event_transitions": ORACLE_TRANSITIONS,
    "dod_change": ORACLE_DOD,
    "gapfill_locf": ORACLE_GAPFILL,
    "session_stats": ORACLE_SESSION_STATS,
    "active_sessions_per_hour": ORACLE_ACTIVE_SESSIONS,
    "range_frame_sum": ORACLE_RANGE_FRAME,
}


_INC_CUTOFF_US = 1_700_000_000 * 1_000_000  # 2023-11-14T22:13:20Z


def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-rollup maintenance: history (< cutoff)
    and the new batch (>= cutoff) are aggregated into mergeable states
    SEPARATELY, then merged and finalized — the refresh path that never
    re-scans history. The oracle is the plain full-scan aggregate, so
    the driver check proves merge-of-parts == aggregate-of-union."""
    from kg_etl_spark.operators.incremental import (
        finalize_rollup,
        merge_rollups,
        partial_rollup,
    )

    ev = read_table(spark, sf_dir, "events").withColumn(
        "day_us", _trunc_us(F.col("ts"), DAY_US)
    )
    cut = F.unix_micros(F.col("ts")) < F.lit(_INC_CUTOFF_US)
    keys = ["event_type", "day_us"]
    hist = partial_rollup(ev.filter(cut), keys, "value")
    batch = partial_rollup(ev.filter(~cut), keys, "value")
    return finalize_rollup(merge_rollups([hist, batch], keys))


ORACLE_INCREMENTAL = """
SELECT event_type, epoch_us(date_trunc('day', ts)) AS day_us,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_v,
       MIN(value) AS min_v,
       MAX(value) AS max_v,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6) AS avg_v
FROM events
GROUP BY event_type, epoch_us(date_trunc('day', ts))
"""

QUERIES["incremental_rollup"] = q_incremental_rollup
ORACLES["incremental_rollup"] = ORACLE_INCREMENTAL


def q_variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props via Spark 4's VARIANT type: parse_json
    once into the binary variant encoding, extract typed fields with
    variant_get — the lakehouse-modern path (shredded binary access,
    no per-extract string re-parse like get_json_object; at 100 TB
    with many extracts per row that re-parse is the dominant cost).
    Oracle mirrors with DuckDB's native JSON extraction."""
    ev = read_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("k").cast("long")).alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


ORACLE_VARIANT_PROPS = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       MIN(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
       MAX(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
FROM events GROUP BY event_type
"""

QUERIES["variant_props_stats"] = q_variant_props_stats
ORACLES["variant_props_stats"] = ORACLE_VARIANT_PROPS


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user: each reading holds until
    the next one (step interpolation), TWA = Σ v_i·Δt_i / Σ Δt_i over
    the user's observed span — the correct aggregate for irregularly
    sampled gauges (unlike the plain mean, which over-weights bursts).
    Window lead per user + one aggregate; micros arithmetic."""
    ev = read_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy(us.asc(), F.col("event_id").asc())
    nxt = F.lead(us).over(w)
    weighted = (
        ev.select("user_id", F.col("value"), us.alias("_us"), nxt.alias("_nxt"))
        .withColumn("_dt", (F.col("_nxt") - F.col("_us")).cast("double"))
        .filter(F.col("_nxt").isNotNull())
    )
    # order-independent aggregation: v·Δt rounded to 6 dp then summed
    # as decimal; Δt summed exactly as long (catalog contract)
    term = F.round(F.col("value") * F.col("_dt"), 6).cast(DEC)
    return (
        weighted.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.round(
                F.sum(term).cast("double") / F.sum(F.col("_dt").cast("long")).cast("double"),
                6,
            ).alias("twa_value"),
        )
    )


ORACLE_TWA = """
WITH t AS (
  SELECT user_id, value, epoch_us(ts) AS us,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC) AS nxt
  FROM events
)
SELECT user_id, COUNT(*) AS n_intervals,
       ROUND(CAST(SUM(CAST(ROUND(value * CAST(nxt - us AS DOUBLE), 6) AS DECIMAL(28,6))) AS DOUBLE)
             / CAST(SUM(nxt - us) AS DOUBLE), 6) AS twa_value
FROM t WHERE nxt IS NOT NULL GROUP BY user_id
"""

QUERIES["time_weighted_avg"] = q_time_weighted_avg
ORACLES["time_weighted_avg"] = ORACLE_TWA


_ATTR_WINDOW_US = 3600 * 1_000_000


def q_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the user's most
    recent click within the preceding hour (a running max of the
    click time per user, one declarative window). Purchases with
    no qualifying click attribute to NULL and are counted unattributed."""
    ev = read_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    base = ev.select(
        "user_id", "event_id", "event_type", us.alias("_us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click_us = F.max(
        F.when(F.col("event_type") == "click", F.col("_us"))
    ).over(w)
    purchases = (
        base.withColumn("_lc", last_click_us)
        .filter(F.col("event_type") == "purchase")
        .withColumn(
            "attributed",
            F.col("_lc").isNotNull() & (F.col("_us") - F.col("_lc") <= _ATTR_WINDOW_US),
        )
    )
    return purchases.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.col("attributed").cast("long")).alias("n_attributed"),
    )


ORACLE_ATTRIBUTION = f"""
WITH base AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
),
wins AS (
  SELECT user_id, event_type, us,
         MAX(CASE WHEN event_type = 'click' THEN us END) OVER (
           PARTITION BY user_id ORDER BY us ASC, event_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS lc
  FROM base
)
SELECT user_id, COUNT(*) AS n_purchases,
       CAST(SUM(CASE WHEN lc IS NOT NULL AND us - lc <= {_ATTR_WINDOW_US}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed
FROM wins WHERE event_type = 'purchase' GROUP BY user_id
"""

QUERIES["last_touch_attribution"] = q_last_touch_attribution
ORACLES["last_touch_attribution"] = ORACLE_ATTRIBUTION


_DECAY_HL_US = 900 * 1_000_000  # 15-min half-life buckets


def multi_touch_attribution(ev: DataFrame) -> DataFrame:
    """Multi-touch attribution: each purchase splits its value across
    ALL of the user's clicks in the preceding hour — linear (equal
    shares) and time-decay (weight 2^-k for k = ⌊Δt/15min⌋ whole
    half-life buckets). Bucketed exponents keep every weight an EXACT
    dyadic double (1, .5, .25, .125), so credits are bit-reproducible
    across engines with no libm pow in sight; per-credit terms round
    to 6 dp and sum as decimals (catalog order-independence contract).

    Scale shape (the temporal.py range-join device, r4 directive #1):
    clicks key by their hour bucket ⌊t/W⌋ and each purchase PROBES its
    own and the previous bucket, so the purchases ⋈ clicks equi-join
    on (user_id, bucket) emits ONLY pairs within ~2W before the exact
    ≤-W filter — a hot user contributes clicks_per_hour × purchases
    rows per bucket, never clicks_total × purchases (the r4-flagged
    per-user cartesian; 10⁵-click bot × 10³ purchases = 10⁸ rows in
    one task under the old plan, stress-probed in
    tools/stress_graph_ops.py::attribution_hot_user). The per-purchase
    windows reuse the join's hash clustering (no second exchange);
    purchases with zero qualifying clicks are restored by ONE
    broadcast-friendly left join of the per-user aggregates back onto
    the per-user purchase counts.

    Takes the raw events frame (event_type, event_id, user_id, ts,
    value) so the hot-user stress probe can drive it directly."""
    us = F.unix_micros(F.col("ts"))
    W = _ATTR_WINDOW_US
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("_cid"),
        us.alias("_tc"),
        F.expr(f"unix_micros(ts) div {W}").alias("_bk"),
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("_pid"), us.alias("_tp"), "value"
    )
    pb = F.expr(f"unix_micros(ts) div {W}")
    probe = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("_pid"),
        us.alias("_tp"),
        "value",
        F.explode(F.array(pb - 1, pb)).alias("_bk"),
    )
    hits = probe.join(clicks, ["user_id", "_bk"]).filter(
        (F.col("_tc") < F.col("_tp")) & (F.col("_tp") - F.col("_tc") <= W)
    )
    wn = Window.partitionBy("user_id", "_pid")
    k = F.floor((F.col("_tp") - F.col("_tc")) / F.lit(_DECAY_HL_US))
    w = F.pow(F.lit(0.5), k.cast("double"))
    DEC28 = "decimal(28,6)"
    per = hits.select(
        "user_id",
        "_pid",
        "_cid",
        F.round(F.col("value") / F.count(F.lit(1)).over(wn), 6).cast(DEC28).alias("_lin"),
        F.round(F.col("value") * w / F.sum(w).over(wn), 6).cast(DEC28).alias("_dec"),
    )
    attr = per.groupBy("user_id").agg(
        F.count_distinct("_pid").alias("_na"),
        F.count_distinct("_cid").alias("_nt"),
        F.sum("_lin").alias("_sl"),
        F.sum("_dec").alias("_sd"),
    )
    base = pur.groupBy("user_id").agg(F.count_distinct("_pid").alias("n_purchases"))
    return base.join(attr, "user_id", "left").select(
        "user_id",
        "n_purchases",
        F.coalesce("_na", F.lit(0)).alias("n_attributed"),
        F.coalesce("_nt", F.lit(0)).alias("n_touches"),
        F.round(F.coalesce(F.col("_sl"), F.lit(0).cast(DEC28)).cast("double"), 4).alias("linear_credit"),
        F.round(F.coalesce(F.col("_sd"), F.lit(0).cast(DEC28)).cast("double"), 4).alias("decay_credit"),
    )


def q_multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog entry: :func:`multi_touch_attribution` over the events
    table (see that docstring for semantics and the 100-TB shape)."""
    return multi_touch_attribution(read_table(spark, sf_dir, "events"))


ORACLE_MULTI_TOUCH = f"""
WITH c AS (
  SELECT user_id, event_id AS cid, epoch_us(ts) AS tc
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, event_id AS pid, epoch_us(ts) AS tp, value
  FROM events WHERE event_type = 'purchase'
), hits AS (
  SELECT p.user_id, p.pid, p.value, c.cid,
         pow(0.5, CAST((p.tp - c.tc) // {_DECAY_HL_US} AS DOUBLE)) AS w
  FROM p JOIN c ON c.user_id = p.user_id
   AND c.tc < p.tp AND p.tp - c.tc <= {_ATTR_WINDOW_US}
), per AS (
  SELECT user_id, pid, cid,
         ROUND(value / (COUNT(*) OVER (PARTITION BY pid)), 6) AS lin,
         ROUND(value * w / (SUM(w) OVER (PARTITION BY pid)), 6) AS dcy
  FROM hits
)
SELECT p.user_id,
       COUNT(DISTINCT p.pid) AS n_purchases,
       COUNT(DISTINCT per.pid) AS n_attributed,
       COUNT(DISTINCT per.cid) AS n_touches,
       ROUND(CAST(COALESCE(SUM(CAST(per.lin AS DECIMAL(28,6))), 0) AS DOUBLE), 4)
         AS linear_credit,
       ROUND(CAST(COALESCE(SUM(CAST(per.dcy AS DECIMAL(28,6))), 0) AS DOUBLE), 4)
         AS decay_credit
FROM p LEFT JOIN per ON per.pid = p.pid
GROUP BY p.user_id
"""

QUERIES["multi_touch_attribution"] = q_multi_touch_attribution
ORACLES["multi_touch_attribution"] = ORACLE_MULTI_TOUCH


_MARKOV_ITERS = 12


def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user-journey Markov chain: the
    `event_transitions` counts Laplace-smoothed into a row-stochastic
    5×5 matrix P(i,j) = (n_ij + 1)/(n_i + 5) (smoothing makes the
    chain ergodic, so the power iteration converges to the unique π),
    then π ← πP for a FIXED 12 iterations from uniform.

    Scale shape: the transition-count aggregate is the only
    distributed work (one window shuffle + one 25-row hash-agg — the
    100-TB cost is identical to `event_transitions`); the 5×5 matrix
    is MODEL STATE (≤25 rows collected, the documented scalar-scale
    exception), and the power iteration is driver arithmetic with a
    pinned left-to-right accumulation order so the unrolled SQL
    oracle reproduces it bit-for-bit in IEEE doubles."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros(F.col("ts")), F.col("event_id"))
    t = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = t.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))

    types = _EVENT_TYPES
    cnt = {(r["from_type"], r["to_type"]): r["n"] for r in counts.collect()}
    row_tot = {i: sum(cnt.get((i, j), 0) for j in types) for i in types}
    P = {
        (i, j): (cnt.get((i, j), 0) + 1.0) / (row_tot[i] + float(len(types)))
        for i in types
        for j in types
    }
    pi = {i: 1.0 / len(types) for i in types}
    for _ in range(_MARKOV_ITERS):
        new = {}
        for j in types:
            acc = pi[types[0]] * P[(types[0], j)]
            for i in types[1:]:
                acc = acc + pi[i] * P[(i, j)]
            new[j] = acc
        pi = new
    rows = [(ty, round(pi[ty], 6)) for ty in types]
    return spark.createDataFrame(rows, "event_type string, stationary_p double")


def _markov_oracle_sql() -> str:
    types = _EVENT_TYPES
    cnts = ",\n    ".join(
        f"SUM(CASE WHEN from_type='{i}' AND to_type='{j}' THEN 1 ELSE 0 END) AS n_{i}_{j}"
        for i in types
        for j in types
    )
    tots = ", ".join(
        "(" + " + ".join(f"n_{i}_{j}" for j in types) + f") AS tot_{i}" for i in types
    )
    ps = ", ".join(
        f"(n_{i}_{j} + 1.0)/(tot_{i} + {float(len(types))}) AS p_{i}_{j}"
        for i in types
        for j in types
    )
    it_prev = ", ".join(f"{1.0 / len(types)} AS pi_{t}" for t in types)
    sql = f"""
WITH t AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS to_type
  FROM events
), c AS (
  SELECT {cnts}
  FROM t WHERE to_type IS NOT NULL
), tot AS (
  SELECT *, {tots} FROM c
), m AS (
  SELECT {ps} FROM tot
), it0 AS (
  SELECT {it_prev}
)"""
    for k in range(1, _MARKOV_ITERS + 1):
        exprs = ", ".join(
            "(" + " + ".join(f"it{k-1}.pi_{i} * m.p_{i}_{j}" for i in types) + f") AS pi_{j}"
            for j in types
        )
        sql += f", it{k} AS (\n  SELECT {exprs} FROM it{k-1}, m\n)"
    unions = "\nUNION ALL ".join(
        f"SELECT '{ty}' AS event_type, ROUND(pi_{ty}, 6) AS stationary_p FROM it{_MARKOV_ITERS}"
        for ty in types
    )
    return sql + "\n" + unions


ORACLE_MARKOV_STATIONARY = _markov_oracle_sql()

QUERIES["markov_stationary"] = q_markov_stationary
ORACLES["markov_stationary"] = ORACLE_MARKOV_STATIONARY


_ABSORB_ITERS = 12
_ABSORB_TARGET = "purchase"


def q_absorbing_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected number of steps to FIRST reach the absorbing 'purchase'
    state from each journey state, on the same Laplace-smoothed chain
    as `markov_stationary` — the fundamental-matrix quantity N·1
    (Kemeny & Snell, Finite Markov Chains ch. 3) computed by the
    truncated recursion E ← 1 + P_NA·E for a FIXED 12 iterations from
    E=0 (equivalently: expected steps within a 12-step horizon).

    Scale shape: identical to `markov_stationary` — ONE window shuffle
    + one ≤25-row aggregate is the only distributed work; the 4×4
    sub-matrix recursion is driver MODEL-STATE arithmetic with pinned
    left-fold order, replayed bit-for-bit by the unrolled SQL oracle."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros(F.col("ts")), F.col("event_id"))
    t = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = t.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))

    types = _EVENT_TYPES
    na = [ty for ty in types if ty != _ABSORB_TARGET]
    cnt = {(r["from_type"], r["to_type"]): r["n"] for r in counts.collect()}
    row_tot = {i: sum(cnt.get((i, j), 0) for j in types) for i in types}
    P = {
        (i, j): (cnt.get((i, j), 0) + 1.0) / (row_tot[i] + float(len(types)))
        for i in types
        for j in types
    }
    E = {i: 0.0 for i in na}
    for _ in range(_ABSORB_ITERS):
        new = {}
        for i in na:
            acc = P[(i, na[0])] * E[na[0]]
            for j in na[1:]:
                acc = acc + P[(i, j)] * E[j]
            new[i] = 1.0 + acc
        E = new
    rows = [(ty, round(E[ty], 6)) for ty in na] + [(_ABSORB_TARGET, 0.0)]
    return spark.createDataFrame(rows, "event_type string, exp_steps double")


def _absorbing_oracle_sql() -> str:
    types = _EVENT_TYPES
    na = [ty for ty in types if ty != _ABSORB_TARGET]
    cnts = ",\n    ".join(
        f"SUM(CASE WHEN from_type='{i}' AND to_type='{j}' THEN 1 ELSE 0 END) AS n_{i}_{j}"
        for i in types
        for j in types
    )
    tots = ", ".join(
        "(" + " + ".join(f"n_{i}_{j}" for j in types) + f") AS tot_{i}" for i in types
    )
    ps = ", ".join(
        f"(n_{i}_{j} + 1.0)/(tot_{i} + {float(len(types))}) AS p_{i}_{j}"
        for i in types
        for j in types
    )
    it_prev = ", ".join(f"0.0 AS e_{t}" for t in na)
    sql = f"""
WITH t AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS to_type
  FROM events
), c AS (
  SELECT {cnts}
  FROM t WHERE to_type IS NOT NULL
), tot AS (
  SELECT *, {tots} FROM c
), m AS (
  SELECT {ps} FROM tot
), it0 AS (
  SELECT {it_prev}
)"""
    for k in range(1, _ABSORB_ITERS + 1):
        exprs = ", ".join(
            "(1.0 + ("
            + " + ".join(f"m.p_{i}_{j} * it{k-1}.e_{j}" for j in na)
            + f")) AS e_{i}"
            for i in na
        )
        sql += f", it{k} AS (\n  SELECT {exprs} FROM it{k-1}, m\n)"
    unions = "\nUNION ALL ".join(
        f"SELECT '{ty}' AS event_type, ROUND(e_{ty}, 6) AS exp_steps FROM it{_ABSORB_ITERS}"
        for ty in na
    )
    unions += f"\nUNION ALL SELECT '{_ABSORB_TARGET}' AS event_type, 0.0 AS exp_steps"
    return sql + "\n" + unions


ORACLE_ABSORBING_STEPS = _absorbing_oracle_sql()

QUERIES["absorbing_steps"] = q_absorbing_steps
ORACLES["absorbing_steps"] = ORACLE_ABSORBING_STEPS


def q_changepoint_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-contrast changepoint detection on the daily series: each
    day scores |mean(next 7 days incl. today) − mean(prior 7 days)|;
    the top-3 scoring days per event type are the level-shift
    candidates. Pure ROWS-frame windows — no recursion, identical
    frames in the SQL oracle; days without a full prior week are
    excluded so both means are over exactly 7 rows."""
    daily = _daily_totals(spark, sf_dir)
    w_order = Window.partitionBy("event_type").orderBy("day")
    w_left = w_order.rowsBetween(-7, -1)
    w_right = w_order.rowsBetween(0, 6)
    scored = (
        daily.withColumn("_nl", F.count(F.lit(1)).over(w_left))
        .withColumn("_nr", F.count(F.lit(1)).over(w_right))
        .withColumn(
            "score",
            F.round(
                F.abs(
                    F.sum(F.col("day_value").cast(DEC)).over(w_right).cast("double") / F.col("_nr")
                    - F.sum(F.col("day_value").cast(DEC)).over(w_left).cast("double") / F.col("_nl")
                ),
                6,
            ),
        )
        .filter((F.col("_nl") == 7) & (F.col("_nr") == 7))
    )
    w_rank = Window.partitionBy("event_type").orderBy(
        F.col("score").desc(), F.col("day").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= 3)
        .select("event_type", "day", "day_value", "score", F.col("rk").cast("long").alias("rk"))
    )


ORACLE_CHANGEPOINTS = """
WITH d AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS day_value
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT event_type, day, day_value,
         COUNT(*) OVER wl AS nl, COUNT(*) OVER wr AS nr,
         ROUND(ABS(
           CAST(SUM(CAST(day_value AS DECIMAL(28,6))) OVER wr AS DOUBLE) / COUNT(*) OVER wr
           - CAST(SUM(CAST(day_value AS DECIMAL(28,6))) OVER wl AS DOUBLE) / COUNT(*) OVER wl
         ), 6) AS score
  FROM d
  WINDOW wl AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING),
         wr AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING)
)
SELECT event_type, day, day_value, score, rk FROM (
  SELECT event_type, day, day_value, score,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY score DESC, day ASC) AS rk
  FROM s WHERE nl = 7 AND nr = 7
) WHERE rk <= 3
"""

QUERIES["changepoint_scores"] = q_changepoint_scores
ORACLES["changepoint_scores"] = ORACLE_CHANGEPOINTS


def q_weekday_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday-seasonal decomposition of the daily series: each
    (event_type, day) total is compared with the mean of the SAME
    weekday across the series (the seasonal component); the residual
    flags days that deviate >50% from their weekday norm.

    Determinism: day and weekday are pure integer arithmetic on epoch
    micros (epoch day 0 = Thursday → +4 shift puts 0=Sunday), the
    seasonal mean divides an exact decimal sum by an exact count in
    DOUBLE (bit-identical in DuckDB), and output doubles are rounded.
    Scale shape: one daily hash-aggregate (map-side combined) and one
    window over (event_type, dow) — 7·|types| partitions of |days|/7
    rows each; years of history stay kilobytes per partition."""
    daily = _daily_totals(spark, sf_dir)
    dow = F.pmod(F.col("day") + 4, F.lit(7)).cast("int")
    w = Window.partitionBy("event_type", "dow")
    out = (
        daily.withColumn("dow", dow)
        .withColumn(
            "dow_mean",
            F.sum(F.col("day_value").cast(DEC)).over(w).cast("double")
            / F.count(F.lit(1)).over(w),
        )
        .withColumn("resid", F.col("day_value") - F.col("dow_mean"))
    )
    return out.select(
        "event_type",
        "day",
        "dow",
        "day_value",
        F.round("dow_mean", 6).alias("dow_mean"),
        F.round("resid", 6).alias("resid"),
        (F.abs(F.col("resid")) > 0.5 * F.col("dow_mean")).alias("is_anomaly"),
    )


ORACLE_SEASONAL = """
WITH d AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS day_value
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT event_type, day, CAST((day + 4) % 7 AS INT) AS dow, day_value,
         CAST(SUM(CAST(day_value AS DECIMAL(28,6)))
              OVER (PARTITION BY event_type, (day + 4) % 7) AS DOUBLE)
         / COUNT(*) OVER (PARTITION BY event_type, (day + 4) % 7) AS dow_mean
  FROM d
)
SELECT event_type, day, dow, day_value,
       ROUND(dow_mean, 6) AS dow_mean,
       ROUND(day_value - dow_mean, 6) AS resid,
       ABS(day_value - dow_mean) > 0.5 * dow_mean AS is_anomaly
FROM s
"""

QUERIES["weekday_seasonal_anomaly"] = q_weekday_seasonal_anomaly
ORACLES["weekday_seasonal_anomaly"] = ORACLE_SEASONAL


def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend exponential smoothing per event type over the
    daily series (α=0.5, β=0.3), forecasting 7 days ahead — the
    classic capacity-planning primitive.

    Spark-first sequential state: the recursion l' = αy + (1−α)(l+b),
    b' = β(l'−l) + (1−β)b is inherently ordered, so it runs as ONE
    higher-order `aggregate` fold over each type's sorted day array —
    per-group sequential exactly as the algorithm demands, groups
    parallel, no Python, no driver loop. Years of daily history are a
    few thousand array elements per group.

    Cross-engine exactness: the fold order is total (sorted by day),
    every step is the same IEEE expression (l' written out twice, in
    both engines), and the inputs are the already-rounded day_value
    doubles — so the DuckDB recursive-CTE oracle reproduces the floats
    bit-for-bit; outputs rounded at the end as usual."""
    daily = _daily_totals(spark, sf_dir)
    arr = F.array_sort(
        F.collect_list(F.struct(F.col("day"), F.col("day_value").alias("y")))
    )
    grouped = daily.groupBy("event_type").agg(arr.alias("_a"))
    lp = lambda acc, x: F.lit(0.5) * x["y"] + F.lit(0.5) * (acc["l"] + acc["b"])
    step = lambda acc, x: F.struct(
        lp(acc, x).alias("l"),
        (F.lit(0.3) * (lp(acc, x) - acc["l"]) + F.lit(0.7) * acc["b"]).alias("b"),
    )
    init = F.struct(
        F.element_at("_a", 1)["y"].alias("l"), F.lit(0.0).alias("b")
    )
    state = F.aggregate(F.slice("_a", 2, F.size("_a") - 1), init, step)
    return grouped.select(
        "event_type",
        F.size("_a").cast("long").alias("n_days"),
        F.round(state["l"], 6).alias("level"),
        F.round(state["b"], 6).alias("trend"),
        F.round(state["l"] + F.lit(7.0) * state["b"], 6).alias("forecast_7d"),
    )


ORACLE_HOLT = """
WITH RECURSIVE d AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
), r AS (
  SELECT event_type, day, y,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n_days
  FROM d
), rec AS (
  SELECT event_type, rn, n_days, y, y AS l, CAST(0.0 AS DOUBLE) AS b
  FROM r WHERE rn = 1
  UNION ALL
  SELECT r.event_type, r.rn, r.n_days, r.y,
         0.5 * r.y + 0.5 * (rec.l + rec.b) AS l,
         0.3 * ((0.5 * r.y + 0.5 * (rec.l + rec.b)) - rec.l) + 0.7 * rec.b AS b
  FROM rec JOIN r ON r.event_type = rec.event_type AND r.rn = rec.rn + 1
)
SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
       ROUND(l, 6) AS level, ROUND(b, 6) AS trend,
       ROUND(l + 7.0 * b, 6) AS forecast_7d
FROM rec WHERE rn = n_days
"""

QUERIES["holt_forecast"] = q_holt_forecast
ORACLES["holt_forecast"] = ORACLE_HOLT


def q_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS linear trend of the daily series: closed-form
    slope/intercept from exact decimal power sums (n, Σx, Σy, Σxy,
    Σx²) — one grouped aggregate, no iteration, no shuffle beyond it.
    x = epoch day, y = daily total. The measure_correlations decimal
    discipline: every sum exact, the final slope/intercept arithmetic
    is identical IEEE ops in both engines, rounded at the edge."""
    daily = _daily_totals(spark, sf_dir)
    x = F.col("day").cast("decimal(18,0)")
    # xy as an IEEE double product rounded BEFORE the decimal sum:
    # day_value is a double, and double->decimal conversion noise
    # amplified by day ~ 2e4 otherwise surfaces in the 6th decimal
    xy = F.round(F.col("day").cast("double") * F.col("day_value"), 6).cast(DEC)
    y = F.round(F.col("day_value"), 6).cast(DEC)
    g = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(xy).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx = F.col("_sxx").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    return g.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


ORACLE_OLS = """
WITH d AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS day_value
  FROM events GROUP BY 1, 2
), g AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CAST(day AS DECIMAL(18,0))) AS sx,
         SUM(CAST(ROUND(day_value, 6) AS DECIMAL(28,6))) AS sy,
         SUM(CAST(ROUND(CAST(day AS DOUBLE) * day_value, 6) AS DECIMAL(28,6))) AS sxy,
         SUM(CAST(day AS DECIMAL(18,0)) * CAST(day AS DECIMAL(18,0))) AS sxx
  FROM d GROUP BY event_type
)
SELECT event_type, n,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
       ROUND((CAST(sy AS DOUBLE)
              - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE), 6) AS intercept
FROM g
"""

QUERIES["ols_trend"] = q_ols_trend
ORACLES["ols_trend"] = ORACLE_OLS


_OVL_LEN_US = 30 * 60 * 1_000_000  # each event opens a 30-min interval


def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping (error-window, purchase-window) interval pairs per
    user (operators/temporal.py `interval_overlap_join`): each event
    opens a 30-minute half-open interval; pairs where the two windows
    intersect. Cell-blocked equi-join, duplicate-free via the
    first-common-cell rule — no distinct pass, no cartesian. Overlap
    length reported in integer µs (unix_micros ↔ epoch_us, bit-exact
    across engines)."""
    from kg_etl_spark.operators.temporal import interval_overlap_join

    ev = read_table(spark, sf_dir, "events")
    errs = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        "user_id",
        F.unix_micros("ts").alias("err_s"),
        (F.unix_micros("ts") + F.lit(_OVL_LEN_US)).alias("err_e"),
    )
    purs = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pur_id"),
        F.col("user_id").alias("p_user"),
        F.unix_micros("ts").alias("pur_s"),
        (F.unix_micros("ts") + F.lit(_OVL_LEN_US)).alias("pur_e"),
    )
    pairs = interval_overlap_join(
        errs,
        purs.withColumnRenamed("p_user", "user_id"),
        on="user_id",
        left_start="err_s",
        left_end="err_e",
        right_start="pur_s",
        right_end="pur_e",
        bucket_width=_OVL_LEN_US,
    )
    return pairs.select(
        "user_id",
        "err_id",
        "pur_id",
        (
            F.least(F.col("err_e"), F.col("pur_e"))
            - F.greatest(F.col("err_s"), F.col("pur_s"))
        ).alias("overlap_us"),
    )


ORACLE_INTERVAL_OVERLAP = f"""
WITH e AS (
  SELECT event_id AS err_id, user_id, epoch_us(ts) AS s,
         epoch_us(ts) + {_OVL_LEN_US} AS e
  FROM events WHERE event_type = 'error'
),
p AS (
  SELECT event_id AS pur_id, user_id, epoch_us(ts) AS s,
         epoch_us(ts) + {_OVL_LEN_US} AS e
  FROM events WHERE event_type = 'purchase'
)
SELECT e.user_id, e.err_id, p.pur_id,
       LEAST(e.e, p.e) - GREATEST(e.s, p.s) AS overlap_us
FROM e JOIN p ON e.user_id = p.user_id AND e.s < p.e AND p.s < e.e
"""

QUERIES["interval_overlap"] = q_interval_overlap
ORACLES["interval_overlap"] = ORACLE_INTERVAL_OVERLAP


_DJV_CUTOFF = "1997-07-01"


def q_delta_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental join-view maintenance (operators/incremental.py
    `maintained_join_view`): orders ⋈ lineitem split into base
    (o_orderdate / l_shipdate before the cutoff) and insert-only
    deltas; the refreshed view is J_old + ΔJ (ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB) —
    never a rescan of old⋈old at refresh time. Aggregated per order
    status; the oracle is the FULL join recomputed from scratch, so
    any row lost or duplicated by the delta algebra is a hash
    mismatch."""
    from kg_etl_spark.operators.incremental import maintained_join_view

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderdate"
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice"
    )
    cut = F.lit(_DJV_CUTOFF).cast("date")
    a_old = orders.filter(F.col("o_orderdate") < cut)
    a_new = orders.filter(F.col("o_orderdate") >= cut)
    b_old = li.filter(F.col("l_shipdate").cast("date") < cut).withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    b_new = li.filter(F.col("l_shipdate").cast("date") >= cut).withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    view = maintained_join_view(a_old, a_new, b_old, b_new, on="o_orderkey")
    return view.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 2
        ).alias("revenue"),
    )


ORACLE_DELTA_JOIN_VIEW = """
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderstatus
"""

QUERIES["delta_join_view"] = q_delta_join_view
ORACLES["delta_join_view"] = ORACLE_DELTA_JOIN_VIEW


# --- Sequential pattern support (gap-allowed A -> B -> C) ----------------


def q_sequential_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support counts for every gap-allowed 3-step behavioural pattern
    A → B → C over per-user event streams: a user supports (A,B,C) iff
    some A-event strictly precedes some B-event that strictly precedes
    some C-event. Matching uses the greedy earliest-occurrence rule
    (take the FIRST A, then the FIRST B after it, then any later C) —
    exact for existence queries, the same normal form PrefixSpan's
    projected databases use (Pei et al., ICDE 2001).

    Determinism: all steps are min/exists over exact timestamps;
    strictly-after (>) comparisons make same-instant events
    non-chainable by contract.

    100 TB shape: two keyed aggregates and one ≤125-row count — the
    former three user-keyed hash joins (×|T| then ×|T|² event fan-out,
    plus a corpus-scale distinct) are replaced by per-(user, type)
    sorted timestamp arrays combined per user with array functions:
    t1 = first A, t2 = first B after t1 (binary lookup in B's sorted
    array), support iff C's max > t2 — the identical greedy normal
    form, r12 A/B 1.19 → 0.79 s bit-identical. Per-group state is one
    user's timestamps of one type (the same per-user bound the
    sessionize/pack operators rely on); the type domain (|T|=5) caps
    the per-user combo expansion at |T|³."""
    ev = read_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    per_ut = ev.groupBy("user_id", "event_type").agg(
        F.sort_array(F.collect_list("ts")).alias("tss")
    )
    per_u = per_ut.groupBy("user_id").agg(
        F.collect_list(F.struct("event_type", "tss")).alias("tl")
    )
    # For each present type a (t1 = its first ts), each type b with an
    # occurrence strictly after t1 (t2 = the first such), emit every type
    # c with an occurrence strictly after t2. Same existence semantics as
    # the join form; each (a,b,c) appears at most once per user, so the
    # final count is the user-support count. Every array access is get():
    # an out-of-range subscript raises under ANSI mode, and a type with
    # no occurrence after t1 (or an all-NULL ts group, whose array is
    # empty) must yield NULL and drop out instead.
    pat = F.expr(
        """
        flatten(transform(tl, a ->
          flatten(transform(
            filter(
              transform(tl, b -> named_struct(
                'tb', b.event_type,
                't2', get(filter(b.tss, x -> x > get(a.tss, 0)), 0))),
              p -> p.t2 is not null),
            bp -> transform(
              filter(tl, c -> get(c.tss, size(c.tss) - 1) > bp.t2),
              c -> named_struct(
                'ta', a.event_type, 'tb', bp.tb, 'tc', c.event_type))
          ))
        ))
        """
    )
    combos = per_u.select(F.explode(pat).alias("p"))
    return combos.groupBy(
        F.col("p.ta").alias("ta"), F.col("p.tb").alias("tb"), F.col("p.tc").alias("tc")
    ).agg(F.count(F.lit(1)).alias("support"))


ORACLE_SEQUENTIAL_PATTERNS = """
WITH t1 AS (
  SELECT user_id, event_type AS ta, MIN(ts) AS t1
  FROM events GROUP BY 1, 2
), t2 AS (
  SELECT e.user_id, t1.ta, e.event_type AS tb, MIN(e.ts) AS t2
  FROM events e JOIN t1 ON t1.user_id = e.user_id AND e.ts > t1.t1
  GROUP BY 1, 2, 3
), hits AS (
  SELECT DISTINCT e.user_id, t2.ta, t2.tb, e.event_type AS tc
  FROM events e JOIN t2 ON t2.user_id = e.user_id AND e.ts > t2.t2
)
SELECT ta, tb, tc, COUNT(*) AS support
FROM hits GROUP BY 1, 2, 3
"""

QUERIES["sequential_patterns"] = q_sequential_patterns
ORACLES["sequential_patterns"] = ORACLE_SEQUENTIAL_PATTERNS


# --- Inter-arrival statistics (burstiness / dispersion readout) ---------


def q_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival process statistics per event type: mean gap,
    squared coefficient of variation CV² = Var/μ² (≈1 for a Poisson
    process, >1 bursty, <1 regular), and the Goh–Barabási burstiness
    B = (σ−μ)/(σ+μ) — the standard diagnosis before fitting any
    arrival model. Gaps are exact micros (long); Var from exact
    decimal power sums Σg, Σg² (population form), so only the final
    ÷/√ touch doubles, 6 dp out.

    100 TB shape: the per-type successor comes from the scale-safe
    stream lead (operators/adjacent.py — range-bucketed cells, NOT a
    cardinality-5 window, which would sort n/|types| rows in one
    task), then one ≤|types|-row decimal aggregate. The lead form
    emits the identical gap multiset as the window-lag form the
    oracle spells (each consecutive pair contributes its gap exactly
    once, attributed to the earlier row instead of the later). Σg² in
    decimal(38,0) holds gaps to ~1e13 s at any corpus size."""
    from kg_etl_spark.operators.adjacent import stream_lead

    ev = read_table(spark, sf_dir, "events")
    gaps = (
        stream_lead(ev, ["ts"])
        .select(
            "event_type",
            (F.unix_micros("next_ts") - F.unix_micros("ts")).alias("g"),
        )
        .filter(F.col("g").isNotNull())
    )
    DEC = "decimal(38,0)"
    agg = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum(F.col("g").cast(DEC)).alias("s1"),
        F.sum((F.col("g").cast(DEC) * F.col("g").cast(DEC)).cast(DEC)).alias("s2"),
    )
    n = F.col("n_gaps").cast("double")
    mu = F.col("s1").cast("double") / n
    var = F.col("s2").cast("double") / n - mu * mu
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    return agg.select(
        "event_type",
        "n_gaps",
        F.round(mu / 1e6, 6).alias("mean_gap_s"),
        F.when(mu > 0, F.round(F.greatest(var, F.lit(0.0)) / (mu * mu), 6)).alias("cv2"),
        F.when(sd + mu > 0, F.round((sd - mu) / (sd + mu), 6)).alias("burstiness"),
    )


ORACLE_INTERARRIVAL = """
WITH gaps AS (
  SELECT event_type,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY event_type
                                                ORDER BY ts, event_id) AS g
  FROM events
), agg AS (
  SELECT event_type, COUNT(*) AS n_gaps,
         SUM(CAST(g AS DECIMAL(38,0))) AS s1,
         SUM(CAST(CAST(g AS DECIMAL(38,0)) * CAST(g AS DECIMAL(38,0))
                  AS DECIMAL(38,0))) AS s2
  FROM gaps WHERE g IS NOT NULL
  GROUP BY event_type
)
SELECT event_type, n_gaps,
       ROUND(CAST(s1 AS DOUBLE) / n_gaps / 1e6, 6) AS mean_gap_s,
       CASE WHEN CAST(s1 AS DOUBLE) / n_gaps > 0
            THEN ROUND(GREATEST(CAST(s2 AS DOUBLE) / n_gaps
                                - (CAST(s1 AS DOUBLE) / n_gaps)
                                  * (CAST(s1 AS DOUBLE) / n_gaps), 0.0)
                       / ((CAST(s1 AS DOUBLE) / n_gaps)
                          * (CAST(s1 AS DOUBLE) / n_gaps)), 6)
       END AS cv2,
       CASE WHEN SQRT(GREATEST(CAST(s2 AS DOUBLE) / n_gaps
                               - (CAST(s1 AS DOUBLE) / n_gaps)
                                 * (CAST(s1 AS DOUBLE) / n_gaps), 0.0))
                 + CAST(s1 AS DOUBLE) / n_gaps > 0
            THEN ROUND((SQRT(GREATEST(CAST(s2 AS DOUBLE) / n_gaps
                                      - (CAST(s1 AS DOUBLE) / n_gaps)
                                        * (CAST(s1 AS DOUBLE) / n_gaps), 0.0))
                        - CAST(s1 AS DOUBLE) / n_gaps)
                       / (SQRT(GREATEST(CAST(s2 AS DOUBLE) / n_gaps
                                        - (CAST(s1 AS DOUBLE) / n_gaps)
                                          * (CAST(s1 AS DOUBLE) / n_gaps), 0.0))
                          + CAST(s1 AS DOUBLE) / n_gaps), 6)
       END AS burstiness
FROM agg
"""

QUERIES["interarrival_stats"] = q_interarrival_stats
ORACLES["interarrival_stats"] = ORACLE_INTERARRIVAL


# --- First-order Markov transitions over the GLOBAL event timeline -----


def q_global_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix between event types over
    the GLOBAL event timeline (total order ts, event_id): exact counts
    of consecutive (from_type, to_type) pairs plus the Laplace-smoothed
    row-stochastic probability (add-1 over the observed type domain) —
    the training prior a sequence model consumes.

    100 TB shape: the global successor rides the GROUP-FREE scale-safe
    stream lead (operators/adjacent.py with_next, group_cols=[]) — a
    partition-less LEAD window is the canonical one-task global sort,
    the exact failure the adjacent/rankdev devices exist to kill; here
    the timeline splits into range-bucketed cells with a 64-row carry.
    Downstream is one |types|²-row hash aggregate + a broadcast domain
    scalar. Determinism: counts exact; (n+1)/(tot+k) is one IEEE
    division, bit-identical cross-engine before the 6 dp round."""
    from kg_etl_spark.operators.adjacent import with_next

    ev = read_table(spark, sf_dir, "events")
    led = with_next(ev, [], "ts", ["event_id"], ["event_type"])
    pairs = (
        led.filter(F.col("next_event_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    tot = pairs.groupBy("from_type").agg(F.sum("n_trans").alias("_tot"))
    dom = ev.agg(F.countDistinct("event_type").alias("_k"))
    return (
        pairs.join(tot, "from_type")
        .crossJoin(F.broadcast(dom))
        .select(
            "from_type",
            "to_type",
            "n_trans",
            F.round(
                (F.col("n_trans") + 1).cast("double")
                / (F.col("_tot") + F.col("_k")).cast("double"),
                6,
            ).alias("prob"),
        )
    )


ORACLE_GLOBAL_TYPE_TRANSITIONS = """
WITH led AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (ORDER BY ts, event_id) AS to_type
  FROM events
), pairs AS (
  SELECT from_type, to_type, COUNT(*) AS n_trans
  FROM led WHERE to_type IS NOT NULL GROUP BY 1, 2
), tot AS (SELECT from_type, SUM(n_trans) AS tot FROM pairs GROUP BY 1),
dom AS (SELECT COUNT(DISTINCT event_type) AS k FROM events)
SELECT p.from_type, p.to_type, CAST(p.n_trans AS BIGINT) AS n_trans,
       ROUND(CAST(p.n_trans + 1 AS DOUBLE) / CAST(t.tot + d.k AS DOUBLE), 6) AS prob
FROM pairs p JOIN tot t USING (from_type), dom d
"""

QUERIES["global_type_transitions"] = q_global_type_transitions
ORACLES["global_type_transitions"] = ORACLE_GLOBAL_TYPE_TRANSITIONS


# --- CUSUM drift detection over the daily series ------------------------


def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift monitor per event type (Page 1954): the
    recursive s_t = max(0, s_{t-1} + (x_t − μ − κ)) unrolled into the
    CLOSED prefix form s_t = P_t − min_{j≤t} P_j with
    P_t = Σ_{i≤t} (x_i − μ − κ) — recursion becomes two plain windows
    (running sum + running min), the formulation that distributes.
    μ = the type's own series mean, κ = 0.5σ (population), alarm when
    s_t > 4σ — the textbook parameterization.

    Determinism: x is the exact 2 dp daily total; μ, σ, P and the
    running min are doubles but every engine computes the identical
    expression tree (IEEE ops on identical inputs in identical frame
    order — ROWS frames over a unique (type, day) grain).

    100 TB shape: corpus work is the one daily hash aggregate; the
    windows run over the calendar-bounded MODEL-SIZED daily frame."""
    daily = _daily_totals(spark, sf_dir)
    # day_value is exact at 2 dp, so the power sums are exact decimals
    # (order-free); mu/sd come out of single IEEE divisions — a plain
    # double avg() would be aggregation-order-dependent cross-engine
    d2 = F.col("day_value").cast("decimal(28,2)")
    stats = (
        daily.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(d2).alias("_s1"),
            F.sum((d2 * d2).cast("decimal(38,4)")).alias("_s2"),
        )
        .select(
            "event_type",
            (F.col("_s1").cast("double") / F.col("_n")).alias("_mu"),
            F.sqrt(
                F.greatest(
                    F.col("_s2").cast("double") / F.col("_n")
                    - (F.col("_s1").cast("double") / F.col("_n"))
                    * (F.col("_s1").cast("double") / F.col("_n")),
                    F.lit(0.0),
                )
            ).alias("_sd"),
        )
    )
    j = daily.join(F.broadcast(stats), "event_type")
    dev = F.col("day_value") - F.col("_mu") - 0.5 * F.col("_sd")
    wc = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    p = F.sum(dev).over(wc)
    cusum = p - F.min(p).over(wc)
    out = j.select(
        "event_type",
        "day",
        F.round("day_value", 2).alias("day_value"),
        F.round(cusum, 6).alias("cusum"),
        (cusum > 4 * F.col("_sd")).alias("alarm"),
    )
    return out


ORACLE_CUSUM = """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS day_value
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type,
         CAST(SUM(CAST(day_value AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*) AS mu,
         SQRT(GREATEST(
           CAST(SUM(CAST(CAST(day_value AS DECIMAL(28,2))
                         * CAST(day_value AS DECIMAL(28,2)) AS DECIMAL(38,4)))
                AS DOUBLE) / COUNT(*)
           - (CAST(SUM(CAST(day_value AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*))
             * (CAST(SUM(CAST(day_value AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*)),
           0.0)) AS sd
  FROM daily GROUP BY 1
), p AS (
  SELECT d.event_type, d.day, d.day_value, s.sd,
         SUM(d.day_value - s.mu - 0.5 * s.sd) OVER (
           PARTITION BY d.event_type ORDER BY d.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pf
  FROM daily d JOIN stats s USING (event_type)
), c AS (
  SELECT event_type, day, day_value, sd,
         pf - MIN(pf) OVER (PARTITION BY event_type ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
  FROM p
)
SELECT event_type, day, ROUND(day_value, 2) AS day_value,
       ROUND(cusum, 6) AS cusum, cusum > 4 * sd AS alarm
FROM c
"""

QUERIES["cusum_drift"] = q_cusum_drift
ORACLES["cusum_drift"] = ORACLE_CUSUM


# --- Out-of-order (lateness) audit ---------------------------------------


def q_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time disorder audit per type: an event is LATE when its
    event time precedes the max event time of any event that ARRIVED
    before it (arrival order = event_id). Reports late share and the
    maximum lateness — the numbers that size a streaming watermark
    before deploying one.

    100 TB shape: the running arrival-max rides `with_prefix_max`
    (operators/adjacent.py) — the grouped running-aggregate device,
    NOT a cardinality-5 window over the raw stream — then one
    ≤|types|-row aggregate. Lateness is exact integer micros."""
    from kg_etl_spark.operators.adjacent import with_prefix_max

    ev = read_table(spark, sf_dir, "events").select(
        "event_type", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    run = with_prefix_max(ev, ["event_type"], "event_id", [], "ts_us")
    late = (F.col("prefix_max_excl").isNotNull()) & (
        F.col("ts_us") < F.col("prefix_max_excl")
    )
    lateness = F.when(late, F.col("prefix_max_excl") - F.col("ts_us")).otherwise(
        F.lit(0)
    )
    return run.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(late.cast("long")).alias("n_late"),
        F.max(lateness).alias("max_lateness_us"),
        F.round(
            F.sum(late.cast("long")).cast("double") / F.count(F.lit(1)), 6
        ).alias("late_share"),
    )


ORACLE_LATENESS = """
WITH run AS (
  SELECT event_type, epoch_us(ts) AS ts_us,
         MAX(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
  FROM events
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN pmax IS NOT NULL AND ts_us < pmax THEN 1 ELSE 0 END)
            AS BIGINT) AS n_late,
       CAST(MAX(CASE WHEN pmax IS NOT NULL AND ts_us < pmax
                     THEN pmax - ts_us ELSE 0 END) AS BIGINT) AS max_lateness_us,
       ROUND(CAST(SUM(CASE WHEN pmax IS NOT NULL AND ts_us < pmax
                           THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
         AS late_share
FROM run GROUP BY event_type
"""

QUERIES["lateness_audit"] = q_lateness_audit
ORACLES["lateness_audit"] = ORACLE_LATENESS


def q_event_gap_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type inter-arrival-gap quantiles (p50/p95, linear
    interpolation — SQL percentile_cont semantics) WITHOUT buffering a
    group's values in one aggregate: gaps ride the scale-safe stream
    lead, per-group order-statistic ranks ride grouped_row_number
    (operators/rankdev.py), and each quantile interpolates the two
    bracketing ranks. A per-group exact-percentile AGGREGATE
    materializes all n/|types| values in one buffer — the same
    single-task concentration the device family exists to kill; this
    form is exact at any scale. Tie order among equal gaps is
    irrelevant (the value at a rank is tie-invariant), so no tiebreak
    column is needed.

    Reference parity: the reference computes series statistics with
    single-process pandas describe()/quantile() (chaayagirimon/kg-etl
    etl/transform/*.py); the two-phase rank is the distributed form.
    """
    from kg_etl_spark.operators.adjacent import stream_lead
    from kg_etl_spark.operators.rankdev import grouped_row_number

    ev = read_table(spark, sf_dir, "events")
    led = stream_lead(ev, ["ts"])
    gaps = led.filter(F.col("next_ts").isNotNull()).select(
        "event_type",
        (F.unix_micros("next_ts") - F.unix_micros("ts")).alias("gap_us"),
    )
    # lazy lineage cut (r11): the rank device's stats probe is the first
    # consumer and otherwise re-executes the whole stream-lead pipeline
    # (its shuffle included) just for count/min/max of gap_us — the same
    # uncut-device-input cost 2d8606a removed from the AUC/quantile
    # queries. Lazy: the probe job materializes the narrow (type, gap)
    # frame inline and the ranking pass scans blocks instead of
    # re-running the device.
    gaps = gaps.lineage_cut(eager=False)
    ranked = grouped_row_number(
        gaps, ["event_type"], "gap_us", [], out_col="rn", count_col="n"
    )

    def bracket(p: float, tag: str):
        pos = (F.col("n") - 1).cast("double") * F.lit(p)
        lo = F.floor(pos).cast("long") + 1
        hi = (-F.floor(-pos)).cast("long") + 1
        return [
            F.max(F.when(F.col("rn") == lo, F.col("gap_us"))).alias("_lo" + tag),
            F.max(F.when(F.col("rn") == hi, F.col("gap_us"))).alias("_hi" + tag),
        ]

    agg = ranked.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_gaps"),
        *bracket(0.5, "50"),
        *bracket(0.95, "95"),
    )

    def interp(tag: str, p: float):
        pos = (F.col("n_gaps") - 1).cast("double") * F.lit(p)
        frac = pos - F.floor(pos)
        lo, hi = F.col("_lo" + tag).cast("double"), F.col("_hi" + tag).cast("double")
        # publish in SECONDS: engines differ in the last ulp of the
        # interpolation arithmetic at 1e10-µs magnitude, where a 6dp
        # round cannot absorb it; at seconds scale it vanishes
        return F.round((lo + frac * (hi - lo)) / F.lit(1e6), 6)

    return agg.select(
        "event_type",
        "n_gaps",
        interp("50", 0.5).alias("p50_s"),
        interp("95", 0.95).alias("p95_s"),
    )


ORACLE_GAP_QUANTILES = """
WITH g AS (
  SELECT event_type,
         epoch_us(LEAD(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id))
           - epoch_us(ts) AS gap_us
  FROM events
)
SELECT event_type, CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
       ROUND(quantile_cont(gap_us, 0.5) / 1e6, 6) AS p50_s,
       ROUND(quantile_cont(gap_us, 0.95) / 1e6, 6) AS p95_s
FROM g WHERE gap_us IS NOT NULL GROUP BY event_type
"""

QUERIES["event_gap_quantiles"] = q_event_gap_quantiles
ORACLES["event_gap_quantiles"] = ORACLE_GAP_QUANTILES


def q_heavy_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy-hitter profile of the event user-key distribution:
    top-20 users by event count with corpus share — the skew
    diagnostic a partitioner consults before salting a key
    (complements cms_heavy_hitters, which answers from a mergeable
    sketch). ORDER BY n DESC LIMIT k plans as TakeOrderedAndProject —
    a per-partition top-k tournament, never a global sort; the corpus
    total attaches as the documented 1-row broadcast scalar cross."""
    ev = read_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    total = ev.agg(F.count(F.lit(1)).alias("_t"))
    top = counts.orderBy(F.col("n_events").desc(), F.col("user_id").asc()).limit(20)
    return top.join(F.broadcast(total)).select(
        "user_id",
        "n_events",
        F.round(F.col("n_events").cast("double") / F.col("_t"), 6).alias("share"),
    )


ORACLE_HEAVY_KEYS = """
WITH c AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events FROM events GROUP BY user_id
), t AS (SELECT COUNT(*) AS n FROM events)
SELECT user_id, n_events, ROUND(CAST(n_events AS DOUBLE) / n, 6) AS share
FROM c, t ORDER BY n_events DESC, user_id LIMIT 20
"""

QUERIES["heavy_key_profile"] = q_heavy_key_profile
ORACLES["heavy_key_profile"] = ORACLE_HEAVY_KEYS


def q_type_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type burstiness of the event stream: the Fano factor
    (sample variance / mean) of the daily count series — ≈1 is
    Poisson-like, >1 over-dispersed/bursty. THE summary a pipeline
    consults before trusting uniform range partitioning of a time key
    (the round-7 equi-depth re-split exists precisely for high-Fano
    streams). Corpus-scale work is one (type, day) hash aggregate;
    the variance runs over the calendar-bounded daily frame."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        (F.unix_micros("ts") / F.lit(86_400_000_000)).cast("long").alias("day"),
    ).agg(F.count(F.lit(1)).alias("c"))
    return daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(F.var_samp(F.col("c").cast("double")) / F.avg(F.col("c").cast("double")), 6).alias("fano"),
    )


ORACLE_BURSTINESS = """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS c
  FROM events GROUP BY 1, 2
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(VAR_SAMP(c) / AVG(c), 6) AS fano
FROM daily GROUP BY event_type
"""

QUERIES["type_burstiness"] = q_type_burstiness
ORACLES["type_burstiness"] = ORACLE_BURSTINESS


# --- Markov top-1 next-event accuracy (round 10) --------------------------


def q_markov_top1_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-evaluation of the first-order per-user Markov model: for
    each from-type, the mode next-type (count desc, type asc
    tie-break) and the share of that type's transitions it explains —
    top-1 next-event accuracy, the baseline every sequence model must
    beat and the same per-user (ts, event_id) grain as
    event_transitions/sessionize.

    100 TB shape: one user-partitioned lead window (user_id is
    high-cardinality — partitions are journey-sized), one |types|²
    hash aggregate, then argmax + share on the model-sized count
    frame.  Determinism: the (n desc, to_type asc) argmax is a total
    order; accuracy is one IEEE divide of exact counts."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts")), F.col("event_id")
    )
    t = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = t.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    best = counts.groupBy("from_type").agg(
        F.min_by(
            F.col("to_type"), F.struct((-F.col("n")).alias("a"), F.col("to_type").alias("b"))
        ).alias("top1_next"),
        F.max("n").alias("_won"),
        F.sum("n").cast("long").alias("n_transitions"),
    )
    return best.select(
        "from_type",
        "top1_next",
        "n_transitions",
        F.round(
            F.col("_won").cast("double") / F.col("n_transitions").cast("double"), 6
        ).alias("top1_accuracy"),
    ).orderBy("from_type")


ORACLE_MARKOV_TOP1 = """
WITH t AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS to_type
  FROM events
), c AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2
), tot AS (
  SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_transitions FROM c GROUP BY 1
), best AS (
  SELECT from_type, to_type AS top1_next, n
  FROM c QUALIFY ROW_NUMBER() OVER (PARTITION BY from_type
                                    ORDER BY n DESC, to_type ASC) = 1
)
SELECT b.from_type, b.top1_next, t.n_transitions,
       ROUND(CAST(b.n AS DOUBLE) / CAST(t.n_transitions AS DOUBLE), 6)
         AS top1_accuracy
FROM best b JOIN tot t USING (from_type)
"""

QUERIES["markov_top1_accuracy"] = q_markov_top1_accuracy
ORACLES["markov_top1_accuracy"] = ORACLE_MARKOV_TOP1
