"""Event analytics over the ``events`` table: time-bucket rollups,
sessionization, pivots, JSON.

events.ts is nanosecond parquet: Spark reads int64 + converts to µs
(sources.registry.read_table); oracles CAST(ts AS TIMESTAMP) for the same
truncation.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from datafusion_postgres_spark.queries import register, t


@register("events_hourly_rollup", oracle="""
SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
       CAST(extract(hour FROM CAST(ts AS TIMESTAMP)) AS INTEGER) AS hour,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
""")
def events_hourly(spark, sf_dir):
    # decimal sum internally (exact, order-independent), DOUBLE out — the
    # driver's value hash renders Decimal('x.x0') vs the float path
    # differently (round-1 hash_match failure).
    ev = t(spark, sf_dir, "events")
    return (ev.groupBy(
                F.date_trunc("hour", F.col("ts")).cast("date").alias("day"),
                F.hour("ts").alias("hour"),
                "event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("value").cast("decimal(12,2)"))
                 .cast("double").alias("total_value"))
            .orderBy("day", "hour", "event_type"))


@register("events_sessionize", oracle="""
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN CAST(ts AS TIMESTAMP) - LAG(CAST(ts AS TIMESTAMP))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events),
sess AS (
  SELECT user_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked)
SELECT user_id, CAST(COUNT(DISTINCT session_id) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id ORDER BY user_id
""")
def events_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity): the classic
    lag → flag → running-sum pattern; one shuffle on user_id reused by both
    windows (same partitioning)."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # TIMESTAMP_NTZ has no direct long cast; go through LTZ (session tz UTC)
    secs = F.col("ts").cast("timestamp").cast("long")
    gap = secs - F.lag(secs).over(w)
    marked = ev.select(
        "user_id", "ts", "event_id",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0).alias("new_session"))
    sess = marked.select(
        "user_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)).alias("session_id"))
    return (sess.groupBy("user_id")
            .agg(F.countDistinct("session_id").cast("bigint").alias("n_sessions"),
                 F.count("*").alias("n_events"))
            .orderBy("user_id"))


@register("events_sessionize_bucketed", oracle="""
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN CAST(ts AS TIMESTAMP) - LAG(CAST(ts AS TIMESTAMP))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events),
sess AS (
  SELECT user_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked)
SELECT user_id, CAST(COUNT(DISTINCT session_id) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id ORDER BY user_id
""")
def events_sessionize_bucketed(spark, sf_dir):
    """Hot-key-immune sessionization: identical session ids to
    events_sessionize but the heavy window partitions on
    (user_id, time_bucket) + a one-row-per-bucket merge pass
    (operators/events.py sessionize_bucketed). Oracle: identical to
    events_sessionize — outputs must be equal."""
    from datafusion_postgres_spark.operators.events import sessionize_bucketed
    ev = t(spark, sf_dir, "events")
    out = sessionize_bucketed(ev, bucket_width_s=21600)  # 6h, no sizing job
    return (out.groupBy("user_id")
            .agg(F.countDistinct("session_id").cast("bigint")
                 .alias("n_sessions"),
                 F.count("*").alias("n_events"))
            .orderBy("user_id"))


@register("events_pivot_filter", oracle="""
SELECT user_id,
       COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
       COUNT(*) FILTER (WHERE event_type = 'view') AS n_view,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       COUNT(*) FILTER (WHERE event_type = 'error') AS n_error,
       COUNT(*) FILTER (WHERE event_type = 'signup') AS n_signup
FROM events GROUP BY user_id ORDER BY user_id
""")
def events_pivot(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    aggs = [F.count_if(F.col("event_type") == v).alias(f"n_{v}")
            for v in ("click", "view", "purchase", "error", "signup")]
    return ev.groupBy("user_id").agg(*aggs).orderBy("user_id")


@register("events_json_extract", oracle="""
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
FROM events WHERE event_id < 100 ORDER BY event_id
""")
def events_json(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (ev.where(F.col("event_id") < 100)
            .select("event_id",
                    F.get_json_object("props", "$.k").cast("bigint")
                    .alias("k_val"))
            .orderBy("event_id"))


@register("events_dow_stats", oracle="""
SELECT CAST(extract(dow FROM CAST(ts AS TIMESTAMP)) AS INTEGER) AS dow,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_value
FROM events GROUP BY 1 ORDER BY 1
""")
def events_dow(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    # PG/DuckDB dow: 0=Sunday; Spark dayofweek: 1=Sunday.
    # avg = exact decimal sum -> one double division (AVG of raw doubles is
    # summation-order-dependent; ROUND can't mask a tie under the driver's
    # partitioning).
    return (ev.groupBy((F.dayofweek("ts") - 1).alias("dow"))
            .agg(F.count("*").alias("n"),
                 (F.sum(F.col("value").cast("decimal(12,2)")).cast("double") /
                  F.count("*")).alias("avg_value"))
            .orderBy("dow"))


@register("events_funnel", oracle="""
WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
      JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
      JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
SELECT 'view' AS stage, 1 AS stage_ord, CAST(count(*) AS BIGINT) AS n_users
FROM v
UNION ALL
SELECT 'click', 2, CAST(count(*) AS BIGINT) FROM c
UNION ALL
SELECT 'purchase', 3, CAST(count(*) AS BIGINT) FROM p
ORDER BY stage_ord
""")
def events_funnel(spark, sf_dir):
    """Ordered view -> click -> purchase funnel: users completing each
    stage strictly after the previous one (operators/events.py; every
    stage join + min-aggregate shares the user_id partitioning)."""
    from datafusion_postgres_spark.operators.events import funnel_counts
    ev = t(spark, sf_dir, "events")
    return funnel_counts(ev, ["view", "click", "purchase"])


@register("events_cohort_retention", oracle="""
WITH first AS (
  SELECT user_id, min(date_trunc('week', ts)) AS cohort_ts
  FROM events GROUP BY user_id),
activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS period_ts FROM events)
SELECT CAST(f.cohort_ts AS DATE) AS cohort,
       CAST((epoch(a.period_ts) - epoch(f.cohort_ts)) / 604800 AS INTEGER)
         AS period_n,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM activity a JOIN first f USING (user_id)
WHERE (epoch(a.period_ts) - epoch(f.cohort_ts)) / 604800 < 8
GROUP BY 1, 2 ORDER BY 1, 2
""")
def events_cohort_retention(spark, sf_dir):
    """Weekly cohort retention triangle (operators/events.py): first-seen
    week x return week, distinct users — two user-keyed shuffles, output
    bounded by max_periods^2 regardless of corpus size."""
    from datafusion_postgres_spark.operators.events import cohort_retention
    ev = t(spark, sf_dir, "events")
    return cohort_retention(ev, "week")


@register("events_attribution", oracle="""
SELECT p.user_id,
       v.event_id AS view_id,
       p.event_id AS purchase_id
FROM events p JOIN events v
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
ORDER BY purchase_id, view_id
""")
def events_attribution(spark, sf_dir):
    """Purchases attributed to same-user views within the preceding
    hour (interval join keyed on user_id — one co-partitioned shuffle
    pair)."""
    ev = t(spark, sf_dir, "events")
    v = ev.where("event_type = 'view'").select(
        F.col("user_id").alias("vu"), F.col("event_id").alias("view_id"),
        F.col("ts").alias("vts"))
    p = ev.where("event_type = 'purchase'").select(
        F.col("user_id").alias("user_id"),
        F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts"))
    return (p.join(v, F.expr(
                "vu = user_id AND pts > vts AND "
                "pts <= vts + interval 1 hour"))
            .select("user_id", "view_id", "purchase_id")
            .orderBy("purchase_id", "view_id"))


@register("events_twap", oracle="""
WITH s AS (
  SELECT user_id, event_id,
         CAST(value AS DECIMAL(12,2)) AS v,
         LEAD(epoch_us(CAST(ts AS TIMESTAMP)))
           OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - epoch_us(CAST(ts AS TIMESTAMP)) AS dur_us
  FROM events)
SELECT user_id,
       CAST(COUNT(*) + 1 AS BIGINT) AS n_samples,
       CAST(SUM(dur_us) AS BIGINT) AS span_us,
       ROUND(CAST(SUM(v * dur_us) AS DOUBLE)
             / CAST(SUM(dur_us) AS DOUBLE), 6) + 0.0 AS twa
FROM s WHERE dur_us IS NOT NULL
GROUP BY user_id ORDER BY user_id
""")
def events_twap(spark, sf_dir):
    """Time-weighted average event value per user (step interpolation:
    each sample holds until the next; operators/events.py). Exact
    decimal x integer-microsecond weighting keeps the result
    hash-identical across engines."""
    from datafusion_postgres_spark.operators.events import time_weighted_avg
    ev = t(spark, sf_dir, "events")
    return time_weighted_avg(ev).orderBy("user_id")
