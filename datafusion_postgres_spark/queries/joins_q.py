"""Temporal-join queries: as-of join and binned point-in-interval join
(operators/joins.py) over the events table, each with an exact ANSI-SQL
oracle (the as-of pick is re-expressed as a ROW_NUMBER over candidates,
the binned range join as an hour-bucket BETWEEN)."""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_postgres_spark.queries import register, sorted_small, t
from datafusion_postgres_spark.operators.joins import (
    asof_join, gaps_islands, point_in_interval_join,
)


@register("join_asof_events", oracle="""
SELECT purchase_id, user_id, view_id, gap_us, view_value FROM (
  SELECT p.event_id AS purchase_id, p.user_id,
         v.event_id AS view_id,
         date_diff('microsecond', CAST(v.ts AS TIMESTAMP),
                   CAST(p.ts AS TIMESTAMP)) AS gap_us,
         v.value AS view_value,
         ROW_NUMBER() OVER (PARTITION BY p.event_id
                            ORDER BY v.ts DESC, v.event_id DESC) AS rn
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
    ON v.user_id = p.user_id AND v.ts <= p.ts) c
WHERE rn = 1 ORDER BY purchase_id
""")
def join_asof_events(spark, sf_dir):
    """Backward as-of join: each purchase picks the latest at-or-prior
    view by the same user (ties on ts broken by greatest view_id). The
    Spark plan is ONE user_id shuffle + window — no join node; the oracle
    is the quadratic candidate ROW_NUMBER formulation."""
    ev = t(spark, sf_dir, "events")
    p = (ev.where(F.col("event_type") == "purchase")
         .select("event_id", "user_id", "ts"))
    v = (ev.where(F.col("event_type") == "view")
         .select("user_id", F.col("event_id").alias("view_id"),
                 F.col("ts").alias("vts"), F.col("value").alias("view_value")))
    res = asof_join(p, v, on="user_id", left_ts="ts", right_ts="vts",
                    right_cols=["view_id", "view_value"], tie_col="view_id")
    gap = (F.unix_micros(F.col("ts").cast("timestamp")) -
           F.unix_micros(F.col("vts").cast("timestamp")))
    # sorted_small, not orderBy: RangePartitioning's sampling pass would
    # re-execute the whole window plan a second time (~2x on the bench);
    # 20k output rows sort fine in one partition
    return sorted_small(
        res.select(F.col("event_id").alias("purchase_id"), "user_id",
                   "view_id", gap.alias("gap_us"), "view_value"),
        "purchase_id")


@register("join_asof_bucketed", oracle="""
SELECT purchase_id, user_id, view_id, gap_us, view_value FROM (
  SELECT p.event_id AS purchase_id, p.user_id,
         v.event_id AS view_id,
         date_diff('microsecond', CAST(v.ts AS TIMESTAMP),
                   CAST(p.ts AS TIMESTAMP)) AS gap_us,
         v.value AS view_value,
         ROW_NUMBER() OVER (PARTITION BY p.event_id
                            ORDER BY v.ts DESC, v.event_id DESC) AS rn
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
    ON v.user_id = p.user_id AND v.ts <= p.ts) c
WHERE rn = 1 ORDER BY purchase_id
""")
def join_asof_bucketed_q(spark, sf_dir):
    """Hot-key-immune as-of join: same semantics as join_asof_events but
    the window partitions on (user_id, time_bucket) + a tiny carry
    window — the 100 TB path for a key owning a large share of the
    stream (operators/joins.py asof_join_bucketed). Oracle: identical
    to join_asof_events (the outputs must be equal)."""
    from datafusion_postgres_spark.operators.joins import asof_join_bucketed
    ev = t(spark, sf_dir, "events")
    p = (ev.where(F.col("event_type") == "purchase")
         .select("event_id", "user_id", "ts"))
    v = (ev.where(F.col("event_type") == "view")
         .select("user_id", F.col("event_id").alias("view_id"),
                 F.col("ts").alias("vts"), F.col("value").alias("view_value")))
    res = asof_join_bucketed(p, v, on="user_id", left_ts="ts",
                             right_ts="vts",
                             right_cols=["view_id", "view_value"],
                             tie_col="view_id",
                             bucket_width=3_600_000_000)  # hourly, no job
    gap = (F.unix_micros(F.col("ts").cast("timestamp")) -
           F.unix_micros(F.col("vts").cast("timestamp")))
    return sorted_small(
        res.select(F.col("event_id").alias("purchase_id"), "user_id",
                   "view_id", gap.alias("gap_us"), "view_value"),
        "purchase_id")


@register("join_range_islands", oracle="""
WITH hourly AS (
  SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) AS BIGINT) AS hr,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
busy AS (SELECT hr FROM hourly WHERE n > (SELECT AVG(n) FROM hourly)),
grp AS (SELECT hr, hr - ROW_NUMBER() OVER (ORDER BY hr) AS g FROM busy),
islands AS (
  SELECT MIN(hr) AS island_hr, MAX(hr) AS island_end,
         CAST(COUNT(*) AS BIGINT) AS n_hours
  FROM grp GROUP BY g),
err AS (
  SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) AS BIGINT) AS hr,
         value
  FROM events WHERE event_type = 'error')
SELECT i.island_hr, i.n_hours,
       CAST(COUNT(*) AS BIGINT) AS n_errors,
       CAST(COALESCE(SUM(CAST(e.value AS DECIMAL(12,2))), 0)
            AS DOUBLE) AS err_value
FROM err e LEFT JOIN islands i ON e.hr BETWEEN i.island_hr AND i.island_end
GROUP BY i.island_hr, i.n_hours
ORDER BY i.island_hr NULLS FIRST
""")
def join_range_islands(spark, sf_dir):
    """Gaps-and-islands + binned range join, no equi key anywhere:
    busy purchase hours (count above the global mean) merge into islands;
    error events range-join into them through hour bins (a cartesian
    inequality join in naive form — here one equi-join on the bin). The
    NULL-island group collects errors outside every island; islands are
    a bounded set so the final aggregate is small."""
    ev = t(spark, sf_dir, "events")
    hr = F.floor(F.col("ts").cast("timestamp").cast("long") / 3600)
    hourly = (ev.where(F.col("event_type") == "purchase")
              .groupBy(hr.cast("bigint").alias("hr"))
              .agg(F.count("*").cast("bigint").alias("n")))
    mean = hourly.agg(F.avg("n").alias("__mean"))
    busy = (hourly.crossJoin(F.broadcast(mean))
            .where(F.col("n") > F.col("__mean")).select("hr"))
    isl = (gaps_islands(busy, "hr", 1)
           .select(F.col("island_start").alias("island_hr"),
                   F.col("island_end"),
                   F.col("n_buckets").alias("n_hours")))
    intervals = isl.select(
        "island_hr", "n_hours",
        F.timestamp_micros(F.col("island_hr") * 3600 * 1_000_000)
        .alias("iv_start"),
        F.timestamp_micros((F.col("island_end") + 1) * 3600 * 1_000_000 - 1)
        .alias("iv_end"))
    err = (ev.where(F.col("event_type") == "error").select("ts", "value"))
    joined = point_in_interval_join(
        err, intervals, "ts", "iv_start", "iv_end",
        bin_seconds=3600, how="left")
    return (joined.groupBy("island_hr", "n_hours")
            .agg(F.count("*").cast("bigint").alias("n_errors"),
                 F.coalesce(F.sum(F.col("value").cast("decimal(12,2)")),
                            F.lit(0).cast("decimal(12,2)"))
                 .cast("double").alias("err_value"))
            .orderBy(F.col("island_hr").asc_nulls_first()))


@register("geo_radius_pairs", oracle="""
WITH pts AS (
  SELECT c_custkey AS id,
         CAST(c_custkey * 104729 % 10000 AS DOUBLE) / 100 AS x,
         CAST(c_custkey * c_custkey * 7919 % 10000 AS DOUBLE) / 100 AS y
  FROM customer)
SELECT a.id AS id, b.id AS id_r,
       ROUND(sqrt((a.x - b.x) * (a.x - b.x)
                  + (a.y - b.y) * (a.y - b.y)), 6) + 0.0 AS dist
FROM pts a JOIN pts b
  ON a.id < b.id
 AND sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) <= 1.5
ORDER BY id, id_r
""")
def geo_radius_pairs(spark, sf_dir):
    """Grid-binned radius self-join (operators/geo.py): customers placed
    on a deterministic 100x100 plane (key-derived coordinates), all pairs
    within distance 1.5. The oracle is the brute-force O(n^2) inequality
    join the binning provably equals; Spark executes the 9-cell equi-join
    instead."""
    from datafusion_postgres_spark.operators.geo import radius_join
    cust = t(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * 104729 % 10000).cast("double") / 100)
        .alias("x"),
        # the quadratic term breaks the lattice a linear map would form
        # (a purely linear (x, y) lattice has min pair distance > radius
        # and yields zero pairs — vacuous test)
        ((F.col("c_custkey") * F.col("c_custkey") * 7919 % 10000)
         .cast("double") / 100).alias("y"))
    out = radius_join(pts, pts, radius=1.5, dedup_pairs=True)
    return (out.select("id", "id_r",
                       (F.round("dist", 6) + 0.0).alias("dist"))
            .orderBy("id", "id_r"))


@register("join_scd2_enrich", oracle="""
WITH daily AS (
  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS valid_from,
         COUNT(*) AS n
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
ver AS (
  SELECT user_id, valid_from,
         SUM(n) OVER (PARTITION BY user_id ORDER BY valid_from) AS cum,
         LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
           AS valid_to
  FROM daily)
SELECT c.event_id, c.user_id, CAST(v.cum AS BIGINT) AS n_purch_cum
FROM events c LEFT JOIN ver v
  ON v.user_id = c.user_id
 AND CAST(c.ts AS TIMESTAMP) >= v.valid_from
 AND (v.valid_to IS NULL OR CAST(c.ts AS TIMESTAMP) < v.valid_to)
WHERE c.event_type = 'click'
ORDER BY event_id
""")
def join_scd2_enrich(spark, sf_dir):
    """SCD Type-2 dimension enrichment: a change-log dimension (per-user
    cumulative purchase count, versioned by day) gets half-open validity
    intervals via scd2_intervals (lead over the version log), then every
    click joins the version valid AT ITS EVENT TIME. Disjoint versions =>
    at most one match per fact; clicks before a user's first purchase
    keep NULL."""
    from datafusion_postgres_spark.operators.joins import (
        scd2_intervals, scd2_join)
    from pyspark.sql import Window
    ev = t(spark, sf_dir, "events")
    daily = (ev.where(F.col("event_type") == "purchase")
             .groupBy("user_id",
                      F.date_trunc("day", "ts").alias("valid_from"))
             .agg(F.count("*").alias("n")))
    w = Window.partitionBy("user_id").orderBy("valid_from")
    ver = (daily.select("user_id", "valid_from",
                        F.sum("n").over(w).cast("bigint")
                        .alias("n_purch_cum"))
           .transform(lambda d: scd2_intervals(d, "user_id", "valid_from")))
    clicks = (ev.where(F.col("event_type") == "click")
              .select("event_id", "user_id", "ts"))
    out = scd2_join(clicks, ver, on="user_id", fact_ts="ts")
    return out.select("event_id", "user_id", "n_purch_cum").orderBy("event_id")
