"""Event-stream time-series operators: gap-based sessionization,
zero-filled time-bucket gap-fill, and cumulative-distinct user growth.

All three are single-shuffle shapes: sessionize keys one window by
user_id; gapfill aggregates to (hour x type) cells then joins a
dimension-sized spine; cumulative-distinct reduces to first-touch rows
before any window runs. None materializes per-user event sequences, so
each survives a 100x scale-up -- the post-aggregate windows run over
dimension-sized data (days, hours), not the event table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.registry import query
from discogs_xml_to_parquet_spark.tables import load

_GAP_MIN = 30  # session gap threshold, minutes


@query(
    "q_sessionize_events",
    oracle=f"""
WITH ordered AS (
  SELECT user_id, event_id, event_type,
         CAST(ts AS TIMESTAMP) AS ts,
         LAG(CAST(ts AS TIMESTAMP))
           OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
           AS prev_ts
  FROM events
), flagged AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                   OR ts - prev_ts > INTERVAL {_GAP_MIN} MINUTE
                 THEN 1 ELSE 0 END AS is_new
  FROM ordered
), numbered AS (
  SELECT *, CAST(SUM(is_new)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS session_no
  FROM flagged
)
SELECT user_id, session_no,
       COUNT(*) AS n_events,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       date_diff('microseconds', MIN(ts), MAX(ts)) AS duration_us,
       COUNT(DISTINCT event_type) AS n_types
FROM numbered
GROUP BY user_id, session_no
ORDER BY user_id, session_no
""",
)
def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization, the canonical clickstream operator:
    a new session starts after a >30 min silence. ONE shuffle keyed by
    user_id serves the lag, the running session counter, and the
    per-session rollup (all three run inside the same user_id
    partitioning -- Spark reuses the exchange). Interval comparison
    (ts - prev > INTERVAL) instead of epoch arithmetic keeps the
    timestamp_ntz lane engine-exact; duration is an integer
    microsecond diff, never a float."""
    e = load(spark, sf_dir, "events")
    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id", "event_id", "event_type", "ts",
        F.lag("ts").over(w_order).alias("prev_ts"),
    ).withColumn(
        "is_new",
        F.when(
            F.col("prev_ts").isNull()
            | (F.col("ts") - F.col("prev_ts") > F.expr(f"INTERVAL {_GAP_MIN} MINUTES")),
            1,
        ).otherwise(0),
    )
    numbered = flagged.withColumn(
        "session_no",
        F.sum("is_new").over(
            w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        numbered.groupBy("user_id", "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.expr("timestampdiff(MICROSECOND, min(ts), max(ts))").alias("duration_us"),
            F.countDistinct("event_type").alias("n_types"),
        )
        .orderBy("user_id", "session_no")
    )


@query(
    "q_gapfill_timeseries",
    oracle="""
WITH span AS (
  SELECT MIN(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS lo,
         MAX(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hi
  FROM events
), spine AS (
  SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM span
), cells AS (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
           / 1000000 AS sum_value
  FROM events GROUP BY 1, 2
)
SELECT strftime(s.hour, '%Y-%m-%d %H:%M:%S') AS hour, t.event_type,
       COALESCE(c.n_events, 0) AS n_events,
       COALESCE(c.sum_value, CAST(0.0 AS DOUBLE)) AS sum_value
FROM spine s
CROSS JOIN (SELECT DISTINCT event_type FROM events) t
LEFT JOIN cells c ON c.hour = s.hour AND c.event_type = t.event_type
ORDER BY 1, 2
""",
)
def q_gapfill_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-filled hourly rollup (TimescaleDB-style gapfill): the
    dense (hour x event_type) spine comes from exploding a 1-row
    min/max aggregate into a sequence -- generated distributed, never
    on the driver -- then broadcast-joined against the sparse cells.
    Every pass over the event table is a map-side-combining aggregate
    over a column-pruned scan; the spine is dimension-sized at any
    data scale (hours x types), so the left join broadcasts."""
    from discogs_xml_to_parquet_spark.functions.exact import dsum

    e = load(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    cells = (
        e.groupBy(hour.alias("hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
    )
    # span and type dimension both derive from the CELLS aggregate;
    # Catalyst collapses and column-prunes each branch, so the three
    # physical scans read disjoint column subsets (ts / event_type /
    # all three) -- cheaper on a columnar source than one fat scan
    # plus a shared exchange
    spine = (
        cells.agg(
            F.min("hour").alias("lo"),
            F.max("hour").alias("hi"),
        )
        .select(
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour")
        )
        # hint: the exploded hour spine estimates small; unhinted it would build
        .crossJoin(F.broadcast(cells.select("event_type").distinct()))
    )
    return (
        spine.join(cells, ["hour", "event_type"], "left")
        .select(
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        )
        .orderBy("hour", "event_type")
    )


@query(
    "q_cumulative_distinct",
    oracle="""
WITH first_touch AS (
  SELECT user_id, MIN(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS first_day
  FROM events GROUP BY user_id
), daily AS (
  SELECT first_day, COUNT(*) AS new_users FROM first_touch GROUP BY first_day
)
SELECT strftime(first_day, '%Y-%m-%d') AS day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY first_day
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW)
            AS BIGINT) AS cum_users
FROM daily
ORDER BY day
""",
)
def q_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day WITHOUT a distinct-inside-
    window (which would rescan the event table per frame): reduce to
    one first-touch row per user (map-side-combining min), roll up to
    daily new-user counts, then a running sum over the DAY table --
    the global window sorts a few hundred rows, not the event stream,
    so the single-partition window is safe at any scale."""
    e = load(spark, sf_dir, "events")
    first_touch = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    daily = first_touch.groupBy("first_day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = (
        Window.orderBy("first_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        F.date_format("first_day", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    ).orderBy("day")
