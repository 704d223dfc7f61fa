"""Event-window aggregations that run both as batch queries over
``events`` and under Structured Streaming: over a finite source the two
forms return the same rows, so they share one oracle and, where the plan
is the same, one stage."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Tumbling 1h windows per event_type.
TUMBLE_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n,
       round(sum(value), 4) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""

# 1h windows sliding by 30min: the oracle rebuilds the window grid with
# generate_series.
SLIDE_SQL = """
WITH grid AS (
  SELECT unnest(generate_series(
    date_trunc('hour', (SELECT min(ts) FROM events)) - INTERVAL 30 MINUTE,
    (SELECT max(ts) FROM events),
    INTERVAL 30 MINUTE)) AS w_start
)
SELECT strftime(g.w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       count(*) AS n,
       round(sum(e.value), 4) AS total_value
FROM grid g
JOIN events e ON e.ts >= g.w_start AND e.ts < g.w_start + INTERVAL 1 HOUR
GROUP BY g.w_start
ORDER BY window_start
"""


def sliding_hour_counts(events: DataFrame) -> DataFrame:
    """Event count and value per 1h window sliding by 30min
    (window_start, n, total_value); unordered, so a stream can run it."""
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                .alias("window_start"), "n", "total_value")
    )


# Hourly per-type counts z-scored against their type's distribution;
# |z| >= 2 is flagged.
ANOMALY_SQL = """
WITH hourly AS (
  SELECT event_type,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
         count(*) AS n
  FROM events
  GROUP BY 1, 2
),
stats AS (
  SELECT event_type, hour_start, n,
         avg(n)         OVER (PARTITION BY event_type) AS mu,
         stddev_samp(n) OVER (PARTITION BY event_type) AS sigma
  FROM hourly
)
SELECT event_type, hour_start, n,
       round((n - mu) / sigma, 4) AS z
FROM stats
WHERE sigma > 0 AND abs((n - mu) / sigma) >= 2.0
ORDER BY event_type, hour_start
"""
