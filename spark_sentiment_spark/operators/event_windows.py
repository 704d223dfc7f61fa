"""DuckDB oracles of the event-window aggregations that run both as
batch queries over ``events`` and under Structured Streaming: over a finite
source the two forms return the same rows, so they share one oracle."""

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
