"""Event-stream queries (batch form). The streaming module runs the same
logical windows under Structured Streaming; these batch twins are what the
DuckDB oracle can check (SURVEY §7.4)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_sentiment_spark.operators.event_windows import (
    SLIDE_SQL, TUMBLE_SQL, sliding_hour_counts)
from spark_sentiment_spark.operators.scd2 import (SCD2_SQL, scd2_dim,
                                                  scd2_formatted)
from spark_sentiment_spark.plans.registry import (load, register,
                                                  track_persist)

@register("events_tumbling_hour", sql=TUMBLE_SQL, bench=True, tags=("events",))
def events_tumbling_hour(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
            .alias("window_start"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 4).alias("total_value"))
        .orderBy("window_start", "event_type")
    )


@register("events_sliding_hour", sql=SLIDE_SQL, tags=("events",))
def events_sliding_hour(spark, sf_dir):
    """Sliding window (1h window, 30min slide) — F.window produces the
    overlapping assignment natively; the oracle reconstructs the same grid
    with generate_series."""
    return (sliding_hour_counts(load(spark, sf_dir, "events"))
            .orderBy("window_start"))


SESSION_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 3600000
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM sessions
GROUP BY user_id
ORDER BY user_id
"""


def _sessionized(ev):
    """``ev`` with new_session (1 after a gap of more than an hour, or on
    a user's first event) and its running sum session_id per user in
    (ts, event_id) order."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = (Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    lag_ms = F.unix_millis(F.lag("ts").over(w))
    return (ev.withColumn(
        "new_session",
        F.when(lag_ms.isNull()
               | ((F.unix_millis("ts") - lag_ms) > 3_600_000), 1)
        .otherwise(0))
        .withColumn("session_id", F.sum("new_session").over(wrun)))


@register("events_sessionize", sql=SESSION_SQL, bench=True, tags=("events",))
def events_sessionize(spark, sf_dir):
    """Sessionization with a 1-hour inactivity gap — lag + cumulative-sum
    windows, one shuffle on user_id (the streaming twin uses
    session_window/applyInPandasWithState)."""
    return (
        _sessionized(load(spark, sf_dir, "events")).groupBy("user_id")
        .agg(F.countDistinct("session_id").alias("n_sessions"),
             F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id")
    )


ASOF_SQL = """
WITH p AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
)
SELECT e.event_id,
       e.user_id,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts,
       round(p.value, 4)                   AS last_purchase_value
FROM events e ASOF LEFT JOIN p
  ON e.user_id = p.user_id AND e.ts > p.ts
ORDER BY e.event_id
"""


@register("events_asof_join", sql=ASOF_SQL, tags=("events", "join"))
def events_asof_join(spark, sf_dir):
    """As-of join: every event picks up the value of the user's most recent
    strictly-earlier purchase (operators.asof union-merge plan — one
    shuffle on user_id; DuckDB's native ASOF JOIN is the oracle)."""
    from spark_sentiment_spark.operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase")
    joined = asof_join(ev, purchases, ["user_id"], "ts", "ts",
                       {"value": "_lp"}, strict=True)
    return (joined.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.round("_lp", 4).alias("last_purchase_value"))
        .orderBy("event_id"))


JSON_SQL = """
SELECT event_type,
       count(*) AS n,
       round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 6) AS avg_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
GROUP BY event_type
ORDER BY event_type
"""


@register("events_json_extract", sql=JSON_SQL, tags=("events", "scalar"))
def events_json_extract(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return (
        ev.where(k.cast("long") > 50)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(k.cast("double")), 6).alias("avg_k"),
            F.max(k.cast("long")).alias("max_k"),
        )
        .orderBy("event_type")
    )


RANGE_SQL = """
WITH err AS (
  SELECT user_id, ts AS w_start, ts + INTERVAL 1 HOUR AS w_end
  FROM events WHERE event_type = 'error'
)
SELECT e.user_id,
       count(*)                                  AS n_in_error_windows,
       CAST(count(DISTINCT e.event_id) AS BIGINT) AS n_distinct_events
FROM events e JOIN err r
  ON e.user_id = r.user_id AND e.ts >= r.w_start AND e.ts < r.w_end
GROUP BY e.user_id
ORDER BY e.user_id
"""


@register("events_range_join", sql=RANGE_SQL, tags=("events", "join"))
def events_range_join(spark, sf_dir):
    """Range join: events falling inside any 1-hour window opened by an
    error event of the same user — bucketized equi-join + exact refine
    (operators.rangejoin), never a theta-join. Oracle is DuckDB's plain
    inequality join."""
    from spark_sentiment_spark.operators.rangejoin import (
        point_in_interval_join)

    ev = load(spark, sf_dir, "events")
    err = (ev.where(F.col("event_type") == "error")
           .select("user_id", F.col("ts").alias("w_start"),
                   (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("w_end")))
    joined = point_in_interval_join(
        ev.select("user_id", "event_id", "ts"), err,
        ["user_id"], "ts", "w_start", "w_end", bucket_seconds=3600)
    return (joined.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_in_error_windows"),
                 F.countDistinct("event_id").alias("n_distinct_events"))
            .orderBy("user_id"))


DAILY_ROLLUP_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type,
       count(*)                  AS n,
       round(sum(value), 4)      AS total_value,
       round(max(value), 4)      AS max_value
FROM events
GROUP BY 1, 2
ORDER BY day, event_type
"""


@register("events_daily_rollup", sql=DAILY_ROLLUP_SQL, tags=("events",))
def events_daily_rollup(spark, sf_dir):
    """Hypertable-style hierarchical rollup: the daily aggregate is
    RE-AGGREGATED from the hourly aggregate (count→sum, sum→sum, max→max),
    not from raw events — the continuous-aggregate pattern where each
    coarser tier reads the tier below (at 100 TB the hourly tier is ~5
    orders of magnitude smaller than raw). The oracle aggregates raw
    events directly, proving the two-tier result identical."""
    ev = load(spark, sf_dir, "events")
    hourly = (ev.groupBy(F.date_trunc("hour", "ts").alias("hour"),
                         "event_type")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum("value").alias("sv"),
                   F.max("value").alias("mv")))
    return (hourly.groupBy(
        F.date_format(F.date_trunc("day", "hour"), "yyyy-MM-dd").alias("day"),
        "event_type")
        .agg(F.sum("n").alias("n"),
             F.round(F.sum("sv"), 4).alias("total_value"),
             F.round(F.max("mv"), 4).alias("max_value"))
        .orderBy("day", "event_type"))


RATE_SQL = """
SELECT user_id,
       count(*) AS n_events,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
       round(count(*) * 1.0 /
             greatest((epoch_ms(max(ts)) - epoch_ms(min(ts))) / 86400000.0, 0.001), 4)
         AS events_per_day
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@register("events_user_rates", sql=RATE_SQL, tags=("events",))
def events_user_rates(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    span_days = (
        (F.unix_millis(F.max("ts")) - F.unix_millis(F.min("ts"))) / 86_400_000.0
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            F.round(
                F.count(F.lit(1)) * 1.0
                / F.greatest(span_days, F.lit(0.001)), 4
            ).alias("events_per_day"),
        )
        .orderBy("user_id")
    )


GAP_FILL_SQL = """
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hour,
         round(avg(value), 6) AS avg_value
  FROM events
  WHERE ts < TIMESTAMP '2024-01-03 00:00:00'
  GROUP BY 1, 2),
bounds AS (SELECT min(hour) AS h0, max(hour) AS h1 FROM hourly),
grid AS (
  SELECT u.user_id, g.hour
  FROM (SELECT DISTINCT user_id FROM hourly) u
  CROSS JOIN bounds
  CROSS JOIN LATERAL (
    SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour) g)
SELECT grid.user_id,
       strftime(grid.hour, '%Y-%m-%d %H:%M:%S') AS hour_str,
       round(last_value(hourly.avg_value IGNORE NULLS) OVER (
         PARTITION BY grid.user_id ORDER BY grid.hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS filled_value
FROM grid LEFT JOIN hourly
  ON grid.user_id = hourly.user_id AND grid.hour = hourly.hour
ORDER BY grid.user_id, hour_str
"""


@register("events_gap_fill", sql=GAP_FILL_SQL, tags=("events", "window"))
def events_gap_fill(spark, sf_dir):
    """Hypertable-style gap filling: densify each user's hourly series over
    the observed range (sequence + explode builds the grid distributed, no
    driver loop), then forward-fill with last(ignoreNulls) over an ordered
    per-user window. At 100 TB the grid explode is embarrassingly parallel
    per user and the single shuffle is the window partition on user_id; the
    bounds row crosses the cluster as a broadcast, never a collect."""
    ev = load(spark, sf_dir, "events").where(
        F.col("ts") < F.lit("2024-01-03 00:00:00").cast("timestamp")
    )
    # the hourly rollup feeds three
    # branches (bounds, user grid, fill join) — persist the bounded
    # user×hour frame so the fact aggregation runs once.
    hourly = track_persist(
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.round(F.avg("value"), 6).alias("avg_value"))
    )
    bounds = hourly.agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
    grid = (
        hourly.select("user_id").distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["user_id", "hour"], "left")
        .select(
            "user_id",
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour_str"),
            F.round(F.last("avg_value", ignorenulls=True).over(w), 6)
            .alias("filled_value"),
        )
        .orderBy("user_id", "hour_str")
    )


FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'signup' GROUP BY 1),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
SELECT (SELECT count(*) FROM s1) AS n_signup,
       (SELECT count(*) FROM s2) AS n_click_after,
       (SELECT count(*) FROM s3) AS n_purchase_after
"""


def _first_after(ev, prev, etype, prev_ts, out_ts, within_ms=None):
    """Earliest ``etype`` event per user after their ``prev_ts`` step
    (and at most ``within_ms`` later, when given), as ``out_ts``."""
    step = ev.where(F.col("event_type") == etype)
    cond = (step["user_id"] == prev["user_id"]) & (step["ts"] > prev[prev_ts])
    if within_ms is not None:
        cond = cond & (F.unix_millis(step["ts"])
                       - F.unix_millis(prev[prev_ts]) <= within_ms)
    return (step.join(prev, cond)
            .groupBy(step["user_id"])
            .agg(F.min(step["ts"]).alias(out_ts)))


def _funnel_steps(ev, click_within_ms=None, purchase_within_ms=None):
    """(s1, s2, s3): per user, the first signup (t1), the first click
    after it (t2) and the first purchase after that (t3). s1 and s2 are
    persisted: each feeds the next step and its own count, so each
    type-filtered scan runs once."""
    s1 = track_persist(ev.where(F.col("event_type") == "signup")
                       .groupBy("user_id").agg(F.min("ts").alias("t1")))
    s2 = track_persist(_first_after(ev, s1, "click", "t1", "t2",
                                    click_within_ms))
    s3 = _first_after(ev, s2, "purchase", "t2", "t3", purchase_within_ms)
    return s1, s2, s3


@register("events_funnel", sql=FUNNEL_SQL, tags=("events", "funnel"))
def events_funnel(spark, sf_dir):
    """Ordered 3-step funnel (signup → click → purchase): each step keeps
    the earliest qualifying timestamp per user, constrained to fall after
    the previous step. Every stage joins and aggregates on user_id, so at
    100 TB the same hash partitioning is reused across all three shuffles
    (no re-partitioning between steps); step outputs are one row per
    surviving user, shrinking monotonically."""
    s1, s2, s3 = _funnel_steps(load(spark, sf_dir, "events"))
    return (
        s1.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(s2.agg(F.count(F.lit(1)).alias("n_click_after")))
        .crossJoin(s3.agg(F.count(F.lit(1)).alias("n_purchase_after")))
    )


PROPS_MAP_SQL = """
SELECT k AS key,
       count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.' || k) AS BIGINT))
            AS BIGINT) AS total,
       CAST(min(CAST(json_extract_string(props, '$.' || k) AS BIGINT))
            AS BIGINT) AS min_v,
       CAST(max(CAST(json_extract_string(props, '$.' || k) AS BIGINT))
            AS BIGINT) AS max_v
FROM (SELECT props, unnest(json_keys(props)) AS k FROM events)
GROUP BY k
ORDER BY k
"""


@register("events_props_map", sql=PROPS_MAP_SQL, tags=("events", "map"))
def events_props_map(spark, sf_dir):
    """Typed map-column operators: parse the JSON props payload into a
    native map<string,bigint> once (`from_json`), explode its entries, and
    aggregate per key. Unlike per-path `get_json_object` probing
    (events_json_extract), the single parse scales with payload size, not
    with the number of extracted paths — the right shape when property
    bags are wide. Map explode + hash agg are both whole-stage codegen."""
    ev = load(spark, sf_dir, "events")
    entries = ev.select(
        F.explode(F.from_json("props", "map<string,bigint>"))
        .alias("key", "value")
    )
    return (
        entries.groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").cast("long").alias("total"),
            F.min("value").cast("long").alias("min_v"),
            F.max("value").cast("long").alias("max_v"),
        )
        .orderBy("key")
    )


ROLLING_SQL = """
SELECT event_id, user_id,
       CAST(count(*) OVER w AS BIGINT) AS n_1h,
       round(avg(value) OVER w, 6) AS avg_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""


@register("events_rolling_1h", sql=ROLLING_SQL, tags=("events", "window"))
def events_rolling_1h(spark, sf_dir):
    """Trailing 1-hour rolling stats per user — a RANGE frame keyed on
    event time (every row's frame is [ts-1h, ts], irregular row counts),
    not a ROWS frame. The frame key is MICROSECOND-exact (unix_micros /
    epoch_us): the fixture timestamps carry sub-second parts, and the
    original whole-second key (unix_timestamp vs DuckDB's fractional
    epoch()) made the two engines disagree on membership for gaps in
    (3600, 3601) s — truncation admitted a row the fractional key
    excludes (one collision at sf0.1's 100k events; sf0.01's 10k never
    hit the boundary).
    One shuffle on user_id + one sort; at 100 TB the
    frame evaluation is streaming within each sorted partition, state
    bounded by the hour of data per user."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return (
        ev.select(
            "event_id", "user_id",
            F.count(F.lit(1)).over(w).cast("long").alias("n_1h"),
            F.round(F.avg("value").over(w), 6).alias("avg_1h"),
        )
        .orderBy("event_id")
    )


RETENTION_SQL = """
WITH firsts AS (
  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
),
joined AS (
  SELECT e.user_id,
         strftime(date_trunc('day', f.first_ts), '%Y-%m-%d') AS cohort_day,
         CAST(floor(epoch_us(e.ts - f.first_ts) / 86400000000) AS BIGINT)
           AS day_offset
  FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT cohort_day, day_offset,
       CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
FROM joined
GROUP BY cohort_day, day_offset
ORDER BY cohort_day, day_offset
"""


@register("events_retention_cohorts", sql=RETENTION_SQL, tags=("events",))
def events_retention_cohorts(spark, sf_dir):
    """Cohort retention: users grouped by first-event day, activity counted
    per whole-day offset from each user's own first event (microsecond-
    exact arithmetic, so offsets agree bit-for-bit with the oracle). Two
    shuffles — first-event agg on user_id, then the cohort/offset agg with
    partial countDistinct; the firsts side joins on the same user_id key,
    so AQE plans it shuffle- or broadcast-side by its actual size (user
    cardinality is unbounded at scale — no broadcast hint)."""
    ev = load(spark, sf_dir, "events")
    # first_ts is a per-user window
    # minimum over the stream itself instead of a separate aggregate
    # joined back — one fact scan instead of two, and with the user-keyed
    # fan-out the window needs no additional exchange.
    w = Window.partitionBy("user_id")
    joined = ev.select(
        "user_id",
        F.min("ts").over(w).alias("first_ts"),
        "ts",
    ).select(
        "user_id",
        F.date_format(F.date_trunc("day", "first_ts"), "yyyy-MM-dd")
        .alias("cohort_day"),
        F.floor((F.unix_micros("ts") - F.unix_micros("first_ts"))
                / 86_400_000_000).alias("day_offset"),
    )
    return (
        joined.groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
        .orderBy("cohort_day", "day_offset")
    )


TRANSITIONS_SQL = """
WITH seq AS (
  SELECT event_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
),
c AS (
  SELECT event_type, next_type, count(*) AS n
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
)
SELECT event_type, next_type, n,
       round(n * 1.0 / sum(n) OVER (PARTITION BY event_type), 6) AS p
FROM c
ORDER BY event_type, next_type
"""


@register("events_transitions", sql=TRANSITIONS_SQL, tags=("events",))
def events_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event sequences:
    count (event_type → next event_type) bigrams and the conditional
    probability P(next | current). The sequence-mining primitive behind
    funnel discovery and session-model features. One shuffle to order each
    user's history (lead over user_id), then a hash agg onto the bounded
    |types|² key space; the probability normalization runs on the tiny
    aggregated result, not the event stream."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type"))
    counts = (seq.where(F.col("next_type").isNotNull())
              .groupBy("event_type", "next_type")
              .agg(F.count(F.lit(1)).alias("n")))
    norm = Window.partitionBy("event_type")
    return (counts
            .withColumn("p", F.round(
                F.col("n") * 1.0 / F.sum("n").over(norm), 6))
            .orderBy("event_type", "next_type"))


ATTRIBUTION_SQL = """
WITH tagged AS (
  SELECT event_type, value,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
  FROM events
)
SELECT coalesce(channel, 'direct') AS channel,
       count(*) AS purchases,
       round(sum(CAST(value AS DECIMAL(27,6))), 4)::DOUBLE AS revenue
FROM tagged
WHERE event_type = 'purchase'
GROUP BY 1
ORDER BY channel
"""


@register("events_attribution", sql=ATTRIBUTION_SQL, tags=("events",))
def events_attribution(spark, sf_dir):
    """Last-touch attribution: each purchase is credited to the most
    recent preceding non-purchase event of the same user ('direct' when
    the purchase is the user's first event). The running-last-non-null
    window (`last(..., ignorenulls)` over unbounded-preceding) needs ONE
    per-user sort — no self-join against the full history, which is the
    quadratic formulation this replaces. Revenue summed in exact decimal
    so the hash agrees with the oracle regardless of summation order."""
    ev = load(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    channel = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True).over(w)
    return (ev.withColumn("channel", channel)
            .where(F.col("event_type") == "purchase")
            .groupBy(F.coalesce("channel", F.lit("direct")).alias("channel"))
            .agg(F.count(F.lit(1)).alias("purchases"),
                 F.round(F.sum(F.col("value").cast("decimal(27,6)")), 4)
                 .cast("double").alias("revenue"))
            .orderBy("channel"))


SESSION_SEQ_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 3600000
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, event_id, event_type,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       string_agg(event_type, '>' ORDER BY ts, event_id) AS seq,
       CAST(count(*) AS BIGINT) AS n_events
FROM sess
GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


@register("events_session_sequences", sql=SESSION_SEQ_SQL, tags=("events",))
def events_session_sequences(spark, sf_dir):
    """Ordered per-session event-type sequences — the training-example
    shape for behavioral sequence models (next-action prediction): each
    session becomes one '>'-joined string of its events in time order.

    One shuffle on user_id serves the lag window, the session cumsum, AND
    the per-session collect (same partitioning); ordering inside the
    collected array is made total with the (ts, event_id) sort key, so the
    output is deterministic under any partitioning. Session assignment
    reuses the events_sessionize gap rule (strict > 1h)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lag_ms = F.unix_millis(F.lag("ts").over(w))
    sess = (
        ev.withColumn(
            "new_session",
            F.when(lag_ms.isNull()
                   | ((F.unix_millis(F.col("ts")) - lag_ms) > 3_600_000), 1)
            .otherwise(0))
        .withColumn("sid", F.sum("new_session").over(wrun))
    )
    # sort_array over structs orders by (ts, event_id) — a total key — then
    # the projection keeps just the event types.
    ordered = F.transform(
        F.sort_array(F.collect_list(
            F.struct(F.col("ts"), F.col("event_id"), F.col("event_type")))),
        lambda s: s.getField("event_type"))
    return (
        sess.groupBy("user_id", "sid")
        .agg(F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss")
             .alias("session_start"),
             F.array_join(ordered, ">").alias("seq"),
             F.count(F.lit(1)).alias("n_events"))
        .drop("sid")
        .orderBy("user_id", "session_start")
    )


# --- Incremental rollup maintenance (IVM over additive aggregate state) -----

ROLLUP_INCR_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(CAST(value AS DECIMAL(27,6))), 4)::DOUBLE AS total_value,
       min(event_id) AS min_id,
       max(event_id) AS max_id
FROM events
GROUP BY 1, 2
ORDER BY day, event_type
"""


@register("events_rollup_incremental", sql=ROLLUP_INCR_SQL, tags=("events",))
def events_rollup_incremental(spark, sf_dir):
    """Incremental VIEW MAINTENANCE of the daily rollup: everything
    after the last day's noon plays the incoming batch, everything
    before it the already-materialized base rollup — deliberately NOT a
    day-aligned split, so the final day's groups genuinely merge state
    from BOTH sides (a day-boundary split would only ever exercise the
    pass-through and insert paths). Both sides aggregate to additive
    partial state (count, DECIMAL sum, min/max witnesses), then a
    FULL OUTER join on (day, event_type) merges them — count+count,
    sum+sum, least/greatest — which is the update a nightly pipeline
    applies to a stored rollup WITHOUT rescanning history: only groups
    the delta touches get new values, untouched base rows pass through
    the outer join unchanged. The oracle recomputes from raw events,
    proving merged == recomputed.

    Every merged aggregate must be re-aggregable; AVG-style state would
    need (sum, count) pairs and COUNT DISTINCT would need a sketch
    (agg_hll_sketch is the mergeable tool for that). Value sums run in
    DECIMAL(27,6) so base+delta addition is order-independent. NULL
    semantics survive the merge: a group whose values are all NULL sums
    to NULL, not 0 (the CASE guard), matching plain SQL.

    Scale: two bounded-key aggregations and one bounded-key outer join —
    at 100 TB the base side is the stored rollup table (days x types
    rows, not events), so the maintenance cost is proportional to the
    DELTA, which is the entire point."""
    ev = load(spark, sf_dir, "events")
    split = ev.agg(
        (F.date_trunc("day", F.max("ts"))
         + F.expr("INTERVAL 12 HOURS")).alias("split_ts"))
    tagged = ev.crossJoin(F.broadcast(split))

    # one rollup aggregation with the
    # side flag as an extra group key, persisted (bounded: days × types
    # × 2 rows), then sliced — the old per-side rollups each re-scanned
    # the fact table. Per-side aggregates are identical because grouping
    # by (day, type, side) partitions exactly the rows each side's
    # filter selected. (In production base is a stored rollup table, not
    # a scan — this keeps the synthetic single-source shape honest at
    # one pass.)
    sided = track_persist(
        tagged.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
            .alias("day"), "event_type",
            (F.col("ts") >= F.col("split_ts")).alias("is_delta"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("value").cast("decimal(27,6)")).alias("sv"),
             F.min("event_id").alias("mn"),
             F.max("event_id").alias("mx")))

    base = sided.where(~F.col("is_delta")).drop("is_delta").alias("b")
    delta = sided.where(F.col("is_delta")).drop("is_delta").alias("d")
    b, d = F.col("b.sv"), F.col("d.sv")
    merged_sum = (F.when(b.isNull() & d.isNull(), F.lit(None))
                  .otherwise(F.coalesce(b, F.lit(0).cast("decimal(27,6)"))
                             + F.coalesce(d, F.lit(0).cast("decimal(27,6)"))))
    return (base.join(delta, ["day", "event_type"], "full_outer")
            .select(
                "day", "event_type",
                (F.coalesce(F.col("b.n"), F.lit(0))
                 + F.coalesce(F.col("d.n"), F.lit(0)))
                .cast("bigint").alias("n_events"),
                F.round(merged_sum, 4).cast("double").alias("total_value"),
                F.least(F.coalesce(F.col("b.mn"), F.col("d.mn")),
                        F.coalesce(F.col("d.mn"), F.col("b.mn")))
                .alias("min_id"),
                F.greatest(F.coalesce(F.col("b.mx"), F.col("d.mx")),
                           F.coalesce(F.col("d.mx"), F.col("b.mx")))
                .alias("max_id"))
            .orderBy("day", "event_type"))


# --- CDC changelog application (last-op-wins with deletes) ------------------

CDC_STATE_SQL = """
WITH last AS (
  SELECT user_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
), lo AS (
  SELECT user_id,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         value
  FROM last WHERE rn = 1
)
SELECT c_mktsegment AS segment,
       CAST(sum(CASE WHEN op IS NULL OR op = 'U' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_present,
       CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_deleted,
       CAST(sum(CASE WHEN op IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_untouched,
       round(sum(CASE WHEN op = 'U' THEN CAST(value AS DECIMAL(27,6)) END),
             4)::DOUBLE AS updated_value_sum
FROM customer
LEFT JOIN lo ON c_custkey = lo.user_id
GROUP BY 1
ORDER BY segment
"""


@register("events_cdc_state", sql=CDC_STATE_SQL, tags=("events", "cdc"))
def events_cdc_state(spark, sf_dir):
    """CDC changelog application — the piece between merge_upsert (pure
    upsert) and events_dedup_latest (latest-wins compaction): the event
    stream is read as a per-user changelog (a user's LAST event by
    (ts, event_id) is their current op; 'error' means DELETE, anything
    else UPSERT with the event's value), applied against the customer
    snapshot, and summarized per segment: rows still present, rows
    deleted, rows the changelog never touched, and the DECIMAL-exact sum
    of last upserted values. Exactly the Debezium-style apply step of a
    nightly CDC pipeline, including the delete semantics the other two
    operators don't model.

    Scale: one user_id window over the changelog (the per-key op
    resolution), one key-partitioned outer join against the snapshot,
    bounded-cardinality aggregate out. Snapshot and changelog shuffle
    once each on the same key — bucketing both by user_id makes the
    nightly apply shuffle-free (sources/bucketing.py)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    lo = (ev.withColumn("rn", F.row_number().over(w))
          .where(F.col("rn") == 1)
          .select("user_id",
                  F.when(F.col("event_type") == "error", "D")
                  .otherwise("U").alias("op"),
                  "value"))
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"))
    j = cust.join(lo, "user_id", "left")
    return (j.groupBy("segment")
            .agg(F.sum(F.when(F.col("op").isNull()
                              | (F.col("op") == "U"), 1).otherwise(0))
                 .cast("bigint").alias("n_present"),
                 F.sum(F.when(F.col("op") == "D", 1).otherwise(0))
                 .cast("bigint").alias("n_deleted"),
                 F.sum(F.when(F.col("op").isNull(), 1).otherwise(0))
                 .cast("bigint").alias("n_untouched"),
                 F.round(F.sum(F.when(F.col("op") == "U",
                                      F.col("value").cast("decimal(27,6)"))),
                         4).cast("double").alias("updated_value_sum"))
            .orderBy("segment"))


# --- Rolling DISTINCT count (trailing-hour unique event types) --------------

ROLLING_DISTINCT_SQL = """
SELECT event_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       CAST(count(DISTINCT event_type) OVER (
              PARTITION BY user_id ORDER BY epoch_ms(ts)
              RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_types_1h
FROM events
ORDER BY event_id
"""


@register("events_rolling_distinct", sql=ROLLING_DISTINCT_SQL,
          tags=("events", "window"))
def events_rolling_distinct(spark, sf_dir):
    """Per event: how many DISTINCT event types its user produced in the
    trailing hour — the rolling-uniques signal behind rate limiting and
    behavioral features. Spark has no native count(DISTINCT) OVER a
    window; the engine-correct formulation is size(collect_set(...))
    over the time-RANGE frame, which this query exposes as a catalog
    operator (events_rolling_1h covers the non-distinct stats). RANGE
    frames include order-value peers in both engines, so ts ties don't
    make the result order-dependent.

    Scale: one user_id shuffle; per-frame state is the distinct TYPE set
    (bounded by the type vocabulary, not the event rate) — the reason
    collect_set over a time frame is safe here while collect_list would
    not be. At true high cardinality the mergeable-sketch alternative is
    agg_hll_sketch's bucket state maintained per frame."""
    ev = load(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id")
         .orderBy(F.unix_millis(F.col("ts")))
         .rangeBetween(-3_600_000, 0))
    return (ev.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.size(F.collect_set("event_type").over(w)).cast("bigint")
        .alias("n_types_1h"))
        .orderBy("event_id"))


# --- SCD Type-2 dimension build from the event stream -----------------------


@register("events_scd2_history", sql=SCD2_SQL, tags=("events", "cdc"))
def events_scd2_history(spark, sf_dir):
    """Slowly-Changing-Dimension TYPE 2 build from a change stream — the
    companion to `events_cdc_state` (which keeps only the CURRENT row):
    each user's event_type is treated as an observed attribute, runs of
    consecutive identical observations collapse, and every retained
    change opens a version row with [valid_from, valid_to) — valid_to =
    the next change's timestamp, NULL (is_current=1) on the open row.
    This is the standard warehouse history table that lets any fact join
    pick the attribute AS OF its own timestamp.

    Scale: one window partitioning on user_id serves the change
    detection (lag), the interval close (lead) and the version number —
    Catalyst evaluates all three in a single sort+window stage, so the
    build is one shuffle over the change stream; version counts are
    bounded by each user's change count, never the corpus. Ties at equal
    ts break on event_id in EVERY window here — change detection,
    version numbering, and the lead() interval close — so version
    numbers and valid_to assignment are deterministic even when two
    retained changes share (user_id, ts). The build
    itself is `operators.scd2.scd2_dim`, which the streaming SCD2 merge
    shares, so the full rebuild and the incremental merge are equivalent
    by construction."""
    return scd2_formatted(scd2_dim(load(spark, sf_dir, "events")))


# --- Peak session concurrency (sweep line) ----------------------------------

PEAK_CONCURRENCY_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 3600000
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id,
         ts
  FROM flagged
), bounds AS (
  SELECT user_id, session_id, min(ts) AS s_start, max(ts) AS s_end
  FROM sess GROUP BY user_id, session_id
), deltas AS (
  SELECT strftime(date_trunc('day', s_start), '%Y-%m-%d') AS day,
         s_start AS t, 1 AS delta FROM bounds
  UNION ALL
  SELECT strftime(date_trunc('day', s_start), '%Y-%m-%d') AS day,
         s_end AS t, -1 AS delta FROM bounds
), running AS (
  SELECT day,
         sum(delta) OVER (PARTITION BY day ORDER BY t, delta DESC
                          ROWS UNBOUNDED PRECEDING) AS live
  FROM deltas
)
SELECT r.day,
       CAST(max(r.live) AS BIGINT) AS peak_concurrent,
       CAST(any_value(ns.n_sessions) AS BIGINT) AS n_sessions
FROM running r
JOIN (SELECT strftime(date_trunc('day', s_start), '%Y-%m-%d') AS day,
             count(*) AS n_sessions
      FROM bounds GROUP BY 1) ns USING (day)
GROUP BY r.day
ORDER BY r.day
"""


@register("events_peak_concurrency", sql=PEAK_CONCURRENCY_SQL,
          tags=("events", "window"))
def events_peak_concurrency(spark, sf_dir):
    """Peak concurrent sessions per day via the classic SWEEP LINE: each
    session (1-hour-gap sessionization, same recipe as
    `events_sessionize`) emits +1 at its start instant and -1 at its
    end; the daily maximum of the running sum is the day's peak
    concurrency. Sessions are attributed to their START day (documented
    choice — no midnight clipping), intervals are INCLUSIVE (+1 sorts
    before -1 at an equal timestamp, so single-instant sessions and
    boundary-touching sessions count as overlapping). Within equal
    (t, delta) keys the prefix order is arbitrary, but the daily MAX is
    order-invariant: all +1s at an instant apply before any -1, so the
    maximum reached depends only on the multiset.

    Scale: sessionization is one user_id window; the sweep partitions by
    DAY — per-partition state is that day's session endpoints (bounded
    by daily traffic, not history), and days parallelize. A hot single
    day sub-partitions by hour with carry-in prefix sums — the standard
    two-pass scan — without changing semantics."""
    # The session-bounds table feeds three branches (+1 deltas, -1
    # deltas, per-day counts): persisted, events are sessionized once.
    bounds = track_persist(
        _sessionized(load(spark, sf_dir, "events"))
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end")))
    day = F.date_format(F.date_trunc("day", F.col("s_start")), "yyyy-MM-dd")
    deltas = (bounds.select(day.alias("day"), F.col("s_start").alias("t"),
                            F.lit(1).alias("delta"))
              .unionByName(
                  bounds.select(day.alias("day"),
                                F.col("s_end").alias("t"),
                                F.lit(-1).alias("delta"))))
    w_sweep = (Window.partitionBy("day").orderBy(F.col("t"),
                                                 F.desc("delta"))
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    peaks = (deltas.withColumn("live", F.sum("delta").over(w_sweep))
             .groupBy("day")
             .agg(F.max("live").cast("long").alias("peak_concurrent")))
    counts = (bounds.groupBy(day.alias("day"))
              .agg(F.count(F.lit(1)).cast("long").alias("n_sessions")))
    return (peaks.join(counts, "day")
            .select("day", "peak_concurrent", "n_sessions")
            .orderBy("day"))


# --- Cumulative distinct users (growth accounting) --------------------------

CUM_USERS_SQL = """
WITH first_seen AS (
  SELECT user_id, min(date_trunc('day', ts)) AS d0 FROM events
  GROUP BY user_id
), new_by_day AS (
  SELECT strftime(d0, '%Y-%m-%d') AS day, count(*) AS new_users
  FROM first_seen GROUP BY d0
), active AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         count(DISTINCT user_id) AS dau
  FROM events GROUP BY 1
)
SELECT a.day,
       CAST(a.dau AS BIGINT) AS dau,
       CAST(coalesce(n.new_users, 0) AS BIGINT) AS new_users,
       CAST(sum(coalesce(n.new_users, 0))
            OVER (ORDER BY a.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_users
FROM active a LEFT JOIN new_by_day n USING (day)
ORDER BY a.day
"""


@register("events_cumulative_users", sql=CUM_USERS_SQL, tags=("events",))
def events_cumulative_users(spark, sf_dir):
    """Cumulative distinct users over time — the growth curve computed
    the SCALABLE way: a running COUNT(DISTINCT) recomputes an
    ever-growing set per day, while first-seen attribution (min day per
    user, one hash agg) makes each user count exactly once and the
    cumulative sum run over the tiny per-day table. DAU rides along for
    the classic DAU-vs-cumulative dashboard pair.

    Scale: two user-keyed hash aggs (first-seen, daily-active) over the
    stream; everything after is calendar-days-sized, so the running-sum
    window's single partition holds days, not users — bounded state by
    construction."""
    ev = load(spark, sf_dir, "events")
    # first-seen attribution and
    # DAU both reduce over the distinct (user, day) pairs — persist that
    # narrow frame once instead of scanning the fact table twice (the
    # DAU side's countDistinct also becomes a plain count).
    ud = track_persist(
        ev.select("user_id", F.date_trunc("day", "ts").alias("d"))
        .distinct())
    first_seen = ud.groupBy("user_id").agg(F.min("d").alias("d0"))
    new_by_day = (first_seen
                  .groupBy(F.date_format("d0", "yyyy-MM-dd").alias("day"))
                  .agg(F.count(F.lit(1)).alias("new_users")))
    active = (ud.groupBy(F.date_format("d", "yyyy-MM-dd").alias("day"))
              .agg(F.count(F.lit(1)).alias("dau")))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)
    return (active.join(new_by_day, "day", "left")
            .withColumn("new_users", F.coalesce("new_users", F.lit(0)))
            .select("day", F.col("dau").cast("bigint").alias("dau"),
                    F.col("new_users").cast("bigint").alias("new_users"),
                    F.sum("new_users").over(w).cast("bigint")
                    .alias("cum_users"))
            .orderBy("day"))


# --- Session-level event-type affinity (co-visitation lift) -----------------

TYPE_AFFINITY_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 3600000
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id,
         event_type
  FROM flagged
), st AS (
  SELECT DISTINCT user_id, session_id, event_type FROM sess
), totals AS (
  SELECT CAST(count(DISTINCT (user_id, session_id)) AS BIGINT) AS n_sess
  FROM st
), per_type AS (
  SELECT event_type, count(*) AS n FROM st GROUP BY event_type
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         count(*) AS n_ab
  FROM st a JOIN st b
    ON a.user_id = b.user_id AND a.session_id = b.session_id
   AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b,
       CAST(p.n_ab AS BIGINT) AS n_sessions_both,
       round(CAST(p.n_ab AS DOUBLE) * t.n_sess
             / (pa.n * pb.n), 6) AS lift
FROM pairs p
JOIN per_type pa ON p.type_a = pa.event_type
JOIN per_type pb ON p.type_b = pb.event_type
CROSS JOIN totals t
ORDER BY type_a, type_b
"""


@register("events_type_affinity", sql=TYPE_AFFINITY_SQL, tags=("events",))
def events_type_affinity(spark, sf_dir):
    """Session-level event-type co-occurrence LIFT — market-basket
    affinity over behavioral sessions: for each unordered type pair, the
    number of sessions containing both and lift = P(a,b)/(P(a)·P(b))
    (>1 = the types travel together). Sessionization is the shared
    1-hour-gap recipe.

    Scale: the session×type table is DISTINCT-collapsed before pairing,
    so the self-join fanout per session is C(types-in-session, 2) —
    bounded by the TYPE VOCABULARY squared, not by session length; the
    per-type and total-session tables are vocabulary/1-row sized
    broadcasts. The classic trap (pairing raw events, length² per
    session) never materializes."""
    st = track_persist(
        _sessionized(load(spark, sf_dir, "events"))
        .select("user_id", "session_id", "event_type")
        .distinct())
    totals = st.select("user_id", "session_id").distinct() \
        .agg(F.count(F.lit(1)).alias("n_sess"))
    per_type = st.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a, b = st.alias("a"), st.alias("b")
    pairs = (a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                    & (F.col("a.session_id") == F.col("b.session_id"))
                    & (F.col("a.event_type") < F.col("b.event_type")))
             .groupBy(F.col("a.event_type").alias("type_a"),
                      F.col("b.event_type").alias("type_b"))
             .agg(F.count(F.lit(1)).alias("n_ab")))
    pa = per_type.select(F.col("event_type").alias("type_a"),
                         F.col("n").alias("na"))
    pb = per_type.select(F.col("event_type").alias("type_b"),
                         F.col("n").alias("nb"))
    lift = F.round(F.col("n_ab").cast("double") * F.col("n_sess")
                   / (F.col("na") * F.col("nb")), 6)
    return (pairs.join(F.broadcast(pa), "type_a")
            .join(F.broadcast(pb), "type_b")
            .crossJoin(F.broadcast(totals))
            .select("type_a", "type_b",
                    F.col("n_ab").cast("bigint").alias("n_sessions_both"),
                    lift.alias("lift"))
            .orderBy("type_a", "type_b"))


# --- Temporal join: facts against the SCD2 dimension AS OF their ts ---------

TEMPORAL_JOIN_SQL = """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), changes AS (
  SELECT user_id, ts, event_id, event_type
  FROM ordered
  WHERE prev_type IS NULL OR event_type <> prev_type
), dim AS (
  SELECT user_id, event_type AS state, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS valid_to
  FROM changes
), joined AS (
  SELECT d.state, e.event_type
  FROM events e
  JOIN dim d
    ON e.user_id = d.user_id
   AND e.ts >= d.valid_from
   AND (d.valid_to IS NULL OR e.ts < d.valid_to)
)
SELECT state, event_type,
       CAST(count(*) AS BIGINT) AS n_events
FROM joined
GROUP BY state, event_type
ORDER BY state, event_type
"""


@register("events_temporal_join", sql=TEMPORAL_JOIN_SQL,
          tags=("events", "join", "cdc"))
def events_temporal_join(spark, sf_dir):
    """Temporal (AS-OF-validity) join — the CONSUMER of the type-2
    dimension `events_scd2_history` builds: every fact row joins the
    version whose [valid_from, valid_to) interval covers the fact's own
    timestamp, here rolled up to a state × event_type matrix. This is
    the query shape that makes SCD2 worth maintaining: facts see the
    attribute AS OF when they happened, not as it is now.

    Correctness hinge: a fact at exactly a change's timestamp belongs to
    the NEW version (>= valid_from, < valid_to — half-open), matching
    the history builder's interval convention; versions per user are
    non-overlapping by construction, so each fact matches exactly one.

    Scale: the dim build is the SCD2 single sort+window stage; the join
    is key-local on user_id (both sides hash-partition there — interval
    probing happens within a user's own few versions, never across), and
    the rollup is a bounded (states × types) hash agg. No bucketized
    range machinery needed because the equi-key carries the join; that
    is the general rule for temporal dims — the interval is a residual
    predicate, not the join key."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (ev.withColumn("prev_type", F.lag("event_type").over(w))
           .where(F.col("prev_type").isNull()
                  | (F.col("event_type") != F.col("prev_type")))
           .select("user_id", "event_id",
                   F.col("event_type").alias("state"),
                   F.col("ts").alias("valid_from"))
           # lead ties break on event_id too: two
           # retained changes at one (user_id, ts) otherwise get
           # nondeterministic valid_to in both engines.
           .withColumn("valid_to", F.lead("valid_from").over(
               Window.partitionBy("user_id")
               .orderBy("valid_from", "event_id")))
           .drop("event_id"))
    e = ev.select("user_id", "ts", "event_type")
    joined = e.join(
        dim,
        (e["user_id"] == dim["user_id"])
        & (e["ts"] >= dim["valid_from"])
        & (dim["valid_to"].isNull() | (e["ts"] < dim["valid_to"])))
    return (joined.groupBy("state", "event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
            .orderBy("state", "event_type"))


# --- RFM segmentation (recency / frequency / monetary quintiles) ------------

RFM_SQL = """
WITH mx AS (SELECT max(ts) AS tmax FROM events),
per_user AS (
  SELECT user_id, max(ts) AS umax,
         count(*) AS f_events,
         sum(CAST(floor(value * 10000) AS BIGINT)) AS m_e4
  FROM events GROUP BY user_id
), scored AS (
  SELECT user_id,
         (epoch_ms((SELECT tmax FROM mx)) - epoch_ms(umax)) // 86400000
           AS r_days,
         f_events, m_e4
  FROM per_user
)
SELECT user_id,
       CAST(r_days AS BIGINT) AS r_days,
       CAST(f_events AS BIGINT) AS f_events,
       CAST(m_e4 AS BIGINT) AS m_e4,
       CAST(ntile(5) OVER (ORDER BY r_days, user_id) AS BIGINT) AS r_score,
       CAST(ntile(5) OVER (ORDER BY f_events DESC, user_id) AS BIGINT)
         AS f_score,
       CAST(ntile(5) OVER (ORDER BY m_e4 DESC, user_id) AS BIGINT)
         AS m_score
FROM scored
ORDER BY user_id
"""


def _rfm_per_user(spark, sf_dir):
    """(user_id, r_days, f_events, m_e4): one row per user, the RFM axes
    every RFM query scores. The per-user aggregate is persisted and the
    corpus horizon is the max of its per-user maxima, so events are
    scanned once."""
    per_user = track_persist(
        load(spark, sf_dir, "events").groupBy("user_id")
        .agg(F.max("ts").alias("umax"),
             F.count(F.lit(1)).cast("bigint").alias("f_events"),
             F.sum(F.floor(F.col("value") * 10000).cast("bigint"))
             .cast("bigint").alias("m_e4")))
    mx = per_user.agg(F.max("umax").alias("tmax"))
    return (per_user.crossJoin(F.broadcast(mx))
            .withColumn("r_days",
                        F.expr("(unix_millis(tmax) - unix_millis(umax))"
                               " div 86400000"))
            .select("user_id", F.col("r_days").cast("bigint")
                    .alias("r_days"), "f_events", "m_e4"))


@register("events_rfm_scores", sql=RFM_SQL, tags=("events",))
def events_rfm_scores(spark, sf_dir):
    """RFM segmentation — the classic behavioral-cohort scoring: per
    user, Recency (whole days between their last event and the corpus
    horizon), Frequency (event count) and Monetary (value mass), each
    cut into quintiles by ntile(5). Score 1 = best quintile on every
    axis (most recent / most active / highest value). Determinism:
    recency is integer floor-division epoch arithmetic, the monetary
    mass lives on an integer 1e-4 grid (floor of identical doubles, then
    exact integer sums — no float accumulation anywhere), and every
    ntile ordering carries user_id as a total tiebreak, so quintile
    membership is engine-exact.

    Scale: the fact table reduces to one row per user in a single hash
    agg before any window; the ntile windows are single-partition but
    run over USERS, not events — and at true scale the standard swap is
    percentile cut points (4 values per axis from the digest agg)
    broadcast against the per-user table, which changes no output for
    distinct-valued axes. The corpus horizon is a 1-row broadcast."""
    w_r = Window.orderBy("r_days", "user_id")
    w_f = Window.orderBy(F.desc("f_events"), F.asc("user_id"))
    w_m = Window.orderBy(F.desc("m_e4"), F.asc("user_id"))
    return (_rfm_per_user(spark, sf_dir).select(
        "user_id", "r_days", "f_events", "m_e4",
        F.ntile(5).over(w_r).cast("long").alias("r_score"),
        F.ntile(5).over(w_f).cast("long").alias("f_score"),
        F.ntile(5).over(w_m).cast("long").alias("m_score"))
        .orderBy("user_id"))


def _cut_block(name: str, col: str, desc: bool) -> str:
    """DuckDB CTE chain for one axis's quintile cutpoints from its
    frequency table: cum counts in score order, targets at the ntile
    bucket boundaries i*(n div 5) + least(i, n mod 5), cutpoint = first
    value (in score order) whose cum reaches the target."""
    direction = "DESC" if desc else ""
    pick = "max" if desc else "min"
    return f"""{name}_freq AS (
  SELECT {col} AS v, CAST(count(*) AS BIGINT) AS c FROM scored GROUP BY 1
), {name}_cum AS (
  SELECT v, sum(c) OVER (ORDER BY v {direction} ROWS UNBOUNDED PRECEDING)
           AS cum
  FROM {name}_freq
), {name}_cuts AS (
  SELECT i, {pick}(v) AS cut
  FROM {name}_cum
  CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS i) g
  CROSS JOIN nrow
  WHERE cum >= i * (n // 5) + least(i, n % 5)
  GROUP BY i
), {name}_scored AS (
  SELECT s.user_id, CAST(1 + count(k.cut) AS BIGINT) AS {name}_score
  FROM scored s LEFT JOIN {name}_cuts k
    ON s.{col} {"<" if desc else ">"} k.cut
  GROUP BY s.user_id
)"""


RFM_CUTPOINT_SQL = f"""
WITH mx AS (SELECT max(ts) AS tmax FROM events),
per_user AS (
  SELECT user_id, max(ts) AS umax,
         count(*) AS f_events,
         sum(CAST(floor(value * 10000) AS BIGINT)) AS m_e4
  FROM events GROUP BY user_id
), scored AS (
  SELECT user_id,
         CAST((epoch_ms((SELECT tmax FROM mx)) - epoch_ms(umax)) // 86400000
              AS BIGINT) AS r_days,
         CAST(f_events AS BIGINT) AS f_events,
         CAST(m_e4 AS BIGINT) AS m_e4
  FROM per_user
), nrow AS (SELECT CAST(count(*) AS BIGINT) AS n FROM scored),
{_cut_block('r', 'r_days', desc=False)},
{_cut_block('f', 'f_events', desc=True)},
{_cut_block('m', 'm_e4', desc=True)}
SELECT s.user_id, s.r_days, s.f_events, s.m_e4,
       r_scored.r_score, f_scored.f_score, m_scored.m_score
FROM scored s
JOIN r_scored USING (user_id)
JOIN f_scored USING (user_id)
JOIN m_scored USING (user_id)
ORDER BY s.user_id
"""


def _cutpoint_quintile(scored, colname, score_name, descending=False):
    """Quintile scores from 4 broadcast CUTPOINT values instead of a
    rank pass: one hash agg to the axis's frequency table, a cum-count
    window over DISTINCT VALUES (not users), the 4 boundary values at
    the exact ntile bucket-size targets, then score = 1 + cutpoints
    passed via a 4-row broadcast join. Ties NEVER straddle buckets:
    equal values always share a score (ntile splits them by the
    tiebreak), which is the semantics most RFM dashboards actually
    want; on distinct-valued axes this is provably identical to
    ntile(5) with the same targets
    (tests/test_events_semantics.py pins both properties)."""
    spark = scored.sparkSession
    freq = scored.groupBy(F.col(colname).alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c"))
    order = F.desc("v") if descending else F.asc("v")
    w = Window.orderBy(order).rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)
    cum = freq.select("v", F.sum("c").over(w).alias("cum"))
    nrow = scored.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    grid = spark.range(1, 5).select(F.col("id").alias("i"))
    pick = F.max("v") if descending else F.min("v")
    cuts = (cum.crossJoin(F.broadcast(nrow))
            .crossJoin(F.broadcast(grid))
            .where(F.col("cum")
                   >= F.expr("i * (n div 5) + least(i, n % 5)"))
            .groupBy("i").agg(pick.alias("cut")))
    cond = (F.col(colname) < F.col("cut") if descending
            else F.col(colname) > F.col("cut"))
    return (scored.join(F.broadcast(cuts), cond, "left")
            .groupBy(*scored.columns)
            .agg((F.lit(1) + F.count("cut")).cast("long")
                 .alias(score_name)))


@register("events_rfm_cutpoints", sql=RFM_CUTPOINT_SQL, tags=("events",))
def events_rfm_cutpoints(spark, sf_dir):
    """The CHEAP RFM form — quintiles from percentile CUTPOINTS:
    `events_rfm_scores` is the semantics (global ntile), and this ranks
    no users at all. Per axis: one hash agg to the frequency table, a
    cumulative window over DISTINCT VALUES, the 4 boundary values at the exact
    ntile bucket-size targets i*(n div 5) + least(i, n mod 5), and a
    4-row broadcast join back — the production pattern when scores may
    be tie-stable instead of exactly-equal-sized (equal values always
    share a score; ntile splits tie runs by its tiebreak to equalize
    bucket counts). On distinct-valued axes the two semantics coincide
    exactly — pinned in tests/test_events_semantics.py on seeded
    corpora, with the tie-stability property pinned separately.

    Scale: the user table is never rank-sorted — per axis the heavy
    work is one partial+final hash agg to |distinct values| rows. For
    recency (days) and frequency (counts) that is a few thousand rows
    at ANY corpus size, so the cum window's single partition is
    control-plane-sized; for a near-continuous monetary axis the
    frequency table approaches |users| and the right move is to
    pre-bucket m_e4 (losing sub-bucket boundaries) or use the exact
    ntile of `events_rfm_scores` — the documented trade of this family.
    The per-user frame is `_rfm_per_user`, shared by all three RFM
    forms."""
    out = _cutpoint_quintile(_rfm_per_user(spark, sf_dir), "r_days",
                             "r_score")
    out = _cutpoint_quintile(out, "f_events", "f_score", descending=True)
    out = _cutpoint_quintile(out, "m_e4", "m_score", descending=True)
    return (out.select("user_id", "r_days", "f_events", "m_e4",
                       "r_score", "f_score", "m_score")
            .orderBy("user_id"))


#: fixed cell width for the pre-bucketed monetary axis (100 currency
#: units at the e4 fixed-point scale): wide enough that |cells| stays
#: control-plane-sized at any corpus size, narrow enough that the
#: fixture's 150 users collapse into ~37 cells so the trade is exercised.
M_CELL_W = 1_000_000

RFM_CUTPOINT_BUCKETED_SQL = f"""
WITH mx AS (SELECT max(ts) AS tmax FROM events),
per_user AS (
  SELECT user_id, max(ts) AS umax,
         count(*) AS f_events,
         sum(CAST(floor(value * 10000) AS BIGINT)) AS m_e4
  FROM events GROUP BY user_id
), scored AS (
  SELECT user_id,
         CAST((epoch_ms((SELECT tmax FROM mx)) - epoch_ms(umax)) // 86400000
              AS BIGINT) AS r_days,
         CAST(f_events AS BIGINT) AS f_events,
         CAST(m_e4 AS BIGINT) AS m_e4,
         CAST(m_e4 // {M_CELL_W} AS BIGINT) AS m_cell
  FROM per_user
), nrow AS (SELECT CAST(count(*) AS BIGINT) AS n FROM scored),
{_cut_block('r', 'r_days', desc=False)},
{_cut_block('f', 'f_events', desc=True)},
{_cut_block('m', 'm_cell', desc=True)}
SELECT s.user_id, s.r_days, s.f_events, s.m_e4, s.m_cell,
       r_scored.r_score, f_scored.f_score, m_scored.m_score
FROM scored s
JOIN r_scored USING (user_id)
JOIN f_scored USING (user_id)
JOIN m_scored USING (user_id)
ORDER BY s.user_id
"""


@register("events_rfm_cutpoints_bucketed", sql=RFM_CUTPOINT_BUCKETED_SQL,
          tags=("events",))
def events_rfm_cutpoints_bucketed(spark, sf_dir):
    """`events_rfm_cutpoints` with the near-continuous monetary axis
    PRE-BUCKETED into fixed-width cells (m_cell = m_e4 div M_CELL_W) —
    implementing the trade that query's docstring names instead of
    promising it: on a money-like axis the frequency table approaches
    |users| and the cutpoint form loses its advantage; bucketing first
    caps the frequency table at |cells| = value-range / width rows
    (control-plane-sized at ANY corpus size) at the cost of sub-cell
    boundaries — users in the same cell always share an m_score.
    Recency and frequency axes are naturally low-cardinality and stay
    unbucketed, byte-identical to the parent's. `_cutpoint_quintile` on
    the cell column keeps every certified property (equals ntile(5) on
    distinct cells across every n mod 5 residue, tie-stable otherwise
    — the parent's seeded sweeps apply verbatim since the cell axis is
    just another long column; tests/test_events_semantics.py pins the
    cell-level collapse and the r/f invariance on the fixture).

    Scale: identical shape to the parent — one hash agg per axis, a cum
    window over distinct values (now provably bounded for money too),
    4-row broadcast joins back. Nothing ranks users."""
    scored = _rfm_per_user(spark, sf_dir).withColumn(
        "m_cell", F.expr(f"m_e4 div {M_CELL_W}").cast("bigint"))
    out = _cutpoint_quintile(scored, "r_days", "r_score")
    out = _cutpoint_quintile(out, "f_events", "f_score", descending=True)
    out = _cutpoint_quintile(out, "m_cell", "m_score", descending=True)
    return (out.select("user_id", "r_days", "f_events", "m_e4", "m_cell",
                       "r_score", "f_score", "m_score")
            .orderBy("user_id"))


# --- Inter-arrival gap percentiles per event type ---------------------------

GAP_PCT_SQL = """
WITH gaps AS (
  SELECT event_type,
         (epoch_ms(ts) - epoch_ms(lag(ts) OVER (
            PARTITION BY user_id ORDER BY ts, event_id))) / 1000.0 AS gap_s
  FROM events
)
SELECT event_type,
       CAST(count(gap_s) AS BIGINT) AS n_gaps,
       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY gap_s), 6) AS p50_s,
       round(percentile_cont(0.9) WITHIN GROUP (ORDER BY gap_s), 6) AS p90_s,
       round(percentile_cont(0.99) WITHIN GROUP (ORDER BY gap_s), 6)
         AS p99_s
FROM gaps
WHERE gap_s IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""


@register("events_gap_percentiles", sql=GAP_PCT_SQL, tags=("events",))
def events_gap_percentiles(spark, sf_dir):
    """Inter-arrival time distribution per event type: each event's gap
    to the SAME USER's previous event (any type — the behavioral pause
    before this action), attributed to the later event's type, then
    exact p50/p90/p99 per type — the latency-profile shape behind
    session-gap threshold tuning (events_sessionize's 1h gap is exactly
    a cut on this distribution) and bot detection (impossibly tight
    p50s). Gap seconds = integer epoch-ms difference over one IEEE
    division, identical in both engines; percentiles follow the
    agg_percentiles recipe (exact interpolated percentile over identical
    doubles, 6-dp rounded).

    Scale: one user_id sort+window computes every gap; the percentile
    digest is partial+final per type (types x digest state, never raw
    rows on the shuffle). The 100 TB swap is approx_percentile or the
    mergeable histogram sketch, with this exact form as its oracle."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = ((F.unix_millis("ts") - F.unix_millis(F.lag("ts").over(w)))
           / F.lit(1000.0))
    return (ev.select("event_type", gap.alias("gap_s"))
            .where(F.col("gap_s").isNotNull())
            .groupBy("event_type")
            .agg(F.count("gap_s").cast("bigint").alias("n_gaps"),
                 F.round(F.percentile("gap_s", F.lit(0.5)), 6)
                 .alias("p50_s"),
                 F.round(F.percentile("gap_s", F.lit(0.9)), 6)
                 .alias("p90_s"),
                 F.round(F.percentile("gap_s", F.lit(0.99)), 6)
                 .alias("p99_s"))
            .orderBy("event_type"))


# --- Weekly user lifecycle accounting (new / retained / resurrected) --------

LIFECYCLE_SQL = """
WITH weekly AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
), flagged AS (
  SELECT user_id, wk,
         lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk
  FROM weekly
), classed AS (
  SELECT wk,
         CASE WHEN prev_wk IS NULL THEN 'new'
              WHEN wk = prev_wk + INTERVAL 7 DAY THEN 'retained'
              ELSE 'resurrected' END AS cls
  FROM flagged
)
SELECT strftime(wk, '%Y-%m-%d') AS week_start,
       CAST(count(*) AS BIGINT) AS n_active,
       CAST(sum(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new,
       CAST(sum(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_retained,
       CAST(sum(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_resurrected
FROM classed
GROUP BY wk
ORDER BY week_start
"""


@register("events_user_lifecycle", sql=LIFECYCLE_SQL, tags=("events",))
def events_user_lifecycle(spark, sf_dir):
    """Weekly growth-accounting lifecycle: every active (user, week) is
    NEW (first week ever), RETAINED (also active the immediately
    preceding week) or RESURRECTED (returning after >= 1 idle week) —
    the decomposition behind every growth dashboard, complementing
    `events_retention_cohorts` (which fixes the cohort and tracks decay)
    and `events_cumulative_users` (which counts only first-times). All
    integer set logic on date_trunc('week') boundaries (ISO Monday in
    both engines) — no floats anywhere.

    Scale: the fact table DISTINCT-collapses to (user, week) — bounded
    by users x active weeks — in one hash agg; the lag window partitions
    per user over their few active weeks; the final agg is weeks-sized.
    Churn is derivable as prev-week active minus retained, so it is not
    emitted separately."""
    ev = load(spark, sf_dir, "events")
    weekly = (ev.select("user_id", F.date_trunc("week", "ts").alias("wk"))
              .distinct())
    w = Window.partitionBy("user_id").orderBy("wk")
    classed = (weekly
               .withColumn("prev_wk", F.lag("wk").over(w))
               .select("wk", F.when(F.col("prev_wk").isNull(), "new")
                       .when(F.col("wk") == F.col("prev_wk")
                             + F.expr("INTERVAL 7 DAY"), "retained")
                       .otherwise("resurrected").alias("cls")))
    return (classed.groupBy("wk")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"),
                 F.sum(F.when(F.col("cls") == "new", 1).otherwise(0))
                 .cast("bigint").alias("n_new"),
                 F.sum(F.when(F.col("cls") == "retained", 1).otherwise(0))
                 .cast("bigint").alias("n_retained"),
                 F.sum(F.when(F.col("cls") == "resurrected", 1).otherwise(0))
                 .cast("bigint").alias("n_resurrected"))
            .select(F.date_format("wk", "yyyy-MM-dd").alias("week_start"),
                    "n_active", "n_new", "n_retained", "n_resurrected")
            .orderBy("week_start"))


# --- Windowed funnel (conversion deadlines per step) ------------------------

FUNNEL_WINDOWED_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'signup' GROUP BY 1),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1
    AND epoch_ms(e.ts) - epoch_ms(s1.t1) <= 3600000
  GROUP BY 1),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
    AND epoch_ms(e.ts) - epoch_ms(s2.t2) <= 86400000
  GROUP BY 1)
SELECT n_signup, n_click_1h, n_purchase_24h,
       CASE WHEN n_signup = 0 THEN 0
            ELSE n_click_1h * 1000000 // n_signup END AS click_rate_ppm,
       CASE WHEN n_click_1h = 0 THEN 0
            ELSE n_purchase_24h * 1000000 // n_click_1h
       END AS purchase_rate_ppm
FROM (SELECT CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_signup,
             CAST((SELECT count(*) FROM s2) AS BIGINT) AS n_click_1h,
             CAST((SELECT count(*) FROM s3) AS BIGINT) AS n_purchase_24h)
"""


@register("events_funnel_windowed", sql=FUNNEL_WINDOWED_SQL,
          tags=("events", "funnel"))
def events_funnel_windowed(spark, sf_dir):
    """The production variant of `events_funnel`: each step must land
    within a CONVERSION WINDOW of the previous one (click within 1h of
    first signup, purchase within 24h of that click) — the deadline is
    what separates attribution-grade funnels from mere ordering, and
    what the unwindowed twin can't express. Rates are integer ppm
    (cross-multiplied, no floats).

    Scale: identical posture to `events_funnel` — every stage joins and
    aggregates on user_id so one hash partitioning serves all shuffles,
    step outputs shrink monotonically, and the deadline predicate
    tightens each join before aggregation (less state, never more)."""
    s1, s2, s3 = _funnel_steps(load(spark, sf_dir, "events"),
                               3_600_000, 86_400_000)
    counts = (s1.agg(F.count(F.lit(1)).alias("n_signup"))
              .crossJoin(s2.agg(F.count(F.lit(1)).alias("n_click_1h")))
              .crossJoin(s3.agg(F.count(F.lit(1)).alias("n_purchase_24h"))))
    return counts.select(
        F.col("n_signup").cast("bigint").alias("n_signup"),
        F.col("n_click_1h").cast("bigint").alias("n_click_1h"),
        F.col("n_purchase_24h").cast("bigint").alias("n_purchase_24h"),
        F.when(F.col("n_signup") == 0, F.lit(0)).otherwise(
            F.expr("n_click_1h * 1000000L div n_signup"))
        .cast("bigint").alias("click_rate_ppm"),
        F.when(F.col("n_click_1h") == 0, F.lit(0)).otherwise(
            F.expr("n_purchase_24h * 1000000L div n_click_1h"))
        .cast("bigint").alias("purchase_rate_ppm"))


# --- Seasonal (hour-of-day) volume anomaly ----------------------------------

SEASONAL_ANOMALY_SQL = """
WITH cells AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(hour(ts) AS BIGINT) AS hod, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2, 3
), days AS (SELECT DISTINCT date_trunc('day', ts) AS day FROM events),
types AS (SELECT DISTINCT event_type FROM events),
hods AS (SELECT unnest(generate_series(0, 23)) AS hod),
grid AS (
  SELECT t.event_type, d.day, CAST(h.hod AS BIGINT) AS hod
  FROM types t CROSS JOIN days d CROSS JOIN hods h
), filled AS (
  SELECT g.event_type, g.day, g.hod, COALESCE(c.n, 0) AS n
  FROM grid g LEFT JOIN cells c
    ON g.event_type = c.event_type AND g.day = c.day AND g.hod = c.hod
), base AS (
  SELECT event_type, hod,
         CAST(count(*) AS BIGINT) AS nd,
         CAST(sum(n) AS BIGINT) AS s,
         CAST(sum(n * n) AS BIGINT) AS q
  FROM filled GROUP BY 1, 2
)
SELECT f.event_type AS event_type, strftime(f.day, '%Y-%m-%d') AS day,
       f.hod AS hod, f.n AS n,
       CAST(CASE WHEN b.nd * f.n - b.s >= 0 THEN 1 ELSE -1 END
            * (((b.nd * f.n - b.s) * (b.nd * f.n - b.s) * (b.nd - 1))
               * 1000000 // (b.nd * (b.nd * b.q - b.s * b.s)))
            AS BIGINT) AS z2_e6
FROM filled f JOIN base b
  ON f.event_type = b.event_type AND f.hod = b.hod
WHERE b.nd * b.q - b.s * b.s > 0
  AND (b.nd * f.n - b.s) * (b.nd * f.n - b.s) * (b.nd - 1)
      >= 4 * b.nd * (b.nd * b.q - b.s * b.s)
ORDER BY f.event_type, day, f.hod
"""


@register("events_seasonal_anomaly", sql=SEASONAL_ANOMALY_SQL,
          tags=("events", "anomaly"))
def events_seasonal_anomaly(spark, sf_dir):
    """Seasonality-aware volume anomaly: each (event_type, day,
    hour-of-day) cell is z-scored against ITS OWN hour-of-day baseline
    across all days — the diurnal-pattern-respecting upgrade of
    `events_volume_anomaly` (whose flat mean flags every rush hour).
    Missing cells gap-fill to 0 so quiet hours count in the baseline.
    Everything is integer: the |z| >= 2 cut is the cross-multiplied
    inequality (nd*n - s)^2 * (nd-1) >= 4 * nd * (nd*q - s^2), and the
    reported signed z^2 magnitude is an exact integer ppm — no float
    enters either engine. Zero-variance baselines are excluded (a cell
    can't be anomalous against a constant series it belongs to).
    Int64 bound on the exactness claim: the z^2 numerator
    (nd*n - s)^2 * (nd-1) * 1e6 stays under 2^63 only while per-cell
    counts n are below ~1e5 at nd ~ 30 baseline days (more generally
    n^2 * nd^3 < ~9.2e12); beyond that, pre-aggregate cells to a
    coarser grain or switch the ratio to the floor-of-identical-DOUBLEs
    recipe (graph_degree_assortativity) before trusting cross-engine
    equality — DuckDB raises on overflow while non-ANSI Spark wraps.

    Scale: cells collapse the fact table to |types| x |days| x 24 in one
    partial+final hash agg; the grid/baseline/join stages all run on
    that bounded cell table, so the anomaly pass costs one scan plus
    cell-sized work regardless of event volume."""
    ev = load(spark, sf_dir, "events")
    # the day grid and the type
    # grid derive from the bounded cell table instead of two extra full
    # events scans, and `cells`/`filled` (both |types|×|days|×24-bounded)
    # are persisted because each feeds two branches (grid + fill;
    # baseline + final join). One fact scan total.
    cells = track_persist(
        ev.groupBy("event_type",
                   F.date_trunc("day", "ts").alias("day"),
                   F.hour("ts").cast("bigint").alias("hod"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    days = cells.select("day").distinct()
    types = cells.select("event_type").distinct()
    hods = spark.range(24).select(F.col("id").cast("bigint").alias("hod"))
    grid = types.crossJoin(days).crossJoin(F.broadcast(hods))
    filled = track_persist(
        grid.join(cells, ["event_type", "day", "hod"], "left")
        .select("event_type", "day", "hod",
                F.coalesce(F.col("n"), F.lit(0)).alias("n")))
    base = (filled.groupBy("event_type", "hod")
            .agg(F.count(F.lit(1)).cast("bigint").alias("nd"),
                 F.sum("n").cast("bigint").alias("s"),
                 F.sum(F.col("n") * F.col("n")).cast("bigint").alias("q")))
    dev = F.col("nd") * F.col("n") - F.col("s")
    var_n = F.col("nd") * F.col("q") - F.col("s") * F.col("s")
    return (filled.join(base, ["event_type", "hod"])
            .where((var_n > 0)
                   & (dev * dev * (F.col("nd") - 1)
                      >= 4 * F.col("nd") * var_n))
            .select("event_type",
                    F.date_format("day", "yyyy-MM-dd").alias("day"),
                    "hod", "n",
                    (F.when(dev >= 0, 1).otherwise(-1)
                     * F.expr("(nd * n - s) * (nd * n - s) * (nd - 1) "
                              "* 1000000L div (nd * (nd * q - s * s))"))
                    .cast("bigint").alias("z2_e6"))
            .orderBy("event_type", "day", "hod"))


# --- DAU / MAU stickiness ---------------------------------------------------

STICKINESS_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
), days AS (SELECT DISTINCT d FROM ud),
dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
mau AS (
  SELECT days.d, CAST(count(DISTINCT ud.user_id) AS BIGINT) AS mau
  FROM days JOIN ud
    ON ud.d <= days.d AND ud.d > days.d - INTERVAL 28 DAY
  GROUP BY 1)
SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau.dau, mau.mau,
       dau.dau * 1000000 // mau.mau AS stickiness_ppm
FROM dau JOIN mau ON dau.d = mau.d
ORDER BY day
"""


@register("events_stickiness", sql=STICKINESS_SQL, tags=("events",))
def events_stickiness(spark, sf_dir):
    """DAU / trailing-28-day-MAU stickiness per day — the engagement
    ratio every growth dashboard pairs with `events_user_lifecycle`'s
    flow accounting. Exact rolling distinct: the fact table collapses
    to distinct (user, day) pairs first, then a bounded range join
    (|days| x user-days) counts each day's trailing active set; the
    ratio is integer ppm.

    Scale: user-days is bounded by users x active days — the range join
    fans each user-day to <= 28 day rows, so the exact form costs
    28 x user-days, fine for dashboard cardinalities. At extreme user
    counts the sketch swap is `events_sliding_users_hll` (mergeable
    28-day HLL per day) with this exact form as its oracle."""
    ev = load(spark, sf_dir, "events")
    # the user-day frame feeds
    # three branches (day grid, DAU, the MAU range join) — unpersisted,
    # each was its own full events scan + distinct. Persist the narrow
    # (user, day) pairs: one scan, one distinct.
    ud = track_persist(
        ev.select("user_id", F.date_trunc("day", "ts").alias("d"))
        .distinct())
    days = ud.select("d").distinct()
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    mau = (days.alias("g")
           .join(ud.alias("u"),
                 (F.col("u.d") <= F.col("g.d"))
                 & (F.col("u.d") > F.col("g.d") - F.expr("INTERVAL 28 DAY")))
           .groupBy(F.col("g.d").alias("d"))
           .agg(F.countDistinct("u.user_id").cast("bigint").alias("mau")))
    return (dau.join(mau, "d")
            .select(F.date_format("d", "yyyy-MM-dd").alias("day"),
                    "dau", "mau",
                    F.expr("dau * 1000000L div mau").cast("bigint")
                    .alias("stickiness_ppm"))
            .orderBy("day"))
