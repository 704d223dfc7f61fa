"""Slowly-changing-dimension Type 2 history over the ``events`` change
stream (each user's event_type as the observed attribute): the full build,
the incremental merge of a delta batch, and the full-rebuild oracle that
the batch, incremental and streaming forms all answer to."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

SCD2_SQL = """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), changes AS (
  SELECT user_id, ts, event_id, event_type
  FROM ordered
  WHERE prev_type IS NULL OR event_type <> prev_type
), versioned AS (
  SELECT user_id, event_type AS state, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS valid_to,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS version
  FROM changes
)
SELECT user_id,
       state,
       strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(valid_to,   '%Y-%m-%d %H:%M:%S') AS valid_to,
       CAST(version AS BIGINT) AS version,
       CAST(valid_to IS NULL AS BIGINT) AS is_current
FROM versioned
ORDER BY user_id, version
"""


def scd2_dim(ev):
    """The SCD2 build over an event frame with RAW timestamp columns:
    run-collapsed changes per user with [valid_from,
    valid_to) intervals and 1-based version numbers, every window
    tiebroken on (ts, event_id)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (ev
               .withColumn("prev_type", F.lag("event_type").over(w))
               .where(F.col("prev_type").isNull()
                      | (F.col("event_type") != F.col("prev_type")))
               .select("user_id", "ts", "event_id",
                       F.col("event_type").alias("state")))
    wv = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (changes
            .withColumn("valid_to", F.lead("ts").over(wv))
            .withColumn("version", F.row_number().over(wv).cast("long"))
            .select("user_id", "state", F.col("ts").alias("valid_from"),
                    "valid_to", "version"))


def scd2_merge(hist_dim, delta_ev):
    """Merge a DELTA event batch into an EXISTING raw SCD2 dimension
    (the scd2_dim shape): open rows close at the delta's first
    retained change, runs continue across the boundary, versions number
    onward per user, closed rows pass through untouched. Split out so
    the merge can be timed against a MATERIALIZED history dimension
    (scripts/merge_probe.py) — the production nightly cost, which must scale
    with the delta, never the history (the registered query rebuilds
    hist_dim inline because the demo owns no persistent state)."""
    open_rows = (hist_dim.where(F.col("valid_to").isNull())
                 .select("user_id", F.col("state").alias("open_state"),
                         F.col("version").alias("open_version")))

    # Change detection WITHIN the delta batch (one window over the
    # batch, never over history)...
    wd = Window.partitionBy("user_id").orderBy("ts", "event_id")
    delta_changes = (delta_ev
                     .withColumn("prev_type", F.lag("event_type").over(wd))
                     .where(F.col("prev_type").isNull()
                            | (F.col("event_type") != F.col("prev_type")))
                     .select("user_id", "ts", "event_id",
                             F.col("event_type").alias("state"))
                     .withColumn("rn", F.row_number().over(wd)))
    # ...then the boundary rule: the batch's FIRST change appends only
    # if it differs from the user's open state (run continuation).
    kept = (delta_changes
            .join(open_rows, "user_id", "left")
            .where((F.col("rn") > 1) | F.col("open_state").isNull()
                   | (F.col("state") != F.col("open_state"))))

    wk = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_rows = (kept
                .withColumn("valid_to", F.lead("ts").over(wk))
                .withColumn("version",
                            F.coalesce(F.col("open_version"), F.lit(0))
                            + F.row_number().over(wk))
                .select("user_id", "state", F.col("ts").alias("valid_from"),
                        "valid_to", F.col("version").cast("long")
                        .alias("version")))

    # Close each touched open row at its user's first appended change.
    first_new = (new_rows.groupBy("user_id")
                 .agg(F.min("valid_from").alias("close_at")))
    hist_merged = (hist_dim.join(first_new, "user_id", "left")
                   .withColumn("valid_to",
                               F.when(F.col("valid_to").isNull(),
                                      F.col("close_at"))
                               .otherwise(F.col("valid_to")))
                   .drop("close_at"))
    return hist_merged.unionByName(new_rows)


def scd2_formatted(dim):
    """A raw dimension in the oracle's shape: timestamps formatted,
    is_current derived, ordered by (user_id, version)."""
    return (dim
            .select("user_id", "state",
                    F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss")
                    .alias("valid_from"),
                    F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss")
                    .alias("valid_to"),
                    "version",
                    F.col("valid_to").isNull().cast("long")
                    .alias("is_current"))
            .orderBy("user_id", "version"))
