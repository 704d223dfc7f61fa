"""Structured Streaming surface over the ``events`` table (SURVEY.md §7.4 —
the reference is strictly batch, §2.9; this is the extension the new engine
adds for stream workloads).

Each streaming query is the *same logical window* as its batch twin in
``plans.events_queries`` — the tests execute both and assert equality, which
is exactly the guarantee Structured Streaming's incremental execution model
makes (batch = stream over a finite source).

Scale posture: watermarks bound state (late events beyond the delay are
dropped instead of growing window state forever); session windows merge
incrementally; the custom stateful operator uses applyInPandasWithState
(Arrow-batched per-group state) with a processing-timeout so idle keys are
evicted. File sources here stand in for Kafka/queue sources — swapping
``readStream.parquet`` for ``readStream.format("kafka")`` changes nothing
downstream.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_sentiment_spark.operators.event_windows import sliding_hour_counts
from spark_sentiment_spark.plans.registry import (track_staging_dir,
                                                  track_temp_table)
from spark_sentiment_spark.sources.io import events_ts_utc, load_parquet_utc

#: The longest any streaming run here may take, in seconds. A run still
#: going then is stopped and raises TimeoutError instead of hanging.
STREAM_TIMEOUT_S = 600

#: Late-data delay of every event-time stream: an event further than this
#: behind the latest event time seen may be dropped, which bounds window,
#: dedup and join state.
WATERMARK = "2 hours"
#: Inactivity gap that closes a user's session (as in ``events_sessionize``).
SESSION_GAP = "1 hour"
#: How long after a signup a purchase still counts as its conversion.
CONVERSION_HORIZON = "1 hour"


def await_stream(query) -> None:
    """Wait for a started streaming ``query`` to finish, at most
    STREAM_TIMEOUT_S seconds; a query still running then is stopped and
    TimeoutError raised. A failed query raises its own error."""
    if not query.awaitTermination(STREAM_TIMEOUT_S):
        query.stop()
        raise TimeoutError(
            f"streaming query {query.name or query.id} did not finish "
            f"within {STREAM_TIMEOUT_S} s and was stopped")


def _stage_dir(path: str) -> str:
    """The file stream source requires a *directory*; the testdata ships one
    bare parquet file per table. Stage it into a fresh staging dir of the
    current run via hardlink (fallback: copy), so each read sees the file
    now at ``path`` and the run's end removes the copy. A path that already
    IS a directory (the standard Spark table layout) streams as-is — real
    deployments stream a directory or a Kafka topic and skip this shim
    entirely."""
    if os.path.isdir(path):
        return path
    d = track_staging_dir("evstream_")
    target = os.path.join(d, os.path.basename(path))
    try:
        os.link(path, target)
    except OSError:
        shutil.copy2(path, target)
    return d


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (schema from a static
    read; ts normalized exactly like the batch loader, which is
    wall-clock-identical only under the UTC session timezone this read
    pins)."""
    path = f"{sf_dir}/events.parquet"
    static = load_parquet_utc(spark, path)
    return events_ts_utc(spark.readStream.schema(static.schema)
                         .parquet(_stage_dir(path)))


def tumbling_hourly(events: DataFrame) -> DataFrame:
    """Tumbling 1h window per event_type with a late-data watermark —
    streaming twin of ``events_tumbling_hour``."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                .alias("window_start"), "event_type", "n", "total_value")
    )


def sliding_hourly(events: DataFrame) -> DataFrame:
    """1h window sliding by 30min — streaming twin of ``events_sliding_hour``."""
    return sliding_hour_counts(events.withWatermark("ts", WATERMARK))


def session_windows(events: DataFrame) -> DataFrame:
    """Per-user session windows with an inactivity gap — the native
    incremental-merge sessionization (``F.session_window``); twin of the
    lag/cumsum batch plan in ``events_sessionize``."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id",
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                .alias("session_start"),
                F.date_format("w.end", "yyyy-MM-dd HH:mm:ss")
                .alias("session_end"),
                "n_events")
    )


def stateful_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator: running per-user event count + last-seen
    timestamp via ``applyInPandasWithState`` (the M-series operators have no
    stateful analogue; this is the §7.4 extension's template for arbitrary
    per-key state machines)."""
    import pandas as pd
    from pyspark.sql.streaming.state import (GroupState,
                                             GroupStateTimeout)

    out_schema = "user_id bigint, n_events bigint, last_ts string"
    state_schema = "n bigint, last_us bigint"

    def update(key, pdf_iter, state: GroupState):
        n, last_us = (state.get if state.exists else (0, 0))
        for pdf in pdf_iter:
            n += len(pdf)
            # arrow hands ts as datetime64[us]
            mx = int(pd.to_datetime(pdf["ts"]).astype("int64").max() // 1000)
            last_us = max(last_us, mx)
        state.update((n, last_us))
        yield pd.DataFrame({
            "user_id": [key[0]],
            "n_events": [n],
            "last_ts": [str(pd.Timestamp(last_us, unit="us"))],
        })

    return (events.groupBy("user_id").applyInPandasWithState(
        update, outputStructType=out_schema, stateStructType=state_schema,
        outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout))


def run_to_memory(stream_df: DataFrame,
                  output_mode: str = "complete") -> DataFrame:
    """Execute a streaming plan over the finite file source with
    ``trigger(availableNow)`` into an in-memory sink; returns the result
    table, a temp view the current run drops. This is the test/benchmark
    harness — production sinks swap in ``format("parquet")``/
    ``foreachBatch`` with checkpointing."""
    spark = stream_df.sparkSession
    name = track_temp_table(spark, f"stream_{uuid.uuid4().hex}")
    await_stream(stream_df.writeStream.format("memory").queryName(name)
                 .outputMode(output_mode).trigger(availableNow=True)
                 .start())
    return spark.table(name)


def dedup_stream(events: DataFrame) -> DataFrame:
    """Streaming exact dedup on event_id with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps each key only until the
    watermark passes it, so state size is O(events per watermark window),
    not O(stream history) — the property that makes streaming ingest dedup
    viable at 100 TB/day. Twin of the batch ``dedup_exact`` operator."""
    return (
        events.withWatermark("ts", WATERMARK)
        .dropDuplicatesWithinWatermark(["event_id"])
    )


def stream_static_enrich(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream–static join: enrich the event stream with a dimension table
    (here customer segment keyed by user_id) and aggregate per segment.
    The static side is planned as a broadcast per micro-batch — no stream
    state is needed for the join itself, only for the aggregation."""
    seg = dim.select(F.col("c_custkey").alias("user_id"),
                     F.col("c_mktsegment").alias("segment"))
    return (
        events.withWatermark("ts", WATERMARK)
        .join(F.broadcast(seg), "user_id")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 4).alias("total_value"))
    )


def stream_stream_conversions(events: DataFrame) -> DataFrame:
    """Stream–stream time-interval join: purchases within
    ``CONVERSION_HORIZON`` after a signup by the same user. Both sides carry
    watermarks and the join condition bounds the event-time range, so Spark
    can expire buffered rows once the watermark passes ``signup.ts +
    CONVERSION_HORIZON`` — bounded state,
    the streaming analogue of the batch as-of/range joins."""
    signups = (
        events.where(F.col("event_type") == "signup")
        .select(F.col("user_id").alias("s_user"),
                F.col("ts").alias("s_ts"))
        .withWatermark("s_ts", WATERMARK)
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
                F.col("value").alias("p_value"))
        .withWatermark("p_ts", WATERMARK)
    )
    cond = (
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("s_ts"))
        & (F.col("p_ts")
           <= F.col("s_ts") + F.expr(f"INTERVAL {CONVERSION_HORIZON}"))
    )
    return (
        signups.join(purchases, cond)
        .select(F.col("s_user").alias("user_id"),
                F.date_format("s_ts", "yyyy-MM-dd HH:mm:ss").alias("signup_ts"),
                F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
                F.col("p_value").alias("purchase_value"))
    )


def stage_ordered_segments(slices, prefix: str) -> str:
    """Stage each DataFrame slice as ONE parquet file with ascending
    names AND mtimes in a fresh tracked staging dir: the file stream
    source (latestFirst=false) admits oldest-mtime files first, so a
    reader capped at one file per trigger replays the slices in order,
    one micro-batch each — the in-order delivery a CDC log gives.

    An EMPTY slice still stages a schema-only part file and therefore
    still fires an (empty) micro-batch: Spark's coalesce(1) parquet
    write always emits one part file (asserted below — a multi-part or
    zero-part write would silently break the one-batch-per-slice
    contract). Degenerate inputs thus chain the SAME number of
    versions, each step an identity merge — pinned by
    tests/test_streaming.py::test_stage_ordered_segments_empty_slice_fires_batch;
    do not assume empty slices skip batches."""
    stream_dir = track_staging_dir(prefix)
    for i, sl in enumerate(slices):
        tmp = track_staging_dir(f"{prefix}seg_")
        sl.coalesce(1).write.mode("overwrite").parquet(tmp)
        parts = glob.glob(f"{tmp}/part-*.parquet")
        if len(parts) != 1:
            raise AssertionError(
                f"slice {i}: expected exactly one part file, got {parts}")
        target = f"{stream_dir}/seg{i}.parquet"
        shutil.move(parts[0], target)
        os.utime(target, (1_000_000_000 + i * 100,) * 2)
    return stream_dir


def run_probe_stream(spark: SparkSession, segments, probe, out_schema: str,
                     prefix: str) -> DataFrame:
    """Replay ``segments`` (DataFrames of one schema) as a file stream,
    one micro-batch per segment in order, and run ``probe(batch)`` on each
    under ``foreachBatch`` — batch semantics (windows, collects) inside a
    stream. Each batch's result is written to its own ``batch_id=<n>``
    directory in overwrite mode, so a replayed batch rewrites its own
    output; with the checkpointed offset log that makes the sink
    exactly-once. Returns the union of the batch results as
    ``out_schema`` (empty if no batch wrote a file); ``prefix`` names the
    staging dirs."""
    stream_dir = stage_ordered_segments(segments, f"{prefix}_stream_")
    out_dir = track_staging_dir(f"{prefix}_hits_")
    ckpt = track_staging_dir(f"{prefix}_ckpt_")

    def write_batch(df, batch_id):
        probe(df).write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}")

    stream = (spark.readStream.schema(segments[0].schema)
              .option("maxFilesPerTrigger", 1).parquet(stream_dir))
    await_stream(stream.writeStream.foreachBatch(write_batch)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
    if not glob.glob(f"{out_dir}/batch_id=*/part-*.parquet"):
        return spark.createDataFrame([], out_schema)
    return (spark.read.schema(out_schema + ", batch_id int")
            .parquet(out_dir).drop("batch_id"))


def read_document_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (schema from a
    static read; no timestamp normalization needed — the table carries
    no temporal columns)."""
    path = f"{sf_dir}/documents.parquet"
    static = load_parquet_utc(spark, path)
    return spark.readStream.schema(static.schema).parquet(_stage_dir(path))
