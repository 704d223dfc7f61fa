"""Streaming = batch equivalence: every streaming window must produce the
same result as its batch twin over the finite events source (SURVEY §7.4),
and every streaming catalog query (plans/streaming_queries.py) must run
as the micro-batches it stages and equal its batch or inline twin."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from tests.plan_walk import analyzed_nodes, count


@pytest.fixture(scope="module")
def events_batch(spark):
    from spark_sentiment_spark.plans.registry import load

    return load(spark, SF_DIR, "events")


@pytest.fixture(scope="module")
def events_stream(spark):
    from spark_sentiment_spark.streaming.streams import read_event_stream

    return read_event_stream(spark, SF_DIR)


def test_tumbling_stream_equals_batch(spark, events_stream, events_batch):
    from spark_sentiment_spark.streaming.streams import (run_to_memory,
                                                         tumbling_hourly)

    got = run_to_memory(tumbling_hourly(events_stream), "t_tumble")
    want = (
        events_batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                .alias("window_start"), "event_type", "n", "total_value")
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_sliding_stream_equals_batch(spark, events_stream, events_batch):
    from spark_sentiment_spark.streaming.streams import (run_to_memory,
                                                         sliding_hourly)

    got = run_to_memory(sliding_hourly(events_stream), "t_slide")
    want = (
        events_batch.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                .alias("window_start"), "n", "total_value")
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_session_stream_matches_batch_session_count(query, events_stream):
    """session_window totals must agree with the batch lag/cumsum
    sessionization (same 1h gap): same per-user session count and the same
    total event count."""
    from spark_sentiment_spark.streaming.streams import (run_to_memory,
                                                         session_windows)

    got = run_to_memory(session_windows(events_stream), "t_sess")
    stream_counts = (got.groupBy("user_id")
                     .agg(F.count(F.lit(1)).alias("n_sessions"),
                          F.sum("n_events").alias("n_events")))
    batch = query("events_sessionize").select(
        "user_id", "n_sessions", "n_events")
    diff = stream_counts.select("user_id",
                                F.col("n_sessions").cast("long"),
                                F.col("n_events").cast("long")) \
        .exceptAll(batch.select("user_id",
                                F.col("n_sessions").cast("long"),
                                F.col("n_events").cast("long")))
    assert diff.count() == 0


def test_stateful_user_counts(spark, events_stream, events_batch):
    from spark_sentiment_spark.streaming.streams import (run_to_memory,
                                                         stateful_user_counts)

    got = run_to_memory(stateful_user_counts(events_stream), "t_state",
                        output_mode="update")
    # one availableNow batch → one emission per user with the full count
    want = events_batch.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"))
    diff = (got.select("user_id", F.col("n_events").cast("long"))
            .exceptAll(want.select("user_id",
                                   F.col("n_events").cast("long"))))
    assert diff.count() == 0


def test_watermark_in_plan(events_stream):
    """The watermark must survive into the analyzed plan (late-data bound =
    bounded state at scale)."""
    from spark_sentiment_spark.streaming.streams import tumbling_hourly

    assert count(analyzed_nodes(tumbling_hourly(events_stream)),
                 "EventTimeWatermark")


def test_dedup_stream_drops_duplicated_source(spark, events_batch, tmp_path):
    """Feed the same events file twice through the stream: the watermarked
    dedup must emit each event_id exactly once."""
    import os
    import shutil

    from spark_sentiment_spark.streaming.streams import (dedup_stream,
                                                         run_to_memory)

    src = f"{SF_DIR}/events.parquet"
    d = tmp_path / "dup_events"
    os.makedirs(d, exist_ok=True)
    shutil.copy2(src, d / "a.parquet")
    shutil.copy2(src, d / "b.parquet")
    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).parquet(str(d))
    if dict(static.dtypes)["ts"] == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dict(static.dtypes)["ts"] == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    got = run_to_memory(dedup_stream(stream), "t_dedup",
                        output_mode="append")
    assert got.count() == events_batch.count()
    assert got.select("event_id").distinct().count() == got.count()


def test_stream_static_enrich_equals_batch(spark, events_stream, events_batch):
    from spark_sentiment_spark.plans.registry import load
    from spark_sentiment_spark.streaming.streams import (run_to_memory,
                                                         stream_static_enrich)

    dim = load(spark, SF_DIR, "customer")
    got = run_to_memory(stream_static_enrich(events_stream, dim), "t_enrich")
    seg = dim.select(F.col("c_custkey").alias("user_id"),
                     F.col("c_mktsegment").alias("segment"))
    want = (events_batch.join(seg, "user_id").groupBy("segment")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 4).alias("total_value")))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_stream_stream_conversions_equals_batch(spark, events_stream,
                                                events_batch):
    from spark_sentiment_spark.streaming.streams import (
        run_to_memory, stream_stream_conversions)

    got = run_to_memory(stream_stream_conversions(events_stream), "t_ssj",
                        output_mode="append")
    s = (events_batch.where(F.col("event_type") == "signup")
         .select(F.col("user_id").alias("s_user"), F.col("ts").alias("s_ts")))
    p = (events_batch.where(F.col("event_type") == "purchase")
         .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
                 F.col("value").alias("p_value")))
    cond = ((F.col("s_user") == F.col("p_user"))
            & (F.col("p_ts") > F.col("s_ts"))
            & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 hour")))
    want = (s.join(p, cond)
            .select(F.col("s_user").alias("user_id"),
                    F.date_format("s_ts", "yyyy-MM-dd HH:mm:ss")
                    .alias("signup_ts"),
                    F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss")
                    .alias("purchase_ts"),
                    F.col("p_value").alias("purchase_value")))
    assert got.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_watermark_drops_late_data(spark, tmp_path):
    """Two micro-batches (maxFilesPerTrigger=1): batch 1 advances the
    watermark past an old hour; batch 2's late event for that hour must be
    dropped from the append-mode windowed aggregate."""
    import os

    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType, TimestampType)

    schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ])
    d = tmp_path / "late_src"
    os.makedirs(d, exist_ok=True)

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(str(tmp_path / f"_stage_{name}"))
        import glob
        import shutil
        part = glob.glob(str(tmp_path / f"_stage_{name}" / "part-*.parquet"))[0]
        shutil.copy2(part, d / f"{name}.parquet")

    import datetime as dt
    base = dt.datetime(2024, 1, 1, 0, 30)
    # batch 1: events at 00:30 and 12:30 → watermark advances to 12:30-1h
    write_batch("b1", [(1, base, 1, "click", 1.0),
                       (2, base + dt.timedelta(hours=12), 1, "click", 1.0)])

    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema(schema).parquet(str(d))
    agg = (stream.withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "1 hour").alias("w"))
           .agg(F.count(F.lit(1)).alias("n")))
    sink = str(tmp_path / "late_out")
    # run 1 processes b1 and checkpoints the advanced watermark (memory
    # sink cannot recover from a checkpoint; parquet sink can)
    q = (agg.writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()

    # batch 2 arrives later: one on-time event and one late event for the
    # long-closed 00:00 window
    write_batch("b2", [(3, base + dt.timedelta(hours=12, minutes=5), 1,
                        "click", 1.0),
                       (4, base + dt.timedelta(minutes=5), 1, "click", 1.0)])
    # run 2 resumes from the checkpoint: only b2 is new, and the restored
    # watermark (12:30 - 1h) drops its late row
    q2 = (agg.writeStream.format("parquet").option("path", sink)
          .option("checkpointLocation", ckpt)
          .outputMode("append").trigger(availableNow=True).start())
    q2.awaitTermination()

    out = spark.read.parquet(sink).select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("w0"), "n")
    rows = {r["w0"]: r["n"] for r in out.collect()}
    # the 00:00 window closed in batch 1 with exactly 1 event; the late
    # event (id 4) must NOT re-open it or appear anywhere
    assert rows.get("2024-01-01 00:00") == 1
    assert sum(rows.values()) <= 3


def test_exactly_once_sink_idempotent_across_restart(spark, tmp_path):
    """The foreachBatch exactly-once sink: (1) stream output == batch
    output; (2) restarting against the same checkpoint with no new data
    writes nothing new; (3) a replayed batch overwrites its own directory
    rather than appending duplicates."""
    import glob

    from spark_sentiment_spark.streaming.streams import (read_event_stream,
                                                         write_exactly_once)

    sf_dir = SF_DIR
    out = str(tmp_path / "eo_out")
    ckpt = str(tmp_path / "eo_ckpt")
    stream = (read_event_stream(spark, sf_dir)
              .where(F.col("event_type") == "click")
              .select("user_id", "ts", "value"))
    q = write_exactly_once(stream, out, ckpt)
    q.awaitTermination()

    batch = (spark.read.parquet(f"{sf_dir}/events.parquet")
             .where(F.col("event_type") == "click").count())
    first = spark.read.parquet(out)
    assert first.count() == batch

    # restart, same checkpoint: availableNow sees no new offsets → no new
    # batch directories, identical row count
    dirs_before = sorted(glob.glob(f"{out}/batch_id=*"))
    q2 = write_exactly_once(stream, out, ckpt)
    q2.awaitTermination()
    assert sorted(glob.glob(f"{out}/batch_id=*")) == dirs_before
    assert spark.read.parquet(out).count() == batch

    # simulate a replay of batch 0 (crash after write, before commit):
    # rerunning the same batch overwrites its directory — same count, no
    # duplicates — which is the idempotence the sink contract rests on
    df0 = spark.read.parquet(dirs_before[0])
    rows0 = df0.collect()  # materialize: can't lazily read what we overwrite
    n0 = len(rows0)
    spark.createDataFrame(rows0, df0.schema) \
        .write.mode("overwrite").parquet(dirs_before[0])
    assert spark.read.parquet(dirs_before[0]).count() == n0
    assert spark.read.parquet(out).count() == batch


def test_streaming_hll_state_equals_batch(spark, query):
    """The streaming engine's 256-row HLL state (max rho per bucket) must
    equal the batch groupBy over the same finite source — the
    stream==batch guarantee applied to mergeable sketch state — and the
    final estimate must match agg_hll-style folding of that state."""
    from spark_sentiment_spark.operators.sketch import HLL_BUCKET, HLL_RHO
    from spark_sentiment_spark.plans.registry import load

    row = query("streaming_hll_distinct").collect()[0]
    assert row["n_exact"] > 0 and row["n_est"] > 0

    batch = (load(spark, SF_DIR, "events")
             .select(F.md5(F.col("event_id").cast("string")).alias("h"))
             .select(F.expr(HLL_BUCKET).alias("bucket"),
                     F.expr(HLL_RHO).alias("rho"))
             .groupBy("bucket").agg(F.max("rho").alias("mj")))
    n_buckets = batch.count()
    assert row["n_buckets"] == n_buckets
    # the estimate is a deterministic fold of the state: sanity band only
    # (exactness is the DuckDB oracle's job in test_oracle.py)
    assert row["rel_err"] < 0.30, row


@pytest.mark.usefixtures("release_caches")
def test_stage_ordered_segments_empty_slice_fires_batch(spark, tmp_path):
    """The empty-slice contract stage_ordered_segments asserts (it is
    Spark-version-dependent, so it is pinned here): an empty slice still stages a schema-only part file, the file stream
    source still admits it, and at maxFilesPerTrigger=1 it still fires
    its own (empty) micro-batch — so degenerate CDC inputs chain the
    SAME number of versions as real ones."""
    from spark_sentiment_spark.streaming.streams import stage_ordered_segments

    base = spark.range(3).select(F.col("id").alias("k"))
    slices = [base.where(F.col("k") < 2),
              base.where(F.lit(False)),          # EMPTY middle slice
              base.where(F.col("k") >= 2)]
    stream_dir = stage_ordered_segments(slices, "empty_slice_test_")
    staged = sorted(glob.glob(f"{stream_dir}/seg*.parquet"))
    assert len(staged) == 3, staged

    batches = []
    stream = (spark.readStream.schema("k long")
              .option("maxFilesPerTrigger", "1").parquet(stream_dir))
    q = (stream.writeStream
         .foreachBatch(lambda df, bid: batches.append((bid, df.count())))
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    q.awaitTermination(120)
    assert [c for _, c in sorted(batches)] == [2, 0, 1], batches


@pytest.mark.usefixtures("release_caches")
def test_stream_wait_is_bounded(spark, monkeypatch):
    """A streaming run that outlives STREAM_TIMEOUT_S raises TimeoutError
    and leaves no query running, instead of hanging its caller."""
    import time

    from spark_sentiment_spark.streaming import streams

    monkeypatch.setattr(streams, "STREAM_TIMEOUT_S", 1)

    def slow(df):
        time.sleep(4)
        return df

    with pytest.raises(TimeoutError):
        streams.run_probe_stream(spark, [spark.range(3)], slow, "id long",
                                 "timeout_test")
    assert spark.streams.active == []


# --- streaming catalog queries --------------------------------------------

def _collect_staged(query, name, tag):
    """Collect streaming catalog query ``name``; returns its rows and the
    staging dir it made whose name contains ``tag``."""
    from spark_sentiment_spark.plans import registry

    before = set(registry._STAGED_DIRS)
    rows = query(name).collect()
    dirs = [d for d in registry._STAGED_DIRS if d not in before and tag in d]
    assert dirs, f"{tag} staging dir not tracked"
    return rows, dirs[-1]


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_streaming_scd2_merge_equals_batch_history(query):
    """Stream==batch: the foreachBatch merge's final dimension version
    must equal the batch full rebuild (the same contract the oracle
    checks, pinned here engine-internally without DuckDB)."""
    cols = ["user_id", "state", "valid_from", "valid_to", "version",
            "is_current"]
    a = _rows(query("events_scd2_history"), cols)
    b = _rows(query("streaming_scd2_merge"), cols)
    assert a == b


def test_streaming_scd2_intermediate_versions_equal_rebuilds(spark, query):
    """The sink contract AND the version chain: the delta is staged as
    three event-time-ordered files at one file per trigger, so the full
    fixture must produce exactly v0 (the pre-stream dimension) plus
    THREE merged versions — batch N+1 reading batch N's output is
    thereby exercised on real data, not asserted by construction;
    replay safety comes from each batch owning its version directory.
    And the strongest chaining property: EVERY intermediate dimension
    version vK (K = 1..3) must equal a full `scd2_dim` rebuild over all
    events before that batch's upper cutoff — merge(merge(v0, Δ1), Δ2)
    can only equal rebuild(<cut2) if batch 2 really consumed batch 1's
    output. Version directories are read back with the writer schema
    (the lake-table contract)."""
    from spark_sentiment_spark.operators.scd2 import scd2_dim
    from spark_sentiment_spark.plans.registry import load

    _, dim_dir = _collect_staged(query, "streaming_scd2_merge",
                                 "scd2stream_dim_")
    versions = sorted(os.path.basename(p) for p in glob.glob(dim_dir + "/v*"))
    assert versions == ["v0", "v1", "v2", "v3"], versions

    ev = load(spark, SF_DIR, "events")
    lo, hi = ev.agg(F.min(F.unix_millis("ts")),
                    F.max(F.unix_millis("ts"))).first()
    cuts = [lo + (hi - lo) * k // 10 for k in (7, 8, 9)] + [hi + 1]
    cols = ["user_id", "state", "valid_from", "valid_to", "version"]
    schema = scd2_dim(ev.limit(0)).schema
    for k in (1, 2, 3):
        got = _rows(spark.read.schema(schema).parquet(f"{dim_dir}/v{k}"),
                    cols)
        want = _rows(scd2_dim(ev.where(
            F.unix_millis("ts") < cuts[k])), cols)
        assert got == want, f"v{k} != rebuild at cutoff {k}"


def test_streaming_winnowing_probe_two_batches_boundary_free(spark, query):
    """The probe must (a) actually run as TWO micro-batches (one staged
    file per trigger) and (b) produce exactly the pair set a single
    all-at-once probe computes — batch boundaries cannot matter because
    selection is doc-local and every pair has exactly one new doc."""
    from spark_sentiment_spark.operators.winnow import winnow_selected
    from spark_sentiment_spark.plans.registry import load

    rows, hits = _collect_staged(query, "streaming_winnowing_probe",
                                 "winnow_hits_")
    streamed = {(r["doc_a"], r["doc_b"]): r["n_shared"] for r in rows}
    batches = glob.glob(hits + "/batch_id=*")
    assert len(batches) == 2, batches

    docs = load(spark, SF_DIR, "documents").where(F.col("text").isNotNull())
    is_new = F.col("doc_id") % 5 == 4
    fp = lambda d: (winnow_selected(d).where(F.col("s") == 1)  # noqa: E731
                    .select("doc_id", "h").distinct())
    fp_old = fp(docs.where(~is_new))
    hot = (fp_old.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
           .where(F.col("df") > 50).select("h"))
    single = (fp(docs.where(is_new)).alias("nw")
              .join(fp_old.join(hot, "h", "left_anti").alias("od"), "h")
              .select(F.least("nw.doc_id", "od.doc_id").alias("doc_a"),
                      F.greatest("nw.doc_id", "od.doc_id").alias("doc_b"))
              .groupBy("doc_a", "doc_b")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
              .where(F.col("n_shared") >= 2)).collect()
    assert streamed == {(r["doc_a"], r["doc_b"]): r["n_shared"]
                        for r in single}
    assert streamed, "fixture produced no new-vs-old pairs"


def test_streaming_ivf_probe_two_batches_equals_inline(query):
    """The streaming leg of the vector index triad must (a) actually run
    as TWO micro-batches (one staged query file per trigger) and (b)
    produce exactly the inline `ann_ivf_topk` result — batch boundaries
    cannot matter because query routing is row-local given the broadcast
    centroids and each qid lives in exactly one batch."""
    rows, hits = _collect_staged(query, "streaming_ivf_probe", "ivf_hits_")
    streamed = [(r["qid"], r["rn"], r["vec_id"], r["label"], r["cosine"])
                for r in rows]
    batches = glob.glob(hits + "/batch_id=*")
    assert len(batches) == 2, batches

    inline = [(r["qid"], r["rn"], r["vec_id"], r["label"], r["cosine"])
              for r in query("ann_ivf_topk").collect()]
    assert streamed == inline
    assert streamed, "fixture produced no top-k rows"


def test_streaming_pq_probe_two_batches_equals_inline(query):
    """The streaming leg of the quantized index must (a) actually
    run as TWO micro-batches (one staged query file per trigger) and
    (b) produce exactly the inline `ann_pq_topk` result — batch
    boundaries cannot matter because ADC tables are per-query, the code
    table is static, and each qid lives in exactly one batch. The probe
    chain is `pq_adc_topk` — the same function `ann_pq_topk` runs — so
    this pins the STAGING plumbing, not a re-derivation
    of the math."""
    rows, hits = _collect_staged(query, "streaming_pq_probe", "pq_hits_")
    streamed = [(r["qid"], r["rn"], r["vec_id"], r["cosine"]) for r in rows]
    batches = glob.glob(hits + "/batch_id=*")
    assert len(batches) == 2, batches

    inline = [(r["qid"], r["rn"], r["vec_id"], r["cosine"])
              for r in query("ann_pq_topk").collect()]
    assert streamed == inline
    assert streamed, "fixture produced no top-k rows"


def test_streaming_bm25_probe_two_batches_equals_inline(query):
    """The retrieval family's streaming leg must (a) actually run as TWO
    micro-batches (one staged query-term file per trigger) and (b)
    produce exactly the inline `search_bm25` ranking — batch boundaries
    cannot matter because df/stats derive only from the static
    artifacts and each qid lives in exactly one batch. The per-batch
    scoring is `bm25_score_topk` — the same chain `search_bm25` runs —
    so this pins the staging plumbing, not a re-derivation."""
    rows, hits = _collect_staged(query, "streaming_bm25_probe",
                                 "bm25_hits_")
    streamed = [tuple(r) for r in rows]
    batches = glob.glob(hits + "/batch_id=*")
    assert len(batches) == 2, batches

    inline = [tuple(r) for r in query("search_bm25").collect()]
    assert streamed == inline
    assert streamed, "fixture produced no rankings"


def test_streaming_ivfpq_probe_two_batches_equals_batch_form(query):
    """The composed index's streaming leg must (a) actually run as TWO
    micro-batches (one staged query file per trigger) and (b) produce
    exactly the batch probe's result — batch boundaries cannot matter
    because routing, probe cells, ADC tables, and the per-qid windows
    are per-query and the artifacts are static. The per-batch chain is
    `ivfpq_probe` — the same function the batch probe runs — so this
    pins the STAGING plumbing, not a re-derivation of the math."""
    rows, hits = _collect_staged(query, "streaming_ivfpq_probe",
                                 "ivfpq_hits_")
    streamed = [(r["qid"], r["rn"], r["vec_id"], r["cosine"]) for r in rows]
    batches = glob.glob(hits + "/batch_id=*")
    assert len(batches) == 2, batches

    batch_form = [(r["qid"], r["rn"], r["vec_id"], r["cosine"])
                  for r in query("ann_ivfpq_persisted_probe").collect()]
    assert streamed == batch_form
    assert streamed, "fixture produced no top-k rows"
