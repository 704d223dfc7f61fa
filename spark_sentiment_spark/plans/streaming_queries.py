"""Driver-checkable streaming queries (SURVEY §7.4 streaming extension).

The streaming operators in ``streaming.streams`` are unit-tested as
stream==batch twins; the 18 queries here additionally route a *real
Structured Streaming execution* (file source → watermarked agg →
``trigger(availableNow)`` → memory sink) through the external correctness
harness, with the same DuckDB oracle SQL as their batch twins. Over a
finite file source processed in availableNow micro-batches the watermark
never drops data (it only advances between batches, and the testdata is a
single file = a single batch), so streaming output == batch output exactly.

Every streaming plan here carries an oracle: tumbling windows and
stream–static joins share their batch twins' SQL, and session windows get
their own oracle that encodes ``F.session_window``'s exact boundary rule
(exclusive gap end → a ``>= gap`` split test), which differs from the
batch ``events_sessionize`` twin's strict ``> gap`` only for events
landing exactly on the boundary.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_sentiment_spark.operators.bm25 import (BM25_QUERIES, BM25_SQL,
                                                  bm25_probe,
                                                  bm25_stage_index)
from spark_sentiment_spark.operators.event_windows import (ANOMALY_SQL,
                                                           SLIDE_SQL,
                                                           TUMBLE_SQL)
from spark_sentiment_spark.operators.minhash import (N_BANDS, N_HASHES,
                                                     THRESHOLD, band_buckets,
                                                     band_keys, est_jaccard,
                                                     minhash_signatures,
                                                     probe_minhash_oracle_sql)
from spark_sentiment_spark.operators.multimodal import (HEADERS_SQL,
                                                        attach_media_content,
                                                        header_metadata)
from spark_sentiment_spark.operators.scd2 import (SCD2_SQL, scd2_dim,
                                                  scd2_formatted, scd2_merge)
from spark_sentiment_spark.operators.sketch import (HLL_A, HLL_BITS,
                                                    HLL_BUCKET, HLL_M,
                                                    HLL_POW2, HLL_RHO,
                                                    hll_estimate,
                                                    hll_registers)
from spark_sentiment_spark.operators.vectors import (ANN_IVF_SQL,
                                                     ANN_IVFPQ_SQL,
                                                     ANN_PQ_SQL, ANN_TOPK,
                                                     IVF_ASSIGN,
                                                     IVF_PROBE, IVF_TOPK,
                                                     IVFPQ_RERANK,
                                                     PQ_RERANK, dot,
                                                     ivf_centroids,
                                                     ivf_ranked,
                                                     ivfpq_probe,
                                                     ivfpq_stage_index,
                                                     pq_adc_tables,
                                                     pq_adc_topk,
                                                     pq_read_codebook,
                                                     pq_stage_index,
                                                     unit_vector,
                                                     unit_vector_frame)
from spark_sentiment_spark.operators.winnow import (WINNOW_CTE,
                                                    winnow_selected)
from spark_sentiment_spark.plans.registry import (load, register,
                                                  track_persist,
                                                  track_staging_dir)
from spark_sentiment_spark.streaming.streams import (
    WATERMARK,
    await_stream,
    dedup_stream,
    read_document_stream,
    read_event_stream,
    run_probe_stream,
    run_to_memory,
    session_windows,
    sliding_hourly,
    stage_ordered_segments,
    stateful_user_counts,
    stream_static_enrich,
    stream_stream_conversions,
    tumbling_hourly,
)


@register(sql=TUMBLE_SQL)
def streaming_tumbling_hour(spark, sf_dir):
    """Tumbling 1h/event_type aggregation executed BY the streaming engine
    (not the batch twin): watermarked state, availableNow trigger, memory
    sink. Oracle = the same SQL as ``events_tumbling_hour``."""
    stream = tumbling_hourly(read_event_stream(spark, sf_dir))
    out = run_to_memory(stream)
    return out.orderBy("window_start", "event_type")


STREAM_ENRICH_SQL = """
SELECT c.c_mktsegment AS segment,
       count(*) AS n,
       round(sum(e.value), 4) AS total_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
ORDER BY segment
"""


@register(sql=STREAM_ENRICH_SQL)
def streaming_static_enrich(spark, sf_dir):
    """Stream–static broadcast join + aggregation executed by the streaming
    engine: the event stream is enriched with the static customer dimension
    per micro-batch, then aggregated per segment in complete mode."""
    events = read_event_stream(spark, sf_dir)
    dim = load(spark, sf_dir, "customer")
    stream = stream_static_enrich(events, dim)
    out = run_to_memory(stream)
    return out.orderBy("segment")


STREAM_STATEFUL_SQL = """
SELECT user_id,
       count(*) AS n_events,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_ts
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@register(sql=STREAM_STATEFUL_SQL)
def streaming_stateful_counts(spark, sf_dir):
    """Custom stateful operator through the harness: per-user running
    count + last-seen timestamp via ``applyInPandasWithState`` (update
    mode). Over the finite source the final state per user equals the
    batch groupBy — the oracle. last_ts is re-formatted Spark-side to a
    fixed 6-digit-microsecond form so both engines render identically."""
    stream = stateful_user_counts(read_event_stream(spark, sf_dir))
    out = run_to_memory(stream, output_mode="update")
    # update mode emits one row per user per micro-batch; keep the final
    # state per user (single batch here, but be order-proof anyway).
    latest = out.groupBy("user_id").agg(
        F.max(F.struct("n_events", "last_ts")).alias("s"))
    return (
        latest.select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            F.date_format(F.to_timestamp("s.last_ts"),
                          "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_ts"),
        )
        .orderBy("user_id")
    )


# F.session_window's gap end is EXCLUSIVE: a session spans [first_ts,
# last_ts + gap), so an event landing exactly at last_ts + gap starts a NEW
# session. The oracle therefore splits on `diff >= gap` — unlike the batch
# events_sessionize twin's strict `> gap` — making the boundary semantics
# exact rather than rows-only.
SESSION_STREAM_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) >= 3600000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts,
         sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts) + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S')
         AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM sess
GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


@register(sql=SESSION_STREAM_SQL)
def streaming_sessionize(spark, sf_dir):
    """Native incremental session windows (``F.session_window``, 1h gap)
    executed BY the streaming engine through the harness. The oracle
    reconstructs the same sessions with a lag/cumsum using the
    session_window boundary rule (`>= gap` splits — exclusive window
    end), so this is an exact hash check, not rows-only."""
    stream = session_windows(read_event_stream(spark, sf_dir))
    out = run_to_memory(stream)
    return out.orderBy("user_id", "session_start")


@register(sql=ANOMALY_SQL)
def streaming_volume_anomaly(spark, sf_dir):
    """Streaming ingest monitor: hourly per-type counts aggregate IN the
    streaming engine (watermarked tumbling windows, complete mode); every
    micro-batch snapshot is z-scored inside ``foreachBatch`` against a
    static baseline profile (per-type mu/sigma — in production the
    trailing profile table) and the flagged rows land in an overwrite-
    per-batch sink, so a replayed batch never duplicates alerts. Over the
    finite source the final snapshot equals the batch
    ``events_volume_anomaly`` — the shared oracle."""
    events = read_event_stream(spark, sf_dir)
    hourly = (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                .alias("hour_start"), "event_type", "n"))

    baseline = (
        load(spark, sf_dir, "events")
        .groupBy("event_type",
                 F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("event_type")
        .agg(F.avg("n").alias("mu"), F.stddev_samp("n").alias("sigma"))
        .where(F.col("sigma") > 0))

    out_dir = track_staging_dir("anomstream_out_")
    ckpt = track_staging_dir("anomstream_ckpt_")

    def write_batch(df, batch_id):
        z = (F.col("n") - F.col("mu")) / F.col("sigma")
        (df.join(F.broadcast(baseline), "event_type")
           .where(F.abs(z) >= 2.0)
           .select("event_type", "hour_start", "n",
                   F.round(z, 4).alias("z"))
           .write.mode("overwrite").parquet(out_dir))

    await_stream(hourly.writeStream.outputMode("complete")
                 .foreachBatch(write_batch)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
    return (spark.read.parquet(out_dir)
            .orderBy("event_type", "hour_start"))


@register(sql=HEADERS_SQL)
def streaming_multimodal_headers(spark, sf_dir):
    """Media-ingest streaming ETL: the multimodal container construction +
    header parse (binary-column byte arithmetic, zero Python) executed BY
    the streaming engine as a stateless per-micro-batch projection —
    the production shape of a decode/metadata-extraction stage sitting on
    a media firehose. Append mode, no state, so throughput is scan-bound;
    the oracle is the same arithmetic twin as the batch
    ``multimodal_headers``."""
    stream = read_document_stream(spark, sf_dir)
    out = run_to_memory(header_metadata(attach_media_content(stream)),
                        output_mode="append")
    return out.orderBy("doc_id")


# --- Stream-stream time-interval join --------------------------------------

STREAM_CONVERSIONS_SQL = """
SELECT s.user_id,
       strftime(s.ts, '%Y-%m-%d %H:%M:%S') AS signup_ts,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       round(p.value, 4) AS purchase_value
FROM events s
JOIN events p
  ON s.user_id = p.user_id
 AND p.ts > s.ts
 AND p.ts <= s.ts + INTERVAL 1 HOUR
WHERE s.event_type = 'signup' AND p.event_type = 'purchase'
ORDER BY s.user_id, signup_ts, purchase_ts, purchase_value
"""


@register(sql=STREAM_CONVERSIONS_SQL)
def streaming_conversions(spark, sf_dir):
    """Stream–stream time-interval join executed BY the streaming engine
    (`streams.stream_stream_conversions`): purchases within 1 hour after
    a signup by the same user, both sides watermarked so buffered state
    expires once the watermark passes ``signup.ts + horizon``. Append
    output mode (the only mode stream–stream inner joins support); over
    the finite availableNow source the watermark never drops rows, so
    the DuckDB interval-join twin is exact. Completes the
    driver-routed streaming surface: windows, sessions, stream–static,
    stateful, dedup-by-watermark, anomaly, and now stream–stream."""
    stream = stream_stream_conversions(read_event_stream(spark, sf_dir))
    out = run_to_memory(stream, output_mode="append")
    return (out.select("user_id", "signup_ts", "purchase_ts",
                       F.round("purchase_value", 4)
                       .alias("purchase_value"))
            .orderBy("user_id", "signup_ts", "purchase_ts",
                     "purchase_value"))


# --- Watermarked streaming dedup (exactly-once ingest) ----------------------

# event_id is unique in the fixture, so the self-union below manufactures
# exactly one duplicate per event: the deduped stream must reproduce the
# plain per-type aggregate of the ORIGINAL table for the oracle to match —
# a non-vacuous exactly-once check.
STREAM_DEDUP_SQL = """
SELECT event_type,
       count(*) AS n_unique,
       round(sum(value), 4) AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register(sql=STREAM_DEDUP_SQL)
def streaming_dedup(spark, sf_dir):
    """Watermarked streaming ingest dedup executed by the streaming
    engine: the event stream unioned with a second read of itself (every
    event duplicated by construction) flows through
    ``dropDuplicatesWithinWatermark`` (`streams.dedup_stream` — state
    bounded by the watermark window, the property that makes ingest
    dedup viable at 100 TB/day) in append mode; the memory-sink output
    is then aggregated per event_type and must equal the plain aggregate
    of the original table (exactly-once emission). The streaming stage
    is the dedup itself; the batch agg over the finite sink output keeps
    the plan to one stateful operator."""
    doubled = read_event_stream(spark, sf_dir).unionByName(
        read_event_stream(spark, sf_dir))
    deduped = dedup_stream(doubled).select("event_id", "event_type",
                                           "value")
    out = run_to_memory(deduped, output_mode="append")
    return (out.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_unique"),
                 F.round(F.sum("value"), 4).alias("total_value"))
            .orderBy("event_type"))


# --- Sliding windows on the streaming engine --------------------------------

@register(sql=SLIDE_SQL)
def streaming_sliding_hour(spark, sf_dir):
    """1h window sliding by 30min executed BY the streaming engine
    (`streams.sliding_hourly`): overlapping watermarked windows, complete
    mode, memory sink — each event lands in two windows, the overlap
    bookkeeping the tumbling query doesn't exercise. Oracle = the batch
    twin's grid-join SQL (`events_sliding_hour`)."""
    stream = sliding_hourly(read_event_stream(spark, sf_dir))
    out = run_to_memory(stream)
    return out.orderBy("window_start")


# --- Streaming HLL distinct sketch ------------------------------------------

STREAM_HLL_SQL = f"""
WITH keyed AS (
  SELECT event_id AS k, md5(CAST(event_id AS VARCHAR)) AS h FROM events
), buckets AS (
  SELECT {HLL_BUCKET} AS bucket, max({HLL_RHO}) AS mj
  FROM keyed GROUP BY 1
), sketch AS (
  SELECT CAST(sum({HLL_POW2}) AS BIGINT)
         + ({HLL_M} - count(*)) * {2 ** (HLL_BITS + 1)} AS s,
         CAST(count(*) AS BIGINT) AS n_buckets
  FROM buckets
), exact AS (
  SELECT CAST(count(DISTINCT k) AS BIGINT) AS n_exact FROM keyed
)
SELECT n_exact,
       round({HLL_A} / CAST(s AS DOUBLE), 2) AS n_est,
       n_buckets,
       round(abs(round({HLL_A} / CAST(s AS DOUBLE), 2) - n_exact)
             / n_exact, 4) AS rel_err
FROM sketch CROSS JOIN exact
"""


@register(sql=STREAM_HLL_SQL)
def streaming_hll_distinct(spark, sf_dir):
    """The HLL distinct sketch maintained BY the streaming engine: the
    event stream maps to (bucket, rho) and Structured Streaming keeps
    max(rho) per bucket as its aggregation state — 256 rows of state
    REGARDLESS of stream length, the textbook mergeable-sketch shape
    (micro-batches merge by max, exactly how 1000 executors or 1000
    days of stream merge). availableNow trigger + complete-mode memory
    sink; the fold from bucket maxima to the estimate is a 256-row
    batch step over the sink table. Same md5-derived, integer-exact
    arithmetic as agg_hll_sketch, so the DuckDB oracle replays the
    whole estimate; the exact COUNT(DISTINCT) twin comes from a static
    read of the same source (the error-measurement side, dropped at
    scale)."""
    ev = read_event_stream(spark, sf_dir)
    keyed = ev.select(F.md5(F.col("event_id").cast("string")).alias("h"))
    mem = run_to_memory(hll_registers(keyed))
    exact = (load(spark, sf_dir, "events")
             .agg(F.countDistinct("event_id").cast("bigint")
                  .alias("n_exact")))
    return hll_estimate(mem, exact)


# --- Windowed top-k on the streaming engine ---------------------------------

STREAM_TOPK_SQL = """
WITH counts AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
           AS window_start,
         event_type, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT window_start, event_type, n,
       CAST(row_number() OVER (PARTITION BY window_start
                               ORDER BY n DESC, event_type) AS BIGINT)
         AS rn
FROM counts
QUALIFY rn <= 3
ORDER BY window_start, rn
"""


@register(sql=STREAM_TOPK_SQL)
def streaming_topk_types(spark, sf_dir):
    """Per-window top-3 event types with the WINDOWED COUNTS executed by
    the streaming engine (watermarked tumbling state, availableNow,
    memory sink) and only the final rank applied in batch over the
    finite sink output — the trending-topics shape. Ranking inside the
    stream would need arbitrary stateful reprocessing per update
    (rank is not an incremental aggregate); the standard production
    split is exactly this: incremental windowed counts in the stream,
    cheap top-k on the bounded (windows × types) result downstream.
    State is bounded by the watermark horizon × type vocabulary."""
    stream = tumbling_hourly(read_event_stream(spark, sf_dir))
    out = run_to_memory(stream)
    w = Window.partitionBy("window_start").orderBy(F.desc("n"),
                                                   F.asc("event_type"))
    return (out.select("window_start", "event_type", "n")
            .withColumn("rn", F.row_number().over(w).cast("long"))
            .where(F.col("rn") <= 3)
            .orderBy("window_start", "rn"))


@register(sql=probe_minhash_oracle_sql())
def streaming_minhash_probe(spark, sf_dir):
    """Streaming incremental NEAR-dup ingest — the stream twin completing
    the dedup family's batch (`dedup_minhash_lsh`) / incremental
    (`dedup_incremental_minhash`, `dedup_minhash_bucketed_probe`) /
    streaming triad: incoming documents (the doc_id%5==4 batch slice as
    a file-source stream) flow through the SAME Arrow `mapInPandas`
    signature stage as the batch build (stateless — per-doc shingle set
    and all 32 mins computed inside the micro-batch), band keys explode
    per row, and each band row probes the PERSISTED corpus band index
    (static side, signatures denormalized alongside the band keys for a
    one-hop probe) in a stream–static equi-join. Signature agreement is
    computed row-wise, filtered at est >= 0.5 BEFORE the stateful
    pair-dedup aggregation, so streaming state is near-dup-pairs-sized,
    never collision-sized. Oracle = the bucketed batch twin's SQL
    (`probe_minhash_oracle_sql`): over the finite availableNow source,
    stream output == batch probe output exactly.

    Scale: per micro-batch work is O(batch bands × bucket occupancy) —
    the static index is read/broadcast per batch and never shuffled by
    the stream; the 100 TB posture is the bucketed index layout of
    `dedup_minhash_bucketed_probe` with this query as its continuous
    consumer."""
    # Static probe index: corpus (old) band keys with signatures
    # denormalized — the persisted artifact a deployment would maintain.
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    is_new = F.col("doc_id") % 5 == 4
    # the index denormalizes bands
    # against signatures — un-persisted, BOTH subtrees of that self-join
    # re-ran the corpus signature fold, and every micro-batch re-derived
    # the whole index again. Persist the narrow signature frame: one
    # corpus fold total; the band explode re-derives from the cache per
    # consumer (as measured for dedup_minhash_lsh: cache the signatures,
    # never the n_bands× exploded frame).
    sig_old = track_persist(minhash_signatures(docs.where(~is_new)))
    index = (band_buckets(sig_old, N_HASHES, N_BANDS)
             .join(sig_old, "doc_id")
             .select(F.col("doc_id").alias("old_id"), "band_id", "bh",
                     *[F.col(f"mh{i}").alias(f"omh{i}")
                       for i in range(N_HASHES)]))

    # Stream side: same signature stage, band keys exploded per row with
    # the new doc's signature carried along.
    stream_docs = (read_document_stream(spark, sf_dir)
                   .where(is_new & F.col("text").isNotNull()))
    sig_new = minhash_signatures(stream_docs)
    bands_new = sig_new.select(
        F.col("doc_id").alias("new_id"),
        *[F.col(f"mh{i}").alias(f"nmh{i}") for i in range(N_HASHES)],
        F.posexplode(band_keys(N_HASHES, N_BANDS)).alias("band_id", "bh"))

    hits = (bands_new.join(index, ["band_id", "bh"])
            .select(F.least("new_id", "old_id").alias("doc_a"),
                    F.greatest("new_id", "old_id").alias("doc_b"),
                    est_jaccard("nmh", "omh", N_HASHES)
                    .alias("est"))
            .where(F.col("est") >= THRESHOLD)
            .groupBy("doc_a", "doc_b")
            .agg(F.max("est").alias("est_jaccard")))
    out = run_to_memory(hits)
    return out.orderBy("doc_a", "doc_b")




@register(sql=SCD2_SQL)
def streaming_scd2_merge(spark, sf_dir):
    """The STREAMING consumer of the nightly SCD2 merge — the
    incremental form of `events_scd2_history`: the existing dimension
    (built from the pre-cutoff 70% of the corpus) is materialized to a
    versioned lake path, the delta arrives as a file-source stream, and
    each micro-batch applies `scd2_merge` against the CURRENT dimension
    version and writes the merged dimension as the NEXT version —
    overwrite-per-version, so a replayed batch rewrites its own output
    instead of corrupting the chain (the overwrite-per-batch contract of
    `run_probe_stream`, applied to a full-snapshot dimension instead of
    an append sink).
    Oracle = the full rebuild (`SCD2_SQL` verbatim): over the finite
    availableNow source the final version must equal rebuilding from all
    events, through the streaming engine's trigger plumbing
    (tests/test_events_semantics.py pins the same equivalence for a
    direct `scd2_merge` call). The delta is staged as THREE single-file
    segments in event-time order with `maxFilesPerTrigger=1`, so
    availableNow delivers three ordered micro-batches and batch N+1
    genuinely reads the dimension version batch N wrote — the
    version-chaining property is exercised, not asserted by construction
    (tests/test_streaming.py pins the version count). A
    multi-batch deployment requires exactly this in-order arrival
    (per-key ordering is what a CDC log gives you; the merge itself
    handles any order WITHIN a batch via its windows).

    Scale: per batch, work is `scd2_merge`'s — delta-sized windows, a
    broadcast-sized open-row join, and the closed-dimension
    pass-through (which a lakehouse MERGE INTO would not rewrite);
    streaming state is the checkpoint offsets only, since the dimension
    itself IS the sink. Reference parity: witlox/spark_sentiment has no
    temporal surface; extension per SURVEY §7.4."""
    ev = load(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min(F.unix_millis("ts")),
                    F.max(F.unix_millis("ts"))).first()
    if lo is None:  # empty source: degenerate cutoff, both halves empty
        lo = hi = 0
    # 70% cutoff for the historical dimension; the remaining 30% splits
    # at the 80%/90% marks into three event-time-ordered delta segments.
    cuts = [lo + (hi - lo) * k // 10 for k in (7, 8, 9)]
    cutoff = F.timestamp_millis(F.lit(cuts[0]))

    hist_dim = scd2_dim(ev.where(F.col("ts") < cutoff))
    dim_base = track_staging_dir("scd2stream_dim_")
    ckpt = track_staging_dir("scd2stream_ckpt_")
    state = {"latest": f"{dim_base}/v0"}
    hist_dim.write.mode("overwrite").parquet(state["latest"])
    dim_schema = hist_dim.schema

    # Three event-time-ordered delta segments, one micro-batch each
    # (stage_ordered_segments carries the mtime-ordering contract and
    # the empty-slice behavior).
    delta = ev.where(F.col("ts") >= cutoff)
    segs, seg_lo = [], cuts[0]
    for seg_hi in cuts[1:] + [hi + 1]:
        segs.append(delta.where((F.unix_millis("ts") >= seg_lo)
                                & (F.unix_millis("ts") < seg_hi)))
        seg_lo = seg_hi
    stream_dir = stage_ordered_segments(segs, "scd2stream_delta_")

    def merge_batch(df, batch_id):
        cur = spark.read.schema(dim_schema).parquet(state["latest"])
        nxt = f"{dim_base}/v{batch_id + 1}"
        scd2_merge(cur, df).write.mode("overwrite").parquet(nxt)
        state["latest"] = nxt

    delta_stream = (spark.readStream.schema(delta.schema)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(stream_dir))
    await_stream(delta_stream.writeStream
                 .foreachBatch(merge_batch)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
    return scd2_formatted(
        spark.read.schema(dim_schema).parquet(state["latest"]))


WINNOW_STREAM_SQL = WINNOW_CTE + """
, fp AS (
  SELECT DISTINCT doc_id, h FROM sel WHERE s = 1
), fp_old AS (
  SELECT doc_id, h FROM fp WHERE doc_id % 5 <> 4
), hot AS (
  SELECT h FROM fp_old GROUP BY h HAVING count(*) > 50
), keep_old AS (
  SELECT doc_id, h FROM fp_old WHERE h NOT IN (SELECT h FROM hot)
), fp_new AS (
  SELECT doc_id, h FROM fp WHERE doc_id % 5 = 4
)
SELECT least(n.doc_id, o.doc_id) AS doc_a,
       greatest(n.doc_id, o.doc_id) AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM fp_new n JOIN keep_old o ON n.h = o.h
GROUP BY 1, 2
HAVING count(*) >= 2
ORDER BY doc_a, doc_b
"""


@register(sql=WINNOW_STREAM_SQL)
def streaming_winnowing_probe(spark, sf_dir):
    """Streaming consumer of the winnowing index — completes the
    family's batch / incremental / streaming triad
    (`dedup_winnowing_pairs` → `dedup_winnowing_incremental` → this),
    the same arc the MinHash family walked: the corpus's selected-
    fingerprint index is the static side (boilerplate cap applied at
    INDEX-build time — the hot list is a corpus artifact, so probes
    are independent of delta batch boundaries, unlike the incremental
    form's index+batch df cap); new documents (doc_id % 5 == 4) arrive
    as a file stream staged as TWO files at one file per trigger, and
    each micro-batch winnows ITS documents (selection is doc-local —
    every row is a complete document, so any batch split is safe),
    probes the index on the 48-bit fingerprint, and appends its
    new-vs-old pairs to a batch_id-partitioned sink (exactly-once by
    overwrite-per-batch; each pair has exactly one new doc, so no pair
    spans batches and the union needs no dedup).

    Winnowing selection uses lag/lead windows, which Structured
    Streaming cannot run inside a streaming plan — `foreachBatch` gives
    each micro-batch full batch semantics, the same route as
    `streaming_scd2_merge`. Oracle: the shared `WINNOW_CTE` chain with
    index-side cap and the new-vs-old restriction, replayed bit-for-bit
    over the finite availableNow source regardless of how the delta was
    batched.

    Scale: per batch, work is batch fingerprints x capped index df
    (<= 50 per fingerprint); the index side is bucketed-table-sized
    state on disk, never streaming state. Reference parity:
    witlox/spark_sentiment has no streaming surface; extension per
    SURVEY §7.4."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    is_new = F.col("doc_id") % 5 == 4
    # fp_old feeds the hot-list agg
    # AND the anti-join — unpersisted, materializing `index` winnowed the
    # corpus twice (explode + 6 windows per pass). Persist the narrow
    # (doc_id, h) frame so the corpus pass runs once.
    fp_old = track_persist(
        winnow_selected(docs.where(~is_new))
        .where(F.col("s") == 1).select("doc_id", "h").distinct())
    hot = (fp_old.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
           .where(F.col("df") > 50).select("h"))
    index = track_persist(fp_old.join(hot, "h", "left_anti"))

    # Stage the delta as two files (split by doc_id mod 10) delivered
    # one per trigger — two genuine micro-batches, pinning that batch
    # boundaries cannot change the pair set.
    new_docs = docs.where(is_new)

    def probe(df):
        fp_new = (winnow_selected(df)
                  .where(F.col("s") == 1).select("doc_id", "h").distinct())
        return (fp_new.alias("nw")
                .join(index.alias("od"), "h")
                .select(F.least("nw.doc_id", "od.doc_id").alias("doc_a"),
                        F.greatest("nw.doc_id", "od.doc_id").alias("doc_b"))
                .groupBy("doc_a", "doc_b")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
                .where(F.col("n_shared") >= 2))

    doc_id_t = docs.schema["doc_id"].dataType.simpleString()
    return run_probe_stream(
        spark, [new_docs.where(F.col("doc_id") % 10 == 4),
                new_docs.where(F.col("doc_id") % 10 == 9)], probe,
        f"doc_a {doc_id_t}, doc_b {doc_id_t}, n_shared bigint",
        "winnow").orderBy("doc_a", "doc_b")


# --- Streaming IVF probe (the vector index's streaming leg) -----------------


@register(sql=ANN_IVF_SQL)
def streaming_ivf_probe(spark, sf_dir):
    """Streaming consumer of the persisted IVF cell index — the
    streaming form of `ann_ivf_topk`: the corpus's multi-assignment cell
    table is the static side, and QUERY vectors arrive as a file stream
    staged as TWO files at one file per trigger. Each micro-batch routes
    ITS queries to their probe cells (routing is row-local given the
    broadcast centroids, so any batch split is safe), joins the static
    index on the cell, exact-cosine re-ranks per query, and appends its
    top-k to a batch_id-partitioned sink (exactly-once by
    overwrite-per-batch; each qid lives in exactly one batch, so no
    result spans batches and the union needs no dedup — batch-boundary
    independence is pinned in tests/test_streaming.py against the
    inline form).

    The per-qid top-k window needs batch semantics, so the probe runs
    under `foreachBatch` — the `streaming_winnowing_probe` /
    `streaming_scd2_merge` route. Oracle: `ann_ivf_topk`'s SQL verbatim
    — content-addressed centroids make cells and rankings
    engine-independent, and the finite availableNow source replays the
    same top-k regardless of how the query batch was split.

    Scale: per batch, work is |batch queries| × probe cells × mean cell
    occupancy; the index is table-sized state on disk (at 100 TB a
    layout bucketed on the cell), never streaming state. Reference
    parity: witlox/spark_sentiment has no streaming surface; extension
    per SURVEY §7.4."""
    emb = load(spark, sf_dir, "embeddings")
    vecs = unit_vector_frame(emb, "u", "label")
    cent = track_persist(ivf_centroids(vecs))
    assigned = track_persist(
        ivf_ranked(vecs, cent).where(F.col("rn") <= IVF_ASSIGN)
        .select("vec_id", "label", "u", "cell"))

    # Queries arrive as TWO micro-batches (split by vec_id) — one file
    # per trigger, pinning that batch boundaries cannot change any
    # query's top-k.
    q_src = emb.where(F.col("vec_id") < 5)

    def probe(df):
        qv = df.select(F.col("vec_id").alias("qid"),
                       unit_vector("embedding").alias("qu"))
        qsim = F.round(dot(F.col("qu"), F.col("cu")), 6)
        wq = Window.partitionBy("qid").orderBy(F.desc("qsim"),
                                               F.asc("cell"))
        probes = (qv.crossJoin(F.broadcast(cent))
                  .select("qid", "qu", "cell", qsim.alias("qsim"))
                  .withColumn("prn", F.row_number().over(wq))
                  .where(F.col("prn") <= IVF_PROBE)
                  .select("qid", "qu", "cell"))
        cos = F.round(dot(F.col("qu"), F.col("u")), 6)
        wk = Window.partitionBy("qid").orderBy(F.desc("cos"),
                                               F.asc("vec_id"))
        return (assigned.join(F.broadcast(probes), "cell")
                .where(F.col("vec_id") != F.col("qid"))
                .select("qid", "vec_id",
                        F.col("label").cast("long").alias("label"),
                        cos.alias("cos"))
                .distinct()
                .withColumn("rn", F.row_number().over(wk).cast("long"))
                .where(F.col("rn") <= IVF_TOPK)
                .select("qid", "vec_id", "label",
                        F.col("cos").alias("cosine"), "rn"))

    return run_probe_stream(
        spark, [q_src.where(F.col("vec_id") < 3),
                q_src.where(F.col("vec_id") >= 3)], probe,
        "qid bigint, vec_id bigint, label bigint, cosine double, rn bigint",
        "ivf").orderBy("qid", "rn")


# --- Streaming PQ probe (the quantized index's streaming leg) ---------------


@register(sql=ANN_PQ_SQL)
def streaming_pq_probe(spark, sf_dir):
    """Streaming consumer of the persisted PQ index — the streaming
    form of `ann_pq_topk`. The corpus's code table + codebook are staged
    ONCE by the shared builder (`operators.vectors.pq_stage_index`);
    QUERY vectors arrive as a file stream staged as TWO files at one
    file per trigger. Each micro-batch builds ITS queries' fixed-point
    ADC tables from the PERSISTED codebook (a bounded M×K read, no
    corpus access), integer-scans the stored codes, and exact-re-ranks —
    the scan + re-rank chain is `pq_adc_topk`, the SAME function
    `ann_pq_topk` runs, so streamed-equals-batch is structural, not
    incidental.

    Each micro-batch appends its top-k to a batch_id-partitioned sink
    (exactly-once by overwrite-per-batch); ADC tables are per-query and
    the code table is static, so any batch split yields the same
    result — each qid lives in exactly one batch and no result spans
    batches (pinned against the inline form in
    tests/test_streaming.py).

    Oracle: `ann_pq_topk`'s SQL verbatim — content-addressed codebooks
    + fixed-point integer ADC make the persisted codes byte-identical
    to the inline encode, and the finite availableNow source replays
    the same top-k regardless of the query batch split.

    Scale: per batch, work is one codes-parquet scan (1/32nd the float
    bytes) × |batch queries| table lookups + a PQ_RERANK×queries exact
    re-rank; the index is table-sized state on disk, never streaming
    state. Newly encoded vectors append to the code parquet between
    batches — the same append contract as the MinHash band and IVF
    cell indexes. Reference parity: witlox/spark_sentiment has no
    streaming surface; extension per SURVEY §7.4."""
    emb = load(spark, sf_dir, "embeddings")
    vecs = unit_vector_frame(emb, "e")

    # ---- static side: the persisted quantized index (built ONCE) -------
    base, n_codes = pq_stage_index(spark, vecs)
    out_schema = "qid long, vec_id long, cosine double, rn long"
    if n_codes == 0:
        return spark.createDataFrame([], out_schema)  # empty corpus

    cb = pq_read_codebook(spark, base, n_codes)  # bounded M×K artifact read
    codes = spark.read.parquet(base + "/codes")

    # Queries arrive as TWO micro-batches (split by vec_id) — one file
    # per trigger, pinning that batch boundaries cannot change any
    # query's top-k.
    q_src = emb.where(F.col("vec_id") < 5)

    def probe(df):
        batch_queries = (df.select(F.col("vec_id").alias("qid"),
                                   unit_vector("embedding").alias("qe"))
                         .collect())
        probes = pq_adc_tables(spark, batch_queries, cb, n_codes)
        return pq_adc_topk(codes, probes, vecs, n_codes, PQ_RERANK)

    return run_probe_stream(
        spark, [q_src.where(F.col("vec_id") < 3),
                q_src.where(F.col("vec_id") >= 3)], probe, out_schema,
        "pq").orderBy("qid", "rn")


# --- Streaming IVF+PQ probe (the composed index's streaming leg) ------------


@register(sql=ANN_IVFPQ_SQL)
def streaming_ivfpq_probe(spark, sf_dir):
    """Streaming consumer of the COMPOSED IVF+PQ index — gives the
    composition the same persisted / streaming pair the flat
    PQ and IVF halves already have: the three artifacts (cell-
    partitioned codes, centroids, codebook) are staged ONCE by the
    shared `ivfpq_stage_index` builder, query vectors arrive as a
    file stream staged as TWO files at one file per trigger, and each
    micro-batch runs `ivfpq_probe` — the SAME function the batch
    probe runs — with ITS queries: routing against the persisted
    centroids, the batch's visited-cell list pruning the code
    partitions at the directory level, candidate dedupe, integer ADC,
    exact re-rank. Streamed-equals-batch is structural.

    Batch boundaries cannot change any query's top-k: routing, probe
    cells, ADC tables, and the per-qid windows are all per-query, the
    artifacts are static, and each qid lives in exactly one batch
    (pinned against the batch form in tests/test_streaming.py).

    Oracle: ANN_IVFPQ_SQL verbatim — the finite availableNow source
    replays the same composed top-k regardless of the query split.

    Scale: per batch, I/O is the batch's probe/K share of the
    compressed code partitions (not the corpus, not even all codes) +
    bounded control-plane reads; the index is table-sized state on
    disk, never streaming state. Newly indexed vectors append into
    their cells' partitions between batches — the same append contract
    as every other persisted index. Reference parity:
    witlox/spark_sentiment has no streaming surface; extension per
    SURVEY §7.4."""
    emb = load(spark, sf_dir, "embeddings")
    vecs = unit_vector_frame(emb, "e")

    # ---- static side: the persisted composed index (built ONCE) --------
    base, n_codes = ivfpq_stage_index(spark, vecs)
    out_schema = "qid long, vec_id long, cosine double, rn long"
    if n_codes == 0:
        return spark.createDataFrame([], out_schema)  # empty corpus

    q_src = emb.where(F.col("vec_id") < 5)

    def probe(df):
        batch_queries = df.select(F.col("vec_id").alias("qid"),
                                  unit_vector("embedding").alias("qe"))
        return ivfpq_probe(spark, vecs, base, n_codes, IVFPQ_RERANK,
                           queries=batch_queries)

    return run_probe_stream(
        spark, [q_src.where(F.col("vec_id") < 3),
                q_src.where(F.col("vec_id") >= 3)], probe, out_schema,
        "ivfpq").orderBy("qid", "rn")


# --- Streaming BM25 probe (the retrieval family's streaming leg) ------------


@register(sql=BM25_SQL)
def streaming_bm25_probe(spark, sf_dir):
    """Streaming consumer of the persisted inverted index — the
    streaming form of `search_bm25`, and the most production-literal
    streaming probe: a search engine builds its index once and serves a
    continuous QUERY stream against it. The postings (term-sorted) +
    doclens artifacts are staged ONCE by the shared builder
    (`operators.bm25.bm25_stage_index`); query terms arrive as a file
    stream staged as TWO files (q1 | q2+q3) at one file per trigger.

    Each micro-batch collects ITS (qid, term) rows — the tiny side —
    pushes the batch's `w IN (terms)` predicate into the postings scan
    (row-group seeks on the sorted layout), derives df from the matched
    slice and the (n_docs, avgdl) scalar from doclens, and scores via
    `bm25_score_topk` — the SAME chain `search_bm25` runs, so
    streamed-equals-batch is structural. Top-k appends to a
    batch_id-partitioned sink (exactly-once by overwrite-per-batch);
    df/stats derive only from the static artifacts and each qid lives
    in exactly one batch, so batch boundaries cannot change any
    ranking (pinned against the inline form in
    tests/test_streaming.py).

    Oracle: BM25_SQL verbatim — the finite availableNow source replays
    the same top-k regardless of the query batch split.

    Scale: per batch, cost is bounded by the batch's term list (postings
    row-group seeks + one narrow doclens pass), never the corpus; the
    index is table-sized state on disk, append-extended per ingest
    batch, never streaming state. Reference parity:
    witlox/spark_sentiment has no streaming surface; extension per
    SURVEY §7.4."""
    postings, dl = bm25_stage_index(spark, sf_dir)

    # Query terms arrive as TWO micro-batches (q1 | q2+q3) — one file
    # per trigger, pinning that batch boundaries cannot change rankings.
    term_rows = [(qid, t) for qid, terms in BM25_QUERIES for t in terms]
    q_all = spark.createDataFrame(term_rows, "qid string, term string")
    out_schema = "qid string, doc_id bigint, score double, rn bigint"

    def probe(df_batch):
        rows = df_batch.collect()  # the tiny query side
        if not rows:  # empty micro-batch: an empty, schema-stable slice
            return spark.createDataFrame([], out_schema)
        q = spark.createDataFrame([(r["qid"], r["term"]) for r in rows],
                                  "qid string, term string")
        return bm25_probe(postings, dl, q, sorted({r["term"] for r in rows}))

    return run_probe_stream(
        spark, [q_all.where(F.col("qid") == "q1"),
                q_all.where(F.col("qid") != "q1")], probe, out_schema,
        "bm25").orderBy("qid", "rn")
