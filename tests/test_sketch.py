"""Semantic invariants for the sketch/layout family (plans/sketch_queries):
oracle parity itself is covered by test_oracle.py — these pin the claims the
oracles can't see: estimator error bounds, CMS one-sidedness, Z-order
locality, the no-global-window plan shape, small-file compaction's part-file
counts, and the HLL stickiness swap's accuracy and window-merge exactness."""

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from tests.plan_walk import has, nodes


def test_hll_error_within_band(query):
    """256-bucket HLL has sigma ~= 1.04/sqrt(256) = 6.5%; at sf0.001's
    ~1.5k distinct orderkeys a 25% band is ~4 sigma — a deterministic
    estimate either sits inside it forever or the estimator is wrong."""
    row = query("agg_hll_sketch").collect()[0]
    assert row["n_exact"] > 0
    assert row["n_est"] > 0
    assert 0 < row["n_buckets"] <= 256
    assert row["rel_err"] < 0.25, row


def test_cms_estimates_are_one_sided(query):
    """Count-min can only overcount: min-of-bucket-sums >= exact count for
    every probed token, and the sketch itself stays at its fixed size."""
    rows = query("token_cms_topk").collect()
    assert len(rows) == 20
    for r in rows:
        assert r["n_est"] >= r["n_exact"], r
        assert r["overcount"] == r["n_est"] - r["n_exact"]
    # top-k ordering is by exact count desc, then token
    counts = [r["n_exact"] for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_zorder_files_are_local_in_both_dims(spark, query):
    """The point of Z-order: each z-range file covers a small square of
    the (part, supp) grid, so BOTH per-file spans stay far below the full
    range (row-order gives ~1.0 on at least one dim). Mean span <= 0.35
    holds with huge margin for the 32x32-cell blocks 64 files imply."""
    df = query("zorder_layout")
    rows = df.collect()
    assert rows, "no files produced"
    li_n = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    assert sum(r["n_rows"] for r in rows) == li_n
    mean_part = sum(r["part_span"] for r in rows) / len(rows)
    mean_supp = sum(r["supp_span"] for r in rows) / len(rows)
    assert mean_part <= 0.35, mean_part
    assert mean_supp <= 0.35, mean_supp


def test_zorder_plan_has_no_global_window(query):
    """The layout must come from broadcast bounds + arithmetic, never a
    global ntile/sort window (the single-partition scale killer)."""
    ns = nodes(query("zorder_layout"))
    assert not has(ns, "Window"), [n.name for n in ns]


def test_salted_join_spreads_keys(spark):
    """The salted join's pre-shuffle key space is (partkey x 8 salts):
    verify the salt column actually takes all 8 values on this corpus so
    the spread is real, not vestigial."""
    from spark_sentiment_spark.operators.skew import salted_join

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select("l_partkey")
    part = (spark.read.parquet(f"{SF_DIR}/part.parquet")
            .select(F.col("p_partkey").alias("l_partkey"), "p_brand"))
    out = salted_join(li, part, ["l_partkey"], n_salts=8)
    # reconstruct the salt the same way the operator does on the left side
    salted = li.withColumn(
        "_salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()),
                        F.lit(8)))
    n_salts = salted.select("_salt").distinct().count()
    assert n_salts == 8
    assert out.count() == li.join(part, "l_partkey").count()


def test_quantile_histogram_within_one_bin(spark, query):
    """The rank-target value lives in the hit bin and the interpolated
    estimate also lies inside that bin, so |est - exact| < bin width is a
    theorem, not a tolerance — check it for all three quantiles."""
    df = query("quantile_histogram_sketch")
    rows = {r["quantile"]: r for r in df.collect()}
    assert set(rows) == {"0.50", "0.95", "0.99"}

    vals = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("n_chars").toPandas()["n_chars"])
    lo, hi, n = int(vals.min()), int(vals.max()), len(vals)
    width = (hi - lo + 1) / 128.0
    s = vals.sort_values().reset_index(drop=True)
    for lbl, num, den in [("0.50", 1, 2), ("0.95", 19, 20), ("0.99", 99, 100)]:
        target = -(-num * n // den)          # ceil(num*n/den)
        assert rows[lbl]["target"] == target
        exact = float(s.iloc[target - 1])    # target-th smallest
        assert abs(rows[lbl]["est_value"] - exact) < width, (lbl, exact)


def test_skew_profile_invariants(spark, query):
    """Structural invariants of the skew diagnostic: totals reconcile
    with the raw tables, the frequency order max >= p99 >= 1 holds, and
    skew_ratio >= 1 (equality only for a perfectly uniform key)."""
    rows = {r["key_col"]: r
            for r in query("skew_profile").collect()}
    assert set(rows) == {"l_partkey", "l_suppkey", "o_custkey"}
    li_n = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    ord_n = spark.read.parquet(f"{SF_DIR}/orders.parquet").count()
    for col, r in rows.items():
        assert r["n_rows"] == (ord_n if col == "o_custkey" else li_n)
        assert r["max_freq"] >= r["p99_freq"] >= 1
        assert 0 < r["top1_share"] <= 1
        assert r["skew_ratio"] >= 1.0, r
        assert r["n_keys"] <= r["n_rows"]


def test_compact_small_files_counts_and_content(spark, query):
    """Small-file compaction: the part-file counts before and after are
    what the query claims (64 → 4) and compaction leaves the table's
    content unchanged — properties the oracle can't see."""
    rows = query("io_compact_small_files").collect()
    assert rows, "compaction returned no groups"
    assert all(r["files_before"] == 64 and r["files_after"] == 4
               for r in rows)
    direct = (spark.read.parquet(f"{SF_DIR}/events.parquet")
              .groupBy("event_type")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                   F.countDistinct("user_id").cast("bigint")
                   .alias("n_users"),
                   F.sum(F.floor(F.col("value") * 10000).cast("bigint"))
                   .cast("bigint").alias("val_e4")))
    a = sorted((r["event_type"], r["n"], r["n_users"], r["val_e4"])
               for r in rows)
    b = sorted((r["event_type"], r["n"], r["n_users"], r["val_e4"])
               for r in direct.collect())
    assert a == b, "compaction changed table content"


# --- HLL stickiness ---------------------------------------------------------

def _synthetic_ud(spark, n_days=45, dau=3000, drift=50):
    """Distinct (d, user_id) frame with known exact DAU/MAU: day i is
    active for users [i*drift, i*drift + dau), so DAU = dau exactly and
    trailing-28-day MAU(i) = dau + drift * min(i, 27) in closed form —
    thousands of users/day, inside the raw HLL estimator's valid range
    (past the 2.5m = 640 knee for m = 256)."""
    days = spark.range(n_days).select(
        F.expr("timestamp(date_add(date '2024-01-01', cast(id as int)))")
        .alias("d"),
        F.col("id").alias("i"))
    return days.select(
        "d", F.explode(
            F.expr(f"sequence(i*{drift}, i*{drift} + {dau - 1})"))
        .alias("user_id"))


def test_stickiness_hll_accuracy_in_valid_range(spark):
    """The certified-swap pin: on an HLL-range corpus the sketched
    stickiness must track the exact closed-form stickiness within the
    estimator's error envelope. Deterministic (md5 hashing, fixed
    corpus): measured max rel err 0.076 / median 0.036, pinned at 2x
    headroom. The ratio beats its own ingredients (dau_est errs up to
    0.138) because DAU and MAU sketches share per-day partials, which
    correlates — and partially cancels — their errors."""
    from spark_sentiment_spark.plans.sketch_queries import (
        _stickiness_hll_core)

    dau, drift = 3000, 50
    out = _stickiness_hll_core(_synthetic_ud(spark, 45, dau, drift)) \
        .collect()
    assert len(out) == 45
    errs = []
    for i, r in enumerate(out):
        assert r["dau"] == dau  # the exact rider
        exact = dau / (dau + drift * min(i, 27))
        est = r["stickiness_est_ppm"] / 1e6
        errs.append(abs(est / exact - 1))
    errs.sort()
    assert max(errs) < 0.15, max(errs)
    assert errs[len(errs) // 2] < 0.08, errs[len(errs) // 2]


def test_stickiness_hll_window_merge_is_exact(spark):
    """Mergeability on the trailing window: max-merging <= 28 per-day
    partials must give BIT-IDENTICAL registers (hence identical s and
    estimates) to sketching each window's union set from scratch — the
    property that makes the partials reusable across window lengths,
    rollups, and micro-batches. Pinned on the synthetic corpus where
    windows genuinely overlap and drift."""
    from spark_sentiment_spark.operators.sketch import (
        HLL_A, HLL_BITS, HLL_BUCKET, HLL_M, HLL_POW2, HLL_RHO)
    from spark_sentiment_spark.plans.sketch_queries import _stickiness_hll_core

    ud = _synthetic_ud(spark, 20, 500, 100)
    merged = {r["day"]: r["mau_est_cents"]
              for r in _stickiness_hll_core(ud).collect()}

    # from-scratch: explode each user-day to every window it feeds,
    # then one direct HLL per window over the union set
    g = ud.select(F.col("d").alias("ud_d"), "user_id").alias("u").join(
        ud.select("d").distinct().alias("g"),
        (F.col("ud_d") <= F.col("g.d"))
        & (F.col("ud_d") > F.col("g.d") - F.expr("INTERVAL 28 DAY")))
    keyed = g.select(F.col("g.d").alias("d"), "user_id").distinct() \
        .withColumn("h", F.md5(F.col("user_id").cast("string")))
    buckets = (keyed.select("d", F.expr(HLL_BUCKET).alias("bucket"),
                            F.expr(HLL_RHO).alias("rho"))
               .groupBy("d", "bucket").agg(F.max("rho").alias("mj")))
    direct = {r["day"]: r["mau_direct_cents"] for r in (
        buckets.groupBy("d").agg(
            (F.sum(F.expr(HLL_POW2)).cast("bigint")
             + (F.lit(HLL_M) - F.count(F.lit(1)))
             * F.lit(2 ** (HLL_BITS + 1))).alias("s"))
        .select(F.date_format("d", "yyyy-MM-dd").alias("day"),
                F.floor(F.lit(float(HLL_A))
                        / F.col("s").cast("double") * 100)
                .cast("bigint").alias("mau_direct_cents"))).collect()}
    assert merged == direct


def test_stickiness_dau_from_partials_is_exact(spark):
    """sum(nb) over the (d, bucket) partials must equal the per-day
    distinct-user count a second pass over the facts would compute."""
    from spark_sentiment_spark.plans.sketch_queries import \
        _stickiness_hll_core

    ud = spark.createDataFrame(
        [(d, u) for d in range(3) for u in range(50 + 10 * d)],
        "di int, user_id int").select(
        F.expr("timestamp_seconds(86400 * di)").alias("d"), "user_id")
    out = {r["day"]: r["dau"] for r in _stickiness_hll_core(ud).collect()}
    expect = {r["day"]: r["n"] for r in ud.groupBy(
        F.date_format("d", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert out == expect


def test_stickiness_hll_rides_the_exact_dau(query):
    """Twin consistency on the fixture: the HLL form's day set and its
    exact-DAU rider must match `events_stickiness`' exact output row for
    row — the two queries must never drift on the part they share."""
    exact = {r["day"]: r["dau"]
             for r in query("events_stickiness").collect()}
    hll = {r["day"]: r["dau"]
           for r in query("events_stickiness_hll").collect()}
    assert hll == exact


def test_sliding_users_minute_windowing_matches_ts(spark, query):
    """The exact side's minute-windowed distinct must equal the direct
    ts-windowed distinct (windows are 30-min aligned, so floor-to-minute
    cannot move an event across a window edge)."""
    from spark_sentiment_spark.plans.registry import load
    from spark_sentiment_spark.plans.sketch_queries import _SLIDE_STEP

    out = {r["window_start"]: r["n_exact"]
           for r in query("events_sliding_users_hll").collect()}

    ev = load(spark, SF_DIR, "events")
    base = (f"timestamp_seconds((unix_seconds(ts) div {_SLIDE_STEP})"
            f" * {_SLIDE_STEP})")
    prev = (f"timestamp_seconds((unix_seconds(ts) div {_SLIDE_STEP})"
            f" * {_SLIDE_STEP} - {_SLIDE_STEP})")
    ew = (ev.select(F.explode(F.array(F.expr(base), F.expr(prev)))
                    .alias("w"), "ts", "user_id")
          .where((F.col("ts") >= F.col("w"))
                 & (F.col("ts") < F.col("w") + F.expr("INTERVAL 1 HOUR"))))
    expect = {r["w"]: r["n"] for r in ew.groupBy(
        F.date_format("w", "yyyy-MM-dd HH:mm:ss").alias("w"))
        .agg(F.countDistinct("user_id").alias("n")).collect()}
    assert out == expect
