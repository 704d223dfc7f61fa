"""Sketch & layout queries (SURVEY.md §7.4 extension surface): streaming
sketches (HyperLogLog-style distinct, count-min heavy hitters, histogram
quantiles), Z-order data layout, the salted shuffle join, and the
join-key skew profiler — the remaining scale tools a 100 TB curation
pipeline leans on when exact global state is too big.

Every query here is engine-independent BY CONSTRUCTION and ships an exact
DuckDB oracle: all hashing is md5-derived (identical text in both engines),
all bucket/bit arithmetic is integer-exact (generated hex polynomials and
power-of-two CASE tables, never libm pow/log), and every double that
reaches the output is either a rounded ratio or the quotient of two
integer-exact operands (IEEE division is correctly rounded in both
engines). The sketch *estimates* are therefore bit-reproducible — the
oracle replays the sketch, it does not merely approve an approximation.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_sentiment_spark.functions.text import WS_TOKENS_SQL, has_text
from spark_sentiment_spark.operators.sketch import (HLL_A, HLL_BITS,
                                                    HLL_BUCKET, HLL_M,
                                                    HLL_POW2, HLL_RHO,
                                                    hexpoly, hll_estimate,
                                                    hll_registers, hll_sum)
from spark_sentiment_spark.plans.registry import (load, register,
                                                  track_persist,
                                                  track_staging_dir)


HLL_SQL = f"""
WITH keyed AS (
  SELECT l_orderkey AS k, md5(CAST(l_orderkey AS VARCHAR)) AS h
  FROM lineitem
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


@register("agg_hll_sketch", sql=HLL_SQL, tags=("sketch",))
def agg_hll_sketch(spark, sf_dir):
    """Distinct l_orderkey count two ways: exact, and via a 256-bucket
    HyperLogLog built from md5 — bucket = first 8 hash bits, rho = leading
    zeros of the next 40. The estimate itself is bit-reproducible (integer
    bucket maxima, a power-of-two CASE table instead of pow(), one IEEE
    division), so the oracle replays the sketch exactly rather than
    approving a tolerance. Raw HLL estimator, no small-range linear
    counting: at any scale worth sketching n >> 2.5m, and the sf0.01
    corpus is already past that knee.

    Scale: the sketch side is one narrow map + a 256-group aggregate —
    O(1) state per executor, mergeable across 1000 nodes; at 100 TB you
    keep only that branch and drop the exact COUNT(DISTINCT) twin (a
    full shuffle) that exists here to measure the sketch's error."""
    # Sketch and exact twin both read one persisted distinct-key frame:
    # max(rho) and the distinct count are duplicate-invariant, so the
    # fact table is scanned once and md5 runs on distinct keys only.
    dk = track_persist(
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("k")).distinct())
    keyed = dk.withColumn("h", F.md5(F.col("k").cast("string")))
    exact = dk.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    return hll_estimate(hll_registers(keyed), exact)


# --- Count-min sketch heavy hitters -----------------------------------------

_CMS_W = 1024   # buckets per hash row
_CMS_D = 4      # independent hash rows ('0'..'3' salts)
_CMS_TOPK = 20

_CMS_HASH = "md5(concat(r, '|', w))"
_CMS_BUCKET = f"({hexpoly('hh', 1, 5)} % {_CMS_W})"

CMS_SQL = f"""
WITH tf AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest({WS_TOKENS_SQL}) AS w
        FROM documents
        WHERE text IS NOT NULL AND trim(text) <> '')
  GROUP BY w
), salts AS (
  SELECT CAST(s AS VARCHAR) AS r FROM (VALUES (0), (1), (2), (3)) v(s)
), cms AS (
  SELECT r, {_CMS_BUCKET} AS bucket, sum(c) AS bc
  FROM (SELECT r, w, c, {_CMS_HASH} AS hh FROM tf CROSS JOIN salts)
  GROUP BY 1, 2
), topk AS (
  SELECT w, c FROM tf ORDER BY c DESC, w LIMIT {_CMS_TOPK}
), probes AS (
  SELECT w, c, r, {_CMS_BUCKET} AS bucket
  FROM (SELECT w, c, r, {_CMS_HASH} AS hh FROM topk CROSS JOIN salts)
)
SELECT p.w AS token, p.c AS n_exact,
       CAST(min(cms.bc) AS BIGINT) AS n_est,
       CAST(min(cms.bc) - p.c AS BIGINT) AS overcount
FROM probes p JOIN cms ON p.r = cms.r AND p.bucket = cms.bucket
GROUP BY p.w, p.c
ORDER BY n_exact DESC, token
"""


@register("token_cms_topk", sql=CMS_SQL, tags=("sketch", "text"))
def token_cms_topk(spark, sf_dir):
    """Count-min sketch (d=4 rows x w=1024 buckets, md5-derived hashes)
    probed at the exact top-20 tokens: per token the exact count, the CMS
    estimate (min over rows of bucket sums — always >= exact), and the
    overcount. Deterministic end to end, so the DuckDB twin replays the
    sketch bit-for-bit.

    Scale: the sketch is a 4096-cell aggregate — constant state, mergeable
    map-side, the standard way to track heavy hitters over a 100 TB token
    stream without materializing the vocabulary. The exact tf table and
    top-k exist here as the error-measurement twin; at scale the candidate
    set comes from per-partition top-k merge and tf is never built."""
    docs = load(spark, sf_dir, "documents").where(has_text())
    tf = track_persist(
        docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    salts = F.array([F.lit(str(i)) for i in range(_CMS_D)])
    cms = (tf.select("w", "c", F.explode(salts).alias("r"))
           .withColumn("hh", F.expr(_CMS_HASH))
           .select("r", F.expr(_CMS_BUCKET).alias("bucket"), "c")
           .groupBy("r", "bucket").agg(F.sum("c").alias("bc")))
    topk = tf.orderBy(F.col("c").desc(), "w").limit(_CMS_TOPK)
    probes = (topk.select("w", "c", F.explode(salts).alias("r"))
              .withColumn("hh", F.expr(_CMS_HASH))
              .select("w", "c", "r", F.expr(_CMS_BUCKET).alias("bucket")))
    return (probes.join(F.broadcast(cms), ["r", "bucket"])
            .groupBy(F.col("w").alias("token"),
                     F.col("c").alias("n_exact"))
            .agg(F.min("bc").cast("bigint").alias("n_est"))
            .select("token", "n_exact", "n_est",
                    (F.col("n_est") - F.col("n_exact")).cast("bigint")
                    .alias("overcount"))
            .orderBy(F.col("n_exact").desc(), "token"))


# --- Z-order data layout ----------------------------------------------------

_Z_BITS = 8            # 256 quantized cells per dimension
_Z_CELLS = 1 << _Z_BITS
_Z_FILES = 64          # 2^16 z-values div 1024 -> 64 files


def _zbit_terms(xcol: str, ycol: str) -> str:
    """Interleave the low 8 bits of two integer columns into a 16-bit
    Z-value, as integer-only SQL (modulo tests against literal powers of
    two — no shift operators, whose syntax differs across engines)."""
    terms = []
    for k in range(_Z_BITS):
        bx = (f"(CASE WHEN ({xcol} % {2 ** (k + 1)}) >= {2 ** k} "
              f"THEN 1 ELSE 0 END)")
        by = (f"(CASE WHEN ({ycol} % {2 ** (k + 1)}) >= {2 ** k} "
              f"THEN 1 ELSE 0 END)")
        terms.append(f"{bx} * {2 ** (2 * k + 1)}")
        terms.append(f"{by} * {2 ** (2 * k)}")
    return "(" + " + ".join(terms) + ")"


# Value -> cell quantization: integer numerator scaled by 256, one IEEE
# double division (correctly rounded, identical both engines), floored.
_Z_XB = (f"CAST(floor(CAST((l_partkey - min_x) * {_Z_CELLS} AS DOUBLE)"
         f" / (max_x - min_x + 1)) AS BIGINT)")
_Z_YB = (f"CAST(floor(CAST((l_suppkey - min_y) * {_Z_CELLS} AS DOUBLE)"
         f" / (max_y - min_y + 1)) AS BIGINT)")
_Z_FILE = (f"CAST(floor(CAST(zkey AS DOUBLE) / {65536 // _Z_FILES})"
           f" AS BIGINT)")

ZORDER_SQL = f"""
WITH bounds AS (
  SELECT min(l_partkey) AS min_x, max(l_partkey) AS max_x,
         min(l_suppkey) AS min_y, max(l_suppkey) AS max_y
  FROM lineitem
), cells AS (
  SELECT l_partkey, l_suppkey, {_Z_XB} AS xb, {_Z_YB} AS yb
  FROM lineitem CROSS JOIN bounds
), zkeys AS (
  SELECT l_partkey, l_suppkey, {_zbit_terms('xb', 'yb')} AS zkey
  FROM cells
)
SELECT {_Z_FILE} AS file_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(l_partkey) AS BIGINT) AS min_part,
       CAST(max(l_partkey) AS BIGINT) AS max_part,
       CAST(min(l_suppkey) AS BIGINT) AS min_supp,
       CAST(max(l_suppkey) AS BIGINT) AS max_supp,
       round(CAST(max(l_partkey) - min(l_partkey) AS DOUBLE)
             / (max(max_x) - min(min_x) + 1), 6) AS part_span,
       round(CAST(max(l_suppkey) - min(l_suppkey) AS DOUBLE)
             / (max(max_y) - min(min_y) + 1), 6) AS supp_span
FROM zkeys CROSS JOIN bounds
GROUP BY 1
ORDER BY file_id
"""


@register("zorder_layout", sql=ZORDER_SQL, tags=("layout",))
def zorder_layout(spark, sf_dir):
    """Z-order (Morton) layout planner: quantize (l_partkey, l_suppkey)
    into a 256x256 grid via integer range buckets, interleave the bits
    into a 16-bit Z-value, and bin rows into 64 Z-range files. Emits per
    file exactly what a parquet footer would carry — row count and
    min/max of both dimensions — plus each file's span as a fraction of
    the global range. A Z-range file covers a compact square of the grid,
    so both spans land near 1/8 instead of the ~1.0 a row-order layout
    gives: that is the multi-dimensional pruning win (a predicate on
    EITHER column skips ~7/8 of files by footer stats alone).

    Scale: one bounded min/max aggregate broadcast back (no global sort,
    no window over the fact table), a narrow per-row map, and a 64-group
    aggregate. On a real table the same zkey feeds
    ``df.repartitionByRange(N, "zkey").sortWithinPartitions("zkey")``
    before the parquet write; this query IS that plan's stats audit."""
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bounds = li.agg(
        F.min("l_partkey").alias("min_x"), F.max("l_partkey").alias("max_x"),
        F.min("l_suppkey").alias("min_y"), F.max("l_suppkey").alias("max_y"))
    cells = (li.crossJoin(F.broadcast(bounds))
             .withColumn("xb", F.expr(_Z_XB))
             .withColumn("yb", F.expr(_Z_YB)))
    zkeys = cells.withColumn("zkey", F.expr(_zbit_terms("xb", "yb")))
    stats = (zkeys.withColumn("file_id", F.expr(_Z_FILE))
             .groupBy("file_id")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                  F.min("l_partkey").cast("bigint").alias("min_part"),
                  F.max("l_partkey").cast("bigint").alias("max_part"),
                  F.min("l_suppkey").cast("bigint").alias("min_supp"),
                  F.max("l_suppkey").cast("bigint").alias("max_supp"),
                  F.max("max_x").alias("gx"), F.min("min_x").alias("gnx"),
                  F.max("max_y").alias("gy"), F.min("min_y").alias("gny")))
    return (stats.select(
        "file_id", "n_rows", "min_part", "max_part", "min_supp", "max_supp",
        F.round((F.col("max_part") - F.col("min_part")).cast("double")
                / (F.col("gx") - F.col("gnx") + 1), 6).alias("part_span"),
        F.round((F.col("max_supp") - F.col("min_supp")).cast("double")
                / (F.col("gy") - F.col("gny") + 1), 6).alias("supp_span"))
        .orderBy("file_id"))


# Probe box: the [2/8, 3/8) slice of the part range × the [5/8, 6/8) slice
# of the supp range — integer-only arithmetic (floor division), so both
# engines compute identical bounds from identical min/max.
ZPROBE_SQL = f"""
WITH bounds AS (
  SELECT min(l_partkey) AS min_x, max(l_partkey) AS max_x,
         min(l_suppkey) AS min_y, max(l_suppkey) AS max_y
  FROM lineitem
), cells AS (
  SELECT l_partkey, l_suppkey, {_Z_XB} AS xb, {_Z_YB} AS yb
  FROM lineitem CROSS JOIN bounds
), filed AS (
  SELECT l_partkey, l_suppkey,
         {_Z_FILE.replace('zkey', _zbit_terms('xb', 'yb'))} AS file_id
  FROM cells
), box AS (
  SELECT min_x + (max_x - min_x + 1) * 2 // 8 AS px_lo,
         min_x + (max_x - min_x + 1) * 3 // 8 - 1 AS px_hi,
         min_y + (max_y - min_y + 1) * 5 // 8 AS py_lo,
         min_y + (max_y - min_y + 1) * 6 // 8 - 1 AS py_hi
  FROM bounds
), footer AS (
  SELECT file_id, count(*) AS n_rows,
         min(l_partkey) AS min_part, max(l_partkey) AS max_part,
         min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
  FROM filed GROUP BY file_id
), matches AS (
  SELECT file_id, count(*) AS n_match
  FROM filed CROSS JOIN box
  WHERE l_partkey BETWEEN px_lo AND px_hi
    AND l_suppkey BETWEEN py_lo AND py_hi
  GROUP BY file_id
)
SELECT f.file_id,
       CAST(f.n_rows AS BIGINT) AS n_rows,
       CAST(CASE WHEN f.max_part < b.px_lo OR f.min_part > b.px_hi
                   OR f.max_supp < b.py_lo OR f.min_supp > b.py_hi
            THEN 1 ELSE 0 END AS BIGINT) AS skip_by_stats,
       CAST(coalesce(m.n_match, 0) AS BIGINT) AS n_match
FROM footer f CROSS JOIN box b
LEFT JOIN matches m ON f.file_id = m.file_id
ORDER BY f.file_id
"""


@register("zorder_probe", sql=ZPROBE_SQL, tags=("layout",))
def zorder_probe(spark, sf_dir):
    """The payoff query for `zorder_layout`: prune the 64 Z-range files
    against a two-dimensional box predicate (an eighth of EACH key range)
    using ONLY the per-file footer stats the layout emits, then verify
    the decision against the rows themselves. Per file: row count, the
    footer-stats skip decision (min/max disjoint from the box on either
    dimension), and the true number of matching rows. Soundness is IN
    the output — every skip_by_stats=1 file must show n_match=0, and the
    driver's value-hash check enforces it; effectiveness is visible as
    the skipped-file fraction (~7/8 per dimension on a Z layout, vs ~0
    for a predicate on the SECOND sort key of a linear layout).

    Scale: this is the stats audit a real engine does from parquet
    footers without touching data — here both halves are computed so
    they can be cross-checked: one bounded min/max broadcast, the narrow
    zkey map, a 64-group footer agg, and a filtered 64-group match agg.
    No sort, no window, no per-row Python. The box bounds are integer
    floor-division arithmetic on the global min/max, identical in both
    engines."""
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    # `bounds` feeds the zkey map AND
    # the box derivation, `filed` feeds the footer and match aggregates —
    # unpersisted, each consumer re-scanned lineitem (3 scans). Persist
    # the 1-row bounds and the narrow (x, y, file_id) map: one scan.
    bounds = track_persist(li.agg(
        F.min("l_partkey").alias("min_x"), F.max("l_partkey").alias("max_x"),
        F.min("l_suppkey").alias("min_y"), F.max("l_suppkey").alias("max_y")))
    filed = track_persist(
        li.crossJoin(F.broadcast(bounds))
        .withColumn("xb", F.expr(_Z_XB))
        .withColumn("yb", F.expr(_Z_YB))
        .withColumn("zkey", F.expr(_zbit_terms("xb", "yb")))
        .withColumn("file_id", F.expr(_Z_FILE))
        .select("l_partkey", "l_suppkey", "file_id"))
    box = bounds.select(
        F.expr("min_x + (max_x - min_x + 1) * 2 div 8").alias("px_lo"),
        F.expr("min_x + (max_x - min_x + 1) * 3 div 8 - 1").alias("px_hi"),
        F.expr("min_y + (max_y - min_y + 1) * 5 div 8").alias("py_lo"),
        F.expr("min_y + (max_y - min_y + 1) * 6 div 8 - 1").alias("py_hi"))
    footer = (filed.groupBy("file_id")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                   F.min("l_partkey").alias("min_part"),
                   F.max("l_partkey").alias("max_part"),
                   F.min("l_suppkey").alias("min_supp"),
                   F.max("l_suppkey").alias("max_supp")))
    matches = (filed.crossJoin(F.broadcast(box))
               .where(F.col("l_partkey").between(F.col("px_lo"),
                                                 F.col("px_hi"))
                      & F.col("l_suppkey").between(F.col("py_lo"),
                                                   F.col("py_hi")))
               .groupBy("file_id")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_match")))
    skip = ((F.col("max_part") < F.col("px_lo"))
            | (F.col("min_part") > F.col("px_hi"))
            | (F.col("max_supp") < F.col("py_lo"))
            | (F.col("min_supp") > F.col("py_hi"))).cast("long")
    return (footer.crossJoin(F.broadcast(box))
            .join(matches, "file_id", "left")
            .select("file_id", "n_rows", skip.alias("skip_by_stats"),
                    F.coalesce("n_match", F.lit(0)).cast("bigint")
                    .alias("n_match"))
            .orderBy("file_id"))


# --- Salted shuffle join ----------------------------------------------------

SALTED_JOIN_SQL = """
SELECT p_brand,
       CAST(count(*) AS BIGINT) AS n_items,
       round(sum(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(27,4))), 2)::DOUBLE AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY p_brand
"""


@register("join_skew_salted", sql=SALTED_JOIN_SQL, tags=("skew", "join"))
def join_skew_salted(spark, sf_dir):
    """Brand revenue through ``operators/skew.py::salted_join``: lineitem
    rows take a per-row salt in [0,8), part is replicated once per salt,
    and the join key becomes (partkey, salt) — a hot part's probes spread
    over 8 reducers instead of one. The oracle is the PLAIN join+group-by,
    proving the salt is semantically invisible (the companion to
    ``skew_salted_agg``, which proves the same for aggregation).

    Scale: at 100 TB the dim side of a skewed fact join is often too big
    to broadcast but cheap to replicate 8x; salting is the manual fallback
    when AQE's skew splitting can't help (e.g. the skew is in the build
    side of a sort-merge join). Money sums run in DECIMAL(27,4) so the
    re-grouped partials are order-independent."""
    from spark_sentiment_spark.operators.skew import salted_join

    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = salted_join(
        li, part.withColumnRenamed("p_partkey", "l_partkey"),
        ["l_partkey"], n_salts=8)
    return (joined.groupBy("p_brand")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_items"),
                 F.round(F.sum((F.col("l_extendedprice")
                                * (1 - F.col("l_discount")))
                               .cast("decimal(27,4)")), 2)
                 .cast("double").alias("revenue"))
            .orderBy("p_brand"))


# --- Histogram quantile sketch ----------------------------------------------

_QH_BINS = 128
# quantiles as integer fractions: rank targets are ceil(num*N/den),
# computed with (num*N + den - 1) integer arithmetic — no float rank.
_QH_QUANTILES = [("0.50", 1, 2), ("0.95", 19, 20), ("0.99", 99, 100)]

_QH_BIN = (f"CAST(floor(CAST((n_chars - min_v) * {_QH_BINS} AS DOUBLE)"
           f" / (max_v - min_v + 1)) AS BIGINT)")

# integer floor-division for the rank target: DuckDB's / on integers is
# FLOAT division and CAST(double AS BIGINT) *rounds*, while Spark's cast
# truncates — // and div keep both engines in exact integer arithmetic.
_QH_QSEL = "\nUNION ALL\n".join(
    f"SELECT '{lbl}' AS quantile, "
    f"CAST(({num} * n_rows + {den} - 1) // {den} AS BIGINT) AS target "
    f"FROM total" for lbl, num, den in _QH_QUANTILES)

QHIST_SQL = f"""
WITH bounds AS (
  SELECT min(n_chars) AS min_v, max(n_chars) AS max_v FROM documents
), total AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows FROM documents
), hist AS (
  SELECT {_QH_BIN} AS bin, CAST(count(*) AS BIGINT) AS c
  FROM documents CROSS JOIN bounds
  GROUP BY 1
), cum AS (
  SELECT bin, c,
         sum(c) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum_c
  FROM hist
), targets AS (
  {_QH_QSEL}
), hit AS (
  SELECT t.quantile, t.target, min(cum.bin) AS bin
  FROM targets t JOIN cum ON cum.cum_c >= t.target
  GROUP BY 1, 2
)
SELECT h.quantile, h.target,
       round(min_v + (h.bin + CAST(h.target - (cum.cum_c - cum.c) AS DOUBLE)
                              / cum.c)
                     * (CAST(max_v - min_v + 1 AS DOUBLE) / {_QH_BINS}), 4)
         AS est_value
FROM hit h
JOIN cum ON h.bin = cum.bin
CROSS JOIN bounds
ORDER BY quantile
"""


@register("quantile_histogram_sketch", sql=QHIST_SQL, tags=("sketch",))
def quantile_histogram_sketch(spark, sf_dir):
    """p50/p95/p99 of documents.n_chars from a 128-bin equi-width
    histogram — the mergeable fixed-state quantile estimator (each
    executor emits 128 counts; bins add across 1000 nodes), with
    rank-targeted linear interpolation inside the hit bin. Rank targets
    are integer-exact (ceil(q*N) as (num*N+den-1) div den); bin edges
    and interpolation are each ONE correctly-rounded IEEE division on
    integer operands, so the DuckDB twin replays the estimate
    bit-for-bit — the oracle checks the sketch, not a tolerance band.
    (The exact-percentile counterpart lives in agg_percentiles; the
    error between the two is test-pinned, not part of this output.)

    Scale: one bounded min/max + count aggregate broadcast back, one
    128-group aggregate, a window over <=128 rows. Nothing about the
    plan changes at 100 TB; contrast with exact percentiles, whose
    value-ranked cumulative window grows with the distinct-value
    count."""
    docs, bounds = _qh_bounds(spark, sf_dir)
    hist = (docs.crossJoin(F.broadcast(bounds))
            .select(F.expr(_QH_BIN).alias("bin"))
            .groupBy("bin").agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    wcum = (Window.orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = hist.select("bin", "c", F.sum("c").over(wcum).alias("cum_c"))
    targets = _qh_targets(bounds, _QH_QUANTILES)
    hit = (targets.join(cum, F.col("cum_c") >= F.col("target"))
           .groupBy("quantile", "target").agg(F.min("bin").alias("bin")))
    return (hit.join(cum, "bin")
            .crossJoin(F.broadcast(bounds.select("min_v", "max_v")))
            .select("quantile", "target", _qh_interpolated())
            .orderBy("quantile"))


def _qh_bounds(spark, sf_dir, *keys):
    """(docs, bounds): the persisted documents projection (keys...,
    n_chars) and its persisted per-``keys`` min_v, max_v and n_rows. The
    binning pass and the bounds' three consumers (bin expression, rank
    targets, final edges) read them: one scan, one bounds aggregate."""
    docs = track_persist(
        load(spark, sf_dir, "documents").select(*keys, "n_chars"))
    bounds = track_persist(docs.groupBy(*keys).agg(
        F.min("n_chars").alias("min_v"), F.max("n_chars").alias("max_v"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows")))
    return docs, bounds


def _qh_targets(bounds, quantiles, *keys):
    """(keys..., quantile, target) rows: the integer-exact rank target
    ceil(q * n_rows) of every quantile (label, num, den)."""
    targets = None
    for lbl, num, den in quantiles:
        t = bounds.select(
            *keys, F.lit(lbl).alias("quantile"),
            F.expr(f"({num} * n_rows + {den - 1}) div {den}")
            .cast("bigint").alias("target"))
        targets = t if targets is None else targets.union(t)
    return targets


def _qh_interpolated():
    """est_value: the target rank interpolated linearly inside its hit
    bin, one IEEE division over integer operands each."""
    width = (F.col("max_v") - F.col("min_v") + 1).cast("double") / _QH_BINS
    frac = ((F.col("target") - (F.col("cum_c") - F.col("c"))).cast("double")
            / F.col("c"))
    return (F.round(F.col("min_v") + (F.col("bin") + frac) * width, 4)
            .alias("est_value"))


# --- Join-key skew profiler -------------------------------------------------

_SKEW_COLS = [("lineitem", "l_partkey"), ("lineitem", "l_suppkey"),
              ("orders", "o_custkey")]


def _skew_block(table: str, col: str) -> str:
    freq = f"(SELECT {col} AS k, count(*) AS c FROM {table} GROUP BY 1)"
    return f"""
SELECT '{col}' AS key_col, s.n_rows, s.n_keys, s.max_freq, p.p99_freq,
       round(CAST(s.max_freq AS DOUBLE) / s.n_rows, 6) AS top1_share,
       round(CAST(s.max_freq AS DOUBLE) * s.n_keys / s.n_rows, 4)
         AS skew_ratio
FROM (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_keys,
             CAST(max(c) AS BIGINT) AS max_freq
      FROM {freq} f) s
CROSS JOIN
     (SELECT CAST(min(c) AS BIGINT) AS p99_freq
      FROM (SELECT c, sum(m) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)
                      AS cum
            FROM (SELECT c, count(*) AS m FROM {freq} f2 GROUP BY c) fc) cc
      CROSS JOIN (SELECT (99 * count(*) + 99) // 100 AS tgt
                  FROM {freq} f3) t
      WHERE cc.cum >= t.tgt) p"""


SKEW_PROFILE_SQL = ("\nUNION ALL\n".join(
    _skew_block(t, c) for t, c in _SKEW_COLS)
    + "\nORDER BY key_col")


@register("skew_profile", sql=SKEW_PROFILE_SQL, tags=("sketch", "skew"))
def skew_profile(spark, sf_dir):
    """Join-key skew diagnostic over the three fact join keys: per key
    column the row/key counts, the hottest key's frequency, the p99
    frequency (integer rank target over the frequency-of-frequencies
    table), the hottest key's share of all rows, and skew_ratio =
    max_freq * n_keys / n_rows (1.0 = perfectly uniform; the factor by
    which the hottest reducer exceeds the average under hash
    partitioning). This is the measurement that DECIDES between a plain
    shuffle join, AQE skew splitting, and the explicit salted join
    (join_skew_salted) — you profile before you salt.

    Scale: each block is one hash aggregate to the key's cardinality,
    one aggregate over frequency-of-frequencies (bounded by the number
    of DISTINCT frequencies, far smaller than the key count), and 1-row
    cross joins; nothing global, nothing quadratic."""
    out = None
    for table, col in _SKEW_COLS:
        df = load(spark, sf_dir, table)
        # each block derives stats, freq-of-freq AND the rank target from
        # freq — persist it so the key-cardinality aggregate runs once per
        # column, not three times
        freq = track_persist(
            df.groupBy(F.col(col).alias("k")).agg(
                F.count(F.lit(1)).alias("c")))
        stats = freq.agg(F.sum("c").cast("bigint").alias("n_rows"),
                         F.count(F.lit(1)).cast("bigint").alias("n_keys"),
                         F.max("c").cast("bigint").alias("max_freq"))
        fc = freq.groupBy("c").agg(F.count(F.lit(1)).alias("m"))
        wcum = (Window.orderBy("c")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        cum = fc.select("c", F.sum("m").over(wcum).alias("cum"))
        tgt = freq.agg(
            F.expr("(99 * count(1) + 99) div 100").alias("tgt"))
        p99 = (cum.crossJoin(F.broadcast(tgt))
               .where(F.col("cum") >= F.col("tgt"))
               .agg(F.min("c").cast("bigint").alias("p99_freq")))
        row = (stats.crossJoin(F.broadcast(p99))
               .select(F.lit(col).alias("key_col"),
                       "n_rows", "n_keys", "max_freq", "p99_freq",
                       F.round(F.col("max_freq").cast("double")
                               / F.col("n_rows"), 6).alias("top1_share"),
                       # cast BEFORE the multiply: BIGINT max_freq*n_keys
                       # overflows (silently, ANSI off) at billions of keys
                       # with a hot key while DuckDB would error — double
                       # math on both sides keeps plan and oracle aligned
                       F.round(F.col("max_freq").cast("double")
                               * F.col("n_keys") / F.col("n_rows"), 4)
                       .alias("skew_ratio")))
        out = row if out is None else out.union(row)
    return out.orderBy("key_col")


# --- Grouped HLL: daily distinct users --------------------------------------

DAILY_HLL_SQL = f"""
WITH keyed AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         user_id AS k, md5(CAST(user_id AS VARCHAR)) AS h
  FROM events
), buckets AS (
  SELECT day, {HLL_BUCKET} AS bucket, max({HLL_RHO}) AS mj
  FROM keyed GROUP BY 1, 2
), sketch AS (
  SELECT day,
         CAST(sum({HLL_POW2}) AS BIGINT)
         + ({HLL_M} - count(*)) * {2 ** (HLL_BITS + 1)} AS s,
         CAST(count(*) AS BIGINT) AS n_buckets
  FROM buckets GROUP BY day
), exact AS (
  SELECT day, CAST(count(DISTINCT k) AS BIGINT) AS n_exact
  FROM keyed GROUP BY day
)
SELECT e.day, e.n_exact,
       round({HLL_A} / CAST(s.s AS DOUBLE), 2) AS n_est,
       s.n_buckets
FROM exact e JOIN sketch s ON e.day = s.day
ORDER BY e.day
"""


@register("events_daily_uniques_hll", sql=DAILY_HLL_SQL,
          tags=("sketch", "events"))
def events_daily_uniques_hll(spark, sf_dir):
    """Daily distinct users, sketched: the GROUPED form of
    agg_hll_sketch — one 256-register HLL per calendar day, which is the
    production shape of the estimator (daily/hourly uniques dashboards):
    state is days x 256 small integers, each day's registers merge by
    max across executors AND concatenate trivially across days, where
    the exact COUNT(DISTINCT) per group re-shuffles raw keys every time.
    Same md5-derived, integer-exact arithmetic, so the DuckDB twin
    replays every per-day estimate; the exact twin rides along as the
    per-group error measurement. (Raw estimator: at ~100-400 uniques
    per day the 256-bucket raw HLL runs in its biased low range — the
    reported n_est/n_exact pairs measure exactly that documented bias,
    reproduced identically by both engines.)

    Scale: a (day, bucket) aggregate — group count x 256 rows — then a
    day-level fold; no distinct-key shuffle on the sketch path."""
    ev = load(spark, sf_dir, "events")
    # One persisted distinct (day, user) frame feeds both the per-day
    # registers and the exact per-day twin: events are scanned once and
    # no raw keys are re-shuffled for a grouped countDistinct.
    ud = track_persist(ev.select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        F.col("user_id").alias("k")).distinct())
    keyed = ud.withColumn("h", F.md5(F.col("k").cast("string")))
    sketch = hll_registers(keyed, "day").groupBy("day").agg(
        hll_sum().alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"))
    exact = ud.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    return (exact.join(sketch, "day")
            .select("day", "n_exact",
                    F.round(F.lit(float(HLL_A))
                            / F.col("s").cast("double"), 2).alias("n_est"),
                    "n_buckets")
            .orderBy("day"))


# --- Grouped histogram quantiles (per-language) -----------------------------

_QHG_QUANTILES = [("0.50", 1, 2), ("0.95", 19, 20)]

_QHG_QSEL = "\nUNION ALL\n".join(
    f"SELECT lang, '{lbl}' AS quantile, "
    f"CAST(({num} * n_rows + {den} - 1) // {den} AS BIGINT) AS target "
    f"FROM bounds" for lbl, num, den in _QHG_QUANTILES)

QHIST_GROUP_SQL = f"""
WITH bounds AS (
  SELECT lang, min(n_chars) AS min_v, max(n_chars) AS max_v,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM documents GROUP BY lang
), hist AS (
  SELECT d.lang, {_QH_BIN} AS bin, CAST(count(*) AS BIGINT) AS c
  FROM documents d JOIN bounds b ON d.lang = b.lang
  GROUP BY 1, 2
), cum AS (
  SELECT lang, bin, c,
         sum(c) OVER (PARTITION BY lang ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS cum_c
  FROM hist
), targets AS (
  {_QHG_QSEL}
), hit AS (
  SELECT t.lang, t.quantile, t.target, min(cum.bin) AS bin
  FROM targets t JOIN cum ON cum.lang = t.lang AND cum.cum_c >= t.target
  GROUP BY 1, 2, 3
)
SELECT h.lang AS lang, h.quantile, h.target,
       round(min_v + (h.bin + CAST(h.target - (cum.cum_c - cum.c) AS DOUBLE)
                              / cum.c)
                     * (CAST(max_v - min_v + 1 AS DOUBLE) / {_QH_BINS}), 4)
         AS est_value
FROM hit h
JOIN cum ON h.lang = cum.lang AND h.bin = cum.bin
JOIN bounds b ON h.lang = b.lang
ORDER BY h.lang, h.quantile
"""


@register("quantile_histogram_by_lang", sql=QHIST_GROUP_SQL,
          tags=("sketch",))
def quantile_histogram_by_lang(spark, sf_dir):
    """The GROUPED form of quantile_histogram_sketch: per language, a
    128-bin histogram over its own [min, max] range with rank-targeted
    p50/p95 interpolation — per-group quantile estimation with
    groups x 128 total state, the partitionable shape (each group's
    bins live and merge independently) that exact per-group percentiles
    don't have. Same integer-exact rank targets and one-IEEE-division
    interpolation, so the DuckDB twin replays every estimate.

    Scale: one bounded per-lang bounds aggregate joined back (broadcast
    at any realistic language count), one (lang, bin) aggregate, windows
    partitioned by lang over <=128 rows each."""
    docs, bounds = _qh_bounds(spark, sf_dir, "lang")
    hist = (docs.join(F.broadcast(bounds), "lang")
            .select("lang", F.expr(_QH_BIN).alias("bin"))
            .groupBy("lang", "bin")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    wcum = (Window.partitionBy("lang").orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = hist.select("lang", "bin", "c",
                      F.sum("c").over(wcum).alias("cum_c"))
    targets = _qh_targets(bounds, _QHG_QUANTILES, "lang")
    hit = (targets.join(cum.withColumnRenamed("lang", "lang_c"),
                        (F.col("lang") == F.col("lang_c"))
                        & (F.col("cum_c") >= F.col("target")))
           .groupBy("lang", "quantile", "target")
           .agg(F.min("bin").alias("bin")))
    return (hit.join(cum, ["lang", "bin"])
            .join(F.broadcast(bounds.select("lang", "min_v", "max_v")),
                  "lang")
            .select("lang", "quantile", "target", _qh_interpolated())
            .orderBy("lang", "quantile"))


# --- Sliding distinct users from mergeable minute-level HLL partials --------

_SLIDE_STEP = 1800    # slide seconds

SLIDING_USERS_HLL_SQL = f"""
WITH ev AS (
  SELECT make_timestamp(((epoch_ms(ts) // 1000) // 60) * 60 * 1000000)
           AS minute,
         ts, user_id, md5(CAST(user_id AS VARCHAR)) AS h
  FROM events
), mp AS (
  SELECT minute, {HLL_BUCKET} AS bucket, max({HLL_RHO}) AS mj
  FROM ev GROUP BY 1, 2
), mw AS (
  SELECT w, minute, bucket, mj FROM (
    SELECT unnest([
        make_timestamp(((epoch_ms(minute) // 1000) // {_SLIDE_STEP})
                       * {_SLIDE_STEP} * 1000000),
        make_timestamp((((epoch_ms(minute) // 1000) // {_SLIDE_STEP})
                        * {_SLIDE_STEP} - {_SLIDE_STEP}) * 1000000)
      ]) AS w, minute, bucket, mj
    FROM mp)
  WHERE minute >= w AND minute < w + INTERVAL 1 HOUR
), merged AS (
  SELECT w, bucket, max(mj) AS mj FROM mw GROUP BY 1, 2
), sk AS (
  SELECT w, CAST(sum({HLL_POW2}) AS BIGINT)
            + ({HLL_M} - count(*)) * {2 ** (HLL_BITS + 1)} AS s
  FROM merged GROUP BY w
), ew AS (
  SELECT w, user_id FROM (
    SELECT unnest([
        make_timestamp(((epoch_ms(ts) // 1000) // {_SLIDE_STEP})
                       * {_SLIDE_STEP} * 1000000),
        make_timestamp((((epoch_ms(ts) // 1000) // {_SLIDE_STEP})
                        * {_SLIDE_STEP} - {_SLIDE_STEP}) * 1000000)
      ]) AS w, ts, user_id
    FROM events)
  WHERE ts >= w AND ts < w + INTERVAL 1 HOUR
), exact AS (
  SELECT w, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM ew GROUP BY w
)
SELECT strftime(e.w, '%Y-%m-%d %H:%M:%S') AS window_start,
       e.n_exact,
       CAST(floor({HLL_A} / CAST(s.s AS DOUBLE) * 100) AS BIGINT)
         AS n_est_cents,
       CAST(floor(abs({HLL_A} / CAST(s.s AS DOUBLE) - e.n_exact)
                  / e.n_exact * 10000) AS BIGINT) AS rel_err_bp
FROM exact e JOIN sk s ON e.w = s.w
ORDER BY window_start
"""


@register("events_sliding_users_hll", sql=SLIDING_USERS_HLL_SQL,
          tags=("sketch", "events", "window"))
def events_sliding_users_hll(spark, sf_dir):
    """Sliding-window distinct USERS (1 h windows, 30 min slide) computed
    the way a 100 TB pipeline must: per-minute HLL partials (minute ×
    256 integer registers) merged by max into each overlapping window —
    the two-tier design that answers `events_rolling_distinct`'s
    documented caveat. That query's size(collect_set) frame is exact but
    carries per-frame state proportional to the DISTINCT VALUE COUNT —
    fine for a type vocabulary, fatal for user ids; here the state is
    minutes × 256 integers regardless of cardinality, partials are
    reusable across the two windows each minute feeds (and across any
    coarser rollup), and the merge is the same max() that merges HLLs
    across executors or micro-batches.

    Exactness: the estimate is the bit-reproducible md5-HLL of this
    module (integer registers, CASE power table, one IEEE division), so
    the DuckDB twin REPLAYS it; the exact COUNT(DISTINCT) per window
    rides along as the error measurement, exactly like agg_hll_sketch.
    Fixture caveat: per-window cardinalities here sit far BELOW the raw
    estimator's 2.5m knee (a handful of users per hour), where HLL
    without linear counting overestimates wildly — rel_err_bp is large
    at these SFs by construction, and linear counting is deliberately
    omitted because its ln() would break bit-reproducibility (same call
    as agg_hll_sketch). The check is the exact replay; accuracy belongs
    to scales where windows hold >> 640 users.
    Window assignment is integer epoch arithmetic (div to the 30-min
    grid, each minute/event explodes into its two covering windows) —
    no engine-specific window-function semantics anywhere."""
    ev = load(spark, sf_dir, "events")
    # Both tiers — the HLL partials AND the exact error side — derive
    # from the distinct (minute, user) pairs, persisted once. Minutes are
    # whole and windows are 30-min aligned, so ts-windowing and
    # minute-windowing select identical user sets (ts ∈ [w, w+1h) ⟺
    # minute(ts) ∈ [w, w+1h)), and max(rho) over duplicate user-minutes
    # equals max(rho) over raw events. One fact scan, and the window
    # fan-out runs over |minute×user| pairs, not raw event volume.
    um = track_persist(ev.select(
        F.expr("timestamp_seconds((unix_seconds(ts) div 60) * 60)")
        .alias("minute"), "user_id").distinct())
    keyed = um.withColumn("h", F.md5(F.col("user_id").cast("string")))
    mp = hll_registers(keyed, "minute")

    def two_windows(tcol):
        base = (f"timestamp_seconds((unix_seconds({tcol}) div {_SLIDE_STEP})"
                f" * {_SLIDE_STEP})")
        prev = (f"timestamp_seconds((unix_seconds({tcol}) div {_SLIDE_STEP})"
                f" * {_SLIDE_STEP} - {_SLIDE_STEP})")
        return F.explode(F.array(F.expr(base), F.expr(prev))).alias("w")

    mw = (mp.select(two_windows("minute"), "minute", "bucket", "mj")
          .where((F.col("minute") >= F.col("w"))
                 & (F.col("minute") < F.col("w") + F.expr(
                     "INTERVAL 1 HOUR"))))
    merged = mw.groupBy("w", "bucket").agg(F.max("mj").alias("mj"))
    sk = merged.groupBy("w").agg(
        hll_sum().alias("s"))

    ew = (um.select(two_windows("minute"), "minute", "user_id")
          .where((F.col("minute") >= F.col("w"))
                 & (F.col("minute") < F.col("w")
                    + F.expr("INTERVAL 1 HOUR"))))
    exact = ew.groupBy("w").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact"))

    # floor(), never round(): Spark's ROUND is HALF_UP over the double's
    # SHORTEST string repr (BigDecimal.valueOf) while DuckDB rounds the
    # true binary value — at sf0.01 one of 1441 windows landed on a
    # shortest-repr tie (22.39625 vs ...24999) and diverged. floor over
    # identical doubles is divergence-free by construction.
    est = F.lit(float(HLL_A)) / F.col("s").cast("double")
    return (exact.join(sk, "w")
            .select(F.date_format("w", "yyyy-MM-dd HH:mm:ss")
                    .alias("window_start"),
                    "n_exact",
                    F.floor(est * 100).cast("bigint").alias("n_est_cents"),
                    F.floor(F.abs(est - F.col("n_exact"))
                            / F.col("n_exact") * 10000).cast("bigint")
                    .alias("rel_err_bp"))
            .orderBy("window_start"))


# --- HLL shard merge: the mergeability theorem as a checked output ----------

HLL_MERGE_SQL = f"""
WITH keyed AS (
  SELECT event_id % 8 AS shard, user_id,
         md5(CAST(user_id AS VARCHAR)) AS h
  FROM events
), shard_buckets AS (
  SELECT shard, {HLL_BUCKET} AS bucket, max({HLL_RHO}) AS mj
  FROM keyed GROUP BY 1, 2
), merged_buckets AS (
  SELECT bucket, max(mj) AS mj FROM shard_buckets GROUP BY bucket
), direct_buckets AS (
  SELECT {HLL_BUCKET} AS bucket, max({HLL_RHO}) AS mj
  FROM keyed GROUP BY 1
), est_m AS (
  SELECT round({HLL_A} / CAST(
           CAST(sum({HLL_POW2}) AS BIGINT)
           + ({HLL_M} - count(*)) * {2 ** (HLL_BITS + 1)} AS DOUBLE),
         2) AS e
  FROM merged_buckets
), est_d AS (
  SELECT round({HLL_A} / CAST(
           CAST(sum({HLL_POW2}) AS BIGINT)
           + ({HLL_M} - count(*)) * {2 ** (HLL_BITS + 1)} AS DOUBLE),
         2) AS e
  FROM direct_buckets
), exact AS (
  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact FROM keyed
), shards AS (
  SELECT CAST(count(DISTINCT shard) AS BIGINT) AS n_shards
  FROM shard_buckets
)
SELECT x.n_exact, s.n_shards,
       m.e AS n_est_merged,
       d.e AS n_est_direct,
       CAST(m.e = d.e AS BIGINT) AS merge_exact
FROM exact x CROSS JOIN shards s CROSS JOIN est_m m CROSS JOIN est_d d
"""


@register("agg_hll_merge_shards", sql=HLL_MERGE_SQL, tags=("sketch",))
def agg_hll_merge_shards(spark, sf_dir):
    """The MERGEABILITY theorem of the HLL sketch, checked as an output:
    events are split into 8 shards (event_id % 8 — users deliberately
    SPAN shards, so naive per-shard distinct counts would double-count),
    each shard builds its own 256-bucket maxima, the shard sketches
    merge by per-bucket max, and the merged estimate must EQUAL the
    single-pass direct estimate (merge_exact = 1). This is the property
    the whole 100 TB sketch story rests on — 1000 executors, 1000 days,
    or 1000 Kafka partitions merge their O(256-int) states losslessly
    where exact distinct state cannot be merged without a reshuffle —
    here it is asserted by the hash-checked output rather than assumed.
    The exact COUNT(DISTINCT) rides along as the error twin.

    Scale: per-shard aggregation is one (shard, bucket) hash agg with
    map-side combine (8×256 rows), the merge another 256-group agg —
    the same two-tier shape as `events_sliding_users_hll`'s minute
    partials. Everything after the scan is constant-size."""
    ev = load(spark, sf_dir, "events")
    # The shard registers, the direct registers AND the exact twin all
    # derive from one persisted distinct (shard, user) frame, so events
    # are scanned once: max(rho) is duplicate-invariant, and the exact
    # distinct-user count over (shard, user) pairs equals the one over
    # raw events.
    su = track_persist(ev.select(
        (F.col("event_id") % 8).alias("shard"), "user_id").distinct())
    keyed = su.withColumn("h", F.md5(F.col("user_id").cast("string")))
    shard_buckets = hll_registers(keyed, "shard")
    merged_buckets = (shard_buckets.groupBy("bucket")
                      .agg(F.max("mj").alias("mj")))
    direct_buckets = hll_registers(keyed)

    def estimate(buckets):
        return buckets.agg(
            F.round(F.lit(float(HLL_A))
                    / hll_sum().cast("double"),
                    2).alias("e"))

    est_m = estimate(merged_buckets)
    est_d = estimate(direct_buckets)
    exact = su.agg(F.countDistinct("user_id").cast("bigint")
                   .alias("n_exact"))
    shards = shard_buckets.agg(F.countDistinct("shard").cast("bigint")
                               .alias("n_shards"))
    return (exact.crossJoin(F.broadcast(shards))
            .crossJoin(F.broadcast(est_m.select(F.col("e")
                                                .alias("n_est_merged"))))
            .crossJoin(F.broadcast(est_d.select(F.col("e")
                                                .alias("n_est_direct"))))
            .select("n_exact", "n_shards", "n_est_merged", "n_est_direct",
                    (F.col("n_est_merged") == F.col("n_est_direct"))
                    .cast("long").alias("merge_exact")))


PARTITIONED_PRUNE_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT) AS val_e4
FROM events
WHERE date_trunc('day', ts) IN
      (TIMESTAMP '2024-01-05', TIMESTAMP '2024-01-12')
GROUP BY 1, 2
ORDER BY day, event_type
"""


@register("io_partitioned_prune", sql=PARTITIONED_PRUNE_SQL,
          tags=("io", "layout"))
def io_partitioned_prune(spark, sf_dir):
    """Hive-style partition PRUNING — the third leg of the layout
    family, next to footer-stats skipping (`zorder_probe`) and bucketed
    co-location (`join_bucketed`): the events table is written
    partitioned by day (day=YYYY-MM-DD directories), and a two-day
    query reads back ONLY those directories — the filter is satisfied
    by the directory listing, before any file is opened. The oracle
    runs the same two-day aggregate over the ORIGINAL table, so the
    partitioned write→scan path must preserve every row and value
    (including the ts roundtrip through the partition column's
    directory encoding). Plan pin (tests/test_plan_shape.py): the
    pruned scan's PartitionFilters carry the day predicate and the
    relation reads 2 of the 30 day directories.

    Scale: day-partitioned fact layout is THE default 100 TB ingest
    shape; every time-bounded query prunes to its day range in the
    driver's listing phase, and the daily append never rewrites old
    partitions. The demo write shuffles once on day (30 output dirs,
    repartitioned by the partition column so each directory is written
    by one task, not torn across all of them)."""
    ev = load(spark, sf_dir, "events")
    base = track_staging_dir(tempfile.mkdtemp(prefix="part_prune_"))
    staged = ev.withColumn("day", F.date_format(F.date_trunc("day", "ts"),
                                                "yyyy-MM-dd"))
    (staged
     .repartition(F.col("day"))
     .write.mode("overwrite").partitionBy("day")
     .parquet(base + "/events_by_day"))
    # Read back with the WRITER-SIDE schema, the production contract
    # for a partitioned lake table: the catalog owns the schema, never
    # directory inference (which also fails outright on a zero-row
    # write, where no part file exists to infer from). Declaring day as
    # string pins the partition column's type; pruning is unaffected.
    back = (spark.read.schema(staged.schema)
            .parquet(base + "/events_by_day")
            .where(F.col("day").isin("2024-01-05", "2024-01-12")))
    return (back.groupBy("day", "event_type").agg(*_event_mass())
            .orderBy("day", "event_type"))


def _event_mass():
    """Per-group n, distinct n_users and the value mass val_e4 on the
    integer 1e-4 grid of an events frame."""
    return (F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum(F.floor(F.col("value") * 10000).cast("bigint"))
            .cast("bigint").alias("val_e4"))


COMPACT_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT) AS val_e4,
       CAST(64 AS BIGINT) AS files_before,
       CAST(4 AS BIGINT) AS files_after
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("io_compact_small_files", sql=COMPACT_SQL, tags=("io", "layout"))
def io_compact_small_files(spark, sf_dir):
    """Small-file COMPACTION — the write-side maintenance pass that
    completes the layout family (footer-stats skipping, bucketing,
    partition pruning are all read-side): a deliberately fragmented
    staging table (64 part files — the shape micro-batch ingest leaves
    behind) is rewritten to 4 right-sized files, and the aggregate over
    the compacted table must equal the aggregate over the original —
    compaction moves bytes, never rows. The part-file counts are
    measured from the actual directories (driver-side listing of the
    staging dir — control-plane metadata, the same listing a table
    -maintenance service does) and pinned as literals in the oracle, so
    the driver certifies both content equality AND that the write
    produced exactly the promised fragmentation and compaction. Both
    read-backs use the writer-side schema (the lake-table contract;
    see io_partitioned_prune).

    Scale: this is THE nightly maintenance operation on a streaming
    lakehouse — thousands of KB-sized files per partition collapse to
    ~128 MB targets, turning every scan's task count from file-bound to
    byte-bound. Production picks the output count as
    ceil(partition_bytes / target_file_size); the demo pins 4 so the
    oracle can assert it. The rewrite uses repartition(4) — one
    round-robin exchange of the fragment set — rather than the
    exchange-free coalesce(4), deliberately: the parquet scan PACKS
    small files into read splits by maxPartitionBytes, so coalesce
    cannot guarantee 4 non-empty outputs (it can only reduce whatever
    split count the scan happened to produce), while repartition pins
    the promised layout; either way nothing grows faster than the data
    being compacted, and the exchange IS the rewrite."""
    import os as _os

    ev = load(spark, sf_dir, "events")
    base = track_staging_dir(tempfile.mkdtemp(prefix="compact_"))
    frag_dir, comp_dir = base + "/frag", base + "/compact"
    ev.repartition(64).write.mode("overwrite").parquet(frag_dir)

    def _n_parts(d):
        return sum(1 for f in _os.listdir(d) if f.endswith(".parquet"))

    frag = spark.read.schema(ev.schema).parquet(frag_dir)
    frag.repartition(4).write.mode("overwrite").parquet(comp_dir)
    n_before, n_after = _n_parts(frag_dir), _n_parts(comp_dir)

    back = spark.read.schema(ev.schema).parquet(comp_dir)
    return (back.groupBy("event_type").agg(*_event_mass())
            .withColumn("files_before", F.lit(n_before).cast("bigint"))
            .withColumn("files_after", F.lit(n_after).cast("bigint"))
            .orderBy("event_type"))


# --- DAU / MAU stickiness from mergeable per-day HLL partials ----------------

STICKINESS_HLL_SQL = f"""
WITH ud AS (
  SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
), keyed AS (
  SELECT d, user_id, md5(CAST(user_id AS VARCHAR)) AS h FROM ud
), daypart AS (
  SELECT d, {HLL_BUCKET} AS bucket, max({HLL_RHO}) AS mj
  FROM keyed GROUP BY 1, 2
), days AS (SELECT DISTINCT d FROM ud),
mau_part AS (
  SELECT g.d AS d, p.bucket, max(p.mj) AS mj
  FROM days g JOIN daypart p
    ON p.d <= g.d AND p.d > g.d - INTERVAL 28 DAY
  GROUP BY 1, 2
), mau_sk AS (
  SELECT d, CAST(sum({HLL_POW2}) AS BIGINT)
            + ({HLL_M} - count(*)) * {2 ** (HLL_BITS + 1)} AS s_mau
  FROM mau_part GROUP BY d
), dau_sk AS (
  SELECT d, CAST(sum({HLL_POW2}) AS BIGINT)
            + ({HLL_M} - count(*)) * {2 ** (HLL_BITS + 1)} AS s_dau
  FROM daypart GROUP BY d
), dau_exact AS (
  SELECT d, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY d
)
SELECT strftime(e.d, '%Y-%m-%d') AS day, e.dau,
       CAST(floor({HLL_A} / CAST(ds.s_dau AS DOUBLE) * 100) AS BIGINT)
         AS dau_est_cents,
       CAST(floor({HLL_A} / CAST(ms.s_mau AS DOUBLE) * 100) AS BIGINT)
         AS mau_est_cents,
       CAST(floor(CAST(ms.s_mau AS DOUBLE) / CAST(ds.s_dau AS DOUBLE)
                  * 1000000.0) AS BIGINT) AS stickiness_est_ppm
FROM dau_exact e
JOIN dau_sk ds ON e.d = ds.d
JOIN mau_sk ms ON e.d = ms.d
ORDER BY day
"""


def _stickiness_hll_core(ud):
    """(day, dau, dau_est_cents, mau_est_cents, stickiness_est_ppm) from a
    distinct (d: timestamp day, user_id) frame — split out so the accuracy
    pin can drive it with a constructed HLL-range corpus
    (tests/test_sketch.py) while the registered query feeds it
    the events table."""
    keyed = ud.withColumn("h", F.md5(F.col("user_id").cast("string")))
    # the partials carry a per-bucket
    # distinct-user count (nb) alongside max-rho. Each distinct (d, user)
    # row lands in exactly one (d, bucket) group, so sum(nb) per day IS
    # the exact DAU — the exact tier below reads the persisted
    # |days|×256-row partials instead of re-scanning the events table and
    # re-running the (d, user) distinct (one full fact scan + a
    # round-robin exchange + a 2-exchange distinct removed).
    # (A fill-side repartition(d) of the cache does not help: every
    # consumer here plans in the same action BEFORE the
    # cache materializes, and an AQE-wrapped InMemoryRelation reports
    # unknown partitioning at that point — the captured plan kept an
    # ENSURE_REQUIREMENTS hash(d) exchange directly over the hash(d)
    # cache — so the extra fill exchange bought nothing downstream.)
    p = ud.sparkSession.sparkContext.defaultParallelism
    daypart = track_persist(
        keyed.select("d", F.expr(HLL_BUCKET).alias("bucket"),
                     F.expr(HLL_RHO).alias("rho"))
        .groupBy("d", "bucket").agg(F.max("rho").alias("mj"),
                                    F.count(F.lit(1)).alias("nb")))
    days = daypart.select("d").distinct()

    def _sk(name):
        return hll_sum().alias(name)

    # exact DAU and the DAU sketch are BOTH
    # groupBy(d) aggregates over the same cached partials — one fused agg
    # replaces two aggregation passes plus their re-attachment join.
    day_stats = daypart.groupBy("d").agg(
        F.sum("nb").cast("bigint").alias("dau"), _sk("s_dau"))
    # Trailing-28-day MAU: the bounded range fan-out (<= 28 x |days| x 256
    # rows) is repartitioned ONCE on the probe day so the (d, bucket)
    # max-merge and the per-day sketch sum share that single exchange
    # (HashPartitioning(d) satisfies ClusteredDistribution(d, bucket)).
    mau_sk = (days.alias("g")
              .join(daypart.alias("p"),
                    (F.col("p.d") <= F.col("g.d"))
                    & (F.col("p.d") > F.col("g.d")
                       - F.expr("INTERVAL 28 DAY")))
              .select(F.col("g.d").alias("d"), "bucket", "mj")
              .repartition(p, "d")
              .groupBy("d", "bucket").agg(F.max("mj").alias("mj"))
              .groupBy("d").agg(_sk("s_mau")))
    a = F.lit(float(HLL_A))
    # stickiness = (A/s_dau)/(A/s_mau) = s_mau/s_dau; BIGINT ppm would
    # overflow (s <= 256 * 2^41 = 2^49, x 10^6 > 2^63), so this is the
    # floor-of-identical-DOUBLEs recipe: one IEEE division and one IEEE
    # multiply on identical operands, correctly rounded in both engines.
    ratio = F.col("s_mau").cast("double") / F.col("s_dau").cast("double")
    return (day_stats.join(mau_sk, "d")
            .select(F.date_format("d", "yyyy-MM-dd").alias("day"), "dau",
                    F.floor(a / F.col("s_dau").cast("double") * 100)
                    .cast("bigint").alias("dau_est_cents"),
                    F.floor(a / F.col("s_mau").cast("double") * 100)
                    .cast("bigint").alias("mau_est_cents"),
                    F.floor(ratio * F.lit(1000000.0)).cast("bigint")
                    .alias("stickiness_est_ppm"))
            .orderBy("day"))


@register("events_stickiness_hll", sql=STICKINESS_HLL_SQL, bench=True,
          tags=("sketch", "events"))
def events_stickiness_hll(spark, sf_dir):
    """DAU / trailing-28-day-MAU stickiness from MERGEABLE per-day HLL
    partials — the certified scale swap for `events_stickiness`, whose
    exact range join costs 28 x user-days (its x8 slope, 3.2x, is the
    steepest in SCALING.md precisely because that term scales with raw
    user activity). Here the fact table collapses once to per-day
    (day, bucket, max rho) partials — |days| x 256 small integers,
    independent of user count — and each day's trailing-28 MAU sketch is
    a max-merge of <= 28 partials: the range join now fans out
    28 x |days| x 256 bounded rows instead of 28 x user-days, the same
    two-tier design as `events_sliding_users_hll`. DAU is estimated from
    the SAME partials for free, with the exact per-day DAU riding along
    as the error measurement (the cheap side; the expensive exact MAU is
    exactly what this form exists to avoid).

    Exactness: bit-reproducible md5-HLL (integer registers, CASE power
    table), so the DuckDB twin REPLAYS every estimate; the stickiness
    ratio (A/s_dau)/(A/s_mau) reduces to s_mau/s_dau, emitted via the
    floor-of-identical-doubles recipe because ppm in BIGINT would
    overflow at s <= 2^49. Fixture caveat, as for the whole HLL family:
    per-day cardinalities at test SFs sit far below the raw estimator's
    2.5m knee, so estimates there are in the documented biased-high
    range — the driver check is the exact replay; ACCURACY of the swap
    (est within tolerance of the exact range-join stickiness) is pinned
    in tests/test_sketch.py on a constructed corpus with
    HLL-range cardinalities (thousands of users/day), where the shared
    partials also correlate the DAU/MAU errors and tighten the ratio.

    Scale: one distinct (user, day) pass, one partial-building hash agg,
    then day-count-bounded work; partials are reusable across any
    trailing window length and merge across executors/micro-batches by
    the same max(). Reference parity: witlox/spark_sentiment has no
    temporal surface; extension per SURVEY §7.4."""
    ev = load(spark, sf_dir, "events")
    ud = (ev.select(F.date_trunc("day", "ts").alias("d"), "user_id")
          .distinct())
    return _stickiness_hll_core(ud)
