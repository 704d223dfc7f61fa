"""Temperature-scaled source mixture: largest-remainder quotas and the
content-addressed per-source pick order, shared by the mixture queries and
the composed training-set build."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Source weight w_i ∝ n_tokens_i ** TEMP_ALPHA (multilingual-LM style).
TEMP_ALPHA = 0.7


def mixture_quotas(live, budget: int):
    """The largest-remainder temperature-quota table over any
    (doc_id, source, n_tokens) frame: (source, n_docs, q) where q is
    the UNCAPPED integer quota (sums to ``budget`` by construction) —
    `mixture_quota_pick` caps at n_docs for the sampling form,
    `mixture_upsample` keeps the excess as extra epochs."""
    src = live.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"))
    wall = Window.partitionBy()  # bounded: one row per source
    scaled = F.pow(F.col("n_tokens"), F.lit(TEMP_ALPHA))
    alloc = src.select(
        "source", "n_docs", "n_tokens",
        (scaled / F.sum(scaled).over(wall) * budget)
        .alias("quota_f"))
    based = alloc.select(
        "source", "n_docs", "n_tokens",
        F.floor("quota_f").cast("bigint").alias("base_q"),
        F.round(F.col("quota_f") - F.floor("quota_f"), 6).alias("rem"))
    wrem = Window.partitionBy().orderBy(
        F.col("rem").desc(), F.col("n_tokens").desc(), "source")
    lr = based.select(
        "source", "n_docs", "base_q",
        F.row_number().over(wrem).alias("rr"),
        (F.lit(budget) - F.sum("base_q").over(wall))
        .alias("leftover"))
    return lr.select(
        "source", "n_docs",
        (F.col("base_q")
         + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0))
        .alias("q"))


def md5_ranked(live):
    """Content-addressed per-source rank (doc_id, source, pick): the
    stable total order both mixture forms pick from."""
    wr = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id")
    return live.select(
        "doc_id", "source",
        F.row_number().over(wr).cast("bigint").alias("pick"))


def mixture_quota_pick(live, budget: int):
    """The temperature-quota selection of `mixture_apply` and the
    composed `prepare_training_set`: over any
    (doc_id, source, n_tokens) frame, allocate per-source
    largest-remainder quotas of ``budget`` documents (capped at source
    size) and pick each source's md5-smallest ``quota`` docs. Takes the
    token count as a COLUMN (not text) so a caller can compute it once,
    persist the narrow frame, and reuse it across stages. Returns
    (doc_id, source, pick), unordered."""
    quota = mixture_quotas(live, budget).select(
        "source", F.least(F.col("q"), F.col("n_docs")).alias("q"))
    return (md5_ranked(live).join(F.broadcast(quota), "source")
            .where(F.col("pick") <= F.col("q"))
            .select("doc_id", "source", "pick"))
