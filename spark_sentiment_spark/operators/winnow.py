"""Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, MOSS):
the selection kernel shared by the per-document sketch, the pair index and
its incremental and streaming probes, plus its DuckDB twin."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_sentiment_spark.functions.text import WS_TOKENS_SQL, ws_tokens
from spark_sentiment_spark.operators.sketch import hexpoly

WN_K = 3   # tokens per k-gram
WN_W = 4   # k-grams per winnowing window
# 48-bit integer hash of the k-gram text: first 12 md5 hex chars as an
# instr() polynomial — valid and identical in Spark SQL and DuckDB.
WN_HASH = hexpoly("md5(kg)", 1, 12)


def winnow_selected(docs):
    """(doc_id, h, s) rows: every k-gram hash with s=1 where the
    position is some window's rightmost minimum — the Spark twin of
    `WINNOW_CTE` (see doc_winnowing's docstring for the reach
    derivation)."""
    docs = docs.where(F.col("text").isNotNull() & (F.trim("text") != ""))
    t = (docs.select("doc_id", ws_tokens().alias("l"))
         .where(F.size("l") >= WN_K))
    kg = (t.select(
        "doc_id",
        F.posexplode(F.expr(
            f"transform(sequence(1, size(l) - {WN_K - 1}),"
            f" i -> array_join(slice(l, i, {WN_K}), ' '))"))
        .alias("pos0", "kg"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"),
                F.expr(WN_HASH).alias("h")))
    w = Window.partitionBy("doc_id").orderBy("pos")
    wm = Window.partitionBy("doc_id")
    g1, g2, g3 = (F.lag("h", i).over(w) for i in (1, 2, 3))
    e1, e2, e3 = (F.lead("h", i).over(w) for i in (1, 2, 3))
    h = F.col("h")

    def ind(cond):
        return F.coalesce(cond.cast("int"), F.lit(0))

    c1, c2, c3 = ind(g1 >= h), ind(g2 >= h), ind(g3 >= h)
    d1, d2, d3 = ind(e1 > h), ind(e2 > h), ind(e3 > h)
    a = c1 + c1 * c2 + c1 * c2 * c3
    b = d1 + d1 * d2 + d1 * d2 * d3
    m = F.count(F.lit(1)).over(wm)
    return kg.select(
        "doc_id", "h",
        (F.greatest(F.lit(1), F.col("pos") - a)
         <= F.least(F.col("pos"), m - (WN_W - 1),
                    F.col("pos") + b - (WN_W - 1)))
        .cast("int").alias("s"))


# The DuckDB twin of `winnow_selected`: tokenize → k-gram hashes →
# lag/lead reach → per-position selection flag ``sel(doc_id, h, s)``.
# Each winnowing oracle appends its own CTEs and final SELECT.
WINNOW_CTE = f"""
WITH t AS (
  SELECT doc_id, {WS_TOKENS_SQL} AS l FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
), idx AS (
  SELECT doc_id, l, unnest(generate_series(1, len(l) - {WN_K - 1})) AS pos
  FROM t WHERE len(l) >= {WN_K}
), kg AS (
  SELECT doc_id, pos,
         {hexpoly(f"md5(array_to_string(l[pos:pos+{WN_K - 1}], ' '))", 1, 12)} AS h
  FROM idx
), win AS (
  SELECT doc_id, pos, h,
         lag(h, 1) OVER w AS g1, lag(h, 2) OVER w AS g2,
         lag(h, 3) OVER w AS g3,
         lead(h, 1) OVER w AS e1, lead(h, 2) OVER w AS e2,
         lead(h, 3) OVER w AS e3,
         count(*) OVER (PARTITION BY doc_id) AS m
  FROM kg
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), reach AS (
  SELECT doc_id, pos, h, m,
         coalesce(CAST(g1 >= h AS INT), 0)
           + coalesce(CAST(g1 >= h AS INT), 0)
             * coalesce(CAST(g2 >= h AS INT), 0)
           + coalesce(CAST(g1 >= h AS INT), 0)
             * coalesce(CAST(g2 >= h AS INT), 0)
             * coalesce(CAST(g3 >= h AS INT), 0) AS a,
         coalesce(CAST(e1 > h AS INT), 0)
           + coalesce(CAST(e1 > h AS INT), 0)
             * coalesce(CAST(e2 > h AS INT), 0)
           + coalesce(CAST(e1 > h AS INT), 0)
             * coalesce(CAST(e2 > h AS INT), 0)
             * coalesce(CAST(e3 > h AS INT), 0) AS b
  FROM win
), sel AS (
  SELECT doc_id, h,
         CASE WHEN greatest(1, pos - a)
                   <= least(pos, m - {WN_W - 1}, pos + b - {WN_W - 1})
              THEN 1 ELSE 0 END AS s
  FROM reach
)"""
