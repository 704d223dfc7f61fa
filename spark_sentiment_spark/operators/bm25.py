"""BM25 ranked retrieval (k1=1.2, b=0.75) over the documents' space
tokens: the inverted-index build, its probe and the scoring chain shared by
the inline, persisted and streaming search queries, and the DuckDB oracle
all three share."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_sentiment_spark.plans.registry import (load, track_persist,
                                                  track_staging_dir)

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10
BM25_QUERIES = [("q1", ["spark", "join", "window"]),
                ("q2", ["batch", "stream"]),
                ("q3", ["customer", "filter", "data"])]
BM25_TERMS = sorted({t for _, terms in BM25_QUERIES for t in terms})

_BM25_TERMS_SEL = "\nUNION ALL\n".join(
    f"SELECT '{qid}' AS qid, '{t}' AS term"
    for qid, terms in BM25_QUERIES for t in terms)

BM25_SQL = f"""
WITH tok AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
    FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
  WHERE w <> ''
), dl AS (
  SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
), tf AS (
  SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2
), df AS (
  SELECT w, count(DISTINCT doc_id) AS df FROM tok GROUP BY w
), stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
), q AS ({_BM25_TERMS_SEL}
), scored AS (
  SELECT q.qid, tf.doc_id,
         sum(ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
             * tf.tf * ({BM25_K1} + 1.0)
             / (tf.tf + {BM25_K1}
                * (1.0 - {BM25_B} + {BM25_B} * dl.dl / s.avgdl)))
           AS score
  FROM q
  JOIN tf ON tf.w = q.term
  JOIN df ON df.w = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
)
SELECT qid, doc_id, round(score, 6) AS score,
       CAST(row_number() OVER (PARTITION BY qid
                               ORDER BY round(score, 6) DESC, doc_id)
            AS BIGINT) AS rn
FROM scored
QUALIFY rn <= {BM25_TOPK}
ORDER BY qid, rn
"""


def bm25_query_frame(spark):
    """The fixture query-term list as a tiny broadcastable frame."""
    q = None
    for qid, terms in BM25_QUERIES:
        for t in terms:
            row = spark.range(1).select(F.lit(qid).alias("qid"),
                                        F.lit(t).alias("term"))
            q = row if q is None else q.union(row)
    return q


def bm25_score_topk(q, tf, df, dl, stats):
    """The BM25 scoring + per-query top-k chain every form runs (inline
    postings, the staged index, each streaming micro-batch), so
    probe-equals-inline is structural."""
    idf = F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    gain = (idf * F.col("tf") * (BM25_K1 + 1.0)
            / (F.col("tf") + BM25_K1
               * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))))
    scored = (F.broadcast(q).join(tf, F.col("term") == F.col("w"))
              .join(df, "w")
              .join(dl, "doc_id")
              .crossJoin(F.broadcast(stats))
              .groupBy("qid", "doc_id")
              .agg(F.sum(gain).alias("score")))
    w_rank = Window.partitionBy("qid").orderBy(
        F.desc(F.round("score", 6)), F.asc("doc_id"))
    return (scored
            .withColumn("rn", F.row_number().over(w_rank).cast("long"))
            .where(F.col("rn") <= BM25_TOPK)
            .select("qid", "doc_id", F.round("score", 6).alias("score"),
                    "rn")
            .orderBy("qid", "rn"))


def bm25_tokens(spark, sf_dir):
    """The persisted (doc_id, w) token rows of the non-blank documents —
    lowercased, split on single spaces, empty tokens dropped."""
    docs = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & (F.trim("text") != ""))
    return track_persist(
        docs.select("doc_id", F.explode(
            F.split(F.lower("text"), " ", -1)).alias("w"))
        .where(F.col("w") != ""))  # per (doc, token) row — text-sized


def bm25_probe(postings, dl, q, terms):
    """Phase 2 of the inverted index, the recurring per-batch cost: the
    ``terms`` IN-filter seeks the term-sorted postings, df falls out of
    the matched slice (it holds every posting of each matched term),
    and ``q`` (qid, term) is scored by `bm25_score_topk`."""
    matched = postings.where(F.col("w").isin(terms))
    df = matched.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   F.avg("dl").alias("avgdl"))
    return bm25_score_topk(q, matched, df, dl, stats)


def bm25_stage_index(spark, sf_dir):
    """Phase 1 of the inverted index, built once: postings
    (doc_id, w, tf) written repartitioned + SORTED on the term (row-group
    stats make the index seekable) and doclens (doc_id, dl), in exactly
    two corpus scans.
    Returns the two artifact frames read back with explicit schemas (an
    empty corpus writes part-less directories that schema inference
    cannot read back)."""
    tok = bm25_tokens(spark, sf_dir)
    base = track_staging_dir("bm25_index_")
    postings_src = (tok.groupBy("doc_id", "w")
                    .agg(F.count(F.lit(1)).alias("tf"))
                    .repartition("w").sortWithinPartitions("w"))
    postings_src.write.mode("overwrite").parquet(base + "/postings")
    dl_src = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    dl_src.write.mode("overwrite").parquet(base + "/doclens")

    postings = spark.read.schema(postings_src.schema) \
        .parquet(base + "/postings")
    dl = spark.read.schema(dl_src.schema).parquet(base + "/doclens")
    return postings, dl
