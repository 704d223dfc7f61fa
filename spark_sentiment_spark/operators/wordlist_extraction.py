"""Word-list extraction ("train word-score", M16) — the reference's
CreateScoreList (SRC/CreateScoreList.scala:16-53) as ONE DataFrame plan.

Reference semantics: per label category, the CountVectorizer(minTF=2,
minDF=5) vocabulary. Spark's CountVectorizer applies **only minDF during
fit** — the fitted vocabulary is "terms appearing (at any frequency) in at
least 5 documents of the category"; minTF filters counts at *transform*
time and never affects the vocabulary (CreateScoreList.scala:41 collects
the fitted vocabulary, so minTF=2 is a no-op for the word lists). Then
words present in more than 2 category vocabularies are dropped (the
``overlap`` RDD round-trip, CreateScoreList.scala:45-52).

The reference ping-pongs driver↔cluster per category (filter → fit →
collect vocabulary → re-parallelize → reduceByKey → collect → driver-side
subtract; SURVEY.md §3.3). Here the whole computation is a single
declarative plan — explode → two hash aggregations → self-aggregated
overlap anti-join — that shuffles on (category, word) and scales linearly:

    tokens:   (category, doc_id, word)
    tf:       groupBy(category, doc_id, word).count            [shuffle 1]
    df:       groupBy(category, word).count                    [shuffle 2,
              map-side combined, same key prefix]
    vocab:    df ≥ minDF
    overlap:  vocab.groupBy(word).count > overlap_limit        [shuffle 3]
    result:   vocab LEFT ANTI JOIN overlap                     [broadcast]
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MIN_TF = 2        # CreateScoreList.scala:41 .setMinTF(2) — transform-only,
                  # kept for API parity; does NOT affect the vocabulary
MIN_DF = 5        # CreateScoreList.scala:41 .setMinDF(5)
OVERLAP_LIMIT = 2  # CreateScoreList.scala:48 .filter(k => k._2 > 2)


def extract_wordlists(df: DataFrame, text_col: str, label_col: str,
                      min_tf: int = MIN_TF, min_df: int = MIN_DF,
                      overlap_limit: int = OVERLAP_LIMIT) -> DataFrame:
    """Returns (category, word, doc_freq, total_tf) — one row per retained
    vocabulary entry per category, overlap words removed.

    ``min_tf`` is accepted for signature parity with the reference's
    CountVectorizer params but is intentionally unused: CountVectorizer.fit
    selects the vocabulary on document frequency alone (minTF applies only
    when transforming count vectors, which CreateScoreList never uses)."""
    del min_tf  # transform-time-only parameter; see docstring
    docs = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(label_col).alias("category"),
                F.monotonically_increasing_id().alias("_doc"),
                F.split(F.col(text_col), " ", -1).alias("_toks"))
    )
    tokens = docs.select("category", "_doc",
                         F.explode("_toks").alias("word"))
    tf = (tokens.groupBy("category", "_doc", "word")
          .agg(F.count(F.lit(1)).alias("tf")))
    # vocab feeds both the overlap build and the anti-join, so it is
    # persisted to run the corpus pass once.
    from spark_sentiment_spark.plans.registry import track_persist

    vocab = track_persist(
        tf.groupBy("category", "word")
        .agg(F.count(F.lit(1)).alias("doc_freq"),
             F.sum("tf").alias("total_tf"))
        .where(F.col("doc_freq") >= min_df)
    )
    # Words in more than `overlap_limit` category vocabularies are ambiguous
    # and removed everywhere. The overlap set is bounded by the vocabulary
    # (≪ corpus), so the anti-join broadcasts.
    overlap = (vocab.groupBy("word")
               .agg(F.count(F.lit(1)).alias("n_categories"))
               .where(F.col("n_categories") > overlap_limit)
               .select("word"))
    return vocab.join(F.broadcast(overlap), "word", "left_anti")


def save_wordlists(df: DataFrame, text_col: str, label_col: str,
                   dest: str, **kwargs) -> None:
    """S15: one single-file text output dir per category
    (Sentiment.scala:82-86), off the same single plan."""
    vocab = extract_wordlists(df, text_col, label_col, **kwargs)
    cats = [r[0] for r in vocab.select("category").distinct().collect()]
    for cat in cats:
        (vocab.where(F.col("category") == F.lit(cat))
         .select("word").coalesce(1)
         .write.mode("overwrite").text(f"{dest}/{cat}"))
