"""Word-score sentiment — the reference's flagship analysis
(SRC/PlainTextAnalyser.scala:8-39, SRC/utils/WordList.scala:35-62), rebuilt as
a native Spark plan.

The reference scores each row inside a scalar UDF probing a broadcast
word→score map. Here the same computation is declarative:

    clean → split/explode → broadcast-hash join against the lexicon →
    hash re-aggregate per document

which keeps everything in whole-stage codegen, lets Catalyst push filters into
the parquet scan, and turns the lexicon probe into a broadcast join (no
shuffle on the big side except the final doc-id aggregation, which AQE sizes).

Two variants:

* ``score_documents_raw`` — raw-token matching only; every step is ANSI-SQL
  expressible, so it doubles as the DuckDB-checked flagship query.
* ``score_documents`` — full reference parity: per-token scoring with
  stemming + duplicate-char collapse (WordList.value), averaged over raw and
  stemmed token streams (PlainTextAnalyser.computeSentiment). Token scoring
  runs once per *distinct* token (bounded vocabulary — at 100 TB the distinct
  token set is millions, not trillions), via an Arrow pandas UDF, then joins
  back.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_sentiment_spark.functions.lexicon import raw_lexicon_df
from spark_sentiment_spark.functions.text import clean_text_col


def _tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, token) rows of the cleaned, space-split ``text``."""
    cleaned = docs.where(F.col("text").isNotNull()).select(
        F.col("doc_id"), clean_text_col("text").alias("_clean")
    )
    return cleaned.select(
        "doc_id", F.explode(F.split(F.col("_clean"), " ", -1)).alias("token")
    )


def score_documents_raw(docs: DataFrame) -> DataFrame:
    """Per ``doc_id``, the mean lexicon score of ``text`` over matched
    tokens; 0.0 when nothing matches.

    Semantics (PlainTextAnalyser.getValue, raw stream only): numerator =
    sum of matched scores; denominator = count of tokens whose score ≠ 0.
    """
    spark = docs.sparkSession
    lex = raw_lexicon_df(spark).where(F.col("score") != 0)
    toks = _tokens(docs)
    scored = toks.join(F.broadcast(lex), toks.token == lex.word, "left")
    per_doc = scored.groupBy("doc_id").agg(
        (F.coalesce(F.sum("score"), F.lit(0.0))
         / F.when(F.count("score") > 0, F.count("score"))).alias("_ratio")
    )
    out = docs.select("doc_id", "text").join(per_doc, "doc_id", "left")
    return out.select(
        "doc_id",
        F.round(F.coalesce(F.col("_ratio"), F.lit(0.0)), 6).alias("sentiment"),
    )


def score_documents(
    docs: DataFrame,
    text_col: str = "text",
    output_col: str = "sentiment",
) -> DataFrame:
    """Full reference-parity scoring.

    Per token t: value(t) and value(stem(t)) via WordList.value (stemmed
    lexicon; duplicate-char fallback; dead fuzzy path → 0). Per document:
    raw = sum(value(t)) / count(value(t) ≠ 0) when defined; same for the
    stemmed stream; result = mean of the defined ones, else 0.0
    (PlainTextAnalyser.computeSentiment:21-35).

    Plan shape: native clean (Column expressions) → ONE Arrow pandas UDF
    ``text → double`` with a per-worker token-value memo — a fully narrow,
    zero-shuffle pipeline. The alternative (explode → score distinct
    tokens → join back → re-aggregate) shuffles the corpus token stream
    three times; with a Zipfian token distribution the memo does the same
    distinct-token-sized Python work without any shuffle, so the narrow
    form wins at every scale.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _score_text(texts: pd.Series) -> pd.Series:
        from spark_sentiment_spark.functions.lexicon import word_value
        from spark_sentiment_spark.functions.stemmer import stem

        memo: dict = {}

        def tok_vals(w):
            v = memo.get(w)
            if v is None:
                v = (word_value(w), word_value(stem(w)))
                memo[w] = v
            return v

        def score(t):
            if t is None:
                return 0.0
            pairs = [tok_vals(w) for w in t.split(" ")]
            raw_nz = sum(1 for v, _ in pairs if v != 0.0)
            stm_nz = sum(1 for _, v in pairs if v != 0.0)
            raw = (sum(v for v, _ in pairs) / raw_nz) if raw_nz else None
            stm = (sum(v for _, v in pairs) / stm_nz) if stm_nz else None
            if raw is not None and stm is not None:
                return (raw + stm) / 2
            if raw is not None:
                return raw
            if stm is not None:
                return stm
            return 0.0

        return texts.map(score)

    cleaned = F.when(F.col(text_col).isNotNull(),
                     clean_text_col(text_col))
    return docs.withColumn(
        output_col,
        F.coalesce(_score_text(cleaned), F.lit(0.0)))


def fuzzy_lexicon_scores(tokens: DataFrame, token_col: str = "token",
                         max_distance: int = 3) -> DataFrame:
    """J3: edit-distance lexicon fallback as a native theta-join
    (reference: per-token memoized recursive Levenshtein against the whole
    lexicon inside a UDF, SRC/utils/WordList.scala:19-33 — quadratic and
    effectively dead, SURVEY §1.4; opt-in here with intended semantics).

    For each input token: candidate lexicon words within ``max_distance``
    (length-difference prefilter keeps the broadcast theta-join sparse),
    score = mean score of the candidates at the *smallest* distance
    (distance-1 matches beat distance-2 beat distance-3, mirroring the
    reference's dx cascade WordList.scala:19-26).

    Scale: tokens × 11k-lexicon broadcast nested-loop join, pruned by the
    length band; run it on *distinct unmatched* tokens only (vocabulary-
    sized input), never the raw corpus.
    """
    from pyspark.sql.window import Window

    spark = tokens.sparkSession
    lex = raw_lexicon_df(spark).where(F.col("score") != 0)
    t = F.col(token_col)
    w = F.col("word")
    cand = tokens.join(
        F.broadcast(lex),
        (F.abs(F.length(t) - F.length(w)) <= max_distance)
        & (F.levenshtein(t, w, max_distance) >= 0)
        & (F.levenshtein(t, w, max_distance) <= max_distance)
        & (t != w),
    ).withColumn("dist", F.levenshtein(t, w, max_distance))
    best = F.min("dist").over(Window.partitionBy(token_col))
    return (
        cand.withColumn("_best", best)
        .where(F.col("dist") == F.col("_best"))
        .groupBy(token_col)
        .agg(F.avg("score").alias("fuzzy_score"),
             F.min("dist").alias("distance"))
    )


def compute_sentiment_py(text: str) -> float:
    """Driver-side transcription of PlainTextAnalyser.computeSentiment —
    used only as a differential-test oracle (SURVEY §5.2.4)."""
    from spark_sentiment_spark.functions.lexicon import word_value
    from spark_sentiment_spark.functions.stemmer import stem

    words = text.split(" ")

    def get_value(ws):
        vals = [word_value(w) for w in ws]
        nz = sum(1 for v in vals if v != 0.0)
        return (sum(vals) / nz) if nz else None

    raw = get_value(words)
    stm = get_value([stem(w) for w in words])
    if raw is not None and stm is not None:
        return (raw + stm) / 2
    if raw is not None:
        return raw
    if stm is not None:
        return stm
    return 0.0
