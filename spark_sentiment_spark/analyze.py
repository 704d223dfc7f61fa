"""Top-level analysis entry point — the capability of the reference's main
dispatch (entry point A, SRC/Sentiment.scala:104-197, SURVEY.md §3.1):

    load file(s) → pick/detect the text column → clean → score by method →
    drop intermediates → optionally save.

Methods: ``word-score`` (lexicon plan, M13), ``mlib`` (persisted
PipelineModel, M12), ``nlp``/``our-nlp``/``databricks-nlp``
(sentence-sentiment UDF, M14/M15 — same text→class 0..4 contract as the
reference's CoreNLP paths; ``our-nlp`` defaults to the shipped trained
model artifact in ``operators.nlp_model``, the others to the lexicon
scorer, and any backend can be swapped via ``sentence_scorer_factory=``).

Everything stays one lazy DataFrame plan per input: no collect, no
driver-side loops; cleaning is native Column expressions; the only Python
is the stemmer/tokenizer/NLP pandas UDFs where semantics require it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

CLEANED_COL = "converted_text"   # Helper.cleanSource's output column name
SCORE_COL = "computed"           # Sentiment.scala:141,151 output column

#: intermediates dropped before output (Sentiment.scala:190)
_INTERMEDIATE_COLS = ("filtered", "words", "tf", "tfidf",
                      "rawPrediction", "probability")


def analyze(
    spark: SparkSession,
    path: str,
    method: str = "word-score",
    column: str | None = None,
    filetype: str | None = None,
    model_path: str | None = None,
    stem: bool = False,
    limit: int = 100,
    output: str | None = None,
    output_type: str = "parquet",
    sentence_scorer_factory=None,
) -> DataFrame:
    """Run one input through the full analysis pipeline; returns the scored
    DataFrame (and writes it when ``output`` is given)."""
    from spark_sentiment_spark.functions.text import clean_source
    from spark_sentiment_spark.operators.detection import detect_text_column
    from spark_sentiment_spark.sources.io import load, save

    df, _ftype = load(spark, path, filetype=filetype)
    text_col = column or detect_text_column(df, limit)
    if text_col is None:
        raise ValueError(
            f"no text column detected in {path!r}; pass column= explicitly")

    cleaned = clean_source(df, text_col, CLEANED_COL, stem=stem)
    scored = _dispatch(cleaned, method, model_path, sentence_scorer_factory)
    scored = scored.drop(*_INTERMEDIATE_COLS)
    if output:
        save(scored, output, output_type)
    return scored


def _dispatch(df: DataFrame, method: str, model_path: str | None,
              sentence_scorer_factory) -> DataFrame:
    if method == "word-score":
        return _word_score(df)
    if method == "mlib":
        if not model_path:
            raise ValueError("method='mlib' requires model_path=")
        from spark_sentiment_spark.operators.mllib_pipeline import (
            load_model, score_model)

        model = load_model(model_path)
        # Feed the cleaned column under the name the model was trained on
        # (its tokenizer's inputCol), displacing any clashing source column.
        want = _model_input_col(model) or "text"
        if want != CLEANED_COL:
            if want in df.columns:
                df = df.withColumnRenamed(want, f"_orig_{want}")
            df = df.withColumnRenamed(CLEANED_COL, want)
        out = score_model(df, model)
        if want != CLEANED_COL and f"_orig_{want}" in out.columns:
            out = (out.withColumnRenamed(want, CLEANED_COL)
                   .withColumnRenamed(f"_orig_{want}", want))
        return out.withColumnRenamed("prediction", SCORE_COL)
    if method in ("nlp", "our-nlp", "databricks-nlp"):
        from spark_sentiment_spark.operators.nlp_sentiment import score_nlp

        factory = sentence_scorer_factory
        if factory is None and method == "our-nlp":
            # "our-nlp" in the reference is the *trained* CoreNLP RNN;
            # default its analogue here to the shipped trained model
            # artifact rather than the lexicon heuristic.
            from spark_sentiment_spark.operators.nlp_model import (
                model_scorer_factory)

            factory = model_scorer_factory
        return score_nlp(df, CLEANED_COL, SCORE_COL, factory)
    raise ValueError(f"unknown method {method!r}; "
                     "use word-score | mlib | nlp")


def _model_input_col(model) -> str | None:
    """First inputCol found walking the (possibly nested) PipelineModel —
    the trained tokenizer's text column."""
    stages = getattr(model, "stages", None)
    if stages is None:
        return (model.getInputCol()
                if hasattr(model, "getInputCol") else None)
    for st in stages:
        found = _model_input_col(st)
        if found:
            return found
    return None


def _word_score(df: DataFrame) -> DataFrame:
    """M13 on the cleaned column: one narrow Arrow pandas UDF that adds
    the score column row by row (operators.wordscore.score_documents)."""
    from spark_sentiment_spark.operators.wordscore import score_documents

    return score_documents(df, text_col=CLEANED_COL, output_col=SCORE_COL)
