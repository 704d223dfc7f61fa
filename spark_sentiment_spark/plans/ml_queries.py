"""Driver-routable ML-scoring query — exercises the persisted-model
scoring path (M12 + S17, SRC/MlLibSentimentAnalyser.scala:136-148 and
SRC/Sentiment.scala:145-148) through the ``analyze()`` CLI dispatch, so
the driver harness touches it every round instead of pytest only."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_sentiment_spark.plans.registry import load, register


@register()
def mlib_score_documents(spark, sf_dir):
    """End-to-end model-scoring smoke: train a NaiveBayes pipeline
    (static fit, no sweep — one distributed fit) on a deterministic
    parity-labeled view of ``documents``, persist it (S17), then score
    the same parquet through ``analyze(method="mlib", model_path=...)``
    — the full CLI path: load → text-column pick → clean → model
    transform → intermediate drop (M12+P3). The parity label makes the
    predictions deterministic junk; what this pins is the PLUMBING:
    save/load round-trip, input-column rewiring, intermediate-column
    hygiene, and a scoring plan with no driver-side loops.

    Rows-only driver check: a trained model's predictions are not
    ANSI-SQL-expressible. The selection/accuracy semantics are pinned
    by tests/test_mllib_pipeline.py instead."""
    import shutil
    import tempfile

    from spark_sentiment_spark.analyze import analyze
    from spark_sentiment_spark.operators.mllib_pipeline import train

    docs = load(spark, sf_dir, "documents")
    labeled = docs.select(
        "doc_id", "text",
        (F.col("doc_id") % 2).cast("double").alias("score"))
    # Training needs both parity classes present; a degenerate (empty or
    # single-class) corpus cannot fit a model, so scoring it yields the
    # empty frame (engine-grade degenerate-input contract,
    # tests/test_empty_tables.py).
    if labeled.select("score").distinct().count() < 2:
        return spark.createDataFrame([], "doc_id long, computed double")
    trained = train(labeled, "text", classifier="naivebayes", sweep=False)

    tmp = tempfile.mkdtemp(prefix="spark_sentiment_mlib_")
    try:
        model_path = f"{tmp}/model"
        trained.save(model_path)
        # PipelineModel.load materializes every stage into the session,
        # so the artifact dir can be reclaimed once analyze() returns.
        out = analyze(spark, f"{sf_dir}/documents.parquet",
                      method="mlib", column="text",
                      model_path=model_path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return (out.select("doc_id",
                       F.col("computed").cast("double").alias("computed"))
            .orderBy("doc_id"))
