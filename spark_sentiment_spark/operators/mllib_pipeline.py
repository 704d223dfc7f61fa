"""MLlib sentiment pipeline — capability clone of the reference's ``mlib``
method (SRC/MlLibSentimentAnalyser.scala, SRC/ml/{Regression,Bayes,
MaximumEntropy}.scala; M1-M12 in SURVEY.md §2.7), on ``pyspark.ml``.

Same feature pipeline and hyperparameters:

* RegexTokenizer(gaps=False, pattern=``\\p{L}+``) → CountVectorizer(
  minTF=1, minDF=5, vocabSize=2^17) → IDF  (MlLibSentimentAnalyser.scala:105-121)
* classifiers + static params + sweep grids (Regression.scala:18-36,
  Bayes.scala:18-32, MaximumEntropy.scala:18-31)
* splits 0.7/0.2/0.1 seed 0 (MlLibSentimentAnalyser.scala:125-127)
* model choice: grid sweep wins only when strictly better than the static
  fit (Regression.scala:49-56); "all" keeps the best-accuracy classifier
  (MlLibSentimentAnalyser.scala:36-53).

Scale posture: every grid point is a distributed ``fit`` — the reference
ran them sequentially from the driver; here the sweep uses
``parallelism=N`` to keep the cluster busy across fits. Label preparation
reuses the detection subsystem (value column → else categorical column →
StringIndexer conversion), mirroring MlLibSentimentAnalyser.prepare:86-104.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_sentiment_spark.operators.detection import extract_categories

SCORE = "score"   # MlLibSentimentAnalyser.scala:14
TFIDF = "tfidf"   # MlLibSentimentAnalyser.scala:15
#: The classifiers train on and predict dense class indices 0..k-1; the
#: fitted pipeline's last stage maps the predicted index back to the label.
CLASS = "class_index"
CLASS_PREDICTION = "class_prediction"

#: sweep grids (Regression.scala:36, Bayes.scala:32, MaximumEntropy.scala:31)
LR_GRID = {"regParam": [0.0, 0.01, 0.02], "elasticNetParam": [0.0, 0.2, 0.4]}
NB_GRID = {"smoothing": [0.85, 0.90, 0.95, 1.05, 1.1, 1.15]}
RF_GRID = {"maxBins": [25, 28, 31], "maxDepth": [4, 6, 8],
           "impurity": ["entropy", "gini"]}


def feature_pipeline(text_col: str):
    """M3+M4+M5+M6: the nested idf pipeline, exact reference params."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import CountVectorizer, IDF, RegexTokenizer

    tokenizer = RegexTokenizer(gaps=False, pattern=r"\p{L}+",
                               inputCol=text_col, outputCol="words")
    vectorizer = CountVectorizer(minTF=1.0, minDF=5.0, vocabSize=1 << 17,
                                 inputCol="words", outputCol="tf")
    cv_pipeline = Pipeline(stages=[tokenizer, vectorizer])
    idf = IDF(inputCol="tf", outputCol=TFIDF)
    return Pipeline(stages=[cv_pipeline, idf])


def _classifier(name: str):
    from pyspark.ml.classification import (LogisticRegression, NaiveBayes,
                                           RandomForestClassifier)

    cols = dict(labelCol=CLASS, featuresCol=TFIDF,
                predictionCol=CLASS_PREDICTION)
    if name == "logistic":      # Regression.scala:18-22
        return LogisticRegression(**cols, regParam=0.02, maxIter=100,
                                  elasticNetParam=0.3), LR_GRID
    if name == "naivebayes":    # Bayes.scala:18-19
        return NaiveBayes(**cols, smoothing=1.0,
                          modelType="multinomial"), NB_GRID
    if name == "maxentropy":    # MaximumEntropy.scala:18
        return RandomForestClassifier(**cols, impurity="gini", maxDepth=3,
                                      numTrees=20,
                                      featureSubsetStrategy="auto",
                                      seed=5043), RF_GRID
    raise ValueError(f"unknown classifier {name!r}")


def _to_labels(labels: list[float]):
    """The stage that maps a predicted class index back to its label, so a
    model trained on Sentiment140's 0/4 polarity predicts 0 or 4."""
    from pyspark.ml.feature import SQLTransformer

    values = ", ".join(f"CAST('{v!r}' AS DOUBLE)" for v in labels)
    return SQLTransformer(statement=(
        f"SELECT *, element_at(array({values}), "
        f"CAST({CLASS_PREDICTION} AS INT) + 1) AS prediction FROM __THIS__"))


def accuracy(df: DataFrame) -> float:
    """A2/F14: avg(double(prediction = score)) (Regression.scala:30); both
    columns hold label values."""
    return df.agg(
        F.avg((F.col("prediction") == F.col(SCORE)).cast("double"))
    ).first()[0]


@dataclass
class TrainedModel:
    model: object          # fitted PipelineModel (features + classifier)
    classifier: str
    precision: float       # validation accuracy of the selected model
    static_precision: float
    test_df: DataFrame
    #: classifier="all" fills this with every family's best validation
    #: accuracy so callers (and tests) can audit the argmax selection.
    family_precisions: dict | None = None
    #: one (family, params, validation_accuracy) row per fit — static and
    #: every grid point — so the selection can be re-derived as a pure
    #: argmax over the full log (36 rows for classifier="all" with sweep:
    #: 3 static + LR 3x3 + NB 6 + RF 3x3x2).
    fit_log: list | None = None

    def save(self, path: str) -> None:
        self.model.write().overwrite().save(path)


def load_model(path: str):
    """S17: PipelineModel.load (MlLibSentimentAnalyser.scala:136-138)."""
    from pyspark.ml import PipelineModel

    return PipelineModel.load(path)


def prepare_labels(df: DataFrame, limit: int = 100) -> tuple[DataFrame, str]:
    """Label detection: value column if present, else categorical column
    (converted to int codes); the label is copied to ``score``
    (MlLibSentimentAnalyser.prepare:86-104)."""
    from spark_sentiment_spark.operators.detection import (
        convert_categorical_column, detect_categorical_column,
        detect_value_column)

    value_col = detect_value_column(df, limit)
    if value_col is None:
        cat = detect_categorical_column(df, limit)
        if cat is None:
            raise ValueError("no label column detected")
        df, label_col = convert_categorical_column(df, cat)
    else:
        label_col = value_col
    return df.withColumn(SCORE, F.col(label_col).cast("double")), label_col


def train(df: DataFrame, text_col: str, classifier: str = "all",
          limit: int = 100, parallelism: int = 4,
          sweep: bool = True) -> TrainedModel:
    """Full training path (entry point B, SURVEY.md §3.2).

    ``classifier``: logistic | naivebayes | maxentropy | all ("all" fits
    every family and keeps the best validation accuracy,
    MlLibSentimentAnalyser.scala:36-53).
    """
    from pyspark.ml import Pipeline

    data, _ = prepare_labels(df, limit)
    labels = extract_categories(data, SCORE)
    data = data.withColumn(CLASS, (F.array_position(
        F.array(*map(F.lit, labels)), F.col(SCORE)) - 1).cast("double"))
    features = feature_pipeline(text_col).fit(data)
    to_labels = _to_labels(labels)
    training_df, validation_df, testing_df = data.randomSplit(
        [0.7, 0.2, 0.1], seed=0)
    # The feature model and both split sides are reused by up to 18 fits.
    training_df = training_df.cache()
    validation_df = validation_df.cache()

    names = ([classifier] if classifier != "all"
             else ["logistic", "naivebayes", "maxentropy"])
    results = []
    fit_log: list[tuple[str, str, float]] = []
    for name in names:
        est, grid = _classifier(name)
        static_model = Pipeline(
            stages=[features, est, to_labels]).fit(training_df)
        static_prec = accuracy(static_model.transform(validation_df))
        fit_log.append((name, "static", static_prec))
        best_model, best_prec = static_model, static_prec
        if sweep:
            swept_model, swept_prec, scored = _sweep(
                features, est, to_labels, grid, training_df, validation_df,
                parallelism)
            fit_log.extend((name, params, prec) for prec, params in scored)
            # sweep wins only when strictly better (Regression.scala:49-56)
            if swept_prec - static_prec > 0:
                best_model, best_prec = swept_model, swept_prec
        results.append(TrainedModel(best_model, name, best_prec,
                                    static_prec, testing_df))
    best = max(results, key=lambda r: r.precision)
    best.family_precisions = {r.classifier: r.precision for r in results}
    best.fit_log = fit_log
    return best


def _sweep(features, est, to_labels, grid: dict, training_df,
           validation_df, parallelism: int):
    """Exact-semantics grid sweep: fit every grid point, score on the
    validation split, keep the max — the reference's manual loop
    (Regression.scala:39-46) expressed through TrainValidationSplit would
    change the split; instead we parallelize the same fits."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.ml import Pipeline
    from pyspark.ml.tuning import ParamGridBuilder

    builder = ParamGridBuilder()
    for pname, values in grid.items():
        builder = builder.addGrid(est.getParam(pname), values)
    param_maps = builder.build()

    def fit_one(pm):
        model = Pipeline(
            stages=[features, est.copy(pm), to_labels]).fit(training_df)
        desc = ",".join(f"{p.name}={v}" for p, v in sorted(
            pm.items(), key=lambda kv: kv[0].name))
        return accuracy(model.transform(validation_df)), model, desc

    # Spark fits are thread-safe; concurrent driver threads keep all
    # executors busy across the sweep (the reference ran them serially).
    with ThreadPoolExecutor(max_workers=max(1, parallelism)) as pool:
        fits = list(pool.map(fit_one, param_maps))
    best_prec, best_model, _ = max(fits, key=lambda t: t[0])
    return best_model, best_prec, [(prec, desc) for prec, _, desc in fits]


def score_model(df: DataFrame, model,
                drop_intermediate: bool = True) -> DataFrame:
    """M12 + P3: model.transform, dropping feature intermediates before
    output (Sentiment.scala:145-148,190)."""
    out = model.transform(df)
    if drop_intermediate:
        out = out.drop("words", "tf", TFIDF, "rawPrediction", "probability",
                       CLASS, CLASS_PREDICTION)
    return out
