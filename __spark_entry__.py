"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship word-score sentiment plan at sf0.001;
``queries``/``oracle_sql`` expose the full operator catalog from
``spark_sentiment_spark.plans`` (SURVEY.md §2 + §7.4 extension surface).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on /root/testdata/sf0.001; driver checks rows>0.

    This is the two-method comparison frame: the native word-score plan
    joined with the MLlib model-scoring path (train → save →
    analyze(method="mlib"), M12+S17), so one smoke run of ``entry``
    exercises BOTH analysis entry points — (doc_id, sentiment,
    computed)."""
    from spark_sentiment_spark.plans.registry import all_queries

    qs = all_queries()
    sf = "/root/testdata/sf0.001"
    wordscore = qs["wordscore_sentiment"](spark, sf)
    mlib = qs["mlib_score_documents"](spark, sf)
    return wordscore.join(mlib, "doc_id").orderBy("doc_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 / §7.4."""
    from spark_sentiment_spark.plans.registry import all_queries

    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL twins for every ANSI-SQL-expressible query."""
    from spark_sentiment_spark.plans.registry import all_oracles

    return all_oracles()
