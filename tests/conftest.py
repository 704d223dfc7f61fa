import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from spark_sentiment_spark.session import get_spark

    extra = {"spark.ui.enabled": "false",
             "spark.driver.memory": "4g",
             # Whole-stage codegen compile time dominates at sf0.001;
             # interpreted mode keeps the suite fast (see bench.py).
             "spark.sql.codegen.wholeStage": "false"}
    spark = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf=extra,
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def load(spark, table, sf_dir=SF_DIR):
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")
