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


@pytest.fixture
def run():
    """The test body is one registry run: every cache, temp table and
    staging dir it tracks is released at teardown, pass or fail. Yields
    the run's scope."""
    from spark_sentiment_spark.plans import registry

    with registry.run() as scope:
        yield scope


@pytest.fixture
def query(spark, sf_dir, run):
    """Run catalog queries by name: ``query(name)`` returns
    ``REGISTRY[name].fn(spark, sf_dir)``; ``query(name, other_dir)`` runs
    it over another table directory. What the queries cache, register or
    stage belongs to the test's ``run``."""
    from spark_sentiment_spark.plans.registry import all_queries

    queries = all_queries()

    def call(name, tables=sf_dir, **settings):
        return queries[name](spark, tables, **settings)

    return call


def load(spark, table, sf_dir=SF_DIR):
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")
