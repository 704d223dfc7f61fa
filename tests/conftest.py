import os

import pytest

from spark_sentiment_spark.plans.registry import all_queries

# Registry order is import order: register the whole catalog in its own
# order before a test module imports one catalog module directly.
all_queries()

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
def release_caches():
    """Release every cache, temp table and staging dir the test made, at
    teardown, pass or fail — for tests that stage through the registry's
    tracking without running a catalog query."""
    from spark_sentiment_spark.plans import registry

    yield
    registry.release_caches()


@pytest.fixture
def query(spark, sf_dir, release_caches):
    """Run catalog queries by name: ``query(name)`` returns
    ``REGISTRY[name].fn(spark, sf_dir)``; ``query(name, other_dir)`` runs
    it over another table directory. What the queries cache, register or
    stage is released at teardown (``release_caches``)."""
    from spark_sentiment_spark.plans import registry

    def run(name, tables=sf_dir, **settings):
        return registry.REGISTRY[name].fn(spark, tables, **settings)

    return run


def load(spark, table, sf_dir=SF_DIR):
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")
