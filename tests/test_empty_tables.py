"""Engine-grade degenerate-input contract: every catalog query runs on
EMPTY and on SINGLE-ROW input tables without crashing and keeps a
non-empty schema. Empty input is the shape a nightly pipeline hits on a
quiet source; one row exercises n-1 variance denominators, single-class
training, and quantizers with fewer points than codewords. The tables
are staged in Spark's directory layout (the testdata ships single-FILE
parquet), so this is also the one place every scan, the streaming
staging shim included, reads that layout.

Check a new or edited query on both shapes before committing it:

    python -m pytest tests/test_empty_tables.py -k q5_local_supplier
"""

import shutil
import tempfile

import pytest

from spark_sentiment_spark.plans.registry import REGISTRY
from tests.conftest import SF_DIR
from tests.oracle_utils import TABLES



@pytest.fixture(scope="module", params=[0, 1], ids=["empty", "single-row"])
def degenerate_sf(request, spark):
    tmp = tempfile.mkdtemp(prefix=f"degenerate_{request.param}_")
    for t in TABLES:
        (spark.read.parquet(f"{SF_DIR}/{t}.parquet").limit(request.param)
         .write.parquet(f"{tmp}/{t}.parquet"))
    yield tmp
    shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.slow
@pytest.mark.parametrize("name", list(REGISTRY))
def test_query_survives_degenerate_tables(query, degenerate_sf, name):
    df = query(name, degenerate_sf)
    df.count()
    assert len(df.schema.fields) > 0
