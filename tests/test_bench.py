"""bench.py's ×K replication and its session settings.

``replicate`` grows the fact tables of an SF dir by re-keying
``key*k + rep`` on ``registry.FACT_KEYS`` and copies every other table
as is; ``disjoint`` also gives each replica its own documents tokens.
"""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import bench
from spark_sentiment_spark.plans.registry import FACT_KEYS
from tests.conftest import SF_DIR

REPO = Path(__file__).resolve().parent.parent


@pytest.fixture(scope="module")
def x2(spark, tmp_path_factory):
    return bench.replicate(spark, SF_DIR, str(tmp_path_factory.mktemp("x2")), 2)


def test_replicate_x1_reads_the_base_dir(spark, tmp_path):
    assert bench.replicate(spark, SF_DIR, str(tmp_path / "x1"), 1) == SF_DIR
    assert not (tmp_path / "x1").exists()


def test_replicate_doubles_fact_rows_and_keys(spark, x2):
    def rows_and_keys(sf_dir, table, key):
        return tuple(spark.read.parquet(f"{sf_dir}/{table}.parquet")
                     .agg(F.count("*"), F.countDistinct(key)).first())

    for table, key in FACT_KEYS.items():
        rows, keys = rows_and_keys(SF_DIR, table, key)
        assert rows_and_keys(x2, table, key) == (2 * rows, 2 * keys), table


def test_replicate_copies_other_tables_row_for_row(spark, x2):
    others = sorted(set(os.listdir(SF_DIR))
                    - {f"{t}.parquet" for t in FACT_KEYS})
    assert others and sorted(set(os.listdir(x2)) - {
        f"{t}.parquet" for t in FACT_KEYS}) == others
    for entry in others:
        assert (spark.read.parquet(f"{x2}/{entry}").collect()
                == spark.read.parquet(f"{SF_DIR}/{entry}").collect()), entry


def test_disjoint_replicas_share_no_token(spark, tmp_path):
    out = bench.replicate(spark, SF_DIR, str(tmp_path / "x2d"), 2,
                          disjoint=True)
    tokens = (spark.read.parquet(f"{out}/documents.parquet")
              .select((F.col("doc_id") % 2).alias("rep"),
                      F.explode(F.split("text", r"\s+")).alias("tok"))
              .where(F.col("tok") != ""))
    r0 = tokens.where("rep = 0").select("tok").distinct()
    r1 = tokens.where("rep = 1").select("tok").distinct()
    assert r0.count() > 0 and r1.count() > 0
    assert r0.intersect(r1).count() == 0


def test_bench_conf_matches_perfbench():
    """perfbench/run.py keeps its own copy of the bench session settings
    so its numbers stay comparable with bench.py's."""
    tree = ast.parse((REPO / "perfbench" / "run.py").read_text())
    conf = next(ast.literal_eval(node.value) for node in tree.body
                if isinstance(node, ast.Assign)
                and [getattr(t, "id", None) for t in node.targets]
                == ["BENCH_CONF"])
    assert bench.BENCH_CONF == conf
