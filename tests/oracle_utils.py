"""Local replica of the driver's t2 correctness check: run each catalog query
on Spark and its oracle SQL on DuckDB, compare row count, column names, and
(order-insensitively) values."""

from __future__ import annotations

import contextlib
import math
import shutil
import tempfile

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@contextlib.contextmanager
def staged_documents(rows, sf_dir: str):
    """Write a constructed documents table from (doc_id, text, lang,
    source, n_chars) rows as one parquet FILE (duck_connection's
    contract), plus empty slices of every other table of ``sf_dir``;
    yields the staging dir and removes it on exit."""
    tmp = tempfile.mkdtemp(prefix="oracle_corpus_")
    try:
        cols = list(zip(*rows))
        pq.write_table(pa.table(
            {"doc_id": pa.array(cols[0], pa.int64()),
             "text": pa.array(cols[1], pa.string()),
             "lang": pa.array(cols[2], pa.string()),
             "source": pa.array(cols[3], pa.string()),
             "n_chars": pa.array(cols[4], pa.int64())}),
            f"{tmp}/documents.parquet")
        for t in TABLES:
            if t != "documents":
                pq.write_table(
                    pq.read_table(f"{sf_dir}/{t}.parquet").slice(0, 0),
                    f"{tmp}/{t}.parquet")
        yield tmp
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # kill -0.0 and fold tiny fp residue
        return round(v, 9) + 0.0
    return v


def compare(spark_df, con, sql, name="query"):
    """Return (ok, message)."""
    sp = spark_df.toPandas()
    du = con.execute(sql).fetchdf()
    sp_cols = sorted(sp.columns)
    du_cols = sorted(du.columns)
    if sp_cols != du_cols:
        return False, f"{name}: columns differ spark={sp_cols} duck={du_cols}"
    if len(sp) != len(du):
        return False, f"{name}: row count differs spark={len(sp)} duck={len(du)}"
    def _key(row):
        return tuple((v is None, str(v)) for v in row)

    sp_rows = sorted(
        (tuple(_norm_cell(v) for v in row)
         for row in sp[sp_cols].itertuples(index=False, name=None)),
        key=_key,
    )
    du_rows = sorted(
        (tuple(_norm_cell(v) for v in row)
         for row in du[du_cols].itertuples(index=False, name=None)),
        key=_key,
    )
    if sp_rows == du_rows:
        return True, f"{name}: OK ({len(sp)} rows)"
    # find first mismatch for diagnostics
    for i, (a, b) in enumerate(zip(sp_rows, du_rows)):
        if a != b:
            return False, (f"{name}: value mismatch at sorted-row {i}:\n"
                           f"  spark={a}\n  duck ={b}")
    return False, f"{name}: rows differ (same length, no aligned diff?)"


def assert_oracle_match(df, name: str, sf_dir: str) -> None:
    """``df``, catalog query ``name`` run over the tables of ``sf_dir``,
    equals the query's DuckDB oracle over the same tables."""
    from spark_sentiment_spark.plans.registry import REGISTRY

    ok, msg = compare(df, duck_connection(sf_dir), REGISTRY[name].sql, name)
    assert ok, msg
