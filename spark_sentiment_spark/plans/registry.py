"""Registry plumbing for the query catalog.

Every engine operator is exposed as a named query ``(spark, sf_dir) ->
DataFrame`` with (where ANSI-SQL-expressible) a DuckDB oracle SQL twin that
the correctness harness runs side-by-side at sf0.01. Conventions that make
the value-hash comparison deterministic:

* every computed column is aliased identically in Spark and SQL;
* doubles are rounded (2 dp for money-scale sums, 6 dp for ratios) on BOTH
  sides;
* integer outputs are cast to BIGINT/long on both sides;
* timestamps are formatted to strings, arrays never returned.
"""

from __future__ import annotations

import atexit
import importlib
import shutil
import tempfile
from contextlib import contextmanager
from contextvars import ContextVar
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: Optional[str] = None         # DuckDB oracle (None → rows-only check)
    bench: bool = False               # part of the bench.py headline set


REGISTRY: dict[str, Query] = {}

# A plan that persists an intermediate (minhash signatures, LSH buckets, tf
# counts), stages files (bucketed tables, sink→scan round trips, streaming
# checkpoints) or creates a catalog table beside them cannot free them: they
# back the *returned lazy DataFrame*, which the caller consumes later. So
# the plan hands each to its run, which frees it when the run ends; runs
# sharing a SparkSession (threads, a serving loop, a foreachBatch consumer)
# never free each other's inputs.
class Run(list):
    """What one query run holds: (kind, item) in the order acquired."""

    def staged_dirs(self) -> list[str]:
        return [x for kind, x in self if kind == "dir"]

    def release(self) -> int:
        """Free everything held, newest first; returns the number of
        caches unpersisted."""
        n = 0
        while True:
            try:  # pop, not test-then-pop: threads share the process scope
                kind, x = self.pop()
            except IndexError:
                return n
            try:
                if kind == "dir":
                    shutil.rmtree(x, ignore_errors=True)
                elif kind == "persist":
                    x.unpersist()
                    n += 1
                else:
                    x[0].sql(f"DROP TABLE IF EXISTS `{x[1]}`")
            except Exception:
                pass  # session already stopped: nothing left to free


# Tracking outside any run lands here: `__spark_entry__.py` callers and
# perfbench call the query functions directly and release_caches().
_PROCESS = Run()
_CURRENT: ContextVar[Run] = ContextVar("registry_run", default=_PROCESS)


@contextmanager
def run():
    """Scope one query run (per thread and context; runs nest): what its
    plans track is released when the ``with`` block ends, on success or
    on an exception. Consume the query's result inside the block."""
    scope = Run()
    token = _CURRENT.set(scope)
    try:
        yield scope
    finally:
        _CURRENT.reset(token)
        scope.release()


def track_persist(df: DataFrame) -> DataFrame:
    """persist() a plan intermediate, held until the current run ends."""
    df = df.persist()
    _CURRENT.get().append(("persist", df))
    return df


def track_staging_dir(prefix: str) -> str:
    """A fresh staging dir, removed when the current run ends."""
    path = tempfile.mkdtemp(prefix=prefix)
    _CURRENT.get().append(("dir", path))
    return path


def track_temp_table(spark: SparkSession, name: str) -> str:
    """A catalog table name, dropped when the current run ends."""
    _CURRENT.get().append(("table", (spark, name)))
    return name


def release_caches() -> int:
    """Release the current scope (outside a run: the process scope), only
    AFTER the consuming action of the queries that tracked it."""
    return _CURRENT.get().release()


@atexit.register
def _cleanup_staging_at_exit() -> None:
    # Tables are skipped: the JVM is usually gone by atexit time.
    for path in _PROCESS.staged_dirs():
        shutil.rmtree(path, ignore_errors=True)


def register(sql: str | None = None, bench: bool = False):
    """Register the decorated function as the query named after it; its
    family is its module."""
    def deco(fn):
        if fn.__name__ in REGISTRY:
            raise ValueError(f"query {fn.__name__!r} is already registered")
        REGISTRY[fn.__name__] = Query(fn=fn, sql=sql, bench=bench)
        return fn
    return deco


# Fact/corpus tables get fanned out to the session's parallelism after the
# scan. The testdata ships one single-row-group file per table, so the scan
# is a single input split — without this, every narrow CPU-heavy stage
# (regex cleaning, explode, partial aggregation) runs on ONE core.
# The fan-out is hash-keyed on the table's natural key, so downstream joins,
# aggregations and windows on that key reuse this exchange.
# Dimension tables stay unrepartitioned so they remain broadcast candidates.
#
# Natural fan-out keys: high-cardinality (well above 32 partitions at every
# SF), uniform in the fixtures, and chosen to match the dominant downstream
# clustering (l_orderkey joins, per-user windows, per-doc / per-vector aggs).
# bench.replicate re-keys the same columns when it grows the facts ×K.
FACT_KEYS = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "events": "user_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    from pyspark.sql import functions as F

    from spark_sentiment_spark.sources.io import (events_ts_utc,
                                                  load_parquet_utc)

    df = load_parquet_utc(spark, f"{sf_dir}/{table}.parquet")
    if table == "events":
        df = events_ts_utc(df)
    if table in FACT_KEYS and _fanout_needed(spark):
        df = df.repartition(spark.sparkContext.defaultParallelism,
                            F.col(FACT_KEYS[table]))
    return df


def _fanout_needed(spark: SparkSession) -> bool:
    """Whether load() should fan the fact scan out to defaultParallelism.

    The repartition exists to width-normalize the SINGLE-split local
    testdata files; on a real multi-file 100 TB table the scan already
    yields thousands of splits and a repartition there would shuffle the
    whole table for nothing. So fan out only under a local[*] master."""
    return spark.sparkContext.master.startswith("local")


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The catalog by name, in the module order below and registration
    order within a module, whichever catalog module was imported first.
    Importing a module registers its queries."""
    order = [f"spark_sentiment_spark.plans.{m}" for m in (
        "dedup_queries", "similarity_queries", "events_queries",
        "text_queries", "multimodal_queries", "streaming_queries",
        "relational", "tpch_shapes", "pipeline_queries", "corpus_queries",
        "ml_queries", "sketch_queries")]
    for module in order:
        importlib.import_module(module)
    return {name: REGISTRY[name].fn for name in sorted(
        REGISTRY, key=lambda n: order.index(REGISTRY[n].fn.__module__))}


def all_oracles() -> dict[str, str]:
    return {name: REGISTRY[name].sql for name in all_queries()
            if REGISTRY[name].sql is not None}


def bench_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Name-sorted: position in the session is worth ~1.4x on sub-2s
    # queries (early runs still pay JVM/JIT warm-up), so a fixed order
    # keeps per-query medians comparable when modules gain or move queries.
    all_queries()
    return {name: REGISTRY[name].fn
            for name in sorted(REGISTRY) if REGISTRY[name].bench}
