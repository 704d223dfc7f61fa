"""Focused pins for plan restructures — each test locks the EQUIVALENCE
the restructure relies on, so a future edit that breaks the restructured
plan's semantics fails here, not at the oracle.

Covered (ENGINE_NOTES.md has the load fan-out measurement):
  * load(): fact scans fan out via a HASH repartition on the natural key
    (no round-robin determinism pre-sort; partitioning reusable
    downstream), skipped off-local (``registry._fanout_needed``);
  * _curation_verdicts: the inline dedup rank became one window over the
    gate frame partitioned by (prefix_hash, qualifies) — must equal the
    old filter-then-rank-then-join-back shape exactly;
  * _stickiness_hll_core: exact DAU now derives from the persisted
    (d, bucket) partials' nb counts instead of a second fact pass;
  * events_sliding_users_hll: the exact side moved from ts-windowing of
    raw events to minute-windowing of distinct (minute, user) pairs.
"""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_load_fanout_is_hash_keyed(spark):
    from spark_sentiment_spark.plans.registry import (
        FACT_KEYS as _FACT_KEYS, FACT_KEYS as _FACT_TABLES, load)

    for table in sorted(_FACT_TABLES):
        df = load(spark, SF_DIR, table)
        plan = df._jdf.queryExecution().toString()
        key = _FACT_KEYS[table]
        assert f"hashpartitioning({key}" in plan, (
            f"{table}: expected hash fan-out on {key}; plan:\n{plan[-500:]}")
        assert "RoundRobinPartitioning" not in plan, table


def test_load_fanout_conf_override(spark, monkeypatch):
    from spark_sentiment_spark.plans import registry

    monkeypatch.setattr(registry, "_fanout_needed", lambda spark: False)
    df = registry.load(spark, SF_DIR, "lineitem")
    plan = df._jdf.queryExecution().toString()
    assert "hashpartitioning(l_orderkey" not in plan
    assert "RoundRobinPartitioning" not in plan


def test_curation_inline_rank_matches_join_path(spark):
    """The (prefix_hash, qualifies)-partitioned window must reproduce the
    old explicit _dedup_ranked + join-back verdicts row for row — on a
    corpus with prefix groups that mix gate-passing and gate-failing
    docs, benchmark docs, and contaminated docs, so every CASE branch
    and the rank-among-survivors-only property are exercised."""
    from spark_sentiment_spark.plans.pipeline_queries import (
        _curation_verdicts, _dedup_ranked)

    rows = []
    # benchmark doc (id < 5) sharing a prefix with survivors
    rows.append((1, "alpha beta gamma delta one two three four five six"))
    # prefix group A: two survivors (different lengths) + one gate-failing
    rows.append((10, "alpha beta gamma delta one two three four five six "
                     "seven eight nine ten eleven twelve"))
    rows.append((11, "alpha beta gamma delta one two three four five six"))
    rows.append((12, "alpha beta gamma delta x"))          # too short
    # prefix group B: single survivor
    rows.append((20, "lorem ipsum dolor sit amet consectetur adipiscing "
                     "elit sed do eiusmod tempor"))
    # contaminated: shares a 3-gram with the benchmark doc
    rows.append((30, "unrelated words here alpha beta gamma padding pad "
                     "pad2 pad3 pad4 pad5"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    toks = F.split(F.col("text"), " ", -1)
    q_keep = F.size(toks) >= 8
    q_reason = (F.when(F.size(toks) < 8, "too_short").otherwise("ok"))
    gate = docs.select("doc_id", "text", q_keep.alias("q_keep"),
                       q_reason.alias("q_reason"))

    new = _curation_verdicts(docs, gate).collect()
    old = _curation_verdicts(docs, gate,
                             ranked=_dedup_ranked(gate)).collect()
    assert new == old
    reasons = {r["doc_id"]: r["reason"] for r in new}
    assert reasons[1] == "benchmark"
    assert reasons[12] == "too_short"
    assert reasons[11] == "duplicate"      # shorter survivor of group A
    # doc 10 wins its prefix group but shares the benchmark 3-gram
    assert reasons[10] == "contaminated"
    assert reasons[30] == "contaminated"
    assert reasons[20] == "kept"


def test_stickiness_dau_from_partials_is_exact(spark):
    """sum(nb) over the (d, bucket) partials must equal the per-day
    distinct-user count the old second fact pass computed."""
    from spark_sentiment_spark.plans.sketch_queries import \
        _stickiness_hll_core

    ud = spark.createDataFrame(
        [(d, u) for d in range(3) for u in range(50 + 10 * d)],
        "di int, user_id int").select(
        F.expr("timestamp_seconds(86400 * di)").alias("d"), "user_id")
    out = {r["day"]: r["dau"] for r in _stickiness_hll_core(ud).collect()}
    expect = {r["day"]: r["n"] for r in ud.groupBy(
        F.date_format("d", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert out == expect


def test_sliding_users_minute_windowing_matches_ts(spark, sf_dir):
    """The exact side's minute-windowed distinct must equal the direct
    ts-windowed distinct it replaced (windows are 30-min aligned, so
    floor-to-minute cannot move an event across a window edge)."""
    from spark_sentiment_spark.plans.registry import load, release_caches
    from spark_sentiment_spark.plans.sketch_queries import (
        _SLIDE_STEP, events_sliding_users_hll)

    out = {r["window_start"]: r["n_exact"]
           for r in events_sliding_users_hll(spark, sf_dir).collect()}
    release_caches()

    ev = load(spark, sf_dir, "events")
    base = (f"timestamp_seconds((unix_seconds(ts) div {_SLIDE_STEP})"
            f" * {_SLIDE_STEP})")
    prev = (f"timestamp_seconds((unix_seconds(ts) div {_SLIDE_STEP})"
            f" * {_SLIDE_STEP} - {_SLIDE_STEP})")
    ew = (ev.select(F.explode(F.array(F.expr(base), F.expr(prev)))
                    .alias("w"), "ts", "user_id")
          .where((F.col("ts") >= F.col("w"))
                 & (F.col("ts") < F.col("w") + F.expr("INTERVAL 1 HOUR"))))
    expect = {r["w"]: r["n"] for r in ew.groupBy(
        F.date_format("w", "yyyy-MM-dd HH:mm:ss").alias("w"))
        .agg(F.countDistinct("user_id").alias("n")).collect()}
    assert out == expect


def test_no_duplicate_table_loads_in_any_query():
    """Round-18 invariant (the Change-6 AST audit, frozen as a pin): no
    query function calls load() twice for the same table — every
    multi-branch consumer either persists the shared frame or derives
    both branches from one load. A duplicate load re-scans the fact
    table once per plan branch at 100 TB; new queries must share the
    scan. Pure-AST check, no Spark session needed."""
    import ast
    import collections
    import os

    root = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "spark_sentiment_spark", "plans")
    offenders = []
    for fn in sorted(os.listdir(root)):
        if not fn.endswith("_queries.py"):
            continue
        tree = ast.parse(open(os.path.join(root, fn)).read())
        for node in ast.walk(tree):
            if not isinstance(node, ast.FunctionDef):
                continue
            loads = collections.Counter()
            for sub in ast.walk(node):
                if isinstance(sub, ast.Call):
                    name = getattr(sub.func, "id",
                                   getattr(sub.func, "attr", ""))
                    if name == "load" and len(sub.args) >= 3:
                        tbl = getattr(sub.args[2], "value", None)
                        if isinstance(tbl, str):
                            loads[tbl] += 1
            dups = {t: c for t, c in loads.items() if c > 1}
            if dups:
                offenders.append(f"{fn}:{node.name}: {dups}")
    assert not offenders, offenders
