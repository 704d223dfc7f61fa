"""Tests of the benchmark itself: span arithmetic, metric parsing, input
generation, failure counting, the no-engine exit, and one smoke run per
workload.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import csv
import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


def _span(i, start, end, parent=None):
    return tracing.Span(i, f"s{i}", start, end, parent, 0)


def test_self_time_subtracts_the_union_of_overlapping_children():
    spans = [_span(0, 0.0, 10.0),
             _span(1, 1.0, 4.0, 0), _span(2, 3.0, 5.0, 0),   # overlap: 1..5
             _span(3, 7.0, 8.0, 0),
             _span(4, 1.5, 2.0, 1)]
    self_s = tracing.self_times(spans)
    assert self_s[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert self_s[1] == pytest.approx(3.0 - 0.5)
    assert self_s[4] == pytest.approx(0.5)


def test_outermost_total_counts_nested_calls_of_a_layer_once():
    spans = [_span(0, 0.0, 4.0), _span(1, 1.0, 3.0, 0), _span(2, 5.0, 6.0)]
    for s in spans:
        s.name = "layer"
    assert tracing.outermost_total(spans, lambda s: s.name == "layer") == \
        pytest.approx(5.0)


@pytest.mark.parametrize("text,value", [
    ("100,000", 100000.0),
    ("1.5 KiB", 1536.0),
    ("total (min, med, max (stageId: taskId))\n2.0 MiB (1.0 MiB, ...)",
     2.0 * 1024 ** 2),
    ("total (min, med, max (stageId: taskId))\n250 ms (10 ms, ...)", 0.25),
    ("6.1 s", 6.1),
    (None, 0.0),
])
def test_parse_metric_reads_spark_renderings(text, value):
    assert tracing.parse_metric(text) == pytest.approx(value)


def test_catalog_tables_are_a_function_of_the_seed(tmp_path):
    a = gen.catalog_tables(str(tmp_path / "a"), 0.001, 7)
    b = gen.catalog_tables(str(tmp_path / "b"), 0.001, 7)
    c = gen.catalog_tables(str(tmp_path / "c"), 0.001, 8)
    assert a == b and sorted(a) == sorted(gen.CATALOG_TABLES)
    for t in gen.CATALOG_TABLES:
        with open(tmp_path / "a" / f"{t}.parquet", "rb") as f, \
                open(tmp_path / "b" / f"{t}.parquet", "rb") as g:
            assert f.read() == g.read(), t
    assert a["lineitem"]["rows"] == 6000 and a["documents"]["rows"] == 500
    with open(tmp_path / "a" / "lineitem.parquet", "rb") as f, \
            open(tmp_path / "c" / "lineitem.parquet", "rb") as g:
        assert f.read() != g.read()


def test_catalog_tables_at_seed_42_are_the_catalog_test_data(tmp_path):
    """The digest of the sf0.001 catalog test data's values, table by table
    and column by column."""
    gen.catalog_tables(str(tmp_path), 0.001, 42)
    import pyarrow.parquet as pq

    h = hashlib.sha256()
    for t in gen.CATALOG_TABLES:
        table = pq.read_table(tmp_path / f"{t}.parquet")
        for c in table.column_names:
            h.update(str(table.column(c).to_pylist()).encode())
    assert h.hexdigest() == (
        "8eb0e2503e3d7bafd5238225b9afec4c8652f790672d5c793e62840abcdbb4a8")


def test_failures_count_per_attempt():
    class AlwaysFails:
        def ops(self, tracer):
            def boom(spark, collect):
                raise RuntimeError("boom")
            return [("boom", boom), ("fine", lambda spark, collect: 1)]

    r = run.Run(AlwaysFails(), tracing.Tracer(enabled=False))
    for _ in range(3):
        r.run_pass(None)
    r.fail("fine", "wrong output")  # the check judges the last pass
    assert r.attempted == 6
    assert len(r.failed_attempts) == 4
    assert sorted(r.failed_ops) == ["boom", "fine"]


def test_tweets_fire_the_cleaning_rules_and_keep_the_sniffed_lines_plain(
        tmp_path):
    path = str(tmp_path / "t.csv")
    assert gen.tweets_csv(path, 400, 3)["rows"] == 400
    with open(path, encoding="utf-8", newline="") as f:
        rows = list(csv.reader(f))
    texts = [r[3] for r in rows]
    assert {r[0] for r in rows} == {"0", "1"}
    assert "," not in texts[0] and "," not in texts[1]
    for marker in ("RT @", "@friend", "#tag", "http://", "&amp;", ",", "'"):
        assert any(marker in t for t in texts), marker


def test_without_the_engine_it_fails_and_prints_no_result(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "catalog_sf0.1",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("workload,trace", [("catalog_sf0.1", 1),
                                            ("sentiment_tweets", 0)])
def test_smoke_run_is_correct_and_reports_every_metric(tmp_path, workload,
                                                       trace):
    """Run from a directory other than the checkout, so the workers must get
    the engine's import path from the benchmark itself."""
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         workload, "--seed", "5", "--seconds", "1", "--trace", str(trace),
         "--smoke"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] and result["failed"] == 0, p.stderr[-3000:]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    specs = bench["per_layer" if trace else "end_to_end"]
    assert sorted(result["metrics"]) == sorted(s["name"] for s in specs)
    if trace:
        m = {k: v["value"] for k, v in result["metrics"].items()}
        assert m["plans.load_calls"] > 0 and m["spark.jobs"] > 0
        assert 0.9 < m["trace.layer_coverage"] <= 1.0
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())
