"""PII redaction: placeholder tags, category counts, and pass-through of
clean text. Fixture-driven because the synthetic documents corpus contains
no PII-like spans (no digits/@/http at any SF)."""

from pyspark.sql import functions as F

from spark_sentiment_spark.functions.redact import pii_counts, redact_pii
from tests.plan_walk import nodes, python_nodes

ROWS = [
    ("contact bob.smith+spam@example.co.uk for details", "<EMAIL>"),
    ("see https://example.com/a?b=1#frag now", "<URL>"),
    ("server at 192.168.001.1 rebooted", "<IP>"),
    ("call +1 (555) 123-4567 today", "<PHONE>"),
    ("digits 12 34 stay when short", None),
    ("plain text with no pii at all", None),
    ("range 2020 - 2021 is not a phone", None),
]


def _redacted(spark):
    df = spark.createDataFrame([(i, t) for i, (t, _) in enumerate(ROWS)],
                               "id long, text string")
    return {r["id"]: r for r in df.select(
        "id",
        redact_pii("text").alias("scrubbed"),
        pii_counts("text").alias("counts")).collect()}


def test_each_category_tagged(spark):
    out = _redacted(spark)
    for i, (_, tag) in enumerate(ROWS):
        if tag is not None:
            assert tag in out[i]["scrubbed"], (i, out[i]["scrubbed"])


def test_clean_text_unchanged(spark):
    out = _redacted(spark)
    for i, (text, tag) in enumerate(ROWS):
        if tag is None:
            assert out[i]["scrubbed"] == text


def test_counts_match_tags(spark):
    out = _redacted(spark)
    totals = {"email": 0, "url": 0, "ip": 0, "phone": 0}
    for r in out.values():
        for k in totals:
            totals[k] += r["counts"][k]
    assert totals == {"email": 1, "url": 1, "ip": 1, "phone": 1}


def test_no_python_nodes(spark):
    df = spark.createDataFrame([(1, "a@b.co x")], "id long, text string")
    assert not python_nodes(nodes(df.select(redact_pii("text").alias("s"))))


def test_mixed_document_all_categories(spark):
    text = ("mail a@b.io or b@c.org, fetch http://x.y/z from 10.0.0.1 "
            "or ring 555-123-9876")
    df = spark.createDataFrame([(1, text)], "id long, text string")
    row = df.select(redact_pii("text").alias("s"),
                    pii_counts("text").alias("c")).collect()[0]
    assert row["s"].count("<EMAIL>") == 2
    assert "<URL>" in row["s"] and "<IP>" in row["s"] and "<PHONE>" in row["s"]
    assert (row["c"]["email"], row["c"]["url"], row["c"]["ip"],
            row["c"]["phone"]) == (2, 1, 1, 1)
