"""Stratified sampling: seeded determinism + per-stratum rate tolerance."""

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_stratified_sample_deterministic(query):
    a = query("sample_stratified").collect()
    b = query("sample_stratified").collect()
    assert sorted(r.doc_id for r in a) == sorted(r.doc_id for r in b)
    assert len(a) > 0


def test_stratified_sample_rates(spark, query):
    from spark_sentiment_spark.plans.registry import load

    got = query("sample_stratified")
    docs = load(spark, SF_DIR, "documents")
    totals = {r["lang"]: r["n"] for r in
              docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    sampled = {r["lang"]: r["n"] for r in
               got.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    want = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.25, "zh": 0.25}
    for lang, frac in want.items():
        rate = sampled.get(lang, 0) / totals[lang]
        # Bernoulli at n>=70 per stratum: allow a generous band
        assert abs(rate - frac) < 0.2, (lang, rate, frac)
