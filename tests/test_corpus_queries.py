"""Property tests for the corpus-stats / pair-sampling queries
(plans/corpus_queries.py, plans/events_queries.py session sequences) —
invariants beyond the DuckDB hash match in test_oracle.py."""

import math

from pyspark.sql import functions as F

from spark_sentiment_spark.plans.registry import REGISTRY, all_queries
from tests.conftest import SF_DIR, load

all_queries()


def test_mixture_temperature_weights_sum_to_one(spark):
    rows = REGISTRY["mixture_temperature"].fn(spark, SF_DIR).collect()
    assert rows, "no sources"
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert r.weight > 0 and r.epochs > 0
        # epochs = weight * total_tokens / n_tokens (identity check)
        total = sum(x.n_tokens for x in rows)
        assert abs(r.epochs - r.weight * total / r.n_tokens) < 1e-4


def test_corpus_token_entropy_bounds(spark):
    rows = REGISTRY["corpus_token_entropy"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.entropy_bits <= math.log2(r.vocab) + 1e-9


def test_token_pmi_bigrams_threshold_and_uniqueness(spark):
    df = REGISTRY["token_pmi_bigrams"].fn(spark, SF_DIR)
    rows = df.collect()
    assert rows, "PMI_MIN_COUNT filtered everything at test SF"
    assert all(r.c12 >= 5 for r in rows)
    assert len({(r.w1, r.w2) for r in rows}) == len(rows)


def test_embedding_norm_stats_partition_of_table(spark):
    rows = REGISTRY["embedding_norm_stats"].fn(spark, SF_DIR).collect()
    total = load(spark, "embeddings").count()
    assert sum(r.n for r in rows) == total
    for r in rows:
        assert r.dim == 64 and r.n_zero == 0 and r.n_invalid == 0
        assert abs(r.avg_norm - 1.0) < 1e-3  # testdata is unit-normalized


def test_contrastive_pairs_labels_and_determinism(spark):
    fn = REGISTRY["contrastive_pairs"].fn
    df = fn(spark, SF_DIR)
    emb = load(spark, "embeddings").select("vec_id", "label")
    lab = {r.vec_id: r.label for r in emb.collect()}
    rows = df.collect()
    assert rows
    n_labels = len(set(lab.values()))
    for r in rows:
        assert r.pos_id != r.vec_id
        assert lab[r.pos_id] == r.label, "positive must share the label"
        if n_labels > 1:
            assert lab[r.neg_id] != r.label, "negative must differ"
    # anchors are unique and the sampling is deterministic
    assert len({r.vec_id for r in rows}) == len(rows)
    again = fn(spark, SF_DIR).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_session_sequences_partition_events(spark):
    rows = REGISTRY["events_session_sequences"].fn(spark, SF_DIR).collect()
    total = load(spark, "events").count()
    assert sum(r.n_events for r in rows) == total
    for r in rows:
        assert r.n_events == len(r.seq.split(">"))


def test_preference_pairs_margin_and_disjoint_sides(spark):
    rows = REGISTRY["preference_pairs"].fn(spark, SF_DIR).collect()
    assert rows, "margin floor filtered everything at test SF"
    chosen = {(r.source, r.chosen_id) for r in rows}
    rejected = {(r.source, r.rejected_id) for r in rows}
    assert not chosen & rejected, "a doc appears on both sides"
    for r in rows:
        assert r.chosen_score - r.rejected_score >= 0.05 - 1e-9
        assert r.chosen_id != r.rejected_id


def test_drift_psi_properties(spark):
    rows = REGISTRY["drift_psi"].fn(spark, SF_DIR).collect()
    assert rows
    totals = {r.psi_total for r in rows}
    assert len(totals) == 1, "psi_total must be constant across bins"
    assert totals.pop() >= 0.0  # PSI is non-negative by construction
    # smoothed probabilities sum to ~1 per cohort
    assert abs(sum(r.p_a for r in rows) - 1.0) < 1e-3
    assert abs(sum(r.p_b for r in rows) - 1.0) < 1e-3


def test_mixture_apply_quota_and_determinism(spark):
    rows = REGISTRY["mixture_apply"].fn(spark, SF_DIR).collect()
    assert rows
    # budget approximately filled (rounding slack: ±1 per source)
    from spark_sentiment_spark.plans.corpus_queries import MIXTURE_BUDGET
    n_sources = len({r.source for r in rows})
    assert abs(len(rows) - MIXTURE_BUDGET) <= n_sources
    # picks are 1..quota per source with no gaps
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r.pick)
    for src, picks in by_src.items():
        assert sorted(picks) == list(range(1, len(picks) + 1)), src
    again = REGISTRY["mixture_apply"].fn(spark, SF_DIR).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_vocab_growth_curve_invariants(spark):
    """Structural truths of the Heaps curve: cum_types is nondecreasing,
    final cum_types equals the corpus's distinct token count, final
    cum_tokens equals the total token count, and n_new sums to the
    vocabulary (every type is first-seen exactly once)."""
    from pyspark.sql import functions as F

    from spark_sentiment_spark.functions.text import ws_tokens
    from spark_sentiment_spark.plans.corpus_queries import vocab_growth_curve
    from spark_sentiment_spark.plans.registry import load, release_caches
    from tests.conftest import SF_DIR

    rows = vocab_growth_curve(spark, SF_DIR).collect()
    release_caches()
    assert [r["shard"] for r in rows] == list(range(16))
    cts = [r["cum_types"] for r in rows]
    assert cts == sorted(cts)

    docs = (load(spark, SF_DIR, "documents")
            .where("text IS NOT NULL AND trim(text) <> ''"))
    tok = docs.select(F.explode(ws_tokens()).alias("w"))
    n_tokens = tok.count()
    n_types = tok.distinct().count()
    assert rows[-1]["cum_tokens"] == n_tokens
    assert rows[-1]["cum_types"] == n_types
    assert sum(r["n_new"] for r in rows) == n_types
