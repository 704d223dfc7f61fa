"""The training-data pipeline: curation passes, priority sampling,
sequence packing and the composed training-set build
(plans/pipeline_queries.py).

Each query has an exact DuckDB oracle (tests/test_oracle.py); these
tests pin what the fixture's oracle rows can't see: composed curation
passes on corpora where every stage fires (the synthetic fixture is
rejected wholesale by the published quality thresholds, so its dedup and
decontamination stages are dead there), the rank-window restructure of
the curation verdicts, the priority sampler's bit-exact hashlib replay,
and the composed build's agreement with each stage query."""

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from tests.oracle_utils import assert_oracle_match, staged_documents


GOOD = ("the quick brown fox and that dog have fun with it " * 6).strip()

# Benchmark docs (source "bench") every curation corpus below starts with.
BENCH_ROWS = [
    (0, "alpha beta gamma delta epsilon zeta", "en", "bench", 35),
    (1, "bench one marker", "en", "bench", 16),
    (2, "bench two marker", "en", "bench", 16),
    (3, "bench three marker", "en", "bench", 18),
    (4, "bench four marker", "en", "bench", 17),
]


def test_curate_gopher_all_stages_fire_with_oracle(query):
    """Every stage of the composed Gopher curation pass produces a
    verdict on this corpus — benchmark, kept, duplicate (same 4-token
    prefix, keep-best by length), contaminated (shares a benchmark
    3-gram), and two distinct Gopher sub-reasons — and the Spark plan
    matches the composed DuckDB oracle cross-engine."""
    rows = BENCH_ROWS + [
        # kept: passes Gopher, unique prefix cluster winner (longest)
        (5, "prefix one two three " + GOOD + " plus extra tail words",
         "en", "web", 10),
        # duplicate: same first-4-token prefix as doc 5, shorter
        (6, "prefix one two three " + GOOD, "en", "web", 10),
        # contaminated: passes Gopher, contains benchmark 3-gram
        (7, "now alpha beta gamma appears inside " + GOOD, "en", "web", 10),
        # Gopher sub-reasons surface as first-failing verdicts
        (8, "the of and", "en", "web", 10),                 # too_few_words
        (9, ("#### " * 60).strip() + " the of and have with",
         "en", "web", 10),                                  # symbol_ratio
    ]
    with staged_documents(rows, SF_DIR) as tmp:
        out = {r["doc_id"]: r["reason"]
               for r in query("curate_corpus_gopher", tmp).collect()}
        assert out == {0: "benchmark", 1: "benchmark", 2: "benchmark",
                       3: "benchmark", 4: "benchmark", 5: "kept",
                       6: "duplicate", 7: "contaminated",
                       8: "too_few_words", 9: "symbol_ratio"}, out
        assert_oracle_match(query("curate_corpus_gopher", tmp),
                            "curate_corpus_gopher", tmp)


def test_curate_c4_all_stages_fire_with_oracle(query):
    """Every stage of the composed C4 curation pass produces a verdict
    on this corpus — benchmark, kept, duplicate (same 4-token prefix,
    keep-best by length), contaminated (shares a benchmark 3-gram), and
    two distinct C4 sub-reasons — and the Spark plan matches the
    composed DuckDB oracle cross-engine."""
    sent = "The quick brown fox jumps over that lazy sleeping dog."
    goodc4 = "\n".join([sent] * 4)
    rows = BENCH_ROWS + [
        # kept: passes C4, unique prefix cluster winner (longest)
        (5, "Prefix one two three starts this paragraph nicely today.\n"
            + goodc4 + "\nAnd an extra closing line rounds it out well.",
         "en", "web", 10),
        # duplicate: same first-4-token prefix as doc 5, shorter
        (6, "Prefix one two three follows the same path again now.\n"
            + goodc4, "en", "web", 10),
        # contaminated: passes C4, contains benchmark 3-gram
        (7, "Now alpha beta gamma appears in this line today.\n" + goodc4,
         "en", "web", 10),
        # C4 sub-reasons surface as first-failing verdicts
        (8, "no terminal punctuation at all here", "en", "web", 10),
        (9, goodc4 + "\nvar x = {a: 1}", "en", "web", 10),  # curly_brace
    ]
    with staged_documents(rows, SF_DIR) as tmp:
        out = {r["doc_id"]: r["reason"]
               for r in query("curate_corpus_c4", tmp).collect()}
        assert out == {0: "benchmark", 1: "benchmark", 2: "benchmark",
                       3: "benchmark", 4: "benchmark", 5: "kept",
                       6: "duplicate", 7: "contaminated",
                       8: "too_few_sentences", 9: "curly_brace"}, out
        assert_oracle_match(query("curate_corpus_c4", tmp),
                            "curate_corpus_c4", tmp)


def test_curation_inline_rank_matches_join_path(spark):
    """The (prefix_hash, qualifies)-partitioned window must reproduce the
    explicit _dedup_ranked + join-back verdicts row for row — on a
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


def test_sample_weighted_matches_hashlib_reference(query):
    """Bit-exact replay of the whole priority-sampling path in pure
    Python: md5-derived dyadic uniforms, p = w / u with the identical
    two IEEE operations, top-100 by (p desc, doc_id), τ = the 101st
    priority, estimator = max(w, τ). Exact float equality is intentional
    — the query's engine-independence claim is that BOTH engines (and
    this reference) produce bit-identical doubles."""
    import hashlib

    import pyarrow.parquet as pq
    from spark_sentiment_spark.plans.pipeline_queries import SAMPLE_W_K

    t = pq.read_table(SF_DIR + "/documents.parquet",
                      columns=["doc_id", "n_chars"]).to_pandas()
    rows = []
    for doc_id, n_chars in zip(t.doc_id, t.n_chars):
        w = max(int(n_chars) if n_chars == n_chars else 1, 1)
        u = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:12], 16) + 1
        rows.append((float(w) / (u / 2 ** 48), int(doc_id), w))
    rows.sort(key=lambda r: (-r[0], r[1]))
    tau = rows[SAMPLE_W_K][0] if len(rows) > SAMPLE_W_K else 0.0
    want = {d: (w, p, max(float(w), tau))
            for p, d, w in rows[:SAMPLE_W_K]}
    got = {r["doc_id"]: (r["weight"], r["priority"], r["est_weight"])
           for r in query("sample_weighted").collect()}
    assert got == want
    # single-draw sanity envelope for the subset-sum estimator (k = 100
    # over ~500 near-uniform weights: measured rel err 0.25; this is a
    # determinism pin with headroom, not an accuracy claim — the
    # estimator's unbiasedness is over the uniform draw, which is fixed
    # here by content addressing)
    total = sum(r[2] for r in rows)
    est = sum(v[2] for v in want.values())
    assert abs(est / total - 1) < 0.4, (est, total)


def test_prepare_training_set_stage_consistency(query):
    """The composed training-set build must agree with each standalone
    stage query where their semantics overlap: every selected doc
    survived curation; shard assignment is content-addressed so it must
    EQUAL shuffle_shards' for the same doc_id; and within a source the
    md5 pick order must be a subsequence of mixture_apply's order (the
    universe differs — kept-only vs all docs — but md5 rank is a stable
    total order). The fixture's quota is fully consumable, so the
    budget must be exactly consumed."""
    from spark_sentiment_spark.plans.pipeline_queries import PREP_BUDGET

    prep = query("prepare_training_set").collect()
    manifest = {r.doc_id: r.keep
                for r in query("curate_corpus").collect()}
    shards = {r.doc_id: r.shard
              for r in query("shuffle_shards").collect()}
    mix_rank = {(r.source, r.doc_id): r.pick
                for r in query("mixture_apply").collect()}

    assert len(prep) == PREP_BUDGET
    assert all(manifest[r.doc_id] for r in prep), "picked a dropped doc"
    assert all(shards[r.doc_id] == r.shard for r in prep)

    by_source: dict = {}
    for r in prep:
        by_source.setdefault(r.source, []).append(r)
    for source, rows in by_source.items():
        rows.sort(key=lambda r: r.pick)
        # the composed pick order restricted to docs mixture_apply also
        # selected must preserve mixture_apply's order
        both = [r.doc_id for r in rows if (source, r.doc_id) in mix_rank]
        assert both == sorted(both,
                              key=lambda d: mix_rank[(source, d)]), source


def test_pack_spans_tile_windows_exactly(query):
    """Wall-to-wall packing invariants the oracle's hash can't state as
    theorems: per-document segment lengths sum to n_tokens (no token
    lost or duplicated at a boundary), every non-final window per
    source is EXACTLY full (segments tile it gaplessly), and each
    document's first segment lands in the window `pack_sequences`
    assigns it (the span table refines, never contradicts, the parent
    query)."""
    from collections import defaultdict

    from spark_sentiment_spark.plans.pipeline_queries import PACK_BUDGET

    rows = query("pack_sequences_spans").collect()
    parent = {r.doc_id: r.window_id
              for r in query("pack_sequences").collect()}
    assert rows

    per_doc = defaultdict(int)
    per_win = defaultdict(int)
    first_w: dict = {}
    n_tok: dict = {}
    positions = defaultdict(list)
    for r in rows:
        per_doc[r.doc_id] += r.seg_len
        per_win[(r.source, r.window_id)] += r.seg_len
        first_w[r.doc_id] = min(first_w.get(r.doc_id, r.window_id),
                                r.window_id)
        n_tok[r.doc_id] = r.n_tokens
        positions[(r.source, r.window_id)].append(
            (r.pos_in_window, r.seg_len))
    assert all(per_doc[d] == n_tok[d] for d in per_doc)
    last_w = defaultdict(lambda: -1)
    for (s, w) in per_win:
        last_w[s] = max(last_w[s], w)
    assert all(v == PACK_BUDGET
               for (s, w), v in per_win.items() if w < last_w[s])
    assert all(first_w[d] == parent[d] for d in first_w)
    # segments within a window tile gaplessly from offset 0
    for key, segs in positions.items():
        segs.sort()
        off = 0
        for pos, ln in segs:
            assert pos == off, key
            off += ln
