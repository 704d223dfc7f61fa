"""Corpus statistics, sampling, winnowing, DSIR weights and token graphs
(plans/corpus_queries.py, plus plans/events_queries.py session
sequences): invariants beyond the DuckDB hash match in test_oracle.py —
brute-force and hashlib replays, coverage guarantees, incremental
equivalence, and oracle parity on corpora the fixture cannot exercise."""

import math

from pyspark.sql import functions as F

from tests.conftest import SF_DIR, load
from tests.oracle_utils import assert_oracle_match, staged_documents


def test_mixture_temperature_weights_sum_to_one(query):
    rows = query("mixture_temperature").collect()
    assert rows, "no sources"
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert r.weight > 0 and r.epochs > 0
        # epochs = weight * total_tokens / n_tokens (identity check)
        total = sum(x.n_tokens for x in rows)
        assert abs(r.epochs - r.weight * total / r.n_tokens) < 1e-4


def test_corpus_token_entropy_bounds(query):
    rows = query("corpus_token_entropy").collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.entropy_bits <= math.log2(r.vocab) + 1e-9


def test_token_pmi_bigrams_threshold_and_uniqueness(query):
    df = query("token_pmi_bigrams")
    rows = df.collect()
    assert rows, "PMI_MIN_COUNT filtered everything at test SF"
    assert all(r.c12 >= 5 for r in rows)
    assert len({(r.w1, r.w2) for r in rows}) == len(rows)


def test_embedding_norm_stats_partition_of_table(spark, query):
    rows = query("embedding_norm_stats").collect()
    total = load(spark, "embeddings").count()
    assert sum(r.n for r in rows) == total
    for r in rows:
        assert r.dim == 64 and r.n_zero == 0 and r.n_invalid == 0
        assert abs(r.avg_norm - 1.0) < 1e-3  # testdata is unit-normalized


def test_contrastive_pairs_labels_and_determinism(spark, query):
    df = query("contrastive_pairs")
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
    again = query("contrastive_pairs").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_session_sequences_partition_events(spark, query):
    rows = query("events_session_sequences").collect()
    total = load(spark, "events").count()
    assert sum(r.n_events for r in rows) == total
    for r in rows:
        assert r.n_events == len(r.seq.split(">"))


def test_preference_pairs_margin_and_disjoint_sides(query):
    rows = query("preference_pairs").collect()
    assert rows, "margin floor filtered everything at test SF"
    chosen = {(r.source, r.chosen_id) for r in rows}
    rejected = {(r.source, r.rejected_id) for r in rows}
    assert not chosen & rejected, "a doc appears on both sides"
    for r in rows:
        assert r.chosen_score - r.rejected_score >= 0.05 - 1e-9
        assert r.chosen_id != r.rejected_id


def test_drift_psi_properties(query):
    rows = query("drift_psi").collect()
    assert rows
    totals = {r.psi_total for r in rows}
    assert len(totals) == 1, "psi_total must be constant across bins"
    assert totals.pop() >= 0.0  # PSI is non-negative by construction
    # smoothed probabilities sum to ~1 per cohort
    assert abs(sum(r.p_a for r in rows) - 1.0) < 1e-3
    assert abs(sum(r.p_b for r in rows) - 1.0) < 1e-3


def test_mixture_apply_quota_and_determinism(query):
    rows = query("mixture_apply").collect()
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
    again = query("mixture_apply").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_vocab_growth_curve_invariants(spark, query):
    """Structural truths of the Heaps curve: cum_types is nondecreasing,
    final cum_types equals the corpus's distinct token count, final
    cum_tokens equals the total token count, and n_new sums to the
    vocabulary (every type is first-seen exactly once)."""
    from spark_sentiment_spark.functions.text import ws_tokens
    from spark_sentiment_spark.plans import registry

    rows = query("vocab_growth_curve").collect()
    assert [r["shard"] for r in rows] == list(range(16))
    cts = [r["cum_types"] for r in rows]
    assert cts == sorted(cts)

    docs = (registry.load(spark, SF_DIR, "documents")
            .where("text IS NOT NULL AND trim(text) <> ''"))
    tok = docs.select(F.explode(ws_tokens()).alias("w"))
    n_tokens = tok.count()
    n_types = tok.distinct().count()
    assert rows[-1]["cum_tokens"] == n_tokens
    assert rows[-1]["cum_types"] == n_types
    assert sum(r["n_new"] for r in rows) == n_types


# --- winnowing ------------------------------------------------------------

def _winnow_reference(tokens, k=3, w=4):
    """Brute-force winnowing per the MOSS paper: hash every k-gram,
    slide windows of w hashes, select each window's min (rightmost on
    ties). Returns (n_kgrams, sorted selected (pos, hash) set)."""
    import hashlib

    if len(tokens) < k:
        return 0, []
    hs = []
    for i in range(len(tokens) - k + 1):
        kgram = " ".join(tokens[i:i + k])
        hx = hashlib.md5(kgram.encode()).hexdigest()[:12]
        hs.append(int(hx, 16))
    sel = set()
    for s in range(len(hs) - w + 1):
        window = hs[s:s + w]
        mn = min(window)
        # rightmost tie
        q = max(j for j in range(s, s + w) if hs[j] == mn)
        sel.add((q + 1, hs[q]))
    return len(hs), sorted(sel)


def test_winnowing_matches_bruteforce(spark, query):
    """The lag/lead reach formulation must equal the window-by-window
    definition — checked doc by doc on the fixture corpus (fp count,
    min, and sum pin the selected SET, not just its size)."""
    docs = {r["doc_id"]: r["text"] for r in
            (spark.read.parquet(f"{SF_DIR}/documents.parquet")
             .where(F.col("text").isNotNull())
             .select("doc_id", "text").collect())}
    got = {r["doc_id"]: r for r in query("doc_winnowing").collect()}
    checked = 0
    for doc_id, text in docs.items():
        tokens = text.strip().split()
        if len(tokens) < 3:
            assert doc_id not in got
            continue
        n_kg, sel = _winnow_reference(tokens)
        r = got[doc_id]
        assert r["n_kgrams"] == n_kg, doc_id
        assert r["n_fp"] == len(sel), doc_id
        if sel:
            hashes = [h for _, h in sel]
            assert r["fp_min"] == min(hashes), doc_id
            assert r["fp_sum"] == sum(hashes), doc_id
        else:
            assert r["fp_min"] is None and r["fp_sum"] is None, doc_id
        checked += 1
    assert checked >= 100  # the fixture corpus genuinely exercises it


def test_winnowing_guarantee_every_window_covered(query):
    """The paper's coverage guarantee: every window of W consecutive
    k-grams contains at least one selected fingerprint (density may be
    low, but no gap of W goes unfingerprinted)."""
    for r in query("doc_winnowing").collect():
        if r["n_kgrams"] >= 4:
            assert r["n_fp"] >= 1
            # max gap bound: n_fp >= ceil(n_windows / w) is implied by
            # per-window coverage; check the weak form cheaply here (the
            # bruteforce test pins exact sets)
            assert r["n_fp"] >= (r["n_kgrams"] - 3 + 3) // 4


def test_winnowing_pairs_invariants(query):
    """Pair-level sanity the oracle's hash can't express as a rule:
    shared fingerprints never exceed either side's fingerprint count,
    overlap_ppm is a valid Jaccard ppm, and every emitted pair really
    shares >= 2 capped fingerprints (threshold respected)."""
    rows = query("dedup_winnowing_pairs").collect()
    assert rows, "fixture corpus should produce candidate pairs"
    for r in rows:
        assert 2 <= r["n_shared"] <= min(r["n_fp_a"], r["n_fp_b"])
        union = r["n_fp_a"] + r["n_fp_b"] - r["n_shared"]
        assert r["overlap_ppm"] == r["n_shared"] * 1_000_000 // union
        assert 0 < r["overlap_ppm"] <= 1_000_000


def test_winnowing_incremental_equals_restricted_batch(query):
    """The incremental contract, the same equivalence the MinHash triad
    pins: because fingerprint selection is doc-local and the df cap is
    computed over index + batch together, the incremental pair set must
    equal the full-corpus `dedup_winnowing_pairs` output restricted to
    pairs touching the batch slice — same pairs, same n_shared."""
    incr = {(r["doc_a"], r["doc_b"]): r["n_shared"]
            for r in query("dedup_winnowing_incremental").collect()}
    batch = {(r["doc_a"], r["doc_b"]): r["n_shared"]
             for r in query("dedup_winnowing_pairs").collect()
             if r["doc_a"] % 5 == 4 or r["doc_b"] % 5 == 4}
    assert incr == batch
    assert incr, "fixture produced no batch-touching pairs"


# --- DSIR importance weights and the resample they drive ------------------

def test_dsir_weights_match_hashlib_reference(query):
    """Full-path replay of the DSIR scoring in pure Python over the
    fixture: same tokenization (single-space split, empties kept), same
    md5 24-bit bucket hash, same Laplace-smoothed log-ratio fold.
    Tolerance 2e-6 (the query rounds at 6 dp; Python's fold order
    differs, so bit-exactness is not the claim here — cross-engine
    bit-exactness is the DuckDB oracle's job)."""
    import hashlib

    import pyarrow.parquet as pq
    from spark_sentiment_spark.plans.corpus_queries import DSIR_BUCKETS

    t = pq.read_table(SF_DIR + "/documents.parquet",
                      columns=["doc_id", "lang", "text"]).to_pandas()
    dbc = {}       # (doc_id, bucket) -> count
    target = {}    # doc_id -> is_en
    for doc_id, lang, text in zip(t.doc_id, t.lang, t.text):
        if text is None:
            continue
        w = text.lower().split(" ")
        if len(w) < 2:
            continue
        target[int(doc_id)] = lang == "en"
        for i in range(len(w) - 1):
            g = w[i] + " " + w[i + 1]
            b = int(hashlib.md5(g.encode()).hexdigest()[:6], 16) \
                % DSIR_BUCKETS
            dbc[(int(doc_id), b)] = dbc.get((int(doc_id), b), 0) + 1
    ct, cr = {}, {}
    for (d, b), g in dbc.items():
        cr[b] = cr.get(b, 0) + g
        if target[d]:
            ct[b] = ct.get(b, 0) + g
    nt, nr = sum(ct.values()), sum(cr.values())
    hz = math.log(nt + DSIR_BUCKETS) - math.log(nr + DSIR_BUCKETS)
    want = {}
    for (d, b), g in dbc.items():
        s, n = want.get(d, (0.0, 0))
        want[d] = (s + g * (math.log(ct.get(b, 0) + 1)
                            - math.log(cr[b] + 1)), n + g)
    got = {r["doc_id"]: (r["log_weight"], r["n_grams"])
           for r in query("corpus_dsir_weights").collect()}
    assert set(got) == set(want)
    for d, (s, n) in want.items():
        assert got[d][1] == n, d
        assert abs(got[d][0] - (s - n * hz)) < 2e-6, (d, got[d][0], s - n * hz)


def test_dsir_weights_rank_target_like_docs_higher(spark):
    """The selection property DSIR exists for: on a corpus where the
    target slice speaks vocabulary A, raw docs written in vocabulary A
    must outscore raw docs written in vocabulary B — per-token, docs in
    the target's distribution carry higher importance weights."""
    from spark_sentiment_spark.plans.corpus_queries import _dsir_log_weights

    rows = []
    vocab_a = "alpha beta gamma delta epsilon zeta eta theta"
    vocab_b = "one two three four five six seven eight"
    for i in range(10):
        rows.append((i, "en", vocab_a))            # target slice
    for i in range(10, 20):
        rows.append((i, "xx", vocab_b))            # off-target raw
    for i in range(20, 24):
        rows.append((i, "xx", vocab_a))            # target-like raw
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r["doc_id"]: r["log_weight"]
           for r in _dsir_log_weights(docs).collect()}
    a_like = min(got[i] for i in range(20, 24))
    b_like = max(got[i] for i in range(10, 20))
    assert a_like > b_like, (a_like, b_like)


def test_dsir_weights_compose_into_gumbel_topk_resampling(spark, query):
    """The DSIR pipeline end-to-end: the per-doc log-weights feed a
    Gumbel-top-k draw (key = log_weight + Gumbel(0,1), the standard
    softmax-sampling-without-replacement trick, with content-addressed
    uniforms like everything else in the catalog) and the resampled
    subset must be strongly enriched in the target domain — measured
    69/100 'en' docs against a 38.6% corpus share (1.79× enrichment),
    pinned at 55% with headroom. This is the selection the weights exist
    to drive; `sample_weighted` is the same top-k machinery for linear
    weights."""
    from spark_sentiment_spark.plans import registry

    w = query("corpus_dsir_weights")
    docs = registry.load(spark, SF_DIR, "documents").select("doc_id", "lang")
    u = (F.conv(F.substring(
        F.md5(F.concat(F.lit("gmb:"), F.col("doc_id").cast("string"))),
        1, 12), 16, 10).cast("double") + 1) / (2.0 ** 48)
    key = F.col("log_weight") + (-F.log(-F.log(u)))
    top = (w.join(docs, "doc_id")
           .select("lang", key.alias("k"))
           .orderBy(F.desc("k")).limit(100).collect())
    en_top = sum(1 for r in top if r["lang"] == "en")
    assert en_top >= 55, en_top


def test_dsir_weights_oracle_parity_on_unicode_corpus(query):
    """Every content-addressed query in the catalog leans on Spark and
    DuckDB computing identical md5 digests — which holds only if both
    hash the same UTF-8 bytes. The fixture is ASCII, so that assumption
    is never exercised cross-engine on multibyte text. Stage a corpus of
    accented/CJK/emoji bigrams and run the real Spark-vs-DuckDB
    comparison for the DSIR weights (md5 over raw gram text, the
    hashing-heaviest query)."""
    texts = [
        "café naïve déjà vu über straße çok güzel",
        "日本語 テスト 単語 分割 日本語 テスト",
        "emoji 🎉 party 🎉 emoji mix 🚀 test",
        "смешанный текст на русском языке здесь",
        "plain ascii control text the of and with",
        "café naïve déjà vu über straße çok güzel",   # exact dup of 0
    ]
    rows = [(i, t, "en" if i % 2 == 0 else "xx", "web", len(t))
            for i, t in enumerate(texts)]
    with staged_documents(rows, SF_DIR) as tmp:
        assert_oracle_match(query("corpus_dsir_weights", tmp),
                            "corpus_dsir_weights", tmp)


def test_dsir_weights_score_featureless_docs_neutrally(query):
    """Docs with fewer than 2 tokens have no bigram features — they must
    appear with the neutral score (n_grams = 0, log_weight = 0.0), not
    vanish (the resampler would silently drop them),
    and the constructed corpus runs the REAL cross-engine oracle."""
    rows = [
        (0, "the quick brown fox jumps over it", "en", "web", 33),
        (1, "one", "en", "web", 3),          # 1 token: featureless
        (2, "", "de", "web", 0),             # 0 tokens: featureless
        (3, "zwei wörter", "de", "web", 11),
        (4, None, "en", "web", 0),           # null text: excluded
    ]
    with staged_documents(rows, SF_DIR) as tmp:
        out = {r["doc_id"]: (r["n_grams"], r["log_weight"])
               for r in query("corpus_dsir_weights", tmp).collect()}
        assert set(out) == {0, 1, 2, 3}
        assert out[1] == (0, 0.0) and out[2] == (0, 0.0)
        assert out[0][0] > 0 and out[3][0] > 0
        assert_oracle_match(query("corpus_dsir_weights", tmp),
                            "corpus_dsir_weights", tmp)


def test_sample_dsir_matches_hashlib_replay(query):
    """Bit-exact replay of the materialized resample in pure Python:
    take the query's own log_weights (already pinned against their
    oracle), add the md5-derived Gumbel with the identical float ops,
    rank by (round(key, 6) desc, doc_id) — the selected doc set and rn
    order must match exactly, the engine-independence claim behind the
    content-addressed draw."""
    import hashlib

    w = {r["doc_id"]: r["log_weight"] for r in
         query("corpus_dsir_weights").collect()}
    keyed = []
    for doc_id, lw in w.items():
        u = (int(hashlib.md5(f"gmb:{doc_id}".encode()).hexdigest()[:12],
                 16) + 1) / 2.0 ** 48
        keyed.append((round(lw + (-math.log(-math.log(u))), 6), doc_id))
    keyed.sort(key=lambda t: (-t[0], t[1]))
    want = [(d, k) for k, d in keyed[:100]]
    got = [(r["doc_id"], r["gumbel_key"]) for r in
           query("sample_dsir").orderBy("rn").collect()]
    assert got == want


# --- mixtures and token graphs -------------------------------------------

def test_mixture_upsample_epochs_and_budget(query):
    """The upsampling mixture's contract: the budget is consumed
    EXACTLY (uncapped quotas sum to it by construction), epoch 1 is
    actually reached on this fixture (quota > source size — otherwise
    the query silently degenerates to `mixture_apply`), every doc of
    an upsampled source appears floor(q/n) or ceil(q/n) times, and the
    epoch-0 slice IS the capped sampling form's pick set restricted to
    the same quota."""
    from collections import Counter

    from spark_sentiment_spark.plans.corpus_queries import UPSAMPLE_BUDGET

    rows = query("mixture_upsample").collect()
    assert len(rows) == UPSAMPLE_BUDGET
    assert max(r.epoch for r in rows) >= 1, "fixture never upsampled"

    per_source_q = Counter(r.source for r in rows)
    reps = Counter((r.source, r.doc_id) for r in rows)
    docs_per_source: dict = {}
    for (s, d) in reps:
        docs_per_source.setdefault(s, set()).add(d)
    for (s, d), c in reps.items():
        q, n = per_source_q[s], len(docs_per_source[s])
        assert c in (q // n, q // n + (1 if q % n else 0)), (s, d, c)
    # within a source, epoch 0 covers the md5-smallest min(q, n) docs —
    # the same content-addressed prefix mixture_apply picks
    for s in per_source_q:
        e0 = [r for r in rows if r.source == s and r.epoch == 0]
        assert len(e0) == min(per_source_q[s], len(docs_per_source[s]))


def test_pagerank_matches_leftjoin_recurrence(spark, query, tmp_path):
    """Run token_pagerank over a constructed corpus and compare every
    (token, w_out, rank_fp) against a pure-Python replay of the
    left-join recurrence — nodes LEFT JOIN contributions with
    coalesce(s, 0) — which the loop, re-attaching no nodes per
    iteration, claims to equal because the symmetrized edge set gives
    every node an in-edge. The corpus includes a single-token document
    (no bigrams: its token must NOT be a node) and repeated bigrams
    across documents (summed edge weights)."""
    from collections import Counter

    from spark_sentiment_spark.plans.corpus_queries import PAGERANK_SCALE

    rows = [
        (0, "alpha beta gamma alpha beta"),
        (1, "beta gamma delta"),
        (2, "alpha beta alpha beta alpha"),
        (3, "epsilon"),                       # 1 token -> no bigram
        (4, "delta epsilon delta epsilon"),
        (5, "  gamma   alpha  "),             # irregular whitespace
    ]
    docs_dir = str(tmp_path / "pr")
    spark.createDataFrame(rows, "doc_id long, text string") \
         .write.parquet(f"{docs_dir}/documents.parquet")

    got = {r["token"]: (r["w_out"], r["rank_fp"])
           for r in query("token_pagerank", docs_dir).collect()}

    # independent replay: the left-join recurrence, pure ints
    bigrams = Counter()
    for _, text in rows:
        toks = text.strip().split()
        for a, b in zip(toks, toks[1:]):
            bigrams[(a, b)] += 1
    edges = Counter()
    for (a, b), c in bigrams.items():
        edges[(a, b)] += c
        edges[(b, a)] += c
    wout = Counter()
    for (s, _), w in edges.items():
        wout[s] += w
    nodes = sorted({s for s, _ in edges})
    assert set(nodes) == {d for _, d in edges}   # the symmetry the
    #                                              loop relies on
    assert "epsilon" in nodes and len(nodes) == 5

    base = (15 * PAGERANK_SCALE) // 100
    r = {v: PAGERANK_SCALE for v in nodes}
    for _ in range(10):
        s = Counter()
        for (src, dst), w in edges.items():
            s[dst] += r[src] * w // wout[src]
        # left-join shape: every node, contributions coalesced to 0
        r = {v: base + 85 * s.get(v, 0) // 100 for v in nodes}
    expect = {v: (wout[v], r[v]) for v in nodes}
    assert got == expect
