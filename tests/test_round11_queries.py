"""Round-11 additions. Each query has an exact DuckDB oracle
(driver-routed); these tests pin what the oracle can't see:
the ACCURACY of the HLL stickiness swap on a corpus with HLL-range
cardinalities (the fixture's per-day counts sit in the raw estimator's
biased range) and its window merge's bit-equality to from-scratch
sketches; the cutpoint quintile's equivalence-to-ntile and tie
algebra; the winnowing incremental/streaming probes' batch-boundary
independence; the priority sampler's bit-exact hashlib replay and
estimator envelope; the DSIR weights' hashlib replay, directional
selection, and Gumbel-top-k composition; semantic decontamination's
subset-of-truth/recall floor and triad consistency; and the Gopher
gate's per-rule behavior plus oracle parity on a symbol-heavy corpus
the fixture cannot exercise."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _synthetic_ud(spark, n_days=45, dau=3000, drift=50):
    """Distinct (d, user_id) frame with known exact DAU/MAU: day i is
    active for users [i*drift, i*drift + dau), so DAU = dau exactly and
    trailing-28-day MAU(i) = dau + drift * min(i, 27) in closed form —
    thousands of users/day, inside the raw HLL estimator's valid range
    (past the 2.5m = 640 knee for m = 256)."""
    days = spark.range(n_days).select(
        F.expr("timestamp(date_add(date '2024-01-01', cast(id as int)))")
        .alias("d"),
        F.col("id").alias("i"))
    return days.select(
        "d", F.explode(
            F.expr(f"sequence(i*{drift}, i*{drift} + {dau - 1})"))
        .alias("user_id"))


def test_stickiness_hll_accuracy_in_valid_range(spark):
    """The certified-swap pin: on an HLL-range corpus the sketched
    stickiness must track the exact closed-form stickiness within the
    estimator's error envelope. Deterministic (md5 hashing, fixed
    corpus): measured max rel err 0.076 / median 0.036, pinned at 2x
    headroom. The ratio beats its own ingredients (dau_est errs up to
    0.138) because DAU and MAU sketches share per-day partials, which
    correlates — and partially cancels — their errors."""
    from spark_sentiment_spark.plans.sketch_queries import (
        _stickiness_hll_core)

    dau, drift = 3000, 50
    out = _stickiness_hll_core(_synthetic_ud(spark, 45, dau, drift)) \
        .collect()
    assert len(out) == 45
    errs = []
    for i, r in enumerate(out):
        assert r["dau"] == dau  # the exact rider
        exact = dau / (dau + drift * min(i, 27))
        est = r["stickiness_est_ppm"] / 1e6
        errs.append(abs(est / exact - 1))
    errs.sort()
    assert max(errs) < 0.15, max(errs)
    assert errs[len(errs) // 2] < 0.08, errs[len(errs) // 2]


def test_stickiness_hll_window_merge_is_exact(spark):
    """Mergeability on the trailing window: max-merging <= 28 per-day
    partials must give BIT-IDENTICAL registers (hence identical s and
    estimates) to sketching each window's union set from scratch — the
    property that makes the partials reusable across window lengths,
    rollups, and micro-batches. Pinned on the synthetic corpus where
    windows genuinely overlap and drift."""
    from spark_sentiment_spark.operators.sketch import (
        HLL_BITS, HLL_BUCKET, HLL_M, HLL_POW2, HLL_RHO)
    from spark_sentiment_spark.plans.sketch_queries import _stickiness_hll_core

    ud = _synthetic_ud(spark, 20, 500, 100)
    merged = {r["day"]: r["mau_est_cents"]
              for r in _stickiness_hll_core(ud).collect()}

    # from-scratch: explode each user-day to every window it feeds,
    # then one direct HLL per window over the union set
    g = ud.select(F.col("d").alias("ud_d"), "user_id").alias("u").join(
        ud.select("d").distinct().alias("g"),
        (F.col("ud_d") <= F.col("g.d"))
        & (F.col("ud_d") > F.col("g.d") - F.expr("INTERVAL 28 DAY")))
    keyed = g.select(F.col("g.d").alias("d"), "user_id").distinct() \
        .withColumn("h", F.md5(F.col("user_id").cast("string")))
    buckets = (keyed.select("d", F.expr(HLL_BUCKET).alias("bucket"),
                            F.expr(HLL_RHO).alias("rho"))
               .groupBy("d", "bucket").agg(F.max("rho").alias("mj")))
    from spark_sentiment_spark.operators.sketch import HLL_A
    direct = {r["day"]: r["mau_direct_cents"] for r in (
        buckets.groupBy("d").agg(
            (F.sum(F.expr(HLL_POW2)).cast("bigint")
             + (F.lit(HLL_M) - F.count(F.lit(1)))
             * F.lit(2 ** (HLL_BITS + 1))).alias("s"))
        .select(F.date_format("d", "yyyy-MM-dd").alias("day"),
                F.floor(F.lit(float(HLL_A))
                        / F.col("s").cast("double") * 100)
                .cast("bigint").alias("mau_direct_cents"))).collect()}
    assert merged == direct


def test_sample_weighted_matches_hashlib_reference(spark):
    """Bit-exact replay of the whole priority-sampling path in pure
    Python: md5-derived dyadic uniforms, p = w / u with the identical
    two IEEE operations, top-100 by (p desc, doc_id), τ = the 101st
    priority, estimator = max(w, τ). Exact float equality is intentional
    — the query's engine-independence claim is that BOTH engines (and
    this reference) produce bit-identical doubles."""
    import hashlib

    import pyarrow.parquet as pq
    from spark_sentiment_spark.plans.pipeline_queries import (
        SAMPLE_W_K, sample_weighted)

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
           for r in sample_weighted(spark, SF_DIR).collect()}
    assert got == want
    # single-draw sanity envelope for the subset-sum estimator (k = 100
    # over ~500 near-uniform weights: measured rel err 0.25; this is a
    # determinism pin with headroom, not an accuracy claim — the
    # estimator's unbiasedness is over the uniform draw, which is fixed
    # here by content addressing)
    total = sum(r[2] for r in rows)
    est = sum(v[2] for v in want.values())
    assert abs(est / total - 1) < 0.4, (est, total)


def _quintiles_frame(spark, values):
    rows = [(i, v) for i, v in enumerate(values)]
    return spark.createDataFrame(rows, "user_id long, v long")


@pytest.mark.parametrize("n", [1, 3, 5, 7, 23, 100, 101, 104])
def test_cutpoint_quintile_equals_ntile_on_distinct(spark, n):
    """On distinct-valued axes the cutpoint form is provably identical
    to ntile(5): the targets i*(n div 5) + least(i, n mod 5) are exactly
    ntile's bucket boundaries, and with no ties 'first value whose cum
    reaches the target' is the value AT that rank. Seeded shuffled
    distinct values, both directions, every n mod 5 residue."""
    import random

    from pyspark.sql.window import Window
    from spark_sentiment_spark.plans.events_queries import (
        _cutpoint_quintile)

    rng = random.Random(11 * n)
    values = rng.sample(range(10 * n + 7), n)
    df = _quintiles_frame(spark, values)
    for descending in (False, True):
        order = F.desc("v") if descending else F.asc("v")
        got = {r["user_id"]: r["s"] for r in _cutpoint_quintile(
            df, "v", "s", descending=descending).collect()}
        want = {r["user_id"]: r["s"] for r in df.select(
            "user_id", F.ntile(5).over(Window.orderBy(order))
            .cast("long").alias("s")).collect()}
        assert got == want, (n, descending)


def test_cutpoint_quintile_is_tie_stable(spark):
    """The semantics ntile can't give: equal values ALWAYS share a
    score (ntile splits tie runs by its tiebreak to equalize buckets).
    Duplicate-heavy seeded corpus; also pins monotonicity (bigger value
    never gets a lower ascending score) and the 1..5 range."""
    import random

    from spark_sentiment_spark.plans.events_queries import (
        _cutpoint_quintile)

    rng = random.Random(1107)
    values = [rng.randrange(12) for _ in range(400)]
    out = _cutpoint_quintile(_quintiles_frame(spark, values),
                             "v", "s").collect()
    by_value = {}
    for r in out:
        v = values[r["user_id"]]
        by_value.setdefault(v, set()).add(r["s"])
        assert 1 <= r["s"] <= 5
    assert all(len(s) == 1 for s in by_value.values()), by_value
    ordered = [next(iter(by_value[v])) for v in sorted(by_value)]
    assert ordered == sorted(ordered), ordered


def test_winnowing_incremental_equals_restricted_batch(spark):
    """The incremental contract, the same equivalence the MinHash triad
    pins: because fingerprint selection is doc-local and the df cap is
    computed over index + batch together, the incremental pair set must
    equal the full-corpus `dedup_winnowing_pairs` output restricted to
    pairs touching the batch slice — same pairs, same n_shared."""
    from spark_sentiment_spark.plans.corpus_queries import (
        dedup_winnowing_incremental, dedup_winnowing_pairs)

    incr = {(r["doc_a"], r["doc_b"]): r["n_shared"]
            for r in dedup_winnowing_incremental(spark, SF_DIR).collect()}
    batch = {(r["doc_a"], r["doc_b"]): r["n_shared"]
             for r in dedup_winnowing_pairs(spark, SF_DIR).collect()
             if r["doc_a"] % 5 == 4 or r["doc_b"] % 5 == 4}
    assert incr == batch
    assert incr, "fixture produced no batch-touching pairs"


def test_streaming_winnowing_probe_two_batches_boundary_free(spark):
    """The probe must (a) actually run as TWO micro-batches (one staged
    file per trigger) and (b) produce exactly the pair set a single
    all-at-once probe computes — batch boundaries cannot matter because
    selection is doc-local and every pair has exactly one new doc."""
    import glob

    from spark_sentiment_spark.plans import registry
    from spark_sentiment_spark.operators.winnow import winnow_selected
    from spark_sentiment_spark.plans.registry import load
    from spark_sentiment_spark.plans.streaming_queries import (
        streaming_winnowing_probe)

    before = set(registry._STAGED_DIRS)
    streamed = {(r["doc_a"], r["doc_b"]): r["n_shared"]
                for r in streaming_winnowing_probe(spark, SF_DIR).collect()}
    hit_dirs = [d for d in registry._STAGED_DIRS
                if d not in before and "winnow_hits_" in d]
    assert hit_dirs, "hit sink not tracked"
    batches = glob.glob(hit_dirs[-1] + "/batch_id=*")
    assert len(batches) == 2, batches

    docs = load(spark, SF_DIR, "documents").where(F.col("text").isNotNull())
    is_new = F.col("doc_id") % 5 == 4
    fp = lambda d: (winnow_selected(d).where(F.col("s") == 1)  # noqa: E731
                    .select("doc_id", "h").distinct())
    fp_old = fp(docs.where(~is_new))
    hot = (fp_old.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
           .where(F.col("df") > 50).select("h"))
    single = (fp(docs.where(is_new)).alias("nw")
              .join(fp_old.join(hot, "h", "left_anti").alias("od"), "h")
              .select(F.least("nw.doc_id", "od.doc_id").alias("doc_a"),
                      F.greatest("nw.doc_id", "od.doc_id").alias("doc_b"))
              .groupBy("doc_a", "doc_b")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
              .where(F.col("n_shared") >= 2)).collect()
    assert streamed == {(r["doc_a"], r["doc_b"]): r["n_shared"]
                        for r in single}
    assert streamed, "fixture produced no new-vs-old pairs"


def test_stickiness_hll_rides_the_exact_dau(spark):
    """Twin consistency on the fixture: the HLL form's day set and its
    exact-DAU rider must match `events_stickiness`' exact output row for
    row — the two queries must never drift on the part they share."""
    from spark_sentiment_spark.plans.events_queries import events_stickiness
    from spark_sentiment_spark.plans.sketch_queries import (
        events_stickiness_hll)

    exact = {r["day"]: r["dau"]
             for r in events_stickiness(spark, SF_DIR).collect()}
    hll = {r["day"]: r["dau"]
           for r in events_stickiness_hll(spark, SF_DIR).collect()}
    assert hll == exact


def test_cutpoint_quintile_fuzz_vs_python_reference(spark):
    """Seeded fuzz of the cutpoint semantics against a 10-line Python
    reference (frequency cum-counts in score order, cutpoints at the
    ntile targets, score = 1 + cutpoints strictly passed) over random
    duplicate-heavy multisets of varying size/direction — the oracle
    checks one fixture; this checks the algebra everywhere ties can
    land relative to the targets."""
    import random

    from spark_sentiment_spark.plans.events_queries import (
        _cutpoint_quintile)

    def reference(values, descending):
        n = len(values)
        freq = {}
        for v in values:
            freq[v] = freq.get(v, 0) + 1
        order = sorted(freq, reverse=descending)
        cum, cuts = 0, []
        targets = [i * (n // 5) + min(i, n % 5) for i in (1, 2, 3, 4)]
        cum_at = {}
        for v in order:
            cum += freq[v]
            cum_at[v] = cum
        for t in targets:
            hit = [v for v in order if cum_at[v] >= t]
            if hit:
                cuts.append(hit[0])
        def score(v):
            passed = sum(1 for c in cuts
                         if (v < c if descending else v > c))
            return 1 + passed
        return {i: score(v) for i, v in enumerate(values)}

    rng = random.Random(2211)
    for trial in range(8):
        n = rng.choice([2, 4, 6, 9, 40, 123])
        spread = rng.choice([2, 3, 8, 1000])
        values = [rng.randrange(spread) for _ in range(n)]
        descending = bool(trial % 2)
        got = {r["user_id"]: r["s"] for r in _cutpoint_quintile(
            _quintiles_frame(spark, values), "v", "s",
            descending=descending).collect()}
        assert got == reference(values, descending), (
            trial, n, spread, descending, values)


def test_dsir_weights_match_hashlib_reference(spark):
    """Full-path replay of the DSIR scoring in pure Python over the
    fixture: same tokenization (single-space split, empties kept), same
    md5 24-bit bucket hash, same Laplace-smoothed log-ratio fold.
    Tolerance 2e-6 (the query rounds at 6 dp; Python's fold order
    differs, so bit-exactness is not the claim here — cross-engine
    bit-exactness is the DuckDB oracle's job)."""
    import hashlib
    import math

    import pyarrow.parquet as pq
    from spark_sentiment_spark.plans.corpus_queries import (
        DSIR_BUCKETS, corpus_dsir_weights)

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
           for r in corpus_dsir_weights(spark, SF_DIR).collect()}
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


def test_decontaminate_semantic_is_multiprobe_bipartite_subset(spark):
    """Triad consistency: the semantic decontamination output must be
    EXACTLY the bipartite (one eval side) slice of
    `dedup_embedding_multiprobe`'s pair set, re-oriented train→eval —
    both queries share `multiprobe_candidates` and the verify threshold,
    so any drift means the shared machinery forked."""
    from spark_sentiment_spark.plans.similarity_queries import (
        decontaminate_semantic, dedup_embedding_multiprobe)

    got = {(r["train_vec"], r["eval_vec"]): r["cosine"]
           for r in decontaminate_semantic(spark, SF_DIR).collect()}
    want = {}
    for r in dedup_embedding_multiprobe(spark, SF_DIR).collect():
        a, b = r["vec_a"], r["vec_b"]
        if (a % 11 == 0) != (b % 11 == 0):
            want[(b, a) if a % 11 == 0 else (a, b)] = r["cosine"]
    assert got == want
    assert got, "fixture produced no semantic contamination pairs"


def test_decontaminate_semantic_no_false_positives_and_recall(spark):
    """Against the exact bipartite truth (dedup_embedding_cosine's
    all-pairs output restricted to one-eval-side pairs): every reported
    pair must be true (exact-cosine verify ⇒ subset), and recall at the
    fixture's 0.4 tail threshold must clear the LSH family's documented
    hardest-regime floor (measured 0.357; real decontamination runs at
    ≥ 0.8 where the same config exceeds 0.99 —
    tests/test_similarity_recall.py pins that curve for the family)."""
    from spark_sentiment_spark.plans.similarity_queries import (
        decontaminate_semantic, dedup_embedding_cosine)

    got = {(r["train_vec"], r["eval_vec"])
           for r in decontaminate_semantic(spark, SF_DIR).collect()}
    truth = set()
    for r in dedup_embedding_cosine(spark, SF_DIR).collect():
        a, b = r["vec_a"], r["vec_b"]
        if (a % 11 == 0) != (b % 11 == 0):
            truth.add((b, a) if a % 11 == 0 else (a, b))
    assert got <= truth
    assert len(got) / len(truth) >= 0.3, (len(got), len(truth))


def test_gopher_rules_each_rule_fires_on_constructed_corpus(spark):
    """The fixture is single-line prose, so the line-shape rules never
    fire there — this constructed corpus gives every rule exactly one
    violating document (and one passing control) and pins verdict,
    reason precedence, and the measured feature that tripped."""
    from spark_sentiment_spark.plans.text_queries import _gopher_rules

    good_words = ("the quick brown fox and that dog have fun with it "
                  * 6).strip()                      # 66 words, all rules pass
    rows = [
        (0, good_words),
        (1, "the of and that"),                     # too_few_words
        (2, " ".join(["ab"] * 60) + " the of"),     # word_length (mean < 3)
        (3, " ".join(["####word"] * 60) + " the of and"),   # symbol_ratio
        (4, "\n".join(["- " + good_words] * 10)),   # bullet_lines (10/10)
        (5, "\n".join([good_words + " ..."] * 10)), # ellipsis_lines
        (6, " ".join(["123456"] * 60) + " the of and"),     # non_alpha_words
        (7, " ".join(["zz%d" % i for i in range(60)])),     # stopwords
        # symbol_ratio via the ELLIPSIS ratio alone (hash ratio 0): the
        # published rule thresholds each symbol separately, so 60 mid-
        # word ellipses / 63 words must drop even with zero '#' chars.
        (8, " ".join(["word...ly"] * 30 + ["wo…rd"] * 30) + " the of and"),
    ]
    # doc 5: 10 ellipsis-ended lines out of 10; its per-symbol ellipsis
    # ratio is 10 ellipses / 660 words ≈ 0.015 < 0.1 so ellipsis_lines
    # is the first failing rule. doc 3: 240 '#' / 63 words >> 0.1.
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in _gopher_rules(docs).collect()}
    assert out[0]["keep"] and out[0]["reason"] == "ok"
    assert not out[1]["keep"] and out[1]["reason"] == "too_few_words"
    assert out[2]["reason"] == "word_length" and out[2]["mean_word_len"] < 3
    assert out[3]["reason"] == "symbol_ratio" \
        and out[3]["hash_word_ratio"] > 0.1 \
        and out[3]["ellipsis_word_ratio"] <= 0.1
    assert out[4]["reason"] == "bullet_lines" and out[4]["bullet_ratio"] == 1.0
    assert out[5]["reason"] == "ellipsis_lines" \
        and out[5]["ellipsis_ratio"] == 1.0 \
        and out[5]["ellipsis_word_ratio"] <= 0.1
    assert out[6]["reason"] == "non_alpha_words" \
        and out[6]["alpha_word_ratio"] < 0.8
    assert out[7]["reason"] == "stopwords" and out[7]["n_stopwords"] == 0
    assert out[8]["reason"] == "symbol_ratio" \
        and out[8]["hash_word_ratio"] == 0.0 \
        and out[8]["ellipsis_word_ratio"] > 0.1
    assert all(not out[i]["keep"] for i in range(1, 9))


def test_gopher_rules_fixture_reasons_discriminate(spark):
    """The synthetic fixture (10–99-word docs, ≤ 1 English stopword) is
    honestly rejected WHOLESALE by the published thresholds — that is
    the correct verdict, and keep=True is exercised by the constructed
    corpus above. What the fixture must show: the reason ladder
    discriminates (≥ 2 distinct first-failing rules, in precedence
    order) and every verdict agrees with its reason."""
    from spark_sentiment_spark.plans.text_queries import quality_gopher_rules

    out = quality_gopher_rules(spark, SF_DIR).collect()
    reasons = {r["reason"] for r in out}
    assert len(reasons) >= 2, reasons
    for r in out:
        assert r["keep"] == (r["reason"] == "ok")
        if r["reason"] == "too_few_words":
            assert r["n_words"] < 50
        if r["reason"] == "stopwords":
            assert r["n_words"] >= 50 and r["n_stopwords"] < 2


def test_gopher_rules_oracle_parity_on_symbol_heavy_corpus(spark):
    """The fixture contains no '#', '...', bullets, or multi-line text,
    so the driver's oracle rows never exercise those expression paths
    cross-engine. Stage a corpus that trips every rule (plus unicode
    ellipsis and mixed whitespace) and run the REAL oracle comparison —
    Spark plan vs DuckDB SQL — on it."""
    import shutil
    import tempfile

    from tests.oracle_utils import TABLES, compare, duck_connection
    from spark_sentiment_spark.plans.registry import REGISTRY, all_queries

    all_queries()
    good = ("the quick brown fox and that dog have fun with it " * 6).strip()
    rows = [
        (0, good, "en", "web", len(good)),
        (1, "# ### " + good + " ...", "en", "web", 10),
        (2, "\n".join(["- bullet " + good] * 4 + ["plain " + good]),
         "de", "web", 10),
        (3, "\n".join([good + " …"] * 3 + [good + " ..."] * 2), "fr",
         "web", 10),
        (4, "  tabs\tand   runs  " + good + "  ", "en", "news", 10),
        (5, " ".join(["123456"] * 60) + " the of and", "xx", "news", 10),
        (6, None, "en", "web", 0),
    ]
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = tempfile.mkdtemp(prefix="gopher_oracle_")
    try:
        # single-FILE parquet (duck_connection's read_parquet contract)
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
                    pq.read_table(f"{SF_DIR}/{t}.parquet").slice(0, 0),
                    f"{tmp}/{t}.parquet")
        q = REGISTRY["quality_gopher_rules"]
        ok, msg = compare(q.fn(spark, tmp), duck_connection(tmp), q.sql,
                          "gopher@constructed")
        assert ok, msg
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_dsir_weights_compose_into_gumbel_topk_resampling(spark):
    """The DSIR pipeline end-to-end: the per-doc log-weights feed a
    Gumbel-top-k draw (key = log_weight + Gumbel(0,1), the standard
    softmax-sampling-without-replacement trick, with content-addressed
    uniforms like everything else in the catalog) and the resampled
    subset must be strongly enriched in the target domain — measured
    69/100 'en' docs against a 38.6% corpus share (1.79× enrichment),
    pinned at 55% with headroom. This is the selection the weights exist
    to drive; `sample_weighted` is the same top-k machinery for linear
    weights."""
    from spark_sentiment_spark.plans.corpus_queries import (
        corpus_dsir_weights)
    from spark_sentiment_spark.plans.registry import load

    w = corpus_dsir_weights(spark, SF_DIR)
    docs = load(spark, SF_DIR, "documents").select("doc_id", "lang")
    u = (F.conv(F.substring(
        F.md5(F.concat(F.lit("gmb:"), F.col("doc_id").cast("string"))),
        1, 12), 16, 10).cast("double") + 1) / (2.0 ** 48)
    key = F.col("log_weight") + (-F.log(-F.log(u)))
    top = (w.join(docs, "doc_id")
           .select("lang", key.alias("k"))
           .orderBy(F.desc("k")).limit(100).collect())
    en_top = sum(1 for r in top if r["lang"] == "en")
    assert en_top >= 55, en_top


def test_dsir_weights_oracle_parity_on_unicode_corpus(spark):
    """Every content-addressed query in the catalog leans on Spark and
    DuckDB computing identical md5 digests — which holds only if both
    hash the same UTF-8 bytes. The fixture is ASCII, so that assumption
    is never exercised cross-engine on multibyte text. Stage a corpus of
    accented/CJK/emoji bigrams and run the real Spark-vs-DuckDB
    comparison for the DSIR weights (md5 over raw gram text, the
    hashing-heaviest new query)."""
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq
    from tests.oracle_utils import TABLES, compare, duck_connection
    from spark_sentiment_spark.plans.registry import REGISTRY, all_queries

    all_queries()
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
    tmp = tempfile.mkdtemp(prefix="dsir_unicode_")
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
                    pq.read_table(f"{SF_DIR}/{t}.parquet").slice(0, 0),
                    f"{tmp}/{t}.parquet")
        q = REGISTRY["corpus_dsir_weights"]
        ok, msg = compare(q.fn(spark, tmp), duck_connection(tmp), q.sql,
                          "dsir@unicode")
        assert ok, msg
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
