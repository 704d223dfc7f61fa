"""BPE training pinned against an independent naive implementation on the
real fixture corpus, plus encoder/trainer consistency and count bounds."""

from collections import Counter

import pyarrow.parquet as pq

from tests.conftest import SF_DIR


N_MERGES = 15


def _naive_bpe(word_freq, n_merges):
    """Quadratic reference BPE, written independently of operators/bpe.py:
    same contract (chars + </w>, max count, lexicographically-smallest tie
    break), different code shape."""
    segs = {w: list(w) + ["</w>"] for w in word_freq}
    out = []
    for _ in range(n_merges):
        counts = Counter()
        for w, f in word_freq.items():
            s = segs[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += f
        if not counts:
            break
        best_count = max(counts.values())
        best = sorted(p for p, c in counts.items() if c == best_count)[0]
        out.append((best[0], best[1], best_count))
        for w in segs:
            s, ns, i = segs[w], [], 0
            while i < len(s):
                if (i < len(s) - 1 and (s[i], s[i + 1]) == best):
                    ns.append(best[0] + best[1])
                    i += 2
                else:
                    ns.append(s[i])
                    i += 1
            segs[w] = ns
    return out, segs


def _fixture_word_freq():
    tbl = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["text"])
    freq = Counter()
    for t in tbl.column("text").to_pylist():
        if t is not None:
            freq.update(t.lower().strip().split())
    freq.pop("", None)
    return dict(freq)


def test_bpe_train_matches_naive_reference(spark):
    from spark_sentiment_spark.operators.bpe import bpe_train

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = [(r.left, r.right, r.pair_count)
           for r in bpe_train(spark, docs, n_merges=N_MERGES)
           .orderBy("rank").collect()]
    want, _ = _naive_bpe(_fixture_word_freq(), N_MERGES)
    assert got == want


def test_default_floor_preserves_merge_sequence(spark):
    """The default min_count=2 hapax floor and 1M vocab cap (the bound on
    the driver-side collect) must not perturb the merge sequence
    on the fixture corpus: the bound is a scale guard, not a semantic
    change at test scale."""
    from spark_sentiment_spark.operators.bpe import bpe_train

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bounded = [(r.left, r.right, r.pair_count)
               for r in bpe_train(spark, docs, n_merges=N_MERGES)
               .orderBy("rank").collect()]
    unbounded = [(r.left, r.right, r.pair_count)
                 for r in bpe_train(spark, docs, n_merges=N_MERGES,
                                    min_count=1, vocab_cap=None)
                 .orderBy("rank").collect()]
    assert bounded == unbounded


def test_vocab_cap_truncates_by_freq_then_word(spark):
    """A tiny vocab_cap must train on exactly the top-K words by
    (freq desc, word asc) — pinning the TakeOrdered truncation order."""
    from spark_sentiment_spark.operators.bpe import bpe_train

    wf = _fixture_word_freq()
    top5 = dict(sorted(wf.items(), key=lambda kv: (-kv[1], kv[0]))[:5])
    want, _ = _naive_bpe(top5, N_MERGES)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = [(r.left, r.right, r.pair_count)
           for r in bpe_train(spark, docs, n_merges=N_MERGES,
                              min_count=1, vocab_cap=5)
           .orderBy("rank").collect()]
    assert got == want


def test_encoder_reproduces_training_segmentation():
    """Greedy lowest-rank-first encoding must reproduce the segmentation
    the trainer reached by applying merges in order (the GPT-2 encoder
    equivalence that makes offline training + online encoding coherent)."""
    from spark_sentiment_spark.operators.bpe import _encode_word

    wf = _fixture_word_freq()
    merges, final_segs = _naive_bpe(wf, N_MERGES)
    ranks = {(a, b): i for i, (a, b, _) in enumerate(merges)}
    sample = sorted(wf, key=lambda w: -wf[w])[:50]
    for w in sample:
        assert list(_encode_word(w, ranks)) == final_segs[w], w


def test_token_counts_bounded(spark, query):
    """Each word encodes to between 1 and len(word)+1 symbols, so a doc's
    BPE token count lies in [n_words, n_chars + n_words]."""
    q = query("bpe_token_counts")
    counts = {r.doc_id: r.n_bpe_tokens for r in q.collect()}
    tbl = pq.read_table(f"{SF_DIR}/documents.parquet",
                        columns=["doc_id", "text"])
    for doc_id, text in zip(tbl.column("doc_id").to_pylist(),
                            tbl.column("text").to_pylist()):
        if text is None:
            assert doc_id not in counts
            continue
        words = text.lower().strip().split()
        n = counts[doc_id]
        assert len(words) <= n <= sum(len(w) for w in words) + len(words), \
            (doc_id, n)
