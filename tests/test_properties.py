"""Property-based differential tests (hypothesis): each custom operator
is checked against an independent naive formulation on random inputs —
the SURVEY §5.2 strategy extended from golden corpora to generated ones.
Example counts are small (Spark jobs per example) but each exercises
edge cases goldens miss: empty sides, ties, singletons, long chains.
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

PROP = settings(
    deadline=None, max_examples=6, derandomize=True,
    suppress_health_check=list(HealthCheck),
)

events = st.lists(
    st.tuples(st.integers(0, 3),          # key
              st.integers(0, 500),        # time
              st.integers(0, 9)),         # value
    min_size=0, max_size=40)


@PROP
@given(left=events, right=events, strict=st.booleans())
def test_asof_native_and_cogrouped_agree(spark, left, right, strict):
    l_df = spark.createDataFrame(left, "u long, t long, i long")
    r_df = spark.createDataFrame(right, "u long, t long, v long")
    from spark_sentiment_spark.operators.asof import (
        asof_join, asof_join_cogrouped)

    kwargs = dict(on=["u"], left_time="t", right_time="t",
                  value_cols={"v": "last_v"}, strict=strict)
    native = sorted(map(tuple, asof_join(l_df, r_df, **kwargs)
                        .select("u", "t", "i", "last_v").collect()))
    cogrp = sorted(map(tuple, asof_join_cogrouped(l_df, r_df, **kwargs)
                       .select("u", "t", "i", "last_v").collect()))
    assert native == cogrp


intervals = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 500), st.integers(1, 60)),
    min_size=0, max_size=15)


@PROP
@given(points=events, ivals=intervals)
def test_range_join_matches_naive_theta(spark, points, ivals):
    p = spark.createDataFrame(points, "k long, pt long, v long") \
        .withColumn("pt", F.timestamp_seconds("pt"))
    i = spark.createDataFrame(
        [(k, s, s + w) for k, s, w in ivals], "k long, s long, e long"
    ).select("k", F.timestamp_seconds("s").alias("s"),
             F.timestamp_seconds("e").alias("e"))
    from spark_sentiment_spark.operators.rangejoin import (
        point_in_interval_join)

    fast = sorted(map(tuple, point_in_interval_join(
        p, i, ["k"], "pt", "s", "e", bucket_seconds=7).collect()))
    naive = sorted(map(tuple, p.join(i, "k")
                       .where((F.col("pt") >= F.col("s"))
                              & (F.col("pt") < F.col("e"))).collect()))
    assert fast == naive


@PROP
@given(edges=st.lists(
    st.tuples(st.integers(0, 7), st.integers(0, 7)), min_size=1, max_size=15))
def test_components_match_union_find(spark, edges):
    from spark_sentiment_spark.operators.components import (
        connected_components)

    df = spark.createDataFrame(edges, "a long, b long")
    got = {r["node"]: r["comp"]
           for r in connected_components(df, "a", "b").collect()}

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    roots = {}
    for n in parent:
        roots.setdefault(find(n), []).append(n)
    want = {n: min(ns) for ns in roots.values() for n in ns}
    assert got == want


docs_strategy = st.lists(
    st.tuples(st.integers(0, 60),                     # doc_id (may repeat)
              st.text(alphabet="ab c", min_size=0, max_size=30),
              st.sampled_from(["s0", "s1", "s2"])),   # source
    min_size=0, max_size=25,
    unique_by=lambda t: t[0])


@PROP
@given(rows=docs_strategy, budget=st.sampled_from([1, 4, 16]))
def test_pack_sequences_invariants(spark, rows, budget):
    """Window ids per shard start at 0, never decrease, never skip more
    than one doc's span, and each doc's window equals its start-offset
    divided by the budget — checked against a sequential Python packer."""
    import spark_sentiment_spark.plans.pipeline_queries as pq

    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    n_tok = pq._n_tokens_col()
    from pyspark.sql.window import Window as W
    w = (W.partitionBy("source").orderBy("doc_id")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    out = (df.where(F.col("text").isNotNull())
           .select("doc_id", "source", n_tok.alias("n_tokens"))
           .withColumn("cum", F.sum("n_tokens").over(w))
           .select("doc_id", "source", "n_tokens",
                   F.floor((F.col("cum") - F.col("n_tokens")) / budget)
                    .cast("bigint").alias("window_id"))
           .orderBy("source", "doc_id").collect())
    # sequential reference packer, same per-shard order
    by_src = {}
    for r in sorted(rows, key=lambda t: (t[2], t[0])):
        if r[1] is None:
            continue
        toks = len(r[1].strip().split()) if r[1].strip() else 1
        # Spark size(split(trim(x),'\s+')) counts '' as 1 token
        start = by_src.get(r[2], 0)
        by_src[r[2]] = start + toks
        expected = start // budget
        got = next(o for o in out if o["doc_id"] == r[0])
        assert got["window_id"] == expected, (r, got, expected)


@PROP
@given(ids=st.lists(st.integers(0, 10**9), min_size=0, max_size=30,
                    unique=True))
def test_split_by_hash_is_stable_and_partition(spark, ids):
    """Same id → same split on every evaluation; every id lands in exactly
    one of train/holdout; assignment matches the Python md5 reference."""
    import hashlib

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    out = {r["doc_id"]: r["split"] for r in df.select(
        "doc_id",
        F.when(bucket < "f0", "train").otherwise("holdout").alias("split")
    ).collect()}
    for i in ids:
        expect = ("train" if hashlib.md5(str(i).encode()).hexdigest()[:2] < "f0"
                  else "holdout")
        assert out[i] == expect


def test_embedding_pca_matches_numpy(spark, query):
    """The distributed Gram accumulation + eigensolve must reproduce a
    direct numpy PCA of the same vectors to float precision."""
    import numpy as np
    import pyarrow.parquet as pq

    from tests.conftest import SF_DIR

    rows = query("embedding_pca").collect()

    V = np.asarray(pq.read_table(f"{SF_DIR}/embeddings.parquet")
                   .column("embedding").to_pylist(), dtype=np.float64)
    cov = np.cov(V, rowvar=False)
    evals = np.linalg.eigvalsh(cov)[::-1]
    total = evals.sum()
    for r in rows:
        i = r.component - 1
        assert abs(r.eigenvalue - round(float(evals[i]), 6)) < 2e-6, r
        want_cum = float(evals[: i + 1].sum() / total)
        assert abs(r.cum_explained - round(want_cum, 6)) < 2e-6, r
    assert rows[-1].cum_explained > rows[0].cum_explained


@PROP
@given(texts=st.lists(st.text(alphabet="ab ", min_size=0, max_size=40),
                      min_size=0, max_size=8),
       n=st.integers(3, 6))
def test_char_ngram_stats_matches_naive(spark, texts, n):
    """dedup_char_ngrams core vs a naive set-based formulation on random
    low-alphabet corpora (high collision pressure): per-doc distinct gram
    counts, cross-doc shared counts, and the 6dp ratio must all agree;
    docs shorter than n must be absent."""
    from spark_sentiment_spark.plans.dedup_queries import char_ngram_stats

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_grams, r.n_shared, r.shared_ratio)
           for r in char_ngram_stats(df, n=n).collect()}

    grams = {i: {t[j:j + n] for j in range(len(t) - n + 1)}
             for i, t in rows if len(t) >= n}
    from collections import Counter
    owners = Counter(g for gs in grams.values() for g in gs)
    want = {}
    for i, gs in grams.items():
        shared = sum(1 for g in gs if owners[g] >= 2)
        want[i] = (len(gs), shared, shared / len(gs))
    assert set(got) == set(want)
    for i, (ng, ns, ratio) in want.items():
        g_ng, g_ns, g_ratio = got[i]
        assert (g_ng, g_ns) == (ng, ns), i
        # Python round() is banker's, Spark F.round is HALF_UP — compare
        # the ratio numerically instead of via the rounded literal
        assert abs(g_ratio - ratio) < 1e-6, i


def test_keep_best_prefers_longest_then_lowest_id(spark, query, tmp_path):
    """dedup_keep_best semantics on a constructed corpus: within a shared
    4-token-prefix cluster the LONGEST doc survives regardless of crawl
    order, and equal lengths tie to the lowest doc_id — exactly where it
    diverges from dedup_prefix's keep-first."""
    pre = "the same boring prefix"
    rows = [
        (1, f"{pre} short tail", "en", "web", 0),
        (2, f"{pre} a much longer tail with more words", "en", "web", 0),
        (3, f"{pre} short ta.l", "en", "web", 0),   # same length as doc 1
        (4, "completely different text here", "en", "web", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    docs.write.parquet(str(tmp_path / "documents.parquet"))

    kept = {r.doc_id: r for r in
            query("dedup_keep_best", str(tmp_path)).collect()}
    assert set(kept) == {2, 4}            # doc 2 beats 1 and 3 on length
    assert kept[2].n_dups == 3
    assert kept[2].doc_len == len(rows[1][1])

    rows_tie = [(10, f"{pre} aaa", "en", "web", 0),
                (11, f"{pre} bbb", "en", "web", 0)]
    spark.createDataFrame(
        rows_tie, "doc_id long, text string, lang string, source string, "
                  "n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    kept = query("dedup_keep_best", str(tmp_path)).collect()
    assert [r.doc_id for r in kept] == [10]   # equal length -> lowest id


def test_ngram_novelty_bounds_and_duplicate_collapse(spark, query, tmp_path):
    """A verbatim duplicate of an earlier doc has novelty 0; a doc sharing
    nothing has novelty 1; and novel_grams over the whole corpus sums to
    the number of globally distinct 5-grams (each gram is 'novel' exactly
    once, in its min-doc_id owner)."""
    a = "alpha beta gamma delta epsilon zeta eta"
    b = "one two three four five six seven eight"
    rows = [(1, a, "en", "web", 0),
            (2, a, "en", "web", 0),            # exact dup of doc 1
            (3, b, "en", "web", 0)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = {r.doc_id: r for r in query("ngram_novelty", str(tmp_path)).collect()}
    assert out[1].novelty == 1.0
    assert out[2].novelty == 0.0 and out[2].novel_grams == 0
    assert out[3].novelty == 1.0
    n_distinct = len({" ".join(a.split()[i:i + 5])
                      for i in range(len(a.split()) - 4)} |
                     {" ".join(b.split()[i:i + 5])
                      for i in range(len(b.split()) - 4)})
    assert sum(r.novel_grams for r in out.values()) == n_distinct


def test_curate_corpus_composes_its_stage_queries(spark, query):
    """curate_corpus's verdicts must agree with the standalone stage
    queries it composes: quality sub-reasons match quality_gate's
    verdicts exactly, and every reason class fires on the fixture
    (benchmark, >=2 quality reasons, duplicate, contaminated, kept)."""
    from tests.conftest import SF_DIR

    verdicts = {r.doc_id: r for r in query("curate_corpus").collect()}
    gate = {r.doc_id: r for r in query("quality_gate").collect()}

    q_reasons = {"too_short", "too_long", "low_alpha", "repetitive"}
    for doc_id, v in verdicts.items():
        assert v.keep == (v.reason == "kept")
        if doc_id < 5:
            assert v.reason == "benchmark"
        elif v.reason in q_reasons:
            assert not gate[doc_id].keep
            assert gate[doc_id].reason == v.reason
        else:  # duplicate/contaminated/kept all passed the gate
            assert gate[doc_id].keep, (doc_id, v.reason)

    seen = {v.reason for v in verdicts.values()}
    assert {"benchmark", "duplicate", "contaminated", "kept"} <= seen
    assert len(seen & q_reasons) >= 2, seen


def test_token_pagerank_matches_naive_fixed_point(spark, query, tmp_path):
    """token_pagerank vs an independent dict-based transcription of the
    same integer fixed-point iteration on a constructed corpus (star +
    chain + isolated doc). Also pins the TextRank ordering claim: the
    star hub outranks its leaves."""
    rows = [
        (1, "hub a hub b hub c hub d", "en", "web", 0),       # star on hub
        (2, "p q r s p q r s", "en", "web", 0),               # chain/cycle
        (3, "loner", "en", "web", 0),                         # no bigrams
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    from spark_sentiment_spark.plans.corpus_queries import (PAGERANK_ITERS,
                                                            PAGERANK_SCALE,
                                                            token_pagerank)
    got = {r.token: (r.w_out, r.rank_fp)
           for r in query("token_pagerank", str(tmp_path)).collect()}

    # independent naive implementation
    from collections import Counter
    bigrams = Counter()
    for _, text, *_ in rows:
        toks = text.strip().split()
        for a, b in zip(toks, toks[1:]):
            bigrams[(a, b)] += 1
    edges = Counter()
    for (a, b), c in bigrams.items():
        edges[(a, b)] += c
        edges[(b, a)] += c
    wout = Counter()
    for (s, d), w in edges.items():
        wout[s] += w
    nodes = sorted(wout)
    r = {v: PAGERANK_SCALE for v in nodes}
    base = (15 * PAGERANK_SCALE) // 100
    for _ in range(PAGERANK_ITERS):
        agg = {v: 0 for v in nodes}
        for (s, d), w in edges.items():
            agg[d] += (r[s] * w) // wout[s]
        r = {v: base + (85 * agg[v]) // 100 for v in nodes}

    assert "loner" not in got                  # no bigram -> not a node
    assert set(got) == set(nodes)
    for v in nodes:
        assert got[v] == (wout[v], r[v]), (v, got[v], (wout[v], r[v]))
    assert all(got["hub"][1] > got[leaf][1] for leaf in "abcd")


def test_bigram_backoff_branches_on_constructed_corpus(spark, query, tmp_path):
    """All three Stupid-Backoff branches pinned by hand computation:
    seen bigram -> c12/c1; unseen bigram of seen unigrams ->
    a*(c2+1)/(N+V); unseen w2 entirely (OOV) -> a*1/(N+V). Train docs
    are doc_id % 5 != 4; doc 4 and 9 are the held-out scored set."""
    import math
    rows = [
        (0, "a b a b", "en", "web", 0),       # train: bigrams ab,ba,ab
        (1, "c c", "en", "web", 0),           # train: cc
        (4, "a b", "en", "web", 0),           # held out: seen bigram
        (9, "b a c x", "en", "web", 0),       # held out: ba seen; "a c"
                                              # unseen-bigram; "c x" OOV w2
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    from spark_sentiment_spark.plans.pipeline_queries import BACKOFF_ALPHA
    got = {r.doc_id: r for r in
           query("quality_bigram_backoff", str(tmp_path)).collect()}

    # train counts: unigrams a:2 b:2 c:2 (N=6, V=3); bigrams ab:2 ba:1 cc:1
    N, V = 6.0, 3.0
    a = BACKOFF_ALPHA
    p_ab = 2 / 2                      # seen bigram: c12/c1
    p_ba = 1 / 2
    p_ac = a * (2 + 1) / (N + V)      # unseen bigram, c("c")=2
    p_cx = a * (0 + 1) / (N + V)      # OOV w2 "x"
    assert got[4].n_bigrams == 1 and got[4].n_backoff == 0
    assert got[4].bits_per_bigram == round(-math.log2(p_ab), 4)
    assert got[9].n_bigrams == 3 and got[9].n_backoff == 2
    expect = round(-(math.log2(p_ba) + math.log2(p_ac) + math.log2(p_cx))
                   / 3, 4)
    assert got[9].bits_per_bigram == expect


corpus_docs = st.lists(
    st.lists(st.sampled_from("abcde"), min_size=1, max_size=6),
    min_size=1, max_size=12)


@PROP
@given(docs=corpus_docs)
@pytest.mark.slow
def test_cluster_canonical_matches_naive_union_find(spark, query, docs, tmp_path):
    """dedup_cluster_canonical vs an independent naive pipeline on random
    tiny-vocab corpora: exact shingle-set Jaccard >= 0.9 graph ->
    union-find -> keep longest (ties lowest id) per component, singletons
    included."""
    import shutil
    rows = [(i, " ".join(toks), "en", "web", 0)
            for i, toks in enumerate(docs)]
    out = str(tmp_path / "cc")
    shutil.rmtree(out, ignore_errors=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.mode("overwrite").parquet(f"{out}/documents.parquet")

    got = {(r.component, r.canonical_doc, r.n_members, r.doc_len)
           for r in query("dedup_cluster_canonical", out).collect()}

    def shingles(toks):
        if len(toks) >= 3:
            return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        return {" ".join(toks)}

    sh = {i: shingles(t) for i, t in enumerate(docs)}
    parent = list(range(len(docs)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            inter = len(sh[i] & sh[j])
            if inter and inter / len(sh[i] | sh[j]) >= 0.9:
                parent[find(j)] = find(i)
    comps: dict = {}
    for i in range(len(docs)):
        comps.setdefault(find(i), []).append(i)
    expect = set()
    for members in comps.values():
        label = min(members)
        text_len = {i: len(" ".join(docs[i])) for i in members}
        best = sorted(members, key=lambda i: (-text_len[i], i))[0]
        expect.add((label, best, len(members), text_len[best]))
    assert got == expect, (sorted(got), sorted(expect))


def test_token_pagerank_vocab_cap_bounds_the_graph(spark, query):
    """vocab_cap must restrict the graph to the top-V tokens by corpus
    frequency (deterministic ties) and stay the identity above the
    vocabulary size."""
    from tests.conftest import SF_DIR
    from spark_sentiment_spark.plans.corpus_queries import token_pagerank
    from spark_sentiment_spark.plans.registry import load
    from pyspark.sql import functions as F

    capped = token_pagerank(spark, SF_DIR, vocab_cap=5).collect()
    assert 0 < len(capped) <= 5

    docs = load(spark, SF_DIR, "documents")
    freq = (docs.where("text IS NOT NULL AND trim(text) <> ''")
            .select(F.explode(F.split(F.trim("text"), r"\s+")).alias("w"))
            .groupBy("w").count()
            .orderBy(F.desc("count"), "w").limit(5).collect())
    top5 = {r.w for r in freq}
    assert {r.token for r in capped} <= top5

    full = query("token_pagerank").collect()   # default cap 100k
    assert len(full) > 5   # cap far above vocab -> identity


def test_rollup_incremental_merge_semantics(spark, query, tmp_path):
    """Constructed stream pinning the three merge paths the oracle can't
    isolate: a group updated by the delta (count+count, sum+sum), a
    base-only group passing through the outer join, a delta-only group
    inserted, and an all-NULL-value group staying NULL (not 0)."""
    from datetime import datetime


    rows = [
        # (event_id, ts, user_id, event_type, value); split = Jan 2 noon
        (1, datetime(2024, 1, 1, 9), 1, "a", 1.5),    # base
        (2, datetime(2024, 1, 1, 10), 1, "a", 2.5),   # base
        (3, datetime(2024, 1, 1, 11), 1, "b", None),  # base, NULL-only group
        (4, datetime(2024, 1, 2, 8), 2, "a", 4.0),    # base (pre-noon)
        (5, datetime(2024, 1, 2, 13), 2, "a", 6.0),   # delta: MERGES (02,a)
        (6, datetime(2024, 1, 2, 14), 2, "c", 7.0),   # delta-only group
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
              " event_type string, value double") \
        .write.parquet(str(tmp_path / "events.parquet"))
    got = {(r["day"], r["event_type"]):
           (r["n_events"], r["total_value"], r["min_id"], r["max_id"])
           for r in query("events_rollup_incremental", str(tmp_path)).collect()}
    assert got == {
        ("2024-01-01", "a"): (2, 4.0, 1, 2),     # base-only, passes through
        ("2024-01-01", "b"): (1, None, 3, 3),    # all-NULL sum stays NULL
        ("2024-01-02", "a"): (2, 10.0, 4, 5),    # merged from BOTH sides
        ("2024-01-02", "c"): (1, 7.0, 6, 6),     # delta-only insert
    }


def test_langid_char_ngram_separates_constructed_languages(spark, query, tmp_path):
    """The synthetic corpus's lang labels are content-free, so the real
    check is on a constructed corpus with genuinely distinct character
    distributions: profiles trained on even doc_ids must classify every
    odd doc of each 'language' correctly (perfect diagonal), and a test
    doc sharing no trigram with any profile must fall back to 'unknown'."""

    xx = "xqx qxq xqx qxq"
    zz = "zwz wzw zwz wzw"
    rows = [
        (0, xx, "X"), (2, xx + " xqq", "X"),      # train X
        (1, xx, "X"), (3, "qxq xqx", "X"),        # test X
        (10, zz, "Z"), (12, zz + " zww", "Z"),    # train Z
        (11, zz, "Z"), (13, "wzw zwz", "Z"),      # test Z
        (5, "777 888 999", "X"),                  # test, no profile overlap
    ]
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.parquet(str(tmp_path / "documents.parquet"))
    got = {(r["lang"], r["predicted_lang"]): r["n"]
           for r in query("langid_char_ngram", str(tmp_path)).collect()}
    assert got == {("X", "X"): 2, ("Z", "Z"): 2, ("X", "unknown"): 1}


def test_cdc_state_delete_and_order_semantics(spark, query, tmp_path):
    """Constructed changelog pinning what the aggregate oracle can't
    isolate per user: the LAST op wins by (ts, event_id) — a user whose
    final event is 'error' is deleted even after earlier updates, a user
    updated after an error survives, ties on ts resolve by event_id, and
    untouched snapshot rows pass through."""
    from datetime import datetime


    t = datetime(2024, 1, 1, 12)
    t2 = datetime(2024, 1, 1, 13)
    spark.createDataFrame(
        [(1, t, 1, "purchase", 5.0), (2, t2, 1, "error", None),   # deleted
         (3, t, 2, "error", None), (4, t2, 2, "purchase", 7.0),   # revived
         (5, t, 3, "purchase", 1.0), (6, t, 3, "purchase", 9.0)], # tie: id 6
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double") \
        .write.parquet(str(tmp_path / "events.parquet"))
    spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "B"), (4, "B")],
        "c_custkey long, c_mktsegment string") \
        .write.parquet(str(tmp_path / "customer.parquet"))
    got = {r["segment"]: (r["n_present"], r["n_deleted"], r["n_untouched"],
                          r["updated_value_sum"])
           for r in query("events_cdc_state", str(tmp_path)).collect()}
    assert got == {
        "A": (1, 1, 0, 7.0),   # user 1 deleted; user 2 revived at 7.0
        "B": (2, 0, 1, 9.0),   # user 3 tie -> event 6 (9.0); user 4 untouched
    }


def test_search_phrase_counts_overlaps_and_zero_hits(spark, query, tmp_path):
    """Positional semantics the aggregate output can't show on the real
    corpus: 'x x x' contains the phrase 'x x' TWICE (overlapping — a
    substring replace-count would say once), and probe phrases with no
    hits still report a zero row."""
    from spark_sentiment_spark.plans.text_queries import _PHRASES

    w1, w2 = _PHRASES[0]                      # ('table', 'scan')
    rows = [(1, f"{w1} {w1} {w1}" if w1 == w2 else f"{w1} {w2} junk"),
            (2, f"a {w1} {w2} b {w1} {w2}"),  # two non-overlapping hits
            (3, "nothing here")]
    if w1 != w2:
        rows.append((4, f"{w1} {w1} {w2}"))   # hit at position 2 only
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(str(tmp_path / "documents.parquet"))
    got = {r["phrase"]: (r["n_docs"], r["n_matches"])
           for r in query("search_phrase", str(tmp_path)).collect()}
    assert got[f"{w1} {w2}"] == (3, 4)
    for a, b in _PHRASES[1:]:
        assert got[f"{a} {b}"] == (0, 0)      # zero-hit phrases report


def test_search_boolean_requires_all_terms(spark, query, tmp_path):
    """AND semantics: a doc with all but one query term must not match."""
    from spark_sentiment_spark.plans.text_queries import _BOOL_QUERIES

    qid, terms = _BOOL_QUERIES[0]             # ('q1', [spark, join, window])
    rows = [(1, " ".join(terms)),             # all terms -> match
            (2, " ".join(terms[:-1])),        # missing one -> no match
            (3, " ".join(terms) + " extra " + terms[0])]   # dups fine
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(str(tmp_path / "documents.parquet"))
    got = {r["qid"]: (r["n_docs"], r["first_doc"], r["last_doc"])
           for r in query("search_boolean_and", str(tmp_path)).collect()}
    assert got[qid] == (2, 1, 3)


def test_audit_referential_detects_orphans(spark, query, tmp_path):
    """The testdata is referentially clean (all-zero orphans), so the
    detection path is pinned on a constructed broken schema: known
    orphan counts on two edges, zero on the rest."""
    from tests.conftest import SF_DIR

    # copy the small tables, then break two edges
    for t in ["orders", "part", "supplier", "customer", "events"]:
        spark.read.parquet(f"{SF_DIR}/{t}.parquet") \
            .write.parquet(str(tmp_path / f"{t}.parquet"))
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(100)
    from pyspark.sql import functions as F
    li = li.withColumn(
        "l_orderkey",
        F.when(F.col("l_linenumber") == 1, F.lit(-999)).otherwise(
            F.col("l_orderkey")))                 # orphan some lineitems
    li.write.parquet(str(tmp_path / "lineitem.parquet"))
    n_orphaned = li.where(F.col("l_orderkey") == -999).count()
    assert n_orphaned > 0

    got = {r["fk"]: (r["n_child"], r["n_orphans"])
           for r in query("audit_referential", str(tmp_path)).collect()}
    assert got["lineitem->orders"] == (100, n_orphaned)
    assert got["lineitem->part"][1] == 0
    assert got["orders->customer"][1] == 0


_simjoin_texts = st.lists(st.text(alphabet="ab ", min_size=0, max_size=30),
                          min_size=0, max_size=10)


@PROP
@given(texts=_simjoin_texts)
def test_simjoin_prefix_matches_naive_on_random_corpora(spark, query, texts,
                                                        tmp_path_factory):
    """The prefix filter's losslessness THEOREM on generated corpora:
    dedup_simjoin_prefix (prefix-pruned candidates) must equal a naive
    python all-pairs bigram-set Jaccard join — including empty docs,
    single-token docs, duplicate texts, and document-frequency ties."""
    from spark_sentiment_spark.plans.dedup_queries import (
        _SIMJOIN_DEN, _SIMJOIN_NUM)

    tmp = tmp_path_factory.mktemp("simprop")
    rows = [(i, t) for i, t in enumerate(texts)]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.mode("overwrite").parquet(str(tmp / "documents.parquet"))
    got = {(r["doc_a"], r["doc_b"]): (r["n_shared"], r["n_union"])
           for r in query("dedup_simjoin_prefix", str(tmp)).collect()}

    def bigrams(text):
        t = text.lower().split(" ")
        return ({f"{x} {y}" for x, y in zip(t, t[1:])} if len(t) >= 2
                else {" ".join(t)})

    live = [(i, t) for i, t in rows if t is not None and t.strip() != ""]
    sets = {i: bigrams(t) for i, t in live}
    want = {}
    ids = sorted(sets)
    for ai, a in enumerate(ids):
        for b in ids[ai + 1:]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and _SIMJOIN_DEN * inter >= _SIMJOIN_NUM * union:
                want[(a, b)] = (inter, union)
    assert got == want


_cdc_events = st.lists(
    st.tuples(st.integers(0, 200),        # ts offset (hours)
              st.integers(0, 3),          # user_id
              st.sampled_from(["purchase", "view", "error"]),
              st.one_of(st.none(), st.integers(0, 9))),
    min_size=0, max_size=25)


@PROP
@given(evs=_cdc_events)
def test_cdc_state_matches_python_fold(spark, query, evs, tmp_path_factory):
    """events_cdc_state vs an independent per-user python fold over
    random changelogs: last op by (ts, event_id) wins, 'error' deletes,
    NULL values pass through the sum untouched, untouched snapshot rows
    count as present."""
    from datetime import datetime, timedelta


    tmp = tmp_path_factory.mktemp("cdcprop")
    base = datetime(2024, 1, 1)
    rows = [(i, base + timedelta(hours=h), u, ty,
             float(v) if v is not None else None)
            for i, (h, u, ty, v) in enumerate(evs)]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
              " event_type string, value double") \
        .write.mode("overwrite").parquet(str(tmp / "events.parquet"))
    cust = [(0, "X"), (1, "X"), (2, "Y"), (3, "Y")]
    spark.createDataFrame(cust, "c_custkey long, c_mktsegment string") \
        .write.mode("overwrite").parquet(str(tmp / "customer.parquet"))

    got = {r["segment"]: (r["n_present"], r["n_deleted"], r["n_untouched"],
                          r["updated_value_sum"])
           for r in query("events_cdc_state", str(tmp)).collect()}

    last = {}
    for eid, ts, u, ty, v in rows:
        if u not in last or (ts, eid) > (last[u][0], last[u][1]):
            last[u] = (ts, eid, ty, v)
    want = {}
    for seg in ["X", "Y"]:
        users = [c for c, s in cust if s == seg]
        present = deleted = untouched = 0
        vals = []
        for u in users:
            if u not in last:
                present += 1
                untouched += 1
            elif last[u][2] == "error":
                deleted += 1
            else:
                present += 1
                if last[u][3] is not None:
                    vals.append(last[u][3])
        want[seg] = (present, deleted, untouched,
                     round(sum(vals), 4) if vals else None)
    assert got == want


_rd_events = st.lists(
    st.tuples(st.integers(0, 7200),       # ts offset seconds (2h span)
              st.integers(0, 2),          # user_id
              st.sampled_from(["a", "b", "c"])),
    min_size=0, max_size=30)


@PROP
@given(evs=_rd_events)
def test_rolling_distinct_matches_python_windows(spark, query, evs,
                                                 tmp_path_factory):
    """events_rolling_distinct vs per-event python set arithmetic on
    random streams: the trailing-hour distinct-type count is over ALL
    same-user events with ts in [t-1h, t] — RANGE peer semantics mean
    duplicate timestamps see each other regardless of row order."""
    from datetime import datetime, timedelta


    tmp = tmp_path_factory.mktemp("rdprop")
    base = datetime(2024, 1, 1)
    rows = [(i, base + timedelta(seconds=s), u, ty, None, None)
            for i, (s, u, ty) in enumerate(evs)]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
              " event_type string, value double, props string") \
        .write.mode("overwrite").parquet(str(tmp / "events.parquet"))
    got = {r["event_id"]: r["n_types_1h"]
           for r in query("events_rolling_distinct", str(tmp)).collect()}
    want = {}
    for eid, ts, u, ty, _, _ in rows:
        want[eid] = len({t2 for _, ts2, u2, t2, _, _ in rows
                         if u2 == u and ts - timedelta(hours=1) <= ts2 <= ts})
    assert got == want


# --- link_parts_fuzzy / token_burstiness invariants -------------------------

_words = st.text(alphabet="abcde ", min_size=0, max_size=12)


@PROP
@given(pairs=st.lists(st.tuples(_words, _words), min_size=1, max_size=30))
def test_length_filter_is_a_levenshtein_lower_bound(spark, pairs):
    """link_parts_fuzzy's |len(a)-len(b)| <= 2 prefilter is LOSSLESS for
    a lev <= 3 matcher iff |len diff| is a true lower bound on edit
    distance — pin that inequality on Spark's own levenshtein (each
    insertion/deletion changes length by one, so no edit script can
    close a length gap faster than one per edit)."""
    df = spark.createDataFrame(pairs, "a string, b string")
    viol = df.filter(
        F.levenshtein("a", "b") < F.abs(F.length("a") - F.length("b")))
    assert viol.count() == 0


@PROP
@given(counts=st.lists(st.integers(1, 50), min_size=1, max_size=25))
def test_burstiness_integer_formula_matches_float_vmr(spark, counts):
    """token_burstiness' integer VMR — (df·Σc² − (Σc)²)·1e6 // (df·Σc) —
    equals floor(1e6 · variance/mean) of the per-doc counts (population
    variance over containing docs), and is non-negative by
    Cauchy–Schwarz with equality iff all counts are equal."""
    df = len(counts)
    tf = sum(counts)
    sq = sum(c * c for c in counts)
    got = (df * sq - tf * tf) * 1_000_000 // (df * tf)
    mean = tf / df
    var = sum((c - mean) ** 2 for c in counts) / df
    import math
    want = math.floor(1_000_000 * var / mean + 1e-6)
    assert abs(got - want) <= 1  # exact integer form vs float reference
    assert got >= 0
    if len(set(counts)) == 1:
        assert got == 0


# --- curation-pass stage consistency -----------------------------------------


def test_curate_gopher_gate_stage_agrees_with_quality_gopher_rules(spark, query):
    """The composed Gopher curation pass and the standalone published
    gate must be the SAME gate: on the fixture, every non-benchmark doc
    the standalone gate rejects carries exactly the standalone reason as
    its curation verdict, and every doc the gate keeps can only fall to
    a LATER stage (duplicate / contaminated) or survive. A drift here
    means the composed pass paraphrased the published thresholds instead
    of reusing them."""
    from tests.conftest import SF_DIR

    gate = {r["doc_id"]: r for r in
            query("quality_gopher_rules").collect()}
    cur = {r["doc_id"]: r["reason"] for r in
           query("curate_corpus_gopher").collect()}
    assert set(cur) == set(gate) | {d for d in cur if d < 5}
    for doc_id, reason in cur.items():
        if doc_id < 5:
            assert reason == "benchmark"
        elif not gate[doc_id]["keep"]:
            assert reason == gate[doc_id]["reason"], (doc_id, reason)
        else:
            assert reason in ("duplicate", "contaminated", "kept"), \
                (doc_id, reason)


@PROP
@given(rows=docs_strategy, budget=st.sampled_from([1, 4, 16]))
def test_pack_spans_match_sequential_packer(spark, rows, budget):
    """The span table against a sequential Python packer on GENERATED
    corpora: for every document, the emitted segments are exactly the
    slices a one-token-at-a-time concat-and-chunk writer produces —
    same windows, same in-document offsets, same in-window positions —
    and per-window segments tile gaplessly."""
    from spark_sentiment_spark.plans.pipeline_queries import _pack_spans

    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = [(r["doc_id"], r["source"], r["window_id"], r["tok_start"],
            r["seg_len"], r["pos_in_window"])
           for r in _pack_spans(df.where(F.col("text").isNotNull()),
                                budget=budget).collect()]

    # sequential reference: walk each shard's docs in doc_id order,
    # emitting a segment each time the window boundary is crossed
    want = []
    by_src: dict = {}
    for doc_id, text, source in sorted(rows, key=lambda t: (t[2], t[0])):
        if text is None:
            continue
        toks = len(text.strip().split()) if text.strip() else 1
        start = by_src.get(source, 0)
        by_src[source] = start + toks
        off = 0
        while off < toks:
            g = start + off                      # global token offset
            w = g // budget
            take = min(toks - off, (w + 1) * budget - g)
            want.append((doc_id, source, w, off, take, g - w * budget))
            off += take
    assert sorted(got) == sorted(want)


@PROP
@given(rows=docs_strategy, budget=st.sampled_from([7, 40, 90]))
def test_mixture_upsample_invariants_on_generated_corpora(spark, rows,
                                                          budget):
    """Order-robust upsampling invariants on GENERATED corpora (exact
    quota values are float-sum-order sensitive, so the property pins
    the integer contract instead): the budget is consumed exactly
    whenever any source survives the live filter; within a source the
    picks are 1..q gapless; each doc's repeat count is floor or ceil of
    q/n; epoch == (pick-1) div n; and the pick→doc mapping follows the
    md5 rank cyclically."""
    import hashlib
    from collections import Counter

    from spark_sentiment_spark.operators.mixture import (md5_ranked,
                                                         mixture_quotas)
    from spark_sentiment_spark.plans.pipeline_queries import _n_tokens_col

    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    live = (df.where(F.col("text").isNotNull() & (F.trim("text") != ""))
            .select("doc_id", "source", _n_tokens_col().alias("n_tokens")))
    quota = mixture_quotas(live, budget)
    ks = (quota.where(F.col("q") >= 1)
          .select("source", "n_docs",
                  F.explode(F.sequence(F.lit(1).cast("long"),
                                       F.col("q"))).alias("k")))
    slots = ks.select(
        "source", "n_docs", "k",
        (((F.col("k") - 1) % F.col("n_docs")) + 1).alias("pick_t"))
    out = (md5_ranked(live).withColumnRenamed("pick", "pick_t")
           .join(F.broadcast(slots), ["source", "pick_t"])
           .select("doc_id", "source", F.col("k").alias("pick"),
                   F.floor((F.col("k") - 1) / F.col("n_docs"))
                   .cast("bigint").alias("epoch"))
           .collect())

    live_rows = [(d, s, t) for d, t, s in rows
                 if t is not None and t.strip() != ""]
    if not live_rows:
        assert out == []
        return
    assert len(out) == budget  # uncapped quotas sum to the budget

    docs_by_src: dict = {}
    for d, s, _t in live_rows:
        docs_by_src.setdefault(s, []).append(d)
    per_src_q = Counter(r.source for r in out)
    for s, q in per_src_q.items():
        mine = sorted(r.pick for r in out if r.source == s)
        assert mine == list(range(1, q + 1)), s   # gapless slots
        n = len(docs_by_src[s])
        reps = Counter(r.doc_id for r in out if r.source == s)
        for d, c in reps.items():
            assert c in (q // n, q // n + (1 if q % n else 0)), (s, d)
        # md5-cyclic mapping: slot k -> md5 rank ((k-1) mod n) + 1
        rank = {d: i + 1 for i, d in enumerate(sorted(
            docs_by_src[s],
            key=lambda d: (hashlib.md5(str(d).encode()).hexdigest(), d)))}
        for r in out:
            if r.source == s:
                assert rank[r.doc_id] == ((r.pick - 1) % n) + 1
                assert r.epoch == (r.pick - 1) // n
