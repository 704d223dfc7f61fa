"""Training-data pipeline queries: sequence packing, deterministic splits,
per-source caps, and vocabulary coverage over the ``documents`` table.

These are the dataset-preparation steps a large-scale LLM training pipeline
runs downstream of dedup/quality filtering (SURVEY.md §7.4). Each is a pure
DataFrame plan with a DuckDB oracle twin; none touches Python row-at-a-time.

Scale posture (100 TB): every query partitions by a bounded key (``source``)
or aggregates to vocabulary size before any global ordering. The only global
windows run over top-k-bounded inputs (≤100 rows).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_sentiment_spark.functions.text import (WS_TOKENS_SQL, has_text,
                                                  token_bigrams, ws_tokens)
from spark_sentiment_spark.operators.event_windows import ANOMALY_SQL
from spark_sentiment_spark.operators.mixture import (TEMP_ALPHA,
                                                     mixture_quota_pick)
from spark_sentiment_spark.operators.multimodal import HEADERS_SQL
from spark_sentiment_spark.operators.quality import (C4_FEATS_SQL,
                                                     C4_KEEP_SQL,
                                                     C4_REASON_SQL,
                                                     GOPHER_FEATS_SQL,
                                                     GOPHER_KEEP_SQL,
                                                     GOPHER_REASON_SQL,
                                                     c4_feats, gopher_feats,
                                                     stopword_langid)
from spark_sentiment_spark.operators.vectors import (as_double, dot,
                                                     ivf_centroids,
                                                     ivf_ranked, norm,
                                                     row_count,
                                                     unit_vector_frame)
from spark_sentiment_spark.plans.registry import (load, register,
                                                  track_persist,
                                                  track_staging_dir)


def _n_tokens_col():
    return F.size(ws_tokens()).cast("bigint")


# --- Sequence packing (GPT-style concat-and-chunk window assignment) --------

PACK_BUDGET = 256

PACK_SQL = f"""
SELECT doc_id,
       source,
       n_tokens,
       CAST(floor((cum - n_tokens) / {PACK_BUDGET}.0) AS BIGINT) AS window_id
FROM (
  SELECT doc_id, source,
         CAST(length({WS_TOKENS_SQL}) AS BIGINT) AS n_tokens,
         sum(CAST(length({WS_TOKENS_SQL}) AS BIGINT)) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM documents
  WHERE text IS NOT NULL
)
ORDER BY source, doc_id
"""


@register(sql=PACK_SQL, bench=True)
def pack_sequences(spark, sf_dir):
    """Assign each document the context-window index where its first token
    lands when the corpus is concatenated shard-by-shard and chunked into
    fixed token budgets (the standard LLM pretraining packing layout).

    Packing is per ``source`` shard, so the running sum parallelizes across
    shards: one shuffle on the bounded shard key, no global ordering. At
    100 TB the per-shard window is the scalable formulation — a single
    global running sum would serialize the corpus through one task.
    """
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    n_tok = _n_tokens_col()
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (docs
            .select("doc_id", "source", n_tok.alias("n_tokens"))
            .withColumn("cum", F.sum("n_tokens").over(w))
            .select(
                "doc_id", "source", "n_tokens",
                F.floor((F.col("cum") - F.col("n_tokens")) / PACK_BUDGET)
                 .cast("bigint").alias("window_id"))
            .orderBy("source", "doc_id"))


# --- Token-span packing (documents SPLIT across window boundaries) ----------

PACK_SPANS_SQL = f"""
SELECT doc_id, source, n_tokens,
       CAST(w AS BIGINT) AS window_id,
       CAST(greatest(start, w * {PACK_BUDGET}) - start AS BIGINT)
         AS tok_start,
       CAST(least(start + n_tokens - 1, (w + 1) * {PACK_BUDGET} - 1)
            - greatest(start, w * {PACK_BUDGET}) + 1 AS BIGINT) AS seg_len,
       CAST(greatest(start, w * {PACK_BUDGET}) - w * {PACK_BUDGET} AS BIGINT)
         AS pos_in_window
FROM (
  SELECT doc_id, source, n_tokens, cum - n_tokens AS start, cum
  FROM (
    SELECT doc_id, source,
           CAST(length({WS_TOKENS_SQL}) AS BIGINT) AS n_tokens,
           sum(CAST(length({WS_TOKENS_SQL}) AS BIGINT)) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM documents
    WHERE text IS NOT NULL
  )
), LATERAL unnest(generate_series(
     CAST(floor(start / {PACK_BUDGET}.0) AS BIGINT),
     CAST(floor((cum - 1) / {PACK_BUDGET}.0) AS BIGINT))) AS t(w)
ORDER BY source, window_id, pos_in_window, doc_id
"""


@register(sql=PACK_SPANS_SQL)
def pack_sequences_spans(spark, sf_dir):
    """`pack_sequences` taken to its production conclusion: the
    concat-and-chunk layout SPLITS documents across window boundaries
    (GPT-style packing trains on every token — a document rarely ends
    exactly at the context edge), so the trainer needs the SPAN table,
    not just each document's first window. One row per (document,
    window) segment: which slice of the document (``tok_start``,
    ``seg_len``) lands in which window at which offset
    (``pos_in_window``). A document spanning k window boundaries emits
    k+1 rows; interior windows are exactly full by construction.

    Same per-source running sum as `pack_sequences` (its window_id ==
    this query's FIRST segment's window_id per doc — pinned in
    tests/test_pipeline_queries.py along with the wall-to-wall
    invariants: per-doc seg_len sums to n_tokens, every non-final
    window sums to exactly {PACK_BUDGET} tokens with no gaps), then one
    native `sequence()` explode over the occupied window range — pure
    integer arithmetic, no Python, engine-exact.

    Scale: the explode emits ~total_tokens/{PACK_BUDGET} extra rows
    (one per boundary crossed) — linear in corpus tokens, the same
    cardinality class as the window table a trainer materializes
    anyway; the only shuffle is the per-source running-sum window
    `pack_sequences` already pays."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return _pack_spans(docs)


def _pack_spans(docs, budget: int = PACK_BUDGET):
    """The span projection over any (doc_id, source, text) frame —
    shared by the registered query and the hypothesis property test
    (tests/test_properties.py drives it on GENERATED corpora against a
    sequential Python packer, so the tiling invariants hold for every
    corpus shape, not just the fixture)."""
    n_tok = _n_tokens_col()
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    spans = (docs
             .select("doc_id", "source", n_tok.alias("n_tokens"))
             .withColumn("cum", F.sum("n_tokens").over(w))
             .withColumn("start", F.col("cum") - F.col("n_tokens"))
             .withColumn("w", F.explode(F.sequence(
                 F.floor(F.col("start") / budget),
                 F.floor((F.col("cum") - 1) / budget)))))
    seg_start = F.greatest(F.col("start"), F.col("w") * budget)
    seg_end = F.least(F.col("cum") - 1,
                      (F.col("w") + 1) * F.lit(budget) - 1)
    return (spans.select(
                "doc_id", "source", "n_tokens",
                F.col("w").cast("bigint").alias("window_id"),
                (seg_start - F.col("start")).cast("bigint")
                .alias("tok_start"),
                (seg_end - seg_start + 1).cast("bigint").alias("seg_len"),
                (seg_start - F.col("w") * budget).cast("bigint")
                .alias("pos_in_window"))
            .orderBy("source", "window_id", "pos_in_window", "doc_id"))


# --- Deterministic hash split (train/holdout) -------------------------------

SPLIT_SQL = """
SELECT doc_id,
       substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f0'
            THEN 'train' ELSE 'holdout' END AS split
FROM documents
ORDER BY doc_id
"""


@register(sql=SPLIT_SQL)
def split_by_hash(spark, sf_dir):
    """Stable train/holdout assignment from the first md5 byte of the doc id
    (240/256 ≈ 93.75% train). Content-addressed splits survive reshuffles,
    re-ingestion, and incremental appends — unlike randomSplit, the same
    document lands in the same split on every run and every engine (md5 is
    engine-independent, unlike Spark's Murmur3 `hash`).

    Narrow (no shuffle): a scan + projection, fully pushed down.
    """
    docs = load(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return (docs.select(
                "doc_id",
                bucket.alias("bucket"),
                F.when(bucket < "f0", "train").otherwise("holdout")
                 .alias("split"))
            .orderBy("doc_id"))


# --- Per-source document cap (C4/RefinedWeb-style domain balancing) ---------

CAP_PER_SOURCE = 10

CAP_SQL = f"""
SELECT doc_id, source, rank_in_source
FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY doc_id)
           AS rank_in_source
  FROM documents
)
WHERE rank_in_source <= {CAP_PER_SOURCE}
ORDER BY source, doc_id
"""


@register(sql=CAP_SQL)
def cap_per_source(spark, sf_dir):
    """Keep at most N documents per source — the domain-balancing step that
    stops a handful of giant crawl domains from dominating the training mix.

    One shuffle on ``source``; rank + filter happens inside the window
    partition, so the dropped tail never crosses the network again. With a
    skewed domain distribution, AQE's skew-join split handles the hot
    partitions (see operators/skew.py for the salted variant).
    """
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    return (docs
            .select("doc_id", "source",
                    F.row_number().over(w).alias("rank_in_source"))
            .where(F.col("rank_in_source") <= CAP_PER_SOURCE)
            .orderBy("source", "doc_id"))


# --- Vocabulary coverage profile (top-k cumulative token mass) --------------

VOCAB_TOPK = 100

VOCAB_SQL = f"""
WITH toks AS (
  SELECT unnest({WS_TOKENS_SQL}) AS token
  FROM documents WHERE text IS NOT NULL
),
counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM counts),
top AS (SELECT token, cnt FROM counts ORDER BY cnt DESC, token LIMIT {VOCAB_TOPK})
SELECT token, cnt,
       round(CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / (SELECT total FROM tot), 6) AS cum_frac
FROM top
ORDER BY cnt DESC, token
"""


@register(sql=VOCAB_SQL, bench=True)
def vocab_coverage(spark, sf_dir):
    """Top-k tokens with cumulative corpus coverage — the Zipf profile used
    to size tokenizer vocabularies and spot boilerplate-dominated corpora.

    The corpus explodes once into a partial+final count (map-side combine
    collapses each partition to its local vocabulary before the shuffle).
    The global window runs only over the top-k rows (≤{VOCAB_TOPK}), and the
    corpus total is a 1-row broadcast scalar, so nothing vocabulary-sized or
    corpus-sized ever passes through a single partition.
    """
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    # `counts` feeds BOTH the corpus
    # total and the top-k — unpersisted, those were two independent plan
    # branches, each re-scanning and re-exploding the whole corpus
    # (measured: 2 scans, 2 Generates, 2 count
    # aggs). The term-count table is |vocabulary| narrow rows (bounded —
    # vocab << corpus at any scale), so persisting it halves the token
    # pass at 100 TB for a trivially bounded cache.
    counts = track_persist(
        docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("token"))
        .groupBy("token").agg(F.count("*").alias("cnt")))
    total = counts.agg(F.sum("cnt").cast("double").alias("total"))
    top = counts.orderBy(F.desc("cnt"), "token").limit(VOCAB_TOPK)
    w = (Window.orderBy(F.desc("cnt"), "token")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (top.crossJoin(F.broadcast(total))
            .select(
                "token", "cnt",
                F.round(F.sum("cnt").over(w).cast("double") / F.col("total"), 6)
                 .alias("cum_frac"))
            .orderBy(F.desc("cnt"), "token"))


# --- Prefix dedup (boilerplate-headed near-dup elimination) -----------------

PREFIX_K = 4

PREFIX_SQL = f"""
SELECT doc_id,
       h AS prefix_hash,
       CAST(cnt AS BIGINT) AS n_dups
FROM (
  SELECT doc_id, h,
         row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn,
         count(*) OVER (PARTITION BY h) AS cnt
  FROM (
    SELECT doc_id,
           md5(array_to_string((string_split(lower(text), ' '))[1:{PREFIX_K}],
                               ' ')) AS h
    FROM documents WHERE text IS NOT NULL
  )
)
WHERE rn = 1
ORDER BY doc_id
"""


def _prefix_hash_col():
    pref = F.array_join(
        F.slice(F.split(F.lower(F.col("text")), " ", -1), 1, PREFIX_K), " ")
    return F.md5(pref.cast("binary"))


def _prefix_group_first(spark, sf_dir, order, *cols):
    """The first document by ``order`` of each prefix-hash group, with
    the group's size n_dups and ``cols``: rank and count share one window
    partitioning, a single exchange."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    w = Window.partitionBy("prefix_hash").orderBy(*order)
    wc = Window.partitionBy("prefix_hash")
    return (docs.select("doc_id", _prefix_hash_col().alias("prefix_hash"),
                        *cols)
            .withColumn("rn", F.row_number().over(w))
            .withColumn("n_dups", F.count("*").over(wc).cast("bigint"))
            .where(F.col("rn") == 1))


@register(sql=PREFIX_SQL)
def dedup_prefix(spark, sf_dir):
    """Keep-first dedup on the first K tokens — the prefix-dedup pass that
    collapses boilerplate-headed scrapes (cookie banners, license headers)
    exact-hash dedup misses. Emits survivors with their duplicate-group
    size; unlike `dedup_exact` this genuinely eliminates rows on the
    synthetic corpus (25 collisions at sf0.01).

    One hash shuffle on the prefix hash; rank + group-count share the same
    window partitioning, so it is a single exchange end-to-end.
    """
    return (_prefix_group_first(spark, sf_dir, ("doc_id",))
            .select("doc_id", "prefix_hash", "n_dups")
            .orderBy("doc_id"))


KEEP_BEST_SQL = f"""
SELECT doc_id,
       h AS prefix_hash,
       CAST(cnt AS BIGINT) AS n_dups,
       CAST(len AS BIGINT) AS doc_len
FROM (
  SELECT doc_id, h, len,
         row_number() OVER (PARTITION BY h ORDER BY len DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY h) AS cnt
  FROM (
    SELECT doc_id,
           md5(array_to_string((string_split(lower(text), ' '))[1:{PREFIX_K}],
                               ' ')) AS h,
           length(text) AS len
    FROM documents WHERE text IS NOT NULL
  )
)
WHERE rn = 1
ORDER BY doc_id
"""


@register(sql=KEEP_BEST_SQL)
def dedup_keep_best(spark, sf_dir):
    """Quality-aware canonical selection: within each prefix-duplicate
    group keep the LONGEST member (ties to the lowest doc_id), not the
    first-crawled one. Real curation pipelines keep the best-quality
    cluster member — a truncated scrape and its full-length original
    share a boilerplate prefix, and keep-first (`dedup_prefix`) would
    keep whichever crawled earlier. Unlike exact-hash clusters (where
    every member is byte-identical and "best" is vacuous), prefix
    clusters genuinely differ after token {PREFIX_K}.

    Same single-exchange shape as `dedup_prefix`: rank and group-count
    share one window partitioning on the prefix hash; the ranking key is
    (doc_len DESC, doc_id), computed before the shuffle."""
    return (_prefix_group_first(
        spark, sf_dir, (F.desc("doc_len"), "doc_id"),
        F.length("text").cast("bigint").alias("doc_len"))
            .select("doc_id", "prefix_hash", "n_dups", "doc_len")
            .orderBy("doc_id"))


# --- Incremental dedup (new batch vs indexed corpus) ------------------------

INCREMENTAL_SQL = f"""
WITH p AS (
  SELECT doc_id,
         md5(array_to_string((string_split(lower(text), ' '))[1:{PREFIX_K}],
                             ' ')) AS h
  FROM documents WHERE text IS NOT NULL
),
corpus AS (SELECT DISTINCT h FROM p WHERE doc_id % 5 <> 4),
inc AS (
  SELECT doc_id, h,
         row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
  FROM p WHERE doc_id % 5 = 4
)
SELECT doc_id, h AS prefix_hash
FROM inc
WHERE rn = 1 AND h NOT IN (SELECT h FROM corpus)
ORDER BY doc_id
"""


@register(sql=INCREMENTAL_SQL, bench=True)
def dedup_incremental(spark, sf_dir):
    """Production dedup shape: an incoming batch (here the doc_id%5==4
    slice) is deduped within itself (keep-first) and anti-joined against
    the already-ingested corpus's content-hash index, so only genuinely
    new documents land. 4 of 100 incoming docs are corpus-duplicates at
    sf0.01.

    Both sides hash-partition on the content hash: one shuffle each, then
    a co-partitioned anti-join. At 100 TB the corpus index is a bucketed
    table on `h` (sources/bucketing.py), making the corpus side shuffle-free
    on every nightly batch.

    The narrow (doc_id, hash, slice) frame is persisted because both
    sides slice it: one corpus scan and one hash pass instead of two.
    """
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    hashed = track_persist(docs.select(
        "doc_id", _prefix_hash_col().alias("prefix_hash"),
        (F.col("doc_id") % 5).alias("__m")))
    corpus = (hashed.where(F.col("__m") != 4)
              .select("prefix_hash").distinct())
    w = Window.partitionBy("prefix_hash").orderBy("doc_id")
    incoming = (hashed.where(F.col("__m") == 4)
                .withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1))
    return (incoming.join(corpus, "prefix_hash", "left_anti")
            .select("doc_id", "prefix_hash")
            .orderBy("doc_id"))


# --- Mixture sampling (deterministic per-language rates) --------------------

#: lang → md5-prefix threshold: keep iff the first 4 hex chars of
#: md5(doc_id) sort below the threshold. 'c000'/65536 = 0.75, '8000' = 0.5.
MIX_THRESHOLDS = {"en": "c000"}
MIX_DEFAULT_THRESHOLD = "8000"

MIX_SQL = """
SELECT doc_id, lang
FROM (
  SELECT doc_id, lang,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS b
  FROM documents
)
WHERE b < CASE WHEN lang = 'en' THEN 'c000' ELSE '8000' END
ORDER BY doc_id
"""


@register(sql=MIX_SQL)
def mixture_sample(spark, sf_dir):
    """Deterministic data-mixing: sample each language at its target rate
    (en 0.75, others 0.5) by comparing an md5 prefix of the doc id against
    a per-group hex threshold. Unlike `sampleBy`, membership is
    content-addressed — stable across runs, engines, and repartitioning —
    which is what a reproducible training-mix manifest needs.

    Narrow (no shuffle): scan → project → filter, all pushed down.
    """
    docs = load(spark, sf_dir, "documents")
    b = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    thresh = F.when(F.col("lang") == "en", MIX_THRESHOLDS["en"]) \
              .otherwise(MIX_DEFAULT_THRESHOLD)
    return (docs.select("doc_id", "lang", b.alias("b"))
            .where(F.col("b") < thresh)
            .select("doc_id", "lang")
            .orderBy("doc_id"))


# --- Multimodal header round-trip (construct natively, parse natively) ------


@register(sql=HEADERS_SQL)
def multimodal_headers(spark, sf_dir):
    """Round-trip proof that the multimodal binary path is real end-to-end:
    `attach_media_content` synthesizes PNG/WAV/mp4 containers with
    id-derived geometry as native byte arithmetic, `header_metadata`
    parses the bytes back — and the oracle recomputes the expected values
    purely arithmetically, so any construction/parsing bug on either side
    breaks the hash match. Scan-speed projection, no shuffle, no Python."""
    from spark_sentiment_spark.operators.multimodal import (
        attach_media_content, header_metadata)

    docs = load(spark, sf_dir, "documents")
    return (header_metadata(attach_media_content(docs))
            .orderBy("doc_id"))


# --- Salted aggregation (skew-safe groupBy, driver-checked) -----------------

SALTED_AGG_SQL = """
SELECT lang,
       count(*)                              AS n_docs,
       CAST(sum(n_chars) AS BIGINT)          AS total_chars,
       CAST(min(n_chars) AS BIGINT)          AS min_chars,
       CAST(max(n_chars) AS BIGINT)          AS max_chars
FROM documents
GROUP BY lang
ORDER BY lang
"""


@register(sql=SALTED_AGG_SQL)
def skew_salted_agg(spark, sf_dir):
    """The salted two-phase aggregation (operators/skew.py) routed through
    the driver gate: phase 1 aggregates on (lang, salt) spreading any hot
    language over 16 reducers, phase 2 merges partials on lang. The oracle
    is the PLAIN group-by — proving salting is semantically invisible.
    'en' is 44% of this corpus, exactly the hot-key shape salting exists
    for at 100 TB."""
    from spark_sentiment_spark.operators.skew import salted_agg

    docs = load(spark, sf_dir, "documents")
    out = salted_agg(
        docs, ["lang"],
        {"n_docs": F.count(F.lit(1)),
         "total_chars": F.sum("n_chars"),
         "min_chars": F.min("n_chars"),
         "max_chars": F.max("n_chars")})
    return (out.select("lang", "n_docs",
                       F.col("total_chars").cast("bigint").alias("total_chars"),
                       F.col("min_chars").cast("bigint").alias("min_chars"),
                       F.col("max_chars").cast("bigint").alias("max_chars"))
            .orderBy("lang"))


# --- Deterministic global shuffle (reproducible training order) -------------

N_SHARDS = 8

SHUFFLE_SQL = f"""
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
            AS BIGINT) AS pos
FROM (
  SELECT doc_id,
         md5(CAST(doc_id AS VARCHAR)) AS h,
         CAST(floor((strpos('0123456789abcdef',
                            substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
                    / 2.0) AS BIGINT) AS shard
  FROM documents
)
ORDER BY shard, pos
"""


def _md5_shard(h):
    """Shard of an md5 hex column: its first nibble / 2 (N_SHARDS
    shards). floor() on both sides: DuckDB's CAST(double AS BIGINT)
    rounds while Spark's truncates."""
    return F.floor(
        (F.instr(F.lit("0123456789abcdef"), F.substring(h, 1, 1)) - 1) / 2
    ).cast("bigint")


@register(sql=SHUFFLE_SQL)
def shuffle_shards(spark, sf_dir):
    """Reproducible global shuffle for training order: shard = first md5
    nibble / 2 ({N_SHARDS} shards), position = rank of the md5 within the
    shard. The ordering is content-addressed — identical on every run and
    engine — which is what resumable, audit-able training ingestion needs
    (a `rand()`-based orderBy gives a different epoch order per retry).

    One shuffle on the bounded shard key; the per-shard sort parallelizes
    across shards exactly like a writer's `repartitionByRange`.
    """
    docs = load(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    shard = _md5_shard(h)
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (docs.select("doc_id", h.alias("h"), shard.alias("shard"))
            .withColumn("pos", F.row_number().over(w).cast("bigint"))
            .select("doc_id", "shard", "pos")
            .orderBy("shard", "pos"))


# --- Composite quality gate (Gopher/C4-style filter with reasons) -----------

GATE_SQL = r"""
WITH scored AS (
  SELECT doc_id,
         CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1)                    AS alpha_ratio,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / greatest(len(string_split(text, ' ')), 1)    AS distinct_ratio,
         len(string_split(text, ' '))                     AS n_tokens
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
       CAST(n_tokens >= 16 AND n_tokens <= 4096
            AND alpha_ratio >= 0.6 AND distinct_ratio >= 0.3
            AS BOOLEAN)                                   AS keep,
       CASE WHEN n_tokens < 16 THEN 'too_short'
            WHEN n_tokens > 4096 THEN 'too_long'
            WHEN alpha_ratio < 0.6 THEN 'low_alpha'
            WHEN distinct_ratio < 0.3 THEN 'repetitive'
            ELSE 'ok' END                                 AS reason
FROM scored
ORDER BY doc_id
"""


@register(sql=GATE_SQL)
def quality_gate(spark, sf_dir):
    """The composite keep/drop gate a pretraining pipeline actually runs:
    length bounds, alpha-character ratio, and repetition (distinct-token
    ratio) folded into one verdict with a first-failing-rule reason label
    for filter-rate dashboards. Scan-speed projection, no shuffle except
    the output sort; the heuristics live in `_composite_gate`'s inner
    feature projection so each is evaluated ONCE even in interpreted
    mode (a single-layer select re-evaluated the regexp alpha ratio in
    both the verdict and the reason — CollapseProject inlines aliases,
    and interpreted mode has no subexpression elimination; measured 1.9×
    on the ×16 probe corpus)."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    gate = _composite_gate(docs)
    return (gate.select("doc_id", F.col("q_keep").alias("keep"),
                        F.col("q_reason").alias("reason"))
            .orderBy("doc_id"))


def _curate_ctes(gate_ctes: str) -> str:
    """The curation pass's full CTE chain (gate block + dedup rank +
    gram stream + contamination probe + first-failing-stage verdicts) —
    the shared WITH-body behind `_curate_sql` and the composed
    PREP_SQL, so the training-set oracle can never drift from the
    curation oracles on any stage."""
    return rf"""{gate_ctes},
ranked AS (
  SELECT doc_id,
         row_number() OVER (
           PARTITION BY md5(array_to_string(
             (string_split(lower(text), ' '))[1:{PREFIX_K}], ' '))
           ORDER BY length(text) DESC, doc_id) AS rn
  FROM gate WHERE q_keep AND doc_id >= 5
),
toks AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE text IS NOT NULL
),
grams AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
  FROM toks, LATERAL unnest(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3
),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 5),
cont AS (
  SELECT DISTINCT doc_id FROM grams
  WHERE doc_id >= 5 AND g IN (SELECT g FROM bench)
),
verdicts AS (
  SELECT g.doc_id,
         CASE WHEN g.doc_id < 5 THEN 'benchmark'
              WHEN NOT g.q_keep THEN g.q_reason
              WHEN r.rn > 1 THEN 'duplicate'
              WHEN c.doc_id IS NOT NULL THEN 'contaminated'
              ELSE 'kept' END AS reason
  FROM gate g
  LEFT JOIN ranked r ON g.doc_id = r.doc_id
  LEFT JOIN cont c ON g.doc_id = c.doc_id
)"""


def _curate_sql(gate_ctes: str) -> str:
    """Compose the curation-pass oracle from a gate CTE block (must end
    with a CTE named `gate` exposing doc_id, text, q_keep, q_reason) —
    shared by CURATE_SQL and CURATE_GOPHER_SQL so the two oracles differ
    ONLY in their gate stage, mirroring _curation_verdicts."""
    return rf"""
WITH {_curate_ctes(gate_ctes)}
SELECT doc_id, reason = 'kept' AS keep, reason
FROM verdicts
ORDER BY doc_id
"""


# The composite-gate CTE block — shared (byte-identical) by CURATE_SQL
# and the composed PREP_SQL below, so the two oracles can never drift on
# the gate stage.
_COMPOSITE_GATE_CTES = rf"""scored AS (
  SELECT doc_id, text,
         CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1)                    AS alpha_ratio,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / greatest(len(string_split(text, ' ')), 1)    AS distinct_ratio,
         len(string_split(text, ' '))                     AS n_tokens
  FROM documents WHERE text IS NOT NULL
),
gate AS (
  SELECT doc_id, text,
         n_tokens >= 16 AND n_tokens <= 4096
           AND alpha_ratio >= 0.6 AND distinct_ratio >= 0.3 AS q_keep,
         CASE WHEN n_tokens < 16 THEN 'too_short'
              WHEN n_tokens > 4096 THEN 'too_long'
              WHEN alpha_ratio < 0.6 THEN 'low_alpha'
              WHEN distinct_ratio < 0.3 THEN 'repetitive'
              ELSE 'ok' END AS q_reason
  FROM scored
)"""

CURATE_SQL = _curate_sql(_COMPOSITE_GATE_CTES)


def _gate_features():
    """(alpha ratio, distinct-token ratio, token count) of ``text``: the
    composite quality gate's three heuristics."""
    toks = F.split(F.col("text"), " ", -1)
    alpha = (F.length(F.regexp_replace("text", "[^a-zA-Z ]", ""))
             .cast("double") / F.greatest(F.length("text"), F.lit(1)))
    distinct = (F.size(F.array_distinct(toks)).cast("double")
                / F.greatest(F.size(toks), F.lit(1)))
    return alpha, distinct, F.size(toks)


def _gate_keep(alpha, distinct, n_tok):
    """The composite gate's keep verdict over its three heuristics."""
    return ((n_tok >= 16) & (n_tok <= 4096)
            & (alpha >= 0.6) & (distinct >= 0.3))


def _composite_gate(docs):
    """Stage 2 of `curate_corpus`: the composite `quality_gate` rules as
    a gate frame (doc_id, text, q_keep, q_reason).

    TWO projection layers on purpose (the `gopher_feats` shape): the
    heuristics are aliased in an inner select and the verdict/reason
    reference them by NAME. CollapseProject refuses to inline expensive
    multi-referenced aliases, so the regexp alpha ratio and the
    array_distinct run once per row instead of once per referencing
    branch — interpreted mode has no subexpression elimination (measured
    1.9× faster than one layer on `curate_corpus` at ×8-×32)."""
    alpha, distinct, n_tok = _gate_features()
    feats = docs.select("doc_id", "text", alpha.alias("__alpha"),
                        distinct.alias("__distinct"), n_tok.alias("__ntok"))
    a, d, n = F.col("__alpha"), F.col("__distinct"), F.col("__ntok")
    q_keep = _gate_keep(a, d, n)
    q_reason = (F.when(n < 16, "too_short")
                .when(n > 4096, "too_long")
                .when(a < 0.6, "low_alpha")
                .when(d < 0.3, "repetitive")
                .otherwise("ok"))
    return feats.select("doc_id", "text", q_keep.alias("q_keep"),
                        q_reason.alias("q_reason"))


@register(sql=CURATE_SQL)
def curate_corpus(spark, sf_dir):
    """The whole curation pass as ONE declarative plan — the query a
    pretraining-data user actually runs nightly, composed from the
    catalog's stages in pipeline order with first-failing-stage verdicts:

      1. benchmark exclusion (doc_id < 5 stands in for the eval suite),
      2. quality gate (the `quality_gate` rules, sub-reason preserved),
      3. prefix keep-best dedup among quality survivors (`dedup_keep_best`
         semantics — dropping a low-quality doc must not also kill its
         duplicate twin, so dedup ranks only gate-passing docs),
      4. 3-gram benchmark decontamination (`decontaminate_ngram`).

    Emits the per-doc manifest (doc_id, keep, reason) that drives both the
    filtered write and the loss-rate dashboard. Composition stays one plan
    (no materialization between stages): Catalyst pushes the shared scan,
    the gate is scan-speed projection, the dedup rank is one window on the
    prefix hash over gate survivors, and the contamination probe is the
    broadcast-benchmark explode from `decontaminate_ngram` — three
    shuffles end-to-end, all on bounded keys, nothing quadratic."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return _curation_verdicts(docs, _composite_gate(docs))


def _dedup_ranked(gate):
    """Stage 3 of the curation pass: prefix keep-best rank over gate
    survivors — one window on the prefix hash."""
    w = (Window.partitionBy("prefix_hash")
         .orderBy(F.desc(F.length("text")), "doc_id"))
    return (gate.where(F.col("q_keep") & (F.col("doc_id") >= 5))
            .select("doc_id", "text",
                    _prefix_hash_col().alias("prefix_hash"))
            .withColumn("rn", F.row_number().over(w))
            .select("doc_id", "rn"))


def _contaminated(docs):
    """Stage 4 of the curation pass: 3-gram explode → broadcast
    benchmark-gram probe → distinct contaminated doc ids."""
    toks = F.split(F.col("text"), " ", -1)
    grams = (docs.select("doc_id", toks.alias("__t"))
             .where(F.size("__t") >= 3)
             .select("doc_id", F.explode(F.expr(
                 "transform(sequence(0, size(__t) - 3),"
                 " i -> concat(__t[i], ' ', __t[i+1], ' ', __t[i+2]))"
             )).alias("g")))
    bench = grams.where(F.col("doc_id") < 5).select("g").distinct()
    return (grams.where(F.col("doc_id") >= 5)
            .join(F.broadcast(bench), "g")
            .select("doc_id").distinct()
            .withColumn("is_cont", F.lit(True)))


def _curation_verdicts(docs, gate, ranked=None):
    """Stages 1+3+4 of the curation pass (benchmark exclusion, prefix
    keep-best dedup among gate survivors, 3-gram decontamination) over
    any gate frame (doc_id, text, q_keep, q_reason) — shared by
    `curate_corpus` (composite `quality_gate` rules) and
    `curate_corpus_gopher` (the published Gopher thresholds), so the
    two passes differ ONLY in their gate stage. A prebuilt `ranked`
    (doc_id, rn) frame replaces the inline dedup rank.

    The inline dedup rank is one window over the gate frame partitioned
    by (prefix_hash, qualifies), not a `_dedup_ranked` branch joined
    back on doc_id: that branch made Catalyst re-evaluate the whole gate
    feature tree on a second documents scan. Ranks within the
    qualifies=true slice equal the ranks among survivors, and the
    verdict CASE never consults a non-survivor's rank."""
    cont = _contaminated(docs)

    if ranked is None:
        qual = F.col("q_keep") & (F.col("doc_id") >= 5)
        w = (Window.partitionBy("prefix_hash", "__qual")
             .orderBy(F.desc("__tlen"), "doc_id"))
        base = (gate.select("doc_id", "q_keep", "q_reason",
                            _prefix_hash_col().alias("prefix_hash"),
                            F.length("text").alias("__tlen"),
                            qual.alias("__qual"))
                .withColumn("rn", F.row_number().over(w))
                .select("doc_id", "q_keep", "q_reason", "rn"))
    else:
        base = gate.join(ranked, "doc_id", "left")

    reason = (F.when(F.col("doc_id") < 5, "benchmark")
              .when(~F.col("q_keep"), F.col("q_reason"))
              .when(F.col("rn") > 1, "duplicate")
              .when(F.col("is_cont"), "contaminated")
              .otherwise("kept"))
    return (base.join(cont, "doc_id", "left")
            .select("doc_id", reason.alias("reason"))
            .select("doc_id", (F.col("reason") == "kept").alias("keep"),
                    "reason")
            .orderBy("doc_id"))


def _gopher_gate_ctes():
    return rf"""gofeats AS (
{GOPHER_FEATS_SQL}
),
gate AS (
  SELECT doc_id, text,
         {GOPHER_KEEP_SQL} AS q_keep,
         {GOPHER_REASON_SQL} AS q_reason
  FROM gofeats
)"""


@register(sql=_curate_sql(_gopher_gate_ctes()), bench=True)
def curate_corpus_gopher(spark, sf_dir):
    """`curate_corpus` with the PUBLISHED Gopher gate (Rae et al. 2021,
    arXiv:2112.11446 A1.1 — `quality_gopher_rules`' exact thresholds and
    first-failing-rule sub-reasons) as stage 2, so the end-to-end
    curation pass runs the published rule set: benchmark exclusion →
    Gopher gate → prefix
    keep-best dedup among gate survivors → 3-gram decontamination, one
    declarative plan with first-failing-stage verdicts. The gate stage
    reuses `gopher_feats` verbatim (Spark) and the GOPHER_*_SQL pieces
    verbatim (oracle), and the downstream stages are `_curation_verdicts`
    shared with `curate_corpus` — the two passes differ ONLY in the gate.

    On the synthetic fixture the published thresholds honestly reject
    nearly every document (10–99-word docs, ≤1 English stopword), so the
    dedup/decontamination stages are additionally exercised on a
    constructed Gopher-passing corpus with a real cross-engine oracle in
    tests/test_pipeline_queries.py.

    Scale: identical to `curate_corpus` — the gate folds over token/line
    arrays inside one codegen projection; three bounded-key shuffles
    end-to-end."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    gate = gopher_feats(docs).select(
        "doc_id", "text", F.col("keep").alias("q_keep"),
        F.col("reason").alias("q_reason"))
    return _curation_verdicts(docs, gate)


def _c4_gate_ctes():
    return rf"""c4feats AS (
{C4_FEATS_SQL}
),
gate AS (
  SELECT doc_id, text,
         {C4_KEEP_SQL} AS q_keep,
         {C4_REASON_SQL} AS q_reason
  FROM c4feats
)"""


@register(sql=_curate_sql(_c4_gate_ctes()))
def curate_corpus_c4(spark, sf_dir):
    """`curate_corpus` with the C4 gate (Raffel et al. 2020,
    arXiv:1910.10683 §2.2 — `quality_c4_rules`' exact rules and
    first-failing sub-reasons) as stage 2, completing the set: BOTH
    published gates now run inside the end-to-end curation pass next to
    the composite one. Benchmark exclusion → C4 gate → prefix keep-best
    dedup among gate survivors → 3-gram decontamination, one
    declarative plan with first-failing-stage verdicts; the gate reuses
    `c4_feats` verbatim (Spark) and the C4_*_SQL pieces verbatim
    (oracle), downstream stages are `_curation_verdicts` shared with
    both siblings.

    On the synthetic fixture the C4 gate honestly rejects every
    document (single-line prose with no terminal punctuation), so the
    dedup/decontamination stages are additionally exercised on a
    constructed C4-passing corpus with a real cross-engine oracle in
    tests/test_pipeline_queries.py.

    Scale: identical to its siblings — the gate folds over the line
    array inside one codegen projection; three bounded-key shuffles
    end-to-end."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    gate = c4_feats(docs).select(
        "doc_id", "text", F.col("keep").alias("q_keep"),
        F.col("reason").alias("q_reason"))
    return _curation_verdicts(docs, gate)


# --- Snapshot merge / upsert (SCD-1 "MERGE INTO" as a plain plan) -----------

MERGE_SQL = """
WITH base AS (
  SELECT doc_id, lang, 'v1' AS version FROM documents
),
updates AS (
  SELECT doc_id, upper(lang) AS lang, 'v2' AS version
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, lang, 'v2' AS version
  FROM documents WHERE doc_id % 11 = 0
)
SELECT coalesce(u.doc_id, b.doc_id) AS doc_id,
       coalesce(u.lang, b.lang)     AS lang,
       coalesce(u.version, b.version) AS version
FROM base b FULL OUTER JOIN updates u ON b.doc_id = u.doc_id
ORDER BY doc_id
"""


@register(sql=MERGE_SQL)
def merge_upsert(spark, sf_dir):
    """MERGE INTO without a table format: a full-outer join on the key
    with update-wins coalesce — updates overwrite matched rows, unmatched
    updates insert, unmatched base rows carry through (SCD type 1). The
    update side here modifies every 7th doc and inserts new keys for
    every 11th, so all three MERGE branches fire.

    One shuffle per side on the key; with both sides bucketed on the key
    (sources/bucketing.py) the nightly upsert is shuffle-free, which is
    the 100 TB snapshot-maintenance pattern."""
    # base and both update slices
    # project the same two columns — persist the narrow frame so the
    # table is scanned once instead of three times.
    docs = track_persist(
        load(spark, sf_dir, "documents").select("doc_id", "lang"))
    base = docs.select("doc_id", "lang", F.lit("v1").alias("version"))
    updates = (docs.where(F.col("doc_id") % 7 == 0)
               .select("doc_id", F.upper("lang").alias("lang"),
                       F.lit("v2").alias("version"))
               .unionByName(
                   docs.where(F.col("doc_id") % 11 == 0)
                   .select((F.col("doc_id") + 1000000).alias("doc_id"),
                           "lang", F.lit("v2").alias("version"))))
    b, u = base.alias("b"), updates.alias("u")
    return (b.join(u, F.col("b.doc_id") == F.col("u.doc_id"), "full_outer")
            .select(
                F.coalesce(F.col("u.doc_id"), F.col("b.doc_id")).alias("doc_id"),
                F.coalesce(F.col("u.lang"), F.col("b.lang")).alias("lang"),
                F.coalesce(F.col("u.version"), F.col("b.version"))
                 .alias("version"))
            .orderBy("doc_id"))


# --- Latest-wins event dedup (SCD-style compaction over the event log) ------

LATEST_SQL = """
SELECT user_id, event_type, round(value, 4) AS value
FROM (
  SELECT user_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_type, value) AS rn
  FROM events
)
WHERE rn = 1
ORDER BY user_id
"""


@register(sql=LATEST_SQL)
def events_dedup_latest(spark, sf_dir):
    """Latest-state compaction of an event log: keep each user's most
    recent event (ties broken deterministically) — the read-side half of
    changelog → snapshot materialization. One shuffle on user_id; at
    100 TB this is the same single-window shape as `dedup_exact`."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), "event_type", "value")
    return (events
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", "event_type",
                    F.round("value", 4).alias("value"))
            .orderBy("user_id"))


# --- Filter-rate dashboard (quality gate rates per source) ------------------

GATE_RATES_SQL = r"""
WITH scored AS (
  SELECT doc_id, source,
         CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1)                    AS alpha_ratio,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / greatest(len(string_split(text, ' ')), 1)    AS distinct_ratio,
         len(string_split(text, ' '))                     AS n_tokens
  FROM documents WHERE text IS NOT NULL
)
SELECT source,
       count(*)                                           AS n_docs,
       CAST(sum(CASE WHEN n_tokens >= 16 AND n_tokens <= 4096
                      AND alpha_ratio >= 0.6 AND distinct_ratio >= 0.3
                     THEN 1 ELSE 0 END) AS BIGINT)        AS n_kept,
       round(CAST(sum(CASE WHEN n_tokens >= 16 AND n_tokens <= 4096
                            AND alpha_ratio >= 0.6 AND distinct_ratio >= 0.3
                           THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6)                               AS keep_rate
FROM scored
GROUP BY source
ORDER BY source
"""


@register(sql=GATE_RATES_SQL)
def quality_gate_rates(spark, sf_dir):
    """Per-source keep rates of the composite quality gate — the filter
    dashboard a data team watches to spot a crawl source going bad. Same
    scan-speed heuristics as `quality_gate`, one partial+final agg on the
    bounded source key."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    keep = _gate_keep(*_gate_features()).cast("int")
    return (docs.select("source", keep.alias("keep"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("keep").cast("bigint").alias("n_kept"),
                 F.round(F.sum("keep").cast("double") / F.count(F.lit(1)), 6)
                  .alias("keep_rate"))
            .orderBy("source"))


# --- Classifier evaluation (confusion matrix over langid predictions) -------

CONFUSION_SQL = """
WITH scored AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(string_split(text, ' '),
                              t -> t IN ('the', 'a', 'of', 'and', 'is')))
              AS BIGINT) AS en_hits,
         CAST(len(list_filter(string_split(text, ' '),
                              t -> t IN ('der', 'die', 'das', 'und', 'ist')))
              AS BIGINT) AS de_hits,
         CAST(len(list_filter(string_split(text, ' '),
                              t -> t IN ('le', 'la', 'et', 'est', 'les')))
              AS BIGINT) AS fr_hits
  FROM documents
),
pred AS (
  SELECT lang,
         CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0
                THEN 'en'
              WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
              WHEN fr_hits > 0 THEN 'fr'
              ELSE 'unknown' END AS predicted_lang
  FROM scored
)
SELECT lang, predicted_lang, count(*) AS n
FROM pred
GROUP BY lang, predicted_lang
ORDER BY lang, predicted_lang
"""


@register(sql=CONFUSION_SQL)
def langid_confusion(spark, sf_dir):
    """Confusion matrix of the stop-word language classifier against the
    labeled lang column — the evaluation aggregate every classifier in
    the pipeline (langid, quality, topic) reports. Long format (truth,
    predicted, n): pivoting to a wide matrix is presentation, and wide
    schemas depend on the label set. One partial+final agg on a bounded
    (|langs|²) key space — scan-speed at any corpus size."""
    pred = stopword_langid(load(spark, sf_dir, "documents"))
    return (pred.groupBy("lang", "predicted_lang")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("lang", "predicted_lang"))


# Cohen's kappa of the stop-word classifier vs the labeled lang column —
# entirely from the integer confusion matrix: kappa's numerator/denominator
# stay integers (n·agree − Σ row·col marginal products, n² − Σ r·c) and only
# the final ratio touches floats, as floor(1e6·num/den) over identical
# doubles (safe for either sign, unlike integer floor division whose
# negative-operand semantics differ between engines).
KAPPA_SQL = """
WITH scored AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(string_split(text, ' '),
                              t -> t IN ('the', 'a', 'of', 'and', 'is')))
              AS BIGINT) AS en_hits,
         CAST(len(list_filter(string_split(text, ' '),
                              t -> t IN ('der', 'die', 'das', 'und', 'ist')))
              AS BIGINT) AS de_hits,
         CAST(len(list_filter(string_split(text, ' '),
                              t -> t IN ('le', 'la', 'et', 'est', 'les')))
              AS BIGINT) AS fr_hits
  FROM documents
),
pred AS (
  SELECT lang,
         CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0
                THEN 'en'
              WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
              WHEN fr_hits > 0 THEN 'fr'
              ELSE 'unknown' END AS predicted_lang
  FROM scored
),
cm AS (
  SELECT lang, predicted_lang, CAST(count(*) AS BIGINT) AS n
  FROM pred GROUP BY 1, 2
), tot AS (SELECT CAST(sum(n) AS BIGINT) AS n FROM cm),
agree AS (
  SELECT CAST(coalesce(sum(CASE WHEN lang = predicted_lang THEN n END), 0)
              AS BIGINT) AS a
  FROM cm
), marg AS (
  SELECT CAST(coalesce(sum(r.rn * c.cn), 0) AS BIGINT) AS rc
  FROM (SELECT lang AS k, sum(n) AS rn FROM cm GROUP BY lang) r
  JOIN (SELECT predicted_lang AS k, sum(n) AS cn
        FROM cm GROUP BY predicted_lang) c
    ON r.k = c.k
)
SELECT t.n AS n_docs,
       a.a AS n_agree,
       m.rc AS chance_mass,
       CAST(CASE WHEN t.n * t.n = m.rc THEN 0
            ELSE floor(CAST(t.n * a.a - m.rc AS DOUBLE) * 1000000.0
                       / (t.n * t.n - m.rc)) END AS BIGINT) AS kappa_e6
FROM tot t CROSS JOIN agree a CROSS JOIN marg m
"""


@register(sql=KAPPA_SQL)
def langid_kappa(spark, sf_dir):
    """Cohen's kappa for the stop-word language classifier against the
    labeled lang column — the CHANCE-CORRECTED companion to
    `langid_confusion`'s raw matrix: on a skewed label mix a classifier
    that always answers the majority class scores high accuracy but
    kappa ~0, which is why eval dashboards report both. Computed
    entirely from the integer confusion matrix — numerator
    n·agree − Σ(row_i·col_i) and denominator n² − Σ(row_i·col_i) stay
    exact integers; only the final ratio is floated, floor-scaled to a
    1e-6 grid (floor of identical doubles, sign-safe).

    Scale: one bounded (|langs|²) confusion agg (the langid_confusion
    shape), then constant-size marginal joins — scan-speed at any
    corpus size."""
    # cm is consumed by FOUR plan
    # branches (total, agree, row marginals, column marginals) and its
    # subtree is a full corpus scan through the stop-word classifier
    # with NO physical-plan reuse (the before plan has zero
    # ReusedExchange nodes) — persist the bounded (|langs|²-row) matrix
    # so the classifier scan runs once, not four times. Local min-of-10
    # A/B: +0.30 s (0.76 → 1.06) — the vocab_coverage class: at toy
    # scale the four scans run concurrently across idle cores so the
    # persist's serialization costs wall-clock, while at scale three
    # eliminated corpus passes dominate a 16-row cache.
    cm = track_persist(
        stopword_langid(load(spark, sf_dir, "documents"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    tot = cm.agg(F.sum("n").cast("bigint").alias("n"))
    agree = cm.agg(
        F.coalesce(F.sum(F.when(F.col("lang") == F.col("predicted_lang"),
                                F.col("n"))), F.lit(0))
        .cast("bigint").alias("a"))
    r = cm.groupBy(F.col("lang").alias("k")).agg(F.sum("n").alias("rn"))
    c = (cm.groupBy(F.col("predicted_lang").alias("k"))
         .agg(F.sum("n").alias("cn")))
    marg = (r.join(c, "k")
            .agg(F.coalesce(F.sum(F.col("rn") * F.col("cn")), F.lit(0))
                 .cast("bigint").alias("rc")))
    kappa = (F.when(F.col("n") * F.col("n") == F.col("rc"), F.lit(0))
             .otherwise(F.floor(
                 (F.col("n") * F.col("a") - F.col("rc")).cast("double")
                 * F.lit(1_000_000.0)
                 / (F.col("n") * F.col("n") - F.col("rc"))))
             .cast("bigint"))
    return (tot.crossJoin(F.broadcast(agree))
            .crossJoin(F.broadcast(marg))
            .select(F.col("n").alias("n_docs"),
                    F.col("a").alias("n_agree"),
                    F.col("rc").alias("chance_mass"),
                    kappa.alias("kappa_e6")))


# --- Event-volume anomaly detection (z-score over hourly counts) ------------


@register(sql=ANOMALY_SQL)
def events_volume_anomaly(spark, sf_dir):
    """Hourly-volume anomaly flags per event type: bucket to hours, then
    z-score each bucket against its type's distribution and keep |z| >= 2
    — the ingest-monitoring query that catches a source going dark or a
    bot spike. Two aggregations over bounded keys (hours × types, then
    types); the event stream itself is touched once."""
    events = load(spark, sf_dir, "events")
    hourly = (events
              .groupBy("event_type",
                       F.date_format(F.date_trunc("hour", "ts"),
                                     "yyyy-MM-dd HH:mm:ss")
                       .alias("hour_start"))
              .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("event_type")
    zraw = (F.col("n") - F.col("mu")) / F.col("sigma")
    return (hourly
            .withColumn("mu", F.avg("n").over(w))
            .withColumn("sigma", F.stddev_samp("n").over(w))
            .where((F.col("sigma") > 0) & (F.abs(zraw) >= 2.0))
            .select("event_type", "hour_start", "n",
                    F.round(zraw, 4).alias("z"))
            .orderBy("event_type", "hour_start"))


# --- Semantic dedup (SemDeDup-style cluster-scoped near-dup removal) --------

SEMDEDUP_K = 8
SEMDEDUP_TAU = 0.4
SEMDEDUP_PROBE = 2

#: target mean cell occupancy: k grows as n/TARGET past the floor, so the
#: within-cell quadratic stays bounded as the corpus grows (SemDeDup's
#: k ~ n/100k at web scale). The SQL twin computes the SAME rule in its
#: prm CTE, so the two sides cannot drift on the cell count.
SEMDEDUP_CELL_TARGET = 64

# The seed count is NOT a literal: the prm CTE computes the same adaptive
# rule the Spark plan uses — k = max(SEMDEDUP_K, n // SEMDEDUP_CELL_TARGET)
# — from the table's own row count, so plan and oracle agree at EVERY sf
# (a static k=8 twin would be valid only for n <= 8*64 and silently
# diverge at sf0.1's 2000 embeddings, where the plan auto-scales to
# k=31). Integer floor-division on both sides.
SEMDEDUP_SQL = f"""
WITH prm AS (
  SELECT GREATEST({SEMDEDUP_K},
                  CAST(count(*) AS BIGINT) // {SEMDEDUP_CELL_TARGET}) AS k
  FROM embeddings
), c AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), un AS (
  SELECT vec_id,
         list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS u
  FROM c
), seed_rank AS (
  SELECT vec_id, u,
         row_number() OVER (
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS srn
  FROM un
), seeds AS (
  SELECT vec_id, u FROM seed_rank, prm WHERE srn <= prm.k
), cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, u AS cu
  FROM seeds
), scored AS (
  SELECT un.vec_id, cent.cluster, un.u,
         row_number() OVER (
           PARTITION BY un.vec_id
           ORDER BY round(list_dot_product(un.u, cent.cu), 6) DESC,
                    cent.cluster) AS rn
  FROM un CROSS JOIN cent
), probes AS (
  SELECT vec_id, cluster, u, rn FROM scored
  WHERE rn <= {SEMDEDUP_PROBE}
), a AS (
  SELECT vec_id, cluster, u FROM probes WHERE rn = 1
), dropped AS (
  SELECT DISTINCT y.vec_id
  FROM probes x JOIN probes y
    ON x.cluster = y.cluster AND x.vec_id < y.vec_id
  WHERE list_dot_product(x.u, y.u) >= {SEMDEDUP_TAU}
)
SELECT a.vec_id,
       CAST(a.cluster AS BIGINT) AS cluster,
       (d.vec_id IS NULL) AS kept
FROM a LEFT JOIN dropped d ON a.vec_id = d.vec_id
ORDER BY a.vec_id
"""


@register(sql=SEMDEDUP_SQL, bench=True)
def dedup_semantic(spark, sf_dir):
    """Semantic dedup à la SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
    a coarse quantizer scopes the quadratic pair search to within cells,
    then a deterministic greedy keep-policy drops any vector with a
    smaller-id co-cell neighbor at cosine >= SEMDEDUP_TAU.

    The quantizer is IVF-style with content-addressed seeds — the k
    vectors with smallest md5(vec_id) are the cell centroids (the
    standard sampled-centroid IVF coarse layer, 0 Lloyd iterations) —
    and each vector PROBES its SEMDEDUP_PROBE nearest cells for the pair
    search (multi-probe compensates unrefined seeds; measured on the
    fixture: 1 probe recall 0.26, 2 probes recall 0.74 vs the exact
    all-pairs oracle, against >= 0.5 pinned). Reported cell membership
    is the top-1 cell; cosine-to-centroid ranks round to 6 dp with ties
    to the lower cell id. Assignment is pure arithmetic any engine
    reproduces (not MLlib KMeans), which is what makes the exact DuckDB
    twin possible. Pinned in tests/test_dedup_recall.py: no two KEPT
    vectors sharing a probed cell are within SEMDEDUP_TAU of each other;
    cross-cell pairs are the accepted miss.

    Scale posture (100 TB): seeds are a TakeOrdered (k rows to the
    driver), assignment is one broadcast-k cross join (the classic IVF
    probe, linear in n), and the only quadratic work is inside a cell.
    k AUTO-SCALES as n / SEMDEDUP_CELL_TARGET past the k=8 floor
    (SemDeDup runs k ~ n/100k), so mean cell occupancy — and with it
    the per-cell pair search — stays bounded as the corpus grows; the
    scale probe pins the resulting slope. Probing multiplies pair-search
    cost by at most SEMDEDUP_PROBE². Known limit: the explicit F.broadcast
    on the centroid table is honored regardless of its size, so past k ~ 10^5
    cells (where the table outgrows broadcast range) drop the hint and
    let the assignment run as a shuffle join or swap in a hierarchical
    quantizer.

    The two sort-merge joins (in-cell pairs, final dropped left join)
    keep the planner's and AQE's choice: shuffle-hash hints measured
    3.3x slower and the other join settings no faster."""
    n = row_count(spark, f"{sf_dir}/embeddings.parquet")
    k = max(SEMDEDUP_K, n // SEMDEDUP_CELL_TARGET)

    emb = load(spark, sf_dir, "embeddings")
    vecs = unit_vector_frame(emb, "u")
    cent = ivf_centroids(vecs, k, "cluster")  # bounded: k rows
    probes = track_persist(
        ivf_ranked(vecs, cent, "cluster")
        .where(F.col("rn") <= SEMDEDUP_PROBE)
        .select("vec_id", "cluster", "u", "rn"))  # SEMDEDUP_PROBE rows/vec
    assigned = probes.where(F.col("rn") == 1).select("vec_id", "cluster", "u")

    x, y = probes.alias("x"), probes.alias("y")
    cos = dot(F.col("x.u"), F.col("y.u"))
    # y shares a probed cell with a smaller-id near-dup -> y is dropped
    dropped = (
        x.join(y, (F.col("x.cluster") == F.col("y.cluster"))
               & (F.col("x.vec_id") < F.col("y.vec_id")))
        .where(cos >= SEMDEDUP_TAU)
        .select(F.col("y.vec_id").alias("vec_id"))
        .distinct()
    )
    return (
        assigned.join(dropped.withColumn("is_dropped", F.lit(True)),
                      "vec_id", "left")
        .select("vec_id", F.col("cluster").cast("long").alias("cluster"),
                F.coalesce(~F.col("is_dropped"), F.lit(True)).alias("kept"))
        .orderBy("vec_id")
    )


# --- BPE tokenizer training / token counting --------------------------------

BPE_N_MERGES = 40

# Exact DuckDB twins for the BPE queries, generated as an UNROLLED CTE chain
# (the SimHash/pagerank oracle style): the merge loop is deterministic
# integer counting, so 40 rounds of
#   pairs_r  (adjacent-pair counts over current segmentations, freq-weighted)
#   best_r   (max count, ties broken by lexicographically smallest pair —
#             DuckDB's binary UTF-8 collation IS Python tuple order)
#   seg_r    (apply the merge greedily left-to-right)
# replay the driver-side trainer bit-for-bit. Segmentations are encoded as
# US-separated strings: token list [a, b] -> US a US US b US, so
# replace(s, US||a||US||US||b||US, US||ab||US) consumes non-overlapping
# occurrences left-to-right exactly like the Python scan ("a a a" -> "aa a").
# An empty pairs_r empties best_r, and the CROSS JOIN then empties every
# later seg/best — reproducing the trainer's early break with no extra rows.
#
# The token-count twin rides the same chain: applying merges sequentially in
# rank order is equivalent to the GPT-2 lowest-rank-first encoder, because a
# pair involving a merged symbol can only have been learned AFTER the merge
# that created the symbol (rank monotonicity) — so the encode chain is 40
# more LEFT-JOIN replace() rounds over the DISTINCT corpus vocabulary (no
# min_count floor: the encoder sees hapaxes too), then one join back to the
# per-document token stream.

_US = "chr(31)"  # unit separator — cannot appear in whitespace-split tokens
_SEP2 = f"{_US}||{_US}"

# The oracle splits text with the SAME explicit whitespace class as the
# trainer and the encoder UDF (operators/bpe.py::WS_CLASS) — Java/RE2/Python
# `\s` disagree on \x0B and Unicode spaces. Character
# segmentation: DuckDB 1.0's string_split(word, '') yields CODE POINTS
# (probe-verified on combining marks and emoji+modifier), matching the
# trainer's tuple(w); lower() remains the one engine-specific surface, so
# exotic one-to-many case mappings (e.g. İ) are outside the oracle contract.
_BPE_WS = "[ \\t\\n\\x0B\\f\\r]+"


def _bpe_chain_sql(n: int) -> str:
    """The shared WITH-chain: wf -> seg0 -> (tok/pr/best/seg) x n."""
    parts = [f"""wf AS MATERIALIZED (
  SELECT tok AS word, count(*) AS freq FROM (
    SELECT unnest(string_split_regex(lower(trim(text)), '{_BPE_WS}')) AS tok
    FROM documents WHERE text IS NOT NULL)
  WHERE length(tok) > 0
  GROUP BY tok HAVING count(*) >= 2
  ORDER BY count(*) DESC, tok LIMIT 1000000
), seg0 AS MATERIALIZED (
  SELECT word, freq,
         {_US} || array_to_string(string_split(word, '') || ['</w>'],
                                  {_SEP2}) || {_US} AS s
  FROM wf
)"""]
    for r in range(1, n + 1):
        parts.append(f"""tok{r} AS MATERIALIZED (
  SELECT freq, string_split(trim(s, chr(31)), {_SEP2}) AS l FROM seg{r - 1}
), pr{r} AS MATERIALIZED (
  SELECT p.a AS a, p.b AS b, sum(freq) AS cnt FROM (
    SELECT freq, unnest(list_transform(range(1, len(l)),
                                       i -> {{'a': l[i], 'b': l[i + 1]}})) AS p
    FROM tok{r})
  GROUP BY 1, 2
), best{r} AS MATERIALIZED (
  SELECT a, b, cnt FROM pr{r} ORDER BY cnt DESC, a, b LIMIT 1
), seg{r} AS MATERIALIZED (
  SELECT word, freq,
         replace(s, {_US}||a||{_SEP2}||b||{_US}, {_US}||a||b||{_US}) AS s
  FROM seg{r - 1} CROSS JOIN best{r}
)""")
    return "WITH " + ",\n".join(parts)


def _bpe_merges_sql(n: int = BPE_N_MERGES) -> str:
    rows = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS \"rank\", a AS \"left\","
        f" b AS \"right\", a || b AS merged,"
        f" CAST(cnt AS BIGINT) AS pair_count FROM best{r}"
        for r in range(1, n + 1))
    return f"{_bpe_chain_sql(n)}\nSELECT * FROM (\n{rows}\n) ORDER BY \"rank\""


def _bpe_token_counts_sql(n: int = BPE_N_MERGES) -> str:
    enc = [f"""doctok AS MATERIALIZED (
  SELECT doc_id, tok AS word FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(trim(text)), '{_BPE_WS}')) AS tok
    FROM documents WHERE text IS NOT NULL)
  WHERE length(tok) > 0
), enc0 AS MATERIALIZED (
  SELECT word,
         {_US} || array_to_string(string_split(word, '') || ['</w>'],
                                  {_SEP2}) || {_US} AS s
  FROM (SELECT DISTINCT word FROM doctok)
)"""]
    for r in range(1, n + 1):
        # LEFT JOIN (unlike the seg chain's CROSS JOIN): if training stopped
        # early, best{r} is empty and the encoder must pass rows through
        # unchanged, not drop the vocabulary.
        enc.append(f"""enc{r} AS MATERIALIZED (
  SELECT word, CASE WHEN a IS NULL THEN s ELSE
         replace(s, {_US}||a||{_SEP2}||b||{_US}, {_US}||a||b||{_US}) END AS s
  FROM enc{r - 1} LEFT JOIN best{r} ON true
)""")
    enc_chain = ",\n".join(enc)
    return f"""{_bpe_chain_sql(n)},
{enc_chain},
wcnt AS (
  SELECT word,
         CAST(len(string_split(trim(s, chr(31)), {_SEP2})) AS BIGINT) AS n
  FROM enc{n}
)
SELECT d.doc_id, CAST(coalesce(t.n, 0) AS BIGINT) AS n_bpe_tokens
FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
LEFT JOIN (SELECT dt.doc_id, sum(w.n) AS n
           FROM doctok dt JOIN wcnt w USING (word)
           GROUP BY dt.doc_id) t USING (doc_id)
ORDER BY doc_id"""


@register(sql=_bpe_merges_sql())
def bpe_merges(spark, sf_dir):
    """Learned BPE merge table over the corpus (Sennrich-style, see
    operators/bpe.py): one distributed word-frequency pass, bounded
    driver-side merge loop, deterministic tie-breaks. Exact oracle: the
    deterministic merge loop unrolled as a 40-round CTE chain (see
    _bpe_chain_sql); the merge sequence is additionally pinned against an
    independent naive implementation in tests/test_bpe.py."""
    from spark_sentiment_spark.operators.bpe import bpe_train

    docs = load(spark, sf_dir, "documents")
    return bpe_train(spark, docs, n_merges=BPE_N_MERGES).orderBy("rank")


@register(sql=_bpe_token_counts_sql())
def bpe_token_counts(spark, sf_dir):
    """Per-document token counts under the learned BPE vocabulary — the
    training-budget metric (tokens, not words, is what a 100 TB corpus is
    priced in). Train once (bounded), then count via the Arrow-batched
    memoized encoder; the corpus is touched exactly twice. Exact oracle:
    the training chain plus a 40-round encode chain over the distinct
    corpus vocabulary (rank-order merge application == the GPT-2
    lowest-rank-first encoder; see _bpe_token_counts_sql)."""
    from spark_sentiment_spark.operators.bpe import (bpe_token_count_col,
                                                     bpe_train)

    docs = load(spark, sf_dir, "documents")
    merges = [(r.left, r.right)
              for r in bpe_train(spark, docs, n_merges=BPE_N_MERGES)
              .collect()]
    return (docs.where(F.col("text").isNotNull())
            .select("doc_id",
                    bpe_token_count_col(merges).alias("n_bpe_tokens"))
            .orderBy("doc_id"))


# --- Unigram-LM perplexity quality scoring (CCNet-style, simplified) --------

PPL_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents WHERE text IS NOT NULL
),
vocab AS (
  SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
),
tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM vocab)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(-log2(v.cnt / (SELECT n FROM tot))), 4) AS bits_per_token
FROM toks t JOIN vocab v USING (tok)
GROUP BY t.doc_id
ORDER BY t.doc_id
"""


def _ws_lower_tokens(spark, sf_dir):
    """(doc_id, tok): one row per lowercased whitespace token of every
    document with text."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok"))


@register(sql=PPL_SQL, bench=True)
def quality_perplexity(spark, sf_dir):
    """Unigram language-model perplexity per document — the simplified
    CCNet-style quality signal: documents whose tokens are improbable
    under the corpus LM (high bits/token) are gibberish or off-domain;
    suspiciously low bits/token means boilerplate. Train (one explode +
    vocab-sized agg) and score (explode + vocab join + per-doc agg) in a
    single plan; the corpus total is a 1-row broadcast scalar and the
    vocab side of the scoring join broadcasts/AQE-shuffles on vocabulary
    size, never corpus size. The exploded token table is persisted — the
    train side (vocab counts) and the score side both read it, so the
    corpus is scanned and regex-tokenized once, not three times."""
    toks = track_persist(_ws_lower_tokens(spark, sf_dir))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").cast("double").alias("n"))
    bits = -F.log2(F.col("cnt") / F.col("n"))
    return (toks.join(vocab, "tok")
            .crossJoin(F.broadcast(total))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.round(F.avg(bits), 4).alias("bits_per_token"))
            .orderBy("doc_id"))


BACKOFF_ALPHA = 0.4  # Stupid Backoff discount (Brants et al. 2007)

BIGRAM_PPL_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS l
  FROM documents WHERE text IS NOT NULL
),
train_uni AS (
  SELECT w, count(*) AS c FROM (
    SELECT unnest(l) AS w FROM toks WHERE doc_id % 5 <> 4) GROUP BY w
),
train_bi AS (
  SELECT w1, w2, count(*) AS c12 FROM (
    SELECT z.bg[1] AS w1, z.bg[2] AS w2
    FROM (SELECT unnest(list_zip(list_slice(l, 1, len(l) - 1), l[2:])) AS bg
          FROM toks WHERE doc_id % 5 <> 4 AND len(l) > 1) z)
  GROUP BY w1, w2
),
nv AS (
  SELECT CAST(sum(c) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v
  FROM train_uni
),
score_bi AS (
  SELECT doc_id, z.bg[1] AS w1, z.bg[2] AS w2
  FROM (SELECT doc_id,
               unnest(list_zip(list_slice(l, 1, len(l) - 1), l[2:])) AS bg
        FROM toks WHERE doc_id % 5 = 4 AND len(l) > 1) z
),
scored AS (
  SELECT s.doc_id,
         CASE WHEN b.c12 IS NOT NULL AND u1.c IS NOT NULL
              THEN b.c12 * 1.0 / u1.c
              ELSE {BACKOFF_ALPHA} * (coalesce(u2.c, 0) + 1) / (nv.n + nv.v)
         END AS p,
         (b.c12 IS NULL) AS backed_off
  FROM score_bi s
  LEFT JOIN train_bi b ON s.w1 = b.w1 AND s.w2 = b.w2
  LEFT JOIN train_uni u1 ON s.w1 = u1.w
  LEFT JOIN train_uni u2 ON s.w2 = u2.w
  CROSS JOIN nv
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(CASE WHEN backed_off THEN 1 ELSE 0 END) AS BIGINT)
                                 AS n_backoff,
       round(avg(-log2(p)), 4)   AS bits_per_bigram
FROM scored
GROUP BY doc_id
ORDER BY doc_id
"""


@register(sql=BIGRAM_PPL_SQL)
def quality_bigram_backoff(spark, sf_dir):
    """Bigram LM quality scoring with Stupid Backoff (Brants et al. 2007,
    the web-scale scheme: S(w2|w1) = c12/c1 when the bigram was seen,
    else α·P(w2) with α=0.4 and an add-one-smoothed unigram so OOV
    tokens stay finite) — the natural next step past `quality_perplexity`'s
    unigram model: it penalizes improbable *transitions*, catching
    shuffled/garbled text a unigram LM scores as normal. Trains on the
    80% split (doc_id % 5 != 4, the `dedup_incremental` convention) and
    scores the held-out 20%, so backoff genuinely fires (unseen bigrams
    exist only off-train).

    Plan shape: one tokenized scan feeds train-unigram, train-bigram and
    score-bigram tables (persisted token arrays, corpus read once);
    scoring is three left joins against vocab-bounded count tables (no
    broadcast hints — web-scale vocabularies are not broadcast-safe,
    AQE/size estimates decide) plus the 1-row (N,V) scalar broadcast;
    one doc_id aggregation. bits_per_bigram rounds to 4dp like the
    unigram query."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = track_persist(docs.select(
        "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("l")))
    bg_expr = token_bigrams("l")
    is_train = F.col("doc_id") % 5 != 4

    # the unigram table feeds three
    # consumers (the (N,V) scalar and both probe sides) — persist the
    # vocab-bounded counts so the unigram explode+aggregate over the
    # cached token arrays runs once instead of three times.
    train_uni = track_persist(
        toks.where(is_train)
        .select(F.explode("l").alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    train_bi = (toks.where(is_train & (F.size("l") > 1))
                .select(F.explode(bg_expr).alias("bg"))
                .select("bg.w1", "bg.w2")
                .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12")))
    nv = train_uni.agg(F.sum("c").cast("double").alias("n"),
                       F.count(F.lit(1)).cast("double").alias("v"))

    score_bi = (toks.where(~is_train & (F.size("l") > 1))
                .select("doc_id", F.explode(bg_expr).alias("bg"))
                .select("doc_id", "bg.w1", "bg.w2"))
    u1 = train_uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = train_uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    p = (F.when(F.col("c12").isNotNull() & F.col("c1").isNotNull(),
                F.col("c12") / F.col("c1"))
         .otherwise(F.lit(BACKOFF_ALPHA)
                    * (F.coalesce(F.col("c2"), F.lit(0)) + 1)
                    / (F.col("n") + F.col("v"))))
    backed_off = F.col("c12").isNull()
    return (score_bi
            .join(train_bi, ["w1", "w2"], "left")
            .join(u1, "w1", "left")
            .join(u2, "w2", "left")
            .crossJoin(F.broadcast(nv))
            .select("doc_id", p.alias("p"),
                    backed_off.cast("int").alias("bo"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.sum("bo").cast("bigint").alias("n_backoff"),
                 F.round(F.avg(-F.log2("p")), 4).alias("bits_per_bigram"))
            .orderBy("doc_id"))


# --- Hybrid retrieval: lexical + vector with reciprocal-rank fusion ---------
# vec_id aligns 1:1 with doc_id in the testdata, giving each document both
# a text body and an embedding — the two retrieval modalities RRF fuses.

HYBRID_TOPK = 10
HYBRID_POOL = 50          # per-modality candidate list depth
RRF_C = 60                # the standard RRF damping constant


HYBRID_SQL = f"""
WITH toks AS (
  SELECT DISTINCT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents WHERE text IS NOT NULL
),
toks_nonempty AS (SELECT doc_id, tok FROM toks WHERE length(tok) > 0),
sizes AS (SELECT doc_id, count(*) AS n FROM toks_nonempty GROUP BY doc_id),
shared AS (
  SELECT q.doc_id AS qid, d.doc_id AS doc_id, count(*) AS s
  FROM toks_nonempty q JOIN toks_nonempty d USING (tok)
  WHERE q.doc_id < 3 AND q.doc_id <> d.doc_id
  GROUP BY 1, 2
),
lex AS (
  SELECT shared.qid AS qid, shared.doc_id AS doc_id,
         row_number() OVER (
           PARTITION BY shared.qid
           ORDER BY CAST(s AS DOUBLE) / (sq.n + sd.n - s) DESC,
                    shared.doc_id
         ) AS lr
  FROM shared
  JOIN sizes sq ON sq.doc_id = shared.qid
  JOIN sizes sd ON sd.doc_id = shared.doc_id
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
vec AS (
  SELECT q.vec_id AS qid, d.vec_id AS doc_id,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_dot_product(q.v, d.v)
                    / (sqrt(list_dot_product(q.v, q.v))
                       * sqrt(list_dot_product(d.v, d.v))) DESC, d.vec_id
         ) AS vr
  FROM e q JOIN e d ON q.vec_id < 3 AND q.vec_id <> d.vec_id
),
fused AS (
  SELECT coalesce(l.qid, v.qid) AS qid,
         coalesce(l.doc_id, v.doc_id) AS doc_id,
         round(coalesce(1.0 / ({RRF_C} + l.lr), 0)
               + coalesce(1.0 / ({RRF_C} + v.vr), 0), 6) AS rrf
  FROM (SELECT * FROM lex WHERE lr <= {HYBRID_POOL}) l
  FULL JOIN (SELECT * FROM vec WHERE vr <= {HYBRID_POOL}) v
    USING (qid, doc_id)
)
SELECT qid, doc_id, rrf,
       CAST(rn AS BIGINT) AS rn
FROM (
  SELECT qid, doc_id, rrf,
         row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS rn
  FROM fused
)
WHERE rn <= {HYBRID_TOPK}
ORDER BY qid, rn
"""


@register(sql=HYBRID_SQL, bench=True)
def hybrid_search_rrf(spark, sf_dir):
    """Hybrid retrieval: lexical candidates (distinct-token Jaccard via the
    inverted-index self-join) and vector candidates (embedding cosine,
    broadcast queries) are ranked per modality, then fused with reciprocal
    rank fusion (Cormack et al. 2009): score = Σ 1/(60+rank) over the
    modalities that surfaced the document.

    Scale posture: the lexical side touches the corpus once (explode →
    distinct) and joins through the token key — the inverted-index shape;
    the vector side is the `knn_cosine_topk` broadcast plan; the fusion
    join runs on two per-query top-50 lists, i.e. hundreds of rows
    regardless of corpus size. Both candidate generators degrade
    gracefully to their ANN variants (`ann_*_topk`, `dedup_minhash_lsh`
    buckets) at 100 TB without touching the fusion. The distinct token
    table (the inverted index) is persisted: doc sizes, the query side,
    and the candidate join all read it, so the corpus is tokenized once.
    The full-outer fusion stays a sort-merge join: it cannot broadcast,
    and a shuffled hash join measured no faster on top-50 lists."""
    toks = track_persist(_ws_lower_tokens(spark, sf_dir)
                         .where(F.length("tok") > 0).distinct())
    # sizes is not persisted: both lex join sides re-aggregate it from
    # the cached token table, which measured faster than a cache fill.
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    q = (toks.where(F.col("doc_id") < 3)
         .select(F.col("doc_id").alias("qid"), "tok"))
    shared = (q.join(toks, "tok")
              .where(F.col("qid") != F.col("doc_id"))
              .groupBy("qid", "doc_id").agg(F.count(F.lit(1)).alias("s")))
    jac = F.col("s").cast("double") / (F.col("nq") + F.col("nd") - F.col("s"))
    wl = Window.partitionBy("qid").orderBy(F.desc("jaccard"), "doc_id")
    lex = (shared
           .join(sizes.select(F.col("doc_id").alias("qid"),
                              F.col("n").alias("nq")), "qid")
           .join(sizes.select("doc_id", F.col("n").alias("nd")), "doc_id")
           .withColumn("jaccard", jac)
           .withColumn("lr", F.row_number().over(wl))
           .where(F.col("lr") <= HYBRID_POOL)
           .select("qid", "doc_id", "lr"))

    emb = load(spark, sf_dir, "embeddings")
    qv = (emb.where(F.col("vec_id") < 3)
          .select(F.col("vec_id").alias("qid"),
                  as_double("embedding").alias("qe")))
    cv = emb.select(F.col("vec_id").alias("doc_id"),
                    as_double("embedding").alias("ce"))
    cos = dot(F.col("qe"), F.col("ce")) / (
        norm(F.col("qe")) * norm(F.col("ce")))
    wv = Window.partitionBy("qid").orderBy(F.desc("cos"), "doc_id")
    vec = (cv.crossJoin(F.broadcast(qv))
           .where(F.col("qid") != F.col("doc_id"))
           .select("qid", "doc_id", cos.alias("cos"))
           .withColumn("vr", F.row_number().over(wv))
           .where(F.col("vr") <= HYBRID_POOL)
           .select("qid", "doc_id", "vr"))

    rrf = (F.coalesce(1.0 / (RRF_C + F.col("lr")), F.lit(0.0))
           + F.coalesce(1.0 / (RRF_C + F.col("vr")), F.lit(0.0)))
    wf = Window.partitionBy("qid").orderBy(F.desc("rrf"), "doc_id")
    return (lex.join(vec, ["qid", "doc_id"], "full_outer")
            .select("qid", "doc_id", F.round(rrf, 6).alias("rrf"))
            .withColumn("rn", F.row_number().over(wf).cast("long"))
            .where(F.col("rn") <= HYBRID_TOPK)
            .orderBy("qid", "rn"))


# --- Dataset profiling: per-column stats + correlation matrix ---------------

_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")

# mean/sd go through EXACT decimal sums on both engines (binary-double
# summation order differs between Spark and DuckDB; at 60k+ rows the ±ulp
# error lands on round() boundaries). One double division/sqrt over the
# identical exact sums is deterministic IEEE.
PROFILE_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col,
       CAST(count({c}) AS BIGINT) AS n,
       CAST(count(*) - count({c}) AS BIGINT) AS n_null,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       round(min({c}), 4) AS mn,
       round(max({c}), 4) AS mx,
       round(CAST(sum(CAST({c} AS DECIMAL(19,6))) AS DOUBLE)
             / count({c}), 6) AS mean,
       round(sqrt((CAST(sum(CAST({c} AS DECIMAL(19,6))
                            * CAST({c} AS DECIMAL(19,6))) AS DOUBLE)
                   - pow(CAST(sum(CAST({c} AS DECIMAL(19,6))) AS DOUBLE), 2)
                     / count({c}))
                  / (count({c}) - 1)), 4) AS sd
FROM lineitem"""
    for c in _PROFILE_COLS) + "\nORDER BY col"


@register(sql=PROFILE_SQL)
def profile_columns(spark, sf_dir):
    """Long-format numeric column profile (count/nulls/distinct/min/max/
    mean/sd) — the dataset health check that runs before any pipeline
    decision. ONE corpus pass: all per-column aggregates evaluate in a
    single agg (count-distincts expand to the standard multi-distinct
    plan), then `stack` unpivots the 1-row result driver-free; at 100 TB
    swap the exact distinct for `approx_count_distinct` and nothing else
    changes."""
    li = load(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        dec = F.col(c).cast("decimal(13,6)")
        s1 = F.sum(dec).cast("double")
        s2 = F.sum((dec * dec).cast("decimal(38,12)")).cast("double")
        n = F.count(c)
        aggs += [
            n.alias(f"n_{c}"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"nn_{c}"),
            F.countDistinct(c).alias(f"d_{c}"),
            F.round(F.min(c), 4).alias(f"mn_{c}"),
            F.round(F.max(c), 4).alias(f"mx_{c}"),
            # n<=1 guards: mean of zero rows / sd of one row are NULL,
            # not a divide-by-zero (ANSI mode aborts the job otherwise;
            # single-row contract, tests/test_empty_tables.py).
            F.round(F.when(n > 0, s1 / n), 6).alias(f"mean_{c}"),
            F.round(F.when(n > 1,
                           F.sqrt((s2 - F.pow(s1, 2) / n) / (n - 1))), 4)
             .alias(f"sd_{c}"),
        ]
    one = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', n_{c}, nn_{c}, d_{c}, mn_{c}, mx_{c}, mean_{c}, sd_{c}"
        for c in _PROFILE_COLS)
    return (one.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
        "(col, n, n_null, n_distinct, mn, mx, mean, sd)")
        .orderBy("col"))


_CORR_PAIRS = [(a, b) for i, a in enumerate(_PROFILE_COLS)
               for b in _PROFILE_COLS[i + 1:]]

CORR_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{a}' AS col_a, '{b}' AS col_b,
       round(corr({a}, {b}), 6) AS pearson
FROM lineitem"""
    for a, b in _CORR_PAIRS) + "\nORDER BY col_a, col_b"


@register(sql=CORR_SQL)
def corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlations of the numeric columns in one corpus
    pass (native `corr` partial aggregates — each executor folds its
    partition to 6 moment tuples, the merge is constant-size), unpivoted
    to long format."""
    li = load(spark, sf_dir, "lineitem")
    one = li.agg(*[
        F.round(F.corr(a, b), 6).alias(f"c_{i}")
        for i, (a, b) in enumerate(_CORR_PAIRS)])
    stack_args = ", ".join(
        f"'{a}', '{b}', c_{i}" for i, (a, b) in enumerate(_CORR_PAIRS))
    return (one.selectExpr(
        f"stack({len(_CORR_PAIRS)}, {stack_args}) AS (col_a, col_b, pearson)")
        .orderBy("col_a", "col_b"))


# --- Snapshot diff (dataset-version comparison) -----------------------------

DIFF_SQL = """
WITH v1 AS (
  SELECT doc_id, md5(concat(lang, '|', coalesce(text, ''))) AS h
  FROM documents
),
v2 AS (
  SELECT doc_id,
         md5(concat(CASE WHEN doc_id % 7 = 0 THEN upper(lang) ELSE lang END,
                    '|', coalesce(text, ''))) AS h
  FROM documents WHERE doc_id % 11 <> 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         md5(concat(lang, '|', coalesce(text, ''))) AS h
  FROM documents WHERE doc_id % 13 = 0
)
SELECT CASE
         WHEN v1.doc_id IS NULL THEN 'added'
         WHEN v2.doc_id IS NULL THEN 'removed'
         WHEN v1.h <> v2.h      THEN 'changed'
         ELSE 'unchanged'
       END AS change,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(coalesce(v1.doc_id, v2.doc_id)) AS BIGINT) AS first_key,
       CAST(max(coalesce(v1.doc_id, v2.doc_id)) AS BIGINT) AS last_key
FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
GROUP BY 1
ORDER BY change
"""


@register(sql=DIFF_SQL)
def snapshot_diff(spark, sf_dir):
    """Dataset-version diff summary — the audit companion to
    `merge_upsert`: project both snapshots to (key, content-hash), one
    co-partitioned full-outer join on the key, classify every key as
    added / removed / changed / unchanged, and aggregate to a 4-row
    report. The synthetic v2 mutates every 7th doc, drops every 11th and
    inserts a shifted copy of every 13th, so all four classes fire.

    Scale posture: the content hash collapses arbitrarily wide rows to 32
    bytes BEFORE the join, so the shuffle carries (key, hash) only; the
    classification is a projection and the output is 4 rows."""
    docs = load(spark, sf_dir, "documents")
    h1 = F.md5(F.concat(F.col("lang"), F.lit("|"),
                        F.coalesce(F.col("text"), F.lit(""))))
    lang2 = F.when(F.col("doc_id") % 7 == 0, F.upper("lang")) \
             .otherwise(F.col("lang"))
    h2 = F.md5(F.concat(lang2, F.lit("|"),
                        F.coalesce(F.col("text"), F.lit(""))))
    # both snapshots slice one
    # persisted (doc_id, h1, h2) frame — the old three-branch shape
    # scanned the table three times and ran the content md5 over the
    # full text in each branch. One scan, both hashes in one pass,
    # 32-byte rows in the cache.
    hashes = track_persist(
        docs.select("doc_id", h1.alias("h1"), h2.alias("h2")))
    v1 = hashes.select("doc_id", F.col("h1").alias("h"))
    v2 = (hashes.where(F.col("doc_id") % 11 != 0)
          .select("doc_id", F.col("h2").alias("h"))
          .unionByName(
              hashes.where(F.col("doc_id") % 13 == 0)
              .select((F.col("doc_id") + 1000000).alias("doc_id"),
                      F.col("h1").alias("h"))))
    j = v1.alias("a").join(v2.alias("b"),
                           F.col("a.doc_id") == F.col("b.doc_id"),
                           "full_outer")
    change = (F.when(F.col("a.doc_id").isNull(), "added")
              .when(F.col("b.doc_id").isNull(), "removed")
              .when(F.col("a.h") != F.col("b.h"), "changed")
              .otherwise("unchanged"))
    key = F.coalesce(F.col("a.doc_id"), F.col("b.doc_id"))
    return (j.select(change.alias("change"), key.alias("k"))
            .groupBy("change")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("k").alias("first_key"),
                 F.max("k").alias("last_key"))
            .orderBy("change"))


# --- Real raster decode over natively constructed PPM images ----------------

# Every pixel byte is an md5-chain value and every output is integer
# byte arithmetic plus ONE correctly-rounded float division (integer
# sums are exact in float64), so DuckDB replays the whole decode —
# construction, raster reshape, channel means, 4x4 block-mean thumbnail
# with numpy's half-to-even rounding — from the same md5 chain. The
# thumbnail is hashed as md5 of its lowercase-hex string (DuckDB has no
# md5(BLOB)).
_PPM_CHAIN = " || ".join(
    f"md5(CAST(doc_id AS VARCHAR) || ':{k}')" for k in range(48))

PPM_DECODE_SQL = f"""
WITH d AS (
  SELECT doc_id, CAST(8 + doc_id % 8 AS INTEGER) AS w,
         CAST(8 + doc_id % 4 AS INTEGER) AS h, {_PPM_CHAIN} AS hx
  FROM documents
), px AS (
  SELECT doc_id, w, h, ('0x' || substr(hx, 2*j + 1, 2))::INTEGER AS v,
         j % 3 AS ch, (j // 3) % w AS x, (j // 3) // w AS y
  FROM d CROSS JOIN LATERAL (
    SELECT unnest(generate_series(0, w*h*3 - 1)) AS j) g
), means AS (
  SELECT doc_id, w, h,
         sum(CASE WHEN ch = 0 THEN v END) / (w*h) AS mr,
         sum(CASE WHEN ch = 1 THEN v END) / (w*h) AS mg,
         sum(CASE WHEN ch = 2 THEN v END) / (w*h) AS mb
  FROM px GROUP BY doc_id, w, h
), tcell AS (
  SELECT doc_id, y // (h // 4) AS ty, x // (w // 4) AS tx, ch,
         sum(v)::DOUBLE / count(*) AS m
  FROM px WHERE y < (h // 4) * 4 AND x < (w // 4) * 4
  GROUP BY doc_id, ty, tx, ch
), tbytes AS (
  SELECT doc_id, ty, tx, ch,
         CASE WHEN m - floor(m) = 0.5
              THEN CAST(floor(m) AS BIGINT) + CAST(floor(m) AS BIGINT) % 2
              ELSE CAST(floor(m + 0.5) AS BIGINT) END AS r
  FROM tcell
), thumbs AS (
  SELECT doc_id,
         md5(string_agg(printf('%02x', r), '' ORDER BY ty, tx, ch))
           AS thumb_md5
  FROM tbytes GROUP BY doc_id
)
SELECT m.doc_id, m.w AS width, m.h AS height,
       round(mr, 4) AS mean_r, round(mg, 4) AS mean_g,
       round(mb, 4) AS mean_b, t.thumb_md5
FROM means m JOIN thumbs t USING (doc_id)
ORDER BY doc_id
"""


@register(sql=PPM_DECODE_SQL)
def multimodal_ppm_decode(spark, sf_dir):
    """REAL image decode end-to-end: binary P6 PPM rasters are synthesized
    natively (scan-speed projection, every byte reproducible), then
    mapInPandas parses the header, reinterprets the pixel buffer, and
    emits true channel means + a 4×4 block-mean thumbnail. Unlike the
    codec-blocked PNG/JPEG path this decodes actual pixels — pinned
    byte-exact against an independent pure-Python construction+decode in
    tests/test_multimodal.py, and against an exact DuckDB twin
    that replays the decode from the same md5 pixel chain. The thumbnail
    is reported as md5 of its lowercase-hex encoding (engine-portable;
    DuckDB lacks md5 over blobs)."""
    from spark_sentiment_spark.operators.multimodal import (
        attach_ppm_content, decode_ppm_features)

    docs = load(spark, sf_dir, "documents")
    ppm = attach_ppm_content(docs)
    return (decode_ppm_features(ppm)
            .select("doc_id", "width", "height",
                    F.round("mean_r", 4).alias("mean_r"),
                    F.round("mean_g", 4).alias("mean_g"),
                    F.round("mean_b", 4).alias("mean_b"),
                    F.md5(F.lower(F.hex("thumb"))).alias("thumb_md5"))
            .orderBy("doc_id"))


# The WAV payload is the UTF-8 text bytes, so the int16-LE PCM stream,
# RMS (exact integer sum of squares, one division, one sqrt) and peak
# are all replayable from hex pairs; non-audio modalities yield nulls.
WAV_DECODE_SQL = """
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
), audio AS (
  SELECT doc_id, hx, n,
         CAST(1 + doc_id % 2 AS INTEGER) AS ch,
         CAST(8000 + (doc_id % 5) * 8000 AS INTEGER) AS rate
  FROM b WHERE doc_id % 3 = 1
), pcm AS (
  SELECT doc_id, ch, rate,
         ('0x' || substr(hx, 4*i + 3, 2)
               || substr(hx, 4*i + 1, 2))::INTEGER AS vr
  FROM audio CROSS JOIN LATERAL (
    SELECT unnest(generate_series(0, n // 2 - 1)) AS i) g
), signed AS (
  SELECT doc_id, ch, rate,
         CASE WHEN vr >= 32768 THEN vr - 65536 ELSE vr END AS v
  FROM pcm
), stats AS (
  SELECT doc_id, ch, rate, count(*) AS npcm,
         sqrt(sum(CAST(v AS DOUBLE) * v) / count(*)) AS rms,
         max(abs(v)) AS peak
  FROM signed GROUP BY doc_id, ch, rate
)
SELECT b.doc_id, s.ch AS channels, s.rate AS sample_rate,
       CAST(s.npcm // s.ch AS BIGINT) AS n_samples,
       round((s.npcm // s.ch) / s.rate, 6) AS duration_s,
       round(s.rms, 4) AS rms,
       CAST(s.peak AS INTEGER) AS peak
FROM b LEFT JOIN stats s USING (doc_id)
ORDER BY b.doc_id
"""


@register(sql=WAV_DECODE_SQL)
def multimodal_wav_decode(spark, sf_dir):
    """REAL audio decode over the natively constructed mixed-media table
    (`attach_media_content`): WAV rows chunk-walk to their PCM payload and
    report true sample counts/duration/RMS/peak; PNG/mp4 rows yield nulls
    (the mixed-modality shape). Pinned against an independent decode in
    tests/test_multimodal.py, and against an exact DuckDB twin
    that replays the PCM reinterpret + RMS/peak from hex pairs of the
    same payload bytes."""
    from spark_sentiment_spark.operators.multimodal import (
        attach_media_content, decode_wav_features)

    docs = load(spark, sf_dir, "documents")
    media = attach_media_content(docs)
    return (decode_wav_features(media)
            .select("doc_id", "channels", "sample_rate", "n_samples",
                    F.round("duration_s", 6).alias("duration_s"),
                    F.round("rms", 4).alias("rms"), "peak")
            .orderBy("doc_id"))


# Frames 0/2/4 of the 6-frame stream; each 8x8 frame's 192 pixel bytes
# come from the (doc_id, frame)-keyed md5 chain, so channel means are
# exact integer sums / 64 — replayable without touching the container.
_FRAME_CHAIN = " || ".join(
    f"md5(CAST(doc_id AS VARCHAR) || ':f' || frame || ':{k}')"
    for k in range(12))

FRAME_SAMPLE_SQL = f"""
WITH fr AS (
  SELECT doc_id, unnest([0, 2, 4]) AS frame FROM documents
), d AS (
  SELECT doc_id, frame, {_FRAME_CHAIN} AS hx FROM fr
), px AS (
  SELECT doc_id, frame,
         ('0x' || substr(hx, 2*j + 1, 2))::INTEGER AS v, j % 3 AS ch
  FROM d CROSS JOIN LATERAL (
    SELECT unnest(generate_series(0, 191)) AS j) g
)
SELECT doc_id, CAST(frame AS INTEGER) AS frame,
       round(sum(CASE WHEN ch = 0 THEN v END) / 64, 4) AS mean_r,
       round(sum(CASE WHEN ch = 1 THEN v END) / 64, 4) AS mean_g,
       round(sum(CASE WHEN ch = 2 THEN v END) / 64, 4) AS mean_b
FROM px
GROUP BY doc_id, frame
ORDER BY doc_id, frame
"""


@register(sql=FRAME_SAMPLE_SQL)
def multimodal_frame_sample(spark, sf_dir):
    """REAL frame sampling: natively constructed PPMV frame streams (6
    uncompressed 8×8 frames per doc), every 2nd frame decoded to true
    channel means — the uncompressed-stream frame-sample path with nothing
    faked. Byte-exact construction and decode pinned in
    tests/test_multimodal.py; the exact DuckDB twin replays the
    sampled frames' channel means from the same md5 pixel chains."""
    from spark_sentiment_spark.operators.multimodal import (
        attach_ppm_video, sample_video_frames)

    docs = load(spark, sf_dir, "documents")
    vid = attach_ppm_video(docs)
    return (sample_video_frames(vid)
            .select("doc_id", "frame",
                    F.round("mean_r", 4).alias("mean_r"),
                    F.round("mean_g", 4).alias("mean_g"),
                    F.round("mean_b", 4).alias("mean_b"))
            .orderBy("doc_id", "frame"))


# --- Quality-curriculum bucketing (per-language quartiles) ------------------

CURRICULUM_SQL = """
WITH scored AS (
  SELECT doc_id, lang,
         round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                    AS DOUBLE)
               / greatest(length(text), 1), 6) AS alpha_ratio
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, lang, alpha_ratio,
       CAST(ntile(4) OVER (PARTITION BY lang
                           ORDER BY alpha_ratio, doc_id) AS BIGINT)
         AS curriculum_bucket
FROM scored
ORDER BY doc_id
"""


@register(sql=CURRICULUM_SQL)
def curriculum_buckets(spark, sf_dir):
    """Quality-curriculum assignment: score every document (alpha-char
    ratio — the cheapest robust quality proxy), then quartile it WITHIN
    its language via ntile so each language contributes its own
    easy→hard progression regardless of absolute score scale. One shuffle
    on the bounded language key; ties broken by doc_id so the buckets are
    engine-deterministic."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    alpha = F.round(
        F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).cast("double")
        / F.greatest(F.length("text"), F.lit(1)), 6)
    w = Window.partitionBy("lang").orderBy("alpha_ratio", "doc_id")
    return (docs.select("doc_id", "lang", alpha.alias("alpha_ratio"))
            .withColumn("curriculum_bucket",
                        F.ntile(4).over(w).cast("long"))
            .orderBy("doc_id"))


# --- Exact-N stratified sampling (content-addressed) ------------------------

SAMPLE_N_PER_LANG = 20

SAMPLE_N_SQL = f"""
SELECT doc_id, lang
FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
)
WHERE rn <= {SAMPLE_N_PER_LANG}
ORDER BY doc_id
"""


@register(sql=SAMPLE_N_SQL)
def sample_exact_n(spark, sf_dir):
    """Exactly-N-per-stratum sampling: rank every document inside its
    language by md5(doc_id) — a content-addressed pseudo-random order that
    is identical on every engine and every run — and keep the first N.
    The companion to `sample_stratified` (rate-based, sizes vary
    binomially) when the downstream step needs exact quota sizes (eval
    sets, annotation batches). One shuffle on the bounded stratum key."""
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (docs.select("doc_id", "lang")
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= SAMPLE_N_PER_LANG)
            .select("doc_id", "lang")
            .orderBy("doc_id"))


# --- Weighted sampling without replacement (priority sampling) --------------
# Duffield–Lund–Thorup priority sampling (JACM '07): each item draws a
# uniform u ∈ (0, 1] and gets priority p = w / u; the k largest priorities
# form the sample, and with τ = the (k+1)-th priority, ŵ = max(w, τ) is an
# unbiased estimator of any subset-sum of the weights — the one-pass,
# merge-friendly way to draw a quality-weighted training subsample AND
# still estimate corpus-level token/char totals from it.
#
# Engine independence: u is the content-addressed dyadic rational
# (md5(doc_id) 48-bit prefix + 1) / 2^48 — the same trick as mixture_sample
# — so u is EXACT in both engines (2^48 < 2^53, and the /2^48 step divides
# by a power of two, which is lossless in binary floating point). The
# priority w/u then involves exactly ONE inexact IEEE operation, performed
# identically by Spark and DuckDB on identical inputs → bit-identical
# doubles. No round() is applied on either side: rounding huge doubles is
# where engine round() implementations can diverge, while raw bit-identical
# values compare exactly (the harness folds both sides through the same
# 9 dp normalization).

SAMPLE_W_K = 100
_U48 = 281474976710656.0  # 2^48

SAMPLE_W_SQL = f"""
WITH pri AS (
  SELECT doc_id, lang,
         GREATEST(COALESCE(n_chars, 1), 1) AS w,
         CAST(GREATEST(COALESCE(n_chars, 1), 1) AS DOUBLE)
           / ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
               + 1) / {_U48}) AS p
  FROM documents
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY p DESC, doc_id) AS rn FROM pri
)
SELECT doc_id, lang, CAST(w AS BIGINT) AS weight, p AS priority,
       GREATEST(CAST(w AS DOUBLE),
                COALESCE((SELECT p FROM ranked WHERE rn = {SAMPLE_W_K + 1}),
                         0.0)) AS est_weight
FROM ranked
WHERE rn <= {SAMPLE_W_K}
ORDER BY doc_id
"""


@register(sql=SAMPLE_W_SQL)
def sample_weighted(spark, sf_dir):
    """Weighted sampling WITHOUT replacement via priority sampling: draw
    the ``SAMPLE_W_K`` documents with the largest w/u priorities (w =
    char-count weight, u = content-addressed uniform), and attach the
    τ-threshold estimator max(w, τ) that makes the sample usable for
    unbiased corpus-total estimates — the missing third form next to
    `sample_stratified` (rate-based) and `sample_exact_n` (quota-based),
    for when heavier/higher-quality documents should be proportionally
    likelier to survive.

    Scale shape: the priority is a narrow scan-speed projection; the
    global top-(k+1) is TakeOrderedAndProject (per-partition heaps + one
    k+1-row merge — never a global sort); τ and the final ranking run on
    that ≤ k+1-row bounded set (the catalog's top-k-bounded-window
    posture), persisted so the corpus is scanned ONCE, and the 1-row τ
    scalar re-enters via broadcast."""
    docs = load(spark, sf_dir, "documents")
    w = F.greatest(F.coalesce(F.col("n_chars"), F.lit(1)), F.lit(1))
    u_int = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                1, 12), 16, 10).cast("long") + 1)
    p = w.cast("double") / (u_int / F.lit(_U48))
    top = track_persist(
        docs.select("doc_id", "lang", w.alias("w"), p.alias("p"))
        .orderBy(F.desc("p"), "doc_id").limit(SAMPLE_W_K + 1)
        .withColumn("rn", F.row_number().over(
            Window.orderBy(F.desc("p"), "doc_id"))))
    tau = top.where(F.col("rn") == SAMPLE_W_K + 1) \
        .agg(F.min("p").alias("tau"))
    return (top.where(F.col("rn") <= SAMPLE_W_K)
            .crossJoin(F.broadcast(tau))
            .select("doc_id", "lang",
                    F.col("w").cast("bigint").alias("weight"),
                    F.col("p").alias("priority"),
                    F.greatest(F.col("w").cast("double"),
                               F.coalesce(F.col("tau"), F.lit(0.0)))
                    .alias("est_weight"))
            .orderBy("doc_id"))


# --- Embedding PCA (distributed Gram accumulation + driver eigensolve) ------


@register()
def embedding_pca(spark, sf_dir):
    """PCA over the embedding store — the whitening/compaction step before
    large-scale retrieval or semantic dedup. Distributed shape: each Arrow
    batch folds to ONE (d, d²+...) partial — count, per-dim sum, and Gram
    matrix XᵀX via BLAS — so the driver reduces #partitions tiny matrices,
    never rows (the treeAggregate pattern); the d×d covariance
    eigendecomposition is O(d³) driver-side math. Emits the top 8
    components' explained-variance profile. Rows-only driver check;
    numpy-differential test in tests/test_properties.py."""
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings")

    def partials(batches):
        for pdf in batches:
            V = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
            if not len(V):
                continue
            yield pd.DataFrame({
                "n": [len(V)],
                "s": [V.sum(axis=0).tolist()],
                "g": [(V.T @ V).reshape(-1).tolist()],
            })

    # reduce the per-batch partials as (position, value) pairs: posexplode
    # keeps the expression tree O(1) (an F.array of 4096 sums compiles to a
    # multi-MB task binary), while the groupBy stays fully distributed.
    part = emb.select("embedding").mapInPandas(
        partials, "n long, s array<double>, g array<double>")
    flat = part.select(F.posexplode(F.concat(
        F.array(F.col("n").cast("double")), "s", "g")).alias("pos", "v"))
    reduced = {r["pos"]: r["t"] for r in
               flat.groupBy("pos").agg(F.sum("v").alias("t")).collect()}
    out_schema = "component long, eigenvalue double, cum_explained double"
    if not reduced or reduced.get(0, 0) < 2:
        # <2 vectors: no covariance exists — empty profile, stable schema
        # (tests/test_empty_tables.py).
        return spark.createDataFrame([], out_schema)
    # flattened layout is [n, s(d), g(d*d)] — derive d from the total
    # length rather than assuming the fixture's embedding width.
    # len = 1 + d + d^2  →  d = (-1 + sqrt(4*len - 3)) / 2
    d = int(round((-1 + (4 * len(reduced) - 3) ** 0.5) / 2))
    assert 1 + d + d * d == len(reduced), (d, len(reduced))
    vec = np.asarray([reduced[i] for i in range(1 + d + d * d)])

    n = int(vec[0])
    s = vec[1:1 + d]
    g = vec[1 + d:].reshape(d, d)
    cov = (g - np.outer(s, s) / n) / (n - 1)
    evals = np.linalg.eigvalsh(cov)[::-1]
    total = float(evals.sum())
    rows = [(i + 1, float(evals[i]), float(evals[: i + 1].sum() / total))
            for i in range(min(8, d))]
    out = spark.createDataFrame(
        rows, "component long, eigenvalue double, cum_explained double")
    return out.select(
        "component", F.round("eigenvalue", 6).alias("eigenvalue"),
        F.round("cum_explained", 6).alias("cum_explained")) \
        .orderBy("component")


# --- Event activity heatmap (hour-of-day × day-of-week) ---------------------

HEATMAP_SQL = """
SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
       CAST(hour(ts) AS BIGINT) AS hour_of_day,
       count(*) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY 1, 2
ORDER BY dow, hour_of_day
"""


@register(sql=HEATMAP_SQL)
def events_heatmap(spark, sf_dir):
    """Hour-of-day × day-of-week activity matrix (events + distinct
    users) — the load-profile dashboard behind capacity planning and
    anomaly baselines. One agg over a 168-cell key space; the distinct
    expands to the standard two-phase plan. Spark's `dayofweek` is
    1=Sunday while DuckDB's is 0=Sunday — aligned here explicitly."""
    events = load(spark, sf_dir, "events")
    return (events
            .groupBy((F.dayofweek("ts") - 1).cast("long").alias("dow"),
                     F.hour("ts").cast("long").alias("hour_of_day"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.countDistinct("user_id").alias("n_users"))
            .orderBy("dow", "hour_of_day"))


# --- Cross-source provenance overlap ----------------------------------------

OVERLAP_SQL = f"""
WITH hs AS (
  SELECT md5(array_to_string((string_split(lower(text), ' '))[1:{PREFIX_K}],
             ' ')) AS h,
         source, count(*) AS c
  FROM documents WHERE text IS NOT NULL
  GROUP BY 1, 2
)
SELECT a.source AS src_a, b.source AS src_b,
       CAST(count(*) AS BIGINT) AS n_shared_prefixes,
       CAST(sum(a.c * b.c) AS BIGINT) AS n_dup_pairs
FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register(sql=OVERLAP_SQL)
def source_overlap(spark, sf_dir):
    """Cross-source provenance overlap matrix: for each source pair, how
    many boilerplate prefixes they share and how many cross-source dup
    pairs those imply — the curation question behind per-source dedup
    ordering and licensing audits (which scrapes re-host which).

    Scale: the corpus aggregates to (prefix_hash, source, count) BEFORE
    any join, so the self-join's per-hash fan-out is bounded by the
    number of sources sharing that hash (never by duplicate multiplicity
    — pair counts come from c_a*c_b arithmetic, not row products), and
    the output is bounded by n_sources²."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    # both self-join sides read the
    # same bounded (hash, source, count) aggregate — persist it so the
    # corpus is scanned and prefix-hashed once.
    hs = track_persist(
        docs.select(_prefix_hash_col().alias("h"), "source")
        .groupBy("h", "source").agg(F.count(F.lit(1)).alias("c")))
    a, b = hs.alias("a"), hs.alias("b")
    return (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("src_a"),
                 F.col("b.source").alias("src_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_prefixes"),
             F.sum(F.col("a.c") * F.col("b.c")).cast("bigint")
             .alias("n_dup_pairs"))
        .orderBy("src_a", "src_b")
    )


# --- Shard token-balance report ---------------------------------------------

BALANCE_SQL = r"""
WITH s AS (
  SELECT CAST(floor((strpos('0123456789abcdef',
                            substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
                    / 2.0) AS BIGINT) AS shard,
         len(string_split_regex(trim(text), '\s+')) AS nt
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
), agg AS (
  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(nt) AS BIGINT) AS n_tokens
  FROM s GROUP BY shard
)
SELECT shard, n_docs, n_tokens,
       round(n_tokens / avg(n_tokens) OVER (), 6) AS balance_ratio
FROM agg ORDER BY shard
"""


@register(sql=BALANCE_SQL)
def shard_balance(spark, sf_dir):
    """Operational companion to ``shuffle_shards``: per-shard doc and
    token totals plus each shard's token mass relative to the mean — the
    pre-flight check that content-addressed sharding didn't produce a
    straggler shard (ratios should sit near 1.0; a hot shard slows every
    epoch). One scan → bounded shard agg → window over ≤8 rows."""
    shard = _md5_shard(F.md5(F.col("doc_id").cast("string")))
    agg = (load(spark, sf_dir, "documents").where(has_text())
           .select(shard.alias("shard"), F.size(ws_tokens()).alias("nt"))
           .groupBy("shard")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("nt").cast("bigint").alias("n_tokens")))
    w = Window.partitionBy()  # bounded: one row per shard
    return (agg.select(
        "shard", "n_docs", "n_tokens",
        F.round(F.col("n_tokens") / F.avg("n_tokens").over(w), 6)
        .alias("balance_ratio"))
        .orderBy("shard"))


# --- Packing efficiency (padding-waste accounting per source) ---------------

PACK_EFF_SQL = f"""
WITH t AS (
  SELECT source, CAST(length({WS_TOKENS_SQL}) AS BIGINT) AS n
  FROM documents WHERE text IS NOT NULL
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS total_tokens,
       CAST(sum(CAST(ceil(n / {PACK_BUDGET}.0) AS BIGINT)) AS BIGINT)
         AS naive_windows,
       CAST(ceil(sum(n) / {PACK_BUDGET}.0) AS BIGINT) AS packed_windows,
       round(1 - sum(n) /
             (sum(CAST(ceil(n / {PACK_BUDGET}.0) AS BIGINT))
              * {PACK_BUDGET}.0), 6) AS naive_waste,
       round(1 - sum(n) /
             (CAST(ceil(sum(n) / {PACK_BUDGET}.0) AS BIGINT)
              * {PACK_BUDGET}.0), 6) AS packed_waste
FROM t GROUP BY source ORDER BY source
"""


@register(sql=PACK_EFF_SQL)
def packing_efficiency(spark, sf_dir):
    """Padding-waste accounting for the two batch layouts: one-doc-per-
    window with right-padding (naive_waste = padded slots / capacity)
    versus concat-and-chunk packing (`pack_sequences` — waste only in
    the shard tail). The delta is the compute a training run burns on
    pad tokens, per source — the go/no-go number for enabling packing.

    Scale: one scan → per-source agg (bounded); everything else is
    arithmetic on the aggregates."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    n = F.col("n")
    naive_w = F.sum(F.ceil(n / float(PACK_BUDGET)).cast("bigint"))
    packed_w = F.ceil(F.sum(n) / float(PACK_BUDGET)).cast("bigint")
    return (docs.select("source", _n_tokens_col().alias("n"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum(n).cast("bigint").alias("total_tokens"),
                 naive_w.cast("bigint").alias("naive_windows"),
                 packed_w.alias("packed_windows"),
                 F.round(1 - F.sum(n) / (naive_w * float(PACK_BUDGET)), 6)
                 .alias("naive_waste"),
                 F.round(1 - F.sum(n) / (packed_w.cast("double")
                                         * PACK_BUDGET), 6)
                 .alias("packed_waste"))
            .orderBy("source"))


# --- Perceptual-hash near-dup over the real image decode --------------------

_PH_CHAIN = " || ".join(
    f"md5('g:' || CAST(doc_id // 7 AS VARCHAR) || ':{k}')"
    for k in range(12))
_PH_POW2 = ("CASE p % 16 " + " ".join(
    f"WHEN {k} THEN {1 << k}" for k in range(16)) + " END")
_PH_HAM = ("bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))"
           " + bit_count(xor(ha.b2, hb.b2))"
           " + bit_count(xor(ha.b3, hb.b3))")

PHASH_DEDUP_SQL = f"""
WITH d AS (
  SELECT doc_id, doc_id % 7 AS m, {_PH_CHAIN} AS hx FROM documents
), px AS (
  SELECT doc_id, j,
         CASE WHEN j = 0
              THEN (('0x' || substr(hx, 1, 2))::INTEGER + 40 * m) % 256
              ELSE ('0x' || substr(hx, 2*j + 1, 2))::INTEGER END AS v
  FROM d CROSS JOIN LATERAL (
    SELECT unnest(generate_series(0, 191)) AS j) g
), gray AS (
  SELECT doc_id, j // 3 AS p, sum(v) // 3 AS gv
  FROM px GROUP BY doc_id, j // 3
), tot AS (
  SELECT doc_id, sum(gv) AS s FROM gray GROUP BY doc_id
), bits AS (
  SELECT g.doc_id, p, CASE WHEN 64 * gv > s THEN 1 ELSE 0 END AS bit
  FROM gray g JOIN tot t USING (doc_id)
), bands AS (
  SELECT doc_id, p // 16 AS bi,
         CAST(sum(bit * {_PH_POW2}) AS BIGINT) AS bv
  FROM bits GROUP BY doc_id, p // 16
), hs AS (
  SELECT doc_id,
         max(CASE WHEN bi = 0 THEN bv END) AS b0,
         max(CASE WHEN bi = 1 THEN bv END) AS b1,
         max(CASE WHEN bi = 2 THEN bv END) AS b2,
         max(CASE WHEN bi = 3 THEN bv END) AS b3
  FROM bands GROUP BY doc_id
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b, CAST({_PH_HAM} AS BIGINT) AS hamming
FROM cand c
JOIN hs ha ON c.doc_a = ha.doc_id
JOIN hs hb ON c.doc_b = hb.doc_id
WHERE {_PH_HAM} <= 3
ORDER BY doc_a, doc_b
"""


@register(sql=PHASH_DEDUP_SQL)
def multimodal_phash_dedup(spark, sf_dir):
    """Near-duplicate IMAGES by perceptual hash — the multimodal arm of
    the dedup family: synthesize 8x8 P6 PPMs with planted near-dup
    groups (shared md5 pixel chain per gid = doc_id div 7, one pixel
    byte perturbed per member), REALLY decode them (mapInPandas raster
    parse, operators/multimodal.py::decode_ppm_ahash), hash each to a
    64-bit aHash with integer cross-multiplied mean bits, and find pairs
    at Hamming distance <= 3 via 4x16-bit band buckets: by pigeonhole,
    two hashes within 3 bit flips MUST agree on at least one band, so
    the band join is a LOSSLESS candidate filter (the image-space twin
    of dedup_simjoin_prefix's prefix rule and the SimHash band trick).
    Verification XORs the band integers and sums bit_count — no
    per-bit table, no all-pairs join anywhere.

    The DuckDB oracle replays construction, decode, hashing, banding and
    verification from the same md5 chains — the estimate chain is
    engine-exact end to end. At sf0.01 the 500 docs form ~71 groups and
    ~1.47k of the 1494 planted within-group pairs land at hamming <= 3
    (the perturbation occasionally flips >3 bits when the mean shifts —
    those misses are the hash's real behavior, identically reproduced).

    Scale: hashing is one Arrow pass over the rasters; state per image
    is 8 bytes; the band self-join is bucket-local (the LSH shape), and
    hamming verification touches candidates only."""
    from spark_sentiment_spark.operators.multimodal import (
        attach_ppm_group_content, decode_ppm_ahash)

    docs = load(spark, sf_dir, "documents").select("doc_id")
    hashes = track_persist(
        decode_ppm_ahash(attach_ppm_group_content(docs)))
    bands = hashes.selectExpr(
        "doc_id", "stack(4, 0, b0, 1, b1, 2, b2, 3, b3) AS (bi, bv)")
    cand = (bands.alias("a")
            .join(bands.alias("b"),
                  (F.col("a.bi") == F.col("b.bi"))
                  & (F.col("a.bv") == F.col("b.bv"))
                  & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    ha = hashes.select(F.col("doc_id").alias("doc_a"),
                       F.col("b0").alias("a0"), F.col("b1").alias("a1"),
                       F.col("b2").alias("a2"), F.col("b3").alias("a3"))
    hb = hashes.select(F.col("doc_id").alias("doc_b"),
                       F.col("b0").alias("c0"), F.col("b1").alias("c1"),
                       F.col("b2").alias("c2"), F.col("b3").alias("c3"))
    ham = (F.bit_count(F.col("a0").bitwiseXOR(F.col("c0")))
           + F.bit_count(F.col("a1").bitwiseXOR(F.col("c1")))
           + F.bit_count(F.col("a2").bitwiseXOR(F.col("c2")))
           + F.bit_count(F.col("a3").bitwiseXOR(F.col("c3"))))
    return (cand.join(ha, "doc_a").join(hb, "doc_b")
            .where(ham <= 3)
            .select("doc_a", "doc_b", ham.cast("bigint").alias("hamming"))
            .orderBy("doc_a", "doc_b"))


# --- Distribution window functions (percent_rank / cume_dist) ---------------

WINDOW_DIST_SQL = """
WITH b AS (
  SELECT l_returnflag AS flag,
         CAST(floor(l_extendedprice / 10000) AS BIGINT) AS bucket
  FROM lineitem
), wr AS (
  SELECT flag, bucket,
         percent_rank() OVER (PARTITION BY flag ORDER BY bucket) AS pr,
         cume_dist() OVER (PARTITION BY flag ORDER BY bucket) AS cd
  FROM b
)
SELECT flag, bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(floor(any_value(pr) * 1000000.0) AS BIGINT) AS pr_e6,
       CAST(floor(any_value(cd) * 1000000.0) AS BIGINT) AS cd_e6
FROM wr
GROUP BY flag, bucket
ORDER BY flag, bucket
"""


@register(sql=WINDOW_DIST_SQL)
def window_dist_funcs(spark, sf_dir):
    """The DISTRIBUTION window functions the rank family doesn't cover:
    percent_rank (= (rank-1)/(N-1)) and cume_dist (= peers-so-far / N)
    of each price bucket within its return-flag partition — the
    percentile-position shape behind "what fraction of orders are below
    this tier". Peer semantics are the point: all rows of a bucket share
    one pr/cd value (rank counts predecessors, cume_dist counts through
    the peer group), so the per-bucket collapse is lossless. Both
    functions are integer-ratio outputs over identical operands,
    floor-scaled to a 1e-6 grid — engine-exact.

    Scale: one flag-partitioned window sort evaluates both functions in
    a single stage; the collapse is a bounded (flags × buckets) hash
    agg. At 100 TB the same answer comes cheaper from the bucket
    histogram (counts per bucket → prefix sums), which is exactly what
    the peer-collapse here demonstrates."""
    li = load(spark, sf_dir, "lineitem")
    b = li.select(F.col("l_returnflag").alias("flag"),
                  F.floor(F.col("l_extendedprice") / 10000).cast("bigint")
                  .alias("bucket"))
    w = Window.partitionBy("flag").orderBy("bucket")
    wr = b.select("flag", "bucket",
                  F.percent_rank().over(w).alias("pr"),
                  F.cume_dist().over(w).alias("cd"))
    return (wr.groupBy("flag", "bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.floor(F.first("pr") * 1_000_000.0).cast("bigint")
                 .alias("pr_e6"),
                 F.floor(F.first("cd") * 1_000_000.0).cast("bigint")
                 .alias("cd_e6"))
            .orderBy("flag", "bucket"))


# --- IO round-trips through the engine's own source/sink layer --------------

IO_JSON_SQL = """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(length(text)) AS BIGINT) AS sum_text_len
FROM documents
GROUP BY source
ORDER BY source
"""


@register(sql=IO_JSON_SQL)
def io_json_roundtrip(spark, sf_dir):
    """S1/S8/S11 routed through the DRIVER gate, not just unit tests:
    the documents table is written as JSON lines by the engine's own
    format-dispatched sink (`sources.io.save`), read back by its
    extension-dispatched scan (`sources.io.load`), and aggregated per
    source — counts, distinct langs, character masses INCLUDING the
    free-text column (so JSON string escaping round-trips or the hash
    check fails). The oracle aggregates the original parquet directly:
    any loss or mangling in either IO direction breaks the match.

    Scale: the sink/scan are the engine's normal distributed writers
    (one file per partition); the aggregate is sources-sized. The temp
    staging dir is per-call (content never reused across runs).

    Empty-source contract: JSON is schema-on-read — zero rows leave
    NOTHING to infer from, so the read-back relation has no columns
    (unlike parquet, whose footers carry schema even for empty files —
    see io_schema_evolution). The guard returns the stable empty output
    instead of failing resolution, which is what a nightly pipeline
    needs on a quiet source."""
    return _io_roundtrip(spark, sf_dir, "json")


def _io_roundtrip(spark, sf_dir, fmt: str):
    """Per-source aggregate of the documents table after a round trip
    through `sources.io.save` and `sources.io.load` in format ``fmt``.
    A zero-row write leaves nothing to infer a schema from (the load
    raises, or returns no columns): the stable empty output is returned
    instead."""
    from pyspark.errors import AnalysisException

    from spark_sentiment_spark.sources import io as sio

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars")
    out = track_staging_dir(f"io_{fmt}_rt_") + f"/docs.{fmt}"
    sio.save(docs, out, fmt)
    try:
        back, ftype = sio.load(spark, out)
        assert ftype == fmt
        cols = set(back.columns)
    except AnalysisException:
        cols = set()
    if not {"source", "lang", "n_chars", "text"} <= cols:
        return spark.createDataFrame(
            [], "source string, n_docs bigint, n_langs bigint, "
                "sum_chars bigint, sum_text_len bigint")
    return (back.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.countDistinct("lang").cast("bigint").alias("n_langs"),
                 F.sum("n_chars").cast("bigint").alias("sum_chars"),
                 F.sum(F.length("text")).cast("bigint")
                 .alias("sum_text_len"))
            .orderBy("source"))


IO_CSV_SQL = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(min(doc_id) AS BIGINT) AS min_doc,
       CAST(max(doc_id) AS BIGINT) AS max_doc
FROM documents
GROUP BY lang
ORDER BY lang
"""


@register(sql=IO_CSV_SQL)
def io_csv_roundtrip(spark, sf_dir):
    """S2/S3/S4/S8/S12 routed through the DRIVER gate: the documents
    table (metadata columns — the free-text column is JSON's job, CSV
    quoting of embedded delimiters is covered by the unit suite) is
    written by the engine's CSV sink with headers, then read back by the
    SNIFFING scan — `load_csv` with every dialect option unspecified, so
    delimiter detection, header detection and escape detection all run
    against a genuinely engine-produced file — and aggregated per lang.
    The oracle aggregates the original parquet: a wrong sniff (treating
    the header as data, splitting on the wrong delimiter, dropping a
    column) breaks row counts, doc_id extrema, or sums.

    Scale: same posture as the JSON twin — distributed sink/scan, a
    langs-sized aggregate, per-call staging.

    Empty-source contract: an empty CSV write yields data-less files
    (Spark's writer emits the header only for non-empty partitions), so
    the sniffing read has no header row to detect and surfaces
    positional `_c*` columns. The guard returns the stable empty output
    instead of failing resolution — the quiet-source behavior the
    empty-tables contract test pins."""
    from spark_sentiment_spark.sources import io as sio

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars")
    out = track_staging_dir("io_csv_rt_") + "/docs.csv"
    sio.save(docs, out, "csv")
    back, ftype = sio.load(spark, out)
    assert ftype == "csv"
    if not {"doc_id", "lang", "source", "n_chars"} <= set(back.columns):
        return spark.createDataFrame(
            [], "lang string, n_docs bigint, n_sources bigint, "
                "sum_chars bigint, min_doc bigint, max_doc bigint")
    return (back.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.countDistinct("source").cast("bigint").alias("n_sources"),
                 F.sum("n_chars").cast("bigint").alias("sum_chars"),
                 F.min("doc_id").cast("bigint").alias("min_doc"),
                 F.max("doc_id").cast("bigint").alias("max_doc"))
            .orderBy("lang"))


IO_EVOLVE_SQL = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(CASE WHEN doc_id % 2 = 1 THEN source END) AS BIGINT)
         AS n_with_source,
       CAST(count(DISTINCT CASE WHEN doc_id % 2 = 1 THEN source END)
            AS BIGINT) AS n_sources,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY lang
ORDER BY lang
"""


@register(sql=IO_EVOLVE_SQL)
def io_schema_evolution(spark, sf_dir):
    """Schema evolution across a long-lived table's lifetime, routed
    through the driver gate: an "old" batch (even doc_ids, written
    BEFORE the ``source`` column existed) and a "new" batch (odd
    doc_ids, with ``source``) are written by the engine's parquet sink
    into partition subdirectories ``batch=old`` / ``batch=new``, then
    read back as ONE table by the engine's scan with
    ``merge_schema=True`` (`sources/io.py::load`) — partition discovery
    fills the ``batch`` column, footer-merging unions the two file
    schemas, and the old batch surfaces ``source`` as NULL. The
    aggregate counts per-lang docs, non-null sources, distinct sources
    and character mass; the oracle replays the even/odd drift rule on
    the original parquet, so a wrong schema union (dropping the new
    column, mis-filling old rows, losing a batch to partition
    discovery) breaks counts or null accounting.

    Scale: this is exactly how a 100 TB table accretes columns —
    mergeSchema costs one footer pass (why it's opt-in, io.py:140),
    partition pruning on ``batch`` still works, and the aggregate is
    langs-sized. Staging is per-call tempdir."""
    from spark_sentiment_spark.sources import io as sio

    docs = load(spark, sf_dir, "documents")
    root = track_staging_dir("io_evolve_") + "/docs.parquet"
    old = (docs.filter(F.col("doc_id") % 2 == 0)
           .select("doc_id", "lang", "n_chars"))
    new = (docs.filter(F.col("doc_id") % 2 == 1)
           .select("doc_id", "lang", "n_chars", "source"))
    sio.save(old, root + "/batch=old", "parquet")
    sio.save(new, root + "/batch=new", "parquet")
    back, ftype = sio.load(spark, root, merge_schema=True)
    assert ftype == "parquet" and "batch" in back.columns
    return (back.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.count("source").cast("bigint").alias("n_with_source"),
                 F.countDistinct("source").cast("bigint").alias("n_sources"),
                 F.sum("n_chars").cast("bigint").alias("sum_chars"))
            .orderBy("lang"))


# The ORC round trip must return the JSON one's rows: the same oracle.
IO_ORC_SQL = IO_JSON_SQL


@register(sql=IO_ORC_SQL)
def io_orc_roundtrip(spark, sf_dir):
    """The ORC leg of the S11-S14 sink/scan extension routed through the
    DRIVER gate, completing the columnar-format pair next to
    `io_json_roundtrip` (row text) and `io_csv_roundtrip` (sniffed
    text): the documents table — free-text column included, so string
    encoding must survive both directions — is written by the engine's
    format-dispatched ORC sink and read back by its extension-dispatched
    scan, then aggregated per source against the original parquet's
    oracle. ORC matters as the second footer-carrying columnar format a
    lake actually mixes with parquet (Hive-era tables); the engine's
    dispatch treats it uniformly (`sources/io.py:160`).

    Scale: distributed columnar sink/scan (one file per partition,
    predicate/column pruning served by ORC stripes the way parquet row
    groups do); the aggregate is sources-sized; per-call staging.

    Empty-source contract: like parquet, a zero-row ORC write leaves no
    data files to infer a schema from — the guard returns the stable
    empty output instead of failing resolution (quiet-source nightly
    behavior; the parquet queries solve this with writer-side schemas,
    but the extension-dispatched `sio.load` path is schema-on-read by
    design)."""
    return _io_roundtrip(spark, sf_dir, "orc")


# --- The composed training-set build (curate → mix → pack → shuffle) --------

PREP_BUDGET = 150  # mixture budget over the curated survivors: ~260 of 500
#   fixture docs survive curation, so 150 keeps the quota stage ACTIVE at
#   every test SF (a budget >= the survivor count would select everything
#   and reduce the mixture stage to a no-op)

PREP_SQL = rf"""
WITH {_curate_ctes(_COMPOSITE_GATE_CTES)},
kept AS (
  SELECT d.doc_id, d.source, d.text
  FROM verdicts v JOIN documents d ON v.doc_id = d.doc_id
  WHERE v.reason = 'kept'
),
src AS (
  SELECT source, count(*) AS n_docs,
         sum(len({WS_TOKENS_SQL})) AS n_tokens
  FROM kept
  GROUP BY source
),
alloc AS (
  SELECT source, n_docs, n_tokens,
         pow(n_tokens, {TEMP_ALPHA}) /
           sum(pow(n_tokens, {TEMP_ALPHA})) OVER ()
           * {PREP_BUDGET} AS quota_f
  FROM src
),
based AS (
  SELECT source, n_docs,
         CAST(floor(quota_f) AS BIGINT) AS base_q,
         round(quota_f - floor(quota_f), 6) AS rem,
         n_tokens
  FROM alloc
),
lr AS (
  SELECT source, n_docs, base_q,
         row_number() OVER (ORDER BY rem DESC, n_tokens DESC, source)
           AS rr,
         {PREP_BUDGET} - sum(base_q) OVER () AS leftover
  FROM based
),
quota AS (
  SELECT source,
         least(base_q + CASE WHEN rr <= leftover THEN 1 ELSE 0 END,
               n_docs) AS q
  FROM lr
),
mranked AS (
  SELECT doc_id, source,
         CAST(len({WS_TOKENS_SQL}) AS BIGINT) AS n_tokens,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS pick
  FROM kept
),
picked AS (
  SELECT m.doc_id, m.source, CAST(m.pick AS BIGINT) AS pick, m.n_tokens
  FROM mranked m JOIN quota ON m.source = quota.source
  WHERE m.pick <= quota.q
),
packed AS (
  SELECT doc_id, source, pick, n_tokens,
         CAST(floor((sum(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_tokens) / {PACK_BUDGET}.0) AS BIGINT) AS window_id
  FROM picked
),
sharded AS (
  SELECT doc_id, source, pick, n_tokens, window_id,
         md5(CAST(doc_id AS VARCHAR)) AS h,
         CAST(floor((strpos('0123456789abcdef',
                            substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
                    / 2.0) AS BIGINT) AS shard
  FROM packed
)
SELECT doc_id, source, pick, n_tokens, window_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
            AS BIGINT) AS pos
FROM sharded
ORDER BY shard, pos
"""


@register(sql=PREP_SQL)
def prepare_training_set(spark, sf_dir):
    """The pipeline TAIL composed end-to-end — the one-manifest
    training-set build downstream of everything else in the catalog,
    mirroring how `curate_corpus` composed its four stages:

      1. curation (`curate_corpus` — gate + benchmark exclusion +
         keep-best dedup + 3-gram decontamination) selects the
         survivors;
      2. mixture quota (`mixture_apply` semantics via the shared
         `mixture_quota_pick` builder, budget {PREP_BUDGET}): each
         source contributes a temperature-scaled largest-remainder
         quota of survivors, picked by content-addressed md5 rank;
      3. sequence packing (`pack_sequences` semantics): per-source
         running token sum over the SELECTED docs → context-window id;
      4. reproducible shuffle (`shuffle_shards` semantics): md5-nibble
         shard + md5 rank within shard = the training ingest order.

    Emits one row per selected document — (doc_id, source, pick,
    n_tokens, window_id, shard, pos), ordered by (shard, pos): exactly
    the manifest a trainer consumes. Every stage keeps its standalone
    query's published semantics; stage-consistency is pinned in
    tests/test_pipeline_queries.py (selected ⊆ kept, shard equality vs
    `shuffle_shards`, per-source pick order vs `mixture_apply`).

    Scale: the curation stages keep their audited shapes (scan-speed
    gate, bounded-key windows, broadcast benchmark probe); the manifest
    join is one linear doc_id-equi shuffle; the quota table is
    per-source bounded (broadcast); packing windows partition on the
    bounded source key; the shard window on the 16-value nibble key.
    Nothing quadratic, no global ordering until the final bounded output
    sort."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    manifest = _curation_verdicts(docs, _composite_gate(docs))
    # The survivor frame is PERSISTED, narrow (3 columns, no text):
    # every reference to `kept` would otherwise re-expand the whole
    # curation DAG — measured 15 documents scans unpersisted vs the
    # curation pass's own ~5 with the cache.
    kept = track_persist(
        docs.select("doc_id", "source",
                    _n_tokens_col().alias("n_tokens"))
        .join(manifest.where(F.col("keep")).select("doc_id"), "doc_id"))
    return _prep_training_set(kept)


def _prep_training_set(kept):
    """Stages 2–4 of the training-set build over the curated survivors
    (doc_id, source, n_tokens): mixture quota → packing → shuffle."""
    picked = mixture_quota_pick(kept, budget=PREP_BUDGET)
    sel = picked.join(kept.select("doc_id", "n_tokens"), "doc_id")

    wp = (Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    packed = (sel.withColumn("cum", F.sum("n_tokens").over(wp))
              .select("doc_id", "source", "pick", "n_tokens",
                      F.floor((F.col("cum") - F.col("n_tokens"))
                              / PACK_BUDGET)
                      .cast("bigint").alias("window_id")))

    h = F.md5(F.col("doc_id").cast("string"))
    shard = _md5_shard(h)
    ws = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (packed.withColumn("h", h).withColumn("shard", shard)
            .withColumn("pos", F.row_number().over(ws).cast("bigint"))
            .select("doc_id", "source", "pick", "n_tokens", "window_id",
                    "shard", "pos")
            .orderBy("shard", "pos"))
