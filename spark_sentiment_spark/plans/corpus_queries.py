"""Corpus-level statistics queries for training-data curation (SURVEY.md
§7.4 extension surface): mixture temperature weights, token entropy, PMI
bigram association, and embedding health checks.

Each is a pure DataFrame plan with a DuckDB oracle twin. Scale posture
(100 TB): token/bigram tables aggregate to vocabulary size before any
join or global window; corpus-wide scalars are computed as 1-row
aggregates and broadcast (never a window over an unbounded row set);
per-``source``/``label`` outputs are bounded-cardinality.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_sentiment_spark.functions.text import (WS_TOKENS_SQL, has_text,
                                                  token_bigrams, ws_tokens)
from spark_sentiment_spark.operators.mixture import (TEMP_ALPHA, md5_ranked,
                                                     mixture_quota_pick,
                                                     mixture_quotas)
from spark_sentiment_spark.operators.winnow import (WINNOW_CTE,
                                                    winnow_selected)
from spark_sentiment_spark.plans.registry import (load, register,
                                                  track_persist)

def _doc_tokens(spark, sf_dir):
    """Whitespace token list ``l`` of every non-blank document."""
    return (load(spark, sf_dir, "documents").where(has_text())
            .select(ws_tokens().alias("l")))


def _bigrams(t):
    """Adjacent token pairs (w1, w2) of the token lists ``t.l``."""
    return (t.where(F.size("l") > 1)
            .select(F.explode(token_bigrams("l")).alias("bg"))
            .select("bg.w1", "bg.w2"))


def _cooccurrence_graph(spark, sf_dir):
    """(ed, deg, da, db) of the token co-occurrence graph: the persisted
    distinct undirected edges (a, b) without self-loops, the persisted
    node degrees (v, d), and the degrees keyed as endpoint a and b."""
    bg = _bigrams(_doc_tokens(spark, sf_dir)).where(
        F.col("w1") != F.col("w2"))
    ed = track_persist(
        bg.select(F.least("w1", "w2").alias("a"),
                  F.greatest("w1", "w2").alias("b")).distinct())
    deg = track_persist(
        ed.select(F.col("a").alias("v"))
        .unionByName(ed.select(F.col("b").alias("v")))
        .groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("d")))
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    return ed, deg, da, db


def _live_docs(spark, sf_dir):
    """(doc_id, source, n_tokens) of every non-blank document."""
    return (load(spark, sf_dir, "documents").where(has_text())
            .select("doc_id", "source",
                    F.size(ws_tokens()).alias("n_tokens")))


def _distinct_token_ratio():
    """Distinct-token ratio of ``text`` split on single spaces, rounded to
    6 dp before any ranking or binning."""
    toks = F.split(F.col("text"), " ", -1)
    return F.round(
        F.size(F.array_distinct(toks)).cast("double")
        / F.greatest(F.size(toks), F.lit(1)), 6)


# --- Temperature-scaled mixture weights ------------------------------------

MIXTURE_TEMP_SQL = f"""
WITH src AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len({WS_TOKENS_SQL})) AS BIGINT) AS n_tokens
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
  GROUP BY source
)
SELECT source, n_docs, n_tokens,
       round(pow(n_tokens, {TEMP_ALPHA}) /
             sum(pow(n_tokens, {TEMP_ALPHA})) OVER (), 6) AS weight,
       round((pow(n_tokens, {TEMP_ALPHA}) /
              sum(pow(n_tokens, {TEMP_ALPHA})) OVER ())
             * sum(n_tokens) OVER () / n_tokens, 6) AS epochs
FROM src
ORDER BY source
"""


@register("mixture_temperature", sql=MIXTURE_TEMP_SQL, tags=("pipeline",))
def mixture_temperature(spark, sf_dir):
    """Temperature-scaled source sampling weights (multilingual-LM style:
    w_i ∝ n_i^alpha, alpha=0.7) plus the implied per-source epoch count
    for a token budget equal to the corpus size. The corpus reduces to
    one row per source before the (bounded-partition) global window, so
    the window never sees unbounded data."""
    src = (
        load(spark, sf_dir, "documents").where(has_text())
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum(F.size(ws_tokens())).alias("n_tokens"))
    )
    w = Window.partitionBy()  # bounded: one row per source
    scaled = F.pow(F.col("n_tokens"), F.lit(TEMP_ALPHA))
    weight = scaled / F.sum(scaled).over(w)
    return (
        src.select(
            "source", "n_docs", "n_tokens",
            F.round(weight, 6).alias("weight"),
            F.round(weight * F.sum("n_tokens").over(w) / F.col("n_tokens"),
                    6).alias("epochs"),
        )
        .orderBy("source")
    )


# --- Per-source unigram entropy --------------------------------------------

ENTROPY_SQL = f"""
WITH tok AS (
  SELECT source, unnest({WS_TOKENS_SQL}) AS w
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
), cnt AS (
  SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2
), tot AS (
  SELECT source, sum(c) AS t FROM cnt GROUP BY 1
)
SELECT cnt.source,
       CAST(count(*) AS BIGINT) AS vocab,
       round(-sum((c / t) * log2(c / t)), 6) AS entropy_bits
FROM cnt JOIN tot ON cnt.source = tot.source
GROUP BY cnt.source
ORDER BY cnt.source
"""


@register("corpus_token_entropy", sql=ENTROPY_SQL, bench=True,
          tags=("pipeline", "text"))
def corpus_token_entropy(spark, sf_dir):
    """Shannon entropy (bits) of the per-source unigram distribution — a
    diversity/quality signal (template-generated or boilerplate-heavy
    sources score low). One explode + vocabulary-sized agg; the per-source
    totals come from a window over the *aggregated* (vocab-sized) table,
    so the corpus itself shuffles once."""
    tok = (load(spark, sf_dir, "documents").where(has_text())
           .select("source", F.explode(ws_tokens()).alias("w")))
    cnt = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    t = F.sum("c").over(Window.partitionBy("source"))
    p = F.col("c") / t
    return (
        cnt.select("source", F.col("c"), (-p * F.log2(p)).alias("term"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("vocab"),
             F.round(F.sum("term"), 6).alias("entropy_bits"))
        .orderBy("source")
    )


# --- PMI bigram association -------------------------------------------------

PMI_MIN_COUNT = 5

PMI_SQL = f"""
WITH t AS (
  SELECT {WS_TOKENS_SQL} AS l
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
), bg AS (
  -- list_slice, not l[:-1]: DuckDB's negative slice bound is INCLUSIVE
  -- (l[:-1] = the whole list), and list_zip pads to the longer input,
  -- which would add a phantom (last_token, NULL) pair per doc.
  SELECT z.bg[1] AS w1, z.bg[2] AS w2, count(*) AS c12
  FROM (SELECT unnest(list_zip(list_slice(l, 1, len(l) - 1), l[2:])) AS bg
        FROM t WHERE len(l) > 1) z
  GROUP BY 1, 2
), uni AS (
  SELECT w, count(*) AS c
  FROM (SELECT unnest(l) AS w FROM t) u
  GROUP BY 1
), nb AS (SELECT sum(c12) AS n_bi FROM bg),
   nu AS (SELECT sum(c) AS n_uni FROM uni)
SELECT bg.w1, bg.w2, CAST(c12 AS BIGINT) AS c12,
       round(log2((c12 / n_bi) /
                  ((u1.c / n_uni) * (u2.c / n_uni))), 6) AS pmi
FROM bg
JOIN uni u1 ON bg.w1 = u1.w
JOIN uni u2 ON bg.w2 = u2.w
CROSS JOIN nb
CROSS JOIN nu
WHERE c12 >= {PMI_MIN_COUNT}
ORDER BY w1, w2
"""


@register("token_pmi_bigrams", sql=PMI_SQL, tags=("pipeline", "text"))
def token_pmi_bigrams(spark, sf_dir):
    """Pointwise mutual information of adjacent token pairs (collocation
    mining / phrase-vocabulary induction, word2vec-style). The corpus
    explodes twice (bigrams, unigrams) into *aggregated* count tables;
    corpus totals are 1-row aggregates cross-joined back (broadcast
    scalar, the repo's standard pattern). The unigram probe joins carry
    NO broadcast hint: a raw whitespace vocabulary is not meaningfully
    bounded on a web corpus (typos/URLs/numbers), so join strategy is
    left to size estimates + AQE — broadcast at small SF, shuffle join
    (the correct linear plan) when the vocabulary outgrows the
    threshold at scale."""
    t = _doc_tokens(spark, sf_dir)
    # Both vocabulary-sized count tables are persisted: unpersisted, their
    # five consumers re-scanned and re-exploded the corpus each.
    bg = track_persist(
        _bigrams(t).groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12")))
    uni = track_persist(
        t.select(F.explode("l").alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    n_bi = bg.agg(F.sum("c12").alias("n_bi"))
    n_uni = uni.agg(F.sum("c").alias("n_uni"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    return (
        bg.where(F.col("c12") >= PMI_MIN_COUNT)
        .crossJoin(F.broadcast(n_bi))
        .crossJoin(F.broadcast(n_uni))
        .join(u1, "w1")
        .join(u2, "w2")
        .select(
            "w1", "w2", F.col("c12").cast("bigint").alias("c12"),
            F.round(F.log2((F.col("c12") / F.col("n_bi")) /
                           ((F.col("c1") / F.col("n_uni")) *
                            (F.col("c2") / F.col("n_uni")))), 6).alias("pmi"),
        )
        .orderBy("w1", "w2")
    )


# --- Embedding health check -------------------------------------------------

EMB_STATS_SQL = """
WITH e AS (
  SELECT label,
         CASE WHEN embedding IS NULL OR len(embedding) = 0
              THEN 1 ELSE 0 END AS invalid,
         CASE WHEN embedding IS NULL OR len(embedding) = 0 THEN NULL
              ELSE len(embedding) END AS dim,
         CASE WHEN embedding IS NULL OR len(embedding) = 0 THEN NULL
              ELSE sqrt(list_sum(list_transform(embedding,
                                 x -> CAST(x AS DOUBLE) * x))) END AS nrm,
         CASE WHEN embedding IS NULL OR len(embedding) = 0 THEN NULL
              ELSE list_sum(list_transform(embedding,
                            x -> CAST(x AS DOUBLE))) / len(embedding)
              END AS comp_mean
  FROM embeddings
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(invalid) AS BIGINT) AS n_invalid,
       CAST(coalesce(max(dim), 0) AS BIGINT) AS dim,
       CAST(coalesce(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_zero,
       round(avg(nrm), 6) AS avg_norm,
       round(stddev_samp(nrm), 4) AS sd_norm,
       round(avg(comp_mean), 6) AS avg_comp_mean
FROM e
GROUP BY label
ORDER BY label
"""


@register("embedding_norm_stats", sql=EMB_STATS_SQL,
          tags=("pipeline", "similarity"))
def embedding_norm_stats(spark, sf_dir):
    """Embedding-table QA: per-label count, NULL/empty-vector count,
    dimensionality, zero-vector count, norm mean/spread, and mean
    component bias. Catches the classic pipeline failures (unnormalized
    batches, dead/zeroed/missing vectors, mixed dims) before they poison
    ANN indexes. Single scan → per-label agg; the norm is a native
    higher-order-function fold (JVM, no Python).

    NULL/empty embeddings are counted in n_invalid and EXCLUDED from the
    numeric stats in BOTH engines — without the explicit guard the twins
    diverge on exactly these degenerate rows (Spark's fold returns 0.0
    over an empty array while DuckDB's list_sum([]) is NULL, and
    F.size(NULL) is -1 vs DuckDB len(NULL) = NULL). sd_norm rounds at
    4 dp: on unit-normalized data it is float-epsilon noise (~1e-7) and
    must collapse to 0.0 identically in both engines."""
    emb = load(spark, sf_dir, "embeddings")
    valid = F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    sq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x),
        F.lit(0.0), lambda acc, x: acc + x)
    comp_sum = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    e = emb.select(
        "label",
        F.when(valid, 0).otherwise(1).alias("invalid"),
        F.when(valid, F.size("embedding")).alias("dim"),
        F.when(valid, F.sqrt(sq)).alias("nrm"),
        F.when(valid, comp_sum / F.size("embedding")).alias("comp_mean"),
    )
    return (
        e.groupBy("label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
             F.sum("invalid").cast("bigint").alias("n_invalid"),
             F.coalesce(F.max("dim"), F.lit(0)).cast("bigint").alias("dim"),
             F.coalesce(F.sum(F.when(F.col("nrm") == 0, 1).otherwise(0)),
                        F.lit(0)).cast("bigint").alias("n_zero"),
             F.round(F.avg("nrm"), 6).alias("avg_norm"),
             F.round(F.stddev_samp("nrm"), 4).alias("sd_norm"),
             F.round(F.avg("comp_mean"), 6).alias("avg_comp_mean"))
        .orderBy("label")
    )


# --- Deterministic contrastive pair sampling --------------------------------

CONTRASTIVE_SQL = """
WITH base AS (
  SELECT vec_id, label, md5(CAST(vec_id AS VARCHAR)) AS h FROM embeddings
), ranked AS (
  SELECT vec_id, label, h,
         row_number() OVER wl AS r,
         coalesce(lead(vec_id) OVER wl,
                  first_value(vec_id) OVER (
                    PARTITION BY label ORDER BY h, vec_id
                    ROWS BETWEEN UNBOUNDED PRECEDING
                             AND UNBOUNDED FOLLOWING)) AS pos_id
  FROM base
  WINDOW wl AS (PARTITION BY label ORDER BY h, vec_id)
), sizes AS (
  SELECT label, count(*) AS s FROM base GROUP BY label
), nxt AS (
  SELECT label,
         coalesce(lead(label) OVER (ORDER BY label),
                  first_value(label) OVER (
                    ORDER BY label
                    ROWS BETWEEN UNBOUNDED PRECEDING
                             AND UNBOUNDED FOLLOWING)) AS next_label
  FROM sizes
), anch AS (
  SELECT r1.vec_id, r1.label, r1.pos_id, n.next_label,
         ((r1.r - 1) % s2.s) + 1 AS nr
  FROM ranked r1
  JOIN nxt n ON r1.label = n.label
  JOIN sizes s2 ON n.next_label = s2.label
)
SELECT a.vec_id, a.label, a.pos_id, r2.vec_id AS neg_id
FROM anch a
JOIN ranked r2 ON r2.label = a.next_label AND r2.r = a.nr
WHERE a.vec_id <> a.pos_id
ORDER BY a.vec_id
"""


@register("contrastive_pairs", sql=CONTRASTIVE_SQL, bench=True,
          tags=("pipeline", "similarity"))
def contrastive_pairs(spark, sf_dir):
    """Deterministic (anchor, positive, negative) triple generation for
    contrastive embedding training. Positives come from a per-label hash
    ring (each anchor's successor in md5 order, cyclic), negatives from
    the rank-matched member of the cyclically next label — every vector
    gets exactly one triple, reproducible across engines and runs, with
    NO quadratic same-label join and no RNG.

    Scale: one per-label sort (the ranking window), one bounded agg
    (label sizes), two broadcast probes of bounded tables, and one
    equi-join on (label, rank). All linear in the corpus; label count is
    assumed bounded (classification-style labels). Single-member labels
    drop out (their only 'positive' is the anchor itself)."""
    emb = load(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", "label", F.md5(F.col("vec_id").cast("string")).alias("h"))
    wl = Window.partitionBy("label").orderBy("h", "vec_id")
    wl_full = wl.rowsBetween(Window.unboundedPreceding,
                             Window.unboundedFollowing)
    # `ranked` is consumed twice (the
    # anchor side and the rank-matched negative side) and `sizes` twice
    # (the next-label window and the s2 modulus side) — as four plan
    # branches that each re-scanned the embeddings table and re-ran the
    # fan-out exchange (measured: 4 scans,
    # 4 fan-out exchanges, 2 label-window exchanges). Persisting the
    # narrow ranked frame (vec_id, label, r, pos_id) collapses that to
    # ONE scan + ONE window pass; `sizes` is a bounded per-label count
    # over the persisted frame instead of a third scan.
    ranked = track_persist(base.select(
        "vec_id", "label",
        F.row_number().over(wl).alias("r"),
        F.coalesce(F.lead("vec_id").over(wl),
                   F.first("vec_id").over(wl_full)).alias("pos_id")))
    sizes = ranked.groupBy("label").agg(F.count(F.lit(1)).alias("s"))
    wlab = Window.orderBy("label")  # bounded: one row per label
    wlab_full = wlab.rowsBetween(Window.unboundedPreceding,
                                 Window.unboundedFollowing)
    nxt = (sizes.select(
        "label",
        F.coalesce(F.lead("label").over(wlab),
                   F.first("label").over(wlab_full)).alias("next_label"))
        .join(sizes.select(F.col("label").alias("next_label"),
                           F.col("s").alias("s2")), "next_label"))
    anch = (ranked.join(F.broadcast(nxt), "label")
            .withColumn("nr", (F.col("r") - 1) % F.col("s2") + 1))
    negs = ranked.select(F.col("label").alias("next_label"),
                         F.col("r").alias("nr"),
                         F.col("vec_id").alias("neg_id"))
    return (
        anch.join(negs, ["next_label", "nr"])
        .where(F.col("vec_id") != F.col("pos_id"))
        .select("vec_id", "label", "pos_id", "neg_id")
        .orderBy("vec_id")
    )


# --- Preference pair assembly (reward-model data prep) ----------------------

PREF_MIN_MARGIN = 0.05

PREFERENCE_SQL = f"""
WITH q AS (
  SELECT doc_id, source,
         round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / greatest(len(string_split(text, ' ')), 1), 6) AS score
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
), ranked AS (
  SELECT doc_id, source, score,
         row_number() OVER (PARTITION BY source
                            ORDER BY score DESC, doc_id) AS r_best,
         row_number() OVER (PARTITION BY source
                            ORDER BY score ASC, doc_id DESC) AS r_worst,
         count(*) OVER (PARTITION BY source) AS n
  FROM q
)
SELECT b.source,
       CAST(b.r_best AS BIGINT) AS pair_id,
       b.doc_id AS chosen_id,
       w.doc_id AS rejected_id,
       b.score AS chosen_score,
       w.score AS rejected_score,
       round(b.score - w.score, 6) AS margin
FROM ranked b
JOIN ranked w ON b.source = w.source AND w.r_worst = b.r_best
WHERE b.r_best <= b.n // 2
  AND b.score - w.score >= {PREF_MIN_MARGIN}
ORDER BY b.source, pair_id
"""


@register("preference_pairs", sql=PREFERENCE_SQL, tags=("pipeline",))
def preference_pairs(spark, sf_dir):
    """Preference-pair assembly for reward-model training: within each
    source, documents are ranked by a quality score (distinct-token ratio
    — the repetition signal from ``quality_scores``) and the r-th best is
    paired with the r-th worst (chosen vs rejected), keeping pairs whose
    quality margin clears a confidence floor. Deterministic: the score is
    rounded to 6 dp BEFORE ranking and ties break on doc_id, so both
    engines produce identical rankings.

    Scale: one source-partition shuffle serves both ranking windows and
    the per-source count; the best↔worst join runs on (source, rank) —
    linear, no self-product. Top/bottom halves are disjoint by the
    r <= n/2 bound, so no document appears on both sides of a pair."""
    q = (load(spark, sf_dir, "documents").where(has_text())
         .select("doc_id", "source", _distinct_token_ratio().alias("score")))
    wb = Window.partitionBy("source").orderBy(F.desc("score"), "doc_id")
    ww = Window.partitionBy("source").orderBy(F.asc("score"),
                                              F.desc("doc_id"))
    wn = Window.partitionBy("source")
    # Both join sides read the narrow ranking: persisted, the corpus is
    # scanned and window-ranked once.
    ranked = track_persist(q.select(
        "doc_id", "source", "score",
        F.row_number().over(wb).alias("r_best"),
        F.row_number().over(ww).alias("r_worst"),
        F.count(F.lit(1)).over(wn).alias("n")))  # one narrow row per doc
    b = ranked.alias("b")
    w = ranked.alias("w")
    return (
        b.join(w, (F.col("b.source") == F.col("w.source"))
               & (F.col("w.r_worst") == F.col("b.r_best")))
        .where((F.col("b.r_best") <= F.floor(F.col("b.n") / 2))
               & (F.col("b.score") - F.col("w.score") >= PREF_MIN_MARGIN))
        .select(F.col("b.source").alias("source"),
                F.col("b.r_best").cast("bigint").alias("pair_id"),
                F.col("b.doc_id").alias("chosen_id"),
                F.col("w.doc_id").alias("rejected_id"),
                F.col("b.score").alias("chosen_score"),
                F.col("w.score").alias("rejected_score"),
                F.round(F.col("b.score") - F.col("w.score"), 6)
                .alias("margin"))
        .orderBy("source", "pair_id")
    )


# --- Data-drift monitor (population stability index) ------------------------

PSI_BINS = 10

DRIFT_PSI_SQL = f"""
WITH scored AS (
  SELECT doc_id % 2 AS cohort,
         least(CAST(floor(
           round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / greatest(len(string_split(text, ' ')), 1), 6)
           * {PSI_BINS}) AS BIGINT), {PSI_BINS - 1}) AS bin
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
), binned AS (
  SELECT bin,
         sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS c_a,
         sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS c_b
  FROM scored GROUP BY bin
), tot AS (
  SELECT sum(c_a) AS n_a, sum(c_b) AS n_b,
         count(*) AS n_bins FROM binned
), p AS (
  SELECT bin, c_a, c_b,
         (c_a + 0.5) / (n_a + 0.5 * n_bins) AS p_a,
         (c_b + 0.5) / (n_b + 0.5 * n_bins) AS p_b
  FROM binned, tot
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(c_a AS BIGINT) AS c_a,
       CAST(c_b AS BIGINT) AS c_b,
       round(p_a, 6) AS p_a,
       round(p_b, 6) AS p_b,
       round((p_a - p_b) * ln(p_a / p_b), 6) AS psi_term,
       round(sum((p_a - p_b) * ln(p_a / p_b)) OVER (), 6) AS psi_total
FROM p
ORDER BY bin
"""


@register("drift_psi", sql=DRIFT_PSI_SQL, tags=("pipeline", "quality"))
def drift_psi(spark, sf_dir):
    """Population Stability Index between two corpus cohorts — the
    standard production data-drift monitor (PSI < 0.1 stable, > 0.25
    drifted). The drifting metric is the distinct-token quality score
    binned into 10 fixed-width buckets; cohorts stand in for consecutive
    snapshots (deterministic doc_id parity split here; swap the cohort
    expression for a date column in production). Laplace smoothing
    (+0.5 per bin) keeps empty bins finite in both engines.

    Scale: one scan → bounded (≤10-row) bin table; the totals and the
    PSI sum are windows over that bounded table, so nothing corpus-sized
    crosses a single partition."""
    score = _distinct_token_ratio()
    scored = (
        load(spark, sf_dir, "documents").where(has_text())
        .select((F.col("doc_id") % 2).alias("cohort"),
                F.least(F.floor(score * PSI_BINS).cast("bigint"),
                        F.lit(PSI_BINS - 1)).alias("bin")))
    binned = scored.groupBy("bin").agg(
        F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0)).alias("c_a"),
        F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0)).alias("c_b"))
    w = Window.partitionBy()  # bounded: <= PSI_BINS rows
    n_a, n_b = F.sum("c_a").over(w), F.sum("c_b").over(w)
    n_bins = F.count(F.lit(1)).over(w)
    p_a = (F.col("c_a") + 0.5) / (n_a + 0.5 * n_bins)
    p_b = (F.col("c_b") + 0.5) / (n_b + 0.5 * n_bins)
    term = (p_a - p_b) * F.log(p_a / p_b)
    return (
        binned.select(
            F.col("bin").cast("bigint").alias("bin"),
            F.col("c_a").cast("bigint").alias("c_a"),
            F.col("c_b").cast("bigint").alias("c_b"),
            F.round(p_a, 6).alias("p_a"),
            F.round(p_b, 6).alias("p_b"),
            F.round(term, 6).alias("psi_term"),
            F.round(F.sum(term).over(w), 6).alias("psi_total"))
        .orderBy("bin")
    )


# --- Apply the mixture: quota-based deterministic resample ------------------

MIXTURE_BUDGET = 300

MIXTURE_APPLY_SQL = f"""
WITH src AS (
  SELECT source, count(*) AS n_docs,
         sum(len({WS_TOKENS_SQL})) AS n_tokens
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
  GROUP BY source
), alloc AS (
  SELECT source, n_docs, n_tokens,
         pow(n_tokens, {TEMP_ALPHA}) /
           sum(pow(n_tokens, {TEMP_ALPHA})) OVER ()
           * {MIXTURE_BUDGET} AS quota_f
  FROM src
), based AS (
  SELECT source, n_docs,
         CAST(floor(quota_f) AS BIGINT) AS base_q,
         round(quota_f - floor(quota_f), 6) AS rem,
         n_tokens
  FROM alloc
), lr AS (
  SELECT source, n_docs, base_q,
         row_number() OVER (ORDER BY rem DESC, n_tokens DESC, source)
           AS rr,
         {MIXTURE_BUDGET} - sum(base_q) OVER () AS leftover
  FROM based
), quota AS (
  SELECT source,
         least(base_q + CASE WHEN rr <= leftover THEN 1 ELSE 0 END,
               n_docs) AS q
  FROM lr
), ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS pick
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
)
SELECT r.doc_id, r.source, CAST(r.pick AS BIGINT) AS pick
FROM ranked r JOIN quota ON r.source = quota.source
WHERE r.pick <= quota.q
ORDER BY r.source, r.pick
"""


@register("mixture_apply", sql=MIXTURE_APPLY_SQL, tags=("pipeline",))
def mixture_apply(spark, sf_dir):
    """Materialize the temperature mixture: each source contributes an
    integer-exact quota of documents (capped at its size), selected by
    content-addressed md5 rank — the deterministic, resumable "apply"
    step downstream of ``mixture_temperature``. Rerunning yields the
    identical sample on any engine; growing the budget only ADDS
    documents (md5 rank is a stable total order per source).

    Quotas use the largest-remainder method, not round(weight*budget):
    base = floor(weight*budget), then the budget shortfall goes to the
    sources with the largest fractional remainders (remainder rounded
    to 6 dp before comparison; ties broken by integer n_tokens desc,
    then source). round() puts quota membership one libm ulp from a
    .5 boundary — pow() differs across engines — whereas an ORDERING of
    well-separated remainders is ulp-robust, and any residual tie
    resolves on exact integers. Sum of uncapped quotas == budget by
    construction.

    Scale: one bounded per-source agg for quotas (broadcast), one
    source-partition ranking window over (doc_id, source) pairs — the
    corpus shuffles once and the text column never moves."""
    return (mixture_quota_pick(_live_docs(spark, sf_dir), MIXTURE_BUDGET)
            .select("doc_id", "source", "pick")
            .orderBy("source", "pick"))


# --- Epoch-aware upsampling mixture ------------------------------------------

UPSAMPLE_BUDGET = 600

MIXTURE_UPSAMPLE_SQL = f"""
WITH src AS (
  SELECT source, count(*) AS n_docs,
         sum(len({WS_TOKENS_SQL})) AS n_tokens
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
  GROUP BY source
), alloc AS (
  SELECT source, n_docs, n_tokens,
         pow(n_tokens, {TEMP_ALPHA}) /
           sum(pow(n_tokens, {TEMP_ALPHA})) OVER ()
           * {UPSAMPLE_BUDGET} AS quota_f
  FROM src
), based AS (
  SELECT source, n_docs,
         CAST(floor(quota_f) AS BIGINT) AS base_q,
         round(quota_f - floor(quota_f), 6) AS rem,
         n_tokens
  FROM alloc
), lr AS (
  SELECT source, n_docs, base_q,
         row_number() OVER (ORDER BY rem DESC, n_tokens DESC, source)
           AS rr,
         {UPSAMPLE_BUDGET} - sum(base_q) OVER () AS leftover
  FROM based
), quota AS (
  SELECT source, n_docs,
         base_q + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS q
  FROM lr
), ks AS (
  SELECT source, n_docs, CAST(t.k AS BIGINT) AS k
  FROM quota, LATERAL unnest(generate_series(1, q)) AS t(k)
), ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS pick
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
)
SELECT r.doc_id, ks.source, ks.k AS pick,
       CAST((ks.k - 1) // ks.n_docs AS BIGINT) AS epoch
FROM ks JOIN ranked r
  ON ks.source = r.source AND r.pick = ((ks.k - 1) % ks.n_docs) + 1
ORDER BY ks.source, ks.k
"""


@register("mixture_upsample", sql=MIXTURE_UPSAMPLE_SQL, tags=("pipeline",))
def mixture_upsample(spark, sf_dir):
    """Temperature mixture with UPSAMPLING — what `mixture_apply`'s
    n_docs cap deliberately avoids: in a production pretraining mix,
    a small high-quality source whose temperature quota exceeds its
    size is REPEATED for extra epochs (the standard practice behind
    published data recipes: temperature sampling with per-source epoch
    counts, e.g. the multilingual-sampling scheme of Conneau & Lample
    2019 and the per-source epoch tables of Llama/GPT-3-class data
    mixes). Each source gets its UNCAPPED largest-remainder quota q
    (the `mixture_quotas` builder `mixture_apply` also uses, sums to
    the budget exactly); selection slot k ∈ 1..q maps to the doc at
    content-addressed md5 rank ((k-1) mod n_docs)+1 with epoch
    (k-1) div n_docs — every doc of the source appears floor(q/n) or
    ceil(q/n) times, deterministic on any engine, resumable, and
    append-stable like the sampling form. Budget 600 > the 500-doc
    fixture makes epoch 1 REACHED at the small SFs (pinned) — a budget
    below corpus size would silently degenerate to `mixture_apply`.

    Scale: the quota table is per-source bounded; slots explode
    broadcast-side (budget rows, not corpus rows); the only
    corpus-sized work is the same md5 rank window `mixture_apply`
    pays, and the slot join probes it with a broadcast."""
    # The quota table and the md5 rank window both read `live`: persisted,
    # the corpus is scanned and tokenized once.
    live = track_persist(_live_docs(spark, sf_dir))
    quota = mixture_quotas(live, UPSAMPLE_BUDGET)
    # guard q >= 1 before sequence(): Spark's sequence(1, 0) yields a
    # DESCENDING [1, 0] rather than the empty series DuckDB produces
    ks = (quota.where(F.col("q") >= 1)
          .select("source", "n_docs",
                  F.explode(F.sequence(F.lit(1).cast("long"),
                                       F.col("q"))).alias("k")))
    slots = ks.select(
        "source", "n_docs", "k",
        (((F.col("k") - 1) % F.col("n_docs")) + 1).alias("pick_t"))
    return (md5_ranked(live).withColumnRenamed("pick", "pick_t")
            .join(F.broadcast(slots), ["source", "pick_t"])
            .select("doc_id", "source", F.col("k").alias("pick"),
                    F.floor((F.col("k") - 1) / F.col("n_docs"))
                    .cast("bigint").alias("epoch"))
            .orderBy("source", "pick"))


# --- TextRank token centrality (integer fixed-point PageRank) ---------------

PAGERANK_ITERS = 10
PAGERANK_SCALE = 1_000_000_000  # rank unit: 1e-9 (fits every product in int64)
PAGERANK_VOCAB_CAP = 100_000  # top-V tokens kept in the graph (TextRank
#   standard: cap the co-occurrence graph; an uncapped web-scale
#   whitespace vocabulary would make the graph hapax-dominated AND
#   overflow the int64 rank-mass bound V*SCALE*wmax < 2^63)


def _pagerank_sql() -> str:
    """Generated chained-CTE oracle: one CTE per power iteration (the
    SimHash generated-twin trick — recursive CTEs cannot aggregate in the
    recursive term, but a FIXED iteration count unrolls). All arithmetic
    is BIGINT with floor division (`//` in DuckDB == `div` in Spark for
    the non-negative values here), so both engines produce bit-identical
    ranks — no float summation order anywhere."""
    base = (15 * PAGERANK_SCALE) // 100
    sql = f"""
WITH t AS (
  SELECT {WS_TOKENS_SQL} AS l
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
), bg AS (
  SELECT z.bg[1] AS w1, z.bg[2] AS w2, count(*) AS c12
  FROM (SELECT unnest(list_zip(list_slice(l, 1, len(l) - 1), l[2:])) AS bg
        FROM t WHERE len(l) > 1) z
  GROUP BY 1, 2
), edges AS (
  SELECT src, dst, CAST(sum(c) AS BIGINT) AS w FROM (
    SELECT w1 AS src, w2 AS dst, c12 AS c FROM bg
    UNION ALL
    SELECT w2 AS src, w1 AS dst, c12 AS c FROM bg
  )
  GROUP BY src, dst
), wout AS (
  SELECT src, CAST(sum(w) AS BIGINT) AS wt FROM edges GROUP BY src
), e AS (
  SELECT edges.src, edges.dst, edges.w, wout.wt
  FROM edges JOIN wout ON edges.src = wout.src
), nodes AS (SELECT DISTINCT src AS v FROM edges),
pr0 AS (SELECT v, CAST({PAGERANK_SCALE} AS BIGINT) AS r FROM nodes)"""
    for i in range(1, PAGERANK_ITERS + 1):
        sql += f""",
pr{i} AS (
  SELECT n.v,
         CAST({base} + 85 * coalesce(s.s, 0) // 100 AS BIGINT) AS r
  FROM nodes n
  LEFT JOIN (
    SELECT e.dst AS v, sum(pr{i - 1}.r * e.w // e.wt) AS s
    FROM e JOIN pr{i - 1} ON e.src = pr{i - 1}.v
    GROUP BY e.dst
  ) s ON n.v = s.v
)"""
    sql += f"""
SELECT p.v AS token, w.wt AS w_out, p.r AS rank_fp
FROM pr{PAGERANK_ITERS} p JOIN wout w ON p.v = w.src
ORDER BY token
"""
    return sql


PAGERANK_SQL = _pagerank_sql()


@register("token_pagerank", sql=PAGERANK_SQL, tags=("pipeline", "text"))
def token_pagerank(spark, sf_dir, vocab_cap: int = PAGERANK_VOCAB_CAP):
    """TextRank (Mihalcea & Tarau 2004) centrality of the token
    co-occurrence graph — the keyword-importance signal behind extractive
    keyword/keyphrase mining, here over the symmetrized adjacent-bigram
    graph (nodes = tokens seen in >= 1 bigram, edge weight = co-occurrence
    count). A new capability class for the catalog: iterative *numeric*
    graph analytics, where `dedup_clusters` is iterative label propagation.

    Determinism: floats would make the fixpoint engine-dependent (sum
    order), so ranks are INTEGER fixed-point (1e-9 units): per iteration
    contrib = (r*w) div W(src), r' = (0.15*SCALE) + (85*sum) div 100 —
    floor division everywhere, identical in Spark (`div`) and DuckDB
    (`//`) on non-negative ints, so the generated {PAGERANK_ITERS}-stage
    CTE twin reproduces ranks BIT-FOR-BIT. Magnitudes: total rank mass
    ~ V*SCALE; r*w stays < 2^63 for any corpus where V*max_pair_count
    < ~9e9 — comfortably true for vocab-capped TextRank.

    Scale posture: the corpus explodes once into an *aggregated* bigram
    count table; every iteration is one edges⋈ranks shuffle join + one
    dst aggregation over the vocab-bounded graph (the Pregel pattern) —
    corpus-size-independent after the first agg. At web scale TextRank
    standardly caps the graph to the top-V vocabulary — ``vocab_cap``
    (default 100k) keeps only the top-V tokens by corpus frequency (ties
    to the lexicographically smaller token, so the cap is deterministic)
    and drops edges touching the tail; far below the cap, as on the
    fixture (31 tokens), the filter is the identity and the oracle is
    unaffected. 10 fixed iterations (TextRank
    converges in 20-30 on large graphs; the rank ORDER is stable well
    before that). `localCheckpoint(eager=True)` truncates lineage per
    iteration exactly as `operators/components.py` does — without it the
    analyzed plan grows per round and dominates wall time. The ranks
    table carries NO broadcast hint for the same reason
    `token_pmi_bigrams` dropped its unigram hints: a web-scale token
    vocabulary is not broadcast-safe, so join strategy is left to size
    estimates + AQE."""
    t = _doc_tokens(spark, sf_dir)
    bg = _bigrams(t).groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    # top-V vocabulary cap: distributed TakeOrdered on the aggregated
    # unigram counts (V rows of (token, freq) — never the corpus), then a
    # semi-join drops tail-touching edges. Inactive when vocab <= cap.
    # keep and bg are not persisted: ReusedExchange already shares the
    # bigram-count exchange and the keep broadcast, so a cache only adds
    # a fill barrier. wout and e are what the loop re-reads.
    keep = (t.select(F.explode("l").alias("w"))
            .groupBy("w").agg(F.count(F.lit(1)).alias("f"))
            .orderBy(F.desc("f"), "w").limit(vocab_cap)
            .select("w"))
    bg = (bg.join(keep.select(F.col("w").alias("w1")), "w1", "semi")
          .join(keep.select(F.col("w").alias("w2")), "w2", "semi"))
    edges = (bg.select(F.col("w1").alias("src"), F.col("w2").alias("dst"),
                       "c")
             .unionByName(bg.select(F.col("w2").alias("src"),
                                    F.col("w1").alias("dst"), "c"))
             .groupBy("src", "dst").agg(F.sum("c").alias("w")))
    wout = track_persist(edges.groupBy("src").agg(F.sum("w").alias("wt")))
    # The edge frame the loop re-reads is cached hash-partitioned on src
    # (the edges agg leaves it on (src, dst)). Each iteration is planned
    # after the cache fill, so the src clustering stays visible and a
    # non-broadcast iteration join reshuffles ranks only.
    p = spark.sparkContext.defaultParallelism
    e = track_persist(edges.join(wout, "src")
                      .repartition(p, "src")
                      .select("src", "dst", "w", "wt"))

    base = (15 * PAGERANK_SCALE) // 100
    # The graph is symmetrized, so {src} = {dst}: every node receives a
    # contribution each iteration and the aggregation's key set is the
    # node set, with no re-attaching join. The initial ranks distinct src
    # off the src-clustered cache and each checkpoint keeps its hash(v)
    # partitioning: one iteration = cache scan + join + one exchange.
    ranks = (e.select(F.col("src").alias("v")).distinct()
             .select("v", F.lit(PAGERANK_SCALE).cast("bigint").alias("r"))
             .localCheckpoint(eager=True))
    # A checkpoint every iteration: every second one measured slower.
    for _ in range(PAGERANK_ITERS):
        contrib = (e.join(ranks, e.src == ranks.v)
                   .select(F.col("dst").alias("cv"),
                           F.expr("r * w div wt").alias("c")))
        ranks = (contrib.groupBy("cv").agg(F.sum("c").alias("s"))
                 .select(F.col("cv").alias("v"),
                         (F.lit(base) + F.expr("85 * s div 100"))
                         .cast("bigint").alias("r"))
                 .localCheckpoint(eager=True))
    return (ranks.join(wout, ranks.v == wout.src)
            .select(F.col("v").alias("token"),
                    F.col("wt").cast("bigint").alias("w_out"),
                    F.col("r").alias("rank_fp"))
            .orderBy("token"))


# --- Vocabulary growth curve (Heaps' law over content-addressed shards) -----

_VG_SHARD_SQL = ("(strpos('0123456789abcdef',"
                 " substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)")

VOCAB_GROWTH_SQL = f"""
WITH tok AS (
  SELECT {_VG_SHARD_SQL} AS shard, unnest({WS_TOKENS_SQL}) AS w
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
), occ AS (
  SELECT shard, CAST(count(*) AS BIGINT) AS n_tokens FROM tok GROUP BY shard
), news AS (
  SELECT fs AS shard, CAST(count(*) AS BIGINT) AS n_new
  FROM (SELECT w, min(shard) AS fs FROM tok GROUP BY w) f
  GROUP BY fs
), grid AS (
  SELECT unnest(generate_series(0, 15)) AS shard
), joined AS (
  SELECT g.shard,
         coalesce(o.n_tokens, 0) AS n_tokens,
         coalesce(n.n_new, 0) AS n_new
  FROM grid g
  LEFT JOIN occ o ON g.shard = o.shard
  LEFT JOIN news n ON g.shard = n.shard
), cums AS (
  SELECT shard, n_tokens, n_new,
         sum(n_tokens) OVER (ORDER BY shard ROWS UNBOUNDED PRECEDING)
           AS cum_tokens,
         sum(n_new) OVER (ORDER BY shard ROWS UNBOUNDED PRECEDING)
           AS cum_types
  FROM joined
)
SELECT CAST(shard AS BIGINT) AS shard, n_tokens, n_new,
       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       CAST(cum_types AS BIGINT) AS cum_types,
       CASE WHEN cum_tokens = 0 THEN NULL
            ELSE round(CAST(cum_types AS DOUBLE) / cum_tokens, 6)
       END AS type_token_ratio
FROM cums
ORDER BY shard
"""


@register("vocab_growth_curve", sql=VOCAB_GROWTH_SQL, tags=("corpus",))
def vocab_growth_curve(spark, sf_dir):
    """Heaps'-law vocabulary growth: stream the corpus in 16
    content-addressed shards (first md5 hex digit of doc_id — a
    deterministic, engine-identical "ingest order" with NO global sort)
    and report per shard the token mass, the NEW types first seen there,
    and the cumulative type/token curve. The flattening rate is the
    curation signal: a heavily-duplicated corpus stops producing new
    types almost immediately, a diverse one keeps the Heaps exponent up
    — and the marginal-value-of-more-data question ("is shard 17 worth
    ingesting?") reads straight off n_new. Complements vocab_coverage
    (Zipf mass of the TOP of the distribution) by measuring the TAIL's
    growth instead.

    Scale: one explode, one (shard) aggregate, one vocab-sized min
    aggregate, then windows over exactly 16 rows. Each token's
    first-shard is a min — mergeable, so the curve maintains
    incrementally as new shards arrive (the events_rollup_incremental
    pattern applied to vocabulary state)."""
    docs = load(spark, sf_dir, "documents").where(has_text())
    shard = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1),
                    16, 10).cast("int"))
    tok = docs.select(shard.alias("shard"),
                      F.explode(ws_tokens()).alias("w"))
    # One persisted (shard, type) count table feeds both outputs — token
    # mass per shard is sum(c), first-seen types are min(shard) per type —
    # so the corpus explodes once. The table is ≤ 16×|vocabulary| rows.
    sw = track_persist(tok.groupBy("shard", "w")
                       .agg(F.count(F.lit(1)).alias("c")))
    occ = sw.groupBy("shard").agg(
        F.sum("c").cast("bigint").alias("n_tokens"))
    news = (sw.groupBy("w").agg(F.min("shard").alias("shard"))
            .groupBy("shard").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_new")))
    grid = spark.range(16).select(F.col("id").cast("int").alias("shard"))
    joined = (grid.join(occ, "shard", "left").join(news, "shard", "left")
              .select("shard",
                      F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
                      F.coalesce("n_new", F.lit(0)).alias("n_new")))
    wcum = (Window.orderBy("shard")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cums = joined.select(
        "shard", "n_tokens", "n_new",
        F.sum("n_tokens").over(wcum).alias("cum_tokens"),
        F.sum("n_new").over(wcum).alias("cum_types"))
    return (cums.select(
        F.col("shard").cast("bigint").alias("shard"),
        "n_tokens", "n_new",
        F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
        F.col("cum_types").cast("bigint").alias("cum_types"),
        F.when(F.col("cum_tokens") == 0, F.lit(None))
        .otherwise(F.round(F.col("cum_types").cast("double")
                           / F.col("cum_tokens"), 6))
        .alias("type_token_ratio"))
        .orderBy("shard"))


# --- Zipf power-law fit over the token rank-frequency curve -----------------

ZIPF_FIT_SQL = """
WITH tok AS (
  SELECT w FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS w
    FROM documents WHERE text IS NOT NULL)
  WHERE w <> ''
), freq AS (
  SELECT w, count(*) AS f FROM tok GROUP BY w
), ranked AS (
  SELECT CAST(round(ln(row_number() OVER (ORDER BY f DESC, w)), 6)
              AS DECIMAL(18,6)) AS x,
         CAST(round(ln(f), 6) AS DECIMAL(18,6)) AS y
  FROM freq
), sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(CAST(x * y AS DECIMAL(38,12))) AS sxy,
         sum(CAST(x * x AS DECIMAL(38,12))) AS sxx,
         sum(CAST(y * y AS DECIMAL(38,12))) AS syy
  FROM ranked
)
SELECT n AS n_types,
       round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
             6) AS zipf_slope,
       round(pow(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE), 2)
             / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
             6) AS r2
FROM sums
"""


@register("token_zipf_fit", sql=ZIPF_FIT_SQL, tags=("corpus", "stats"))
def token_zipf_fit(spark, sf_dir):
    """Zipf power-law fit: least-squares slope (and r²) of ln(freq) vs
    ln(rank) over the full vocabulary — the one-number corpus-health
    check (natural language sits near slope −1; templated/synthetic
    corpora drift flatter or steeper, so the fit flags generation
    artifacts the entropy stats miss).

    Exactness: a float Σxy over 10⁴⁺ log values is summation-order
    sensitive, so both engines ROUND each ln to 6 dp, cast to
    DECIMAL(18,6), and accumulate the five regression sums as exact
    decimals (order-free); only the final closed-form ratio runs in
    double. Same recipe as corr_matrix's exact decimal moments.

    Scale: one explode → vocab-sized hash agg; the rank is a global sort
    of the VOCABULARY (not the corpus); the regression is a 1-row
    aggregate. At 100 TB fit the top-K types (rank is TakeOrdered) —
    the head determines the slope."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    freq = (docs.select(F.explode(F.split(F.lower("text"), " ", -1))
                        .alias("w"))
            .where(F.col("w") != "")
            .groupBy("w").agg(F.count(F.lit(1)).alias("f")))
    wr = Window.orderBy(F.desc("f"), F.asc("w"))
    ranked = freq.select(
        F.round(F.log(F.row_number().over(wr).cast("double")), 6)
        .cast("decimal(18,6)").alias("x"),
        F.round(F.log(F.col("f").cast("double")), 6)
        .cast("decimal(18,6)").alias("y"))
    sums = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,12)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,12)")).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,12)")).alias("syy"))
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (F.col(c).cast("double") for c in ("sxy", "sxx", "syy"))
    num = n * sxy - sx * sy
    return sums.select(
        F.col("n").alias("n_types"),
        F.round(num / (n * sxx - sx * sx), 6).alias("zipf_slope"),
        F.round((num * num) / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
                6).alias("r2"))


# --- Token hapax rate (lexical richness per source) -------------------------

HAPAX_SQL = f"""
WITH tok AS (
  SELECT source, unnest({WS_TOKENS_SQL}) AS w
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
), tf AS (
  SELECT source, w, count(*) AS c FROM tok GROUP BY source, w
)
SELECT source,
       CAST(count(*) AS BIGINT) AS vocab,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000 // count(*)
            AS BIGINT) AS hapax_rate_e6
FROM tf
GROUP BY source
ORDER BY source
"""


@register("token_hapax_rate", sql=HAPAX_SQL, tags=("text", "corpus"))
def token_hapax_rate(spark, sf_dir):
    """Hapax-legomena share per source — the lexical-richness /
    boilerplate dial: a source whose vocabulary is dominated by
    once-occurring types (high hapax rate) contributes diverse text; a
    near-zero rate signals templated or repetitive content (the same
    signal Zipf-tail mass gives, as a single robust integer). Rate =
    hapax/vocab on a 1e-6 integer grid via floor division — no floats,
    engine-exact.

    Scale: one explode → (source, token) hash agg (vocabulary-bounded
    per source, with map-side combine) → source-sized final agg. Nothing
    global, no window; the same two-agg shape as corpus_token_entropy."""
    docs = load(spark, sf_dir, "documents").where(has_text())
    tf = (docs.select("source", F.explode(ws_tokens()).alias("w"))
          .groupBy("source", "w").agg(F.count(F.lit(1)).alias("c")))
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    return (tf.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("vocab"),
                 hapax.cast("bigint").alias("hapax"),
                 F.sum("c").cast("bigint").alias("n_tokens"),
                 F.expr("sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000"
                        " div count(*)").cast("bigint")
                 .alias("hapax_rate_e6"))
            .orderBy("source"))


# --- Triangle count of the token co-occurrence graph ------------------------

TRIANGLE_SQL = f"""
WITH t AS (
  SELECT {WS_TOKENS_SQL} AS l
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
), bg AS (
  SELECT z.bg[1] AS w1, z.bg[2] AS w2
  FROM (SELECT unnest(list_zip(list_slice(l, 1, len(l) - 1), l[2:])) AS bg
        FROM t WHERE len(l) > 1) z
), ed AS (
  SELECT DISTINCT least(w1, w2) AS a, greatest(w1, w2) AS b
  FROM bg WHERE w1 <> w2
), deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT a AS v FROM ed UNION ALL SELECT b AS v FROM ed) GROUP BY v
), oriented AS (
  SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND ed.a < ed.b)
              THEN ed.a ELSE ed.b END AS u,
         CASE WHEN (da.d < db.d) OR (da.d = db.d AND ed.a < ed.b)
              THEN ed.b ELSE ed.a END AS v,
         CASE WHEN (da.d < db.d) OR (da.d = db.d AND ed.a < ed.b)
              THEN db.d ELSE da.d END AS dv
  FROM ed JOIN deg da ON ed.a = da.v JOIN deg db ON ed.b = db.v
), wedge AS (
  SELECT e1.v AS x, e2.v AS y
  FROM oriented e1 JOIN oriented e2
    ON e1.u = e2.u
   AND ((e1.dv < e2.dv) OR (e1.dv = e2.dv AND e1.v < e2.v))
), tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM wedge w JOIN oriented o ON w.x = o.u AND w.y = o.v
), stats AS (
  SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
         CAST((SELECT count(*) FROM ed) AS BIGINT) AS n_edges,
         CAST((SELECT sum(d * (d - 1) // 2) FROM deg) AS BIGINT) AS n_wedges
)
SELECT s.n_nodes, s.n_edges, s.n_wedges, t.n_triangles,
       CAST(CASE WHEN s.n_wedges = 0 THEN 0
            ELSE 3 * t.n_triangles * 1000000 // s.n_wedges END AS BIGINT)
         AS transitivity_e6
FROM stats s CROSS JOIN tri t
"""


@register("graph_triangle_count", sql=TRIANGLE_SQL, tags=("text", "graph"))
def graph_triangle_count(spark, sf_dir):
    """Triangle count + global transitivity of the token co-occurrence
    graph — the third graph-analytics class in the catalog (after
    `dedup_clusters`' label propagation and `token_pagerank`'s power
    iteration): a COMBINATORIAL census. Edges are distinct unordered
    adjacent-token pairs; triangles are counted once each via
    DEGREE-ORDERED ORIENTATION (Schank-Wagner / MR node-iterator++):
    every edge points from its (degree, token)-smaller endpoint to the
    larger, wedges pair the out-neighbors of each node, and a wedge
    closes iff its endpoints carry the closing oriented edge.
    Transitivity = 3·triangles / wedges on a 1e-6 integer grid (floor
    division — all-integer pipeline, engine-exact).

    Scale: orientation is WHY this survives skew — a hub of degree d
    contributes C(d,2) wedges undirected, but oriented out-degree is
    bounded by ~sqrt(2m) (a node keeps only edges toward
    higher-degree peers), so wedge work is Σ outdeg² = O(m^1.5) worst
    case instead of Σ deg² — the hot-token explosion never happens. Both
    joins (wedge build, wedge close) hash-partition on token keys of the
    vocabulary-bounded edge table; the corpus itself is touched once."""
    ed, deg, da, db = _cooccurrence_graph(spark, sf_dir)
    fwd = ((F.col("da") < F.col("db"))
           | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))))
    oriented = track_persist(
        ed.join(da, "a").join(db, "b")
        .select(F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
                F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
                F.when(fwd, F.col("db")).otherwise(F.col("da"))
                .alias("dv")))
    e1 = oriented.select(F.col("u"), F.col("v").alias("x"),
                         F.col("dv").alias("dx"))
    e2 = oriented.select(F.col("u"), F.col("v").alias("y"),
                         F.col("dv").alias("dy"))
    wedge = (e1.join(e2, "u")
             .where((F.col("dx") < F.col("dy"))
                    | ((F.col("dx") == F.col("dy"))
                       & (F.col("x") < F.col("y"))))
             .select("x", "y"))
    closing = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tri = (wedge.join(closing, ["x", "y"])
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles")))
    stats = (deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.expr("sum(d * (d - 1) div 2)").cast("bigint").alias("n_wedges"))
        .crossJoin(ed.agg(F.count(F.lit(1)).cast("bigint")
                          .alias("n_edges"))))
    trans = (F.when(F.col("n_wedges") == 0, F.lit(0))
             .otherwise(F.expr("3 * n_triangles * 1000000 div n_wedges"))
             .cast("bigint"))
    return (stats.crossJoin(F.broadcast(tri))
            .select("n_nodes", "n_edges", "n_wedges", "n_triangles",
                    trans.alias("transitivity_e6")))


# --- Token burstiness (variance-to-mean of per-doc counts) ------------------

BURSTINESS_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({WS_TOKENS_SQL}) AS w
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
), per_doc AS (
  SELECT w, doc_id, CAST(count(*) AS BIGINT) AS c
  FROM tok GROUP BY w, doc_id
), stats AS (
  SELECT w,
         CAST(count(*) AS BIGINT)    AS df,
         CAST(sum(c) AS BIGINT)      AS tf_total,
         CAST(sum(c * c) AS BIGINT)  AS tf_sq
  FROM per_doc GROUP BY w
)
SELECT w AS term, df, tf_total,
       CAST((df * tf_sq - tf_total * tf_total) * 1000000
            // (df * tf_total) AS BIGINT) AS vmr_e6
FROM stats
WHERE df >= 20
ORDER BY vmr_e6 DESC, term
LIMIT 50
"""


@register("token_burstiness", sql=BURSTINESS_SQL, tags=("text", "corpus"))
def token_burstiness(spark, sf_dir):
    """Church–Gale burstiness of each term: the variance-to-mean ratio
    of its per-document counts, restricted to documents that contain it.
    A term that appears once wherever it appears (VMR → 0) is
    content-bearing background vocabulary; a term that CLUMPS — few
    documents, many repeats each — is a boilerplate/template signal the
    df-only dials (hapax rate, tf-idf) cannot see, because df treats a
    100-repeat doc and a 1-repeat doc identically. VMR over containing
    docs = (df·Σc² − (Σc)²)/(df·Σc): numerator and denominator are
    exact integers, the published ratio lands on a 1e-6 grid by floor
    division — engine-exact, no float accumulation anywhere. df ≥ 20
    keeps the statistic stable; top-50 by (vmr desc, term) is totally
    ordered.

    Scale: explode → (term, doc) hash agg (map-side combine collapses
    repeats within a partition) → term-level agg (vocabulary-sized) →
    global top-k via TakeOrdered. The same two-agg shape as
    token_hapax_rate with one extra power sum; no window, nothing
    quadratic, per-term state is three integers."""
    docs = load(spark, sf_dir, "documents").where(has_text())
    per_doc = (docs.select("doc_id", F.explode(ws_tokens()).alias("w"))
               .groupBy("w", "doc_id")
               .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    stats = (per_doc.groupBy("w")
             .agg(F.count(F.lit(1)).cast("bigint").alias("df"),
                  F.sum("c").cast("bigint").alias("tf_total"),
                  F.sum(F.col("c") * F.col("c")).cast("bigint")
                  .alias("tf_sq")))
    return (stats.filter(F.col("df") >= 20)
            .select(F.col("w").alias("term"), "df", "tf_total",
                    F.expr("(df * tf_sq - tf_total * tf_total) * 1000000"
                           " div (df * tf_total)").cast("bigint")
                    .alias("vmr_e6"))
            .orderBy(F.desc("vmr_e6"), "term")
            .limit(50))


ASSORT_SQL = f"""
WITH t AS (
  SELECT {WS_TOKENS_SQL} AS l
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
), bg AS (
  SELECT z.bg[1] AS w1, z.bg[2] AS w2
  FROM (SELECT unnest(list_zip(list_slice(l, 1, len(l) - 1), l[2:])) AS bg
        FROM t WHERE len(l) > 1) z
), ed AS (
  SELECT DISTINCT least(w1, w2) AS a, greatest(w1, w2) AS b
  FROM bg WHERE w1 <> w2
), deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT a AS v FROM ed UNION ALL SELECT b AS v FROM ed) GROUP BY v
), sym AS (
  SELECT da.d AS x, db.d AS y
  FROM ed JOIN deg da ON ed.a = da.v JOIN deg db ON ed.b = db.v
  UNION ALL
  SELECT db.d AS x, da.d AS y
  FROM ed JOIN deg da ON ed.a = da.v JOIN deg db ON ed.b = db.v
), sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS s,
         CAST(sum(x * x) AS BIGINT) AS q,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM sym
)
SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST(n // 2 AS BIGINT) AS n_edges,
       CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                  * 1000000) AS BIGINT) AS assortativity_e6
FROM sums
WHERE CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) > 0
"""


@register("graph_degree_assortativity", sql=ASSORT_SQL,
          tags=("text", "graph"))
def graph_degree_assortativity(spark, sf_dir):
    """Degree assortativity (Newman's r) of the token co-occurrence
    graph — completing the graph-analytics family's structural triple
    (components, transitivity, MIXING): the Pearson correlation of
    endpoint degrees over the symmetrized edge list. Negative r =
    hub-and-spoke (hubs link to leaves — the Zipfian corpus shape),
    positive = core-periphery. Determinism recipe: all four moments
    (n, Σx, Σx², Σxy) accumulate as EXACT BIGINTs (order-free), the
    final ratio is a fixed dag of IEEE ops over those identical
    integers, and the output is floor(r * 1e6) — floor of identical
    doubles agrees across engines (the corr_matrix recipe; by symmetry
    Σx = Σy and Σx² = Σy², so the generic Pearson collapses to
    (nΣxy − S²)/(nΣx² − S²)).

    Scale: the edge list is vocabulary-bounded, degrees come from one
    hash agg over it, the moment sums are one partial+final agg over
    2m rows — the corpus is scanned once; no join touches fact-table
    cardinality. Degree-ordered orientation is not needed here (no
    wedge blowup: the join fan-out is exactly 2 rows per edge)."""
    ed, deg, da, db = _cooccurrence_graph(spark, sf_dir)
    # Not persisted: both union sides re-read it as two joins over the
    # cached ed/deg, which measured faster than a cache-fill barrier.
    edd = ed.join(da, "a").join(db, "b")
    sym = (edd.select(F.col("da").alias("x"), F.col("db").alias("y"))
           .unionByName(
               edd.select(F.col("db").alias("x"), F.col("da").alias("y"))))
    sums = sym.agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                   F.sum("x").cast("bigint").alias("s"),
                   F.sum(F.col("x") * F.col("x")).cast("bigint").alias("q"),
                   F.sum(F.col("x") * F.col("y")).cast("bigint")
                   .alias("sxy"))
    nodes = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    nd, sd = F.col("n").cast("double"), F.col("s").cast("double")
    qd, xyd = F.col("q").cast("double"), F.col("sxy").cast("double")
    # Zero-variance guard: equal degrees everywhere (ring/degenerate
    # corpus) make the denominator 0 and r undefined — exclude the row
    # in BOTH engines rather than diverge on inf handling (the
    # events_seasonal_anomaly var_n > 0 convention).
    return (sums.crossJoin(nodes)
            .where(nd * qd - sd * sd > 0)
            .select("n_nodes",
                    F.expr("n div 2").cast("bigint").alias("n_edges"),
                    F.floor((nd * xyd - sd * sd) / (nd * qd - sd * sd)
                            * 1_000_000).cast("bigint")
                    .alias("assortativity_e6")))


# --- Winnowing document fingerprints (Schleimer/Wilkerson/Aiken MOSS) -------

WINNOW_SQL = WINNOW_CTE + """
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_kgrams,
       CAST(sum(s) AS BIGINT) AS n_fp,
       CAST(min(CASE WHEN s = 1 THEN h END) AS BIGINT) AS fp_min,
       CAST(sum(CASE WHEN s = 1 THEN h END) AS BIGINT) AS fp_sum
FROM sel
GROUP BY doc_id
ORDER BY doc_id
"""


@register("doc_winnowing", sql=WINNOW_SQL, tags=("text", "dedup"))
def doc_winnowing(spark, sf_dir):
    """WINNOWING fingerprints (Schleimer–Wilkerson–Aiken, the MOSS
    algorithm) — the position-robust upgrade of `doc_fingerprints` and
    `dedup_prefix`: hash every K-token k-gram, slide a window of W
    consecutive k-gram hashes, and select each window's MINIMUM
    (rightmost on ties). The guarantee the simpler fingerprint dials
    lack: any match of at least W+K-1 tokens between two documents
    shares at least one selected fingerprint, while selection density
    stays ~2/(W+1) — local plagiarism/boilerplate detection with a
    bounded sketch per document.

    Selection is computed WITHOUT per-window materialization: a
    position q is some window's rightmost minimum iff a window start s
    fits in [max(1, q-a), min(q, m-W+1, q+b-W+1)], where a = how many
    consecutive predecessors are >= h(q) (ties tolerated on the left)
    and b = how many consecutive successors are STRICTLY greater (a tie
    on the right steals the selection) — both bounded by W-1, so three
    lags and three leads of ONE doc-partitioned window evaluate the
    whole algorithm; equivalence to the window-by-window definition is
    pinned against a brute-force reference in
    tests/test_corpus_queries.py. The 48-bit k-gram hash is the
    engine-shared md5/instr polynomial (`operators.sketch.hexpoly`), so
    the DuckDB twin replays fingerprint SETS bit-for-bit (count, min,
    sum per doc), not just counts.

    Scale: embarrassingly doc-local — one explode to (doc, pos, hash)
    rows, one window partitioned by doc_id (frame state: 7 scalars),
    one doc-sized hash agg; nothing crosses documents, so the operator
    partitions perfectly at any corpus size. W and K are the standard
    MOSS defaults scaled to the fixture's short docs."""
    sel = winnow_selected(load(spark, sf_dir, "documents"))
    return (sel.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_kgrams"),
                 F.sum("s").cast("bigint").alias("n_fp"),
                 F.min(F.when(F.col("s") == 1, F.col("h")))
                 .cast("bigint").alias("fp_min"),
                 F.sum(F.when(F.col("s") == 1, F.col("h")))
                 .cast("bigint").alias("fp_sum"))
            .orderBy("doc_id"))


WINNOW_PAIRS_SQL = WINNOW_CTE + """
, fp AS (
  SELECT DISTINCT doc_id, h FROM sel WHERE s = 1
), hot AS (
  SELECT h FROM fp GROUP BY h HAVING count(*) > 50
), keepfp AS (
  SELECT doc_id, h FROM fp WHERE h NOT IN (SELECT h FROM hot)
), nd AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS nfp FROM keepfp GROUP BY doc_id
), pr AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM keepfp a JOIN keepfp b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared,
       na.nfp AS n_fp_a, nb.nfp AS n_fp_b,
       n_shared * 1000000 // (na.nfp + nb.nfp - n_shared) AS overlap_ppm
FROM pr
JOIN nd na ON doc_a = na.doc_id
JOIN nd nb ON doc_b = nb.doc_id
WHERE n_shared >= 2
ORDER BY doc_a, doc_b
"""


@register("dedup_winnowing_pairs", sql=WINNOW_PAIRS_SQL,
          tags=("dedup", "text"))
def dedup_winnowing_pairs(spark, sf_dir):
    """Near-dup candidate pairs from WINNOWING fingerprints — the
    payoff query that turns `doc_winnowing`'s sketch into a dedup
    operator (MOSS's second stage): documents sharing >= 2 selected
    fingerprints, with each side's fingerprint count and the integer
    Jaccard-style overlap_ppm = shared / (union of fingerprint sets).
    Winnowing's guarantee makes the candidate semantics crisp: any
    common run of >= W+K-1 tokens forces a shared fingerprint, so long
    verbatim overlaps cannot evade the pair list the way they can evade
    prefix or whole-doc hashing.

    Skew/scale guards, the same pair as the MinHash and prefix
    families: (1) fingerprints selected in more than 50 documents are
    dropped before pairing (boilerplate k-grams — a fingerprint that
    common identifies a template, not a duplicate; it would otherwise
    fan out quadratically on the join key), and (2) pairing joins on
    the 48-bit fingerprint value, so work is Σ per-fingerprint df² over
    the capped df <= 50 — linear in selected fingerprints with a
    constant factor, never corpus-quadratic. Time it under
    `bench.py --scale --disjoint`: identical-text replicas grow the pair
    output ×k² by construction; its scale posture is the cap plus
    doc_winnowing's linear selection slope.

    Oracle: the shared `WINNOW_CTE` chain extended with the same cap,
    distinct, pair join and integer ppm — fingerprint sets replay
    bit-for-bit, so the pair list and overlap values hash-match."""
    fp = (winnow_selected(load(spark, sf_dir, "documents"))
          .where(F.col("s") == 1).select("doc_id", "h").distinct())
    fp = track_persist(fp)  # per (doc, fingerprint)
    hot = (fp.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
           .where(F.col("df") > 50).select("h"))
    # No broadcast hint on the hot list: its size is bounded only by
    # selected-fingerprints/50, which grows linearly with the corpus —
    # at true scale a forced broadcast could exceed the driver/executor
    # broadcast limit. AQE broadcasts it while its measured size fits
    # (it does at every test SF) and falls back to a shuffled anti-join
    # beyond that, which is the correct degradation.
    keep = track_persist(fp.join(hot, "h", "left_anti"))
    # nd feeds both final join sides
    # (na, nb) — persist the narrow per-doc count so the aggregation over
    # the cached keep frame runs once instead of twice.
    nd = track_persist(
        keep.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint")
                                   .alias("nfp")))  # 2 longs per doc
    a = keep.select(F.col("doc_id").alias("doc_a"), "h")
    b = keep.select(F.col("doc_id").alias("doc_b"), "h")
    pr = (a.join(b, "h")
          .where(F.col("doc_a") < F.col("doc_b"))
          .groupBy("doc_a", "doc_b")
          .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
          .where(F.col("n_shared") >= 2))
    na = nd.select(F.col("doc_id").alias("doc_a"), F.col("nfp").alias("n_fp_a"))
    nb = nd.select(F.col("doc_id").alias("doc_b"), F.col("nfp").alias("n_fp_b"))
    return (pr.join(na, "doc_a").join(nb, "doc_b")
            .select("doc_a", "doc_b", "n_shared", "n_fp_a", "n_fp_b",
                    F.expr("n_shared * 1000000L div (n_fp_a + n_fp_b"
                           " - n_shared)").cast("bigint")
                    .alias("overlap_ppm"))
            .orderBy("doc_a", "doc_b"))


WINNOW_INCR_SQL = WINNOW_CTE + """
, fp AS (
  SELECT DISTINCT doc_id, h FROM sel WHERE s = 1
), hot AS (
  SELECT h FROM fp GROUP BY h HAVING count(*) > 50
), keepfp AS (
  SELECT doc_id, h FROM fp WHERE h NOT IN (SELECT h FROM hot)
), pr AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM keepfp a JOIN keepfp b ON a.h = b.h AND a.doc_id < b.doc_id
  WHERE a.doc_id % 5 = 4 OR b.doc_id % 5 = 4
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared,
       CAST(CASE WHEN doc_a % 5 = 4 AND doc_b % 5 = 4 THEN 0 ELSE 1 END
            AS BIGINT) AS vs_corpus
FROM pr WHERE n_shared >= 2
ORDER BY doc_a, doc_b
"""


@register("dedup_winnowing_incremental", sql=WINNOW_INCR_SQL,
          tags=("dedup", "text", "pipeline"))
def dedup_winnowing_incremental(spark, sf_dir):
    """Incremental WINNOWING near-dup — the growing-corpus shape for the
    MOSS fingerprint family, mirroring `dedup_incremental_minhash`'s
    triad role: the persisted artifact is the corpus's selected-
    fingerprint index (doc_id, h); an incoming batch (the doc_id%5==4
    slice, the family's delta convention) winnows ITS documents only —
    selection is doc-local, so batch fingerprints are computed without
    touching history — probes the index on the 48-bit fingerprint value
    for new-vs-old pairs, and self-joins its own fingerprints for
    new-vs-new. Old-vs-old pairs are never regenerated: per-batch work
    is O(batch fingerprints x capped df), independent of corpus size.
    Output = pairs sharing >= 2 selected fingerprints that TOUCH the
    batch, with a vs_corpus flag (1 = partner already ingested).

    The df > 50 boilerplate cap is computed over index + batch together
    (production keeps per-fingerprint df counts with the index and
    updates them on append), so the incremental pair set provably
    equals `dedup_winnowing_pairs`' full-corpus output restricted to
    batch-touching pairs — pinned in tests/test_corpus_queries.py and
    replayed bit-for-bit by the shared `WINNOW_CTE` oracle with the
    same restriction. No broadcast hint on the hot list (it grows
    linearly with the corpus; AQE broadcasts while it fits).

    Scale: at 100 TB the index is bucketed on h, so the probe join is
    shuffle-free on the corpus side each batch — only batch
    fingerprints shuffle; the cap bounds join fan-out at df^2 <= 2500
    per fingerprint, and appends never rewrite the index."""
    docs = load(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 5 == 4
    # the batch and index sides used
    # to run winnow_selected on complementary doc slices — TWO corpus
    # scans, each paying the k-gram explode + two window passes.
    # Selection is doc-local (every window in winnow_selected is
    # partitioned by doc_id), so winnow(slice) ≡ winnow(corpus) filtered
    # to the slice: one winnow pass fills one cache, and both sides are
    # cheap filters over it. The doc-locality is also what keeps the
    # at-scale incremental story intact — a production batch still
    # winnows only its own documents against a stored index; this
    # single-pass formulation is how the from-parquet bench computes the
    # same thing without paying the corpus pass twice. The hot-list agg
    # also now reads the cache directly (fp IS fp_new ∪ fp_old).
    fp = track_persist(
        winnow_selected(docs)
        .where(F.col("s") == 1).select("doc_id", "h").distinct())
    hot = track_persist(
        fp.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > 50).select("h"))
    # keep_new feeds three branches
    # (the cross probe and both intra sides) — persist it so the hot-list
    # anti-join runs once instead of three times.
    keep = fp.join(hot, "h", "left_anti")
    keep_new = track_persist(keep.where(is_new))  # per (batch doc, fp)
    keep_old = keep.where(~is_new)
    nw, od = keep_new.alias("nw"), keep_old.alias("od")
    cross = (nw.join(od, F.col("nw.h") == F.col("od.h"))
             .select(F.least("nw.doc_id", "od.doc_id").alias("doc_a"),
                     F.greatest("nw.doc_id", "od.doc_id").alias("doc_b")))
    na, nb = keep_new.alias("na"), keep_new.alias("nb")
    intra = (na.join(nb, (F.col("na.h") == F.col("nb.h"))
                     & (F.col("na.doc_id") < F.col("nb.doc_id")))
             .select(F.col("na.doc_id").alias("doc_a"),
                     F.col("nb.doc_id").alias("doc_b")))
    return (cross.unionByName(intra)
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
            .where(F.col("n_shared") >= 2)
            .select("doc_a", "doc_b", "n_shared",
                    F.when((F.col("doc_a") % 5 == 4)
                           & (F.col("doc_b") % 5 == 4), 0)
                    .otherwise(1).cast("long").alias("vs_corpus"))
            .orderBy("doc_a", "doc_b"))


# --- DSIR importance-resampling weights --------------------------------------
# Data Selection via Importance Resampling (Xie et al., NeurIPS 2023,
# arXiv:2302.03169): score every raw document by the log-likelihood ratio of
# its hashed n-gram features under a TARGET distribution vs the RAW corpus
# distribution; resampling by these weights shifts the corpus toward the
# target domain. Here the target is the corpus' `lang = 'en'` slice (the
# high-quality-domain stand-in); features are word bigrams hashed into
# DSIR_BUCKETS buckets (the paper's hashed unigram+bigram model, bigrams
# only — the fixture's unigram mass adds little at this size), and both
# bucket models carry Laplace +1 smoothing so unseen buckets stay finite.
#
# Engine independence: the bucket hash is the md5 24-bit prefix mod
# DSIR_BUCKETS (exact integers both sides); the only libm terms are ln()
# of integer counts, identical arguments on both engines, rounded at 6 dp
# after the per-doc fold (the catalog's perplexity/entropy precedent).

DSIR_BUCKETS = 1024

DSIR_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, string_split(lower(text), ' ') AS t
  FROM documents WHERE text IS NOT NULL
), grams AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(t[i] || ' ' || t[i+1]), 1, 6))::INTEGER
           % {DSIR_BUCKETS} AS b
  FROM toks, LATERAL unnest(generate_series(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2
), dbc AS (
  SELECT doc_id, b, count(*) AS g,
         max(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS is_target
  FROM grams GROUP BY doc_id, b
), stats AS (
  SELECT b,
         sum(CASE WHEN is_target = 1 THEN g ELSE 0 END) AS ct,
         sum(g) AS cr
  FROM dbc GROUP BY b
), tot AS (
  SELECT sum(ct) AS nt, sum(cr) AS nr FROM stats
)
, sc AS (
  SELECT d.doc_id,
         CAST(sum(d.g) AS BIGINT) AS n_grams,
         round(sum(d.g * (ln(s.ct + 1) - ln(s.cr + 1)))
               - sum(d.g) * (SELECT ln(nt + {DSIR_BUCKETS})
                                    - ln(nr + {DSIR_BUCKETS}) FROM tot),
               6) AS log_weight
  FROM dbc d JOIN stats s USING (b)
  GROUP BY d.doc_id
)
SELECT d0.doc_id,
       CAST(coalesce(sc.n_grams, 0) AS BIGINT) AS n_grams,
       coalesce(sc.log_weight, 0.0) AS log_weight
FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d0
LEFT JOIN sc USING (doc_id)
ORDER BY d0.doc_id
"""


@register("corpus_dsir_weights", sql=DSIR_SQL, tags=("corpus", "pipeline"))
def corpus_dsir_weights(spark, sf_dir):
    """Per-document DSIR importance weight log p_target(x)/p_raw(x) under
    hashed-bigram bag models — the data-selection score that, fed to the
    catalog's weighted sampler (`sample_weighted`), reproduces the
    DSIR pipeline: estimate both feature distributions once, score every
    raw document, importance-resample toward the target domain. EVERY
    non-null-text document gets a row: docs with fewer than 2 tokens
    have no bigram features, so they carry the neutral score
    (n_grams = 0, log_weight = 0.0 — an even likelihood ratio) rather
    than vanishing, and the downstream resampler sees the full corpus
    (excluding them would break the 'score every raw document'
    contract).

    Scale shape: bigrams never leave their document ungrouped — the
    explode feeds an immediate (doc_id, bucket) partial+final count, so
    the shuffled stream is bounded by docs × distinct-buckets(doc) with
    DSIR_BUCKETS as the hard per-doc cap. The bucket model table is
    ≤ DSIR_BUCKETS rows (broadcast), the corpus totals are a 1-row
    broadcast scalar, and the final fold is one hash aggregate on
    doc_id. Nothing scales with corpus size except the two linear
    passes."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return _dsir_log_weights(docs)


def _dsir_log_weights(docs):
    """Core of `corpus_dsir_weights` over any (doc_id, lang, text) frame —
    split out so tests can drive constructed corpora through the exact
    production plan (the `_stickiness_hll_core` pattern)."""
    toks = F.split(F.lower(F.col("text")), " ", -1)
    grams = (docs.select("doc_id", "lang", toks.alias("__t"))
             .where(F.size("__t") >= 2)
             .select("doc_id", "lang", F.explode(F.expr(
                 "transform(sequence(0, size(__t) - 2),"
                 " i -> concat(__t[i], ' ', __t[i + 1]))")).alias("gram"))
             .select("doc_id", "lang",
                     (F.conv(F.substring(F.md5("gram"), 1, 6), 16, 10)
                      .cast("int") % DSIR_BUCKETS).alias("b")))
    dbc = track_persist(
        grams.groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("g"),
             F.max(F.when(F.col("lang") == "en", 1).otherwise(0))
             .alias("is_target")))  # <= DSIR_BUCKETS rows per doc
    stats = (dbc.groupBy("b")
             .agg(F.sum(F.when(F.col("is_target") == 1, F.col("g"))
                        .otherwise(0)).alias("ct"),
                  F.sum("g").alias("cr")))
    tot = stats.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    term = F.col("g") * (F.log(F.col("ct") + 1) - F.log(F.col("cr") + 1))
    horizon = (F.log(F.col("nt") + DSIR_BUCKETS)
               - F.log(F.col("nr") + DSIR_BUCKETS))
    scored = (dbc.join(F.broadcast(stats), "b")
              .crossJoin(F.broadcast(tot))
              .groupBy("doc_id")
              .agg(F.sum(term).alias("s"),
                   F.sum("g").cast("bigint").alias("n_grams"),
                   F.first(horizon).alias("hz"))
              .select("doc_id", "n_grams",
                      F.round(F.col("s") - F.col("n_grams") * F.col("hz"), 6)
                      .alias("log_weight")))
    return (docs.select("doc_id").join(scored, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_grams", F.lit(0)).cast("bigint")
                    .alias("n_grams"),
                    F.coalesce("log_weight", F.lit(0.0))
                    .alias("log_weight"))
            .orderBy("doc_id"))


SAMPLE_DSIR_K = 100
_U48 = 281474976710656.0  # 2^48, the md5 12-hex-prefix uniform's scale

SAMPLE_DSIR_SQL = f"""
WITH w AS ({DSIR_SQL}),
keyed AS (
  SELECT w.doc_id, d.lang, w.n_grams, w.log_weight,
         w.log_weight + (-ln(-ln(
           (('0x' || substr(md5('gmb:' || CAST(w.doc_id AS VARCHAR)), 1, 12)
            )::BIGINT + 1) / {_U48}))) AS k
  FROM w JOIN documents d USING (doc_id)
), ranked AS (
  SELECT doc_id, lang, n_grams, log_weight, k,
         row_number() OVER (ORDER BY round(k, 6) DESC, doc_id) AS rn
  FROM keyed
)
SELECT doc_id, lang, n_grams, log_weight, round(k, 6) AS gumbel_key,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {SAMPLE_DSIR_K}
ORDER BY rn
"""


@register("sample_dsir", sql=SAMPLE_DSIR_SQL, tags=("corpus", "pipeline"))
def sample_dsir(spark, sf_dir):
    """The MATERIALIZED DSIR resample — `corpus_dsir_weights` driven
    through the Gumbel-top-k draw the weights exist for: sampling k docs
    without replacement proportionally
    to softmax(log_weight) equals taking the top-k of
    log_weight + Gumbel(0,1), and the Gumbel uses the catalog's
    content-addressed uniforms (u = (md5('gmb:'||doc_id) 12-hex + 1)
    / 2^48) so BOTH engines draw the identical sample — the composition
    tests/test_corpus_queries.py pins against a hashlib replay is now
    a driver-checked catalog query. Rank order uses the ROUNDED key
    (6 dp) then doc_id, the BM25 precedent, so engines summing float
    terms in different orders cannot disagree at the boundary.

    Scale: scoring is `corpus_dsir_weights`' two linear passes; the
    corpus-wide selection stays inside TakeOrderedAndProject
    (per-partition k-row heaps, k rows to the driver merge — pinned in
    tests/test_plan_shape.py, the `sample_weighted` shape); the final
    row_number runs over the ≤k-row result, never the corpus."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    w = _dsir_log_weights(docs)
    u = (F.conv(F.substring(
        F.md5(F.concat(F.lit("gmb:"), F.col("doc_id").cast("string"))),
        1, 12), 16, 10).cast("double") + 1) / F.lit(_U48)
    key = F.col("log_weight") + (-F.log(-F.log(u)))
    keyed = (w.join(docs.select("doc_id", "lang"), "doc_id")
             .select("doc_id", "lang", "n_grams", "log_weight",
                     key.alias("k")))
    top = (keyed.orderBy(F.desc(F.round("k", 6)), "doc_id")
           .limit(SAMPLE_DSIR_K)
           .withColumn("rn", F.row_number().over(
               Window.orderBy(F.desc(F.round("k", 6)), "doc_id"))
               .cast("bigint")))
    return (top.select("doc_id", "lang", "n_grams", "log_weight",
                       F.round("k", 6).alias("gumbel_key"), "rn")
            .orderBy("rn"))
