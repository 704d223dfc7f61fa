"""Deduplication operators over ``documents`` — the LLM-pipeline extension
surface: exact hash dedup, n-gram Jaccard near-dup, MinHash-LSH, SimHash.

Scale posture: exact dedup is one hash-partitioned groupBy (linear);
MinHash+LSH banding turns all-pairs similarity into per-bucket joins (the
100 TB path); the exact Jaccard self-join is the correctness oracle for LSH,
quadratic by nature, and excluded from the bench set."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_sentiment_spark.functions.text import has_text
from spark_sentiment_spark.operators.minhash import (N_BANDS, N_HASHES,
                                                     THRESHOLD, band_buckets,
                                                     band_pairs,
                                                     est_jaccard_sql,
                                                     lsh_cand_sql,
                                                     minhash_oracle_sql,
                                                     minhash_signatures,
                                                     probe_minhash_oracle_sql,
                                                     scored_pairs, shingled)
from spark_sentiment_spark.operators.postings import term_pairs
from spark_sentiment_spark.plans.registry import (load, register,
                                                  track_persist)


EXACT_SQL = """
WITH hashed AS (
  SELECT doc_id, md5(lower(trim(text))) AS h FROM documents
),
ranked AS (
  SELECT doc_id, h,
         row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
  FROM hashed
)
SELECT doc_id, h AS content_hash FROM ranked WHERE rn = 1
ORDER BY doc_id
"""


@register("dedup_exact", sql=EXACT_SQL, bench=True, tags=("dedup",))
def dedup_exact(spark, sf_dir):
    """Exact dedup, keep-first (lowest doc_id) per content hash — one
    hash shuffle, no collect."""
    docs = load(spark, sf_dir, "documents")
    h = F.md5(F.lower(F.trim(F.col("text"))).cast("binary"))
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        docs.select("doc_id", h.alias("content_hash"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "content_hash")
        .orderBy("doc_id")
    )


JACCARD_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_transform(generate_series(1, len(t) - 2),
                                  i -> array_to_string(t[i:i+2], ' '))
              ELSE [array_to_string(t, ' ')] END AS shingles
  FROM toks
),
tok AS (
  SELECT DISTINCT doc_id, unnest(shingles) AS w FROM sh
),
sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.9
ORDER BY doc_a, doc_b
"""


@register("dedup_jaccard_pairs", sql=JACCARD_SQL, tags=("dedup",))
def dedup_jaccard_pairs(spark, sf_dir):
    """Exact 3-shingle-set Jaccard near-dup pairs (threshold 0.9). The
    inverted-index self-join is the textbook exact formulation — quadratic in
    posting-list length, so it serves as the small-SF oracle for the LSH
    variant below (which is the plan you run at 100 TB). Shingle sets (not
    single tokens) keep posting lists selective on homogeneous corpora."""
    return _jaccard_pair_frame(load(spark, sf_dir, "documents"))


def _jaccard_pair_frame(docs):
    """The >= 0.9 Jaccard pair computation over an arbitrary document
    frame (factored so dedup_clusters can run it on exact-dup
    representatives instead of the raw corpus)."""
    # tok feeds the sizes agg and both self-join sides: persisted, the
    # shingling (explode + distinct shuffle over full text) runs once.
    tok = track_persist(shingled(docs).distinct())  # per (doc, shingle) row
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = term_pairs(tok, F.count(F.lit(1)).alias("i"))
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("i") * 1.0 / (F.col("sa.n") + F.col("sb.n") - F.col("i"))
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .where(jac >= 0.9)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


@register("dedup_minhash_lsh", bench=True, sql=minhash_oracle_sql(),
          tags=("dedup",))
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash near-dup candidate pairs at scale: shingle → minhash
    signature → band → bucket join (the standard LSH banding scheme).

    3-word shingles (consecutive-token n-grams — single-token sets saturate
    on homogeneous corpora where any two docs share most of the
    vocabulary); 32 seeded permutations (a*h+b mod p) of 31-bit shingle
    hashes, min per permutation; 32 hashes grouped into 8 bands of 4,
    joined on (band_id, band_hash) — no all-pairs product.

    The signature stage is ``mapInPandas``: each document's shingle set and
    32 mins are computed LOCALLY inside its Arrow batch (one k×32 numpy
    outer-product min per doc), so the token stream is never materialized
    as rows and — unlike the explode → groupBy(doc_id) formulation — never
    SHUFFLED. At 100 TB the token-stream shuffle is the dominant cost of
    the aggregation form; the per-doc form is embarrassingly parallel and
    emits one 33-column row per document straight into the banding step.
    Banding, bucket join, and Jaccard-agreement estimation stay native.

    Exact-hash oracle: the base hash is
    md5-derived and the permutation constants are shared with the
    generated DuckDB SQL twin, so both engines compute identical
    signatures, buckets, and estimates. tests/test_dedup_recall.py
    additionally pins candidate recall against the exact Jaccard query.
    """
    docs = load(spark, sf_dir, "documents")
    mins = track_persist(minhash_signatures(docs))
    # NOT persisted (measured A/B): both self-join sides re-derive the
    # band explode from the cached signatures, but that derivation is a
    # cheap projection over cached rows — a min-of-10 A/B measured the
    # persist's cache-fill barrier at +9% min / +7% median on this bench
    # query, so the recompute wins.
    cand = band_pairs(band_buckets(mins, N_HASHES, N_BANDS))
    # Estimate similarity = fraction of agreeing minhashes, read off the
    # cached signatures.
    return scored_pairs(cand, mins).orderBy("doc_a", "doc_b")


def _incr_minhash_oracle_sql() -> str:
    """DuckDB twin of the INCREMENTAL MinHash query: the full-corpus LSH
    pipeline restricted to candidate pairs that TOUCH the incoming batch
    (doc_id % 5 = 4) — exactly the pair set the incremental plan
    generates, since pairs entirely inside the already-indexed corpus were
    emitted by earlier batches."""
    return minhash_oracle_sql(
        cand_where="a.doc_id % 5 = 4 OR b.doc_id % 5 = 4",
        extra_cols=""",
       CAST(CASE WHEN doc_a % 5 = 4 AND doc_b % 5 = 4
                 THEN 0 ELSE 1 END AS BIGINT) AS vs_corpus""")


def _batch_signatures(spark, sf_dir):
    """(sig, sig_new, sig_old): persisted MinHash signatures of every
    document, and their incoming-batch (doc_id % 5 == 4) and corpus
    slices. Signatures are doc-local, so one signature pass serves both
    sides as filters over one cache."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    is_new = F.col("doc_id") % 5 == 4
    sig = track_persist(minhash_signatures(docs))  # 33 longs per doc
    return sig, sig.where(is_new), sig.where(~is_new)


@register("dedup_incremental_minhash", sql=_incr_minhash_oracle_sql(),
          tags=("dedup", "pipeline"))
def dedup_incremental_minhash(spark, sf_dir):
    """Incremental NEAR-dup — the production shape for a GROWING corpus,
    marrying `dedup_incremental` (exact-hash index maintained across
    batches) with `dedup_minhash_lsh` (banded similarity): the persisted
    artifact is the corpus's (doc_id, band_id, band_hash) index plus its
    signatures; an incoming batch (the doc_id%5==4 slice, mirroring
    `dedup_incremental`'s convention) computes signatures for ITS docs
    only, probes the existing band index for new-vs-old candidates, and
    self-joins its own bands for new-vs-new — old-vs-old pairs are never
    regenerated, which is the whole point: per-batch work is
    O(batch × bucket occupancy), independent of corpus history. Output =
    banded candidate pairs touching the batch with signature-agreement
    est_jaccard >= 0.5 and a vs_corpus flag (1 = partner already
    ingested → drop the new doc; 0 = both new → keep one of the pair).

    Exact-hash oracle: the generated DuckDB twin runs the FULL-corpus
    LSH with identical md5-derived signatures and restricts to pairs
    touching the delta — provably the same set, since every incremental
    candidate has >= 1 batch member and band structure is shared.

    Scale: at 100 TB the band index is a bucketed table on the band hash
    (sources/bucketing.py), so the probe join is shuffle-free on the
    corpus side every nightly batch — only the batch's bands shuffle;
    signatures stream per-doc through the same Arrow `mapInPandas` stage
    as the full build (no token-stream shuffle). Appending the batch's
    bands+signatures to the index afterward is a partitioned append, so
    the index grows without rewrites."""
    # Production: corpus signatures/bands are read from the persisted
    # index; here both sides derive from the same table, split by batch.
    sig, sig_new, sig_old = _batch_signatures(spark, sf_dir)
    # bands_new is not persisted: its three consumers re-derive the band
    # explode from the cached signatures, which measured faster than
    # caching the n_bands× wider frame.
    bands_new = band_buckets(sig_new, N_HASHES, N_BANDS)
    bands_old = band_buckets(sig_old, N_HASHES, N_BANDS)
    nb, ob = bands_new.alias("nb"), bands_old.alias("ob")
    cross = (nb.join(ob, (F.col("nb.bh") == F.col("ob.bh"))
                     & (F.col("nb.band_id") == F.col("ob.band_id")))
             .select(F.least("nb.doc_id", "ob.doc_id").alias("doc_a"),
                     F.greatest("nb.doc_id", "ob.doc_id").alias("doc_b"),
                     F.lit(1).cast("long").alias("vs_corpus")))
    na, nb2 = bands_new.alias("na"), bands_new.alias("nb2")
    intra = (na.join(nb2, (F.col("na.bh") == F.col("nb2.bh"))
                     & (F.col("na.band_id") == F.col("nb2.band_id"))
                     & (F.col("na.doc_id") < F.col("nb2.doc_id")))
             .select(F.col("na.doc_id").alias("doc_a"),
                     F.col("nb2.doc_id").alias("doc_b"),
                     F.lit(0).cast("long").alias("vs_corpus")))
    cand = cross.unionByName(intra).distinct()
    # the fused cache IS new ∪ old
    return (scored_pairs(cand, sig, "vs_corpus")
            .orderBy("doc_a", "doc_b"))


_SIMHASH_BITS = 60  # 15 md5 hex chars — stays clear of the int64 sign bit
_SIMHASH_BANDS = 4


def _simhash_oracle_sql() -> str:
    """DuckDB twin of the SimHash pipeline: identical md5-derived 60-bit
    token hashes, per-bit frequency-weighted votes, sign → bit, and the
    same 15-bit band split — generated so the driver's value-hash check
    is exact."""
    bits, bands = _SIMHASH_BITS, _SIMHASH_BANDS
    vote_cols = ",\n         ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits))
    pack = " + ".join(
        f"CASE WHEN v{i} > 0 THEN {1 << i}::BIGINT ELSE 0 END"
        for i in range(bits))
    width = bits // bands
    band_cols = ",\n       ".join(
        f"(simhash >> {b * width}) & {(1 << width) - 1} AS band{b}"
        for b in range(bands))
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
  FROM documents WHERE text IS NOT NULL
), hv AS (
  SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM tok
), votes AS (
  SELECT doc_id,
         {vote_cols}
  FROM hv GROUP BY doc_id
), sig AS (
  SELECT doc_id, {pack} AS simhash FROM votes
)
SELECT doc_id, simhash,
       {band_cols}
FROM sig
ORDER BY doc_id
"""


@register("dedup_simhash", sql=_simhash_oracle_sql(), tags=("dedup",))
def dedup_simhash(spark, sf_dir):
    """60-bit SimHash per document, fully native: per-token md5-derived
    hash, per-bit +1/−1 vote weighted by token frequency, sign → bit.
    Near-dups share Hamming-close signatures; here we emit
    (doc_id, simhash, band15s) so a banded self-join can find candidates.

    Exact-hash oracle: the token hash is the
    first 15 hex chars of md5 (60 bits — clear of the int64 sign bit, so
    shifts/packs behave identically in both engines), which DuckDB
    reproduces as ('0x'||substr(md5(w),1,15))::BIGINT."""
    bits, bands = _SIMHASH_BITS, _SIMHASH_BANDS
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ", -1)).alias("w"),
    )
    h = F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long")
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"v{i}")
            for i in range(bits)
        ]
    )
    sim = votes.select(
        "doc_id",
        sum(
            (F.when(F.col(f"v{i}") > 0, F.lit(1)).otherwise(F.lit(0))
             .cast("long") * F.lit(1 << i).cast("long"))
            for i in range(bits)
        ).alias("simhash"),
    )
    width = bits // bands
    return sim.select(
        "doc_id", "simhash",
        *[F.shiftrightunsigned(F.col("simhash"), b * width)
          .bitwiseAND(F.lit((1 << width) - 1)).alias(f"band{b}")
          for b in range(bands)],
    ).orderBy("doc_id")


CLUSTERS_SQL = """
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_transform(generate_series(1, len(t) - 2),
                                  i -> array_to_string(t[i:i+2], ' '))
              ELSE [array_to_string(t, ' ')] END AS shingles
  FROM toks
),
tok AS (
  SELECT DISTINCT doc_id, unnest(shingles) AS w FROM sh
),
sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.9
),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION
  SELECT doc_b AS s, doc_a AS d FROM pairs
),
reach AS (
  SELECT s AS node, d AS r FROM edges
  UNION
  SELECT reach.node, e.d FROM reach JOIN edges e ON reach.r = e.s
)
SELECT node AS doc_id, least(node, min(r)) AS component
FROM reach
GROUP BY node
ORDER BY doc_id
"""


@register("dedup_clusters", sql=CLUSTERS_SQL, tags=("dedup",))
def dedup_clusters(spark, sf_dir):
    """Duplicate GROUPS, not just pairs: connected components of the
    >= 0.9-Jaccard near-dup graph, each doc labeled with the smallest
    doc_id in its component (the canonical survivor a dedup pipeline
    would keep). Iterative min-label propagation
    (operators/components.py) — the fixpoint is not one SQL statement in
    Spark; the DuckDB oracle expresses it as a recursive-CTE transitive
    closure over the identical pair graph.

    EXACT-DUPLICATE COLLAPSE: identical texts are pairwise
    Jaccard 1.0, so a group of k exact copies contributes a k-clique —
    k(k-1)/2 pairs — to the pair stage while adding nothing to the
    clustering answer. On a web corpus exact boilerplate groups run to
    10^5 copies, making the pair graph quadratic in the hottest groups
    (measured: ×32 identical-text replication OOMs an 8g driver
    without the collapse). So the pair
    computation runs on one REPRESENTATIVE per md5(lower(text)) group
    (the group's min doc_id), and members expand back afterward. The
    output is provably unchanged: members share their rep's component
    (j = 1.0 edges), cross-group connectivity depends only on text so
    rep-level pairs preserve it, and component labels stay the min
    doc_id because each rep IS its group's min. Membership is also
    preserved — a doc appears iff it has some >= 0.9 partner: any doc in
    a group of >= 2, plus singletons whose rep earned a rep-level pair."""
    from spark_sentiment_spark.operators.components import (
        connected_components)

    docs = load(spark, sf_dir, "documents")
    wg = Window.partitionBy("h")
    member = track_persist(
        docs.where(F.col("text").isNotNull())
        .select("doc_id", F.md5(F.lower("text")).alias("h"))
        .withColumn("rep", F.min("doc_id").over(wg))
        .withColumn("gsize", F.count(F.lit(1)).over(wg))
        .select("doc_id", "rep", "gsize"))  # 3 longs per doc
    reps = member.where(F.col("doc_id") == F.col("rep")).select("doc_id")
    pairs = _jaccard_pair_frame(docs.join(reps, "doc_id")) \
        .select("doc_a", "doc_b")
    comp = connected_components(pairs, "doc_a", "doc_b")
    return (member
            .join(comp.select(F.col("node").alias("rep"), "comp"),
                  "rep", "left")
            .where((F.col("gsize") >= 2) | F.col("comp").isNotNull())
            .select("doc_id", F.coalesce("comp", "rep").alias("component"))
            .orderBy("doc_id"))


DECON_MINHASH_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_transform(generate_series(1, len(t) - 2),
                                  i -> array_to_string(t[i:i+2], ' '))
              ELSE [array_to_string(t, ' ')] END AS shingles
  FROM toks
),
tok AS (SELECT DISTINCT doc_id, unnest(shingles) AS w FROM sh),
sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
inter AS (
  SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc, count(*) AS i
  FROM tok t JOIN tok e ON t.w = e.w
  WHERE t.doc_id % 11 <> 0 AND e.doc_id % 11 = 0
  GROUP BY 1, 2
)
SELECT train_doc, eval_doc,
       round(i * 1.0 / (st.n + se.n - i), 6) AS jaccard
FROM inter
JOIN sizes st ON train_doc = st.doc_id
JOIN sizes se ON eval_doc = se.doc_id
WHERE i * 1.0 / (st.n + se.n - i) >= 0.8
ORDER BY train_doc, eval_doc
"""


@register("decontaminate_minhash", sql=DECON_MINHASH_SQL,
          tags=("dedup", "text"))
def decontaminate_minhash(spark, sf_dir):
    """Fuzzy train/eval decontamination — the near-dup complement of
    `decontaminate_ngram` (which needs an exact 8-gram hit). Documents with
    doc_id % 11 == 0 stand in for the eval set; the rest are the training
    corpus. MinHash-LSH banding (32 hashes, 16 bands of 2 — high recall at
    the 0.8 threshold) proposes train↔eval candidate pairs from shared
    band buckets, then EXACT shingle-set Jaccard is computed for candidates
    only, keeping pairs ≥ 0.8.

    Scale shape: signatures are per-doc Arrow-local (no token shuffle);
    the bucket join is linear in bucket occupancy; the exact-verify join
    touches only candidate pairs, so the quadratic term of the oracle's
    all-pairs formulation never appears. The DuckDB oracle IS that
    quadratic formulation — equality additionally witnesses that LSH
    recall at this threshold is total on the fixture (pinned more broadly
    by tests/test_dedup_recall.py)."""
    docs = load(spark, sf_dir, "documents")
    n_hashes, n_bands = 32, 16
    is_eval = F.col("doc_id") % 11 == 0

    mins = track_persist(minhash_signatures(docs, n_hashes))
    # the train and eval sides each
    # re-derived the band explode from the cached signatures — persist the
    # narrow (doc_id, band_id, bh) frame so the banding runs once.
    buckets = track_persist(band_buckets(mins, n_hashes, n_bands))
    t = buckets.where(~is_eval).alias("t")
    e = buckets.where(is_eval).alias("e")
    cand = (t.join(e, (F.col("t.bh") == F.col("e.bh"))
                   & (F.col("t.band_id") == F.col("e.band_id")))
            .select(F.col("t.doc_id").alias("train_doc"),
                    F.col("e.doc_id").alias("eval_doc"))
            .distinct())

    # Exact Jaccard verify on candidates only. The shingle inverted index
    # is reused from the exact formulation; the semi-join-shaped candidate
    # restriction keeps the intersect-count join bounded by |candidates|.
    # the distinct shingle table
    # feeds three branches (sizes + both intersect sides) — persist it
    # so the corpus is shingled once instead of three times.
    tok = track_persist(shingled(docs).distinct())  # per (doc, shingle) row
    # sizes feeds both final join
    # sides (st, se) — persist the narrow per-doc count so the aggregation
    # over the cached shingle table runs once.
    sizes = track_persist(
        tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")))
    ta, ea = tok.alias("ta"), tok.alias("ea")
    inter = (cand
             .join(ta, F.col("train_doc") == F.col("ta.doc_id"))
             .join(ea, (F.col("eval_doc") == F.col("ea.doc_id"))
                   & (F.col("ta.w") == F.col("ea.w")))
             .groupBy("train_doc", "eval_doc")
             .agg(F.count(F.lit(1)).alias("i")))
    st, se = sizes.alias("st"), sizes.alias("se")
    jac = F.col("i") * 1.0 / (F.col("st.n") + F.col("se.n") - F.col("i"))
    return (inter
            .join(st, F.col("train_doc") == F.col("st.doc_id"))
            .join(se, F.col("eval_doc") == F.col("se.doc_id"))
            .where(jac >= 0.8)
            .select("train_doc", "eval_doc",
                    F.round(jac, 6).alias("jaccard"))
            .orderBy("train_doc", "eval_doc"))


# --- Character-level repeated-span detection (substring-dedup signal) -------
# The one dedup modality token shingles miss: verbatim spans that cross
# token boundaries or hide inside otherwise-distinct documents (licenses,
# templates, quoted passages). Exact substring dedup is a suffix-array
# problem (Lee et al. 2021, arXiv:2107.06499); the scalable approximation
# used in production pipelines is char-n-gram collision counting, which is
# two hash aggregations.

CHAR_NGRAM_LEN = 20

CHAR_NGRAM_SQL = f"""
WITH g AS (
  SELECT DISTINCT doc_id, substr(text, i, {CHAR_NGRAM_LEN}) AS gram
  FROM documents
  CROSS JOIN LATERAL (
    SELECT unnest(generate_series(1, length(text) - {CHAR_NGRAM_LEN} + 1))
      AS i)
  WHERE text IS NOT NULL AND length(text) >= {CHAR_NGRAM_LEN}
), counts AS (
  SELECT gram, count(*) AS nd FROM g GROUP BY gram
)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared,
       round(sum(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS shared_ratio
FROM g JOIN counts c USING (gram)
GROUP BY g.doc_id
ORDER BY g.doc_id
"""


# Cluster-size histogram over the same recursive-CTE closure: strip
# CLUSTERS_SQL's final SELECT/ORDER and re-aggregate.
_CLUSTERS_CTE = CLUSTERS_SQL[:CLUSTERS_SQL.index("SELECT node AS doc_id")]

CLUSTER_STATS_SQL = _CLUSTERS_CTE + """, comp AS (
  SELECT node AS doc_id, least(node, min(r)) AS component
  FROM reach GROUP BY node
), csize AS (
  SELECT component, count(*) AS sz FROM comp GROUP BY component
)
SELECT CAST(sz AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(sz) AS BIGINT) AS n_docs,
       CAST(sum(sz - 1) AS BIGINT) AS n_removable
FROM csize
GROUP BY sz
ORDER BY cluster_size
"""


@register("dedup_cluster_stats", sql=CLUSTER_STATS_SQL, tags=("dedup",))
def dedup_cluster_stats(spark, sf_dir):
    """Duplicate-group size histogram — the dashboard number a dedup run
    reports: how many groups of each size exist, how many documents they
    hold, and how many a keep-one-per-group policy removes
    (``n_removable = sum(size - 1)``). Reuses the ``dedup_clusters``
    component labeling (pointer-jumping connected components; note docs
    with NO near-dup partner never enter the pair graph, so size-1 rows
    here mean self-contained mutual-dup groups surfaced by closure, not
    the unpaired corpus remainder). Aggregation over the bounded
    component table — free once components exist."""
    comp = dedup_clusters(spark, sf_dir)
    csize = comp.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    return (csize.groupBy(F.col("sz").cast("bigint").alias("cluster_size"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
                 F.sum("sz").cast("bigint").alias("n_docs"),
                 F.sum(F.col("sz") - 1).cast("bigint").alias("n_removable"))
            .orderBy("cluster_size"))


CLUSTER_CANONICAL_SQL = _CLUSTERS_CTE + """, comp AS (
  SELECT node AS doc_id, least(node, min(r)) AS component
  FROM reach GROUP BY node
), corpus AS (
  SELECT d.doc_id,
         coalesce(c.component, d.doc_id) AS component,
         length(d.text) AS len
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
  WHERE d.text IS NOT NULL
), ranked AS (
  SELECT doc_id, component, len,
         row_number() OVER (PARTITION BY component
                            ORDER BY len DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY component) AS sz
  FROM corpus
)
SELECT CAST(component AS BIGINT) AS component,
       doc_id AS canonical_doc,
       CAST(sz AS BIGINT)  AS n_members,
       CAST(len AS BIGINT) AS doc_len
FROM ranked
WHERE rn = 1
ORDER BY component
"""


@register("dedup_cluster_canonical", sql=CLUSTER_CANONICAL_SQL,
          tags=("dedup",))
def dedup_cluster_canonical(spark, sf_dir):
    """The end of the near-dup pipeline: one surviving document per
    duplicate component, chosen by QUALITY (longest text, ties to lowest
    doc_id) rather than crawl order — `dedup_clusters` labels the groups,
    this picks who lives. Docs outside the pair graph are their own
    singleton component, so the output is the full deduplicated corpus
    manifest (component, canonical_doc, n_members, doc_len), not just the
    contested groups. Complements `dedup_keep_best` (prefix clusters) at
    the stronger >= 0.9-Jaccard clustering.

    Scale: components are O(corpus) rows of two longs; the left join to
    the corpus is key-to-key on doc_id; rank and group-count share one
    window partitioning on component (bounded occupancy — dup groups,
    not the corpus). The pair graph feeding the components is
    `dedup_jaccard_pairs` — the EXACT inverted-index formulation, chosen
    here because it is what the recursive-CTE oracle can replay; at
    100 TB swap that one input for the `dedup_minhash_lsh` candidate
    pairs (identical downstream plan), exactly as the embedding-cosine
    family documents its exact-vs-LSH split."""
    comp = dedup_clusters(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    full = (docs.select("doc_id",
                        F.length("text").cast("bigint").alias("doc_len"))
            .join(comp, "doc_id", "left")
            .withColumn("component",
                        F.coalesce("component", "doc_id").cast("bigint")))
    w = Window.partitionBy("component").orderBy(F.desc("doc_len"), "doc_id")
    wc = Window.partitionBy("component")
    return (full.withColumn("rn", F.row_number().over(w))
            .withColumn("n_members", F.count("*").over(wc).cast("bigint"))
            .where(F.col("rn") == 1)
            .select("component", F.col("doc_id").alias("canonical_doc"),
                    "n_members", "doc_len")
            .orderBy("component"))


def char_ngram_stats(docs, n: int = CHAR_NGRAM_LEN):
    """Core of dedup_char_ngrams over any (doc_id, text) DataFrame —
    split out so tests can pin the semantics on hand-built corpora."""
    live = docs.where(F.col("text").isNotNull() & (F.length("text") >= n))
    # grams feeds the document-
    # frequency agg AND the final per-doc join side — persist the
    # distinct char-gram table so the explode + distinct shuffle over
    # full text runs once, not twice.
    grams = track_persist(
        live.select(
            "doc_id",
            F.explode(F.expr(
                f"transform(sequence(1, length(text) - {n} + 1),"
                f" i -> substring(text, i, {n}))")).alias("gram"))
        .distinct())  # per distinct (doc, char-gram) — text-sized
    counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("nd"))
    shared = F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
    return (grams.join(counts, "gram")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_grams"),
                 shared.cast("bigint").alias("n_shared"),
                 F.round(shared.cast("double") / F.count(F.lit(1)), 6)
                 .alias("shared_ratio"))
            .orderBy("doc_id"))


@register("dedup_char_ngrams", sql=CHAR_NGRAM_SQL, tags=("dedup", "text"))
def dedup_char_ngrams(spark, sf_dir):
    """Per-document verbatim-span duplication signal: the fraction of a
    doc's distinct character ``CHAR_NGRAM_LEN``-grams that also appear in at
    least one other document. High ``shared_ratio`` flags
    boilerplate/template/quoted-passage duplication that token-level
    shingles miss because the repeated span crosses token boundaries or
    sits inside otherwise unique text; pipelines threshold it (or feed the
    flagged spans to an exact suffix-array pass, Lee et al. 2021) before
    training.

    Scale: the gram table is corpus-length × n bytes, but it collapses
    through two map-side-combined hash aggregations (gram counts, then
    per-doc rollup) — the same two-shuffle shape as every dedup query
    here; no self-join, no all-pairs. At web scale raise the stride
    (sample every s-th offset) to trade recall for an s× smaller
    explode; the fixture runs stride 1."""
    return char_ngram_stats(load(spark, sf_dir, "documents"))


# --- Prefix-filtered exact similarity join (PPJoin-style) -------------------

# Threshold 3/5 kept as an integer fraction end-to-end: membership tests
# are the cross-multiplication 5*i >= 3*(na+nb-i), never a float compare
# one ulp from the boundary.
_SIMJOIN_NUM = 3
_SIMJOIN_DEN = 5

SIMJOIN_PREFIX_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
), grams AS (
  SELECT doc_id, CASE WHEN len(t) >= 2
         THEN list_transform(generate_series(1, len(t) - 1),
                             i -> array_to_string(t[i:i+1], ' '))
         ELSE [array_to_string(t, ' ')] END AS gs
  FROM toks
), tok AS (
  SELECT DISTINCT doc_id, unnest(gs) AS w FROM grams
), sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS i
  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, i AS n_shared,
       sa.n + sb.n - i AS n_union,
       round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE {_SIMJOIN_DEN} * i >= {_SIMJOIN_NUM} * (sa.n + sb.n - i)
ORDER BY doc_a, doc_b
"""


def _simjoin_grams(docs):
    """Distinct (doc_id, bigram) rows over the lowercased space-split
    tokens (whole text as one gram for single-token docs)."""
    toks = docs.select(
        "doc_id", F.split(F.lower("text"), " ", -1).alias("__t"))
    grams = F.when(
        F.size("__t") >= 2,
        F.expr("transform(sequence(0, size(__t) - 2),"
               " i -> concat(__t[i], ' ', __t[i + 1]))")
    ).otherwise(F.array(F.concat_ws(" ", F.col("__t"))))
    return toks.select("doc_id", F.explode(grams).alias("w")).distinct()


def _simjoin_tok(spark, sf_dir):
    """The persisted `_simjoin_grams` of the non-blank documents."""
    docs = load(spark, sf_dir, "documents").where(has_text())
    return track_persist(_simjoin_grams(docs))  # per (doc, gram) row


def _rarity_prefix(tok, num: int, den: int):
    """(doc_id, w) prefix of each doc's grams ranked by global rarity
    (df asc, gram asc): the first L - ceil(num/den * L) + 1 of its L
    grams, the integer-exact PPJoin prefix length."""
    dfreq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    # one doc_id-partitioned window pass yields rank AND set size
    wdoc = Window.partitionBy("doc_id").orderBy("df", "w")
    wall = Window.partitionBy("doc_id")
    ranked = (tok.join(dfreq, "w")
              .select("doc_id", "w",
                      F.row_number().over(wdoc).alias("rn"),
                      F.count(F.lit(1)).over(wall).alias("n")))
    plen = F.expr(f"n - (({num} * n + {den} - 1) div {den}) + 1")
    return ranked.where(F.col("rn") <= plen).select("doc_id", "w")


def _shared_counts(tok, cand, a: str, b: str):
    """(inter, sizes): the exact shared-gram count i of every candidate
    pair (a, b), and each doc's gram count n (doc_id, n)."""
    ta = tok.select(F.col("doc_id").alias(a), "w")
    tb = tok.select(F.col("doc_id").alias(b), "w")
    inter = (cand.join(ta, a).join(tb, [b, "w"])
             .groupBy(a, b)
             .agg(F.count(F.lit(1)).cast("bigint").alias("i")))
    sizes = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    return inter, sizes


def _simjoin_candidates(tok):
    """PPJoin prefix-filter candidate pairs: rank each doc's grams by
    global rarity (df asc, gram asc), keep the first
    L - ceil(t*L) + 1, and self-join the prefixes. Lossless for
    Jaccard >= _SIMJOIN_NUM/_SIMJOIN_DEN; prefix length is integer-exact
    (ceil as (num*L + den - 1) div den)."""
    prefix = _rarity_prefix(tok, _SIMJOIN_NUM, _SIMJOIN_DEN)
    return (prefix.alias("pa")
            .join(prefix.alias("pb"),
                  (F.col("pa.w") == F.col("pb.w"))
                  & (F.col("pa.doc_id") < F.col("pb.doc_id")))
            .select(F.col("pa.doc_id").alias("doc_a"),
                    F.col("pb.doc_id").alias("doc_b"))
            .distinct())


@register("dedup_simjoin_prefix", sql=SIMJOIN_PREFIX_SQL, tags=("dedup",))
def dedup_simjoin_prefix(spark, sf_dir):
    """EXACT bigram-set similarity join at Jaccard >= 3/5 via prefix
    filtering (PPJoin's candidate rule): order every doc's token bigrams
    by global rarity (document frequency asc, gram asc — a total order),
    keep only the first L - ceil(t*L) + 1 grams as the doc's PREFIX,
    and generate candidates from the prefix⋈prefix self-join. The filter
    is LOSSLESS — two sets with Jaccard >= t must share a prefix token
    under any common total order — so the oracle is the NAIVE all-token
    self-join and the outputs are identical; only the candidate set
    shrinks. Every verified pair then recomputes the exact intersection.

    This is the third exact-similarity strategy next to the LSH band
    join (probabilistic recall) and the naive inverted index (quadratic):
    exact answers with sub-quadratic candidates. The rarity-first order
    is also the skew killer — stopword-grade hot tokens sort to the END
    of each doc's list and fall OUT of the prefixes, so the candidate
    join never sees the posting lists that blow up the naive plan at
    100 TB. Prefix length stays integer-exact (ceil as (num*L + den - 1)
    div den); the final threshold is the same cross-multiplication the
    oracle uses."""
    tok = _simjoin_tok(spark, sf_dir)
    cand = _simjoin_candidates(tok)
    inter, sizes = _shared_counts(tok, cand, "doc_a", "doc_b")
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    union = F.col("sa.n") + F.col("sb.n") - F.col("i")
    return (inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
            .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
            .where(F.lit(_SIMJOIN_DEN) * F.col("i")
                   >= F.lit(_SIMJOIN_NUM) * union)
            .select("doc_a", "doc_b",
                    F.col("i").alias("n_shared"),
                    union.cast("bigint").alias("n_union"),
                    F.round(F.col("i").cast("double") / union, 6)
                    .alias("jaccard"))
            .orderBy("doc_a", "doc_b"))


# --- Directional containment join (quote / superset detection) --------------

# Containment threshold 3/4 as an integer fraction (4*i >= 3*n_src).
_CONT_NUM = 3
_CONT_DEN = 4

CONTAINMENT_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
), grams AS (
  SELECT doc_id, CASE WHEN len(t) >= 2
         THEN list_transform(generate_series(1, len(t) - 1),
                             i -> array_to_string(t[i:i+1], ' '))
         ELSE [array_to_string(t, ' ')] END AS gs
  FROM toks
), tok AS (
  SELECT DISTINCT doc_id, unnest(gs) AS w FROM grams
), sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS src, b.doc_id AS dst, CAST(count(*) AS BIGINT) AS i
  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT src, dst, i AS n_shared, ss.n AS n_src,
       round(CAST(i AS DOUBLE) / ss.n, 6) AS containment
FROM inter
JOIN sizes ss ON src = ss.doc_id
WHERE {_CONT_DEN} * i >= {_CONT_NUM} * ss.n
ORDER BY src, dst
"""


@register("dedup_containment_prefix", sql=CONTAINMENT_SQL, tags=("dedup",))
def dedup_containment_prefix(spark, sf_dir):
    """DIRECTIONAL near-dup: containment c(src->dst) = |src ∩ dst| /
    |src| >= 3/4 over the same bigram sets as dedup_simjoin_prefix —
    the asymmetric relation Jaccard cannot see (a quote, excerpt, or
    subset document sits INSIDE a larger one at high containment but
    low Jaccard). Candidates come from the one-sided prefix rule: if
    dst holds >= ceil(t*L_src) of src's grams, it must hold one of
    src's first L_src - ceil(t*L_src) + 1 rarity-ordered grams
    (pigeonhole), so joining src PREFIXES against dst FULL sets is a
    lossless filter — only the probe side is pruned, which is exactly
    what the asymmetry permits. Exact intersection verify with the
    integer cross-multiplication 4*i >= 3*n_src; oracle is the naive
    directed all-pairs join, outputs identical.

    Scale: src prefixes shrink the probe stream by 1/t-ish; the full-set
    side stays an inverted index as in any posting-list join, and the
    rarity order again drops stopword-grade grams from every prefix."""
    tok = _simjoin_tok(spark, sf_dir)
    prefix = _rarity_prefix(tok, _CONT_NUM, _CONT_DEN).select(
        F.col("doc_id").alias("src"), "w")
    full = tok.select(F.col("doc_id").alias("dst"), "w")
    cand = (prefix.join(full, "w")
            .where(F.col("src") != F.col("dst"))
            .select("src", "dst").distinct())
    inter, sizes = _shared_counts(tok, cand, "src", "dst")
    return (inter.join(sizes.withColumnRenamed("doc_id", "src"), "src")
            .where(F.lit(_CONT_DEN) * F.col("i")
                   >= F.lit(_CONT_NUM) * F.col("n"))
            .select("src", "dst",
                    F.col("i").alias("n_shared"),
                    F.col("n").alias("n_src"),
                    F.round(F.col("i").cast("double") / F.col("n"), 6)
                    .alias("containment"))
            .orderBy("src", "dst"))


# --- Duplicated-span EXCISION (Lee et al. 2021's actual transform) ----------

SPAN_EXCISE_SQL = f"""
WITH pos AS (
  SELECT doc_id, i AS s, substr(text, i, {CHAR_NGRAM_LEN}) AS gram
  FROM documents
  CROSS JOIN LATERAL (
    SELECT unnest(generate_series(1, length(text) - {CHAR_NGRAM_LEN} + 1))
      AS i)
  WHERE text IS NOT NULL AND length(text) >= {CHAR_NGRAM_LEN}
), counts AS (
  SELECT gram, count(DISTINCT doc_id) AS nd FROM pos GROUP BY gram
), flagged AS (
  SELECT doc_id, s FROM pos JOIN counts USING (gram) WHERE nd >= 2
), isl0 AS (
  SELECT doc_id, s,
         max(s) OVER (PARTITION BY doc_id ORDER BY s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           + {CHAR_NGRAM_LEN} - 1 AS prev_e
  FROM flagged
), isl AS (
  SELECT doc_id, s,
         sum(CASE WHEN prev_e IS NULL OR s > prev_e + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s) AS island
  FROM isl0
), merged AS (
  SELECT doc_id, island, min(s) AS s,
         max(s) + {CHAR_NGRAM_LEN} - 1 AS e
  FROM isl GROUP BY doc_id, island
), gaps AS (
  SELECT doc_id, s, e,
         coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS prev_e
  FROM merged
), rebuilt AS (
  SELECT g.doc_id,
         string_agg(substr(d.text, g.prev_e + 1, g.s - g.prev_e - 1),
                    '' ORDER BY g.s)
           || substr(d.text, max(g.e) + 1, length(d.text) - max(g.e))
           AS clean_text,
         CAST(count(*) AS BIGINT) AS n_spans
  FROM gaps g JOIN documents d USING (doc_id)
  GROUP BY g.doc_id, d.text
)
SELECT d.doc_id,
       coalesce(r.clean_text, d.text) AS clean_text,
       CAST(length(d.text) AS BIGINT) AS orig_len,
       CAST(length(d.text) - length(coalesce(r.clean_text, d.text))
            AS BIGINT) AS n_removed,
       CAST(coalesce(r.n_spans, 0) AS BIGINT) AS n_spans
FROM documents d LEFT JOIN rebuilt r USING (doc_id)
WHERE d.text IS NOT NULL
ORDER BY doc_id
"""


def span_excise(docs):
    """Core of dedup_span_excise over any (doc_id, text) DataFrame — split
    out so tests can pin excision semantics on hand-built corpora.

    A character position is DUPLICATED if any length-``CHAR_NGRAM_LEN`` gram
    covering it also occurs in at least one other document (the same
    shared-gram definition `dedup_char_ngrams` scores). Flagged gram starts
    are merged into islands (gaps-and-islands window; adjacent islands
    coalesce) and the kept text is rebuilt from the complement gaps with one
    ``aggregate()`` higher-order fold over the sorted island array — no
    per-character explode anywhere."""
    live = docs.where(F.col("text").isNotNull()
                      & (F.length("text") >= CHAR_NGRAM_LEN))
    # NOT persisted, deliberately: both consumers (shared-gram count and
    # flag join) re-run the explode, but a measured A/B at sf0.1 showed
    # identical wall time (3.4s) — the cost lives in the two gram-keyed
    # shuffles, and caching a corpus-sized gram table would spend
    # executor memory for nothing
    pos = live.select(
        "doc_id",
        F.explode(F.expr(
            f"transform(sequence(1, length(text) - {CHAR_NGRAM_LEN} + 1),"
            f" i -> struct(i AS s,"
            f" substring(text, i, {CHAR_NGRAM_LEN}) AS gram))"))
        .alias("g")).select("doc_id", "g.s", "g.gram")
    counts = (pos.select("doc_id", "gram").distinct()
              .groupBy("gram").agg(F.count(F.lit(1)).alias("nd")))
    flagged = (pos.join(counts.where(F.col("nd") >= 2).select("gram"),
                        "gram")
               .select("doc_id", "s"))

    w_prev = (Window.partitionBy("doc_id").orderBy("s")
              .rowsBetween(Window.unboundedPreceding, -1))
    w_run = (Window.partitionBy("doc_id").orderBy("s")
             .rowsBetween(Window.unboundedPreceding, 0))
    isl = (flagged
           .withColumn("prev_e", F.max("s").over(w_prev) + CHAR_NGRAM_LEN - 1)
           .withColumn("new_island",
                       F.when(F.col("prev_e").isNull()
                              | (F.col("s") > F.col("prev_e") + 1), 1)
                       .otherwise(0))
           .withColumn("island", F.sum("new_island").over(w_run)))
    merged = (isl.groupBy("doc_id", "island")
              .agg(F.min("s").alias("s"),
                   (F.max("s") + CHAR_NGRAM_LEN - 1).alias("e")))
    ivs = (merged.groupBy("doc_id")
           .agg(F.array_sort(F.collect_list(F.struct("s", "e")))
                .alias("ivs"),
                F.count(F.lit(1)).cast("bigint").alias("n_spans")))

    rebuild = F.expr(
        "aggregate(ivs,"
        " struct(CAST(0 AS INT) AS prev, CAST('' AS STRING) AS acc),"
        " (a, iv) -> struct(CAST(iv.e AS INT) AS prev,"
        "   concat(a.acc, substring(text, a.prev + 1, iv.s - a.prev - 1))"
        "   AS acc),"
        " a -> concat(a.acc,"
        "   substring(text, a.prev + 1, length(text) - a.prev)))")
    base = docs.where(F.col("text").isNotNull())
    return (base.join(ivs, "doc_id", "left")
            .select("doc_id",
                    F.when(F.col("ivs").isNull(), F.col("text"))
                    .otherwise(rebuild).alias("clean_text"),
                    F.length("text").cast("bigint").alias("orig_len"),
                    F.coalesce("n_spans", F.lit(0)).cast("bigint")
                    .alias("n_spans"))
            .withColumn("n_removed",
                        (F.col("orig_len") - F.length("clean_text"))
                        .cast("bigint"))
            .select("doc_id", "clean_text", "orig_len", "n_removed",
                    "n_spans")
            .orderBy("doc_id"))


@register("dedup_span_excise", sql=SPAN_EXCISE_SQL, tags=("dedup", "text"))
def dedup_span_excise(spark, sf_dir):
    """Duplicated-span EXCISION — the transform `dedup_char_ngrams` only
    scores: every character covered by a cross-document-shared
    ``CHAR_NGRAM_LEN``-gram is removed and the surviving text emitted (Lee
    et al. 2021, arXiv:2107.06499 — their ExactSubstr dedup deletes the
    repeated spans rather than dropping whole documents). Output per kept
    doc: the cleaned text, original length, characters removed, and the
    count of merged excised spans.

    Scale: gram emission is the same corpus-length explode as
    `dedup_char_ngrams` (two map-side-combined hash aggs for the shared
    set); flagged starts shuffle once on gram and once on doc_id; island
    merging is a per-doc window over flagged starts only (bounded by
    text length / CHAR_NGRAM_LEN per doc, not corpus size); the rebuild is one
    higher-order fold over each doc's sorted island array — never a
    per-character row. At web scale raise the gram stride exactly as the
    scorer documents; thresholds (shared-in-≥2-docs) ride the same
    gram-count table either way."""
    return span_excise(load(spark, sf_dir, "documents"))


# --- Sentence-level exact dedup with document rebuild -----------------------

SENTENCE_DEDUP_SQL = """
WITH sent AS (
  SELECT doc_id, i AS idx, s FROM (
    SELECT doc_id, unnest(string_split(text, '. ')) AS s,
           generate_subscripts(string_split(text, '. '), 1) AS i
    FROM documents WHERE text IS NOT NULL)
  WHERE s <> ''
), ranked AS (
  SELECT doc_id, idx, s,
         row_number() OVER (PARTITION BY s ORDER BY doc_id, idx) AS rn
  FROM sent
), kept AS (
  SELECT doc_id, idx, s FROM ranked WHERE rn = 1
), rebuilt AS (
  SELECT doc_id,
         string_agg(s, '. ' ORDER BY idx) AS kept_text,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
), totals AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sentences
  FROM sent GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(r.kept_text, '') AS kept_text,
       coalesce(t.n_sentences, 0) AS n_sentences,
       coalesce(r.n_kept, 0) AS n_kept
FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
LEFT JOIN totals t USING (doc_id)
LEFT JOIN rebuilt r USING (doc_id)
ORDER BY doc_id
"""


@register("dedup_sentence_exact", sql=SENTENCE_DEDUP_SQL,
          tags=("dedup", "text"))
def dedup_sentence_exact(spark, sf_dir):
    """Sentence-level exact deduplication with document REBUILD — the
    middle granularity between whole-document exact dedup and char-span
    excision: the corpus keeps exactly ONE occurrence of every distinct
    sentence (the globally first by (doc_id, position)); later
    occurrences are dropped and each document is re-assembled from its
    surviving sentences in order. The standard treatment for boilerplate
    sentences (cookie banners, license headers) that repeat verbatim
    across a web corpus.

    Scale: the first-occurrence choice is an ARGMIN aggregate
    (min(struct(doc_id, idx))) on the sentence hash — one map-side-
    combined shuffle, deliberately NOT a per-sentence window: a
    boilerplate sentence with 10^7 occurrences would make a window
    partition hot, while min() folds it partially on every executor.
    Rebuild groups by doc_id and folds the sorted survivor array —
    per-doc state only. Sentence split is the literal '. ' delimiter on
    both engines (no regex-dialect surface)."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    sent = track_persist(
        docs.select("doc_id",
                    F.posexplode(F.split("text", r"\. ", -1))
                    .alias("idx0", "s"))
        .where(F.col("s") != "")
        .select("doc_id", (F.col("idx0") + 1).alias("idx"), "s"))
    first = sent.groupBy("s").agg(
        F.min(F.struct("doc_id", "idx")).alias("f"))
    kept = (sent.join(first, "s")
            .where((F.col("doc_id") == F.col("f.doc_id"))
                   & (F.col("idx") == F.col("f.idx")))
            .select("doc_id", "idx", "s"))
    rebuilt = (kept.groupBy("doc_id")
               .agg(F.array_sort(F.collect_list(F.struct("idx", "s")))
                    .alias("ks"),
                    F.count(F.lit(1)).cast("bigint").alias("n_kept"))
               .select("doc_id",
                       F.array_join(F.expr("transform(ks, x -> x.s)"),
                                    ". ").alias("kept_text"),
                       "n_kept"))
    totals = sent.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sentences"))
    return (docs.select("doc_id")
            .join(totals, "doc_id", "left")
            .join(rebuilt, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("kept_text", F.lit("")).alias("kept_text"),
                    F.coalesce("n_sentences", F.lit(0)).cast("bigint")
                    .alias("n_sentences"),
                    F.coalesce("n_kept", F.lit(0)).cast("bigint")
                    .alias("n_kept"))
            .orderBy("doc_id"))


def _cross_source_oracle_sql() -> str:
    """DuckDB twin of the provenance-matrix query: the full MinHash-LSH
    pair pipeline joined back to each side's ``source`` and rolled up per
    unordered source pair."""
    return lsh_cand_sql(f""", pairs AS (
  SELECT doc_a, doc_b FROM cand
  JOIN sig sa ON doc_a = sa.doc_id
  JOIN sig sb ON doc_b = sb.doc_id
  WHERE {est_jaccard_sql()} >= {THRESHOLD}
)
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(least(da.source, db.source) = greatest(da.source, db.source)
            AS BIGINT) AS within_source
FROM pairs
JOIN documents da ON doc_a = da.doc_id
JOIN documents db ON doc_b = db.doc_id
GROUP BY 1, 2
ORDER BY source_a, source_b
""")


@register("dedup_cross_source_pairs", sql=_cross_source_oracle_sql(),
          tags=("dedup", "pipeline"))
def dedup_cross_source_pairs(spark, sf_dir):
    """Provenance matrix of near-dup mass: the `dedup_minhash_lsh` pair
    set (est_jaccard >= 0.5) rolled up per unordered SOURCE pair — the
    table that drives provenance-aware dedup policy. Within-source pairs
    are usually true re-crawls (drop all but one); cross-source pairs
    can be syndicated content where policy may keep one per source or
    prefer the higher-quality origin. `source_overlap` gives the same
    matrix for exact boilerplate prefixes; this is its NEAR-dup
    generalization.

    Scale: everything up to the pair set is the banded-LSH path (no
    all-pairs); the source join-back touches only surviving pairs and
    the rollup is bounded by sources². The doc→source map would be a
    broadcast dimension at any corpus size where sources matter."""
    docs = load(spark, sf_dir, "documents")
    mins = track_persist(minhash_signatures(docs))
    # NOT persisted (measured A/B): both self-join sides re-derive the
    # band explode from the CACHED signatures — a cheap projection —
    # while persisting materializes the exploded (n_bands× rows) frame
    # behind a cache-fill barrier. Min-of-10 A/B: persist +25% min
    # (1.534 → 1.921 s at sf0.1, median +54%), same verdict as
    # dedup_minhash_lsh's identical pattern. Recompute wins.
    pairs = scored_pairs(
        band_pairs(band_buckets(mins, N_HASHES, N_BANDS)), mins)
    da = docs.select(F.col("doc_id").alias("doc_a"),
                     F.col("source").alias("sa"))
    db = docs.select(F.col("doc_id").alias("doc_b"),
                     F.col("source").alias("sb"))
    return (pairs.join(da, "doc_a").join(db, "doc_b")
            .groupBy(F.least("sa", "sb").alias("source_a"),
                     F.greatest("sa", "sb").alias("source_b"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
            .select("source_a", "source_b", "n_pairs",
                    (F.col("source_a") == F.col("source_b")).cast("long")
                    .alias("within_source"))
            .orderBy("source_a", "source_b"))


# --- Bucketed band-index probe (the 100 TB layout for the incremental
# near-dup, materialized instead of promised) --------------------------------


@register("dedup_minhash_bucketed_probe", sql=probe_minhash_oracle_sql(),
          tags=("dedup", "layout", "pipeline"))
def dedup_minhash_bucketed_probe(spark, sf_dir):
    """The incremental near-dup's band-index probe routed through an
    ACTUAL bucketed layout (sources/bucketing.py) — materializing the
    claim in `dedup_incremental_minhash`'s docstring instead of
    promising it: the corpus band index and the batch's bands are both
    written bucketed+sorted on a single band key `bkey`
    (band_id ':' band-hash), and the new-vs-old probe is a co-located
    SortMergeJoin with NO Exchange on either side (pinned in
    tests/test_plan_shape.py — no `Exchange hashpartitioning(bkey`
    anywhere in the plan). Output = new-vs-old candidate pairs with
    signature-agreement est_jaccard >= 0.5, exactly the vs_corpus=1
    slice of the incremental query.

    Exact-hash oracle: the full-corpus LSH twin restricted to pairs
    with exactly one side in the batch — the same set, since band
    structure is shared and the probe generates every banded new-old
    collision.

    Scale: at 100 TB the index table is written ONCE (bucketed on
    bkey), each nightly batch writes only ITS bands bucketed the same
    way (batch-sized shuffle), and the probe join reads co-located
    buckets — corpus-side shuffle is ZERO per batch, which is the
    entire point of paying the bucketed layout up front. Appending the
    batch's bands into the index afterward keeps the layout for the
    next batch."""
    import os
    import tempfile

    from spark_sentiment_spark.plans.registry import (track_staging_dir,
                                                      track_temp_table)
    from spark_sentiment_spark.sources.bucketing import save_bucketed

    nb = 8
    sig, sig_new, sig_old = _batch_signatures(spark, sf_dir)

    def keyed(bands, id_alias):
        return bands.select(
            F.concat_ws(":", F.col("band_id"), F.col("bh")).alias("bkey"),
            F.col("doc_id").alias(id_alias))

    base = track_staging_dir(tempfile.mkdtemp(prefix="mh_probe_"))
    suffix = os.path.basename(base)
    t_idx = track_temp_table(spark, f"mh_band_index_{suffix}")
    t_bat = track_temp_table(spark, f"mh_band_batch_{suffix}")
    save_bucketed(keyed(band_buckets(sig_old, N_HASHES, N_BANDS), "old_id")
                  .repartition(nb, F.col("bkey")),
                  t_idx, ["bkey"], nb, ["bkey"], base + "/index")
    save_bucketed(keyed(band_buckets(sig_new, N_HASHES, N_BANDS), "new_id")
                  .repartition(nb, F.col("bkey")),
                  t_bat, ["bkey"], nb, ["bkey"], base + "/batch")

    cand = (spark.table(t_bat).hint("merge")
            .join(spark.table(t_idx), "bkey")
            .select(F.least("new_id", "old_id").alias("doc_a"),
                    F.greatest("new_id", "old_id").alias("doc_b"))
            .distinct())
    # the fused cache IS new ∪ old
    return scored_pairs(cand, sig).orderBy("doc_a", "doc_b")
