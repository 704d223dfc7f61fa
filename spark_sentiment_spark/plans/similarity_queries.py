"""Similarity search over the ``embeddings`` table (array<float>, dim 64).

Brute-force cosine top-k is the exactness baseline (and DuckDB-checkable);
the LSH-bucketed variant is the sublinear scale path. Dot products run as
native ``aggregate``/``zip_with`` Column expressions — JVM-side, no Python.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas-UDF type hints resolve from here

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_sentiment_spark.operators.vectors import (ANN_IVF_SQL,
                                                     ANN_IVFPQ_SQL,
                                                     ANN_PQ_SQL, ANN_TOPK,
                                                     IVF_ASSIGN,
                                                     IVF_K, IVF_PROBE,
                                                     IVF_TOPK, IVFPQ_RERANK,
                                                     PQ_RERANK,
                                                     as_double, dot,
                                                     ivf_centroids,
                                                     ivf_ranked,
                                                     ivfpq_probe, ivfpq_sql,
                                                     ivfpq_stage_index, norm,
                                                     pq_adc_tables,
                                                     pq_adc_topk, pq_encoder,
                                                     pq_seed_codebooks,
                                                     row_count, unit_vector,
                                                     unit_vector_frame)
from spark_sentiment_spark.plans.registry import (load, register,
                                                  track_persist)


KNN_SQL = """
WITH q AS (
  SELECT vec_id AS qid, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 5
),
c AS (SELECT vec_id, label, embedding::DOUBLE[] AS ce FROM embeddings),
scored AS (
  SELECT q.qid, c.vec_id, c.label,
         list_dot_product(q.qe, c.ce)
           / (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(c.ce, c.ce)))
           AS cos
  FROM q CROSS JOIN c
  WHERE q.qid <> c.vec_id
),
ranked AS (
  SELECT qid, vec_id, label, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
  FROM scored
)
SELECT qid, vec_id, CAST(label AS BIGINT) AS label, round(cos, 6) AS cosine,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10
ORDER BY qid, rn
"""


@register("knn_cosine_topk", sql=KNN_SQL, tags=("similarity",))
def knn_cosine_topk(spark, sf_dir):
    """Exact cosine top-10 for 5 query vectors — broadcast the queries,
    stream the corpus once, per-query top-k via window."""
    emb = load(spark, sf_dir, "embeddings")
    q = (emb.where(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("qid"),
                 as_double("embedding").alias("qe")))
    c = emb.select("vec_id", "label", as_double("embedding").alias("ce"))
    cos = dot(F.col("qe"), F.col("ce")) / (norm(F.col("qe")) * norm(F.col("ce")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id", F.col("label").cast("long").alias("label"),
                cos.alias("cos"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 10)
        .select("qid", "vec_id", "label",
                F.round("cos", 6).alias("cosine"), "rn")
        .orderBy("qid", "rn")
    )


CENTROID_SQL = """
WITH c AS (SELECT label, embedding::DOUBLE[] AS e FROM embeddings),
per_dim AS (
  SELECT label, i, avg(e[i]) AS v
  FROM c, generate_series(1, 64) AS t(i)
  GROUP BY label, i
)
SELECT CAST(label AS BIGINT) AS label,
       round(sum(v * v), 6) AS centroid_sqnorm,
       CAST(count(*) AS BIGINT) AS dim
FROM per_dim
GROUP BY label
ORDER BY label
"""


@register("embedding_centroids", sql=CENTROID_SQL, tags=("similarity",))
def embedding_centroids(spark, sf_dir):
    """Per-label centroid squared-norm — element-wise aggregate over array
    columns via posexplode (the building block of IVF coarse quantization)."""
    emb = load(spark, sf_dir, "embeddings")
    per_dim = (
        emb.select("label", F.posexplode(as_double("embedding"))
                   .alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.avg("x").alias("v"))
    )
    return (
        per_dim.groupBy(F.col("label").cast("long").alias("label"))
        .agg(
            F.round(F.sum(F.col("v") * F.col("v")), 6).alias("centroid_sqnorm"),
            F.count(F.lit(1)).alias("dim"),
        )
        .orderBy("label")
    )


def _ivf_candidates(spark, sf_dir, n_queries, *query_cols):
    """IVF probe candidates: each query vector (vec_id < n_queries, with
    ``query_cols``) as (qid, qu, cell) joined to the members (vec_id,
    label, u) multi-assigned to its IVF_PROBE nearest cells, itself
    excluded. The per-vector cell ranking is persisted: assignment and
    routing both read it."""
    emb = load(spark, sf_dir, "embeddings")
    vecs = unit_vector_frame(emb, "u", "label")
    cent = ivf_centroids(vecs)
    scored = track_persist(ivf_ranked(vecs, cent))  # n_cells rows per vector
    assigned = scored.where(F.col("rn") <= IVF_ASSIGN) \
        .select("vec_id", "label", "u", "cell")
    qprobes = (scored.where((F.col("vec_id") < n_queries)
                            & (F.col("rn") <= IVF_PROBE))
               .select(F.col("vec_id").alias("qid"), *query_cols,
                       F.col("u").alias("qu"), "cell"))
    return (assigned.join(F.broadcast(qprobes), "cell")
            .where(F.col("vec_id") != F.col("qid")))


@register("ann_ivf_topk", sql=ANN_IVF_SQL, tags=("similarity",))
def ann_ivf_topk(spark, sf_dir):
    """Multi-assignment IVF (inverted-file) ANN: a coarse quantizer
    partitions the corpus into 16 cells; every vector is INDEXED in its
    2 nearest cells (multi-assignment), each query probes its 3 nearest
    cells, and exact-cosine re-rank touches only the probed candidates —
    a bounded 6/16 expected scan fraction instead of the corpus.

    The coarse layer is content-addressed seed centroids (the 16 vectors
    with smallest md5(vec_id) — sampled-centroid IVF with 0 Lloyd
    iterations, as in `dedup_semantic`): cell assignment, probe routing,
    and re-rank are pure arithmetic any engine reproduces, so the DuckDB
    oracle is exact. Query routing reuses the SAME per-vector cell
    ranking as indexing (rn<=2 = home cells, rn<=3 = query probes), so
    routing stays inside the plan (`_ivf_candidates`). Sampled centroids
    recall less per probe than Lloyd-trained ones, so the assignment side is
    probed too (deterministic recall@10 = 0.56 vs brute on the fixture,
    floor 0.5 pinned by tests/test_similarity_recall.py — exact
    reproducibility means that number cannot drift).

    Scale: assignment is one broadcast-k cross join (linear in n);
    candidates are bounded by assign_probe × query_probe × mean cell
    occupancy; the top-k window partitions on qid. cent/qprobes
    broadcasts are genuinely bounded (k rows / queries×probe rows) —
    unlike vocab-sized tables these stay hint-safe at any corpus
    size."""
    cand = _ivf_candidates(spark, sf_dir, 5)
    cos = F.round(dot(F.col("qu"), F.col("u")), 6)
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        cand.select("qid", "vec_id",
                    F.col("label").cast("long").alias("label"),
                    cos.alias("cos"))
        .distinct()
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= IVF_TOPK)
        .select("qid", "vec_id", "label", F.col("cos").alias("cosine"),
                "rn")
        .orderBy("qid", "rn")
    )


EMB_DEDUP_SQL = """
WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.e, b.e)
             / (sqrt(list_dot_product(a.e, a.e))
                * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
FROM c a JOIN c b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.e, b.e)
      / (sqrt(list_dot_product(a.e, a.e))
         * sqrt(list_dot_product(b.e, b.e))) >= 0.4
ORDER BY vec_a, vec_b
"""


@register("dedup_embedding_cosine", sql=EMB_DEDUP_SQL,
          tags=("dedup", "similarity"))
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs (threshold 0.4 — the tail of this
    corpus's similarity distribution), exact all-pairs formulation as the
    small-SF oracle; the LSH-bucketed query below is the same operator's
    100 TB path. Norms are computed once per side before the join so the
    pair loop is one dot product, not three."""
    emb = load(spark, sf_dir, "embeddings")
    # both pair-join sides consumed
    # the normalize projection — persist the (vec_id, unit-vector) frame
    # so the per-vector norm+divide runs once, not once per side.
    sides = unit_vector_frame(emb, "u")  # one row per vector
    a, b = sides.alias("a"), sides.alias("b")
    cos = dot(F.col("a.u"), F.col("b.u"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .where(cos >= 0.4)
        .select(F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
                F.round(cos, 6).alias("cosine"))
        .orderBy("vec_a", "vec_b")
    )


#: LSH amplification defaults. With random-hyperplane hashing the bit-match
#: probability is p = 1 - θ/π, a P-plane table catches a pair w.p. p^P and
#: T OR-ed tables w.p. 1-(1-p^P)^T. The synthetic corpus' top pairs sit at
#: cosine ≈0.36-0.48 (p≈0.63) — the hardest regime for LSH — where 12×6
#: measures recall@200 ≈ 0.54 vs brute force (pinned in
#: tests/test_similarity_recall.py); at the cosine ≥0.8 similarities real
#: near-dup workloads target, the same config exceeds 0.99. Scale rule: keep
#: tables fixed, grow planes ≈ log2(n/bucket_target) so per-bucket occupancy
#: (and the in-bucket join) stays bounded as the corpus grows.
ANN_LSH_TABLES = 12
ANN_LSH_PLANES = 6
ANN_LSH_DIM = 64

# Exact twin: hyperplane entries are md5-derived dyadic
# rationals — w(j, d) = int(md5("j:d")[:6], 16) / 2^24 - 0.5 — so BOTH
# engines build bit-identical planes without an RNG or libm, the same
# engine-independence trick that oracled minhash/simhash. Uniform-cube
# directions replace Gaussian ones (measured recall@200 on the fixture:
# 0.515 vs 0.535 — above the 0.45 floor; SimHash ships ±1 entries, so
# the family tolerates non-spherical directions). Sign(dot) parity
# across engines holds because a flip needs |dot| within last-ulp of 0
# (~1e-15 against typical |dot| ≈ 0.3). The plane count is NOT a
# literal (the same prm treatment as _MP_CANDIDATE_CTE): the prm CTE
# computes the SAME adaptive rule the Spark
# plan uses — P = max(ANN_LSH_PLANES, ceil(log2(n/16))) — from the
# table's own row count, so plan and oracle agree at EVERY sf. The old
# P=6 literal was valid only for n <= 16·2^6 = 1024 and silently
# diverged at sf0.1's 2000 embeddings (P=7 in the plan vs 6 in the
# twin — different buckets, different candidates). The ceil boundary is
# engine-safe
# because it lands only on exact powers of two, where double log2 is
# exact in both engines.
ANN_LSH_SQL = f"""
WITH prm AS (
  SELECT GREATEST({ANN_LSH_PLANES},
                  CAST(ceil(log2(GREATEST(count(*), 1) / 16.0)) AS INTEGER))
           AS np
  FROM embeddings
), e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), pw AS (
  SELECT j // {ANN_LSH_DIM} AS jp,
         j % {ANN_LSH_DIM} AS d,
         ('0x' || substr(md5((j // {ANN_LSH_DIM}) || ':'
                             || (j % {ANN_LSH_DIM})), 1, 6))::INTEGER
           / 16777216.0 - 0.5 AS w
  FROM (SELECT unnest(generate_series(
          0, (SELECT {ANN_LSH_TABLES} * np * {ANN_LSH_DIM} FROM prm)
             - 1)) AS j)
), planes AS (
  SELECT jp, list(w ORDER BY d) AS pvec FROM pw GROUP BY jp
), dots AS (
  SELECT e.vec_id, planes.jp,
         list_dot_product(e.v, planes.pvec) AS dp
  FROM e CROSS JOIN planes
), buckets AS (
  SELECT vec_id, jp // (SELECT np FROM prm) AS t,
         sum(CASE WHEN dp > 0
             THEN 1 << ((SELECT np FROM prm) - 1
                        - (jp % (SELECT np FROM prm)))
             ELSE 0 END) AS bucket
  FROM dots GROUP BY vec_id, jp // (SELECT np FROM prm)
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM buckets a JOIN buckets b
    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
), un AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
  FROM e
)
SELECT c.vec_a, c.vec_b,
       round(list_dot_product(ua.u, ub.u), 6) AS cosine
FROM cand c
JOIN un ua ON c.vec_a = ua.vec_id
JOIN un ub ON c.vec_b = ub.vec_id
ORDER BY cosine DESC, vec_a, vec_b
LIMIT 200
"""


def _adaptive_planes(spark, sf_dir, floor: int) -> int:
    """Hyperplanes per LSH table, max(floor, ceil(log2(n / 16))): bucket
    occupancy, and so the in-bucket join, stays bounded as the corpus
    grows. n is counted on the raw parquet scan (row-group counts,
    memoized per path), not on the normalized frame, whose repartition
    would be paid just to size an integer."""
    import math

    n = row_count(spark, f"{sf_dir}/embeddings.parquet")
    return max(floor, math.ceil(math.log2(max(n, 1) / 16 or 1)))


def _hyperplanes(seed: str, dim: int, n_tables: int, n_planes: int):
    """(planes_t, radix): the dim × (T·P) md5-derived dyadic hyperplanes
    of md5(f"{seed}{j}:{d}") that the SQL twins rebuild, and the per-table
    bit weights that pack P sign bits into a bucket id."""
    import hashlib

    import numpy as np

    planes_t = np.array(
        [[int(hashlib.md5(f"{seed}{j}:{d}".encode()).hexdigest()[:6], 16)
          / 16777216.0 - 0.5
          for d in range(dim)]
         for j in range(n_tables * n_planes)],
        dtype=np.float64).T                      # dim × (T·P)
    radix = (1 << np.arange(n_planes - 1, -1, -1)).astype(np.int64)
    return planes_t, radix


@register("ann_lsh_topk", sql=ANN_LSH_SQL, bench=True, tags=("similarity",))
def ann_lsh_topk(spark, sf_dir):
    """Approximate NN via multi-table random-hyperplane LSH, fully native:
    T = ANN_LSH_TABLES independent P-plane tables (P adaptive, at least
    ANN_LSH_PLANES) → T bucket ids per vector → candidate
    pairs share any table's bucket (posexplode + bucket-local self-join,
    no all-pairs) → exact cosine re-rank of the deduped candidates →
    global top-200 pairs. Brute force (`dedup_embedding_cosine` /
    `knn_cosine_topk`) stays as the recall oracle; the hyperplanes are
    md5-derived dyadic rationals (see ANN_LSH_SQL note), so the DuckDB
    twin reproduces buckets, candidates, and the re-ranked top-200
    exactly."""
    emb = load(spark, sf_dir, "embeddings")
    n_planes = _adaptive_planes(spark, sf_dir, ANN_LSH_PLANES)

    e = as_double("embedding")
    # The T×P signature is one Arrow-batched matmul per partition:
    # (batch × dim) @ (dim × T·P) → sign bits → per-table radix pack.
    # This is the documented exception to the no-Python-hot-path rule:
    # T·P=72 dot products per row as native higher-order expressions
    # measured ~2s per run on 500 rows (boxed per-element lambda eval,
    # with or without codegen), while the BLAS-backed batch matmul is
    # sub-millisecond and scales per Arrow batch on executors.
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    planes_t, radix = _hyperplanes("", ANN_LSH_DIM, ANN_LSH_TABLES, n_planes)

    @pandas_udf("array<long>")
    def _buckets(embs: pd.Series) -> pd.Series:
        V = np.asarray(embs.tolist(), dtype=np.float64)      # batch × dim
        bits = (V @ planes_t) > 0                            # batch × T·P
        per_table = bits.reshape(len(V), ANN_LSH_TABLES, n_planes) @ radix
        return pd.Series(per_table.tolist())

    buckets = _buckets(e)

    # One narrow row per vector per table: (vec_id, table, bucket). The
    # embedding itself is NOT carried through the explode (T× duplication);
    # the re-rank joins it back from the persisted one-row-per-vector side.
    # sigs is persisted: both sides of the bucket self-join read the cached
    # signatures instead of re-evaluating the T×P dot products.
    sigs = track_persist(emb.select(
        "vec_id", F.posexplode(buckets).alias("t", "bucket")))
    # Vectors are L2-normalized ONCE here (2 norm passes per candidate
    # pair → 1 per vector): the re-rank cosine is then a bare dot product.
    vecs = unit_vector_frame(emb, "e")

    a, b = sigs.alias("a"), sigs.alias("b")
    cand = (
        a.join(b, (F.col("a.t") == F.col("b.t"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"))
        .distinct()  # a close pair collides in several tables
    )
    va, vb = vecs.alias("va"), vecs.alias("vb")
    # Native, not an Arrow-batched cosine: the pair re-rank moves 2x64
    # doubles per pair through the Arrow boundary, which measured no
    # faster at dim=64 (serialization-bound, unlike the signature matmul).
    cos = dot(F.col("va.e"), F.col("vb.e"))
    pairs = (
        cand.join(va, F.col("vec_a") == F.col("va.vec_id"))
        .join(vb, F.col("vec_b") == F.col("vb.vec_id"))
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cosine"))
    )
    return pairs.orderBy(F.desc("cosine"), "vec_a", "vec_b").limit(200)


# --- int8 scalar quantization (embedding storage compression) ---------------

QUANTIZE_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
scaled AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) AS mx
  FROM e
),
deq AS (
  SELECT vec_id, v, mx,
         list_transform(v, x -> round(x * 127.0 / mx) * mx / 127.0) AS d
  FROM scaled
)
SELECT vec_id,
       round(mx, 6) AS scale,
       round(1 - list_dot_product(v, d)
                 / (sqrt(list_dot_product(v, v))
                    * sqrt(list_dot_product(d, d))), 9) AS cos_err
FROM deq
ORDER BY vec_id
"""


@register("embedding_quantize", sql=QUANTIZE_SQL, tags=("similarity",))
def embedding_quantize(spark, sf_dir):
    """Symmetric per-vector int8 scalar quantization — the 4× storage
    compression step of a 100 TB embedding store. Reports per-vector scale
    and the cosine reconstruction error, all native higher-order
    expressions (one pass, no shuffle, no Python); the quantized KNN
    recall floor is pinned in tests/test_similarity_recall.py."""
    emb = load(spark, sf_dir, "embeddings")
    v = as_double("embedding")
    mx = F.array_max(F.transform(v, F.abs))
    deq = F.transform(v, lambda x: F.round(x * 127.0 / mx) * mx / 127.0)
    e = emb.select("vec_id", v.alias("v"), mx.alias("mx"), deq.alias("d"))
    cos = dot(F.col("v"), F.col("d")) / (
        norm(F.col("v")) * norm(F.col("d")))
    return (
        e.select("vec_id", F.round("mx", 6).alias("scale"),
                 F.round(1 - cos, 9).alias("cos_err"))
        .orderBy("vec_id")
    )


@register("ann_pq_topk", sql=ANN_PQ_SQL, tags=("similarity",))
def ann_pq_topk(spark, sf_dir):
    """Product-quantization ANN (the IVF-PQ memory-compression path):

    1. L2-normalize; codebooks are CONTENT-ADDRESSED: per subspace m,
       the 16 codewords are the m-th sub-vectors of the 16 corpus
       vectors with smallest md5(vec_id) (sampled codebooks, 0 Lloyd
       iterations), as in `dedup_semantic` and `ann_ivf_topk`. Encoding,
       ADC scoring, and re-rank are pure arithmetic any engine
       reproduces, so the DuckDB oracle is exact.
    2. Encode every vector to M 4-bit codes via one Arrow-batched argmin
       per partition. The per-code distance accumulates over subspace
       dims SEQUENTIALLY (a dim-loop of vectorized +=, not np.sum, whose
       pairwise blocking would diverge from DuckDB's left-to-right
       list_dot_product fold in the last ulp).
    3. Score queries by asymmetric distance (ADC): each query precomputes
       an M×K inner-product table (tiny, broadcast) — held as FIXED-POINT
       INTEGERS (floor(ip·1e6)): candidate ADC scores are then integer
       sums, immune to aggregation order on both engines. Corpus cost is
       M table lookups per vector — never touching the original floats.
    4. Exact re-rank of the ADC top-``PQ_RERANK`` from the uncompressed
       vectors; emit top-``ANN_TOPK``. Sampled codebooks quantize worse
       than Lloyd-trained ones, so the re-rank depth is 200:
       measured recall@10 vs brute force is a DETERMINISTIC 0.86 (0.64
       at 100) on the near-uniform-similarity fixture (PQ's hardest
       regime), pinned >= 0.7 in tests/test_similarity_recall.py —
       content-addressed reproducibility means the number cannot
       drift.

    Scale: codebook fetch is a 16-row TakeOrdered (bounded control
    plane); encode is Arrow-batched and embarrassingly parallel; the ADC
    scan is linear with a per-qid top-``PQ_RERANK`` window; re-rank
    touches PQ_RERANK×queries rows."""
    emb = load(spark, sf_dir, "embeddings")
    vecs = unit_vector_frame(emb, "e")
    n_codes, _, codebooks = pq_seed_codebooks(vecs)
    if n_codes == 0:
        # empty corpus: no quantizer exists — empty result, stable schema
        # (tests/test_empty_tables.py).
        return spark.createDataFrame([], _TOPK_COLS)
    encode = pq_encoder(codebooks, n_codes)
    encoded = track_persist(
        vecs.select("vec_id", encode("e").alias("codes")))  # row per vector
    queries = vecs.where(F.col("vec_id") < 5) \
        .select(F.col("vec_id").alias("qid"), F.col("e").alias("qe")).collect()
    probes = pq_adc_tables(spark, queries, codebooks, n_codes)
    return pq_adc_topk(encoded, probes, vecs, n_codes, PQ_RERANK)


# --- Composed IVF+PQ persisted index (the FAISS-IVFPQ production shape) -----

# The compaction oracle: the probe result verbatim (compaction moves
# bytes, never rows) PLUS the layout's part-file counts computed by the
# same rule the writer follows — an adaptive rule over the data, never
# static literals, so they hold at every SF. Each append batch
# (vec_id % N_COMPACT_BATCHES) hash-clusters on cell before the
# partitionBy-cell write, so a cell directory gains exactly ONE file per
# batch that contains >=1 row assigned to it: files_before = distinct
# (batch, cell) pairs over the assignment table; the compact pass
# rewrites each cell to one file: files_after = distinct cells.
N_COMPACT_BATCHES = 4

ANN_IVFPQ_COMPACT_SQL = ivfpq_sql(extra_cols=f""",
       (SELECT count(*) FROM (
          SELECT DISTINCT vec_id % {N_COMPACT_BATCHES} AS b, cell
          FROM assigned) fb) AS files_before,
       (SELECT count(DISTINCT cell) FROM assigned) AS files_after""")


#: Output schema of the top-k probes, for their empty-corpus result.
_TOPK_COLS = "qid long, vec_id long, cosine double, rn long"


def _ivfpq_index(spark, sf_dir, **stage_kw):
    """(vecs, base, n_codes): the unit-normalized embeddings (vec_id, e)
    and the composed IVFPQ index `ivfpq_stage_index` stages over them;
    n_codes == 0 marks an empty corpus."""
    vecs = unit_vector_frame(load(spark, sf_dir, "embeddings"), "e")
    return (vecs, *ivfpq_stage_index(spark, vecs, **stage_kw))


def _tombstones(vecs):
    """The deterministic delete set (vec_id % TOMB_MOD == TOMB_RES)."""
    return (vecs.where((F.col("vec_id") % TOMB_MOD) == TOMB_RES)
            .select("vec_id"))


@register("ann_ivfpq_persisted_probe", sql=ANN_IVFPQ_SQL,
          tags=("similarity", "layout", "pipeline"))
def ann_ivfpq_persisted_probe(spark, sf_dir):
    """The COMPOSED persisted vector index — per-cell PQ codes under the
    bucketed IVF cell layout, the FAISS-IVFPQ production shape (Jégou
    et al., "Product Quantization for Nearest Neighbor Search", §V): a
    flat PQ index is a full linear ADC scan, and this probe reads ONLY
    the visited cells' compressed codes instead of every vector's.

    Index build (phase 1, written once): one corpus pass assigns every
    vector to its IVF_ASSIGN=2 nearest coarse cells AND encodes it to M
    4-bit PQ codes — both layers seeded from the same content-addressed
    16 md5-smallest vectors, so any engine replays them — then stages
    the code table PARTITIONED BY cell plus the centroid and codebook
    artifacts (a probe never touches the corpus).

    Probe (phase 2, the recurring cost): query routing ranks the batch
    against the PERSISTED centroids (a 16-row bounded read, same
    F.round(·,6) ranking as `ann_ivf_topk`); the visited-cell list
    becomes a PARTITION FILTER on the code table — the scan's directory
    pruning skips unvisited cells entirely (pinned in
    tests/test_plan_shape.py), which is the whole point of the
    composition: expected I/O is probe/K of the (already 32×-compressed)
    codes. Candidates join the probe-cell list, dedupe the
    multi-assignment overlap, ADC-score via the same `pq_adc_topk`
    integer tables as `ann_pq_topk`, and exact-re-rank the top
    ``IVFPQ_RERANK`` against the embedding store. Zero Python nodes in the
    probe plan (the Arrow encode lives in the build phase).

    Exact oracle: ANN_IVF_SQL's coarse CTE chain composed with
    pq_sql's fine chain — candidates restricted to probed cells before
    ADC. rerank=50 (vs `ann_pq_topk`'s 200) keeps the ADC cut ACTIVE
    on the test fixtures (a probed-cell candidate set is ~6/16 of the
    corpus, so 200 would cover it entirely and reduce the query to pure
    IVF).

    Scale: the one corpus-sized build (assignment cross-join with a
    broadcast 16-row centroid table + Arrow encode + one shuffle into
    the cell layout) is amortized across every future batch; each batch
    then reads probe/K of the code partitions, broadcasts
    queries×(M·K) integer tables + the ≤ queries×IVF_PROBE cell pairs,
    and shuffles only the candidate set (bounded by cell occupancy ×
    probes, never the corpus). Appending newly indexed vectors into
    their cells' partitions keeps the layout valid for the next batch —
    the same append contract as the IVF cell index and the MinHash band
    index."""
    # ---- phase 1: build + persist the composed index (ONCE) ------------
    vecs, base, n_codes = _ivfpq_index(spark, sf_dir)
    if n_codes == 0:
        return spark.createDataFrame([], _TOPK_COLS)

    # ---- phase 2: per-batch probe ---------------------------------------
    return ivfpq_probe(spark, vecs, base, n_codes, IVFPQ_RERANK)


# Deterministic delete set for the tombstone demo: every 7th vector by
# id, residue 6 so the 5 query vectors (vec_id < 5) are never deleted —
# queries come from the probe batch, not the index, so deleting one
# would only change which qids appear, muddying the demo.
TOMB_MOD, TOMB_RES = 7, 6

ANN_IVFPQ_TOMBSTONE_SQL = ivfpq_sql(
    cand_pred=f"\n    AND a.vec_id % {TOMB_MOD} <> {TOMB_RES}")


@register("ann_ivfpq_tombstone_probe", sql=ANN_IVFPQ_TOMBSTONE_SQL,
          tags=("similarity", "layout", "pipeline"))
def ann_ivfpq_tombstone_probe(spark, sf_dir):
    """DELETES for the composed IVFPQ index — the lifecycle leg after
    build → append → compact: takedowns (rights removal, dedup purges,
    contamination pulls) must leave the index without a rebuild, and a
    training-data pipeline needs that to be auditable. Two standard
    phases, both demonstrated:

    * LOGICAL tombstones (this query): the delete set — vectors with
      vec_id % 7 == 6, a deterministic ~14% of the corpus — is applied
      at PROBE time as a broadcast LEFT ANTI join on the pruned code
      scan (the deletion-vector pattern Delta/Iceberg use): the
      quantizer artifacts and the cell-partitioned code table stay
      byte-untouched, a deleted vector simply stops being a candidate.
      The rest of the probe is the unmodified `ivfpq_probe` chain —
      routing from persisted centroids, directory-pruned code scan,
      integer-ADC, exact re-rank.
    * PHYSICAL purge (pinned in tests/test_ivfpq_index.py): the
      code table anti-join-rewritten without the deleted rows, same
      partitionBy-cell layout, same quantizers — and the probe over the
      purged layout is row-identical to the tombstone probe, which is
      the purge contract (rewrite when tombstones accumulate, probe
      results never change).

    The quantizers are deliberately NOT retrained on the surviving
    corpus: content-addressed seeds over the full corpus keep every
    engine replaying the same cells/codebook, and retraining on every
    takedown is exactly what a production index avoids (FAISS
    remove_ids keeps the trained quantizer too). Oracle: the composed
    IVFPQ SQL with the delete predicate on the candidate CTE — the only
    place a tombstone can act, since deleted vectors still contributed
    to neither queries (vec_id < 5 are never deleted by construction)
    nor the frozen quantizers.

    Scale: the delete set is takedown-sized (thousands), broadcast to
    the probe's pruned scan — zero shuffle of the code table; the purge
    is one linear anti-join pass over the compressed codes, per-cell
    independent like compaction. No Python anywhere."""
    vecs, base, n_codes = _ivfpq_index(spark, sf_dir)
    if n_codes == 0:
        return spark.createDataFrame([], _TOPK_COLS)
    return ivfpq_probe(spark, vecs, base, n_codes, IVFPQ_RERANK,
                       tombstones=_tombstones(vecs))


def _count_cell_parts(codes_dir: str) -> int:
    """Part files across the cell=*/ directories of a partitioned code
    table — driver-side listing of the staging dir (control-plane
    metadata, same as io_compact_small_files' counter)."""
    import glob

    return len(glob.glob(f"{codes_dir}/cell=*/*.parquet"))


@register("ann_ivfpq_compacted_probe", sql=ANN_IVFPQ_COMPACT_SQL,
          tags=("similarity", "layout", "pipeline"))
def ann_ivfpq_compacted_probe(spark, sf_dir):
    """Index MAINTENANCE for the composed IVFPQ layout — the pass that
    completes the artifact lifecycle build → append → COMPACT → probe.
    The append contract (pinned in tests/test_ivfpq_index.py) lets newly
    indexed vectors land in their cells' partitions batch after batch,
    but every micro-batch leaves one more small file per touched cell —
    the classic lake-layout failure mode: at 100 TB a hot cell
    accumulates thousands of KB-scale files and every probe pays
    per-file open/footer costs plus driver listing time
    (io_compact_small_files documents the same economics for fact
    tables). The fix is the same nightly treatment: rewrite each cell's
    fragments to right-sized files WITHOUT changing the partitionBy-cell
    layout, so directory-level pruning — the whole point of the
    composed index — keeps working on the compacted table (pinned in
    tests/test_plan_shape.py).

    Demonstrated end-to-end: the index is built with its code table
    written as N_COMPACT_BATCHES=4 successive partitionBy-cell appends
    (slice b = vec_id % 4, each hash-clustered on cell, so a cell dir
    gains exactly one file per batch touching it); the compact pass
    reads the fragmented table, re-clusters on cell (one round-robin
    exchange — the exchange IS the rewrite), and rewrites one file per
    cell; the probe then runs against the COMPACTED layout. Compaction
    moves bytes, never rows, so the oracle is the composed IVFPQ probe
    SQL verbatim plus the two file counts — computed by the writer's
    own rule (distinct (batch, cell) pairs before; distinct cells
    after) from the oracle's assignment CTE, never static literals
    (they must follow the data at every SF), and cross-checked against the
    ACTUAL directory listings on the Spark side, so a writer producing
    any other fragmentation hash-mismatches. Production picks files per
    cell as ceil(cell_bytes / target_file_size); the demo's corpus
    makes that 1, same pinning rationale as io_compact_small_files'
    repartition(4) — and the hot-cell case (a skewed cell too big for
    one file) is demonstrated with `maxRecordsPerFile` on the same
    write, ceil-rule file counts and probe identity pinned in
    tests/test_ivfpq_index.py.

    Scale: compaction is one linear pass over the code table (already
    32x-compressed vs the embeddings), shuffling on the cell key it is
    already partitioned by; it runs per-cell-independent, so a
    maintenance service compacts only cells whose file count crossed a
    threshold. Probe cost afterwards returns to the one-shot-index
    baseline: probe/K of the cells, one file each."""
    # ---- build + append: the fragmented micro-batch layout -------------
    vecs, base, n_codes = _ivfpq_index(spark, sf_dir,
                                       code_batches=N_COMPACT_BATCHES,
                                       prefix="ivfpq_compact_")
    if n_codes == 0:
        return spark.createDataFrame(
            [], _TOPK_COLS + ", files_before long, files_after long")
    files_before = _count_cell_parts(base + "/codes")

    # ---- compact: rewrite each cell's fragments, keep the layout --------
    (spark.read.parquet(base + "/codes")
     .repartition(F.col("cell"))
     .write.mode("overwrite").partitionBy("cell")
     .parquet(base + "/codes_compact"))
    files_after = _count_cell_parts(base + "/codes_compact")

    # ---- probe the compacted index --------------------------------------
    res = ivfpq_probe(spark, vecs, base, n_codes, IVFPQ_RERANK,
                      codes_subdir="codes_compact")
    return (res
            .withColumn("files_before",
                        F.lit(files_before).cast("bigint"))
            .withColumn("files_after", F.lit(files_after).cast("bigint")))


# Quantizer refresh trigger: rebuild when accumulated deletes reach this
# percentage of the indexed corpus. Integer rule (tomb_rows * 100 >=
# indexed_rows * REFRESH_PCT) so both engines compare identical BIGINTs —
# no double threshold to sit on. 10% is FAISS-guidance territory (retrain
# when the indexed distribution drifts materially); the shipped corpora's
# ~14.3% mod-7 delete set sits safely above it at every SF, so the
# oracle-replayed branch is the triggered one; the not-triggered branch
# (serve the stale index with tombstones) is pinned on the same corpus
# with a raised threshold in tests/test_ivfpq_index.py.
REFRESH_PCT = 10
_REFRESH_COLS = (_TOPK_COLS
                 + ", tomb_rows long, indexed_rows long, refreshed long")

ANN_IVFPQ_REFRESH_SQL = ivfpq_sql(
    base_pred=f" WHERE vec_id % {TOMB_MOD} <> {TOMB_RES}",
    extra_cols=f""",
       (SELECT count(*) FROM embeddings
        WHERE vec_id % {TOMB_MOD} = {TOMB_RES}) AS tomb_rows,
       (SELECT count(*) FROM embeddings) AS indexed_rows,
       CAST((SELECT count(*) FROM embeddings
             WHERE vec_id % {TOMB_MOD} = {TOMB_RES}) * 100
            >= (SELECT count(*) FROM embeddings) * {REFRESH_PCT}
            AS BIGINT) AS refreshed""")


@register("ann_ivfpq_refresh_probe", sql=ANN_IVFPQ_REFRESH_SQL,
          tags=("similarity", "layout", "pipeline"))
def ann_ivfpq_refresh_probe(spark, sf_dir, refresh_pct: int = REFRESH_PCT):
    """Quantizer REFRESH for the composed IVFPQ index — the decision pass
    that closes the maintenance loop: build → append → compact → delete →
    REFRESH. Tombstones keep probes correct (the delete leg,
    `ann_ivfpq_tombstone_probe`), but the quantizers stay trained on the
    pre-delete corpus; as deletes accumulate, cells empty out and codebook
    geometry drifts from the surviving distribution, degrading
    recall-per-probe. The production answer (FAISS keeps the trained
    quantizer across remove_ids and retrains only on material drift) is a
    THRESHOLD decision, not a per-takedown rebuild — demonstrated
    end-to-end:

    * DECIDE from the index, not the corpus: the pass scans ONLY the
      vec_id column of the persisted cell-partitioned code table
      (column-pruned, 32x-compressed — at 100 TB this reads megabytes)
      and counts indexed vs tombstoned ids; trigger = tomb_rows * 100
      >= indexed_rows * refresh_pct, integer-exact in any engine.
    * REFRESH when triggered: retrain BOTH quantizer layers on the
      survivors and rebuild the index. Content-addressed seeds make the
      retrain deterministic — the refreshed coarse cells and codebook
      are exactly the composed-IVFPQ construction applied to the
      survivor corpus, so the oracle is `ivfpq_sql` with the survivor
      predicate in its base CTE (seeds, cells, codes, candidates all
      re-derive — no new SQL machinery) plus the decision metrics as
      scalar subqueries over the raw table (equal to the index-derived
      counts because every indexed vector holds exactly one distinct
      vec_id in the code table — an assumption the decision pass PINS
      by comparing against the corpus row count and failing loudly on
      a duplicate vec_id or non-encodable row).
    * SERVE STALE when not triggered: the unmodified tombstone-probe
      path (broadcast LEFT ANTI on the pruned scan). Pinned on the same
      corpus with a raised threshold in tests/test_ivfpq_index.py:
      rows identical to `ann_ivfpq_tombstone_probe`, refreshed = 0.

    What refresh actually buys — measured, not assumed: on the shipped
    corpus's UNIFORM mod-7 deletes there is no distribution drift, so
    retraining is recall-neutral (brute-force-vs-survivors recall@10
    measured 0.34 refreshed / 0.40 stale at sf0.001 AND sf0.1 — fewer
    effective cells at fixed n_probe covers a larger survivor fraction;
    floors pinned in tests/test_ivfpq_index.py). The pass exists
    for the BALANCE contract under real drift: a frozen quantizer maps
    a drifted append into a handful of hot cells, so probes touching
    the new mode read an unbounded index fraction — on a constructed
    16-mode corpus plus one tight appended mode, the stale quantizer's
    max cell share measures 0.31 vs 0.10 refreshed (3.2x; pinned with
    2x slack in tests/test_ivfpq_index.py). The trigger is on
    accumulated CHANGE (deletes here; a production rule adds occupancy
    skew), and the decision machinery is what this query certifies.

    Scale: the decision is one column-pruned linear pass over compressed
    codes; the rebuild is the standard one-pass build over survivors,
    paid only when the integer rule fires (deletes are takedown-sized,
    so amortized over many delete batches); probes never stop serving —
    the stale index answers (tombstone-correct) until the refreshed
    artifacts are staged. No Python on any data path."""
    # ---- the standing index + accumulated deletes -----------------------
    vecs, base, n_codes = _ivfpq_index(spark, sf_dir,
                                       prefix="ivfpq_refresh_")
    if n_codes == 0:
        return spark.createDataFrame([], _REFRESH_COLS)
    tomb = _tombstones(vecs)

    # ---- decide: one column-pruned pass over the persisted codes --------
    stats = (spark.read.parquet(base + "/codes")
             .select("vec_id").dropDuplicates(["vec_id"])
             .agg(F.count("*").alias("n"),
                  F.count(F.when((F.col("vec_id") % TOMB_MOD) == TOMB_RES,
                                 True)).alias("d"))
             .first())
    indexed_rows, tomb_rows = int(stats["n"]), int(stats["d"])
    # The decision counts distinct vec_id in the staged
    # code table while the oracle's scalar subqueries count raw embeddings
    # rows — equal ONLY if vec_id is unique in the corpus and every row is
    # indexed. Pin that assumption loudly instead of letting a duplicate
    # vec_id or non-encodable row surface as a plausible-looking metadata
    # mismatch far from the probe rows. One column-pruned count(*) over
    # the corpus (parquet footer metadata at any scale); every violation
    # class breaks the total equality (a duplicate drops distinct-vs-raw
    # by one, an unindexed row drops the code-table side by one).
    corpus_rows = vecs.count()
    if indexed_rows != corpus_rows:
        raise ValueError(
            f"refresh decision invariant violated: {indexed_rows} distinct "
            f"vec_id in the staged code table vs {corpus_rows} corpus rows "
            "(duplicate vec_id or non-encodable row) — the oracle counts "
            "corpus rows, so serving this decision would silently diverge")
    refreshed = tomb_rows * 100 >= indexed_rows * refresh_pct

    # ---- act: retrain on survivors, or keep serving the stale index -----
    if refreshed:
        survivors = vecs.where((F.col("vec_id") % TOMB_MOD) != TOMB_RES)
        base2, n_codes2 = ivfpq_stage_index(spark, survivors,
                                            prefix="ivfpq_refreshed_")
        if n_codes2 == 0:
            # full takedown: every indexed vector deleted — nothing to
            # retrain on and nothing to probe (engine-grade degenerate
            # contract, pinned in tests/test_ivfpq_index.py)
            return spark.createDataFrame([], _REFRESH_COLS)
        res = ivfpq_probe(spark, survivors, base2, n_codes2, IVFPQ_RERANK)
    else:
        res = ivfpq_probe(spark, vecs, base, n_codes, IVFPQ_RERANK,
                          tombstones=tomb)
    return (res
            .withColumn("tomb_rows", F.lit(tomb_rows).cast("bigint"))
            .withColumn("indexed_rows", F.lit(indexed_rows).cast("bigint"))
            .withColumn("refreshed", F.lit(int(refreshed)).cast("bigint")))


# --- Multi-probe hyperplane LSH near-dup pairs ------------------------------

MP_TABLES = 4
MP_PLANES = 6
MP_FLIPS = 2          # probe buckets per table = home + MP_FLIPS flips
MP_TAU = 0.4
MP_DIM = 64

# Same engine-independence recipe as ANN_LSH_SQL (md5-derived dyadic
# hyperplanes, distinct 'mp:' seed so the two tables are independent), plus
# the multi-probe ingredient: per (vector, table) the MP_FLIPS planes with
# the smallest |dot| — the bits most likely to be on the wrong side for a
# true neighbor — are flipped to form probe buckets. |dot| is ROUNDED to
# 6 dp before ranking in BOTH engines so a BLAS-vs-sequential-fold
# summation difference (~1e-14) cannot reorder two nearly-equal margins;
# residual ties break on plane position. The plane count is NOT a literal:
# the prm CTE computes the same adaptive rule the Spark plan uses —
# P = max(MP_PLANES, ceil(log2(n/16))) — from the table's own row count,
# so plan and oracle agree at EVERY sf (a static P=6 twin silently
# diverges once n > 1024, e.g. sf0.1's 2000 embeddings). The
# ceil boundary is engine-safe because it lands only on exact powers of
# two, where double log2 is exact in both engines.
# The candidate-generation CTE chain (prm → … → cand → un) is shared by
# the dedup pair query and the semantic decontamination query below —
# one definition, two final SELECTs, so the two oracles can never drift
# on the LSH machinery.
_MP_CANDIDATE_CTE = f"""
WITH prm AS (
  SELECT GREATEST({MP_PLANES},
                  CAST(ceil(log2(GREATEST(count(*), 1) / 16.0)) AS INTEGER))
           AS np
  FROM embeddings
), e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), pw AS (
  SELECT j // {MP_DIM} AS jp,
         j % {MP_DIM} AS d,
         ('0x' || substr(md5('mp:' || (j // {MP_DIM}) || ':'
                             || (j % {MP_DIM})), 1, 6))::INTEGER
           / 16777216.0 - 0.5 AS w
  FROM (SELECT unnest(generate_series(
          0, (SELECT {MP_TABLES} * np * {MP_DIM} FROM prm) - 1)) AS j)
), planes AS (
  SELECT jp, list(w ORDER BY d) AS pvec FROM pw GROUP BY jp
), dots AS (
  SELECT e.vec_id, planes.jp,
         list_dot_product(e.v, planes.pvec) AS dp
  FROM e CROSS JOIN planes
), bits AS (
  SELECT vec_id, jp // (SELECT np FROM prm) AS t,
         jp % (SELECT np FROM prm) AS pos, dp
  FROM dots
), home AS (
  SELECT vec_id, t,
         sum(CASE WHEN dp > 0
             THEN 1 << ((SELECT np FROM prm) - 1 - pos) ELSE 0 END) AS bucket
  FROM bits GROUP BY vec_id, t
), flips AS (
  SELECT vec_id, t, pos,
         row_number() OVER (PARTITION BY vec_id, t
                            ORDER BY round(abs(dp), 6), pos) AS rn
  FROM bits
), probes AS (
  SELECT vec_id, t, bucket FROM home
  UNION ALL
  SELECT f.vec_id, f.t,
         xor(h.bucket, 1 << ((SELECT np FROM prm) - 1 - f.pos))
  FROM flips f JOIN home h ON f.vec_id = h.vec_id AND f.t = h.t
  WHERE f.rn <= {MP_FLIPS}
), cand AS (
  SELECT DISTINCT least(p.vec_id, h.vec_id) AS vec_a,
         greatest(p.vec_id, h.vec_id) AS vec_b
  FROM probes p JOIN home h ON p.t = h.t AND p.bucket = h.bucket
  WHERE p.vec_id <> h.vec_id
), un AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
  FROM e
)
"""

ANN_MULTIPROBE_SQL = _MP_CANDIDATE_CTE + f"""
SELECT c.vec_a, c.vec_b,
       round(list_dot_product(ua.u, ub.u), 6) AS cosine
FROM cand c
JOIN un ua ON c.vec_a = ua.vec_id
JOIN un ub ON c.vec_b = ub.vec_id
WHERE list_dot_product(ua.u, ub.u) >= {MP_TAU}
ORDER BY vec_a, vec_b
"""


def multiprobe_candidates(emb, n_planes: int = MP_PLANES,
                          n_flips: int = MP_FLIPS):
    """(vec_a, vec_b) candidate pairs from MP_TABLES-table multi-probe
    hyperplane LSH — split out so tests can measure the candidate bound
    and recall against the home-bucket-only baseline. Returns the
    DISTINCT unordered pairs whose home bucket matches any of the other
    side's probed buckets (home + ``n_flips`` lowest-|margin| bit flips)
    in any table."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    planes_t, radix = _hyperplanes("mp:", MP_DIM, MP_TABLES, n_planes)
    per_probe = n_flips + 1

    @pandas_udf("array<long>")
    def _probe_buckets(embs: pd.Series) -> pd.Series:
        V = np.asarray(embs.tolist(), dtype=np.float64)       # b × dim
        dp = V @ planes_t                                     # b × T·P
        bits = (dp > 0).reshape(len(V), MP_TABLES, n_planes)
        home = bits @ radix                                   # b × T
        margins = np.round(np.abs(dp), 6).reshape(
            len(V), MP_TABLES, n_planes)
        # stable argsort: equal rounded margins break on plane position,
        # matching the oracle's (round(abs(dp),6), pos) ordering
        order = np.argsort(margins, axis=2, kind="stable")
        out = np.empty((len(V), MP_TABLES * per_probe), dtype=np.int64)
        out[:, 0::per_probe] = home
        for f in range(n_flips):
            mask = 1 << (n_planes - 1 - order[:, :, f])
            out[:, f + 1::per_probe] = home ^ mask
        return pd.Series(out.tolist())

    e = as_double("embedding")
    sigs = track_persist(emb.select(
        "vec_id", F.posexplode(_probe_buckets(e)).alias("idx", "bucket"))
        .select("vec_id",
                (F.col("idx") / per_probe).cast("int").alias("t"),
                (F.col("idx") % per_probe).alias("slot"), "bucket"))
    homes = sigs.where(F.col("slot") == 0).select("vec_id", "t", "bucket")
    p, h = sigs.alias("p"), homes.alias("h")
    return (p.join(h, (F.col("p.t") == F.col("h.t"))
                   & (F.col("p.bucket") == F.col("h.bucket"))
                   & (F.col("p.vec_id") != F.col("h.vec_id")))
            .select(F.least("p.vec_id", "h.vec_id").alias("vec_a"),
                    F.greatest("p.vec_id", "h.vec_id").alias("vec_b"))
            .distinct())


@register("dedup_embedding_multiprobe", sql=ANN_MULTIPROBE_SQL,
          tags=("dedup", "similarity"))
def dedup_embedding_multiprobe(spark, sf_dir):
    """Embedding near-dup pairs via MULTI-PROBE hyperplane LSH — the scale
    upgrade of the bucketed path: instead of adding whole hash tables to
    recover recall (index memory and build cost ×T), each (vector, table)
    also probes the buckets reached by flipping its ``MP_FLIPS``
    lowest-|margin| sign bits — the bits most likely to differ for a true
    neighbor (Lv et al., VLDB'07). 4 tables × 3 probed buckets reaches
    the recall neighborhood of ~12 plain tables at a third of the index.

    Exactness: planes are md5-derived dyadic rationals ('mp:' seed) and
    flip choice ranks |dot| rounded to 6 dp (ties → plane position), so
    buckets, probe sets, candidates, and the re-ranked ≥ 0.4 pairs are
    engine-reproducible — full DuckDB twin, same trick as ANN_LSH_SQL.

    Scale: signatures are one Arrow matmul per batch (the documented BLAS
    exception); the index carries T narrow home rows per vector; probing
    multiplies the JOIN's left side by (1+flips), never the stored index;
    candidates stay bounded by probed-bucket occupancy; exact cosine
    re-rank touches candidates only. Planes follow the SAME adaptive rule
    as ann_lsh_topk — P = max(6, ceil(log2(n/16))) — because bucket count
    is 2^P: at FIXED P, 4× more vectors means 4× occupancy and 16× in-
    bucket pairs (measured: 16.1× in the pinned test below), while +2
    planes per 4× data holds occupancy (and the candidate bound) flat.
    The SQL twin computes the SAME rule from the table's row count (prm
    CTE), so plan and oracle agree at every sf — sf0.1's 2000 vectors
    get P=7 in both engines. Against `dedup_embedding_cosine` (exact
    all-pairs twin) the fixture recall is pinned in
    tests/test_similarity_recall.py; candidate growth vs corpus growth is
    pinned ~linear there too."""
    emb = load(spark, sf_dir, "embeddings")
    pairs, cos = _cosine_verified(emb, multiprobe_candidates(
        emb, n_planes=_adaptive_planes(spark, sf_dir, MP_PLANES)))
    return (pairs.select("vec_a", "vec_b", F.round(cos, 6).alias("cosine"))
            .orderBy("vec_a", "vec_b"))


def _cosine_verified(emb, cand):
    """Candidate pairs (vec_a, vec_b) joined to both unit vectors and kept
    at cosine >= MP_TAU, with the cosine Column."""
    vecs = unit_vector_frame(emb, "u")
    va, vb = vecs.alias("va"), vecs.alias("vb")
    cos = dot(F.col("va.u"), F.col("vb.u"))
    return (cand.join(va, F.col("vec_a") == F.col("va.vec_id"))
            .join(vb, F.col("vec_b") == F.col("vb.vec_id"))
            .where(cos >= MP_TAU)), cos


# --- Semantic train/eval decontamination -------------------------------------
# Completes the decontamination triad: decontaminate_ngram (exact 8-gram
# hit), decontaminate_minhash (token-set near-dup), and this — the
# embedding modality, which catches paraphrased or translated
# contamination that shares no surface n-grams with the eval document.

DECON_SEMANTIC_SQL = _MP_CANDIDATE_CTE + f"""
SELECT CASE WHEN c.vec_a % 11 = 0 THEN c.vec_b ELSE c.vec_a END AS train_vec,
       CASE WHEN c.vec_a % 11 = 0 THEN c.vec_a ELSE c.vec_b END AS eval_vec,
       round(list_dot_product(ua.u, ub.u), 6) AS cosine
FROM cand c
JOIN un ua ON c.vec_a = ua.vec_id
JOIN un ub ON c.vec_b = ub.vec_id
WHERE list_dot_product(ua.u, ub.u) >= {MP_TAU}
  AND (c.vec_a % 11 = 0) <> (c.vec_b % 11 = 0)
ORDER BY train_vec, eval_vec
"""


@register("decontaminate_semantic", sql=DECON_SEMANTIC_SQL,
          tags=("dedup", "similarity"))
def decontaminate_semantic(spark, sf_dir):
    """Semantic train/eval decontamination: flag training vectors whose
    embedding sits within cosine ``MP_TAU`` of any eval-set vector
    (vec_id % 11 == 0, the same held-out convention as
    `decontaminate_minhash`). Candidates come from the SAME multi-probe
    hyperplane LSH as `dedup_embedding_multiprobe` — shared
    `multiprobe_candidates` helper and shared oracle CTE — restricted to
    pairs with exactly one eval side, then exact-cosine verified. The
    0.4 threshold is this synthetic corpus' similarity tail; a real
    pipeline would run the identical plan at ~0.9.

    Scale shape inherits the multiprobe analysis: one Arrow matmul per
    batch for signatures, probing multiplies the join's probe side by
    (1+flips) while the stored index stays T rows per vector, candidates
    bounded by probed-bucket occupancy, exact verify touches candidates
    only — never |train| × |eval|."""
    emb = load(spark, sf_dir, "embeddings")
    is_eval_a = F.col("vec_a") % 11 == 0
    is_eval_b = F.col("vec_b") % 11 == 0
    pairs, cos = _cosine_verified(emb, multiprobe_candidates(
        emb, n_planes=_adaptive_planes(spark, sf_dir, MP_PLANES))
        .where(is_eval_a != is_eval_b))
    return (pairs
            .select(F.when(is_eval_a, F.col("vec_b"))
                    .otherwise(F.col("vec_a")).alias("train_vec"),
                    F.when(is_eval_a, F.col("vec_a"))
                    .otherwise(F.col("vec_b")).alias("eval_vec"),
                    F.round(cos, 6).alias("cosine"))
            .orderBy("train_vec", "eval_vec"))


# --- kNN majority-vote classification ---------------------------------------

KNN_CLASSIFY_K = 10
KNN_CLASSIFY_NQ = 50

KNN_CLASSIFY_SQL = f"""
WITH q AS (
  SELECT vec_id AS qid, label AS true_label, embedding::DOUBLE[] AS qe
  FROM embeddings WHERE vec_id < {KNN_CLASSIFY_NQ}
), c AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS ce FROM embeddings
), scored AS (
  SELECT q.qid, q.true_label, c.vec_id, c.label,
         list_dot_product(q.qe, c.ce)
           / (sqrt(list_dot_product(q.qe, q.qe))
              * sqrt(list_dot_product(c.ce, c.ce))) AS cos
  FROM q CROSS JOIN c
  WHERE q.qid <> c.vec_id
), topk AS (
  SELECT qid, true_label, label FROM (
    SELECT qid, true_label, label,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cos DESC, vec_id) AS rn
    FROM scored)
  WHERE rn <= {KNN_CLASSIFY_K}
), votes AS (
  SELECT qid, true_label, label, count(*) AS n_votes
  FROM topk GROUP BY qid, true_label, label
)
SELECT qid, CAST(label AS BIGINT) AS pred_label,
       CAST(n_votes AS BIGINT) AS n_votes,
       CAST(true_label AS BIGINT) AS true_label,
       CAST(CASE WHEN label = true_label THEN 1 ELSE 0 END AS BIGINT)
         AS correct
FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY n_votes DESC, label) AS vr
      FROM votes)
WHERE vr = 1
ORDER BY qid
"""


@register("knn_classify", sql=KNN_CLASSIFY_SQL, tags=("similarity", "ml"))
def knn_classify(spark, sf_dir):
    """Leave-one-out kNN classification — similarity search used as a
    LABELER (weak supervision / label propagation for curation): each of
    the first 50 vectors is assigned the majority label of its 10 nearest
    other vectors by cosine (vote ties break to the smaller label, rank
    ties to the smaller vec_id), reported against its true label.

    Scale: the query set broadcasts (bounded), the corpus streams once
    through one broadcast-nested-loop scoring pass, top-k and the vote
    argmax are two windows partitioned by qid (bounded occupancy: corpus
    then k rows per query). At 100 TB you swap the exact scoring pass
    for the IVF/PQ candidate generators in this module and keep the
    vote/argmax stages unchanged: `knn_classify_ivf` below does, and
    both call the one `_knn_vote`; tests/test_similarity_recall.py pins
    their agreement."""
    emb = load(spark, sf_dir, "embeddings")
    q = (emb.where(F.col("vec_id") < KNN_CLASSIFY_NQ)
         .select(F.col("vec_id").alias("qid"),
                 F.col("label").alias("true_label"),
                 as_double("embedding").alias("qe")))
    c = emb.select("vec_id", "label", as_double("embedding").alias("ce"))
    cos = (dot(F.col("qe"), F.col("ce"))
           / (norm(F.col("qe")) * norm(F.col("ce"))))
    return _knn_vote(c.crossJoin(F.broadcast(q))
                     .where(F.col("qid") != F.col("vec_id"))
                     .select("qid", "true_label", "vec_id", "label",
                             cos.alias("cos")))


KNN_IVF_SQL = f"""
WITH c AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
), un AS (
  SELECT vec_id, label,
         list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS u
  FROM c
), seeds AS (
  SELECT vec_id, u
  FROM un ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT {IVF_K}
), cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, u AS cu
  FROM seeds
), scored AS (
  SELECT un.vec_id, un.label, un.u, cent.cell,
         row_number() OVER (
           PARTITION BY un.vec_id
           ORDER BY round(list_dot_product(un.u, cent.cu), 6) DESC,
                    cent.cell) AS rn
  FROM un CROSS JOIN cent
), assigned AS (
  SELECT vec_id, label, u, cell FROM scored WHERE rn <= {IVF_ASSIGN}
), qprobes AS (
  SELECT vec_id AS qid, label AS true_label, u AS qu, cell
  FROM scored
  WHERE vec_id < {KNN_CLASSIFY_NQ} AND rn <= {IVF_PROBE}
), cand AS (
  SELECT DISTINCT q.qid, q.true_label, a.vec_id, a.label,
         round(list_dot_product(q.qu, a.u), 6) AS cos
  FROM qprobes q JOIN assigned a ON q.cell = a.cell
  WHERE a.vec_id <> q.qid
), topk AS (
  SELECT qid, true_label, label FROM (
    SELECT qid, true_label, label,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cos DESC, vec_id) AS rn
    FROM cand)
  WHERE rn <= {KNN_CLASSIFY_K}
), votes AS (
  SELECT qid, true_label, label, count(*) AS n_votes
  FROM topk GROUP BY qid, true_label, label
)
SELECT qid, CAST(label AS BIGINT) AS pred_label,
       CAST(n_votes AS BIGINT) AS n_votes,
       CAST(true_label AS BIGINT) AS true_label,
       CAST(CASE WHEN label = true_label THEN 1 ELSE 0 END AS BIGINT)
         AS correct
FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY n_votes DESC, label) AS vr
      FROM votes)
WHERE vr = 1
ORDER BY qid
"""


@register("knn_classify_ivf", sql=KNN_IVF_SQL, tags=("similarity", "ml"))
def knn_classify_ivf(spark, sf_dir):
    """`knn_classify` at scale: the vote/argmax layer is index-agnostic
    by construction, so this variant swaps the exact full-corpus scan for
    the IVF candidate generator `ann_ivf_topk` already uses — the 50
    query vectors probe their 3 nearest coarse cells, candidates are the
    probed cells' multi-assigned members (bounded by probe × assign ×
    mean cell occupancy, never the corpus), and the 10-NN majority vote
    runs unchanged on top (the shared `_knn_vote`). Content-addressed
    seed centroids keep the whole pipeline engine-reproducible, so this
    carries a full exact oracle, and tests/test_similarity_recall.py
    pins prediction agreement with the exact classifier.

    Scale: this IS the swap the exact query's docstring promises — at
    100 TB the scored/assigned index is the persisted artifact, queries
    join only their probed cells, and per-query work is cell-occupancy-
    bounded; the vote stays a (query × labels-in-topk) hash agg."""
    cos = F.round(dot(F.col("qu"), F.col("u")), 6)
    cand = (_ivf_candidates(spark, sf_dir, KNN_CLASSIFY_NQ,
                            F.col("label").alias("true_label"))
            .select("qid", "true_label", "vec_id", "label",
                    cos.alias("cos"))
            .distinct())
    return _knn_vote(cand)


def _knn_vote(scored):
    """The kNN majority vote over candidate rows (qid, true_label, vec_id,
    label, cos): the top KNN_CLASSIFY_K by (cos desc, vec_id) per query,
    then the label with the most votes (ties to the smaller label)."""
    w_rank = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    topk = (scored.withColumn("rn", F.row_number().over(w_rank))
            .where(F.col("rn") <= KNN_CLASSIFY_K))
    votes = (topk.groupBy("qid", "true_label", "label")
             .agg(F.count(F.lit(1)).alias("n_votes")))
    w_vote = Window.partitionBy("qid").orderBy(F.desc("n_votes"),
                                               F.asc("label"))
    return (votes.withColumn("vr", F.row_number().over(w_vote))
            .where(F.col("vr") == 1)
            .select("qid",
                    F.col("label").cast("long").alias("pred_label"),
                    F.col("n_votes").cast("long").alias("n_votes"),
                    F.col("true_label").cast("long").alias("true_label"),
                    (F.col("label") == F.col("true_label"))
                    .cast("long").alias("correct"))
            .orderBy("qid"))


# --- Centroid-distance outlier flagging (mislabel / noise curation) ---------

EMB_OUTLIER_Z = 2.0

EMB_OUTLIER_SQL = f"""
WITH c AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
), un AS (
  SELECT vec_id, label,
         list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS u
  FROM c
), per_dim AS (
  SELECT label, i, avg(u[i]) AS v
  FROM un, generate_series(1, 64) AS t(i)
  GROUP BY label, i
), cent AS (
  SELECT label, list(v ORDER BY i) AS cu FROM per_dim GROUP BY label
), scored AS (
  SELECT un.vec_id, un.label,
         round(list_dot_product(un.u, cent.cu)
               / sqrt(list_dot_product(cent.cu, cent.cu)), 6) AS cos
  FROM un JOIN cent USING (label)
), stats AS (
  SELECT label, avg(cos) AS mu, stddev_pop(cos) AS sd
  FROM scored GROUP BY label
)
SELECT s.vec_id, CAST(s.label AS BIGINT) AS label, s.cos,
       CASE WHEN st.sd = 0 THEN 0.0
            ELSE round((s.cos - st.mu) / st.sd, 6) END AS z,
       CAST(CASE WHEN st.sd = 0 THEN 0
                 WHEN round((s.cos - st.mu) / st.sd, 6) < -{EMB_OUTLIER_Z}
                 THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
FROM scored s JOIN stats st USING (label)
ORDER BY vec_id
"""


@register("embedding_outliers", sql=EMB_OUTLIER_SQL,
          tags=("similarity", "quality"))
def embedding_outliers(spark, sf_dir):
    """Centroid-distance outlier flagging — the embedding-space curation
    op that catches mislabeled or noise samples: per label, the mean
    unit vector is the class centroid; each member's cosine to its own
    centroid is z-scored within the label, and members more than 2σ
    BELOW the class mean are flagged. (Cleanlab-style pruning signal,
    computed without a model.)

    Exactness: the per-dim centroid is an avg (summation-order
    sensitive), so the member cosine is ROUNDED to 6 dp before the
    z-score and the z itself rounded before the threshold — the corr/psi
    family's convention, which narrows (not eliminates) the residual
    cross-engine exposure to rounding-boundary values of mu/sd. A label
    with zero spread (sd = 0, e.g. a single-member label) emits
    z = 0 / is_outlier = 0 explicitly in BOTH engines — Spark's
    non-ANSI division would return NULL there while DuckDB returns
    inf/NaN.

    Scale: centroids are one posexplode + (label, dim) hash agg (output
    labels×64 rows — broadcasts); scoring is a broadcast join + one
    array dot per row; label stats one more bounded agg. Three linear
    passes, no pairwise anything."""
    emb = load(spark, sf_dir, "embeddings")
    un = unit_vector_frame(emb, "u", "label")
    per_dim = (un.select("label", F.posexplode("u").alias("i", "x"))
               .groupBy("label", "i").agg(F.avg("x").alias("v")))
    cent = (per_dim.groupBy("label")
            .agg(F.array_sort(F.collect_list(F.struct("i", "v")))
                 .alias("iv"))
            .select("label",
                    F.expr("transform(iv, s -> s.v)").alias("cu")))
    cos = F.round(dot(F.col("u"), F.col("cu"))
                  / norm(F.col("cu")), 6)
    scored = track_persist(
        un.join(F.broadcast(cent), "label")
        .select("vec_id", "label", cos.alias("cos")))
    stats = scored.groupBy("label").agg(
        F.avg("cos").alias("mu"), F.stddev_pop("cos").alias("sd"))
    z_raw = F.round((F.col("cos") - F.col("mu")) / F.col("sd"), 6)
    z = F.when(F.col("sd") == 0, F.lit(0.0)).otherwise(z_raw)
    is_outlier = (F.when(F.col("sd") == 0, F.lit(False))
                  .otherwise(z_raw < -EMB_OUTLIER_Z).cast("long"))
    return (scored.join(F.broadcast(stats), "label")
            .select("vec_id", F.col("label").cast("long").alias("label"),
                    "cos", z.alias("z"), is_outlier.alias("is_outlier"))
            .orderBy("vec_id"))


# --- One Lloyd iteration of k-means, engine-exact ---------------------------

KMEANS_K = 16
KMEANS_GRID = 1_000_000.0   # unit-vector components on a 1e-6 integer grid

KMEANS_SQL = f"""
WITH c AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), un AS (
  SELECT vec_id,
         list_transform(e, x -> floor(x / sqrt(list_dot_product(e, e))
                                      * {KMEANS_GRID})) AS ui
  FROM c
), seeds AS (
  SELECT vec_id, ui
  FROM un ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT {KMEANS_K}
), cent0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, ui AS cu
  FROM seeds
), a0 AS (
  SELECT vec_id, ui, cell FROM (
    SELECT un.vec_id, un.ui, cent0.cell,
           row_number() OVER (
             PARTITION BY un.vec_id
             ORDER BY list_dot_product(un.ui, cent0.cu) DESC,
                      cent0.cell) AS rn
    FROM un CROSS JOIN cent0)
  WHERE rn = 1
), n0 AS (
  SELECT cell, count(*) AS n FROM a0 GROUP BY cell
), per_dim AS (
  SELECT cell, i, sum(ui[i]) AS s
  FROM a0, generate_series(1, 64) AS t(i)
  GROUP BY cell, i
), cent1 AS (
  SELECT cell, list(s ORDER BY i) AS sv FROM per_dim GROUP BY cell
), a1 AS (
  SELECT vec_id, cell FROM (
    SELECT un.vec_id, cent1.cell,
           row_number() OVER (
             PARTITION BY un.vec_id
             ORDER BY list_dot_product(un.ui, cent1.sv) / n0.n DESC,
                      cent1.cell) AS rn
    FROM un CROSS JOIN cent1 JOIN n0 ON cent1.cell = n0.cell)
  WHERE rn = 1
), mv AS (
  SELECT a1.cell AS cell, count(*) AS n_in,
         sum(CASE WHEN a0.cell <> a1.cell THEN 1 ELSE 0 END) AS moved_in
  FROM a1 JOIN a0 USING (vec_id) GROUP BY a1.cell
)
SELECT c0.cell,
       CAST(coalesce(n0.n, 0) AS BIGINT) AS n_iter0,
       CAST(coalesce(mv.n_in, 0) AS BIGINT) AS n_iter1,
       CAST(coalesce(mv.moved_in, 0) AS BIGINT) AS n_moved_in
FROM cent0 c0
LEFT JOIN n0 ON c0.cell = n0.cell
LEFT JOIN mv ON c0.cell = mv.cell
ORDER BY c0.cell
"""


@register("embedding_kmeans_iter", sql=KMEANS_SQL,
          tags=("similarity", "ml"))
def embedding_kmeans_iter(spark, sf_dir):
    """ONE LLOYD ITERATION of spherical k-means, engine-exact — the
    refinement step the catalog's content-addressed coarse quantizers
    (`dedup_semantic`, `ann_ivf_topk`) deliberately skip, isolated here
    as its own checked operator: seed assignment (argmax cosine against
    the 16 md5-chosen seeds), centroid UPDATE (per-dimension member
    sums), re-assignment against the updated centroids, and per-cell
    movement accounting (n_iter0 / n_iter1 / moved-in count — the
    convergence signal a k-means driver loop watches).

    Exactness: floats would make the update step summation-order-
    dependent, so unit vectors live on a 1e-6 integer grid (floor of
    identical doubles) and centroids are kept UN-normalized as (per-dim
    integer sum, member count) — the argmax compares dot(u, S_c)/n_c,
    exact-integer operands under one IEEE division, so assignments are
    engine-identical; ties break to the lower cell. Integer-in-float64
    exactness holds while per-cell membership < ~9000 (dot bound
    n·1e12 < 2^53); larger cells re-scale the grid — a constant, not a
    plan change.

    Scale: each iteration is one broadcast-k cross join (k scores per
    vector, linear) + a (cell, dim) hash agg (k×64 rows) — the Pregel-
    free k-means step; further iterations repeat the same two stages.
    The movement join is vec_id-local. A real driver loop would
    checkpoint per round exactly like `token_pagerank`."""
    emb = load(spark, sf_dir, "embeddings")
    unit = unit_vector("embedding")
    ui = F.transform(unit, lambda x: F.floor(x * KMEANS_GRID)
                     .cast("double"))
    un = track_persist(emb.select("vec_id", ui.alias("ui")))
    seeds = (un.select("vec_id", "ui",
                       F.md5(F.col("vec_id").cast("string")).alias("h"))
             .orderBy("h", "vec_id").limit(KMEANS_K))
    cent0 = seeds.select(
        (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("cell"),
        F.col("ui").alias("cu"))
    w_a = Window.partitionBy("vec_id").orderBy(F.desc("score"),
                                               F.asc("cell"))
    a0 = track_persist(
        un.crossJoin(F.broadcast(cent0))
        .select("vec_id", "ui", "cell",
                dot(F.col("ui"), F.col("cu")).alias("score"))
        .withColumn("rn", F.row_number().over(w_a))
        .where(F.col("rn") == 1)
        .select("vec_id", "ui", "cell"))  # one row per vector
    n0 = a0.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
    cent1 = (a0.select("cell", F.posexplode("ui").alias("i", "x"))
             .groupBy("cell", "i").agg(F.sum("x").alias("s"))
             .groupBy("cell")
             .agg(F.array_sort(F.collect_list(F.struct("i", "s")))
                  .alias("iv"))
             .select("cell", F.expr("transform(iv, t -> t.s)").alias("sv"))
             .join(n0, "cell"))
    a1 = (un.crossJoin(F.broadcast(cent1))
          .select("vec_id", "cell",
                  (dot(F.col("ui"), F.col("sv")) / F.col("n"))
                  .alias("score"))
          .withColumn("rn", F.row_number().over(w_a))
          .where(F.col("rn") == 1)
          .select("vec_id", F.col("cell").alias("cell1")))
    mv = (a1.join(a0.select("vec_id", F.col("cell").alias("cell0")),
                  "vec_id")
          .groupBy(F.col("cell1").alias("cell"))
          .agg(F.count(F.lit(1)).alias("n_in"),
               F.sum(F.when(F.col("cell0") != F.col("cell1"), 1)
                     .otherwise(0)).alias("moved_in")))
    return (cent0.select("cell")
            .join(n0, "cell", "left")
            .join(mv, "cell", "left")
            .select("cell",
                    F.coalesce("n", F.lit(0)).cast("bigint")
                    .alias("n_iter0"),
                    F.coalesce("n_in", F.lit(0)).cast("bigint")
                    .alias("n_iter1"),
                    F.coalesce("moved_in", F.lit(0)).cast("bigint")
                    .alias("n_moved_in"))
            .orderBy("cell"))
