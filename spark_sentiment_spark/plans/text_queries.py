"""Text-path queries: cleaning, word-score sentiment, and the text-analysis
extension surface (token stats, quality scores, language ID, fingerprints)
over the ``documents`` table."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_sentiment_spark.functions.lexicon import LEXICON_CSV
from spark_sentiment_spark.functions.text import (clean_text_col,
                                                  clean_text_sql, has_text)
from spark_sentiment_spark.operators.bm25 import (BM25_SQL,
                                                  bm25_query_frame,
                                                  bm25_score_topk,
                                                  bm25_tokens)
from spark_sentiment_spark.operators.quality import (C4_FEATS_SQL,
                                                     C4_KEEP_SQL,
                                                     C4_REASON_SQL,
                                                     GOPHER_FEATS_SQL,
                                                     GOPHER_KEEP_SQL,
                                                     GOPHER_REASON_SQL,
                                                     c4_feats, gopher_feats,
                                                     stopword_langid)
from spark_sentiment_spark.operators.postings import term_pairs
from spark_sentiment_spark.plans.registry import (load, register,
                                                  track_persist)

# --- Cleaning (native regexp chain, F4-F7 / U1) -----------------------------

CLEAN_SQL = f"""
SELECT doc_id, {clean_text_sql('text')} AS cleaned
FROM documents
ORDER BY doc_id
"""


@register(sql=CLEAN_SQL)
def clean_text(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return (docs.select("doc_id", clean_text_col("text").alias("cleaned"))
            .orderBy("doc_id"))


# --- Word-score sentiment (flagship; M13/A8/J2 as a native plan) ------------

WORDSCORE_SQL = f"""
WITH lex AS (
  SELECT word, avg(score) AS score
  FROM read_csv('{LEXICON_CSV}', header=true,
                columns={{'word': 'VARCHAR', 'score': 'DOUBLE'}})
  GROUP BY word
  HAVING avg(score) <> 0
),
toks AS (
  SELECT doc_id, unnest(string_split({clean_text_sql('text')}, ' ')) AS token
  FROM documents
  WHERE text IS NOT NULL
),
per_doc AS (
  SELECT t.doc_id,
         coalesce(sum(l.score), 0.0) AS s,
         count(l.score)              AS n
  FROM toks t LEFT JOIN lex l ON t.token = l.word
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       round(coalesce(CASE WHEN p.n > 0 THEN p.s / p.n END, 0.0), 6) AS sentiment
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
ORDER BY d.doc_id
"""


@register(sql=WORDSCORE_SQL, bench=True)
def wordscore_sentiment(spark, sf_dir):
    from spark_sentiment_spark.operators.wordscore import score_documents_raw

    docs = load(spark, sf_dir, "documents")
    return score_documents_raw(docs).orderBy("doc_id")


@register()
def wordscore_full_parity(spark, sf_dir):
    """Full reference-parity scoring (stemming + duplicate-char fallback,
    PlainTextAnalyser.computeSentiment). Not SQL-expressible (Porter stemmer)
    → rows-only check; pinned instead by the differential test in
    tests/test_wordscore.py."""
    from spark_sentiment_spark.operators.wordscore import score_documents

    docs = load(spark, sf_dir, "documents")
    return (score_documents(docs)
            .select("doc_id", F.round("sentiment", 6).alias("sentiment"))
            .orderBy("doc_id"))


# --- Word-list extraction (M16, entry point C) ------------------------------

WORDLIST_SQL = """
WITH docs AS (
  SELECT lang AS category, row_number() OVER () AS doc,
         string_split(text, ' ') AS toks
  FROM documents WHERE text IS NOT NULL
),
tokens AS (SELECT category, doc, unnest(toks) AS word FROM docs),
tf AS (SELECT category, doc, word, count(*) AS tf
       FROM tokens GROUP BY 1, 2, 3),
vocab AS (
  SELECT category, word, count(*) AS doc_freq, sum(tf) AS total_tf
  FROM tf GROUP BY 1, 2 HAVING count(*) >= 5
),
overlap AS (SELECT word FROM vocab GROUP BY word HAVING count(*) > 2)
SELECT category, word, CAST(doc_freq AS BIGINT) AS doc_freq,
       CAST(total_tf AS BIGINT) AS total_tf
FROM vocab WHERE word NOT IN (SELECT word FROM overlap)
ORDER BY category, word
"""


@register(sql=WORDLIST_SQL)
def wordlist_extraction(spark, sf_dir):
    """M16: per-category vocabulary (minDF=5; minTF accepted-but-unused,
    matching CountVectorizer.fit) minus words in >2 category vocabularies —
    CreateScoreList.score as one DataFrame plan
    (operators.wordlist_extraction), keyed here on documents.lang."""
    from spark_sentiment_spark.operators.wordlist_extraction import (
        extract_wordlists)

    docs = load(spark, sf_dir, "documents")
    return (extract_wordlists(docs, "text", "lang")
            .select("category", "word",
                    F.col("doc_freq").cast("long").alias("doc_freq"),
                    F.col("total_tf").cast("long").alias("total_tf"))
            .orderBy("category", "word"))


WORDLIST_SCALED_SQL = """
WITH docs AS (
  SELECT lang AS category, row_number() OVER () AS doc,
         string_split(text, ' ') AS toks
  FROM documents WHERE text IS NOT NULL
),
tokens AS (SELECT category, doc, unnest(toks) AS word FROM docs),
tf AS (SELECT category, doc, word, count(*) AS tf
       FROM tokens GROUP BY 1, 2, 3),
vocab AS (
  SELECT category, word, count(*) AS doc_freq, sum(tf) AS total_tf
  FROM tf GROUP BY 1, 2 HAVING count(*) >= 2
),
overlap AS (SELECT word FROM vocab GROUP BY word HAVING count(*) > 5)
SELECT category, word, CAST(doc_freq AS BIGINT) AS doc_freq,
       CAST(total_tf AS BIGINT) AS total_tf
FROM vocab WHERE word NOT IN (SELECT word FROM overlap)
ORDER BY category, word
"""


@register(sql=WORDLIST_SCALED_SQL)
def wordlist_extraction_scaled(spark, sf_dir):
    """M16 with fixture-scaled thresholds (minDF=2, overlap_limit=5): the
    reference-parity constants (minDF=5, overlap>2) retain only 2 rows at
    sf0.01 — the synthetic corpus shares its vocabulary across all 5 langs,
    so every dense word trips the overlap filter. This variant disables the
    overlap cut (limit = category count) to hash a dense vocabulary through
    the same tf/df aggregation plan; the reference-parity constants stay on
    the primary ``wordlist_extraction`` query and the operator API."""
    from spark_sentiment_spark.operators.wordlist_extraction import (
        extract_wordlists)

    docs = load(spark, sf_dir, "documents")
    return (extract_wordlists(docs, "text", "lang", min_df=2,
                              overlap_limit=5)
            .select("category", "word",
                    F.col("doc_freq").cast("long").alias("doc_freq"),
                    F.col("total_tf").cast("long").alias("total_tf"))
            .orderBy("category", "word"))


# --- Text analysis extension surface ---------------------------------------

def _word_ngrams(w, n: int):
    """array<string> of space-joined word n-grams from a token array —
    native transform/slice, no UDF. Caller guards size(w) >= n."""
    return F.transform(
        F.sequence(F.lit(1), F.size(w) - (n - 1)),
        lambda i: F.array_join(F.slice(w, i, n), " "),
    )


def _doc_ngrams(spark, sf_dir, n: int, per_doc=lambda grams: grams):
    """(doc_id, g): one row per word n-gram (space-split tokens) of every
    document with at least n tokens; ``per_doc`` maps each document's
    n-gram array before the explode."""
    w = F.split(F.col("text"), " ", -1)
    return (load(spark, sf_dir, "documents")
            .where(F.col("text").isNotNull() & (F.size(w) >= n))
            .select("doc_id", F.explode(per_doc(_word_ngrams(w, n)))
                    .alias("g")))


REPETITION_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE text IS NOT NULL
),
grams AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
  FROM toks, LATERAL unnest(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3
)
SELECT doc_id,
       CAST(count(*) AS BIGINT)          AS n_grams,
       CAST(count(DISTINCT g) AS BIGINT) AS n_distinct,
       round(1 - count(DISTINCT g)::DOUBLE / count(*), 6) AS rep_ratio
FROM grams
GROUP BY doc_id
ORDER BY doc_id
"""


@register(sql=REPETITION_SQL)
def quality_repetition(spark, sf_dir):
    """Within-document repetition score (the Gopher-rules quality signal):
    fraction of duplicate word 3-grams per doc. One explode + one hash
    aggregation on doc_id — linear, single shuffle; countDistinct is
    partial-aggregated, so the wire carries (doc, gram) groups, not the
    token stream."""
    return (
        _doc_ngrams(spark, sf_dir, 3).groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_grams"),
             F.countDistinct("g").alias("n_distinct"))
        .select(
            "doc_id", "n_grams", "n_distinct",
            F.round(1 - F.col("n_distinct") / F.col("n_grams"), 6)
            .alias("rep_ratio"),
        )
        .orderBy("doc_id")
    )


DECONTAMINATE_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE text IS NOT NULL
),
grams AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
  FROM toks, LATERAL unnest(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3
),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 5)
SELECT doc_id, CAST(count(DISTINCT g) AS BIGINT) AS n_hits
FROM grams
WHERE doc_id >= 5 AND g IN (SELECT g FROM bench)
GROUP BY doc_id
ORDER BY doc_id
"""


@register(sql=DECONTAMINATE_SQL)
def decontaminate_ngram(spark, sf_dir):
    """Benchmark decontamination: flag training documents sharing any word
    3-gram with a benchmark set (stand-in here: the n-grams of doc_id < 5;
    in production, the eval-suite's n-grams). The benchmark side is tiny
    and broadcast; the corpus explodes once and aggregates on doc_id — one
    shuffle, no benchmark-side scan of the corpus. Returns (doc_id,
    n_hits) per contaminated document."""
    grams = _doc_ngrams(spark, sf_dir, 3)
    bench = (grams.where(F.col("doc_id") < 5)
             .select("g").distinct())
    return (
        grams.where(F.col("doc_id") >= 5)
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_hits"))
        .orderBy("doc_id")
    )

NOVELTY_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE text IS NOT NULL
),
grams AS (
  SELECT DISTINCT doc_id,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
              || ' ' || w[i+4] AS g
  FROM toks, LATERAL unnest(generate_series(1, len(w) - 4)) AS t(i)
  WHERE len(w) >= 5
),
seen AS (
  SELECT doc_id, g, min(doc_id) OVER (PARTITION BY g) AS first_doc
  FROM grams
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
                                AS novel_grams,
       round(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6)     AS novelty
FROM seen
GROUP BY doc_id
ORDER BY doc_id
"""


@register(sql=NOVELTY_SQL)
def ngram_novelty(spark, sf_dir):
    """Per-document novelty: the fraction of a doc's distinct word 5-grams
    whose first corpus appearance (min doc_id) is this document. The
    marginal-content signal an ingest pipeline ranks candidates by — a doc
    full of already-seen spans adds little even when no single dedup rule
    fires; complements `dedup_char_ngrams` (verbatim spans) and
    `decontaminate_ngram` (benchmark overlap).

    Plan: explode each doc's *distinct* 5-grams (array_distinct before the
    explode, so the wire carries per-doc gram sets, not the token stream),
    then a min-over-gram window instead of a grams⋈firsts self-join — one
    shuffle on the high-cardinality gram key, one on doc_id for the final
    agg. No driver state; gram keys are near-uniform so the window
    partitioning has no skew at web scale."""
    grams = _doc_ngrams(spark, sf_dir, 5, F.array_distinct)
    wg = Window.partitionBy("g")
    novel = (F.col("first_doc") == F.col("doc_id")).cast("long")
    return (
        grams.withColumn("first_doc", F.min("doc_id").over(wg))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_grams"),
             F.sum(novel).alias("novel_grams"))
        .select("doc_id", "n_grams", "novel_grams",
                F.round(F.col("novel_grams") / F.col("n_grams"), 6)
                .alias("novelty"))
        .orderBy("doc_id")
    )


WORDCOUNT_SQL = """
SELECT lang,
       count(*) AS n_docs,
       round(avg(n_chars), 4)                                AS avg_chars,
       round(avg(CAST(len(string_split(text, ' ')) AS DOUBLE)), 4) AS avg_words
FROM documents
GROUP BY lang
ORDER BY lang
"""


@register(sql=WORDCOUNT_SQL)
def text_stats_by_lang(spark, sf_dir):
    """A1 (avg word count) generalized to per-group statistics."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.round(F.avg(F.size(F.split(F.col("text"), " ", -1))
                          .cast("double")), 4).alias("avg_words"),
        )
        .orderBy("lang")
    )


TOKCOUNT_SQL = r"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT)          AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
                                                             AS bpe_ish_tokens,
       CAST(length(text) AS BIGINT)                          AS n_chars
FROM documents
ORDER BY doc_id
"""


@register(sql=TOKCOUNT_SQL)
def token_counts(spark, sf_dir):
    """Token counting: whitespace tokens + a BPE-ish regex token count
    (letters runs / digit runs / single punctuation)."""
    docs = load(spark, sf_dir, "documents")
    pat = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
    return (
        docs.select(
            "doc_id",
            F.size(F.split(F.col("text"), " ", -1)).cast("long").alias("ws_tokens"),
            F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), 0))
            .cast("long").alias("bpe_ish_tokens"),
            F.length("text").cast("long").alias("n_chars"),
        )
        .orderBy("doc_id")
    )


QUALITY_SQL = r"""
SELECT doc_id,
       round(CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1), 6)                      AS alpha_ratio,
       round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / greatest(len(string_split(text, ' ')), 1), 6)      AS distinct_ratio,
       CASE WHEN length(text) >= 80 AND length(text) <= 2000 THEN 1 ELSE 0 END AS len_ok
FROM documents
ORDER BY doc_id
"""


@register(sql=QUALITY_SQL)
def quality_scores(spark, sf_dir):
    """Document quality heuristics: alpha-character ratio, distinct-token
    ratio (repetition detector), length gate — the standard pretraining-data
    quality trio, all JVM-native."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ", -1)
    return (
        docs.select(
            "doc_id",
            F.round(
                F.length(F.regexp_replace("text", "[^a-zA-Z ]", ""))
                .cast("double")
                / F.greatest(F.length("text"), F.lit(1)), 6
            ).alias("alpha_ratio"),
            F.round(
                F.size(F.array_distinct(toks)).cast("double")
                / F.greatest(F.size(toks), F.lit(1)), 6
            ).alias("distinct_ratio"),
            F.when(F.length("text").between(80, 2000), 1).otherwise(0)
            .cast("int").alias("len_ok"),
        )
        .orderBy("doc_id")
    )


LANGID_SQL = """
WITH scored AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'is'))) AS BIGINT) AS en_hits,
         CAST(len(list_filter(string_split(text, ' '), t -> t IN ('der', 'die', 'das', 'und', 'ist'))) AS BIGINT) AS de_hits,
         CAST(len(list_filter(string_split(text, ' '), t -> t IN ('le', 'la', 'et', 'est', 'les'))) AS BIGINT) AS fr_hits
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
            WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
            WHEN fr_hits > 0 THEN 'fr'
            ELSE 'unknown' END AS predicted_lang
FROM scored
ORDER BY doc_id
"""


@register(sql=LANGID_SQL)
def langid_stopword(spark, sf_dir):
    """Language ID by stop-word voting — the n-gram-heuristic family,
    deterministic and fully native (no Python). The classifier
    (`operators.quality.stopword_langid`) also feeds `langid_confusion`
    and `langid_kappa`."""
    return (stopword_langid(load(spark, sf_dir, "documents"))
            .orderBy("doc_id"))


_RH_B, _RH_P = 1_000_003, (1 << 31) - 1

ROLLING_HASH_SQL = f"""
SELECT doc_id,
       list_reduce(
         list_prepend(0::BIGINT,
           list_transform(string_split(lower(text), ' '),
                          t -> (('0x' || substr(md5(t), 1, 8))::BIGINT)
                               % {_RH_P})),
         (acc, x) -> (acc * {_RH_B} + x) % {_RH_P}) AS rolling_hash,
       CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
FROM documents
WHERE text IS NOT NULL
ORDER BY doc_id
"""


@register(sql=ROLLING_HASH_SQL)
def doc_rolling_hash(spark, sf_dir):
    """Rolling (polynomial) document fingerprint, fully native: per-token
    hash folded left with acc = (acc * B + h) mod p over the token
    sequence (Rabin–Karp family) — order-sensitive, so permuted documents
    fingerprint differently (unlike the bag-of-words hash above). One
    narrow aggregate per row via F.aggregate; no shuffle, no Python.

    Exact-hash oracle: the per-token hash is the
    first 8 md5 hex chars mod p — engine-independent — and DuckDB folds
    the identical sequence with list_reduce, so the driver's value-hash
    check covers the full fold, replacing the old engine-specific
    xxhash64. The 31-bit modulus keeps acc*B + h < 2^52 (no overflow)."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    B, p = _RH_B, _RH_P
    toks = F.split(F.lower(F.col("text")), " ", -1)
    h31 = lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10) \
        .cast("long") % F.lit(p)
    fold = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: F.pmod(acc * F.lit(B) + h31(t), F.lit(p)),
    )
    return (docs.select("doc_id", fold.alias("rolling_hash"),
                        F.size(toks).cast("long").alias("n_tokens"))
            .orderBy("doc_id"))


FINGERPRINT_SQL = """
SELECT doc_id,
       md5(lower(trim(text)))                                 AS content_hash,
       md5(array_to_string(list_sort(list_distinct(string_split(lower(trim(text)), ' '))), ' '))
                                                              AS bow_fingerprint
FROM documents
ORDER BY doc_id
"""


@register(sql=FINGERPRINT_SQL)
def doc_fingerprints(spark, sf_dir):
    """Document fingerprinting: exact content hash + order-insensitive
    bag-of-words fingerprint (sorted distinct tokens)."""
    docs = load(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text")))
    toks = F.array_sort(F.array_distinct(F.split(norm, " ", -1)))
    return (
        docs.select(
            "doc_id",
            F.md5(norm.cast("binary")).alias("content_hash"),
            F.md5(F.array_join(toks, " ").cast("binary")).alias("bow_fingerprint"),
        )
        .orderBy("doc_id")
    )


CHUNKS_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
SELECT doc_id, CAST(i AS INT) AS chunk_id,
       array_to_string(t[i*32+1 : i*32+32], ' ') AS chunk_text,
       CAST(least(len(t) - i*32, 32) AS INT) AS n_tokens
FROM toks, LATERAL (
  SELECT unnest(generate_series(0, CAST(ceil(len(t)/32.0) AS BIGINT) - 1)) AS i)
ORDER BY doc_id, chunk_id
"""


@register(sql=CHUNKS_SQL)
def doc_chunks(spark, sf_dir):
    """Fixed-size training-chunk extraction via the Python-UDTF +
    lateralJoin surface (functions/chunker.py): one row per 32-token
    window of each document. The oracle builds the same chunks with
    DuckDB list slicing."""
    from spark_sentiment_spark.functions.chunker import chunk_documents

    docs = load(spark, sf_dir, "documents")
    return (chunk_documents(docs.select("doc_id", "text"))
            .select("doc_id", "chunk_id", "chunk_text", "n_tokens")
            .orderBy("doc_id", "chunk_id"))


ZSCORE_SQL = """
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT doc_id, lang, n_tokens,
       round((n_tokens - avg(n_tokens) OVER (PARTITION BY lang))
             / NULLIF(stddev_samp(n_tokens) OVER (PARTITION BY lang), 0),
             4) AS z
FROM t
ORDER BY doc_id
"""


@register(sql=ZSCORE_SQL)
def quality_zscore_by_lang(spark, sf_dir):
    """Per-language token-count z-score via plain grouped applyInPandas —
    the remaining cell of the pandas-API matrix (mapInPandas: multimodal;
    cogrouped: operators.asof; withState: streaming). Within-group
    normalization is the canonical use: each language's docs meet as one
    Arrow batch, pandas normalizes against the group's own mean/std
    (sample std, ddof=1 — matches stddev_samp). A native window twin
    exists trivially; grouped applyInPandas is the pattern once per-group
    logic needs real pandas/numpy (robust scalers, per-group model
    scoring). One shuffle on the group key, groups must fit per-worker."""
    import pandas as pd

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        std = pdf["n_tokens"].std(ddof=1)
        mean = pdf["n_tokens"].mean()
        z = (pdf["n_tokens"] - mean) / std if std and std > 0 else None
        return pdf.assign(z=(z.round(4) if z is not None else None))

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang",
        F.size(F.split("text", " ", -1)).cast("long").alias("n_tokens"))
    return (toks.groupBy("lang")
            .applyInPandas(zscore,
                           "doc_id long, lang string, n_tokens long, z double")
            .orderBy("doc_id"))


TFIDF_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
  FROM documents WHERE text IS NOT NULL),
toks_clean AS (SELECT doc_id, term FROM toks WHERE term <> ''),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks_clean GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks_clean GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents WHERE text IS NOT NULL),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n)
SELECT doc_id, term, tfidf
FROM (SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
      FROM scored)
WHERE rn <= 3
ORDER BY doc_id, tfidf DESC, term
"""


@register(sql=TFIDF_SQL, bench=True)
def text_tfidf_topk(spark, sf_dir):
    """Top-3 TF-IDF terms per document, fully native: explode → two hash
    aggs (term-frequency and doc-frequency) → broadcast of the corpus-size
    scalar → per-doc top-k window. The doc-frequency side aggregates to
    |vocabulary| rows, so at 100 TB it broadcasts (vocab << corpus); the
    only big shuffles are the two partial+final aggs on (doc_id, term) and
    the window partition on doc_id."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), r"\s+")).alias("term"),
    ).where(F.col("term") != "")
    # The corpus is exploded exactly once: tf holds distinct (doc, term)
    # rows, so doc-frequency is a plain count over tf — no second pass over
    # the token stream and no two-phase countDistinct.
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    tf = track_persist(tf)  # per (doc, term) row
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "term",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("tfidf"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .drop("rn")
        .orderBy("doc_id", F.desc("tfidf"), F.asc("term"))
    )


OUTLIER_TRIM_SQL = """
WITH b AS (
  SELECT lang,
         percentile_cont(0.05) WITHIN GROUP (ORDER BY n_chars) AS lo,
         percentile_cont(0.95) WITHIN GROUP (ORDER BY n_chars) AS hi
  FROM documents GROUP BY lang)
SELECT doc_id, d.lang, n_chars
FROM documents d JOIN b ON d.lang = b.lang
WHERE n_chars BETWEEN lo AND hi
ORDER BY doc_id
"""


@register(sql=OUTLIER_TRIM_SQL)
def quality_outlier_trim(spark, sf_dir):
    """Length-outlier filtering for training corpora: keep documents within
    the per-language [p05, p95] band of n_chars. The percentile bounds
    aggregate to |languages| rows and broadcast back onto the corpus, so at
    100 TB this is one partial+final digest agg plus a map-side filter —
    the corpus itself never shuffles."""
    docs = load(spark, sf_dir, "documents")
    bounds = docs.groupBy("lang").agg(
        F.percentile("n_chars", F.lit(0.05)).alias("lo"),
        F.percentile("n_chars", F.lit(0.95)).alias("hi"),
    )
    return (
        docs.join(F.broadcast(bounds), "lang")
        .where(F.col("n_chars").between(F.col("lo"), F.col("hi")))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


STRAT_SAMPLE_SQL = """
SELECT doc_id, lang, n_chars
FROM documents
WHERE substring(md5(concat(lang, ':', CAST(doc_id AS VARCHAR))), 1, 4)
      < CASE WHEN lang = 'en' THEN '8000' ELSE '4000' END
ORDER BY doc_id
"""


@register(sql=STRAT_SAMPLE_SQL)
def sample_stratified(spark, sf_dir):
    """Stratified sampling without a shuffle: per-stratum Bernoulli draw
    (en 0.5, others 0.25) decided by comparing an md5 prefix of
    ``lang:doc_id`` against the stratum's hex threshold, map-side during
    the scan. Salting the hash with the stratum makes each stratum's draw
    independent. Content-addressed membership, unlike seeded ``sampleBy``
    (an engine-private RNG stream, checkable by row count only), is
    stable across runs, engines, and repartitioning, so the DuckDB twin
    is exact — same trick as ``mixture_sample``.
    tests/test_sampling.py pins determinism and per-stratum rates."""
    docs = load(spark, sf_dir, "documents")
    b = F.substring(
        F.md5(F.concat_ws(":", F.col("lang"),
                          F.col("doc_id").cast("string"))), 1, 4)
    thresh = F.when(F.col("lang") == "en", "8000").otherwise("4000")
    return (docs.where(b < thresh)
            .select("doc_id", "lang", "n_chars")
            .orderBy("doc_id"))


BOILERPLATE_SQL = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts
  FROM documents WHERE text IS NOT NULL),
sh AS (
  SELECT doc_id, array_to_string(ts[i:i+4], ' ') AS ngram
  FROM toks
  CROSS JOIN LATERAL (
    SELECT unnest(generate_series(1, len(ts) - 4)) AS i) g)
SELECT ngram, count(*) AS n, count(DISTINCT doc_id) AS n_docs
FROM sh
GROUP BY ngram
HAVING count(DISTINCT doc_id) >= 2
ORDER BY n DESC, ngram
LIMIT 20
"""


@register(sql=BOILERPLATE_SQL)
def boilerplate_ngrams(spark, sf_dir):
    """Corpus-level heavy hitters: the 20 most frequent 5-gram phrases
    appearing in >= 2 distinct documents — the detector for boilerplate
    (headers, licenses, templates) that exact/near dedup misses because the
    *documents* differ while the *phrase* repeats. One explode + one
    two-measure hash agg + a global top-k (TakeOrderedAndProject, no full
    sort); index-transform shingling is O(len) per doc."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = F.split(F.lower("text"), r"\s+")
    ngrams = F.when(
        F.size(F.col("__t")) >= 5,
        F.expr("transform(sequence(0, size(__t) - 5), i -> "
               "concat_ws(' ', __t[i], __t[i+1], __t[i+2], __t[i+3],"
               " __t[i+4]))"),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select("doc_id", toks.alias("__t"))
        .select("doc_id", F.explode(ngrams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"),
             F.countDistinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .orderBy(F.desc("n"), F.asc("ngram"))
        .limit(20)
    )


# --- PII redaction over deterministically injected spans --------------------
# The synthetic corpus carries no PII-like patterns (zero digits/@/http),
# so the query
# INJECTS deterministic doc_id-derived spans first: every output is then a
# real differential of the two engines' regex pipelines. The patterns stay
# inside the Java-regex/RE2 agreement subset (no lookaround/backrefs), as
# functions/redact.py documents.

from spark_sentiment_spark.functions.redact import (EMAIL_RE, IPV4_RE,
                                                    PHONE_RE, URL_RE)

PII_SQL = f"""
WITH inj AS (
  SELECT doc_id,
    text || ' contact ' ||
    CASE WHEN doc_id % 2 = 0
         THEN 'user' || doc_id || '@mail' || (doc_id % 7) || '.example.com'
         ELSE '' END || ' ' ||
    CASE WHEN doc_id % 3 = 0
         THEN 'https://example' || (doc_id % 5) || '.com/page/' || doc_id
         ELSE '' END || ' ' ||
    CASE WHEN doc_id % 5 = 0
         THEN '10.' || (doc_id % 200) || '.' || (doc_id % 250) || '.'
              || (doc_id % 100)
         ELSE '' END || ' ' ||
    CASE WHEN doc_id % 7 = 0
         THEN '+1 415 555 ' || (1000 + doc_id % 9000)
         ELSE '' END AS t
  FROM documents WHERE text IS NOT NULL
), c1 AS (
  SELECT doc_id, len(regexp_extract_all(t, '{EMAIL_RE}')) AS n_email,
         regexp_replace(t, '{EMAIL_RE}', '<EMAIL>', 'g') AS t
  FROM inj
), c2 AS (
  SELECT doc_id, n_email,
         len(regexp_extract_all(t, '{URL_RE}')) AS n_url,
         regexp_replace(t, '{URL_RE}', '<URL>', 'g') AS t
  FROM c1
), c3 AS (
  SELECT doc_id, n_email, n_url,
         len(regexp_extract_all(t, '{IPV4_RE}')) AS n_ip,
         regexp_replace(t, '{IPV4_RE}', '<IP>', 'g') AS t
  FROM c2
), c4 AS (
  SELECT doc_id, n_email, n_url, n_ip,
         len(regexp_extract_all(t, '{PHONE_RE}')) AS n_phone,
         regexp_replace(t, '{PHONE_RE}', '<PHONE>', 'g') AS t
  FROM c3
)
SELECT doc_id, CAST(n_email AS BIGINT) AS n_email,
       CAST(n_url AS BIGINT) AS n_url, CAST(n_ip AS BIGINT) AS n_ip,
       CAST(n_phone AS BIGINT) AS n_phone, md5(t) AS redacted_md5
FROM c4
ORDER BY doc_id
"""


@register(sql=PII_SQL, bench=True)
def pii_redaction(spark, sf_dir):
    """PII scrub as a driver-checked differential: inject
    deterministic doc_id-derived email/URL/IPv4/phone spans into the
    (PII-free) corpus, then run the native regexp_replace redaction chain
    and the per-category audit counts (`functions/redact.py`). The DuckDB
    twin replays injection, counting, and rewriting with the identical
    patterns (Java-regex/RE2 agreement subset), hashing the redacted text
    — so tag placement, rule ordering (emails before URLs before IPs
    before phones), and count attribution are all value-checked.

    Scale: pure map-side column work — scan → concat → regex chain; no
    shuffle, no Python. The injection is a test harness; production use
    is `redact_pii(col)` on real text."""
    from spark_sentiment_spark.functions.redact import pii_counts, redact_pii

    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    did = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    email = F.when(did % 2 == 0, F.concat(
        F.lit("user"), s(did), F.lit("@mail"), s(did % 7),
        F.lit(".example.com"))).otherwise("")
    url = F.when(did % 3 == 0, F.concat(
        F.lit("https://example"), s(did % 5), F.lit(".com/page/"),
        s(did))).otherwise("")
    ip = F.when(did % 5 == 0, F.concat(
        F.lit("10."), s(did % 200), F.lit("."), s(did % 250), F.lit("."),
        s(did % 100))).otherwise("")
    phone = F.when(did % 7 == 0, F.concat(
        F.lit("+1 415 555 "), s(1000 + did % 9000))).otherwise("")
    inj = F.concat(F.col("text"), F.lit(" contact "), email, F.lit(" "),
                   url, F.lit(" "), ip, F.lit(" "), phone)
    counted = docs.select(
        "doc_id", pii_counts(inj).alias("c"),
        F.md5(redact_pii(inj)).alias("redacted_md5"))
    return (counted.select(
        "doc_id",
        F.col("c.email").cast("bigint").alias("n_email"),
        F.col("c.url").cast("bigint").alias("n_url"),
        F.col("c.ip").cast("bigint").alias("n_ip"),
        F.col("c.phone").cast("bigint").alias("n_phone"),
        "redacted_md5")
        .orderBy("doc_id"))


# --- Char-trigram language ID (Cavnar-Trenkle-style ranked profiles) --------

_LCN_P = 100   # profile size: top-P trigrams per language


LANGID_NGRAM_SQL = f"""
WITH base AS (
  SELECT doc_id, lang, lower(text) AS s FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
), tri AS (
  SELECT DISTINCT doc_id, lang, unnest(
    CASE WHEN length(s) >= 3
         THEN list_transform(generate_series(1, length(s) - 2),
                             i -> substr(s, i, 3))
         ELSE [s] END) AS g
  FROM base
), prof_counts AS (
  SELECT lang AS plang, g, count(*) AS c
  FROM tri WHERE doc_id % 2 = 0
  GROUP BY 1, 2
), prof AS (
  SELECT plang, g,
         row_number() OVER (PARTITION BY plang ORDER BY c DESC, g) AS rnk
  FROM prof_counts
), profk AS (
  SELECT plang, g, {_LCN_P + 1} - rnk AS wgt FROM prof WHERE rnk <= {_LCN_P}
), test AS (
  SELECT doc_id, lang, g FROM tri WHERE doc_id % 2 = 1
), scores AS (
  SELECT t.doc_id, t.lang, p.plang, sum(p.wgt) AS score
  FROM test t JOIN profk p ON t.g = p.g
  GROUP BY 1, 2, 3
), best AS (
  SELECT doc_id, lang, plang,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, plang) AS rn
  FROM scores
), pred AS (
  SELECT d.doc_id, d.lang,
         coalesce(b.plang, 'unknown') AS predicted_lang
  FROM (SELECT DISTINCT doc_id, lang FROM test) d
  LEFT JOIN (SELECT doc_id, plang FROM best WHERE rn = 1) b USING (doc_id)
)
SELECT lang, predicted_lang, CAST(count(*) AS BIGINT) AS n
FROM pred GROUP BY 1, 2
ORDER BY lang, predicted_lang
"""


@register(sql=LANGID_NGRAM_SQL)
def langid_char_ngram(spark, sf_dir):
    """Second language-ID method next to the stop-word voter: ranked
    char-TRIGRAM profiles (Cavnar-Trenkle's n-gram-frequency scheme with
    integer rank weights). Even doc_ids train — per language, the top-100
    trigrams by document frequency, rank r carrying weight 101-r — and
    odd doc_ids are classified by the profile-weight sum of their
    distinct trigrams, argmax with a (score desc, lang) total order so
    ties are deterministic; docs hitting no profile fall back to
    'unknown'. Output is the same long-format confusion matrix as
    langid_confusion, making the two methods directly comparable.

    Everything is count arithmetic — no floats anywhere — so the DuckDB
    twin reproduces scores exactly. Scale: profiles are bounded
    (|langs| x 100 rows) and broadcast into the scoring join; the corpus
    explodes to distinct (doc, trigram) pairs exactly once; the argmax
    window partitions by doc_id. Char trigrams need no tokenizer, which
    is why this family is the standard cheap first-pass filter before
    any model-based language ID at web scale."""
    docs = load(spark, sf_dir, "documents").where(has_text())
    base = docs.select("doc_id", "lang", F.lower("text").alias("s"))
    grams = F.when(
        F.length("s") >= 3,
        F.expr("transform(sequence(1, length(s) - 2),"
               " i -> substring(s, i, 3))")
    ).otherwise(F.array(F.col("s")))
    tri = track_persist(
        base.select("doc_id", "lang", F.explode(grams).alias("g"))
        .distinct())  # per distinct (doc, trigram) — text-sized
    wprof = Window.partitionBy("plang").orderBy(F.col("c").desc(), "g")
    profk = (tri.where(F.col("doc_id") % 2 == 0)
             .groupBy(F.col("lang").alias("plang"), "g")
             .agg(F.count(F.lit(1)).alias("c"))
             .select("plang", "g", F.row_number().over(wprof).alias("rnk"))
             .where(F.col("rnk") <= _LCN_P)
             .select("plang", "g", (F.lit(_LCN_P + 1) - F.col("rnk"))
                     .alias("wgt")))
    test = tri.where(F.col("doc_id") % 2 == 1)
    scores = (test.join(F.broadcast(profk), "g")
              .groupBy("doc_id", "lang", "plang")
              .agg(F.sum("wgt").alias("score")))
    wbest = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), "plang")
    best = (scores.select("doc_id", "plang",
                          F.row_number().over(wbest).alias("rn"))
            .where(F.col("rn") == 1)
            .select("doc_id", "plang"))
    pred = (test.select("doc_id", "lang").distinct()
            .join(best, "doc_id", "left")
            .select("lang", F.coalesce("plang", F.lit("unknown"))
                    .alias("predicted_lang")))
    return (pred.groupBy("lang", "predicted_lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .orderBy("lang", "predicted_lang"))


# --- Fuzzy lexicon join (J3 routed through the driver gate) -----------------

FUZZY_MATCH_SQL = f"""
WITH lex AS (
  SELECT word, avg(score) AS score
  FROM read_csv('{LEXICON_CSV}', header=true,
                columns={{'word': 'VARCHAR', 'score': 'DOUBLE'}})
  GROUP BY word
  HAVING avg(score) <> 0
), tok AS (
  SELECT DISTINCT unnest(string_split(lower(text), ' ')) AS t
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
), un AS (
  SELECT t FROM tok
  WHERE length(t) >= 3 AND regexp_matches(t, '^[a-z]+$')
    -- NOT EXISTS, not NOT IN: a NULL lexicon word would NULL-poison
    -- NOT IN (zero rows) while the Spark plan's left_anti keeps them
    AND NOT EXISTS (SELECT 1 FROM lex WHERE lex.word = tok.t)
), cand AS (
  SELECT u.t, l.score, levenshtein(u.t, l.word) AS dist
  FROM un u, lex l
  WHERE abs(length(u.t) - length(l.word)) <= 2
    AND u.t <> l.word
    AND levenshtein(u.t, l.word) <= 2
), best AS (
  SELECT t, min(dist) AS mind FROM cand GROUP BY t
)
SELECT c.t AS token,
       round(avg(c.score), 6) AS fuzzy_score,
       CAST(min(c.dist) AS BIGINT) AS distance
FROM cand c JOIN best b ON c.t = b.t AND c.dist = b.mind
GROUP BY c.t
ORDER BY token
"""


@register(sql=FUZZY_MATCH_SQL)
def fuzzy_lexicon_match(spark, sf_dir):
    """The J3 fuzzy Levenshtein fallback routed through the driver gate
    (previously unit-only): corpus tokens that miss the lexicon exactly
    (lowercase-alpha, length >= 3) are matched by
    ``operators/wordscore.py::fuzzy_lexicon_scores`` — a broadcast
    theta-join pruned by the +-2 length band, scored as the MEAN lexicon
    score over candidates at the SMALLEST edit distance (distance-1
    beats distance-2, the reference's dx cascade,
    SRC/utils/WordList.scala:19-26). Levenshtein with unit costs is
    engine-unambiguous, lexicon means are exact (integer-valued scores),
    so the naive DuckDB cross join replays the result bit-for-bit.

    Scale: the theta-join's probe side is the DISTINCT unmatched
    vocabulary (never the corpus stream) against an 11k-word broadcast
    lexicon — millions of cheap predicate evals per executor, linear in
    vocabulary, embarrassingly parallel."""
    from spark_sentiment_spark.functions.lexicon import raw_lexicon_df
    from spark_sentiment_spark.operators.wordscore import (
        fuzzy_lexicon_scores)

    docs = load(spark, sf_dir, "documents").where(has_text())
    tok = (docs.select(F.explode(F.split(F.lower("text"), " ", -1))
                       .alias("t"))
           .where((F.length("t") >= 3) & F.col("t").rlike("^[a-z]+$"))
           .distinct())
    lex_words = raw_lexicon_df(spark).where(F.col("score") != 0) \
        .select(F.col("word").alias("t"))
    unmatched = tok.join(F.broadcast(lex_words), "t", "left_anti")
    scored = fuzzy_lexicon_scores(unmatched, token_col="t", max_distance=2)
    return (scored.select(F.col("t").alias("token"),
                          F.round("fuzzy_score", 6).alias("fuzzy_score"),
                          F.col("distance").cast("bigint").alias("distance"))
            .orderBy("token"))


# --- GPT-2-style regex pre-tokenizer counts ---------------------------------

# The byte-pair pre-tokenizer's regex family, in the RE2-compatible
# subset (no lookahead — the \s+(?!\S) tail branch is dropped; whitespace
# is delimiter, not token). Verified to tokenize identically under
# Java's regex (Spark) and RE2 (DuckDB).
TOKEN_REGEX = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"

_TOKEN_REGEX_SQL = TOKEN_REGEX.replace("'", "''")

TOKEN_REGEX_SQL = f"""
SELECT lang,
       CAST(sum(len(regexp_extract_all(text, '{_TOKEN_REGEX_SQL}')))
            AS BIGINT) AS n_subword_tokens,
       CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
         AS n_ws_tokens,
       CAST(sum(length(text)) AS BIGINT) AS n_chars,
       round(CAST(sum(len(regexp_extract_all(text, '{_TOKEN_REGEX_SQL}')))
                  AS DOUBLE)
             / sum(len(string_split_regex(trim(text), '\\s+'))), 6)
         AS fertility
FROM documents
WHERE text IS NOT NULL AND trim(text) <> ''
GROUP BY lang
ORDER BY lang
"""


@register(sql=TOKEN_REGEX_SQL)
def token_counts_regex(spark, sf_dir):
    """Per-language token accounting under the GPT-2-style regex
    pre-tokenizer (contraction suffixes, space-prefixed letter/digit
    runs, punctuation runs) next to the whitespace count — their ratio
    is the FERTILITY metric (sub-tokens per word) that prices a corpus
    in tokenizer units before training. The pattern stays in the
    RE2-compatible subset (no lookahead), which is what lets the DuckDB
    twin tokenize identically to the JVM; token_counts (whitespace) and
    bpe_token_counts (learned merges) are the other two rungs of the
    same ladder.

    Scale: a pure per-row projection into a bounded per-lang aggregate —
    scan-speed, zero joins, zero windows."""
    docs = load(spark, sf_dir, "documents").where(has_text())
    sub = F.size(F.regexp_extract_all("text", F.lit(TOKEN_REGEX), 0))
    ws = F.size(F.split(F.trim("text"), r"\s+"))
    return (docs.groupBy("lang")
            .agg(F.sum(sub).cast("bigint").alias("n_subword_tokens"),
                 F.sum(ws).cast("bigint").alias("n_ws_tokens"),
                 F.sum(F.length("text")).cast("bigint").alias("n_chars"))
            .select("lang", "n_subword_tokens", "n_ws_tokens", "n_chars",
                    F.round(F.col("n_subword_tokens").cast("double")
                            / F.col("n_ws_tokens"), 6).alias("fertility"))
            .orderBy("lang"))


# --- Positional phrase search + boolean AND retrieval -----------------------

_PHRASES = [("table", "scan"), ("hash", "join"), ("merge", "sort")]
_BOOL_QUERIES = [("q1", ["spark", "join", "window"]),
                 ("q2", ["batch", "stream"]),
                 ("q3", ["customer", "filter", "data"])]

_PHRASE_SEL = "\nUNION ALL\n".join(
    f"SELECT '{w1} {w2}' AS phrase, '{w1}' AS w1, '{w2}' AS w2"
    for w1, w2 in _PHRASES)

PHRASE_SEARCH_SQL = f"""
WITH pos AS (
  SELECT doc_id, t[i] AS w, i
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t
        FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
  CROSS JOIN LATERAL (
    SELECT unnest(generate_series(1, len(t))) AS i) g
), ph AS ({_PHRASE_SEL}
), hits AS (
  SELECT ph.phrase, a.doc_id
  FROM ph
  JOIN pos a ON a.w = ph.w1
  JOIN pos b ON b.doc_id = a.doc_id AND b.i = a.i + 1 AND b.w = ph.w2
)
SELECT ph.phrase AS phrase,
       CAST(count(DISTINCT h.doc_id) AS BIGINT) AS n_docs,
       CAST(count(h.doc_id) AS BIGINT) AS n_matches
FROM ph LEFT JOIN hits h ON ph.phrase = h.phrase
GROUP BY ph.phrase
ORDER BY ph.phrase
"""


@register(sql=PHRASE_SEARCH_SQL)
def search_phrase(spark, sf_dir):
    """POSITIONAL phrase search — the index capability ranked retrieval
    (hybrid_search_rrf) and boolean retrieval don't need but phrase
    queries do: the posting list carries token POSITIONS (posexplode),
    and a two-word phrase matches where the second word's posting has
    position = first + 1 within the same doc. Counts overlapping
    occurrences correctly ("x x x" matches "x x" twice), which is why
    the oracle replays the positional join rather than substring
    counting (replace-based counts miss overlaps). Every probe phrase
    reports, zero-hit phrases included (LEFT JOIN against the phrase
    list).

    Scale: the position join is posting-list-local — partition by the
    rarer word's postings, join on (doc_id, adjacent position); no
    corpus-wide product. At index-build time positions ride along the
    same explode the inverted index already pays."""
    docs = load(spark, sf_dir, "documents").where(has_text())
    pos = track_persist(
        docs.select("doc_id", F.posexplode(
            F.split(F.lower("text"), " ", -1)).alias("i", "w"))
        .select("doc_id", (F.col("i") + 1).alias("i"), "w"))
    ph = None
    for w1, w2 in _PHRASES:
        row = spark.range(1).select(
            F.lit(f"{w1} {w2}").alias("phrase"),
            F.lit(w1).alias("w1"), F.lit(w2).alias("pw2"))
        ph = row if ph is None else ph.union(row)
    a = pos.select("doc_id", "i", F.col("w").alias("w1"))
    b = pos.select(F.col("doc_id").alias("doc_id_b"),
                   (F.col("i") - 1).alias("i_b"), F.col("w").alias("w2b"))
    hits = (F.broadcast(ph).join(a, "w1")
            .join(b, (F.col("doc_id") == F.col("doc_id_b"))
                  & (F.col("i") == F.col("i_b"))
                  & (F.col("pw2") == F.col("w2b")))
            .select("phrase", "doc_id"))
    return (ph.join(hits, "phrase", "left")
            .groupBy("phrase")
            .agg(F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
                 F.count("doc_id").cast("bigint").alias("n_matches"))
            .orderBy("phrase"))


_BOOL_TERMS_SEL = "\nUNION ALL\n".join(
    f"SELECT '{qid}' AS qid, '{t}' AS term"
    for qid, terms in _BOOL_QUERIES for t in terms)

BOOL_SEARCH_SQL = f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS w
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
), q AS ({_BOOL_TERMS_SEL}
), qsize AS (
  SELECT qid, CAST(count(*) AS BIGINT) AS k FROM q GROUP BY qid
), m AS (
  SELECT q.qid, t.doc_id, count(*) AS nhit
  FROM q JOIN tok t ON t.w = q.term
  GROUP BY 1, 2
), hit AS (
  SELECT m.qid, m.doc_id
  FROM m JOIN qsize s ON m.qid = s.qid
  WHERE m.nhit = s.k
)
SELECT s.qid, s.k AS n_terms,
       CAST(count(h.doc_id) AS BIGINT) AS n_docs,
       min(h.doc_id) AS first_doc,
       max(h.doc_id) AS last_doc
FROM qsize s LEFT JOIN hit h ON s.qid = h.qid
GROUP BY s.qid, s.k
ORDER BY s.qid
"""


def _lower_terms(docs):
    """(doc_id, w): one row per lowercased single-space-split token."""
    return docs.select("doc_id", F.explode(
        F.split(F.lower("text"), " ", -1)).alias("w"))


@register(sql=BOOL_SEARCH_SQL)
def search_boolean_and(spark, sf_dir):
    """Boolean AND retrieval over the inverted index: a doc matches a
    query when it contains EVERY query term — resolved as one
    (query, doc) aggregate counting distinct matched terms against the
    query's term count, not as k chained semi-joins (the count form is
    one shuffle regardless of k and is what a posting-list intersection
    compiles to). Per query: match count and first/last doc ids; queries
    with zero hits still report (LEFT JOIN against the query list).
    Completes the retrieval triad: ranked (hybrid_search_rrf), phrase
    (search_phrase), boolean (here).

    Scale: the term list is a broadcast literal; the distinct
    (doc, term) posting table shuffles once on doc_id for the per-doc
    count; everything downstream is query-count-sized. The
    rarest-term-first ordering classic engines use is implicit — docs
    missing any term simply fail the count equality."""
    tok = _lower_terms(
        load(spark, sf_dir, "documents").where(has_text())).distinct()
    q = None
    for qid, terms in _BOOL_QUERIES:
        for t in terms:
            row = spark.range(1).select(F.lit(qid).alias("qid"),
                                        F.lit(t).alias("term"))
            q = row if q is None else q.union(row)
    qsize = q.groupBy("qid").agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    m = (F.broadcast(q).join(tok, F.col("term") == F.col("w"))
         .groupBy("qid", "doc_id").agg(F.count(F.lit(1)).alias("nhit")))
    hit = (m.join(F.broadcast(qsize), "qid")
           .where(F.col("nhit") == F.col("k"))
           .select("qid", "doc_id"))
    return (qsize.join(hit, "qid", "left")
            .groupBy("qid", "k")
            .agg(F.count("doc_id").cast("bigint").alias("n_docs"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc"))
            .select(F.col("qid"), F.col("k").alias("n_terms"),
                    "n_docs", "first_doc", "last_doc")
            .orderBy("qid"))


# --- TF-IDF-weighted lexical near-dup pair join ------------------------------

_TFIDF_DEDUP_DFCAP = 100   # drop terms in > cap docs (stopword mass)
_TFIDF_DEDUP_TAU = 0.3

TFIDF_DEDUP_SQL = f"""
WITH tok AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
    FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
  WHERE w <> ''
), tf AS (
  SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2
), df AS (
  SELECT w, count(*) AS df FROM tf GROUP BY w
), n AS (
  SELECT count(*) AS n_docs FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
), wts AS (
  SELECT tf.doc_id, tf.w,
         CAST(floor(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0))
                    * 1000000.0) AS BIGINT) AS wti
  FROM tf JOIN df USING (w) CROSS JOIN n
  WHERE df.df BETWEEN 2 AND {_TFIDF_DEDUP_DFCAP}
), norms AS (
  SELECT doc_id,
         sum(CAST(wti AS DECIMAL(18,0)) * CAST(wti AS DECIMAL(18,0))) AS ss
  FROM wts GROUP BY doc_id
), dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         sum(CAST(a.wti AS DECIMAL(18,0)) * CAST(b.wti AS DECIMAL(18,0)))
           AS dp
  FROM wts a JOIN wts b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), cos AS (
  SELECT d.doc_a, d.doc_b,
         CAST(d.dp AS DOUBLE)
         / sqrt(CAST(na.ss AS DOUBLE) * CAST(nb.ss AS DOUBLE)) AS cosine
  FROM dots d
  JOIN norms na ON d.doc_a = na.doc_id
  JOIN norms nb ON d.doc_b = nb.doc_id
)
SELECT doc_a, doc_b,
       CAST(floor(cosine * 1000000.0) AS BIGINT) AS cosine_e6
FROM cos
WHERE cosine >= {_TFIDF_DEDUP_TAU}
ORDER BY doc_a, doc_b
"""


@register(sql=TFIDF_DEDUP_SQL)
def dedup_tfidf_cosine(spark, sf_dir):
    """Lexical near-dup pairs by TF-IDF cosine over the inverted index —
    the sparse-VECTOR sibling of the token-set Jaccard family: term
    weights are tf·ln((N+1)/(df+1)), the pair dot product is computed
    term-locally (join postings to postings on the term), and pairs with
    cosine ≥ 0.3 over the RETAINED vocabulary survive. Retention is part
    of the operator's semantics and its scale bound: df=1 terms cannot
    contribute to any pair (lossless prune), df > 100 terms are stopword
    mass whose near-zero idf adds noise, not signal — and capping df
    bounds the per-term pair fanout at cap², making total candidate work
    Σ df² ≤ cap·Σ df, linear in postings.

    Scale: two hash aggs (tf, df) + one scalar broadcast build the
    weighted postings; the self-join shuffles postings once on the term;
    per-pair accumulation is a (doc_a, doc_b) hash agg with map-side
    combine. No all-pairs product anywhere; the df cap is the knob that
    keeps the hottest term's fanout fixed as the corpus grows (raise
    idf-floor / lower cap at 100 TB, same table, same plan).

    Determinism: weights live on an integer 1e-6 grid (floor of
    identical doubles agrees across engines) and dot/norm sums
    accumulate as exact DECIMAL, so the >= tau threshold compares
    identical values in both engines regardless of summation order —
    the token_zipf_fit recipe."""
    docs = load(spark, sf_dir, "documents").where(has_text())
    tok = _lower_terms(docs).where(F.col("w") != "")
    # tf feeds the df rollup and the weighted-postings join: persisted,
    # the corpus explodes once.
    tf = track_persist(
        tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf")))
    df = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    dec = lambda c: F.col(c).cast("decimal(18,0)")
    wts = track_persist(
        tf.join(df.where(F.col("df").between(2, _TFIDF_DEDUP_DFCAP)), "w")
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "w",
                F.floor(F.col("tf") * F.log((F.col("n_docs") + 1.0)
                                            / (F.col("df") + 1.0))
                        * F.lit(1_000_000.0)).cast("bigint").alias("wti")))
    # norms feeds both final join sides: persisted, the aggregation over
    # the cached weights runs once.
    norms = track_persist(wts.groupBy("doc_id").agg(
        F.sum(dec("wti") * dec("wti")).alias("ss")))  # 2 cols per doc
    dots = term_pairs(wts, F.sum(dec("a.wti") * dec("b.wti")).alias("dp"))
    na = norms.select(F.col("doc_id").alias("doc_a"),
                      F.col("ss").alias("ssa"))
    nb = norms.select(F.col("doc_id").alias("doc_b"),
                      F.col("ss").alias("ssb"))
    cosine = (F.col("dp").cast("double")
              / F.sqrt(F.col("ssa").cast("double")
                       * F.col("ssb").cast("double")))
    return (dots.join(na, "doc_a").join(nb, "doc_b")
            .where(cosine >= _TFIDF_DEDUP_TAU)
            .select("doc_a", "doc_b",
                    F.floor(cosine * F.lit(1_000_000.0)).cast("bigint")
                    .alias("cosine_e6"))
            .orderBy("doc_a", "doc_b"))


# --- BM25 ranked retrieval ---------------------------------------------------


@register(sql=BM25_SQL)
def search_bm25(spark, sf_dir):
    """BM25 ranked retrieval (k1=1.2, b=0.75) — the scoring layer the
    retrieval triad lacked: boolean AND (membership), phrase
    (positions), RRF (fusion) — and now probabilistic term-weighted
    RANKING. idf = ln(1 + (N-df+0.5)/(df+0.5)) (the Robertson-Sparck
    Jones form, never negative), per-term gain saturates in tf and is
    length-normalized by dl/avgdl. Top-10 per query; rank order uses the
    ROUNDED score (6 dp) then doc_id so two engines summing partial
    scores in different orders cannot disagree at the boundary.

    Scale: posting lists shuffle once on the term to meet the broadcast
    query list; doc length and the (N, avgdl) scalar are one aggregate
    each (the scalar broadcasts); scoring is a (qid, doc) hash agg over
    matched postings only, and top-k is a window partitioned by qid.
    This IS the inverted-index query plan — nothing touches
    non-matching documents."""
    tok = bm25_tokens(spark, sf_dir)
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tf = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   F.avg("dl").alias("avgdl"))
    return bm25_score_topk(bm25_query_frame(spark), tf, df, dl, stats)


# --- Gopher quality rules -----------------------------------------------------
# The published Gopher rule set (Rae et al. 2021, arXiv:2112.11446 §A1.1),
# the de-facto baseline heuristic gate for web-scale pretraining corpora —
# distinct from `quality_gate` (this repo's composite gate): these are the
# SPECIFIC published thresholds, each rule reported as its measured feature
# so filter-rate dashboards can tune per-rule.

GOPHER_SQL = f"""
WITH feats AS (
{GOPHER_FEATS_SQL}
)
SELECT doc_id, n_words, round(mean_wl, 6) AS mean_word_len,
       round(hash_r, 6) AS hash_word_ratio,
       round(ell_r, 6) AS ellipsis_word_ratio,
       round(bullet_r, 6) AS bullet_ratio,
       round(ellipsis_r, 6) AS ellipsis_ratio,
       round(alpha_r, 6) AS alpha_word_ratio, n_stop AS n_stopwords,
       {GOPHER_KEEP_SQL} AS keep,
       {GOPHER_REASON_SQL} AS reason
FROM feats
ORDER BY doc_id
"""


@register(sql=GOPHER_SQL)
def quality_gopher_rules(spark, sf_dir):
    """The Gopher heuristic quality gate with its published thresholds:
    50–100k words, mean word length 3–10, symbol-to-word ratio ≤ 0.1
    for EACH symbol separately ('#' chars; '...' or '…' ellipses — the
    published rule drops when EITHER ratio exceeds 0.1, so the two are
    measured and thresholded independently), ≤ 90%
    bullet-led lines, ≤ 30% ellipsis-ended lines (both ellipsis forms),
    ≥ 80% words containing an alphabetic character, ≥ 2 of the 8 English
    stop words. Emits every measured feature next to the verdict and a
    first-failing-rule reason.

    Scale shape: pure scan-speed projection — every rule folds over the
    token/line arrays inside one whole-stage-codegen project (higher-order
    functions, no explode, no shuffle except the output sort), so the
    gate runs at I/O speed over 100 TB."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return _gopher_rules(docs)


def _gopher_rules(docs):
    """Formatted `quality_gopher_rules` output over any (doc_id, text)
    frame — split out so tests can exercise the bullet/ellipsis line
    rules on constructed multi-line corpora (the fixture is
    single-line)."""
    feats = gopher_feats(docs)
    return (feats.select(
        "doc_id", "n_words",
        F.round("mean_wl", 6).alias("mean_word_len"),
        F.round("hash_r", 6).alias("hash_word_ratio"),
        F.round("ell_r", 6).alias("ellipsis_word_ratio"),
        F.round("bullet_r", 6).alias("bullet_ratio"),
        F.round("ellipsis_r", 6).alias("ellipsis_ratio"),
        F.round("alpha_r", 6).alias("alpha_word_ratio"),
        F.col("n_stop").alias("n_stopwords"),
        "keep", "reason")
        .orderBy("doc_id"))


# --- C4 quality rules ---------------------------------------------------------
# The C4 cleaning heuristics (Raffel et al. 2020, arXiv:1910.10683 §2.2) —
# the other de-facto published gate next to Gopher: line-level retention
# (terminal punctuation, >= 5 words, no 'javascript') and page-level drops
# ('lorem ipsum', curly brace, < 3 sentences). The bad-words-list page rule
# is intentionally NOT implemented (a policy wordlist, not a measurable
# heuristic; documented omission). Sentence counting: the original used a
# sentence splitter — here sentences are approximated as terminal-mark
# ('.', '!', '?') occurrences in the RETAINED lines, the regex-level
# approximation; thresholds themselves are the published ones.

C4_SQL = f"""
WITH feats AS (
{C4_FEATS_SQL}
)
SELECT doc_id, n_lines, n_kept AS n_kept_lines, n_sent AS n_sentences,
       {C4_KEEP_SQL} AS keep,
       {C4_REASON_SQL} AS reason
FROM feats
ORDER BY doc_id
"""


@register(sql=C4_SQL)
def quality_c4_rules(spark, sf_dir):
    """The C4 heuristic gate with its published thresholds: retain lines
    ending in a terminal punctuation mark ('.', '!', '?', '"') with >= 5
    words and without the word 'javascript'; drop pages containing
    'lorem ipsum' or a curly brace or with fewer than 3 sentences
    (counted as terminal marks in the retained lines — the documented
    regex-level approximation of the original's sentence splitter; the
    bad-words page rule is a policy wordlist and intentionally
    omitted). Emits the measured line/sentence counts next to the
    verdict and a first-failing-rule reason, completing the published
    gate pair next to `quality_gopher_rules`.

    Scale shape: identical to the Gopher gate — every rule folds over
    the line array inside one whole-stage-codegen projection
    (higher-order functions, no explode, no shuffle except the output
    sort), so the gate runs at I/O speed over 100 TB."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return _c4_rules(docs)


def _c4_rules(docs):
    """Formatted `quality_c4_rules` output over any (doc_id, text)
    frame — split out so tests can exercise the line-retention rules on
    constructed multi-line corpora (the fixture is single-line prose
    with no terminal punctuation, honestly rejected wholesale)."""
    feats = c4_feats(docs)
    return (feats.select(
        "doc_id", "n_lines",
        F.col("n_kept").alias("n_kept_lines"),
        F.col("n_sent").alias("n_sentences"),
        "keep", "reason")
        .orderBy("doc_id"))
