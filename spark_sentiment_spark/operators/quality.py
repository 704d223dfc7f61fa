"""Document quality and language gates shared by the standalone quality
queries and the composed curation passes: the published Gopher rules (Rae
et al. 2021, arXiv:2112.11446 §A1.1), the C4 rules (Raffel et al. 2020,
arXiv:1910.10683 §2.2), each as Spark kernel plus DuckDB SQL, and the
stop-word language classifier."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_sentiment_spark.functions.text import WS_TOKENS_SQL

# --- Gopher ------------------------------------------------------------------

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

_LINES = "string_split(text, chr(10))"
_GOPHER_STOP_SQL = " + ".join(
    f"CAST(list_contains(list_transform({WS_TOKENS_SQL}, x -> lower(x)), "
    f"'{s}') AS INTEGER)" for s in GOPHER_STOPWORDS)

# CTE body + verdict expressions: `quality_gopher_rules` and the
# curation pass's gate stage share the exact SQL.
GOPHER_FEATS_SQL = f"""
  SELECT doc_id, text,
         CAST(len({WS_TOKENS_SQL}) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform({WS_TOKENS_SQL}, x -> length(x)))
              AS DOUBLE) / len({WS_TOKENS_SQL}) AS mean_wl,
         CAST(length(text) - length(replace(text, '#', ''))
              AS DOUBLE) / len({WS_TOKENS_SQL}) AS hash_r,
         CAST((length(text) - length(replace(text, '...', ''))) / 3
              + length(text) - length(replace(text, '…', ''))
              AS DOUBLE) / len({WS_TOKENS_SQL}) AS ell_r,
         CAST(len(list_filter({_LINES},
                x -> ltrim(x) LIKE '•%' OR ltrim(x) LIKE '-%'
                     OR ltrim(x) LIKE '*%')) AS DOUBLE)
           / len({_LINES}) AS bullet_r,
         CAST(len(list_filter({_LINES},
                x -> rtrim(x) LIKE '%...' OR rtrim(x) LIKE '%…'))
              AS DOUBLE) / len({_LINES}) AS ellipsis_r,
         CAST(len(list_filter({WS_TOKENS_SQL},
                x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
           / len({WS_TOKENS_SQL}) AS alpha_r,
         CAST({_GOPHER_STOP_SQL} AS BIGINT) AS n_stop
  FROM documents WHERE text IS NOT NULL"""

GOPHER_KEEP_SQL = """(n_words BETWEEN 50 AND 100000) AND mean_wl BETWEEN 3 AND 10
         AND hash_r <= 0.1 AND ell_r <= 0.1
         AND bullet_r <= 0.9 AND ellipsis_r <= 0.3
         AND alpha_r >= 0.8 AND n_stop >= 2"""

GOPHER_REASON_SQL = """CASE WHEN n_words < 50 THEN 'too_few_words'
            WHEN n_words > 100000 THEN 'too_many_words'
            WHEN mean_wl < 3 OR mean_wl > 10 THEN 'word_length'
            WHEN hash_r > 0.1 OR ell_r > 0.1 THEN 'symbol_ratio'
            WHEN bullet_r > 0.9 THEN 'bullet_lines'
            WHEN ellipsis_r > 0.3 THEN 'ellipsis_lines'
            WHEN alpha_r < 0.8 THEN 'non_alpha_words'
            WHEN n_stop < 2 THEN 'stopwords'
            ELSE 'ok' END"""


def gopher_feats(docs):
    """Raw Gopher features + verdict (keep, reason) over any
    (doc_id, text) frame — the Spark twin of GOPHER_FEATS_SQL and the
    GOPHER_KEEP/REASON expressions."""
    w = F.split(F.trim(F.col("text")), r"\s+")
    ln = F.split(F.col("text"), "\n", -1)
    stop_hits = sum(F.array_contains(F.col("__lw"), s).cast("int")
                    for s in GOPHER_STOPWORDS)
    feats = (docs.select(
        "doc_id", "text", w.alias("__w"), ln.alias("__ln"))
        .withColumn("__lw", F.expr("transform(__w, x -> lower(x))"))
        .select(
            "doc_id", "text",
            F.size("__w").cast("bigint").alias("n_words"),
            (F.expr("aggregate(transform(__w, x -> length(x)), 0,"
                    " (a, x) -> a + x)").cast("double")
             / F.size("__w")).alias("mean_wl"),
            ((F.length("text")
              - F.length(F.expr("replace(text, '#', '')")))
             .cast("double") / F.size("__w")).alias("hash_r"),
            (((F.length("text")
               - F.length(F.expr("replace(text, '...', '')"))) / 3
              + F.length("text")
              - F.length(F.expr("replace(text, '…', '')")))
             .cast("double") / F.size("__w")).alias("ell_r"),
            (F.expr("size(filter(__ln, x -> ltrim(x) LIKE '•%'"
                    " OR ltrim(x) LIKE '-%' OR ltrim(x) LIKE '*%'))")
             .cast("double") / F.size("__ln")).alias("bullet_r"),
            (F.expr("size(filter(__ln, x -> rtrim(x) LIKE '%...'"
                    " OR rtrim(x) LIKE '%…'))")
             .cast("double") / F.size("__ln")).alias("ellipsis_r"),
            (F.expr("size(filter(__w, x -> x rlike '[A-Za-z]'))")
             .cast("double") / F.size("__w")).alias("alpha_r"),
            stop_hits.cast("bigint").alias("n_stop")))
    keep = (F.col("n_words").between(50, 100000)
            & F.col("mean_wl").between(3, 10)
            & (F.col("hash_r") <= 0.1) & (F.col("ell_r") <= 0.1)
            & (F.col("bullet_r") <= 0.9)
            & (F.col("ellipsis_r") <= 0.3) & (F.col("alpha_r") >= 0.8)
            & (F.col("n_stop") >= 2))
    reason = (F.when(F.col("n_words") < 50, "too_few_words")
              .when(F.col("n_words") > 100000, "too_many_words")
              .when((F.col("mean_wl") < 3) | (F.col("mean_wl") > 10),
                    "word_length")
              .when((F.col("hash_r") > 0.1) | (F.col("ell_r") > 0.1),
                    "symbol_ratio")
              .when(F.col("bullet_r") > 0.9, "bullet_lines")
              .when(F.col("ellipsis_r") > 0.3, "ellipsis_lines")
              .when(F.col("alpha_r") < 0.8, "non_alpha_words")
              .when(F.col("n_stop") < 2, "stopwords")
              .otherwise("ok"))
    return feats.withColumn("keep", keep).withColumn("reason", reason)


# --- C4 ----------------------------------------------------------------------

_C4_KEPT = (f"list_filter({_LINES}, l -> "
            "regexp_matches(rtrim(l), '[.!?\"]$') "
            "AND len(list_filter(string_split_regex(trim(l), '\\s+'), "
            "w -> w <> '')) >= 5 "
            "AND NOT contains(lower(l), 'javascript'))")

# CTE body + verdict expressions, shared like the Gopher ones.
C4_FEATS_SQL = f"""
  SELECT doc_id, text,
         CAST(len({_LINES}) AS BIGINT) AS n_lines,
         CAST(len({_C4_KEPT}) AS BIGINT) AS n_kept,
         CAST(length(coalesce(array_to_string({_C4_KEPT}, chr(10)), ''))
              - length(replace(replace(replace(
                  coalesce(array_to_string({_C4_KEPT}, chr(10)), ''),
                  '.', ''), '!', ''), '?', '')) AS BIGINT) AS n_sent,
         contains(lower(text), 'lorem ipsum') AS has_lorem,
         contains(text, '{{') AS has_brace
  FROM documents WHERE text IS NOT NULL"""

C4_KEEP_SQL = "NOT has_lorem AND NOT has_brace AND n_sent >= 3"

C4_REASON_SQL = """CASE WHEN has_lorem THEN 'lorem_ipsum'
            WHEN has_brace THEN 'curly_brace'
            WHEN n_sent < 3 THEN 'too_few_sentences'
            ELSE 'ok' END"""


def c4_feats(docs):
    """Raw C4 features + verdict (keep, reason) over any (doc_id, text)
    frame — the Spark twin of C4_FEATS_SQL and the C4_KEEP/REASON
    expressions."""
    kept = F.expr(
        "filter(split(text, '\\n', -1), l -> "
        "rtrim(l) rlike '[.!?\"]$' "
        "AND size(filter(split(trim(l), '\\\\s+'), w -> w != '')) >= 5 "
        "AND NOT contains(lower(l), 'javascript'))")
    feats = (docs.select("doc_id", "text", kept.alias("__kept"))
             .withColumn("__kt", F.array_join("__kept", "\n"))
             .select(
                 "doc_id", "text",
                 F.size(F.split("text", "\n", -1)).cast("bigint")
                 .alias("n_lines"),
                 F.size("__kept").cast("bigint").alias("n_kept"),
                 (F.length("__kt") - F.length(F.expr(
                     "replace(replace(replace(__kt, '.', ''),"
                     " '!', ''), '?', '')"))).cast("bigint")
                 .alias("n_sent"),
                 F.lower("text").contains("lorem ipsum").alias("has_lorem"),
                 F.col("text").contains("{").alias("has_brace")))
    keep = (~F.col("has_lorem") & ~F.col("has_brace")
            & (F.col("n_sent") >= 3))
    reason = (F.when(F.col("has_lorem"), "lorem_ipsum")
              .when(F.col("has_brace"), "curly_brace")
              .when(F.col("n_sent") < 3, "too_few_sentences")
              .otherwise("ok"))
    return feats.withColumn("keep", keep).withColumn("reason", reason)


# --- Stop-word language ID ---------------------------------------------------


def stopword_langid(docs):
    """(doc_id, lang, predicted_lang): language ID by stop-word voting,
    fully native. Each language's hit count is aliased once in an inner
    select and the vote chain references the counts by name — inlined,
    interpreted mode (no subexpression elimination) would evaluate each
    token-array filter up to three times per row."""
    toks = F.split(F.col("text"), " ", -1)

    def hits(words):
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t))).cast("long")

    scored = docs.select(
        "doc_id", "lang",
        hits(["the", "a", "of", "and", "is"]).alias("__en"),
        hits(["der", "die", "das", "und", "ist"]).alias("__de"),
        hits(["le", "la", "et", "est", "les"]).alias("__fr"))
    en, de, fr = F.col("__en"), F.col("__de"), F.col("__fr")
    pred = (
        F.when((en >= de) & (en >= fr) & (en > 0), "en")
        .when((de >= fr) & (de > 0), "de")
        .when(fr > 0, "fr")
        .otherwise("unknown")
    )
    return scored.select("doc_id", "lang", pred.alias("predicted_lang"))
