"""Word-list extraction (M16) semantics, pinned against Spark's own
CountVectorizer: the reference (SRC/CreateScoreList.scala:41) collects the
*fitted* vocabulary, and CountVectorizer.fit selects on document frequency
alone — minTF only filters transform-time counts. extract_wordlists must
therefore include a term that appears ONCE per document in >= minDF docs."""

import pytest
from pyspark.sql import functions as F

from spark_sentiment_spark.operators.wordlist_extraction import (
    extract_wordlists)


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["text", "label"])


def _wordlists(df, **kwargs) -> dict:
    """{category: sorted words}: the reference's CreateScoreList.score
    shape, collected from ``extract_wordlists``."""
    out: dict = {}
    for r in extract_wordlists(df, "text", "label", **kwargs).collect():
        out.setdefault(r["category"], []).append(r["word"])
    return {k: sorted(v) for k, v in out.items()}


def test_vocabulary_matches_countvectorizer_fit(spark):
    """Differential: per category, our vocabulary == the vocabulary of an
    actual CountVectorizer(minTF=2, minDF=3).fit on the same tokens."""
    from pyspark.ml.feature import CountVectorizer

    rows = [
        # 'solo' appears once per doc in 3 docs -> in CV vocabulary even
        # though its per-doc tf never reaches minTF=2.
        ("solo alpha alpha", "pos"),
        ("solo beta beta", "pos"),
        ("solo gamma", "pos"),
        ("alpha alpha beta", "pos"),
        ("rare", "pos"),
    ]
    df = _docs(spark, rows)
    cv = CountVectorizer(inputCol="toks", outputCol="vec", minTF=2.0,
                         minDF=3.0)
    toks = df.select(F.split("text", " ").alias("toks"))
    expected = set(cv.fit(toks).vocabulary)

    got = {
        r["word"]
        for r in extract_wordlists(df, "text", "label", min_df=3,
                                   overlap_limit=2).collect()
    }
    assert got == expected
    assert "solo" in got  # the case the old tf>=minTF-in-fit filter dropped


def test_min_tf_never_affects_vocabulary(spark):
    rows = [(f"once filler{i}", "pos") for i in range(5)]
    df = _docs(spark, rows)
    out = extract_wordlists(df, "text", "label", min_tf=2, min_df=5)
    words = {r["word"] for r in out.collect()}
    assert words == {"once"}
    row = out.where(F.col("word") == "once").first()
    assert row["doc_freq"] == 5 and row["total_tf"] == 5


def test_overlap_words_removed_everywhere(spark):
    rows = []
    for cat in ("a", "b", "c"):
        rows += [(f"shared own_{cat}", cat)] * 5
    df = _docs(spark, rows)
    out = _wordlists(df, min_df=5, overlap_limit=2)
    # 'shared' is in all 3 category vocabularies (> overlap_limit=2) ->
    # removed from every list; each category keeps its own word.
    assert out == {"a": ["own_a"], "b": ["own_b"], "c": ["own_c"]}


def test_overlap_at_limit_is_kept(spark):
    rows = []
    for cat in ("a", "b"):
        rows += [(f"shared own_{cat}", cat)] * 5
    df = _docs(spark, rows)
    out = _wordlists(df, min_df=5, overlap_limit=2)
    # present in exactly 2 vocabularies == limit -> kept (strict >).
    assert out == {"a": ["own_a", "shared"], "b": ["own_b", "shared"]}


def test_repeated_save_wordlists_share_one_cached_vocabulary(spark, run,
                                                             tmp_path):
    """Training word lists again from an unchanged input reuses the first
    call's cached vocabulary: Spark's cache manager matches the equal
    plans, so three calls hold one persistent RDD (not three), and the
    warm calls skip the corpus pass."""
    from spark_sentiment_spark.operators.wordlist_extraction import (
        save_wordlists)
    from spark_sentiment_spark.sources.io import load

    csv = tmp_path / "labelled.csv"
    csv.write_text("text,label\n" + "".join(
        f"good fine day{i},pos\nbad awful day{i},neg\n" for i in range(6)))
    jsc = spark.sparkContext._jsc.sc()

    def cached_ids():
        it = jsc.getPersistentRDDs().keysIterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    before = cached_ids()
    for i in range(3):
        df, _ = load(spark, str(csv), header=True)
        save_wordlists(df, "text", "label", str(tmp_path / f"lists{i}"))
    assert len(cached_ids() - before) == 1
    assert [kind for kind, _ in run] == ["persist"] * 3
    assert sorted(p.name for p in (tmp_path / "lists2").iterdir()
                  if not p.name.startswith(("_", "."))) == ["neg", "pos"]
