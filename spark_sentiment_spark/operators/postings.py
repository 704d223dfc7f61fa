"""Document pairs through an inverted index: the posting-list self-join
that exact lexical near-dup queries share."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def term_pairs(postings: DataFrame, *aggs) -> DataFrame:
    """Self-join of a (doc_id, w, ...) posting table on the term: one row
    per document pair (doc_a < doc_b) that shares a term, with ``aggs``
    over their shared postings (sides aliased ``a`` and ``b``)."""
    a, b = postings.alias("a"), postings.alias("b")
    return (a.join(b, (F.col("a.w") == F.col("b.w"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
            .agg(*aggs))
