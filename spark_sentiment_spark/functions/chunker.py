"""Document chunking as a Python UDTF — the table-function surface of the
engine (SURVEY §2.8 extension; the reference's UDF surface, U1-U5, is
row-to-scalar only — it has no row-to-rows operator).

Chunking a document into fixed-size token windows is the canonical
row-to-N-rows step of an LLM training-data pipeline (one training sample
per chunk). Spark 4's Arrow-backed Python UDTF + ``lateralJoin`` is the
idiomatic spelling: the UDTF runs inside the scan stage (narrow — no
shuffle, partition-parallel), and each left row's chunks are emitted
lazily from a generator, so a 100 MB document never materializes all its
chunks in one list.

A pure-native twin (``posexplode`` over an array built with
``F.slice``/``F.transform``) exists and would be faster; the UDTF is the
point here — it is the pattern for chunkers whose logic outgrows Column
expressions (BPE token budgets, overlap windows, semantic boundaries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import udtf


@udtf(returnType="chunk_id int, chunk_text string, n_tokens int")
class ChunkDocs:
    """Split space-separated text into consecutive ``chunk_size``-token
    chunks (32 from :func:`chunk_documents`). Tokenization is
    ``split(' ')`` — exact parity with the oracle's
    ``string_split(text, ' ')`` (empty text yields one empty token, hence
    one empty chunk, on both sides)."""

    def eval(self, text, chunk_size: int):
        toks = (text if text is not None else "").split(" ")
        for i in range(0, len(toks), chunk_size):
            chunk = toks[i:i + chunk_size]
            yield i // chunk_size, " ".join(chunk), len(chunk)


def chunk_documents(df: DataFrame) -> DataFrame:
    """All columns of ``df`` joined laterally with the 32-token chunks of
    ``text``. Narrow plan: chunking happens where the rows already are."""
    return df.lateralJoin(ChunkDocs(F.col("text").outer(), F.lit(32)))
