"""BPE tokenizer training and encoding over the corpus (SURVEY §7.4 —
training-pipeline extension; the reference tokenizes by whitespace/TweetMotif
only, SRC/utils/Tokenizer.scala, and never learns a subword vocabulary).

Split of labor, sized for 100 TB:

* the CORPUS-scale work — lowercasing, tokenizing, word-frequency counting —
  is one distributed pass (explode → partial+final hash agg, map-side
  combine collapses each partition to its local vocabulary);
* the merge LOOP runs driver-side on the aggregated ``(word, freq)`` table.
  Raw whitespace vocabulary is NOT meaningfully bounded on a web corpus
  (URLs, typos, hapaxes run 10^8–10^9 types at 100 TB), so the collect is
  explicitly bounded: a ``min_count`` frequency floor drops hapax noise and
  a ``vocab_cap`` top-K (by freq desc, word asc — a distributed TakeOrdered,
  not a driver sort) hard-caps the driver dict. This is the same tradeoff
  production trainers make (sentencepiece's input-sentence cap, HuggingFace
  ``tokenizers``' ``min_frequency``): pair counts understate truth by the
  dropped tail's contribution, which by construction is the lowest-signal
  mass in the corpus;
* ENCODING under the learned merges goes back to executors as one
  Arrow-batched pandas UDF with a per-batch word→segmentation memo (words
  repeat; the memo turns per-token work into a dict hit).

Algorithm: Sennrich et al. 2016 (arXiv:1508.07909) — symbols are the word's
characters plus a terminal ``</w>`` marker; each round merges the
most-frequent adjacent pair, ties broken by the lexicographically smallest
pair so the merge sequence is deterministic across runs and engines.
"""

from __future__ import annotations

import re
from collections import Counter

import pandas as pd  # module-level: pandas-UDF type hints resolve from here

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

END = "</w>"

# One EXPLICIT whitespace class shared by the trainer (Spark/Java regex),
# the encoder UDF (Python re), and the DuckDB oracle (RE2) — the three
# engines' `\s` classes disagree (Java includes \x0B, RE2 doesn't; Python
# str.split() adds NBSP/thin-space and every other Unicode space), so a
# bare `\s+`/.split() can tokenize the same non-ASCII text three different
# ways (round-6 ADVICE). [ \t\n\x0B\f\r] is Java's \s, spelled out.
WS_CLASS = "[ \\t\\n\\x0B\\f\\r]+"
_WS_RE = re.compile(WS_CLASS)


def word_frequencies(docs: DataFrame) -> DataFrame:
    """The one corpus-scale pass: whitespace tokens of ``text``, lowercased,
    counted. Returns the vocabulary-bounded (word, freq) table."""
    return (docs.where(F.col("text").isNotNull())
            .select(F.explode(F.split(F.lower(F.trim(F.col("text"))),
                                      WS_CLASS)).alias("word"))
            .where(F.length("word") > 0)
            .groupBy("word").agg(F.count(F.lit(1)).alias("freq")))


def _merge_loop(word_freq: dict[str, int],
                n_merges: int) -> list[tuple[str, str, int]]:
    """Deterministic Sennrich merge loop on the aggregated word table.
    Returns [(left, right, pair_count), ...] in merge order."""
    segs = {w: tuple(w) + (END,) for w in word_freq}
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for w, f in word_freq.items():
            s = segs[w]
            for a, b in zip(s, s[1:]):
                pairs[(a, b)] += f
        if not pairs:
            break
        mx = max(pairs.values())
        best = min(p for p, c in pairs.items() if c == mx)
        merges.append((best[0], best[1], mx))
        merged = best[0] + best[1]
        for w, s in segs.items():
            if best[0] not in s:
                continue
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == best[0] and s[i + 1] == best[1]:
                    out.append(merged)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            segs[w] = tuple(out)
    return merges


def bpe_train(spark: SparkSession, docs: DataFrame, n_merges: int = 40,
              min_count: int = 2,
              vocab_cap: int | None = 1_000_000) -> DataFrame:
    """Train BPE merges on ``docs.text``: one distributed word-count pass,
    then the bounded driver-side merge loop. Returns (rank, left, right,
    merged, pair_count) in merge order.

    ``min_count`` floors the collected vocabulary (words seen fewer times
    never reach the driver); ``vocab_cap`` truncates it to the top-K by
    (freq desc, word asc). Both bound driver memory at web scale — see the
    module docstring. ``min_count=1, vocab_cap=None`` recovers the exact
    unbounded trainer (tests pin that the defaults leave the fixture-corpus
    merge sequence unchanged)."""
    wf_df = (word_frequencies(docs)
             .where(F.col("freq") >= min_count))
    if vocab_cap is not None:
        # orderBy+limit compiles to TakeOrdered — executors keep per-
        # partition top-K heaps; only K rows cross to the driver.
        wf_df = wf_df.orderBy(F.col("freq").desc(), F.col("word")) \
                     .limit(vocab_cap)
    wf = {r.word: r.freq for r in wf_df.collect()}
    merges = _merge_loop(wf, n_merges)
    rows = [(i + 1, a, b, a + b, int(c)) for i, (a, b, c) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "rank long, left string, right string, merged string, "
              "pair_count long")


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> tuple:
    """GPT-2-style encoder: repeatedly merge the lowest-rank adjacent pair."""
    s = list(word) + [END]
    while len(s) > 1:
        pairs = [(ranks.get((a, b)), i)
                 for i, (a, b) in enumerate(zip(s, s[1:]))
                 if (a, b) in ranks]
        if not pairs:
            break
        _, i = min(pairs)
        s[i:i + 2] = [s[i] + s[i + 1]]
    return tuple(s)


def bpe_token_count_col(merges: list[tuple[str, str]]):
    """Arrow-batched token counter of ``text`` under a learned merge
    table: per-batch word→len(segmentation) memo, so repeated words cost
    a dict hit. The
    merge table rides to executors inside the UDF closure (vocabulary-
    bounded — the same object a production tokenizer broadcasts)."""
    from pyspark.sql.functions import pandas_udf

    ranks = {tuple(m): i for i, m in enumerate(merges)}

    @pandas_udf("long")
    def _count(texts: pd.Series) -> pd.Series:
        memo: dict[str, int] = {}

        def doc_tokens(t):
            if t is None:
                return 0
            n = 0
            # _WS_RE (not str.split()) so the word boundaries are identical
            # to the trainer's Spark split and the DuckDB oracle's — empties
            # from leading/trailing separators are filtered like the
            # trainer's length>0 guard.
            for w in _WS_RE.split(t.lower()):
                if not w:
                    continue
                if w not in memo:
                    memo[w] = len(_encode_word(w, ranks))
                n += memo[w]
            return n

        return texts.map(doc_tokens)

    return _count(F.col("text"))
