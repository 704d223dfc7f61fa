"""Schema-role detection — the reference's most distinctive subsystem
(SRC/utils/Detection.scala, SURVEY.md §1.3): given an arbitrary inferred
schema, heuristically assign column roles (text / index / categorical /
value) from a bounded row sample.

Same thresholds as the reference (``categoricalSizeLimit = 5``,
``minimumTextSize = 5``, default sample ``limit = 100``,
Detection.scala:9-10, Sentiment.scala:206). Implementation differences,
deliberate (SURVEY.md §4.2):

* The sample is collected ONCE per call into a driver-side list and every
  heuristic reads from it; the reference re-runs ``take(limit)`` up to 3×
  per column per detector (Detection.scala:40,56-60).
* ``detect_range``/``detect_categorical`` use ``df.limit(n)`` (a
  deterministic plan) rather than partition-order-dependent ``take``.
* String-categorical conversion uses ``pyspark.ml.feature.StringIndexer``
  instead of a collected dict + row UDF (Detection.scala:107-117), fixing
  the reference's string-label crash (§1.4.5: it returns the wrong output
  column name and mixes int/string accessors).

At 100 TB the sample stays `limit` rows — detection cost is independent of
table size, and ``limit(n)`` pushes the row bound into the scan.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, IntegerType, LongType, StringType

CATEGORICAL_SIZE_LIMIT = 5   # Detection.scala:9
MINIMUM_TEXT_SIZE = 5        # Detection.scala:10
DEFAULT_LIMIT = 100          # Sentiment.scala:206


def _columns_of_type(df: DataFrame, *types) -> list[str]:
    return [f.name for f in df.schema.fields if isinstance(f.dataType, types)]


def string_columns(df: DataFrame) -> list[str]:
    return _columns_of_type(df, StringType)


def integer_columns(df: DataFrame) -> list[str]:
    # Long included: Spark's CSV/parquet inference emits bigint where the
    # reference's Spark 2.1 CSV reader emitted int.
    return _columns_of_type(df, IntegerType, LongType)


def double_columns(df: DataFrame) -> list[str]:
    return _columns_of_type(df, DoubleType)


def _is_numeric(s) -> bool:
    """Helper.isNumeric (SRC/utils/Helper.scala:19-21)."""
    if s is None:
        return False
    try:
        float(s)
        return True
    except (TypeError, ValueError):
        return False


@dataclass
class Sample:
    """One driver-side snapshot of ``df.limit(n)`` shared by all detectors."""
    rows: list
    columns: list[str]

    def values(self, column: str) -> list:
        i = self.columns.index(column)
        return [r[i] for r in self.rows]


def take_sample(df: DataFrame, limit: int = DEFAULT_LIMIT) -> Sample:
    return Sample(rows=df.limit(limit).collect(), columns=df.columns)


def _avg_word_count(sample: Sample, column: str) -> float:
    """Detection.averageWordCount (Detection.scala:25): size(split(c, ' '))
    averaged over the sample; null rows count as size 1 (split of null →
    null → size -1 in Spark, but the reference's limit/agg skips nulls)."""
    counts = [len(v.split(" ")) for v in sample.values(column) if v is not None]
    return sum(counts) / len(counts) if counts else 0.0


def detect_text_column(df: DataFrame, limit: int = DEFAULT_LIMIT,
                       sample: Sample | None = None) -> str | None:
    """Highest avg-word-count string column, if it exceeds
    ``MINIMUM_TEXT_SIZE`` words (Detection.scala:35-38)."""
    sample = sample or take_sample(df, limit)
    scores = {c: _avg_word_count(sample, c) for c in string_columns(df)}
    if not scores or max(scores.values()) <= MINIMUM_TEXT_SIZE:
        return None
    return max(scores.items(), key=lambda kv: kv[1])[0]


def detect_index_column(df: DataFrame, limit: int = DEFAULT_LIMIT,
                        sample: Sample | None = None) -> str | None:
    """The unique integer column whose sampled values are all distinct
    (Detection.scala:40-54). None when zero or several qualify."""
    sample = sample or take_sample(df, limit)
    cands = []
    for c in integer_columns(df):
        vals = sample.values(c)
        if len(set(vals)) == len(vals):
            cands.append(c)
    return cands[0] if len(cands) == 1 else None


def _is_categorical(sample: Sample, column: str, limit: int) -> bool:
    """1 < |distinct sample| < min(limit, CATEGORICAL_SIZE_LIMIT)
    (Detection.scala:56-60)."""
    n = len(set(sample.values(column)))
    return 1 < n < CATEGORICAL_SIZE_LIMIT and n < limit


def detect_categorical_column(df: DataFrame, limit: int = DEFAULT_LIMIT,
                              sample: Sample | None = None) -> str | None:
    """Low-cardinality int column; else single-word string column, ties
    broken by preferring numeric-looking string columns
    (Detection.scala:94-105)."""
    sample = sample or take_sample(df, limit)
    ints = [c for c in integer_columns(df) if _is_categorical(sample, c, limit)]
    if len(ints) == 1:
        return ints[0]
    strs = [c for c in string_columns(df)
            if round(_avg_word_count(sample, c)) == 1]
    if len(strs) == 1:
        return strs[0]
    if len(strs) > 1:
        numericish = [c for c in strs
                      if sample.values(c) and _is_numeric(sample.values(c)[0])]
        if len(numericish) == 1:
            return numericish[0]
        return strs[0]
    return None


def detect_value_column(df: DataFrame, limit: int = DEFAULT_LIMIT,
                        sample: Sample | None = None) -> str | None:
    """Exactly one double column; else exactly one string column whose first
    sampled value parses as a number (Detection.scala:124-144)."""
    sample = sample or take_sample(df, limit)
    dbls = double_columns(df)
    if dbls:
        return dbls[0] if len(dbls) == 1 else None
    numericish = [c for c in string_columns(df)
                  if sample.values(c) and _is_numeric(sample.values(c)[0])]
    return numericish[0] if len(numericish) == 1 else None


def extract_categories(df: DataFrame, column: str) -> list:
    """Distinct label values (Detection.extract*Categories:76-92) — one
    distributed distinct, no row-lambda map."""
    return sorted(
        r[0] for r in df.select(column).distinct().collect() if r[0] is not None
    )


CONVERTED = "converted_categorical"


def convert_categorical_column(df: DataFrame, column: str
                               ) -> tuple[DataFrame, str]:
    """Dense int codes for a categorical column, and the column that holds
    them. Integer columns pass through (Detection.scala:108-109); string
    columns go through StringIndexer (alphabetic order for determinism,
    fixing §1.4.5) into ``CONVERTED``."""
    if column in integer_columns(df):
        return df, column
    from pyspark.ml.feature import StringIndexer

    idx = StringIndexer(inputCol=column, outputCol=CONVERTED,
                        stringOrderType="alphabetAsc",
                        handleInvalid="keep")
    out = idx.fit(df).transform(df)
    return out.withColumn(CONVERTED, out[CONVERTED].cast("int")), CONVERTED


def detect_roles(df: DataFrame, limit: int = DEFAULT_LIMIT) -> dict:
    """One-shot role map over a single shared sample — the public entry
    point (`detect_roles(df)` in SURVEY.md §7.1)."""
    sample = take_sample(df, limit)
    return {
        "text": detect_text_column(df, limit, sample),
        "index": detect_index_column(df, limit, sample),
        "categorical": detect_categorical_column(df, limit, sample),
        "value": detect_value_column(df, limit, sample),
    }
