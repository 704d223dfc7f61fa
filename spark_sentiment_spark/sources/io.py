"""Source/sink layer — the capability surface of the reference's IO object
(SRC/utils/IO.scala, S1-S17 in SURVEY.md §2.1), rebuilt with *intended*
semantics and Spark-native primitives.

Deviations from as-is reference behavior (SURVEY.md §1.4, documented, not
reproduced):

* ``IO.findDelimiter`` compares ``Char == String`` so it always returns ","
  (IO.scala:8-17). Here the count comparison actually runs; candidate order
  is preserved (``, | : \\t ;``).
* ``IO.hasHeader`` compares the schemas of two rows of the same DataFrame —
  always equal, so header was always true (IO.scala:32-35). Here row 1 is
  declared a header when any of its cells fails to parse as the type
  inferred from the following rows.
* Writers use ``mode("overwrite")``, subsuming the reference's manual
  output-path deletion (``Helper.clean``, SRC/utils/Helper.scala:104-141).

Everything driver-side touches only ``limit(2)`` samples; data-path reads
stay fully distributed and schema inference is delegated to Spark.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Sniffing candidates in reference preference order (IO.scala:12-16).
DELIMITER_CANDIDATES = (",", "|", ":", "\t", ";")

#: Extension fragment → canonical filetype (IO.scala:53-59; `.par` matches
#: both `.par` and `.parquet`).
_EXTENSION_DISPATCH = ((".json", "json"), (".txt", "txt"),
                       (".csv", "csv"), (".par", "parquet"),
                       (".orc", "orc"))


def _first_two_lines(spark: SparkSession, path: str) -> list[str]:
    rows = spark.read.text(path).take(2)
    return [r[0] for r in rows]


def _delimiter_of(lines: list[str]) -> str:
    if len(lines) < 2:
        return ","
    l1, l2 = lines[0], lines[1]
    for cand in DELIMITER_CANDIDATES[:-1]:
        if l1.count(cand) == l2.count(cand) and l1.count(cand) > 0:
            return cand
    return ";"


def _escape_of(lines: list[str], delim: str) -> str | None:
    if len(lines) < 2:
        return None
    fields = [p for p in lines[1].split(delim) if len(p.split(" ")) > 3]
    if not fields:
        return None
    longest = max(fields, key=len)
    if longest[:1] == '"':
        return '"'
    if longest[:1] == "'":
        return "'"
    return None


def find_delimiter(spark: SparkSession, path: str) -> str:
    """S3: pick the first candidate whose count matches across the first two
    lines and is non-zero; fall back to ';' (intended IO.findDelimiter)."""
    return _delimiter_of(_first_two_lines(spark, path))


def detect_escape(spark: SparkSession, path: str, delim: str) -> str | None:
    """S5: longest multi-word field of line 2; a leading quote char means the
    file quotes free-text fields with it (IO.detectEscape:19-30)."""
    return _escape_of(_first_two_lines(spark, path), delim)


def has_header(spark: SparkSession, path: str, delim: str) -> bool:
    """S4 with working semantics: load two sample frames, one headerless with
    inference off and one from row 2 onward with inference on; row 1 is a
    header iff any of its cells does not cast to the type inferred for the
    data rows (and the file has at least 2 lines)."""
    sample = (spark.read.option("sep", delim).option("header", "false")
              .option("inferSchema", "false").csv(path).limit(20))
    rows = sample.collect()
    if len(rows) < 2:
        return False
    header_cells = list(rows[0])
    data = rows[1:]

    def parses_like(values: list, probe) -> bool:
        """probe parses like the sampled column values (int/float/str)."""
        def kind(v):
            if v is None:
                return None
            try:
                int(v)
                return "int"
            except (TypeError, ValueError):
                pass
            try:
                float(v)
                return "float"
            except (TypeError, ValueError):
                return "str"
        kinds = {kind(v) for v in values} - {None}
        if not kinds or kinds == {"str"}:
            return True          # string column: anything parses
        target = "int" if kinds == {"int"} else "float"
        return kind(probe) in (("int",) if target == "int" else ("int", "float"))

    for idx, cell in enumerate(header_cells):
        if not parses_like([r[idx] for r in data], cell):
            return True
    return False


def load_csv(spark: SparkSession, path: str, *, delimiter: str | None = None,
             header: bool | None = None, escape: str | None = None) -> DataFrame:
    """S2: CSV scan with dialect sniffing for any unspecified option. The
    delimiter and escape sniffs share one read of the first two lines."""
    lines = (_first_two_lines(spark, path)
             if delimiter is None or escape is None else [])
    delim = delimiter if delimiter is not None else _delimiter_of(lines)
    hdr = header if header is not None else has_header(spark, path, delim)
    esc = escape if escape is not None else _escape_of(lines, delim)
    reader = (spark.read.option("sep", delim).option("header", str(hdr).lower())
              .option("inferSchema", "true"))
    if esc is not None:
        reader = reader.option("quote", esc).option("escape", esc)
    return reader.csv(path)


def infer_filetype(path: str) -> str | None:
    """S8: extension-based dispatch (substring match, as in the reference)."""
    lower = path.lower()
    for fragment, ftype in _EXTENSION_DISPATCH:
        if fragment in lower:
            return ftype
    return None


def load(spark: SparkSession, path: str,
         filetype: str | None = None, merge_schema: bool = False,
         **csv_opts) -> tuple[DataFrame, str]:
    """S1/S2/S6/S7 + S8: load by explicit filetype or extension dispatch.

    Returns ``(df, filetype)`` like ``IO.loadFile`` (IO.scala:61-64).
    Raises ``ValueError`` for undetectable/unsupported types instead of the
    reference's silent ``None``.

    ``merge_schema=True`` unions the schemas of all parquet/ORC footers
    under ``path`` (columns added over a table's lifetime come back as
    nulls for old files) — the schema-evolution read a long-lived 100 TB
    table needs; off by default because footer-merging costs a pass over
    file metadata.
    """
    ftype = (filetype or infer_filetype(path) or "").lower()
    ms = str(bool(merge_schema)).lower()
    if ftype == "json":
        return spark.read.json(path), "json"
    if ftype == "csv":
        return load_csv(spark, path, **csv_opts), "csv"
    if ftype == "txt":
        return spark.read.text(path), "txt"
    if ftype in ("parquet", "par"):
        return spark.read.option("mergeSchema", ms).parquet(path), "parquet"
    if ftype == "orc":
        return spark.read.option("mergeSchema", ms).orc(path), "orc"
    raise ValueError(f"cannot determine filetype for {path!r}; "
                     f"pass filetype= one of json/csv/txt/parquet/orc")


def save(df: DataFrame, path: str, filetype: str = "parquet",
         mode: str = "overwrite", single_file: bool = False) -> None:
    """S11-S15: format-dispatched sink. ``single_file`` coalesces to one
    partition (the reference's ``repartition(1).saveAsTextFile``,
    Sentiment.scala:82-86 — coalesce avoids the extra shuffle). ``mode``
    defaults to overwrite, replacing manual path cleanup (S16)."""
    out = df.coalesce(1) if single_file else df
    writer = out.write.mode(mode)
    if filetype == "json":
        writer.json(path)
    elif filetype == "csv":
        writer.option("header", "true").csv(path)
    elif filetype == "txt":
        writer.text(path)
    elif filetype in ("parquet", "par"):
        writer.parquet(path)
    elif filetype == "orc":
        writer.orc(path)
    else:
        raise ValueError(f"unsupported sink filetype {filetype!r}")
