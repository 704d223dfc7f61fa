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

Dialect sniffing reads one sample, the first 20 lines the CSV reader
does not skip: its first two give the delimiter and the escape, all of
them the header, in one Spark job. Schema inference is
Spark's own (a full pass over a CSV or JSON file, footers for parquet and
ORC); its answer, and a CSV's sniffed dialect with it, is reused for as
long as the file is unchanged (``_resolve``). Data-path reads stay fully
distributed.
"""

from __future__ import annotations

import os
import re
import stat
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

#: Sniffing candidates in reference preference order (IO.scala:12-16).
DELIMITER_CANDIDATES = (",", "|", ":", "\t", ";")

#: Extension fragment → canonical filetype (IO.scala:53-59; `.par` matches
#: both `.par` and `.parquet`).
_EXTENSION_DISPATCH = ((".json", "json"), (".txt", "txt"),
                       (".csv", "csv"), (".par", "parquet"),
                       (".orc", "orc"))


#: SQL confs that change what schema inference returns from the same bytes.
_INFERENCE_CONFS = (
    "spark.sql.caseSensitive",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.orc.mergeSchema",
    "spark.sql.timestampType",
    "spark.sql.legacy.timeParserPolicy",
    "spark.sql.session.timeZone",
)

#: (kind, absolute path, reader options) → (file version, conf values,
#: inferred answer). A new version or conf value replaces the entry, so
#: the map holds one entry per distinct read.
_RESOLVED: dict[tuple, tuple[tuple, tuple, Any]] = {}


def _file_version(path: str) -> tuple | None:
    """``(st_ino, st_mtime_ns, st_size)`` of a local file, or of every leaf
    file under a local directory; None where no cheap exact version
    exists (a URI scheme, a glob, a missing path). A rewrite that keeps
    the inode and size within one mtime tick of the filesystem is not
    seen."""
    if re.match(r"[A-Za-z][A-Za-z0-9+.-]*:", path) or any(
            c in path for c in "*?[{"):
        return None
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_ino, st.st_mtime_ns, st.st_size)
        leaves = []
        for root, dirs, files in os.walk(path, followlinks=True):
            dirs.sort()
            for name in sorted(files):
                f = os.path.join(root, name)
                st = os.stat(f)
                leaves.append((os.path.relpath(f, path), st.st_ino,
                               st.st_mtime_ns, st.st_size))
        return tuple(leaves)
    except OSError:
        return None


def _resolve(spark: SparkSession, kind: str, path: str, options: tuple,
             infer: Callable[[], tuple[DataFrame, Any]],
             reuse: Callable[[Any], DataFrame]) -> DataFrame:
    """Read ``path``, running Spark's inference at most once per file version.

    ``infer()`` reads with inference and returns ``(df, answer)``, where
    the answer (a schema, plus a CSV's sniffed dialect) is everything a
    later read needs; ``reuse(answer)`` builds the same frame from it
    without a Spark job. The answer is reused while the file's version
    and the inference confs are unchanged; the version is taken before
    inference, so a rewrite during it only costs a re-inference. A read
    that raises stores nothing."""
    version = _file_version(path)
    if version is None:
        return infer()[0]
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    key = (kind, os.path.abspath(path), options)
    hit = _RESOLVED.get(key)
    if hit is not None and hit[:2] == (version, confs):
        return reuse(hit[2])
    df, answer = infer()
    _RESOLVED[key] = (version, confs, answer)
    return df


def _read_inferred(spark: SparkSession, fmt: str, path: str,
                   **options: str) -> DataFrame:
    """``spark.read.options(**options).format(fmt).load(path)``, with the
    inferred schema reused per file version (``_resolve``)."""
    def read(schema=None):
        reader = spark.read.options(**options)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.format(fmt).load(path)

    def infer():
        df = read()
        return df, df.schema
    return _resolve(spark, fmt, path, tuple(sorted(options.items())),
                    infer, read)


def _head_lines(spark: SparkSession, path: str) -> list[str]:
    """The first 20 lines of ``path`` that the CSV reader would not skip
    (it skips those Java's ``trim`` empties, hence the character class),
    in one Spark job: the sample every sniff reads."""
    return [r[0] for r in spark.read.text(path)
            .where(F.col("value").rlike("[^\\x00-\\x20]"))
            .limit(20).collect()]


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


def _records(spark: SparkSession, lines: list[str],
             delim: str) -> list[list[str | None]]:
    """``lines`` split in this process by Spark's own CSV tokenizer, set up
    from the reader's options, so they read as a headerless read with
    inference off reads them: an empty field is null and every record is
    padded or cut to the width of the first."""
    if not lines:
        return []
    jvm = spark._jvm
    opts = jvm.org.apache.spark.sql.catalyst.csv.CSVOptions(
        jvm.org.apache.spark.api.python.PythonUtils.toScalaMap({"sep": delim}),
        False, spark.conf.get("spark.sql.session.timeZone"))
    parser = jvm.com.univocity.parsers.csv.CsvParser(opts.asParserSettings())
    rows = [[c or None for c in parser.parseLine(line)] for line in lines]
    width = len(rows[0])
    return [(r + [None] * width)[:width] for r in rows]


def _header_of(rows: list[list[str | None]]) -> bool:
    """Record 1 is a header iff any of its cells does not parse like the
    values under it (and there are at least 2 records)."""
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


def find_delimiter(spark: SparkSession, path: str) -> str:
    """S3: pick the first candidate whose count matches across the first two
    lines the reader does not skip and is non-zero; fall back to ';'
    (intended IO.findDelimiter)."""
    return _delimiter_of(_head_lines(spark, path))


def detect_escape(spark: SparkSession, path: str, delim: str) -> str | None:
    """S5: longest multi-word field of the second line the reader does not
    skip; a leading quote char means the file quotes free-text fields with
    it (IO.detectEscape:19-30)."""
    return _escape_of(_head_lines(spark, path), delim)


def has_header(spark: SparkSession, path: str, delim: str) -> bool:
    """S4 with working semantics: row 1 of the first 20 records is a header
    iff any of its cells does not parse like the values under it (and the
    file has at least 2 records)."""
    return _header_of(_records(spark, _head_lines(spark, path), delim))


def load_csv(spark: SparkSession, path: str, *, delimiter: str | None = None,
             header: bool | None = None, escape: str | None = None) -> DataFrame:
    """S2: CSV scan with dialect sniffing for any unspecified option. The
    three sniffs share one read of the head (``_head_lines``); the sniffed
    dialect is reused with the inferred schema (``_resolve``)."""
    def read(delim, hdr, esc, schema=None):
        reader = (spark.read.option("sep", delim)
                  .option("header", str(hdr).lower())
                  .option("inferSchema", "true"))
        if esc is not None:
            reader = reader.option("quote", esc).option("escape", esc)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.csv(path)

    def infer():
        lines = (_head_lines(spark, path)
                 if None in (delimiter, header, escape) else [])
        delim = delimiter if delimiter is not None else _delimiter_of(lines)
        hdr = (header if header is not None
               else _header_of(_records(spark, lines, delim)))
        esc = escape if escape is not None else _escape_of(lines, delim)
        df = read(delim, hdr, esc)
        return df, (delim, hdr, esc, df.schema)
    return _resolve(spark, "csv", path, (delimiter, header, escape),
                    infer, lambda answer: read(*answer))


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
        return _read_inferred(spark, "json", path), "json"
    if ftype == "csv":
        return load_csv(spark, path, **csv_opts), "csv"
    if ftype == "txt":
        return spark.read.text(path), "txt"
    if ftype in ("parquet", "par"):
        return (_read_inferred(spark, "parquet", path, mergeSchema=ms),
                "parquet")
    if ftype == "orc":
        return _read_inferred(spark, "orc", path, mergeSchema=ms), "orc"
    raise ValueError(f"cannot determine filetype for {path!r}; "
                     f"pass filetype= one of json/csv/txt/parquet/orc")


def load_parquet_utc(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read for timestamps compared against timezone-naive readers
    (the DuckDB oracles): pins the session to UTC, a runtime-settable and
    idempotent SQL conf, since a caller's own session may not carry this
    package's defaults. TIMESTAMP(NANOS) columns fail inference unless
    read as longs, so a failed read sets nanos-as-long and retries; the
    retry infers under a new conf value (``_resolve``)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        return _read_inferred(spark, "parquet", path)
    except Exception:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return _read_inferred(spark, "parquet", path)


def events_ts_utc(df: DataFrame) -> DataFrame:
    """The events frame (batch or stream) as read by ``load_parquet_utc``,
    with ``ts`` a TIMESTAMP: nanos-as-long become micros (floor), matching
    DuckDB's nanos→TIMESTAMP cast. Newer testdata writes TIMESTAMP
    (isAdjustedToUTC=false), which Spark reads as TIMESTAMP_NTZ; plans use
    epoch arithmetic (unix_millis, watermarks) that requires TIMESTAMP,
    and with the session pinned to UTC the cast is a pure type change,
    wall-clock identical to the timezone-naive DuckDB oracle's read."""
    ts = df.schema["ts"].dataType
    if isinstance(ts, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


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
