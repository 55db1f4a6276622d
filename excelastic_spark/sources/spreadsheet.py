"""Spreadsheet/CSV ingest with the reference's exact parse semantics.

Re-expresses the reference's parser stack (SURVEY.md §2A A1-A11):

* parser dispatch by extension + the reference's exception taxonomy
  (ParserFactory.java:38-53, InvalidFileNameException, UnsupportedFileTypeException)
* header row at a 1-based ``offset``; empty header cells auto-named
  ``header_<N>`` (CSVParser.java:117-136)
* quote-aware CSV splitting — commas inside quotes (CSVParser.java:161-226)
* per-cell type inference int -> float -> bool -> string (DataTypes.java:31-45)
* null/empty cells OMITTED from the document, not null-filled
  (ExcelParser.java:251-256)
* arity check: value count must equal header count, error carries the
  1-based row number (CSVParser.java:138-159, ColumnsHeadersMismatchException.java:14-18)
* validate-before-write dry-run (ExcelParser.java:90-102)

Two paths:
* ``parse_rows`` — exact reference semantics producing dynamic row
  documents (dicts), for fixture-scale files (the reference itself is a
  single-JVM parser; these files are control-plane inputs, not the 100 TB
  corpus).
* ``read_typed`` — the scalable Spark path: spark.read.csv + column-level
  regex type inference; a column is Long/Double/Boolean iff EVERY non-empty
  cell matches the reference rule, else String (columns must be
  single-typed in a DataFrame; per-cell dynamic typing survives in the
  ``parse_rows`` path and its tests).

XLSX/XLS: parsed by the stdlib workbook readers
(:mod:`excelastic_spark.sources.workbook` for OOXML zip+XML,
:mod:`excelastic_spark.sources.biff` for BIFF8/OLE2) with the reference's
exact cell semantics (ExcelParser.java:34-124); no POI/openpyxl needed.
``read_workbooks`` distributes parsing one-file-per-task via the binaryFile
source (xlsx is a zip — not splittable; the scale unit is the file, exactly
the reference's worker-pool-per-file model, Website.java:196).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from excelastic_spark.sources.datatypes import (
    SPARK_BOOL_RE,
    SPARK_FLOAT_RE,
    SPARK_INT_RE,
    parse_string_value,
)


class ParserException(Exception):
    """model/ParserException.java:9-21"""


class InvalidFileNameException(ParserException):
    """model/InvalidFileNameException.java:8-15 — file name has no extension."""


class UnsupportedFileTypeException(ParserException):
    """model/UnsupportedFileTypeException.java:8-15 — unknown extension."""


class ColumnsHeadersMismatchException(ParserException):
    """model/ColumnsHeadersMismatchException.java:14-18 — row arity != header
    arity; carries the 1-based row number like the reference."""

    def __init__(self, values: int, headers: int, row: int):
        super().__init__(
            f"row {row} contains {values} values but the headers are {headers}"
        )
        self.row = row


SUPPORTED = {".csv", ".xlsx", ".xls"}


def _extension(filename: str) -> str:
    base = os.path.basename(filename)
    if "." not in base:
        raise InvalidFileNameException(f"no extension in {filename!r}")
    ext = "." + base.rsplit(".", 1)[1].lower()
    if ext not in SUPPORTED:
        raise UnsupportedFileTypeException(f"unsupported extension {ext!r}")
    return ext


def _split_quoted(line: str) -> list[str]:
    """Comma split honoring double quotes — the reference's byte state
    machine (CSVParser.java:161-226) re-expressed over a decoded line."""
    out: list[str] = []
    buf: list[str] = []
    quoted = False
    for ch in line:
        if ch == '"':
            quoted = not quoted
        elif ch == "," and not quoted:
            out.append("".join(buf))
            buf = []
        elif ch != "\r":
            buf.append(ch)
    out.append("".join(buf))
    return out


def _headers(cells: list[str]) -> list[str]:
    """Empty header cells -> header_<N> (CSVParser.java:124-128)."""
    hs = []
    for i, c in enumerate(cells):
        name = c.strip().strip('"').strip()
        hs.append(name if name else f"header_{i}")
    return hs


def parse_rows(path: str, offset: int = 1) -> tuple[list[str], list[dict]]:
    """Reference-exact parse: (headers, row documents). The full file is
    parsed before returning — the initialize() dry-run semantics: any error
    aborts with nothing emitted (ExcelParser.java:90-102, README.md:15).
    Dispatch by extension mirrors ParserFactory.getByFilename
    (ParserFactory.java:38-53)."""
    ext = _extension(path)
    if ext in (".xlsx", ".xls"):
        # OSError stays unwrapped: a missing file is not an invalid one
        with open(path, "rb") as f:
            data = f.read()
        return parse_workbook_bytes(data, ext, offset)
    try:
        with open(path, encoding="utf-8") as f:
            lines = f.read().split("\n")
    except (OSError, UnicodeDecodeError) as e:
        raise ParserException(str(e)) from e
    if lines and lines[-1] == "":
        lines = lines[:-1]
    if offset < 1 or offset > len(lines):
        raise ParserException(f"header offset {offset} out of range")
    headers = _headers(_split_quoted(lines[offset - 1]))
    docs: list[dict] = []
    for rowno, line in enumerate(lines[offset:], start=offset + 1):
        cells = _split_quoted(line)
        if len(cells) != len(headers):
            raise ColumnsHeadersMismatchException(len(cells), len(headers), rowno)
        doc = {}
        for h, raw in zip(headers, cells):
            v = raw.strip()
            if v == "":
                continue  # null/empty suppression (ExcelParser.java:251-256)
            doc[h] = parse_string_value(v)
        docs.append(doc)
    return headers, docs


def read_typed(
    spark: SparkSession, path: str, offset: int = 1
) -> DataFrame:
    """Scalable Spark path: distributed CSV scan + column-level type
    inference with the reference's regexes. Whole columns are cast (Long /
    Double / Boolean) only when every non-empty cell matches; otherwise the
    column stays String. Pushdown-friendly: the output is plain typed
    columns, no UDFs.

    Line numbers are recovered WITHOUT a global window (a single-partition
    Exchange — the scale-killer the reference avoids with chunked mmap,
    CSVParser.java:49-74): within a scan partition
    ``monotonically_increasing_id`` is consecutive, and partitions of a
    single file cover contiguous, disjoint byte ranges, so
    ``line = cum_rows_before(partition) + (mid - min_mid(partition))`` —
    one cheap per-partition count aggregate (B rows to the driver), no
    shuffle of the data at all."""
    _extension(path)

    raw = spark.read.option("header", "false").option("quote", '"').csv(path)
    idx = raw.select(
        "*",
        F.spark_partition_id().alias("_pid"),
        F.monotonically_increasing_id().alias("_mid"),
        F.input_file_block_start().alias("_bs"),
        F.input_file_name().alias("_fn"),
    )
    # The numbering unit is a (partition, block) group, not the whole
    # partition: a bin-packed partition holding several blocks of the SAME
    # file (legitimate for files > maxPartitionBytes) reads each block as
    # one contiguous run, so ``_mid`` is consecutive within the group and
    # ``line = cum_rows_before(block) + (mid - min_mid(block))`` with
    # blocks ordered globally by byte offset — regardless of how blocks
    # were packed into partitions (ADVICE r3: partition-level rejection
    # spuriously refused bin-packed single-file scans).
    blocks = (
        idx.groupBy("_pid", "_bs")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("_mid").alias("m0"),
            F.max("_mid").alias("m1"),
            F.min("_fn").alias("f0"),
            F.countDistinct("_fn").alias("nf"),
        )
        .collect()
    )
    # Line numbers are file-relative: a dir/glob (multiple files) has no
    # single numbering — reject explicitly rather than guess.
    if len({r["f0"] for r in blocks}) > 1 or any(r["nf"] > 1 for r in blocks):
        raise ParserException(
            "read_typed expects a single CSV file (line numbers are "
            "file-relative); got a multi-file scan — read files individually"
        )
    # Soundness guard for the consecutive-within-block assumption: a block
    # read as one sequential run has exactly (m1 - m0 + 1) == n rows. A
    # violation means the scan interleaved rows of different blocks inside
    # one partition — misnumbering would be silent, so fail loudly.
    if any(r["m1"] - r["m0"] + 1 != r["n"] for r in blocks):
        raise ParserException(
            "read_typed scan interleaved file blocks within a partition; "
            "line-number recovery needs each block read as one contiguous run"
        )
    # blocks keyed on (pid, block_start), ordered by byte offset = line order
    offsets: dict[str, tuple[int, int]] = {}
    acc = 0
    for r in sorted(blocks, key=lambda r: r["_bs"]):
        offsets[f"{r['_pid']}_{r['_bs']}"] = (acc, r["m0"])
        acc += r["n"]
    key = F.concat_ws("_", F.col("_pid"), F.col("_bs"))
    base_map = F.create_map(
        *[F.lit(x) for k, (off, _) in offsets.items() for x in (k, off)]
    )
    m0_map = F.create_map(
        *[F.lit(x) for k, (_, m0) in offsets.items() for x in (k, m0)]
    )
    idx = idx.withColumn(
        "_rn",
        base_map[key] + (F.col("_mid") - m0_map[key]) + 1,
    )
    header_row = idx.filter(F.col("_rn") == offset).collect()[0]
    names = _headers([header_row[c] or "" for c in raw.columns])
    data = idx.filter(F.col("_rn") > offset).drop(
        "_pid", "_mid", "_bs", "_fn", "_rn"
    )
    df = data.toDF(*names)
    # column-level inference: one aggregate pass computing match counts
    checks = []
    for c in names:
        t = F.trim(F.col(c))
        ne = t.isNotNull() & (t != "")
        checks += [
            F.sum(F.when(ne, 1).otherwise(0)).alias(f"{c}__n"),
            F.sum(F.when(ne & t.rlike(SPARK_INT_RE), 1).otherwise(0)).alias(f"{c}__i"),
            F.sum(F.when(ne & t.rlike(SPARK_FLOAT_RE), 1).otherwise(0)).alias(
                f"{c}__f"
            ),
            F.sum(F.when(ne & t.rlike(SPARK_BOOL_RE), 1).otherwise(0)).alias(
                f"{c}__b"
            ),
        ]
    agg = df.agg(*checks).collect()[0]
    out_cols = []
    for c in names:
        n, i, f_, b = agg[f"{c}__n"], agg[f"{c}__i"], agg[f"{c}__f"], agg[f"{c}__b"]
        t = F.trim(F.col(c))
        if n and i == n:
            out_cols.append(t.cast("long").alias(c))
        elif n and (i + f_) == n:  # int regex is a subset case of numeric
            out_cols.append(t.cast("double").alias(c))
        elif n and b == n:
            out_cols.append((t == "true").alias(c))
        else:
            out_cols.append(F.when(t == "", None).otherwise(t).alias(c))
    return df.select(*out_cols)


# ---------------------------------------------------------------------------
# workbook (XLSX/XLS) paths


def parse_workbook_bytes(
    data: bytes, ext: str, offset: int = 1
) -> tuple[list[str], list[dict]]:
    """Parse workbook bytes with the reference's ExcelParser semantics;
    structural errors surface as ParserException like
    ExcelParser.setFileData:47-53 wraps POI failures — damaged zip members
    and non-XML parts of an .xlsx, and truncated or corrupt .xls compound
    files, included."""
    from excelastic_spark.sources.workbook import WorkbookError, parse_xlsx_rows

    try:
        if ext == ".xlsx":
            return parse_xlsx_rows(data, offset)
        from excelastic_spark.sources.biff import parse_xls_rows

        return parse_xls_rows(data, offset)
    except WorkbookError as e:
        raise ParserException(str(e)) from e


def read_workbooks(
    spark: SparkSession, path: str, offset: int = 1
) -> DataFrame:
    """Distributed workbook ingest: ``path`` (file/dir/glob of .xlsx/.xls)
    is scanned via the binaryFile source and each file parses in ITS OWN
    task — a zip container is not splittable, so the file is the unit of
    parallelism (the reference's one-worker-per-file pool, README.md:14).
    Output: (src_file, row_number, doc) with ``doc`` the typed row document
    as a JSON string (workbooks are schema-per-file; callers project to
    columns via :func:`workbook_typed` when the header set is known)."""
    import pandas as pd

    bin_df = spark.read.format("binaryFile").load(path).select(
        "path", "content"
    )

    def parse(batches):
        for pdf in batches:
            out_src, out_no, out_doc = [], [], []
            for src, blob in zip(pdf["path"], pdf["content"]):
                ext = "." + src.rsplit(".", 1)[1].lower()
                _, docs = parse_workbook_bytes(bytes(blob), ext, offset)
                for i, d in enumerate(docs):
                    out_src.append(src)
                    out_no.append(i + 1)
                    out_doc.append(json.dumps(d, sort_keys=True))
            yield pd.DataFrame(
                {"src_file": out_src, "row_number": out_no, "doc": out_doc}
            )

    return bin_df.mapInPandas(
        parse, schema="src_file string, row_number long, doc string"
    )


def workbook_typed(
    spark: SparkSession, path: str, offset: int = 1
) -> DataFrame:
    """Typed single-workbook read (the reference's per-file import unit):
    parse driver-side, then unify per-cell dynamic types to columns with the
    same rule as ``read_typed`` — all-int -> long, numeric mix -> double,
    all-bool -> boolean, otherwise string; absent cells -> null."""
    headers, docs = parse_rows(path, offset)
    cols: dict[str, list] = {h: [] for h in headers}
    for d in docs:
        for h in headers:
            cols[h].append(d.get(h))
    fields = []
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    rows_out: list[list] = [[] for _ in docs]
    for h in headers:
        vals = cols[h]
        non_null = [v for v in vals if v is not None]
        if non_null and all(
            isinstance(v, bool) for v in non_null
        ):
            typ, conv = BooleanType(), lambda v: v
        elif non_null and all(
            isinstance(v, (int, float)) and not isinstance(v, bool)
            for v in non_null
        ):
            if all(isinstance(v, int) for v in non_null):
                typ, conv = LongType(), int
            else:
                typ, conv = DoubleType(), float
        else:
            typ, conv = StringType(), str
        fields.append(StructField(h, typ, True))
        for i, v in enumerate(vals):
            rows_out[i].append(None if v is None else conv(v))
    return spark.createDataFrame(rows_out, schema=StructType(fields))
