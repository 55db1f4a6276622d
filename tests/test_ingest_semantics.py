"""Reference parse-semantics goldens (FIXTURES.md §3, mirroring the
reference's TestParser/TestDataType suites)."""

from __future__ import annotations

import pytest

from excelastic_spark.build import validate_and_fingerprint
from excelastic_spark.corpus import ParserException
from excelastic_spark.sources.datatypes import parse_numeric, parse_string_value
from excelastic_spark.sources.spreadsheet import (
    ColumnsHeadersMismatchException,
    InvalidFileNameException,
    UnsupportedFileTypeException,
    parse_rows,
    read_typed,
)

# verbatim from /root/reference/src/test/resources/test.csv (header offset 5)
REF_CSV = (
    "skip1,s,s,s\n"
    "skip2,s,s,s\n"
    "skip3,s,s,s\n"
    "skip4,s,s,s\n"
    "name,flag,integer,float\n"
    "test_0,false,2,0.5\n"
    "test_1,true,4,1.0\n"
)


def test_datatypes_goldens():
    # TestDataType.java:14-43
    assert parse_string_value("4096") == 4096
    assert parse_string_value("0.5") == 0.5
    assert parse_string_value("true") is True
    assert parse_string_value("false") is False
    assert parse_string_value("hello") == "hello"
    assert parse_string_value("") == ""
    assert parse_string_value("-5") == "-5"  # sign rejected -> string
    assert parse_string_value("1e3") == "1e3"  # exponent rejected
    assert parse_numeric(2.0) == 2 and isinstance(parse_numeric(2.0), int)
    assert parse_numeric(2.5) == 2.5


def test_parse_rows_goldens(tmp_path):
    # TestParser.java:117-166 golden values, offset 5
    p = tmp_path / "test.csv"
    p.write_text(REF_CSV)
    headers, docs = parse_rows(str(p), offset=5)
    assert headers == ["name", "flag", "integer", "float"]
    assert docs[0] == {"name": "test_0", "flag": False, "integer": 2, "float": 0.5}
    assert docs[1] == {"name": "test_1", "flag": True, "integer": 4, "float": 1.0}


def test_header_autoname_and_null_drop(tmp_path):
    # empty header -> header_<N> (CSVParser.java:124-128); empty cell
    # omitted from the doc (ExcelParser.java:251-256)
    p = tmp_path / "t.csv"
    p.write_text("a,,c\n1,,x\n,2,\n")
    headers, docs = parse_rows(str(p), offset=1)
    assert headers == ["a", "header_1", "c"]
    assert docs[0] == {"a": 1, "c": "x"}
    assert docs[1] == {"header_1": 2}


def test_quoted_commas(tmp_path):
    p = tmp_path / "q.csv"
    p.write_text('a,b\n"x,y",2\n')
    _, docs = parse_rows(str(p), offset=1)
    assert docs[0] == {"a": "x,y", "b": 2}


def test_arity_mismatch_row_number(tmp_path):
    # ColumnsHeadersMismatchException carries the 1-based row number
    p = tmp_path / "bad.csv"
    p.write_text("a,b\n1,2\n1,2,3\n")
    with pytest.raises(ColumnsHeadersMismatchException) as e:
        parse_rows(str(p), offset=1)
    assert e.value.row == 3


def test_exception_taxonomy(tmp_path):
    with pytest.raises(InvalidFileNameException):
        parse_rows("noextension", offset=1)
    with pytest.raises(UnsupportedFileTypeException):
        parse_rows("file.parquet9000", offset=1)
    # unparseable binary -> ParserException before anything is emitted
    p = tmp_path / "invalid.csv"
    p.write_bytes(b"\xff\xfe\x00\x01binary")
    from excelastic_spark.sources.spreadsheet import ParserException as SpPE

    with pytest.raises(SpPE):
        parse_rows(str(p), offset=1)


def test_read_typed_column_inference(spark, tmp_path):
    p = tmp_path / "typed.csv"
    p.write_text(REF_CSV)
    df = read_typed(spark, str(p), offset=5)
    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert fields == {
        "name": "string",
        "flag": "boolean",
        "integer": "bigint",
        "float": "double",
    }
    rows = sorted(df.collect(), key=lambda r: r["name"])
    assert rows[0]["flag"] is False and rows[0]["integer"] == 2
    assert rows[1]["float"] == 1.0


def test_read_typed_multi_block_single_file(spark, tmp_path):
    """A large CSV split into many file blocks (> maxPartitionBytes) must
    still line-number and type correctly: the numbering unit is the
    (partition, block) group ordered by byte offset, so bin-packed scans of
    a single file are legitimate, not rejected (ADVICE r3: the old
    partition-level guard spuriously refused them)."""
    p = tmp_path / "big.csv"
    rows = ["name,value"] + [f"row{i:05d},{i}" for i in range(5000)]
    p.write_text("\n".join(rows) + "\n")
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_cost = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try:
        df = read_typed(spark, str(p), offset=1)
        assert df.rdd.getNumPartitions() > 4  # genuinely multi-block scan
        got = df.orderBy("name").collect()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        spark.conf.set("spark.sql.files.openCostInBytes", old_cost)
    assert len(got) == 5000
    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert fields == {"name": "string", "value": "bigint"}
    # line order survives the multi-block numbering: row i carries value i
    assert [r["value"] for r in got] == list(range(5000))


def test_validation_dry_run(spark):
    # initialize()-analog: bad input aborts BEFORE any write
    import pyspark.sql.functions as F

    good = spark.createDataFrame(
        [("r", "p1", "c", "py", "x"), ("r", "p2", "c", "py", "y")],
        "repo string, path string, commit string, lang string, content string",
    )
    assert validate_and_fingerprint(good, pre_ingested=False).n == 2
    dup = good.withColumn("path", F.lit("same"))
    with pytest.raises(ParserException):
        validate_and_fingerprint(dup, pre_ingested=False)
    nulls = spark.createDataFrame(
        [("r", "p", "c", "py", None)],
        "repo string, path string, commit string, lang string, content string",
    )
    with pytest.raises(ParserException):
        validate_and_fingerprint(nulls, pre_ingested=False)
