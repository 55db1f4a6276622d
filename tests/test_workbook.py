"""Workbook (XLSX/XLS) parse goldens — mirrors the reference's TestParser
(/root/reference/src/test/java/com/codingchili/TestParser.java:117-166:
offset-5 fixture; name=test_<i>, flag alternating, integer=2*pos,
float=0.5*pos) plus the ExcelParser cell/row semantics the Java suite
exercises implicitly."""

from __future__ import annotations

import datetime as dt
import io
import os
import struct
import zipfile

import pytest

from excelastic_spark.sources.biff import _decode_rk, parse_xls_rows
from excelastic_spark.sources.spreadsheet import (
    ParserException,
    parse_rows,
    read_workbooks,
    workbook_typed,
)
from excelastic_spark.sources.workbook import (
    Cell,
    Sheet,
    WorkbookError,
    is_date_format,
    iso_instant,
    parse_xlsx_rows,
    serial_to_datetime,
    sheet_to_documents,
    write_xlsx,
)

REF = "/root/reference/src/test/resources"


def _needs_ref(name):
    """Skip where the reference checkout (and so its Excel-written fixture
    ``name``) is absent; the test runs unchanged wherever it exists."""
    path = f"{REF}/{name}"
    return pytest.mark.skipif(
        not os.path.exists(path), reason=f"reference fixture {path} not present"
    )


def _assert_parser_goldens(docs):
    # TestParser.java:148-162
    assert len(docs) == 2
    for i, d in enumerate(docs):
        pos = i + 1
        assert d["name"] == f"test_{i}"
        assert d["flag"] is (pos % 2 == 0)
        assert d["integer"] == pos * 2
        assert d["float"] == pos * 0.5


@_needs_ref("test.xlsx")
def test_xlsx_reference_golden():
    # testParseOOXML (TestParser.java:52-55)
    headers, docs = parse_rows(f"{REF}/test.xlsx", offset=5)
    assert headers == ["name", "flag", "integer", "float"]
    _assert_parser_goldens(docs)
    # row 7's float cell is numeric 1.0 -> parseNumeric narrows to int
    # (DataTypes.java:51-57); the Java assert getFloat()==1.0f passes the
    # same way
    assert isinstance(docs[1]["float"], int)


@_needs_ref("test.xls")
def test_xls_reference_fixture():
    # testParse2007 is @Ignore'd upstream; the fixture still parses: a
    # 3-column sheet at offset 5 with two data rows
    headers, docs = parse_rows(f"{REF}/test.xls", offset=5)
    assert headers == ["Column 1", "Column 2", "Column 3"]
    assert docs == [
        {f"Column {j}": f"cell 6.{j}" for j in range(1, 4)},
        {f"Column {j}": f"cell 7.{j}" for j in range(1, 4)},
    ]


def _replace_member(package: bytes, name: str, data: bytes) -> bytes:
    out = io.BytesIO()
    with zipfile.ZipFile(io.BytesIO(package)) as src, zipfile.ZipFile(
        out, "w", zipfile.ZIP_DEFLATED
    ) as dst:
        for info in src.infolist():
            dst.writestr(info, data if info.filename == name else src.read(info))
    return out.getvalue()


def _invert_member_byte(package: bytes, name: str) -> bytes:
    """Invert the middle byte of member ``name``'s deflate data."""
    with zipfile.ZipFile(io.BytesIO(package)) as zf:
        info = zf.getinfo(name)
    # local file header: 30 fixed bytes, then the name and extra fields
    n_name, n_extra = struct.unpack_from("<HH", package, info.header_offset + 26)
    pos = info.header_offset + 30 + n_name + n_extra + info.compress_size // 2
    return package[:pos] + bytes([package[pos] ^ 0xFF]) + package[pos + 1:]


def test_invalid_workbook_raises(tmp_path):
    # failParseInvalid (TestParser.java:33-40): the reference's invalid.xlsx
    # wherever that checkout exists, and always damaged packages built from
    # write_xlsx output
    good = tmp_path / "good.xlsx"
    write_xlsx(str(good), ["name", "integer"], [["test_0", 2]], offset=5)
    assert parse_rows(str(good), offset=5) == (
        ["name", "integer"], [{"name": "test_0", "integer": 2}]
    )
    package = good.read_bytes()
    damaged = {
        "not_zip": b"not a zip archive " * 8,
        "truncated": package[: len(package) // 2],
        "bad_deflate": _invert_member_byte(package, "xl/worksheets/sheet1.xml"),
        "styles_not_xml": _replace_member(package, "xl/styles.xml", b"<not xml"),
        "rels_not_xml": _replace_member(
            package, "xl/_rels/workbook.xml.rels", b"<not xml"
        ),
    }
    paths = [f"{REF}/invalid.xlsx"] if os.path.exists(f"{REF}/invalid.xlsx") else []
    for name, data in damaged.items():
        p = tmp_path / f"{name}.xlsx"
        p.write_bytes(data)
        paths.append(str(p))
    for p in paths:
        with pytest.raises(ParserException):
            parse_rows(p, offset=5)


def test_write_parse_roundtrip(tmp_path):
    p = str(tmp_path / "rt.xlsx")
    write_xlsx(
        p,
        ["name", "flag", "integer", "float", "when"],
        [
            ["test_0", False, "2", "0.5", dt.datetime(1998, 10, 3)],
            ["test_1", True, 4, 1.0, dt.datetime(2020, 2, 29, 13, 45, 30)],
        ],
        offset=5,
    )
    headers, docs = parse_rows(p, offset=5)
    assert headers == ["name", "flag", "integer", "float", "when"]
    _assert_parser_goldens(docs)
    assert docs[0]["when"] == "1998-10-03T00:00:00Z"
    assert docs[1]["when"] == "2020-02-29T13:45:30Z"


def test_null_empty_suppression(tmp_path):
    # ExcelParser.java:251-256: null and empty-string cells omitted
    p = str(tmp_path / "n.xlsx")
    write_xlsx(p, ["a", "b", "c"], [["x", None, ""], [None, 5, "y"]])
    _, docs = parse_xlsx_rows(open(p, "rb").read(), 1)
    assert docs == [{"a": "x"}, {"b": 5, "c": "y"}]


def test_item_count_stops_at_missing_row():
    # getItemCount (ExcelParser.java:202-212): contiguous EXISTING rows; an
    # empty-but-present row element counts, a missing one stops the scan
    sheet = Sheet(
        rows={
            0: {0: Cell("s", "h")},
            1: {0: Cell("n", 1.0)},
            2: {},  # present, no cells
            # row 3 missing entirely
            4: {0: Cell("n", 9.0)},
        },
        present={0, 1, 2, 4},
    )
    headers, docs = sheet_to_documents(sheet, offset=1)
    assert headers == ["h"]
    assert docs == [{"h": 1}, {}]


def test_column_count_contiguous_and_nonstring_header():
    # getColumnCount stops at the first empty cell (ExcelParser.java:176-192)
    sheet = Sheet(
        rows={0: {0: Cell("s", "a"), 2: Cell("s", "c")}, 1: {0: Cell("n", 1.0)}},
        present={0, 1},
    )
    headers, docs = sheet_to_documents(sheet, offset=1)
    assert headers == ["a"]
    # getColumns/getStringCellValue: non-string header -> error
    bad = Sheet(rows={0: {0: Cell("n", 3.0)}}, present={0})
    with pytest.raises(WorkbookError):
        sheet_to_documents(bad, offset=1)


def test_value_beyond_headers_raises():
    # reference: titles[index] out of bounds (ExcelParser.java:254-255)
    sheet = Sheet(
        rows={0: {0: Cell("s", "a")}, 1: {0: Cell("n", 1.0), 1: Cell("n", 2.0)}},
        present={0, 1},
    )
    with pytest.raises(WorkbookError):
        sheet_to_documents(sheet, offset=1)


def test_serial_date_goldens():
    # POI DateUtil.getJavaDate semantics incl. the 1900-02-29 phantom day
    assert serial_to_datetime(1.0) == dt.datetime(1900, 1, 1)
    assert serial_to_datetime(59.0) == dt.datetime(1900, 2, 28)
    assert serial_to_datetime(61.0) == dt.datetime(1900, 3, 1)
    assert serial_to_datetime(36071.0) == dt.datetime(1998, 10, 3)
    assert serial_to_datetime(0.5) == dt.datetime(1899, 12, 31, 12, 0, 0)
    # 1904 windowing (workbookPr date1904)
    assert serial_to_datetime(0.0, date1904=True) == dt.datetime(1904, 1, 1)
    assert serial_to_datetime(365.0, date1904=True) == dt.datetime(1904, 12, 31)
    # Instant.toString rendering: millis only when non-zero
    assert iso_instant(dt.datetime(2020, 1, 2, 3, 4, 5)) == "2020-01-02T03:04:05Z"
    assert (
        iso_instant(dt.datetime(2020, 1, 2, 3, 4, 5, 500000))
        == "2020-01-02T03:04:05.500Z"
    )


def test_date_format_detection():
    assert is_date_format(14, None)  # builtin m/d/yy
    assert is_date_format(22, None)
    assert not is_date_format(0, None)  # General
    assert not is_date_format(2, None)  # 0.00
    assert is_date_format(164, "yyyy-mm-dd hh:mm")
    assert not is_date_format(164, "#,##0.00")
    assert not is_date_format(164, '"year" 0000')  # quoted y is a literal


def test_rk_decode_goldens():
    # [MS-XLS] §2.5.276 RkNumber: fInt / fX100 combinations
    assert _decode_rk((42 << 2) | 0x02) == 42.0
    assert _decode_rk((-7 & 0x3FFFFFFF) << 2 | 0x02) == -7.0
    assert _decode_rk(((12345 << 2) | 0x02) | 0x01) == 123.45
    import struct

    bits = struct.unpack("<Q", struct.pack("<d", 2.5))[0]
    assert _decode_rk((bits >> 32) & 0xFFFFFFFC) == 2.5


@_needs_ref("test.xls")
def test_xls_roundtrip_against_xlsx_semantics(tmp_path):
    # the two readers share sheet_to_documents; spot-check the BIFF cell
    # decode path against the reference fixture re-encoded as xlsx values
    _, xls_docs = parse_xls_rows(open(f"{REF}/test.xls", "rb").read(), 5)
    p = str(tmp_path / "same.xlsx")
    write_xlsx(
        p,
        ["Column 1", "Column 2", "Column 3"],
        [[d[f"Column {j}"] for j in range(1, 4)] for d in xls_docs],
        offset=5,
    )
    _, xlsx_docs = parse_xlsx_rows(open(p, "rb").read(), 5)
    assert xls_docs == xlsx_docs


def test_workbook_typed_schema(spark, tmp_path):
    p = str(tmp_path / "typed.xlsx")
    write_xlsx(
        p,
        ["name", "flag", "integer", "mixed", "when"],
        [
            ["a", True, 1, 1, dt.datetime(2001, 2, 3)],
            ["b", False, 2, 2.5, dt.datetime(2002, 3, 4)],
        ],
    )
    df = workbook_typed(spark, p, offset=1)
    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert fields == {
        "name": "string",
        "flag": "boolean",
        "integer": "bigint",
        "mixed": "double",  # int+float unify to double
        "when": "string",  # ISO instant strings
    }
    rows = sorted(df.collect(), key=lambda r: r["name"])
    assert rows[0]["when"] == "2001-02-03T00:00:00Z"
    assert rows[1]["mixed"] == 2.5


def test_read_workbooks_distributed(spark, tmp_path):
    # one task per file: 3 workbooks parse into one DataFrame
    for i in range(3):
        write_xlsx(
            str(tmp_path / f"f{i}.xlsx"),
            ["k", "v"],
            [[f"doc{i}_{j}", i * 10 + j] for j in range(4)],
        )
    df = read_workbooks(spark, str(tmp_path), offset=1)
    rows = df.collect()
    assert len(rows) == 12
    assert {r["src_file"].rsplit("/", 1)[1] for r in rows} == {
        "f0.xlsx", "f1.xlsx", "f2.xlsx"
    }
    import json

    docs = [json.loads(r["doc"]) for r in rows]
    assert {d["k"] for d in docs} == {f"doc{i}_{j}" for i in range(3) for j in range(4)}


def test_xls_corrupt_bytes_raise_parser_exception(tmp_path):
    """Arbitrary corrupt/truncated xls byte streams must surface as the
    documented ParserException (failParseInvalid contract), never raw
    struct.error/IndexError (ADVICE r2). The blobs are cut from a BIFF8
    compound file write_xls writes, and from the reference's test.xls
    wherever that checkout exists."""
    from excelastic_spark.sources.biff import write_xls
    from excelastic_spark.sources.spreadsheet import parse_workbook_bytes

    # the shape test_xls_reference_fixture documents for test.xls
    p = tmp_path / "real.xls"
    write_xls(
        str(p),
        [f"Column {j}" for j in range(1, 4)],
        [[f"cell {i}.{j}" for j in range(1, 4)] for i in (6, 7)],
        offset=5,
    )
    reals = [p.read_bytes()]
    assert parse_workbook_bytes(reals[0], ".xls", offset=5)[1] == [
        {f"Column {j}": f"cell {i}.{j}" for j in range(1, 4)} for i in (6, 7)
    ]
    if os.path.exists(f"{REF}/test.xls"):
        with open(f"{REF}/test.xls", "rb") as f:
            reals.append(f.read())
    for real in reals:
        corrupt = [
            b"",
            b"\x00" * 64,
            b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 40,  # header cut
            real[: len(real) // 2],  # truncated mid-stream
            real[:512] + bytes(256) * 4,  # valid header, garbage sectors
            bytes(range(256)) * 8,
        ]
        for blob in corrupt:
            with pytest.raises(ParserException):
                parse_workbook_bytes(blob, ".xls", offset=5)


def _patched_xls(tmp_path, patches=()) -> bytes:
    """A one-sector-stream ``write_xls`` file with ``(offset, struct
    format, value)`` patches applied."""
    from excelastic_spark.sources.biff import write_xls

    p = tmp_path / "w.xls"
    write_xls(str(p), ["a"], [["x"]])
    blob = bytearray(p.read_bytes())
    for off, fmt, value in patches:
        struct.pack_into(fmt, blob, off, value)
    return bytes(blob)


@pytest.mark.parametrize("chain", ["difat", "minifat"])
@pytest.mark.parametrize("count", [2**32 - 1, None])
def test_xls_sector_chains_are_bounded(tmp_path, chain, count):
    """[MS-CFB] DIFAT and miniFAT chains run at most once per sector the
    file holds: a header count past the file's sectors (up to 2**32-1),
    or a count of exactly the file's sectors (None) over a chain whose
    sector names itself, raises ParserException at once instead of
    looping on the count."""
    from excelastic_spark.sources.spreadsheet import parse_workbook_bytes

    n_sectors = len(_patched_xls(tmp_path)) // 512
    last = n_sectors - 2  # the stream's last sector (the header is -1)
    start, n = {"difat": (68, 72), "minifat": (60, 64)}[chain]
    blob = _patched_xls(tmp_path, [
        (56, "<I", 2**32 - 1),  # mini-stream cutoff: the stream is mini
        (512 + 4 * last, "<I", last),  # FAT entry: last -> last
        ((last + 1) * 512 + 508, "<I", last),  # DIFAT next: last -> last
        (start, "<I", last),
        (n, "<I", n_sectors if count is None else count),
    ])
    with pytest.raises(ParserException, match="CFB"):
        parse_workbook_bytes(blob, ".xls", offset=1)


@pytest.mark.parametrize("off,shift", [(30, 10), (30, 16), (32, 7)])
def test_xls_bad_sector_shift_raises(tmp_path, off, shift):
    """Only sector shifts 9 and 12 and mini-sector shift 6 are valid
    ([MS-CFB] §2.2)."""
    from excelastic_spark.sources.spreadsheet import parse_workbook_bytes

    blob = _patched_xls(tmp_path, [(off, "<H", shift)])
    with pytest.raises(ParserException, match="sector shift"):
        parse_workbook_bytes(blob, ".xls", offset=1)


def test_read_typed_rejects_multi_file_scan(spark, tmp_path):
    """Line-number recovery is file-relative: a directory scan must be
    rejected loudly, not silently misnumbered (ADVICE r2)."""
    from excelastic_spark.sources.spreadsheet import read_typed

    d = tmp_path / "many.csv"
    d.mkdir()
    for i in range(2):
        (d / f"part{i}.csv").write_text("a,b\n1,2\n")
    with pytest.raises(ParserException):
        read_typed(spark, str(d), offset=1).collect()


@pytest.mark.parametrize("sector_size", [512, 4096])
def test_write_xls_roundtrip_matches_xlsx(tmp_path, sector_size):
    """write_xls (BIFF8 in a CFB container) must parse back to the SAME
    typed documents as write_xlsx on identical inputs — bool/str/int/float/
    date-styled serials. sector_size=4096 emits a version-4 compound file,
    whose sector offsets are (sect+1)*sector_size, not 512+sect*size
    (ADVICE r2)."""
    from excelastic_spark.sources.biff import parse_xls_rows, write_xls

    hdrs = ["name", "flag", "integer", "float", "when"]
    rows = [
        ["test_0", False, "2", "0.5", dt.datetime(1998, 10, 3)],
        ["quoted, comma", True, 7, 3.25, dt.date(2020, 2, 29)],
        [None, None, 123456, -1.5, dt.datetime(2001, 1, 1, 12, 30, 15)],
        # enough strings to force an SST CONTINUE split in bigger fixtures
        ["s" * 200, True, 1, 1.0, dt.datetime(1999, 12, 31, 23, 59, 59)],
    ]
    px = str(tmp_path / "rt.xlsx")
    pb = str(tmp_path / f"rt_{sector_size}.xls")
    write_xlsx(px, hdrs, rows, offset=3)
    write_xls(pb, hdrs, rows, offset=3, sector_size=sector_size)
    with open(px, "rb") as f:
        exp = parse_xlsx_rows(f.read(), offset=3)
    with open(pb, "rb") as f:
        got = parse_xls_rows(f.read(), offset=3)
    assert got == exp


def test_write_xls_sst_continue_split(tmp_path):
    """A string table larger than one BIFF record must round-trip through
    SST + CONTINUE records."""
    from excelastic_spark.sources.biff import parse_xls_rows, write_xls

    rows = [[f"string-{i:04d}-" + "x" * 60] for i in range(300)]
    p = str(tmp_path / "sst.xls")
    write_xls(p, ["col"], rows)
    with open(p, "rb") as f:
        headers, docs = parse_xls_rows(f.read(), offset=1)
    assert headers == ["col"]
    assert [d["col"] for d in docs] == [r[0] for r in rows]
