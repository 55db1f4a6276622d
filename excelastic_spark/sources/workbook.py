"""Workbook (XLSX / XLS) parsing — stdlib-only, no POI/openpyxl.

Re-expresses the reference's ExcelParser semantics
(/root/reference/src/main/java/com/codingchili/excelastic/model/ExcelParser.java):

* first sheet only (ExcelParser.java:44)
* 1-based header ``offset`` converted to a 0-based row index
  (ExcelParser.java:39)
* column count = contiguous non-empty formatted cells of the header row
  (getColumnCount, ExcelParser.java:176-192)
* item count = contiguous existing rows after the header row — counting
  stops at the first ROW ELEMENT that does not exist, not at the first
  empty row (getItemCount, ExcelParser.java:202-212; POI returns a Row for
  any <row> element, even one with no cells)
* per-cell typing (getRow, ExcelParser.java:222-260):
  BOOLEAN -> bool; STRING -> DataTypes.parseString (int -> float -> bool ->
  string precedence); NUMERIC -> ISO-8601 instant string when the cell's
  number format is a date format, else int/float narrowing
  (DataTypes.parseNumeric); FORMULA and ERROR cells fall through the
  switch -> omitted; null/empty values omitted (ExcelParser.java:251-256)
* invalid bytes -> ParserException (TestParser.failParseInvalid)

XLSX is ZIP + SpreadsheetML XML (ECMA-376, public): zipfile + ElementTree.
XLS (BIFF8 inside an OLE2/CFB compound file, [MS-XLS]/[MS-CFB], public) is
in :mod:`excelastic_spark.sources.biff`.

Deviation from the reference (documented): POI renders date cells through
the JVM *default timezone* (Date.toInstant), so the same file renders
differently per server TZ. We interpret the Excel serial as UTC — the only
deterministic choice for a distributed engine.

A minimal XLSX writer lives here too (fixtures + export sink): inline
strings, bool cells, numeric cells, date-styled serials.
"""

from __future__ import annotations

import datetime as _dt
import io
import re
import zipfile
import zlib
from typing import Any
from xml.etree import ElementTree as ET

from excelastic_spark.sources.datatypes import parse_numeric, parse_string_value

_DAY_MS = 24 * 60 * 60 * 1000

# Built-in date number-format ids (ECMA-376 §18.8.30; same set POI's
# DateUtil.isInternalDateFormat recognizes).
_BUILTIN_DATE_FMTS = frozenset(
    list(range(14, 23)) + list(range(27, 37)) + list(range(45, 48))
    + list(range(50, 59))
)

# Custom-format heuristic (the DateUtil.isADateFormat idea): after removing
# quoted literals, [..] sections, escapes and color/locale codes, a format
# is a date format if it contains a date token and no '#'/'0' digit runs
# interleaved with '%' etc. We use the practical subset: y/m/d/h/s plus
# elapsed-time brackets.
_FMT_STRIP = re.compile(r'"[^"]*"|\[[^\]]*\]|\\.|[_*].')
_FMT_DATE_TOKEN = re.compile(r"[ymdhs]", re.IGNORECASE)


def is_date_format(fmt_id: int, fmt_code: str | None) -> bool:
    if fmt_id in _BUILTIN_DATE_FMTS:
        return True
    if fmt_code is None:
        return False
    stripped = _FMT_STRIP.sub("", fmt_code)
    if "General" in stripped or "@" in stripped:
        return False
    return bool(_FMT_DATE_TOKEN.search(stripped)) and not re.search(
        r"[0#?]", stripped
    )


def serial_to_datetime(serial: float, date1904: bool = False) -> _dt.datetime:
    """Excel serial -> naive datetime (interpreted as UTC). Mirrors POI
    DateUtil.getJavaDate including the 1900-02-29 leap-bug handling: in the
    1900 system serials < 61 are NOT shifted by the phantom leap day."""
    whole = int(serial // 1)
    ms = int((serial - whole) * _DAY_MS + 0.5)
    if date1904:
        base = _dt.datetime(1903, 12, 31)
        adjust = 1
    else:
        base = _dt.datetime(1899, 12, 31)
        adjust = 0 if whole < 61 else -1
    return base + _dt.timedelta(days=whole + adjust, milliseconds=ms)


def iso_instant(dt: _dt.datetime) -> str:
    """java.time.Instant.toString rendering: seconds always shown,
    milliseconds only when non-zero (3-digit group)."""
    s = dt.strftime("%Y-%m-%dT%H:%M:%S")
    ms = dt.microsecond // 1000
    if ms:
        s += f".{ms:03d}"
    return s + "Z"


class WorkbookError(Exception):
    """Invalid workbook bytes/structure (wrapped into ParserException by
    the dispatch layer, like ExcelParser.setFileData:47-53)."""


# --------------------------------------------------------------------------
# XLSX reading


def _tag(el: ET.Element) -> str:
    t = el.tag
    return t.rsplit("}", 1)[1] if "}" in t else t


def _si_text(si: ET.Element) -> str:
    # plain <t> or rich-text runs <r><t>..</t></r>: concatenate all <t>
    return "".join(n.text or "" for n in si.iter() if _tag(n) == "t")


_COLRE = re.compile(r"([A-Z]+)([0-9]+)")


def _colrow(ref: str) -> tuple[int, int]:
    m = _COLRE.match(ref)
    if not m:
        raise WorkbookError(f"bad cell ref {ref!r}")
    col = 0
    for ch in m.group(1):
        col = col * 26 + (ord(ch) - 64)
    return col - 1, int(m.group(2)) - 1


class Cell:
    """Resolved cell: ``kind`` in {'b', 's', 'n', 'd'} (bool / string /
    numeric / iso-date-literal); FORMULA and ERROR cells are never
    materialized (the reference's switch skips them)."""

    __slots__ = ("kind", "value", "is_date")

    def __init__(self, kind: str, value: Any, is_date: bool = False):
        self.kind = kind
        self.value = value
        self.is_date = is_date

    def formatted(self) -> str:
        """DataFormatter.formatCellValue analog, used only for the header
        column count / header titles."""
        if self.kind == "b":
            return "TRUE" if self.value else "FALSE"
        if self.kind == "s":
            return self.value
        if self.kind == "d":
            return self.value.isoformat()
        v = self.value
        return str(int(v)) if v == int(v) else repr(v)


class Sheet:
    def __init__(self, rows: dict[int, dict[int, Cell]], present: set[int]):
        self.rows = rows  # row idx (0-based) -> {col idx -> Cell}
        self.present = present  # row indices whose <row> element exists

    def row(self, idx: int) -> dict[int, Cell] | None:
        if idx not in self.present:
            return None
        return self.rows.get(idx, {})


def load_xlsx(data: bytes) -> tuple[Sheet, bool]:
    """Parse the FIRST worksheet of an xlsx payload -> (Sheet, date1904)
    (ExcelParser.java:44 reads only sheet 0).

    Damaged packages surface as :class:`WorkbookError`, like
    ``biff.load_xls``: bytes that are not a zip, a truncated archive, a
    member whose deflate data or CRC-32 is broken, and parts that are not
    XML (workbook, relationships, shared strings, styles, worksheet)."""
    try:
        return _load_xlsx(data)
    except WorkbookError:
        raise
    except (zipfile.BadZipFile, zlib.error, EOFError, NotImplementedError,
            ValueError, KeyError, IndexError, ET.ParseError) as e:
        raise WorkbookError(f"corrupt xlsx package: {e!r}") from e


def _load_xlsx(data: bytes) -> tuple[Sheet, bool]:
    with zipfile.ZipFile(io.BytesIO(data)) as zf:
        # OPC packages store or deflate their parts, unencrypted (ECMA-376
        # Part 2); anything else is damage, not a reason to run another
        # decoder
        for i in zf.infolist():
            if (i.compress_type not in (zipfile.ZIP_STORED, zipfile.ZIP_DEFLATED)
                    or i.flag_bits & 0x1):
                raise WorkbookError(
                    f"xlsx part {i.filename!r} is neither stored nor "
                    "deflated, or is encrypted"
                )
        names = set(zf.namelist())
        wb = ET.fromstring(zf.read("xl/workbook.xml"))
        date1904 = False
        for el in wb.iter():
            if _tag(el) == "workbookPr":
                date1904 = el.get("date1904") in ("1", "true")
        # first sheet's relationship target
        sheet_rid = None
        for el in wb.iter():
            if _tag(el) == "sheet":
                sheet_rid = el.get(
                    "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
                )
                break
        target = "xl/worksheets/sheet1.xml"
        if sheet_rid and "xl/_rels/workbook.xml.rels" in names:
            rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
            for el in rels.iter():
                if _tag(el) == "Relationship" and el.get("Id") == sheet_rid:
                    t = el.get("Target", "")
                    target = t[1:] if t.startswith("/") else "xl/" + t
        if target not in names:
            raise WorkbookError(f"worksheet part {target!r} missing")

        shared: list[str] = []
        if "xl/sharedStrings.xml" in names:
            sst = ET.fromstring(zf.read("xl/sharedStrings.xml"))
            shared = [el for el in sst if _tag(el) == "si"]
            shared = [_si_text(si) for si in shared]

        # style index -> is-date-format
        date_styles: list[bool] = []
        if "xl/styles.xml" in names:
            styles = ET.fromstring(zf.read("xl/styles.xml"))
            custom: dict[int, str] = {}
            for el in styles.iter():
                if _tag(el) == "numFmt":
                    # numFmtId is required (ECMA-376 §18.8.30); a missing
                    # one is int("") -> ValueError -> WorkbookError
                    custom[int(el.get("numFmtId", ""))] = el.get("formatCode", "")
            for el in styles.iter():
                if _tag(el) == "cellXfs":
                    for xf in el:
                        if _tag(xf) != "xf":
                            continue
                        fid = int(xf.get("numFmtId", "0"))
                        date_styles.append(is_date_format(fid, custom.get(fid)))

        ws = ET.fromstring(zf.read(target))

    rows: dict[int, dict[int, Cell]] = {}
    present: set[int] = set()
    for row_el in ws.iter():
        if _tag(row_el) != "row":
            continue
        r_attr = row_el.get("r")
        ridx = int(r_attr) - 1 if r_attr else (max(present) + 1 if present else 0)
        present.add(ridx)
        cells: dict[int, Cell] = {}
        next_col = 0
        for c in row_el:
            if _tag(c) != "c":
                continue
            ref = c.get("r")
            cidx = _colrow(ref)[0] if ref else next_col
            next_col = cidx + 1
            cell = _resolve_cell(c, shared, date_styles)
            if cell is not None:
                cells[cidx] = cell
        if cells:
            rows[ridx] = cells
    return Sheet(rows, present), date1904


def _resolve_cell(
    c: ET.Element, shared: list[str], date_styles: list[bool]
) -> Cell | None:
    t = c.get("t", "n")
    v_el = None
    is_el = None
    has_formula = False
    for child in c:
        tag = _tag(child)
        if tag == "v":
            v_el = child
        elif tag == "is":
            is_el = child
        elif tag == "f":
            has_formula = True
    if has_formula or t == "e":
        # POI CellType FORMULA / ERROR: no case in the reference's switch
        # (ExcelParser.java:236-249) -> value stays null -> omitted
        return None
    if t == "inlineStr":
        return Cell("s", _si_text(is_el) if is_el is not None else "")
    if v_el is None or v_el.text is None:
        return None
    raw = v_el.text
    if t == "s":
        try:
            return Cell("s", shared[int(raw)])
        except (ValueError, IndexError) as e:
            raise WorkbookError(f"bad shared-string ref {raw!r}") from e
    if t == "str":
        # formula cached string: FORMULA type in POI -> skipped
        return None
    if t == "b":
        return Cell("b", raw.strip() in ("1", "true"))
    if t == "d":
        return Cell("d", _dt.datetime.fromisoformat(raw.strip()))
    # numeric
    try:
        num = float(raw)
    except ValueError as e:
        raise WorkbookError(f"bad numeric cell value {raw!r}") from e
    s_attr = c.get("s")
    is_date = False
    if s_attr is not None:
        si = int(s_attr)
        if 0 <= si < len(date_styles):
            is_date = date_styles[si]
    return Cell("n", num, is_date=is_date)


# --------------------------------------------------------------------------
# reference-semantics row extraction (shared by xlsx and xls)


def sheet_to_documents(
    sheet: Sheet, offset: int, date1904: bool = False
) -> tuple[list[str], list[dict]]:
    """ExcelParser.initialize + readRows semantics over a parsed sheet.
    Returns (headers, row documents). Raises WorkbookError on structural
    problems (missing header row, non-string header, row wider than the
    header — the cases where the reference would throw)."""
    off0 = offset - 1  # ExcelParser.java:39
    header = sheet.row(off0)
    if header is None:
        raise WorkbookError(f"header row {offset} does not exist")
    # getColumnCount: contiguous non-empty formatted cells from column 0
    columns = 0
    while True:
        cell = header.get(columns)
        if cell is None or cell.formatted() == "":
            break
        columns += 1
    # getColumns: getStringCellValue -> throws for non-string cells
    titles: list[str] = []
    for i in range(columns):
        cell = header[i]
        if cell.kind != "s":
            raise WorkbookError(
                f"header cell {i} of row {offset} is not a string"
            )
        titles.append(cell.value)
    # getItemCount: contiguous EXISTING rows after the header
    n_rows = 0
    while sheet.row(off0 + 1 + n_rows) is not None:
        n_rows += 1
    docs: list[dict] = []
    for r in range(n_rows):
        row = sheet.row(off0 + 1 + r) or {}
        doc: dict[str, Any] = {}
        last = max(row) + 1 if row else 0
        for i in range(last):
            cell = row.get(i)
            if cell is None:
                continue
            value = _cell_value(cell, date1904)
            if value is None or (isinstance(value, str) and value == ""):
                continue  # null/empty suppression (ExcelParser.java:251-256)
            if i >= len(titles):
                # reference: titles[index] out of bounds -> hard error
                raise WorkbookError(
                    f"row {off0 + 2 + r} has a value in column {i + 1} but "
                    f"only {len(titles)} headers"
                )
            doc[titles[i]] = value
        docs.append(doc)
    return titles, docs


def _cell_value(cell: Cell, date1904: bool) -> Any:
    if cell.kind == "b":
        return cell.value  # ExcelParser.java:237-239
    if cell.kind == "s":
        return parse_string_value(cell.value)  # ExcelParser.java:240-242
    if cell.kind == "d":
        return iso_instant(cell.value)
    # numeric (ExcelParser.java:243-248)
    if cell.is_date:
        return iso_instant(serial_to_datetime(cell.value, date1904))
    return parse_numeric(cell.value)


def parse_xlsx_rows(data: bytes, offset: int = 1) -> tuple[list[str], list[dict]]:
    sheet, date1904 = load_xlsx(data)
    return sheet_to_documents(sheet, offset, date1904)


# --------------------------------------------------------------------------
# minimal XLSX writer (fixtures + export sink)

_CT = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>
</Types>"""

_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""

_WB = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets>
</workbook>"""

_WB_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
</Relationships>"""

# style 0 = General, style 1 = yyyy-mm-dd (builtin date fmt 14)
_STYLES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
<fonts count="1"><font><sz val="11"/><name val="Calibri"/></font></fonts>
<fills count="1"><fill><patternFill patternType="none"/></fill></fills>
<borders count="1"><border/></borders>
<cellStyleXfs count="1"><xf numFmtId="0"/></cellStyleXfs>
<cellXfs count="2"><xf numFmtId="0" xfId="0"/><xf numFmtId="14" xfId="0" applyNumberFormat="1"/></cellXfs>
</styleSheet>"""


def _col_name(idx: int) -> str:
    name = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        name = chr(65 + rem) + name
    return name


def datetime_to_serial(dt: _dt.datetime) -> float:
    """Inverse of serial_to_datetime for the 1900 system (post-bug range)."""
    base = _dt.datetime(1899, 12, 30)
    delta = dt - base
    return delta.days + delta.seconds / 86400 + delta.microseconds / 86400e6


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def _cell_xml(ref: str, value: Any) -> str:
    if value is None:
        return ""
    if isinstance(value, bool):
        return f'<c r="{ref}" t="b"><v>{1 if value else 0}</v></c>'
    if isinstance(value, (_dt.datetime, _dt.date)):
        if not isinstance(value, _dt.datetime):
            value = _dt.datetime(value.year, value.month, value.day)
        return f'<c r="{ref}" s="1"><v>{datetime_to_serial(value)!r}</v></c>'
    if isinstance(value, (int, float)):
        return f'<c r="{ref}"><v>{value!r}</v></c>'
    return (
        f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
        f"{_xml_escape(str(value))}</t></is></c>"
    )


def write_xlsx(
    path: str,
    headers: list[str],
    rows: list[list[Any]],
    offset: int = 1,
) -> None:
    """Write a single-sheet xlsx: header titles at 1-based row ``offset``,
    data rows following. Deterministic output (fixed zip metadata)."""
    parts = ["<sheetData>"]
    hrow = offset
    cells = "".join(
        _cell_xml(f"{_col_name(i)}{hrow}", h) for i, h in enumerate(headers)
    )
    parts.append(f'<row r="{hrow}">{cells}</row>')
    for rno, row in enumerate(rows):
        r = hrow + 1 + rno
        cells = "".join(
            _cell_xml(f"{_col_name(i)}{r}", v) for i, v in enumerate(row)
        )
        parts.append(f'<row r="{r}">{cells}</row>')
    parts.append("</sheetData>")
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        + "".join(parts)
        + "</worksheet>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        fixed = (1980, 1, 1, 0, 0, 0)
        for name, data in [
            ("[Content_Types].xml", _CT),
            ("_rels/.rels", _RELS),
            ("xl/workbook.xml", _WB),
            ("xl/_rels/workbook.xml.rels", _WB_RELS),
            ("xl/styles.xml", _STYLES),
            ("xl/worksheets/sheet1.xml", sheet),
        ]:
            zi = zipfile.ZipInfo(name, date_time=fixed)
            zi.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(zi, data)
