"""Minimal XLS (BIFF8) reader — stdlib only.

Covers the reference's HSSF path (ExcelParser.java:80-81 builds an
HSSFWorkbook; the golden fixture is src/test/resources/test.xls). Formats
are public: [MS-CFB] (OLE2 compound file) + [MS-XLS] (BIFF8 record stream).

Scope: first worksheet, the cell record types the reference's switch can
produce values from (ExcelParser.java:236-249) — LABELSST/LABEL (STRING),
NUMBER/RK/MULRK (NUMERIC, with date-format detection via the XF/FORMAT
tables), BOOLERR (BOOLEAN / ERROR). FORMULA cells are skipped like the
reference. Output is the same :class:`Sheet` shape the xlsx reader
produces, so row-extraction semantics (column count, contiguous item count,
null suppression) are shared via ``sheet_to_documents``.
"""

from __future__ import annotations

import struct

from excelastic_spark.sources.workbook import (
    Cell,
    Sheet,
    WorkbookError,
    is_date_format,
)

_CFB_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
_FREE = 0xFFFFFFFF
_ENDOFCHAIN = 0xFFFFFFFE


def _sect_off(sect: int, sector_size: int) -> int:
    """[MS-CFB] §2.1: sector #n starts at (n + 1) * sector_size — the header
    occupies sector "-1" and is ALWAYS one sector long, so version-4 files
    (4096-byte sectors) have a 4096-byte header region, not 512."""
    return (sect + 1) * sector_size


def _read_chain(data: bytes, fat: list[int], start: int,
                sector_size: int, base: int) -> bytes:
    """Concatenate the chain of sectors from ``start``; sector #n sits at
    ``base + n * sector_size`` (base = sector_size for regular sectors,
    0 for mini sectors inside the mini stream). Sectors past the end of
    ``data`` come back short or empty: callers check the length."""
    out = []
    sect = start
    seen = 0
    limit = len(fat) + 2
    while sect != _ENDOFCHAIN and sect != _FREE:
        off = base + sect * sector_size
        out.append(data[off:off + sector_size])
        if sect >= len(fat) or (seen := seen + 1) > limit:
            raise WorkbookError("corrupt CFB FAT chain")
        sect = fat[sect]
    return b"".join(out)


def _visit(seen: set[int], sect: int) -> None:
    if sect in seen:
        raise WorkbookError(f"CFB sector chain revisits sector {sect}")
    seen.add(sect)


def cfb_stream(data: bytes, names: tuple[str, ...]) -> bytes:
    """Extract the first stream whose name matches ``names`` from an OLE2
    compound file ([MS-CFB] §2).

    A stream whose sector chain yields fewer bytes than the directory
    entry's Stream Size ([MS-CFB] §2.6.1) — a truncated file — is a
    :class:`WorkbookError`; a short final sector that still covers the
    declared size is accepted. So are sector shifts [MS-CFB] §2.2 does not
    allow, DIFAT/miniFAT counts past the file's sectors and a DIFAT or
    miniFAT chain that revisits a sector: each loop runs at most once per
    sector the file holds."""
    if data[:8] != _CFB_MAGIC:
        raise WorkbookError("not an OLE2 compound file")
    (sector_shift,) = struct.unpack_from("<H", data, 30)
    (mini_shift,) = struct.unpack_from("<H", data, 32)
    if sector_shift not in (9, 12) or mini_shift != 6:  # [MS-CFB] §2.2
        raise WorkbookError(
            f"bad CFB sector shifts {sector_shift}/{mini_shift}"
        )
    sector_size = 1 << sector_shift
    mini_size = 1 << mini_shift
    (n_fat,) = struct.unpack_from("<I", data, 44)
    (dir_start,) = struct.unpack_from("<I", data, 48)
    (mini_cutoff,) = struct.unpack_from("<I", data, 56)
    (minifat_start,) = struct.unpack_from("<I", data, 60)
    (n_minifat,) = struct.unpack_from("<I", data, 64)
    (difat_start,) = struct.unpack_from("<I", data, 68)
    (n_difat,) = struct.unpack_from("<I", data, 72)
    # a chain of more sectors than the file holds must revisit one
    n_sectors = len(data) // sector_size
    if max(n_difat, n_minifat) > n_sectors:
        raise WorkbookError(
            f"CFB header counts {n_difat} DIFAT / {n_minifat} miniFAT "
            f"sectors exceed the file's {n_sectors}"
        )

    # DIFAT: 109 entries in header + chained DIFAT sectors
    difat = list(struct.unpack_from("<109I", data, 76))
    sect = difat_start
    per = sector_size // 4 - 1
    seen: set[int] = set()
    for _ in range(n_difat):
        _visit(seen, sect)
        off = _sect_off(sect, sector_size)
        vals = struct.unpack_from(f"<{per + 1}I", data, off)
        difat.extend(vals[:-1])
        sect = vals[-1]
        if sect in (_ENDOFCHAIN, _FREE):
            break
    fat: list[int] = []
    for fs in difat[:n_fat]:
        if fs in (_ENDOFCHAIN, _FREE):
            continue
        off = _sect_off(fs, sector_size)
        fat.extend(struct.unpack_from(f"<{sector_size // 4}I", data, off))

    directory = _read_chain(data, fat, dir_start, sector_size, sector_size)
    entries = []
    for i in range(len(directory) // 128):
        e = directory[i * 128:(i + 1) * 128]
        (name_len,) = struct.unpack_from("<H", e, 64)
        name = e[: max(0, name_len - 2)].decode("utf-16-le", "ignore")
        obj_type = e[66]
        (start,) = struct.unpack_from("<I", e, 116)
        (size,) = struct.unpack_from("<Q", e, 120)
        entries.append((name, obj_type, start, size))
    target = None
    for name, obj_type, start, size in entries:
        if obj_type == 2 and name in names:
            target = (start, size)
            break
    if target is None:
        raise WorkbookError(f"no {names} stream in compound file")
    start, size = target
    if sector_size == 512:
        # v3 sizes are < 2 GiB; older writers left the high 32 bits
        # uninitialized, and [MS-CFB] §2.6.1 recommends ignoring them
        size &= 0xFFFFFFFF
    if size >= mini_cutoff:
        stream = _read_chain(data, fat, start, sector_size, sector_size)
    else:
        # mini-stream: root entry's chain holds the ministream bytes
        root = next(e for e in entries if e[1] == 5)
        ministream = _read_chain(data, fat, root[2], sector_size, sector_size)
        minifat: list[int] = []
        sect = minifat_start
        seen = set()
        for _ in range(n_minifat):
            _visit(seen, sect)
            off = _sect_off(sect, sector_size)
            minifat.extend(
                struct.unpack_from(f"<{sector_size // 4}I", data, off)
            )
            sect = fat[sect]
            if sect in (_ENDOFCHAIN, _FREE):
                break
        stream = _read_chain(ministream, minifat, start, mini_size, 0)
    if len(stream) < size:
        raise WorkbookError(
            f"truncated compound file: stream holds {len(stream)} of its "
            f"declared {size} bytes"
        )
    return stream[:size]


# --------------------------------------------------------------------------
# BIFF8 record stream

_BOF = 0x0809
_EOF = 0x000A
_BOUNDSHEET = 0x0085
_SST = 0x00FC
_CONTINUE = 0x003C
_LABELSST = 0x00FD
_LABEL = 0x0204
_NUMBER = 0x0203
_RK = 0x027E
_MULRK = 0x00BD
_BOOLERR = 0x0205
_FORMULA = 0x0006
_ROW = 0x0208
_BLANK = 0x0201
_MULBLANK = 0x00BE
_FORMAT = 0x041E
_XF = 0x00E0
_DATE1904 = 0x0022

# BIFF built-in formats that FORMAT records may not restate (subset needed
# for date detection; ids match ECMA/OOXML builtins)
_SHEET_DT = 0x0010


def _records(stream: bytes, pos: int = 0):
    n = len(stream)
    while pos + 4 <= n:
        rtype, rlen = struct.unpack_from("<HH", stream, pos)
        yield rtype, stream[pos + 4:pos + 4 + rlen], pos
        pos += 4 + rlen


class _SSTReader:
    """XLUnicodeRichExtendedString array spanning SST + CONTINUE records.
    At each CONTINUE boundary that falls inside character data, a fresh
    option byte precedes the remaining characters ([MS-XLS] §2.5.293)."""

    def __init__(self, chunks: list[bytes]):
        self.chunks = chunks
        self.ci = 0
        self.pos = 0

    def _remaining(self) -> int:
        return len(self.chunks[self.ci]) - self.pos

    def _advance(self) -> None:
        while self.ci < len(self.chunks) and self._remaining() == 0:
            self.ci += 1
            self.pos = 0

    def read(self, n: int) -> bytes:
        out = bytearray()
        while n:
            self._advance()
            take = min(n, self._remaining())
            c = self.chunks[self.ci]
            out += c[self.pos:self.pos + take]
            self.pos += take
            n -= take
        return bytes(out)

    def read_string(self) -> str:
        cch, grbit = struct.unpack("<HB", self.read(3))
        rich = bool(grbit & 0x08)
        ext = bool(grbit & 0x04)
        c_run = struct.unpack("<H", self.read(2))[0] if rich else 0
        cb_ext = struct.unpack("<I", self.read(4))[0] if ext else 0
        high = bool(grbit & 0x01)
        chars: list[str] = []
        remaining = cch
        while remaining:
            self._advance()
            avail = self._remaining()
            if avail == 0:
                raise WorkbookError("truncated SST")
            if high:
                take = min(remaining, avail // 2)
                if take == 0:
                    raise WorkbookError("split utf-16 char in SST")
                chars.append(self.read(take * 2).decode("utf-16-le"))
            else:
                take = min(remaining, avail)
                chars.append(self.read(take).decode("latin-1"))
            remaining -= take
            if remaining:
                # continuation boundary: new option byte for the rest
                (grbit2,) = struct.unpack("<B", self.read(1))
                high = bool(grbit2 & 0x01)
        self.read(4 * c_run + cb_ext)
        return "".join(chars)


def _decode_rk(rk: int) -> float:
    f_x100 = rk & 0x01
    f_int = rk & 0x02
    if f_int:
        val = rk >> 2
        if val & 0x20000000:  # sign-extend 30-bit
            val -= 0x40000000
        num = float(val)
    else:
        num = struct.unpack("<d", struct.pack("<Q", (rk & 0xFFFFFFFC) << 32))[0]
    return num / 100.0 if f_x100 else num


def _unistr(data: bytes, pos: int) -> str:
    """Single-record XLUnicodeString (LABEL payloads)."""
    cch, grbit = struct.unpack_from("<HB", data, pos)
    pos += 3
    if grbit & 0x08:
        pos += 2
    if grbit & 0x04:
        pos += 4
    if grbit & 0x01:
        return data[pos:pos + 2 * cch].decode("utf-16-le")
    return data[pos:pos + cch].decode("latin-1")


def load_xls(data: bytes) -> tuple[Sheet, bool]:
    """Parse the first worksheet of an xls payload -> (Sheet, date1904).

    Corrupt/truncated byte streams surface as :class:`WorkbookError` (never
    raw struct.error/IndexError; a stream shorter than its declared size is
    one, see :func:`cfb_stream`), so the dispatch layer's documented
    invalid-bytes -> ParserException contract (spreadsheet.py
    parse_workbook_bytes; reference TestParser.failParseInvalid) holds for
    every malformed input, not just the explicitly-detected cases."""
    try:
        return _load_xls(data)
    except WorkbookError:
        raise
    except (struct.error, IndexError, ValueError, KeyError,
            StopIteration, UnicodeDecodeError) as e:
        raise WorkbookError(f"corrupt xls record stream: {e!r}") from e


def _load_xls(data: bytes) -> tuple[Sheet, bool]:
    wb = cfb_stream(data, ("Workbook", "Book"))
    # ---- workbook globals substream ----
    sst: list[str] = []
    formats: dict[int, str] = {}
    xf_fmts: list[int] = []
    sheet_offsets: list[int] = []
    date1904 = False
    it = _records(wb)
    first = next(it, None)
    if first is None or first[0] != _BOF:
        raise WorkbookError("xls: missing workbook BOF")
    for rtype, payload, pos in it:
        if rtype == _EOF:
            break
        if rtype == _BOUNDSHEET:
            (lb,) = struct.unpack_from("<I", payload, 0)
            sheet_offsets.append(lb)
        elif rtype == _DATE1904:
            date1904 = struct.unpack_from("<H", payload, 0)[0] == 1
        elif rtype == _FORMAT:
            (ifmt,) = struct.unpack_from("<H", payload, 0)
            formats[ifmt] = _unistr(payload, 2)
        elif rtype == _XF:
            (ifmt,) = struct.unpack_from("<H", payload, 2)
            xf_fmts.append(ifmt)
        elif rtype == _SST:
            chunks = [payload[8:]]
            # gather immediately-following CONTINUE records
            save = pos
            for rt2, pl2, _ in _records(wb, pos + 4 + len(payload)):
                if rt2 != _CONTINUE:
                    break
                chunks.append(pl2)
            (cst_unique,) = struct.unpack_from("<I", payload, 4)
            rd = _SSTReader(chunks)
            for _ in range(cst_unique):
                sst.append(rd.read_string())

    if not sheet_offsets:
        raise WorkbookError("xls: no sheets")

    def is_date(ixfe: int) -> bool:
        if ixfe >= len(xf_fmts):
            return False
        ifmt = xf_fmts[ixfe]
        return is_date_format(ifmt, formats.get(ifmt))

    # ---- first worksheet substream ----
    rows: dict[int, dict[int, Cell]] = {}
    present: set[int] = set()

    def put(rw: int, col: int, cell: Cell | None) -> None:
        present.add(rw)
        if cell is not None:
            rows.setdefault(rw, {})[col] = cell

    start = sheet_offsets[0]
    if wb[start:start + 2] != struct.pack("<H", _BOF):
        raise WorkbookError("xls: bad sheet offset")
    for rtype, payload, _ in _records(wb, start):
        if rtype == _EOF:
            break
        elif rtype == _ROW:
            (rw,) = struct.unpack_from("<H", payload, 0)
            present.add(rw)
        elif rtype == _LABELSST:
            rw, col, _ixfe, isst = struct.unpack_from("<HHHI", payload, 0)
            put(rw, col, Cell("s", sst[isst]))
        elif rtype == _LABEL:
            rw, col, _ixfe = struct.unpack_from("<HHH", payload, 0)
            put(rw, col, Cell("s", _unistr(payload, 6)))
        elif rtype == _NUMBER:
            rw, col, ixfe = struct.unpack_from("<HHH", payload, 0)
            (num,) = struct.unpack_from("<d", payload, 6)
            put(rw, col, Cell("n", num, is_date=is_date(ixfe)))
        elif rtype == _RK:
            rw, col, ixfe, rk = struct.unpack_from("<HHHI", payload, 0)
            put(rw, col, Cell("n", _decode_rk(rk), is_date=is_date(ixfe)))
        elif rtype == _MULRK:
            rw, col_first = struct.unpack_from("<HH", payload, 0)
            (col_last,) = struct.unpack_from("<H", payload, len(payload) - 2)
            for j in range(col_last - col_first + 1):
                ixfe, rk = struct.unpack_from("<HI", payload, 4 + 6 * j)
                put(rw, col_first + j,
                    Cell("n", _decode_rk(rk), is_date=is_date(ixfe)))
        elif rtype == _BOOLERR:
            rw, col, _ixfe, val, f_err = struct.unpack_from(
                "<HHHBB", payload, 0
            )
            # ERROR cells: no case in the reference switch -> skipped
            put(rw, col, None if f_err else Cell("b", bool(val)))
        elif rtype in (_BLANK,):
            (rw,) = struct.unpack_from("<H", payload, 0)
            present.add(rw)
        elif rtype == _MULBLANK:
            (rw,) = struct.unpack_from("<H", payload, 0)
            present.add(rw)
        elif rtype == _FORMULA:
            (rw,) = struct.unpack_from("<H", payload, 0)
            present.add(rw)  # cell exists; value skipped like the reference
    return Sheet(rows, present), date1904


def parse_xls_rows(data: bytes, offset: int = 1) -> tuple[list[str], list[dict]]:
    from excelastic_spark.sources.workbook import sheet_to_documents

    sheet, date1904 = load_xls(data)
    return sheet_to_documents(sheet, offset, date1904)


# --------------------------------------------------------------------------
# minimal XLS (BIFF8) writer — fixtures + export sink, mirroring
# workbook.write_xlsx. Public formats only: [MS-CFB] container + [MS-XLS]
# records (BOF/XF/BOUNDSHEET/SST/LABELSST/NUMBER/BOOLERR/ROW/EOF).

_NOSTREAM = 0xFFFFFFFF
_FATSECT = 0xFFFFFFFD
_MAX_RECORD = 8224  # BIFF8 max record payload


def _rec(rtype: int, payload: bytes) -> bytes:
    return struct.pack("<HH", rtype, len(payload)) + payload


def _xf_record(ifmt: int) -> bytes:
    b = bytearray(20)
    struct.pack_into("<HH", b, 0, 0, ifmt)  # ifnt=0, ifmt
    struct.pack_into("<H", b, 4, 0x0001)  # fLocked (default cell prot)
    return _rec(_XF, bytes(b))


def _sst_records(strings: list[str]) -> bytes:
    """SST + CONTINUE records; splits at string boundaries so no mid-string
    option-byte continuation is needed."""
    chunks: list[bytearray] = [bytearray()]
    for s in strings:
        raw = s.encode("latin-1", "replace")
        enc = struct.pack("<HB", len(raw), 0) + raw
        if len(chunks[-1]) + len(enc) > _MAX_RECORD - 8:
            chunks.append(bytearray())
        chunks[-1] += enc
    head = struct.pack("<II", len(strings), len(strings)) + bytes(chunks[0])
    out = _rec(_SST, head)
    for c in chunks[1:]:
        out += _rec(_CONTINUE, bytes(c))
    return out


def _cell_records(
    rw: int, col: int, value, sst_index: dict[str, int]
) -> bytes:
    import datetime as _dt

    from excelastic_spark.sources.workbook import datetime_to_serial

    if value is None:
        return _rec(_BLANK, struct.pack("<HHH", rw, col, 0))
    if isinstance(value, bool):
        return _rec(_BOOLERR, struct.pack("<HHHBB", rw, col, 0, int(value), 0))
    if isinstance(value, (_dt.datetime, _dt.date)):
        if not isinstance(value, _dt.datetime):
            value = _dt.datetime(value.year, value.month, value.day)
        return _rec(
            _NUMBER, struct.pack("<HHHd", rw, col, 1, datetime_to_serial(value))
        )
    if isinstance(value, (int, float)):
        return _rec(_NUMBER, struct.pack("<HHHd", rw, col, 0, float(value)))
    s = str(value)
    isst = sst_index.setdefault(s, len(sst_index))
    return _rec(_LABELSST, struct.pack("<HHHI", rw, col, 0, isst))


def build_biff_stream(headers: list[str], rows: list[list], offset: int = 1) -> bytes:
    """Workbook stream bytes: globals substream (BOF/DATE1904/XF x2 —
    ixfe 0 = General, ixfe 1 = builtin date fmt 14 — /SST/BOUNDSHEET/EOF)
    + one worksheet substream with the data at the 1-based header offset."""
    sst_index: dict[str, int] = {}
    # ---- sheet substream (built first so the SST is complete)
    sheet = bytearray()
    sheet += _rec(_BOF, struct.pack("<HHHHII", 0x0600, 0x0010, 0x0DBB, 0x07CC, 0, 0))
    all_rows = [(offset - 1, headers)] + [
        (offset + i, r) for i, r in enumerate(rows)
    ]
    ncols = len(headers)
    for rw, _ in all_rows:
        rowrec = bytearray(16)
        struct.pack_into("<HHH", rowrec, 0, rw, 0, ncols)
        struct.pack_into("<H", rowrec, 6, 0x00FF)  # default height
        sheet += _rec(_ROW, bytes(rowrec))
    for rw, vals in all_rows:
        for col, v in enumerate(vals):
            sheet += _cell_records(rw, col, v, sst_index)
    sheet += _rec(_EOF, b"")

    strings = [None] * len(sst_index)
    for s, i in sst_index.items():
        strings[i] = s

    # ---- globals substream, with the BOUNDSHEET lbPlyPos patched in
    def globals_bytes(lb: int) -> bytes:
        g = bytearray()
        g += _rec(_BOF, struct.pack("<HHHHII", 0x0600, 0x0005, 0x0DBB, 0x07CC, 0, 0))
        g += _rec(_DATE1904, struct.pack("<H", 0))
        g += _xf_record(0)
        g += _xf_record(14)  # builtin yyyy-mm-dd — same styling write_xlsx uses
        name = b"Sheet1"
        g += _rec(
            _BOUNDSHEET,
            struct.pack("<IHBB", lb, 0, len(name), 0) + name,
        )
        g += _sst_records(strings)
        g += _rec(_EOF, b"")
        return bytes(g)

    glen = len(globals_bytes(0))
    return globals_bytes(glen) + bytes(sheet)


def _cfb_dir_entry(
    name: str, obj_type: int, start: int, size: int, child: int = _NOSTREAM
) -> bytes:
    e = bytearray(128)
    raw = name.encode("utf-16-le")
    e[: len(raw)] = raw
    struct.pack_into("<H", e, 64, len(raw) + 2)
    e[66] = obj_type
    e[67] = 1  # black
    struct.pack_into("<III", e, 68, _NOSTREAM, _NOSTREAM, child)
    struct.pack_into("<I", e, 116, start)
    struct.pack_into("<Q", e, 120, size)
    return bytes(e)


def write_cfb(stream_name: str, stream: bytes, sector_size: int = 512) -> bytes:
    """Single-stream OLE2 compound file ([MS-CFB]). ``sector_size=4096``
    emits a version-4 file (sector #0 at byte 4096 — the offset rule the
    reader must honor). The stream is padded to the 4096-byte mini-stream
    cutoff so no miniFAT is needed."""
    if sector_size not in (512, 4096):
        raise ValueError("CFB sector size must be 512 (v3) or 4096 (v4)")
    if len(stream) < 4096:
        stream = stream + bytes(4096 - len(stream))
    n_stream = -(-len(stream) // sector_size)
    per_fat = sector_size // 4
    # sector plan: [0..n_fat-1]=FAT, [n_fat]=directory, [n_fat+1..]=stream;
    # n_fat is a fixed point (FAT sectors are themselves FAT-mapped)
    n_fat = 1
    while -(-(n_fat + 1 + n_stream) // per_fat) > n_fat:
        n_fat += 1
    if n_fat > 109:
        # header DIFAT holds 109 FAT sectors = ~7 MiB (v3) / ~450 MiB (v4)
        # of payload — far beyond any fixture; larger exports use xlsx
        raise ValueError("write_cfb: stream too large for header-DIFAT file")
    dir_sect = n_fat
    stream_start = n_fat + 1
    fat = [_FREE] * (n_fat * per_fat)
    for i in range(n_fat):
        fat[i] = _FATSECT
    fat[dir_sect] = _ENDOFCHAIN
    for i in range(n_stream):
        fat[stream_start + i] = (
            stream_start + i + 1 if i + 1 < n_stream else _ENDOFCHAIN
        )
    fat_bytes = struct.pack(f"<{n_fat * per_fat}I", *fat)

    directory = _cfb_dir_entry("Root Entry", 5, _ENDOFCHAIN, 0, child=1)
    directory += _cfb_dir_entry(stream_name, 2, stream_start, len(stream))
    directory += bytes(128) * (sector_size // 128 - 2)

    header = bytearray(sector_size if sector_size == 4096 else 512)
    header[:8] = _CFB_MAGIC
    struct.pack_into("<H", header, 24, 0x003E)  # minor version
    struct.pack_into("<H", header, 26, 3 if sector_size == 512 else 4)
    struct.pack_into("<H", header, 28, 0xFFFE)  # little-endian
    struct.pack_into("<H", header, 30, 9 if sector_size == 512 else 12)
    struct.pack_into("<H", header, 32, 6)  # mini sector shift
    if sector_size == 4096:
        struct.pack_into("<I", header, 40, 1)  # n directory sectors (v4)
    struct.pack_into("<I", header, 44, n_fat)  # n FAT sectors
    struct.pack_into("<I", header, 48, dir_sect)  # directory start sector
    struct.pack_into("<I", header, 56, 4096)  # mini-stream cutoff
    struct.pack_into("<I", header, 60, _ENDOFCHAIN)  # miniFAT start
    struct.pack_into("<I", header, 64, 0)  # n miniFAT sectors
    struct.pack_into("<I", header, 68, _ENDOFCHAIN)  # DIFAT start
    struct.pack_into("<I", header, 72, 0)  # n DIFAT sectors
    difat = list(range(n_fat)) + [_FREE] * (109 - n_fat)
    struct.pack_into("<109I", header, 76, *difat)

    pad = bytes(n_stream * sector_size - len(stream))
    return bytes(header) + fat_bytes + directory + stream + pad


def write_xls(
    path: str,
    headers: list[str],
    rows: list[list],
    offset: int = 1,
    sector_size: int = 512,
) -> None:
    """Write a single-sheet .xls: header titles at 1-based row ``offset``,
    data rows following — the BIFF8 counterpart of workbook.write_xlsx
    (same cell typing: bool -> BOOLERR, str -> SST/LABELSST, datetime ->
    date-styled NUMBER serial, int/float -> NUMBER). Deterministic."""
    stream = build_biff_stream(headers, rows, offset)
    with open(path, "wb") as f:
        f.write(write_cfb("Workbook", stream, sector_size))
