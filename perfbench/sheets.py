"""Spreadsheet encoders for the benchmark's inputs, and a reader for the
workbooks the program writes (used only by the checks).

They are written apart from the program's own ``sources.excel`` so that
the program's readers are fed bytes it did not produce:

- ``write_xls``: a BIFF8 workbook (one sheet, shared-string table split
  over CONTINUE records, NUMBER and RK cells) inside an OLE2 compound
  file whose FAT spans as many sectors as the stream needs. A 190 x 86
  price list is ~250 KB, far beyond the 64 KB one FAT sector maps.
- ``write_xlsx``: an OOXML workbook with a shared-string part, the shape
  spreadsheet exports have (the program's own writer uses inline
  strings instead).

Cell values: ``None`` is no cell, ``int`` an integer cell, ``float`` a
floating cell, anything else a string.
"""

from __future__ import annotations

import os
import re
import struct
import zipfile
from xml.etree import ElementTree
from xml.sax.saxutils import escape

# --- BIFF8 / OLE2 -----------------------------------------------------------

_SECTOR = 512
_FREESECT = 0xFFFFFFFF
_ENDOFCHAIN = 0xFFFFFFFE
_FATSECT = 0xFFFFFFFD
_NOSTREAM = 0xFFFFFFFF
_MAX_RECORD = 8224          # BIFF8 payload limit; longer data continues


def _rec(rid: int, payload: bytes) -> bytes:
    return struct.pack("<HH", rid, len(payload)) + payload


def _xl_string(s: str, length_bytes: int) -> bytes:
    """XLUnicodeString: char count, flag byte, Latin-1 or UTF-16LE chars."""
    try:
        raw, flags = s.encode("latin-1"), 0
    except UnicodeEncodeError:
        raw, flags = s.encode("utf-16-le"), 1
    fmt = "<HB" if length_bytes == 2 else "<BB"
    return struct.pack(fmt, len(s), flags) + raw


def _sst_records(strings: list[str]) -> bytes:
    """SST plus CONTINUE records, split between whole strings."""
    head = struct.pack("<II", len(strings), len(strings))
    chunks, cur = [], head
    for s in strings:
        enc = _xl_string(s, 2)
        if len(cur) + len(enc) > _MAX_RECORD:
            chunks.append(cur)
            cur = b""
        cur += enc
    chunks.append(cur)
    return _rec(0xFC, chunks[0]) + b"".join(_rec(0x3C, c) for c in chunks[1:])


def _rk(v: int) -> int | None:
    """RK encoding of a 30-bit signed integer, or None if it does not fit."""
    if -(1 << 29) <= v < (1 << 29):
        return ((v << 2) | 2) & 0xFFFFFFFF
    return None


def _biff_stream(sheet_name: str, rows: list[list[object]]) -> bytes:
    strings: list[str] = []
    index: dict[str, int] = {}
    cells = []
    for r, row in enumerate(rows):
        for c, v in enumerate(row):
            if v is None:
                continue
            if isinstance(v, bool):
                v = int(v)
            if isinstance(v, int) and _rk(v) is not None:
                cells.append(_rec(0x27E, struct.pack("<HHHI", r, c, 15, _rk(v))))
            elif isinstance(v, (int, float)):
                cells.append(_rec(0x203, struct.pack("<HHHd", r, c, 15, float(v))))
            else:
                s = str(v)
                if s not in index:
                    index[s] = len(strings)
                    strings.append(s)
                cells.append(_rec(0xFD, struct.pack("<HHHI", r, c, 15, index[s])))

    bof_globals = _rec(0x809, struct.pack("<HHHHII", 0x600, 0x5, 0x0DBB, 1996, 0, 0x6))
    name = _xl_string(sheet_name, 1)
    boundsheet_len = 4 + 4 + 2 + len(name)      # record header + lbPlyPos + flags
    sst = _sst_records(strings)
    eof = _rec(0x0A, b"")
    sheet_pos = len(bof_globals) + boundsheet_len + len(sst) + len(eof)
    boundsheet = _rec(0x85, struct.pack("<IBB", sheet_pos, 0, 0) + name)
    bof_sheet = _rec(0x809, struct.pack("<HHHHII", 0x600, 0x10, 0x0DBB, 1996, 0, 0x6))
    stream = (bof_globals + boundsheet + sst + eof
              + bof_sheet + b"".join(cells) + eof)
    # Streams below the 4096-byte cutoff would live in the mini-stream;
    # pad so the workbook always sits in regular sectors.
    return stream + b"\0" * max(0, 4096 - len(stream))


def _dirent(name: str, etype: int, start: int, size: int,
            child: int = _NOSTREAM) -> bytes:
    raw = (name + "\0").encode("utf-16-le")
    return (raw.ljust(64, b"\0") + struct.pack("<HBB", len(raw), etype, 1)
            + struct.pack("<III", _NOSTREAM, _NOSTREAM, child)
            + b"\0" * 16 + b"\0" * 4 + b"\0" * 16
            + struct.pack("<IQ", start, size))


def write_xls(path: str, sheet_name: str, rows: list[list[object]]) -> int:
    """Write a one-sheet BIFF8 ``.xls``; returns the file size in bytes."""
    stream = _biff_stream(sheet_name, rows)
    n_data = -(-len(stream) // _SECTOR)
    n_dir = 1
    n_fat = 1
    while 128 * n_fat < n_data + n_dir + n_fat:
        n_fat += 1
    if n_fat > 109:
        raise ValueError("workbook too large for a header-only DIFAT")
    dir_start = n_data
    fat_start = n_data + n_dir
    fat = [_FREESECT] * (128 * n_fat)
    for i in range(n_data - 1):
        fat[i] = i + 1
    fat[n_data - 1] = _ENDOFCHAIN
    fat[dir_start] = _ENDOFCHAIN
    for i in range(n_fat):
        fat[fat_start + i] = _FATSECT

    directory = (_dirent("Root Entry", 5, _ENDOFCHAIN, 0, child=1)
                 + _dirent("Workbook", 2, 0, len(stream))).ljust(_SECTOR, b"\0")
    difat = [fat_start + i for i in range(n_fat)] + [_FREESECT] * (109 - n_fat)
    header = (b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\0" * 16
              + struct.pack("<HHHHH", 0x3E, 3, 0xFFFE, 9, 6) + b"\0" * 6
              + struct.pack("<IIIIIIIII", 0, n_fat, dir_start, 0, 4096,
                            _ENDOFCHAIN, 0, _ENDOFCHAIN, 0)
              + struct.pack("<109I", *difat))
    body = (stream.ljust(n_data * _SECTOR, b"\0") + directory
            + struct.pack(f"<{len(fat)}I", *fat))
    data = header + body
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


# --- OOXML --------------------------------------------------------------------

def _col_ref(i: int) -> str:
    out = ""
    i += 1
    while i:
        i, rem = divmod(i - 1, 26)
        out = chr(65 + rem) + out
    return out


_XML = '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
_MAIN = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_OFFDOC = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_PKG = "http://schemas.openxmlformats.org/package/2006/relationships"
_CT = "application/vnd.openxmlformats-officedocument.spreadsheetml"


def write_xlsx(path: str, sheet_name: str, rows: list[list[object]]) -> int:
    """Write a one-sheet ``.xlsx`` with shared strings; returns its size."""
    strings: list[str] = []
    index: dict[str, int] = {}
    out_rows = []
    for r, row in enumerate(rows, start=1):
        cells = []
        for c, v in enumerate(row):
            if v is None:
                continue
            ref = f"{_col_ref(c)}{r}"
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                cells.append(f'<c r="{ref}"><v>{v!r}</v></c>')
            else:
                s = str(v)
                if s not in index:
                    index[s] = len(strings)
                    strings.append(s)
                cells.append(f'<c r="{ref}" t="s"><v>{index[s]}</v></c>')
        out_rows.append(f'<row r="{r}">{"".join(cells)}</row>')
    sheet = (f'{_XML}<worksheet xmlns="{_MAIN}"><sheetData>'
             + "".join(out_rows) + "</sheetData></worksheet>")
    sst = (f'{_XML}<sst xmlns="{_MAIN}" count="{len(strings)}" '
           f'uniqueCount="{len(strings)}">'
           + "".join(f'<si><t xml:space="preserve">{escape(s)}</t></si>'
                     for s in strings) + "</sst>")
    parts = {
        "[Content_Types].xml": (
            f'{_XML}<Types xmlns="http://schemas.openxmlformats.org/package/'
            '2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.'
            'openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            f'<Override PartName="/xl/workbook.xml" ContentType="{_CT}.sheet.main+xml"/>'
            f'<Override PartName="/xl/worksheets/sheet1.xml" '
            f'ContentType="{_CT}.worksheet+xml"/>'
            f'<Override PartName="/xl/sharedStrings.xml" '
            f'ContentType="{_CT}.sharedStrings+xml"/></Types>'),
        "_rels/.rels": (
            f'{_XML}<Relationships xmlns="{_PKG}"><Relationship Id="rId1" '
            f'Type="{_OFFDOC}/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>"),
        "xl/workbook.xml": (
            f'{_XML}<workbook xmlns="{_MAIN}" xmlns:r="{_OFFDOC}"><sheets>'
            f'<sheet name="{escape(sheet_name)}" sheetId="1" r:id="rId1"/>'
            "</sheets></workbook>"),
        "xl/_rels/workbook.xml.rels": (
            f'{_XML}<Relationships xmlns="{_PKG}">'
            f'<Relationship Id="rId1" Type="{_OFFDOC}/worksheet" '
            'Target="worksheets/sheet1.xml"/>'
            f'<Relationship Id="rId2" Type="{_OFFDOC}/sharedStrings" '
            'Target="sharedStrings.xml"/></Relationships>'),
        "xl/worksheets/sheet1.xml": sheet,
        "xl/sharedStrings.xml": sst,
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, text in parts.items():
            zf.writestr(name, text)
    return os.path.getsize(path)


def read_xlsx(path: str, sheet: int = 0) -> list[list[object]]:
    """Read back a workbook the program wrote: inline or shared strings,
    numbers and booleans, by cell reference. Used only by the checks."""
    ns = "{%s}" % _MAIN
    with zipfile.ZipFile(path) as zf:
        names = sorted((n for n in zf.namelist() if n.startswith("xl/worksheets/sheet")),
                       key=lambda n: int(re.sub(r"\D", "", n)))
        shared = []
        if "xl/sharedStrings.xml" in zf.namelist():
            shared = ["".join(t.text or "" for t in si.iter(f"{ns}t"))
                      for si in ElementTree.fromstring(zf.read("xl/sharedStrings.xml")).iter(f"{ns}si")]
        root = ElementTree.fromstring(zf.read(names[sheet]))
    rows = []
    for row in root.iter(f"{ns}row"):
        cells: dict[int, object] = {}
        for c in row.iter(f"{ns}c"):
            letters = re.match(r"[A-Z]+", c.get("r")).group(0)
            ci = 0
            for ch in letters:
                ci = ci * 26 + ord(ch) - 64
            t = c.get("t", "n")
            v = c.find(f"{ns}v")
            if t == "inlineStr":
                val: object = "".join(x.text or "" for x in c.iter(f"{ns}t"))
            elif v is None:
                val = None
            elif t == "s":
                val = shared[int(v.text)]
            elif t == "b":
                val = v.text == "1"
            elif t in ("str", "e"):
                val = v.text
            else:
                val = float(v.text)
            cells[ci - 1] = val
        width = max(cells) + 1 if cells else 0
        rows.append([cells.get(i) for i in range(width)])
    return rows
