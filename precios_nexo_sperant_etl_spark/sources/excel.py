"""Excel reading/writing without Excel libraries (reference S1/S2 —
SURVEY §2.1).

Spark has no native Excel source; the reference reads legacy ``.xls``
with xlrd (corruption-tolerant) and ``.xlsx`` with pandas/openpyxl
(``Actualizar_Precios_de_Nexo.py:36,191``). An ``.xlsx`` is just a ZIP
of XML parts (ECMA-376, a public format), so the modern path here is a
dependency-free stdlib reader/writer: ``zipfile`` + ``ElementTree``.
Only the legacy BIFF ``.xls`` path still needs xlrd (binary format,
not worth reimplementing) and keeps its loud environment guard.

These functions produce/consume the raw row matrix that
:func:`..ingest.ingest_project_files` normalizes — the *engine* never
depends on Excel libraries. Each workbook is one self-contained blob,
so the fan-in calls these readers on executors, one task per file.
"""

from __future__ import annotations

import re
import zipfile
from xml.etree import ElementTree

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_NS_REL = ("{http://schemas.openxmlformats.org/officeDocument/2006/"
           "relationships}")
_NS_PKG = ("{http://schemas.openxmlformats.org/package/2006/"
           "relationships}")


# --------------------------------------------------------------------------
# Legacy .xls (BIFF8 inside an OLE2/CFB container) — also public formats
# (MS-CFB / MS-XLS open specifications), read here with pure stdlib so
# S2 is executable without xlrd. The reference opens workbooks with
# ``ignore_workbook_corruption=True`` (APN:191-193); this reader is
# tolerant the same way: unknown records are skipped, a torn record
# ends the scan with whatever cells were already decoded.
# --------------------------------------------------------------------------

_FREESECT = 0xFFFFFFFF
_ENDOFCHAIN = 0xFFFFFFFE


def _cfb_stream(data: bytes, name_candidates: tuple[str, ...]) -> bytes:
    """Extract one stream from an OLE2 compound file: header → FAT (via
    DIFAT) → directory chain → the named entry, through the mini-stream
    when the entry is below the 4096-byte cutoff."""
    import struct
    if data[:8] != b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1":
        raise ValueError("not an OLE2 compound file (bad magic)")
    if len(data) < 512:
        raise ValueError("truncated OLE2 header")
    sshift = struct.unpack_from("<H", data, 30)[0]
    mshift = struct.unpack_from("<H", data, 32)[0]
    # Spec values are 9/12 and 6; anything far outside is corruption —
    # reject rather than let a 2^65535-byte "sector" wedge the process.
    if not (6 <= sshift <= 20 and 2 <= mshift <= 16):
        raise ValueError("implausible sector shift (corrupt header)")
    ssz = 1 << sshift
    mssz = 1 << mshift
    n_fat = struct.unpack_from("<I", data, 44)[0]
    dir_start = struct.unpack_from("<I", data, 48)[0]
    mini_cutoff = struct.unpack_from("<I", data, 56)[0]
    minifat_start = struct.unpack_from("<I", data, 60)[0]
    difat_start = struct.unpack_from("<I", data, 68)[0]

    def sector(i: int) -> bytes:
        off = (i + 1) * ssz
        return data[off:off + ssz]

    # FAT sector list: 109 header DIFAT entries + chained DIFAT sectors.
    # Every chain walk below carries a seen-set: a corrupted link that
    # points back into itself must terminate with the prefix read so
    # far, not loop forever accumulating sectors (the fan-in's per-file
    # `except Exception` can absorb a raise but not a hang).
    difat = list(struct.unpack_from("<109I", data, 76))
    nxt, difat_seen = difat_start, set()
    while nxt not in (_ENDOFCHAIN, _FREESECT) and nxt not in difat_seen:
        difat_seen.add(nxt)
        s = sector(nxt)
        if len(s) < ssz:  # chain ran off the end of the file
            break
        entries = struct.unpack(f"<{ssz // 4}I", s)
        difat.extend(entries[:-1])
        nxt = entries[-1]
    fat: list[int] = []
    for si in difat[:n_fat]:
        if si in (_ENDOFCHAIN, _FREESECT):
            continue
        s = sector(si)
        fat.extend(struct.unpack_from(f"<{len(s) // 4}I", s))

    def chain(start: int) -> bytes:
        out, cur, seen = [], start, set()
        while cur not in (_ENDOFCHAIN, _FREESECT) and cur < len(fat):
            if cur in seen:  # corrupt cyclic chain — stop, keep prefix
                break
            seen.add(cur)
            out.append(sector(cur))
            cur = fat[cur]
        return b"".join(out)

    directory = chain(dir_start)
    root_start = root_size = None
    target = None
    for off in range(0, len(directory) - 127, 128):
        name_len = struct.unpack_from("<H", directory, off + 64)[0]
        if not 2 <= name_len <= 64:
            continue
        name = directory[off:off + name_len - 2].decode("utf-16-le",
                                                        "replace")
        etype = directory[off + 66]
        start = struct.unpack_from("<I", directory, off + 116)[0]
        size = struct.unpack_from("<Q", directory, off + 120)[0]
        if etype == 5:  # root: owns the mini-stream
            root_start, root_size = start, size
        elif etype == 2 and name in name_candidates and target is None:
            target = (start, size)
    if target is None:
        raise ValueError(f"no {name_candidates} stream in workbook")
    start, size = target
    if size >= mini_cutoff:
        return chain(start)[:size]
    # Mini-stream: sectors of `mssz` bytes inside the root entry's
    # regular chain, linked by the miniFAT.
    if root_start is None:
        raise ValueError("mini-stream entry without a root directory entry")
    mini_container = chain(root_start)[:root_size]
    minifat = b""
    nxt, mf_seen = minifat_start, set()
    while (nxt not in (_ENDOFCHAIN, _FREESECT) and nxt < len(fat)
           and nxt not in mf_seen):
        mf_seen.add(nxt)
        minifat += sector(nxt)
        nxt = fat[nxt]
    minifat = minifat[:len(minifat) - len(minifat) % 4]
    mfat = struct.unpack(f"<{len(minifat) // 4}I", minifat)
    out, cur, seen = [], start, set()
    while cur not in (_ENDOFCHAIN, _FREESECT) and cur < len(mfat):
        if cur in seen:
            break
        seen.add(cur)
        out.append(mini_container[cur * mssz:(cur + 1) * mssz])
        cur = mfat[cur]
    return b"".join(out)[:size]


def _decode_rk(rk: int) -> float | int:
    """RK-packed number: bit0 = ÷100, bit1 = 30-bit signed int vs the
    high 30 bits of an IEEE double."""
    import struct
    div100 = rk & 1
    if rk & 2:
        v = rk >> 2
        if v & 0x20000000:
            v -= 0x40000000
    else:
        v = struct.unpack("<d", struct.pack("<Q", (rk & ~3) << 32))[0]
    if div100:
        v = v / 100
        return v
    return v


def _biff_records(stream: bytes, pos: int = 0):
    """(id, payload, next_pos) record iterator; stops at a torn header
    (tolerance: yield what exists)."""
    import struct
    n = len(stream)
    while pos + 4 <= n:
        rid, ln = struct.unpack_from("<HH", stream, pos)
        if pos + 4 + ln > n:
            return
        yield rid, stream[pos + 4:pos + 4 + ln], pos + 4 + ln
        pos += 4 + ln


def _parse_sst(payload: bytes, continues: list[bytes]) -> list[str]:
    """Shared-string table, including strings split across CONTINUE
    records (the compression flag byte is re-emitted when CHARACTER data
    crosses a record boundary — MS-XLS §2.5.293)."""
    import struct
    parts = [payload] + continues
    part_i, off = 0, 8  # skip cstTotal/cstUnique
    n_unique = struct.unpack_from("<I", payload, 4)[0]

    def remaining() -> int:
        return len(parts[part_i]) - off

    def advance() -> bool:
        nonlocal part_i, off
        while part_i < len(parts) and off >= len(parts[part_i]):
            part_i += 1
            off = 0
        return part_i < len(parts)

    def read(n: int) -> bytes:
        nonlocal off
        out = b""
        while n and advance():
            take = min(n, remaining())
            out += parts[part_i][off:off + take]
            off += take
            n -= take
        return out

    strings: list[str] = []
    for _ in range(n_unique):
        if not advance():
            break
        hdr = read(3)
        if len(hdr) < 3:
            break
        cch, flags = struct.unpack("<HB", hdr)
        c_run = struct.unpack("<H", read(2))[0] if flags & 0x08 else 0
        cb_ext = struct.unpack("<I", read(4))[0] if flags & 0x04 else 0
        chars = []
        left = cch
        wide = bool(flags & 0x01)
        while left:
            if not advance():
                break
            avail = remaining() // (2 if wide else 1)
            take = min(left, avail)
            raw = read(take * (2 if wide else 1))
            chars.append(raw.decode("utf-16-le" if wide else "latin-1",
                                    "replace"))
            left -= take
            if left and advance():
                # Character data continues in the next record: a fresh
                # flags byte precedes it and the width may change.
                wide = bool(read(1)[0] & 0x01)
        read(4 * c_run + cb_ext)
        strings.append("".join(chars))
    return strings


def read_xls_rows(path: str) -> list[list[object]]:
    """Tolerant legacy-BIFF read (APN:191-193): first sheet, all cell
    values, corruption skipped — pure stdlib (MS-CFB + MS-XLS are open
    specs), no xlrd. Handles LABELSST/SST (with CONTINUE splits), NUMBER,
    RK/MULRK, LABEL, BOOLERR, FORMULA cached results (+ STRING), and
    returns the same dense row matrix xlrd's ``row_values`` yields."""
    import struct
    with open(path, "rb") as f:
        data = f.read()
    stream = _cfb_stream(data, ("Workbook", "Book"))

    # Pass 1 — workbook globals: SST (+ its CONTINUEs) and the first
    # BOUNDSHEET's substream offset.
    sst: list[str] = []
    first_sheet_pos = None
    pending_sst: tuple[bytes, list[bytes]] | None = None
    for rid, pay, nxt in _biff_records(stream):
        if rid == 0xFC:
            pending_sst = (pay, [])
        elif rid == 0x3C and pending_sst is not None:
            pending_sst[1].append(pay)
        elif rid != 0x3C and pending_sst is not None:
            sst = _parse_sst(*pending_sst)
            pending_sst = None
        if rid == 0x85 and first_sheet_pos is None:  # BOUNDSHEET
            first_sheet_pos = struct.unpack_from("<I", pay)[0]
        if rid == 0x0A:  # EOF of globals
            break
    if pending_sst is not None:
        sst = _parse_sst(*pending_sst)
    if first_sheet_pos is None or first_sheet_pos >= len(stream):
        return []

    cells: dict[tuple[int, int], object] = {}
    want_string_for: tuple[int, int] | None = None
    for rid, pay, nxt in _biff_records(stream, first_sheet_pos):
        try:
            if rid == 0xFD:  # LABELSST
                r, c, _, i = struct.unpack_from("<HHHI", pay)
                cells[(r, c)] = sst[i] if i < len(sst) else None
            elif rid == 0x203:  # NUMBER
                r, c, _ = struct.unpack_from("<HHH", pay)
                cells[(r, c)] = struct.unpack_from("<d", pay, 6)[0]
            elif rid == 0x27E:  # RK
                r, c, _, rk = struct.unpack_from("<HHHI", pay)
                cells[(r, c)] = _decode_rk(rk)
            elif rid == 0xBD:  # MULRK
                r, c0 = struct.unpack_from("<HH", pay)
                n_cells = (len(pay) - 6) // 6
                for j in range(n_cells):
                    rk = struct.unpack_from("<I", pay, 4 + 6 * j + 2)[0]
                    cells[(r, c0 + j)] = _decode_rk(rk)
            elif rid == 0x204:  # LABEL (inline XLUnicodeString)
                r, c, _, cch, flags = struct.unpack_from("<HHHHB", pay)
                raw = pay[9:9 + cch * (2 if flags & 1 else 1)]
                cells[(r, c)] = raw.decode(
                    "utf-16-le" if flags & 1 else "latin-1", "replace")
            elif rid == 0x205:  # BOOLERR
                r, c, _, val, is_err = struct.unpack_from("<HHHBB", pay)
                cells[(r, c)] = None if is_err else bool(val)
            elif rid == 0x06:  # FORMULA: 8-byte cached result
                r, c, _ = struct.unpack_from("<HHH", pay)
                if pay[12:14] == b"\xff\xff":
                    if pay[6] == 0:          # string result follows
                        want_string_for = (r, c)
                    elif pay[6] == 1:        # boolean
                        cells[(r, c)] = bool(pay[8])
                else:
                    cells[(r, c)] = struct.unpack_from("<d", pay, 6)[0]
            elif rid == 0x207 and want_string_for is not None:  # STRING
                cch, flags = struct.unpack_from("<HB", pay)
                raw = pay[3:3 + cch * (2 if flags & 1 else 1)]
                cells[want_string_for] = raw.decode(
                    "utf-16-le" if flags & 1 else "latin-1", "replace")
                want_string_for = None
            elif rid == 0x0A:  # EOF of this sheet substream
                break
        except (struct.error, IndexError):
            continue  # torn record — reference ignores corruption too
    if not cells:
        return []
    n_rows = max(r for r, _ in cells) + 1
    n_cols = max(c for _, c in cells) + 1
    return [[cells.get((r, c)) for c in range(n_cols)]
            for r in range(n_rows)]


def _col_index(cell_ref: str) -> int:
    """'A1' → 0, 'BC12' → 54: base-26 letters of the A1 reference."""
    idx = 0
    for ch in cell_ref:
        if not ch.isalpha():
            break
        idx = idx * 26 + (ord(ch.upper()) - ord("A") + 1)
    return idx - 1


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        data = zf.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    out = []
    for si in ElementTree.fromstring(data).iter(f"{_NS}si"):
        # Plain <t> or rich-text runs <r><t>…</t></r>: concatenate all
        # descendant <t> text, which covers both shapes.
        out.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
    return out


def _sheet_paths(zf: zipfile.ZipFile) -> list[tuple[str, str]]:
    """(sheet name, zip path) in workbook order, resolved through the
    relationship part — sheet order in workbook.xml is display order,
    and the r:id → target mapping lives in workbook.xml.rels."""
    rels = {}
    for rel in ElementTree.fromstring(
            zf.read("xl/_rels/workbook.xml.rels")).iter(f"{_NS_PKG}Relationship"):
        target = rel.get("Target")
        if target.startswith("/"):
            target = target.lstrip("/")
        else:
            target = "xl/" + target
        rels[rel.get("Id")] = target
    sheets = []
    for sh in ElementTree.fromstring(
            zf.read("xl/workbook.xml")).iter(f"{_NS}sheet"):
        sheets.append((sh.get("name"), rels[sh.get(f"{_NS_REL}id")]))
    return sheets


def _cell_value(c: ElementTree.Element, shared: list[str]) -> object:
    t = c.get("t", "n")
    if t == "inlineStr":
        return "".join(el.text or "" for el in c.iter(f"{_NS}t"))
    v = c.find(f"{_NS}v")
    if v is None or v.text is None:
        return None
    if t == "s":
        return shared[int(v.text)]
    if t in ("str", "e"):
        return v.text
    if t == "b":
        return v.text == "1"
    # Numeric: int when the serialized form is integral (what openpyxl
    # yields for whole numbers), float otherwise. Date cells arrive as
    # their raw serial number — this reader ignores number-format styles;
    # ingest stringifies values anyway.
    txt = v.text
    if re.fullmatch(r"-?\d+", txt):
        return int(txt)
    return float(txt)


def read_xlsx_rows(path: str, sheet_name: int | str = 0) -> list[list[object]]:
    """Modern ``.xlsx`` read (APN:36) — dependency-free: ZIP + worksheet
    XML + shared-string table, no openpyxl. Returns a dense row matrix
    (gaps from sparse cell references become ``None``), the same shape
    openpyxl's ``iter_rows(values_only=True)`` produces.
    """
    with zipfile.ZipFile(path) as zf:
        sheets = _sheet_paths(zf)
        if isinstance(sheet_name, str):
            match = [p for n, p in sheets if n == sheet_name]
            if not match:
                raise KeyError(
                    f"sheet {sheet_name!r} not in {[n for n, _ in sheets]}")
            part = match[0]
        else:
            part = sheets[sheet_name][1]
        shared = _shared_strings(zf)
        rows: list[list[object]] = []
        for row_el in ElementTree.fromstring(
                zf.read(part)).iter(f"{_NS}row"):
            # Physical row index from r= (1-based); pad skipped rows so
            # header_row indices refer to the same physical rows Excel
            # shows.
            r_attr = row_el.get("r")
            r_idx = int(r_attr) - 1 if r_attr else len(rows)
            while len(rows) < r_idx:
                rows.append([])
            cells: list[object] = []
            for c in row_el.iter(f"{_NS}c"):
                ref = c.get("r")
                ci = _col_index(ref) if ref else len(cells)
                while len(cells) < ci:
                    cells.append(None)
                cells.append(_cell_value(c, shared))
            rows.append(cells)
    width = max((len(r) for r in rows), default=0)
    return [r + [None] * (width - len(r)) for r in rows]


def _col_letter(idx: int) -> str:
    """0 → 'A', 54 → 'BC'."""
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def _xml_escape(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;")
             .replace(">", "&gt;"))


def _sheet_name(name: object, i: int) -> str:
    return re.sub(r"[\[\]:*?/\\]", "", str(name))[:31] or f"Sheet{i}"


def check_unique_names(inputs: list, cleaned: list[str], what: str) -> None:
    """Raise ``ValueError`` naming both inputs when two cleaned names are
    equal without case (Excel sheet names, and file names on case-folding
    file systems)."""
    seen: dict[str, int] = {}
    for i, clean in enumerate(cleaned):
        j = seen.setdefault(clean.casefold(), i)
        if j != i:
            raise ValueError(f"{inputs[j]!r} and {inputs[i]!r} both give "
                             f"the {what} {clean!r}")


def write_xlsx(path: str, sheets: dict[str, list[list[object]]]) -> None:
    """Minimal dependency-free ``.xlsx`` writer: numbers/bools as native
    cells, everything else as inline strings. Enough for the audit
    workbook artifacts (S7/S8) and for round-trip tests of
    :func:`read_xlsx_rows`; deliberately no styles/formulas/dates.

    Sheet names are made legal for Excel, which repairs or refuses a
    workbook otherwise: the characters ``[]:*?/\\`` are dropped, the rest
    is cut to 31 characters, and ``Sheet{i}`` stands in when nothing is
    left. Two inputs that clean to the same name, compared without case
    as Excel does, raise ``ValueError``.
    """
    names = [_sheet_name(name, i) for i, name in enumerate(sheets, start=1)]
    check_unique_names(list(sheets), names, "sheet name")
    ct_overrides = []
    wb_sheets = []
    rels = []
    parts: dict[str, str] = {}
    for i, (rows, clean) in enumerate(zip(sheets.values(), names), start=1):
        part = f"xl/worksheets/sheet{i}.xml"
        ct_overrides.append(
            f'<Override PartName="/{part}" ContentType="application/vnd.'
            'openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>')
        wb_sheets.append(
            f'<sheet name="{_xml_escape(clean)}" sheetId="{i}" '
            f'r:id="rId{i}"/>')
        rels.append(
            f'<Relationship Id="rId{i}" Type="http://schemas.openxmlformats'
            '.org/officeDocument/2006/relationships/worksheet" '
            f'Target="worksheets/sheet{i}.xml"/>')
        xml_rows = []
        for ri, row in enumerate(rows, start=1):
            cells = []
            for ci, v in enumerate(row):
                if v is None:
                    continue
                ref = f"{_col_letter(ci)}{ri}"
                if isinstance(v, bool):
                    cells.append(f'<c r="{ref}" t="b"><v>{int(v)}</v></c>')
                elif isinstance(v, (int, float)):
                    cells.append(f'<c r="{ref}"><v>{v!r}</v></c>')
                else:
                    cells.append(f'<c r="{ref}" t="inlineStr"><is><t '
                                 'xml:space="preserve">'
                                 f'{_xml_escape(str(v))}</t></is></c>')
            xml_rows.append(f'<row r="{ri}">{"".join(cells)}</row>')
        parts[part] = (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/'
            'spreadsheetml/2006/main"><sheetData>'
            + "".join(xml_rows) + "</sheetData></worksheet>")

    parts["[Content_Types].xml"] = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
        'content-types">'
        '<Default Extension="rels" ContentType="application/vnd.'
        'openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        + "".join(ct_overrides) + "</Types>")
    parts["_rels/.rels"] = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
        '2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>')
    parts["xl/workbook.xml"] = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/'
        '2006/main" xmlns:r="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships"><sheets>'
        + "".join(wb_sheets) + "</sheets></workbook>")
    parts["xl/_rels/workbook.xml.rels"] = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
        '2006/relationships">' + "".join(rels) + "</Relationships>")

    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for part, content in parts.items():
            zf.writestr(part, content)
