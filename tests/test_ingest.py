"""Ingest-layer tests: header auto-detection, alias renames,
duplicate-column collapse, null backfill, union-by-name (FIXTURES.md §A2
quirks). Sheets go through the one fan-in, ``ingest_project_files``."""

from pyspark.sql import functions as F

from precios_nexo_sperant_etl_spark.sources.ingest import (
    COL_ESTADO, COL_NUMERO, COL_PRECIO, drop_all_null_rows, find_header_row,
    ingest_project_files)

MESSY_SHEET = [
    ["REPORTE DE PRECIOS", "", "", "", "", ""],          # banner
    ["Generado: 2024", "", "", "", "", ""],              # banner
    ["", "", "", "", "", ""],                            # blank
    ["codigo", "precio  lista", "estado", "Tipología", "Área Total", "Área Total"],
    ["101.0", "1.000,50", "Disponible (Visible)", "A-1", "", "55,5"],
    ["102", "junk", "No Disponible (Vendido)", "B2", "60", ""],
    ["A103", "2.000", "Disponible (Oculto)", "A-9", None, None],
]


def ingest_sheets(spark, sheets, header_row=None):
    """The fan-in over in-memory sheets: each project's "path" is its own
    row matrix, which the reader hands back unchanged."""
    return ingest_project_files(spark, sheets, reader=lambda rows: rows,
                                header_row=header_row)


def test_find_header_row():
    assert find_header_row(MESSY_SHEET) == 3
    assert find_header_row([["x", "y"], ["1", "2"]]) is None


def test_ingest_sheet_normalization(spark):
    df = ingest_sheets(spark, {"Matera": MESSY_SHEET})
    # alias renames landed ('codigo' -> Número, 'precio lista' -> Precio…)
    for c in ("Proyecto", COL_NUMERO, COL_PRECIO, COL_ESTADO, "Tipología", "_ord"):
        assert c in df.columns, c
    # duplicate 'Área Total' collapsed to one column, first non-null wins
    assert df.columns.count("Área Total") == 1
    rows = {r[COL_NUMERO]: r for r in df.collect()}
    assert rows["101.0"]["Área Total"] == "55,5"      # second dup filled the blank
    assert rows["102"]["Área Total"] == "60"
    # F4 coercion: es-PE price parsed, junk -> NULL
    assert rows["101.0"][COL_PRECIO] == 1000.50
    assert rows["102"][COL_PRECIO] is None
    assert rows["A103"][COL_PRECIO] == 2.0            # "2.000" single-dot -> 2.0
    # ingest ordinal is dense and file-ordered
    assert sorted(r["_ord"] for r in rows.values()) == [0, 1, 2]


def test_union_by_name_null_backfill(spark):
    u = ingest_sheets(spark, {"Matera": MESSY_SHEET, "Fenix": [
        ["Número de inmueble", "Precio de lista", "Estado de inmueble"],
        ["201", "300,25", "Disponible"],
        ["202", "", None],
    ]})
    assert u.count() == 5
    fenix = u.filter(F.col("Proyecto") == "Fenix").collect()
    assert all(r["Tipología"] is None for r in fenix)  # missing col -> NULL
    # a canonical column no file has is backfilled after the file headers
    only = ingest_sheets(spark, {"X": [["codigo", "Torre"], ["1", "T"]]})
    assert only.columns == ["Proyecto", COL_NUMERO, "Torre", COL_PRECIO,
                            COL_ESTADO, "_ord"]
    assert only.collect()[0][COL_ESTADO] is None


def test_drop_all_null_rows(spark):
    df = spark.createDataFrame([("a", "1"), (None, None)], "x string, y string")
    assert drop_all_null_rows(df).count() == 1


def test_tolerant_fan_in(spark, tmp_path):
    """S5 (APN:186-230): missing file → skip, corrupt file → skip,
    surviving files union; zero survivors → RuntimeError."""
    import pytest

    good = tmp_path / "good.xls"
    good.write_text("placeholder")
    corrupt = tmp_path / "corrupt.xls"
    corrupt.write_text("placeholder")

    def reader(path):
        if "corrupt" in str(path):
            raise ValueError("simulated unreadable workbook")
        return MESSY_SHEET

    skips = []
    df = ingest_project_files(
        spark,
        {"Matera": str(good), "Roto": str(corrupt),
         "Fantasma": str(tmp_path / "absent.xls")},
        reader=reader, on_skip=lambda p, r: skips.append((p, r)))
    assert df.count() == 3  # only the good project's rows
    assert {r["Proyecto"] for r in df.select("Proyecto").distinct().collect()} \
        == {"Matera"}
    assert {p for p, _ in skips} == {"Roto", "Fantasma"}

    with pytest.raises(RuntimeError):
        ingest_project_files(
            spark, {"Fantasma": str(tmp_path / "absent.xls")}, reader=reader)


def test_matera_duplicate_header_collapse(spark):
    """Golden ingest test mirroring tablas_actualizadas/Matera.xlsx's
    86-column layout: four headers each repeated ×4 plus alias headers.
    Pins first-non-null left-to-right collapse and alias pick under the
    duplicate storm (SURVEY 'what's hard' #3)."""
    dup_names = ["Área Total", "Área Techada", "Precio m2", "Observación"]
    singles = [f"extra {i:02d}" for i in range(86 - 4 - 4 * len(dup_names))]
    header = (["codigo", "precio  lista", "estado", "Tipología"]
              + [n for n in dup_names for _ in range(4)] + singles)
    assert len(header) == 86

    def spread(v):          # dup group: blank, empty, then two values
        return [None, "", f"{v}-2", f"{v}-3"]

    row1 = (["101", "1.500,75", "Disponible", "A-1"]
            + sum((spread(n[:3]) for n in dup_names), [])
            + [""] * len(singles))
    row2 = (["102", "200", "Vendido", "B-2"]
            + sum(([None, None, None, f"{n[:3]}-last"] for n in dup_names), [])
            + [None] * len(singles))

    df = ingest_sheets(spark, {"Matera": [header, row1, row2]}, header_row=0)
    assert len(df.columns) == len(set(df.columns))        # no dup names survive
    for c in (COL_NUMERO, COL_PRECIO, COL_ESTADO):        # aliases picked
        assert c in df.columns, c
    rows = {r[COL_NUMERO]: r for r in df.collect()}
    for n in dup_names:
        assert rows["101"][n] == f"{n[:3]}-2"   # first non-null left-to-right
        assert rows["102"][n] == f"{n[:3]}-last"
    assert rows["101"][COL_PRECIO] == 1500.75   # F4 parse survives the storm
    assert rows["102"][COL_PRECIO] == 200.0


def test_xlsx_roundtrip_and_e2e_ingest(spark, tmp_path):
    """S1 is EXECUTABLE, not a guard: a workbook generated by the stdlib
    writer round-trips through the stdlib zip+XML reader (typed cells,
    sparse gaps, second sheet, shared-string-free inline text), and the
    messy sheet flows through read_xlsx_rows → ingest end to end —
    the reference's pd.read_excel(...) → normalize path (APN:36)."""
    from precios_nexo_sperant_etl_spark.sources.excel import (read_xlsx_rows,
                                                              write_xlsx)
    path = str(tmp_path / "reporte.xlsx")
    write_xlsx(path, {"Precios": MESSY_SHEET,
                      "Tipos": [[1, 2.5, True, "ñandú & <xml>"],
                                [None, None, None, "gap row below"],
                                [],
                                [-3, 1e300, False, ""]]})

    # Typed round-trip on the second sheet (by name and by index).
    tipos = read_xlsx_rows(path, sheet_name="Tipos")
    assert tipos == read_xlsx_rows(path, sheet_name=1)
    assert tipos[0] == [1, 2.5, True, "ñandú & <xml>"]
    assert tipos[1] == [None, None, None, "gap row below"]
    assert tipos[2] == [None] * 4                       # empty physical row
    assert tipos[3][:3] == [-3, 1e300, False]

    # E2E: reader output (first sheet) drives the full ingest normalization.
    df = ingest_project_files(spark, {"Matera": path}, reader=read_xlsx_rows)
    got = {r[COL_NUMERO]: r for r in df.collect()}
    assert set(got) == {"101.0", "102", "A103"}
    assert got["101.0"][COL_PRECIO] == 1000.50
    assert got["102"][COL_PRECIO] is None               # junk -> NULL
    assert got["101.0"]["Área Total"] == "55,5"         # dup-col collapse


# --- minimal BIFF8/.xls writer (test-only): enough records to exercise
# the stdlib reader's CFB walk, SST (incl. CONTINUE splits), and every
# cell-record decoder. A real writer stays out of the package — xlsx is
# the supported output format; .xls exists only to be READ (S2).

def _biff_rec(rid, payload):
    import struct
    return struct.pack("<HH", rid, len(payload)) + payload


def _biff_sst(strings, split_first_at=None):
    """SST payload (+ optional CONTINUE payloads splitting the FIRST
    string's character data at `split_first_at` chars — re-emitting the
    flags byte per MS-XLS §2.5.293)."""
    import struct
    out = struct.pack("<II", len(strings), len(strings))
    conts = []
    for i, s in enumerate(strings):
        wide = any(ord(ch) > 0xFF for ch in s)
        flags = 0x01 if wide else 0x00
        enc = "utf-16-le" if wide else "latin-1"
        if i == 0 and split_first_at is not None:
            head, tail = s[:split_first_at], s[split_first_at:]
            out += struct.pack("<HB", len(s), flags) + head.encode(enc)
            conts.append(bytes([flags]) + tail.encode(enc))
            # remaining strings go in the CONTINUE record too
            for s2 in strings[1:]:
                w2 = any(ord(ch) > 0xFF for ch in s2)
                f2 = 0x01 if w2 else 0x00
                e2 = "utf-16-le" if w2 else "latin-1"
                conts[-1] += struct.pack("<HB", len(s2), f2) + s2.encode(e2)
            break
        out += struct.pack("<HB", len(s), flags) + s.encode(enc)
    return out, conts


def _make_xls(path, rows, split_sst_at=None):
    """rows: matrix of str/float/int/bool/None. Strings dedupe through a
    real SST; ints ride RK records; floats NUMBER records."""
    import struct
    strings, sidx = [], {}
    for row in rows:
        for v in row:
            if isinstance(v, str) and v not in sidx:
                sidx[v] = len(strings)
                strings.append(v)

    sheet = _biff_rec(0x809, struct.pack("<HHHHII", 0x600, 0x10, 0, 0, 0, 0))
    for r, row in enumerate(rows):
        for c, v in enumerate(row):
            if v is None:
                continue
            if isinstance(v, bool):
                sheet += _biff_rec(0x205, struct.pack("<HHHBB", r, c, 0,
                                                      int(v), 0))
            elif isinstance(v, str):
                sheet += _biff_rec(0xFD, struct.pack("<HHHI", r, c, 0,
                                                     sidx[v]))
            elif isinstance(v, int):
                rk = ((v & 0x3FFFFFFF) << 2) | 2  # 30-bit two's complement
                sheet += _biff_rec(0x27E, struct.pack("<HHHI", r, c, 0, rk))
            else:
                sheet += _biff_rec(0x203, struct.pack("<HHH", r, c, 0)
                                   + struct.pack("<d", v))
    sheet += _biff_rec(0x0A, b"")

    sst_payload, conts = _biff_sst(strings, split_sst_at)
    globals_recs = _biff_rec(0x809, struct.pack("<HHHHII", 0x600, 0x5,
                                                0, 0, 0, 0))
    globals_recs += _biff_rec(0xFC, sst_payload)
    for cpay in conts:
        globals_recs += _biff_rec(0x3C, cpay)
    name = b"Hoja1"
    bs_payload = struct.pack("<IHB", 0, 0, len(name)) + b"\x00" + name
    globals_recs += _biff_rec(0x85, bs_payload)
    globals_recs += _biff_rec(0x0A, b"")
    # patch the BOUNDSHEET stream-position now that lengths are known
    sheet_pos = len(globals_recs)
    stream = bytearray(globals_recs + sheet)
    bs_off = stream.find(struct.pack("<HH", 0x85, len(bs_payload)))
    stream[bs_off + 4:bs_off + 8] = struct.pack("<I", sheet_pos)

    # CFB container: pad the stream to >= 4096 so it lives in regular
    # sectors (the reader still handles mini-streams for real files).
    data = bytes(stream).ljust(4096, b"\x00")
    n_data_sec = len(data) // 512
    fat = [0xFFFFFFFD, 0xFFFFFFFE]          # FAT sector, directory
    fat += [2 + i + 1 for i in range(n_data_sec - 1)] + [0xFFFFFFFE]
    fat += [0xFFFFFFFF] * (128 - len(fat))
    fat_sec = struct.pack("<128I", *fat)

    def dirent(name, etype, start, size, child=0xFFFFFFFF):
        enc = name.encode("utf-16-le") + b"\x00\x00"
        return (enc.ljust(64, b"\x00") + struct.pack("<H", len(enc))
                + bytes([etype, 1])
                + struct.pack("<III", 0xFFFFFFFF, 0xFFFFFFFF, child)
                + b"\x00" * 16 + struct.pack("<I", 0) + b"\x00" * 16
                + struct.pack("<IQ", start, size))
    directory = (dirent("Root Entry", 5, 0xFFFFFFFE, 0, child=1)
                 + dirent("Workbook", 2, 2, len(data))
                 + b"\x00" * 256)

    header = (b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 16
              + struct.pack("<HHHHHH", 0x3E, 0x3, 0xFFFE, 9, 6, 0)
              + b"\x00" * 4
              + struct.pack("<IIIII", 0, 1, 1, 0, 4096)
              + struct.pack("<II", 0xFFFFFFFE, 0)
              + struct.pack("<II", 0xFFFFFFFE, 0)
              + struct.pack("<I", 0) + b"\xff" * 4 * 108)
    assert len(header) == 512, len(header)
    with open(path, "wb") as f:
        f.write(header + fat_sec + directory + data)


def test_xls_reader_cell_types(tmp_path):
    """S2 decodes every common BIFF8 cell record: SST strings (latin-1,
    UTF-16, and one split across a CONTINUE boundary), RK ints, NUMBER
    doubles, booleans, and sparse gaps."""
    from precios_nexo_sperant_etl_spark.sources.excel import read_xls_rows
    long_s = "continued-" * 8  # 80 chars, split mid-characters
    rows = [
        [long_s, "ñandú", "→wide←"],
        [123, 1.5, None, True],
        [None, None, None, None, -7],
    ]
    path = str(tmp_path / "t.xls")
    _make_xls(path, rows, split_sst_at=30)
    got = read_xls_rows(path)
    assert got[0][:3] == [long_s, "ñandú", "→wide←"]
    assert got[1][:2] == [123, 1.5] and got[1][3] is True
    assert got[2][4] == -7
    assert got[1][2] is None  # gap stays a gap


def test_xls_e2e_ingest(spark, tmp_path):
    """The reference's S2 path end to end: a legacy workbook (banner
    rows, aliased headers) → stdlib BIFF reader (the fan-in's default)
    → ingest."""
    path = str(tmp_path / "precios.xls")
    _make_xls(path, MESSY_SHEET)
    df = ingest_project_files(spark, {"Matera": path})
    got = {r[COL_NUMERO]: r for r in df.collect()}
    assert set(got) == {"101.0", "102", "A103"}
    assert got["101.0"][COL_PRECIO] == 1000.50
    assert got["A103"][COL_PRECIO] == 2.0
