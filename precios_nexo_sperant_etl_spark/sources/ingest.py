"""Ingest-normalization layer: the reference's tolerant per-file logic
re-expressed at the DataFrame boundary.

Spark cannot represent duplicate or dirty column names post-hoc, so this
layer runs *before a DataFrame is born* (SURVEY §1.3): raw rows (from any
reader — the stdlib .xls/.xlsx codecs, csv, an in-memory matrix) pass
through header detection, name cleanup, duplicate-column collapse (the
reference's ``bfill(axis=1)``) and alias renames in plain Python, per
file, ON EXECUTORS.

There is one fan-in, :func:`ingest_project_files`: one task per file,
only column names cross to the driver, and the aligned union is
checkpointed once so later actions never re-read the workbooks.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..functions.normalize import clean_col_name
from ..functions.numparse import to_number

#: Canonical target columns (Actualizar_Precios_de_Nexo.py:55-57).
COL_NUMERO = "Número de inmueble"
COL_PRECIO = "Precio de lista"
COL_ESTADO = "Estado de inmueble"

#: Alias tables (Actualizar_Precios_de_Nexo.py:60-65).
ALIASES_NUMERO = [
    "Número de inmueble", "Numero de inmueble", "N° inmueble", "N° de inmueble",
    "numero", "número", "nombre", "nombre inmueble", "unidad", "codigo",
    "código", "Código de inmueble",
]
ALIASES_PRECIO = ["Precio de lista", "precio de lista", "precio", "precio lista",
                  "Precio Lista"]
ALIASES_ESTADO = ["Estado de inmueble", "estado de inmueble", "estado",
                  "estado comercial"]


def _norm(x) -> str | None:
    return str(x).strip().lower() if x is not None else None


def find_header_row(rows: Sequence[Sequence[object]],
                    candidates: Sequence[str] | None = None,
                    max_scan: int = 15) -> int | None:
    """Header auto-detection (S3, APN:84-91): scan the first ``max_scan``
    physical rows for any known alias string; that row is the header."""
    if candidates is None:
        candidates = ALIASES_NUMERO + ALIASES_PRECIO + ALIASES_ESTADO
    cand = {_norm(c) for c in candidates}
    for i, row in enumerate(rows[:max_scan]):
        if any(_norm(cell) in cand for cell in row):
            return i
    return None


def alias_pick(cols: Sequence[str], aliases: Sequence[str], canonical: str) -> str:
    """First present alias wins (APN:93-99)."""
    colset = set(cols)
    for a in aliases:
        if a in colset:
            return a
    return canonical


def drop_all_null_rows(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    """P7 (python_json.py:130): remove rows where every column is null."""
    return df.na.drop(how="all", subset=list(subset) if subset else None)


_NOTHING_READ = ("No project file could be read — check paths and formats "
                 "(reference: 'No se leyó ningún .xls')")


def _parse_file_rows(rows: Sequence[Sequence[object]],
                     header_row: int | None) -> tuple[list[str], list[list]]:
    """Reference ingest for ONE tolerantly-read sheet (APN:186-228), pure
    Python so it runs on executors:

    1. header detection (fallback: physical row 5, i.e. index 4)
    2. header cleanup (collapse whitespace)
    3. duplicate-name collapse: first non-null left-to-right across
       same-named columns (``_collapse_duplicate_name``/``bfill``,
       APN:149-179)
    4. alias → canonical renames
    5. the in-file ordinal, appended last — the deterministic stand-in
       for pandas' physical row order (SURVEY §2.6 W4), assigned before
       any partitioning can change it

    Returns (column names, row lists); cells are strings or None."""
    hdr_idx = header_row if header_row is not None else find_header_row(rows)
    if hdr_idx is None:
        hdr_idx = 4
    header = [clean_col_name(c) for c in rows[hdr_idx]]
    width = len(header)
    seen: dict[str, list[int]] = {}
    for i, name in enumerate(header):
        seen.setdefault(name, []).append(i)
    ren = {}
    for aliases, canonical in ((ALIASES_NUMERO, COL_NUMERO),
                               (ALIASES_PRECIO, COL_PRECIO),
                               (ALIASES_ESTADO, COL_ESTADO)):
        picked = alias_pick(list(seen), aliases, canonical)
        if picked != canonical and picked in seen:
            ren[picked] = canonical
    names = [ren.get(n, n) for n in seen]
    out_rows = []
    for ordn, r in enumerate(rows[hdr_idx + 1:]):
        cells = [None if c == "" else str(c) if c is not None else None
                 for c in list(r)[:width]]
        cells += [None] * (width - len(cells))
        collapsed = []
        for idxs in seen.values():
            v = None
            for i in idxs:
                if cells[i] is not None:
                    v = cells[i]
                    break
            collapsed.append(v)
        out_rows.append(collapsed + [ordn])
    return names, out_rows


def union_names(name_lists: Iterable[Sequence[str]]) -> list[str]:
    """U1 (APN:235): the first-seen-ordered union of column names —
    pandas-concat column order."""
    out: list[str] = []
    seen: set[str] = set()
    for names in name_lists:
        for n in names:
            if n not in seen:
                seen.add(n)
                out.append(n)
    return out


def align_rows(project: str, names: Sequence[str], rows: Iterable[list],
               target: Sequence[str]) -> Iterator[tuple]:
    """Align one file's :func:`_parse_file_rows` output to ``target``
    by name: ``(project, *target values, _ord)``; a name the file lacks
    is NULL, a file name outside ``target`` is dropped."""
    pos = {n: i for i, n in enumerate(names)}
    idxs = [pos.get(n) for n in target]
    for r in rows:
        yield tuple([project]
                    + [None if i is None else r[i] for i in idxs]
                    + [r[-1]])


def ingest_project_files(spark: SparkSession, archivos: dict[str, str],
                         reader=None, header_row: int | None = None,
                         on_skip=None) -> DataFrame:
    """S5 tolerant fan-in (APN:186-230): per-project file map → one
    DataFrame.

    Mirrors the reference's error budget exactly:

    - missing path → warn and skip (``print(f"❌ No encontrado: ...")``)
    - per-file read/parse exception → warn and skip (the APN:229
      ``except Exception`` around the whole per-file block)
    - **zero** successful loads → ``RuntimeError`` (APN:231-232) — a
      silent empty union would let downstream stages "succeed" on
      nothing, which is the one failure the reference refuses to mask.

    ``reader(path) -> rows`` supplies the raw row matrix (defaults to the
    tolerant .xls reader; inject a fake for tests / other formats). Only
    ``str`` paths are checked for existence; anything else goes to
    ``reader`` as it is. Reader and paths run on executors, so both must
    pickle. ``on_skip(project, reason)`` observes skips (defaults to a
    log warning) so fleets can alert on degraded ingests rather than
    discovering them in the row counts.

    Mechanics: the (project, path) list is parallelized with one
    partition per file; each task reads and normalizes its file
    (:func:`_parse_file_rows`). The parsed RDD is persisted once, a
    NAMES-ONLY pass collects each file's column names (bounded by header
    width × distinct layouts, never row data), then the row pass aligns
    every file to the union (:func:`align_rows`) and becomes one
    DataFrame, checkpointed so later actions do not re-read the files.

    Columns: ``Proyecto`` (the map key, which overwrites any in-file
    ``Proyecto`` as APN:233 does), the first-seen union of file headers,
    the canonical columns no file had (all NULL), then ``_ord``, the
    row's position within its own file. ``Precio de lista`` is parsed
    by the F4 number parser."""
    import logging
    import os

    if reader is None:
        from .excel import read_xls_rows
        reader = read_xls_rows
    if on_skip is None:
        log = logging.getLogger(__name__)
        on_skip = lambda project, reason: log.warning(  # noqa: E731
            "skipping %s: %s", project, reason)

    items = []
    for project, path in archivos.items():
        if isinstance(path, str) and not os.path.exists(path):
            on_skip(project, f"not found: {path}")
            continue
        items.append((project, path))
    if not items:
        raise RuntimeError(_NOTHING_READ)

    def parse_one(item):
        project, path = item
        try:
            names, rows = _parse_file_rows(reader(path), header_row)
            return ("ok", project, names, rows)
        except Exception as ex:  # noqa: BLE001 — per-file tolerance is the op
            return ("skip", project, f"{type(ex).__name__}: {ex}", None)

    parsed = spark.sparkContext.parallelize(
        items, numSlices=len(items)).map(parse_one)
    parsed.persist()
    try:
        # names-only pass: tiny driver traffic (no row data)
        file_names = []
        for tag, project, info in parsed.map(lambda t: t[:3]).collect():
            if tag == "skip":
                on_skip(project, info)
            else:
                file_names.append(info)
        if not file_names:
            raise RuntimeError(_NOTHING_READ)
        target = [n for n in union_names(
            file_names + [[COL_NUMERO, COL_PRECIO, COL_ESTADO]])
            if n != "Proyecto"]
        schema = StructType(
            [StructField("Proyecto", StringType())]
            + [StructField(n, StringType()) for n in target]
            + [StructField("_ord", LongType())])
        aligned = parsed.filter(lambda t: t[0] == "ok").flatMap(
            lambda t: align_rows(t[1], t[2], t[3], target))
        # Materialize ONCE before releasing the parsed cache:
        # createDataFrame over an RDD is lazy, so without this every
        # caller action would re-read and re-parse all files.
        # localCheckpoint pins the aligned rows in executor storage and
        # truncates the lineage back to the Python parse closures.
        df = spark.createDataFrame(aligned, schema).localCheckpoint(eager=True)
        return df.withColumn(COL_PRECIO, to_number(F.col(COL_PRECIO)))
    finally:
        parsed.unpersist()


ingest_project_files_distributed = ingest_project_files
