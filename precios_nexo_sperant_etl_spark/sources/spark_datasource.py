"""Native Spark read formats via the PySpark 4 Python Data Source API
(public `pyspark.sql.datasource`): ``spark.read.format(...)`` for
``xlsx``, ``warc``, ``tfrecord``, ``zip`` and ``sqlite`` over the
repo's container readers (the workbook, WARC and TFRecord codecs, the
``zipfile``-directory ZIP reader, the stdlib ``sqlite3``), so workbook
exports, web-crawl archives, record files, zipped datasets and SQLite
exports ingest like any first-class format — planning on the driver,
PARSING ON EXECUTORS, one input partition per file. Every format is
one ``_FileScan`` (file list, pruning, pushed filters) plus its own
``rows(path)``, and one ``_PartWriter`` (the part-file commit
protocol) plus its own ``write_part``.

Why this exists next to ``sources.ingest``: ``ingest_project_files``
is the reference's tolerant per-file fan-in (warn-and-skip,
union-by-name across arbitrarily heterogeneous layouts); these formats
are the Spark-idiomatic spelling for the common case of a CONSISTENT
layout — they compose with every DataFrame reader option, show up in
the plan as a scan, and let Catalyst prune columns on top. The xlsx
reader normalizes and aligns with the same ingest helpers
(``_parse_file_rows``, ``union_names``, ``align_rows``). All parse on
executors, one file per task; nothing but the file list and column
names ever crosses the driver.

Scale notes: the file list comes from a driver-side glob (metadata
only); names starting with ``_`` or ``.`` (the ``_SUCCESS`` manifest)
are skipped in directory listings and globs, as Spark's file sources
do, so a directory these writers made reads back. xlsx schema
inference reads the header rows of the first
``samples`` files (default 1) at planning time and takes the
first-seen-ordered union of names; other files align by name
executor-side (missing name → null, extra name → dropped unless
``strict=true``, which fails the read loudly; ``ingest_project_files``
remains the gear for arbitrarily heterogeneous layouts). WARC schema
is static, so planning touches no data at all; `.zst` and `.gz`
members inflate through the verified zstd/gzip seams
partition-locally.

Filesystem boundary: these sources address files with plain
``os``/``glob`` calls on BOTH driver (planning, commit) and executors
(read/write), so ``path`` must live on a POSIX filesystem visible
from both — local disk in local mode, an NFS-class shared mount on a
cluster. Object-store URIs (``s3://``, ``gs://``, ``hdfs://``, …)
raise ``SharedFilesystemRequired`` at planning rather than failing
obscurely executor-side; see PLANS.md 'Data-source filesystem
boundary' for the design note.
"""

from __future__ import annotations

import glob as _glob
import os
import re
from contextlib import suppress

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    DataSourceWriter, EqualTo, Filter, In,
                                    InputPartition,
                                    SimpleDataSourceStreamReader,
                                    StringContains, StringEndsWith,
                                    StringStartsWith, WriterCommitMessage)
from pyspark.sql.types import (BinaryType, DoubleType, IntegerType,
                               LongType, StringType, StructField,
                               StructType)


class SharedFilesystemRequired(ValueError):
    """Raised when a path names an object store these formats can't
    reach. The part-file readers/writers here use plain ``os``/``glob``
    on both driver and executors, so the path must be a POSIX
    filesystem visible from BOTH (local disk in local mode, NFS-style
    mounts on a cluster). An ``s3://``-class URI needs a Hadoop-FS
    seam these Python sources deliberately don't carry — see PLANS.md
    'Data-source filesystem boundary'."""


def _require_shared_fs(path: str) -> str:
    m = re.match(r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", path)
    if m:
        scheme = m.group(1).lower()
        if scheme == "file":
            return path[len(m.group(0)) - 1:][1:] or "/"
        raise SharedFilesystemRequired(
            f"path {path!r} uses scheme {scheme!r}: the xlsx/warc/"
            "tfrecord/zip/sqlite formats read and write through the "
            "shared POSIX filesystem only (driver-visible AND "
            "executor-visible). "
            "Stage object-store data onto a shared mount, or use "
            "Spark's built-in Hadoop-FS formats for that tier.")
    return path


def _file_list(options: dict) -> list[str]:
    path = options.get("path")
    if not path:
        raise ValueError("path option is required")
    path = _require_shared_fs(path)
    if any(c in path for c in "*?["):
        files = sorted(_glob.glob(path))
    elif os.path.isdir(path):
        files = [os.path.join(path, f) for f in sorted(os.listdir(path))]
    else:
        return [path]                   # a named file is read as given
    files = [f for f in files
             if not os.path.basename(f).startswith(("_", "."))]
    if not files:
        raise ValueError(f"no input files match {path!r}")
    return files


class _FilePartition(InputPartition):
    def __init__(self, path: str) -> None:
        self.path = path


def _sheet_opt(options: dict):
    """xlsx ``sheet`` option: index or name (read_xlsx_rows takes both)."""
    v = options.get("sheet", 0)
    try:
        return int(v)
    except (TypeError, ValueError):
        return str(v)


def _string_predicate(f: Filter):
    """A supported single-string-column filter → (column, test) or
    None. Every test is a plain predicate over the column VALUE, so
    the same machinery prunes FILES in partitions() (warc_file /
    Proyecto — unmatched members are never opened, the Catalyst
    partition-pruning analog) and records in read()."""
    if isinstance(f, EqualTo) and isinstance(f.value, str):
        return f.attribute[0], lambda v, val=f.value: v == val
    if isinstance(f, In) and all(isinstance(x, str) for x in f.value):
        vals = set(f.value)
        return f.attribute[0], lambda v, vals=vals: v in vals
    if isinstance(f, StringStartsWith):
        return f.attribute[0], lambda v, val=f.value: v.startswith(val)
    if isinstance(f, StringEndsWith):
        return f.attribute[0], lambda v, val=f.value: v.endswith(val)
    if isinstance(f, StringContains):
        return f.attribute[0], lambda v, val=f.value: val in v
    return None


class _FileScan(DataSourceReader):
    """One input partition per file. ``pushFilters`` consumes string
    predicates on ``file_col`` — FILE PRUNING, tested against
    ``_file_key(path)`` in ``partitions()``, so unmatched files are
    never opened (the Python-datasource analog of partition pruning) —
    and on ``row_col``, tested on field ``row_idx`` of each row before
    it leaves the reader; everything else goes back to Spark to
    evaluate post-scan. A format implements ``rows(path)``."""

    file_col: str
    row_col: str | None = None
    row_idx = 0

    def __init__(self, options: dict) -> None:
        self.files = _file_list(options)
        self._file_tests: list = []
        self._row_tests: list = []

    def _file_key(self, path: str) -> str:
        return os.path.basename(path)

    def pushFilters(self, filters):
        for f in filters:
            sp = _string_predicate(f)
            if sp and sp[0] == self.file_col:
                self._file_tests.append(sp[1])
            elif sp and sp[0] == self.row_col:
                self._row_tests.append(sp[1])
            else:
                yield f

    def partitions(self) -> list[InputPartition]:
        files = [p for p in self.files
                 if all(t(self._file_key(p)) for t in self._file_tests)]
        return [_FilePartition(p) for p in files] or \
            [_FilePartition("\x00empty")]

    def read(self, partition: _FilePartition):
        if partition.path == "\x00empty":       # all files pruned
            return
        for row in self.rows(partition.path):
            if all(t(row[self.row_idx]) for t in self._row_tests):
                yield row


class _PartCommit(WriterCommitMessage):
    def __init__(self, path: str, rows: int) -> None:
        self.path = path
        self.rows = rows


class _PartWriter(DataSourceWriter):
    """The part-file commit protocol, one copy for every format: each
    task writes ONE part, ``part-<partition>-<uuid><ext>``, through the
    format's ``write_part(path, rows) -> row count``; ``commit`` writes
    a ``_SUCCESS`` manifest (``part\trows`` per line), ``abort`` removes
    this attempt's parts — partition-local work, no driver collect.

    Overwrite SNAPSHOTS the previous parts at planning and deletes them
    only at ``commit()``, after every new part is written, so a failed
    or aborted job leaves the old dataset intact (fresh uuids keep old
    and new names apart). The non-atomic window is the commit itself:
    old parts are removed one by one before the new ``_SUCCESS`` lands,
    like Spark's non-transactional overwrite of a directory sink."""

    fmt: str                            # format name, for errors
    ext: str
    needs: tuple = ()                   # columns the encoder reads

    def __init__(self, options: dict, schema: StructType,
                 overwrite: bool) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("path option is required")
        self.dir = _require_shared_fs(path)
        self.columns = [f.name for f in schema.fields]
        for c in self.needs:
            if c not in self.columns:
                raise ValueError(f"{self.fmt} writer needs column {c!r}")
        self.idx = {c: self.columns.index(c) for c in self.needs}
        self._old_parts = []
        if overwrite and os.path.isdir(self.dir):
            self._old_parts = [f for f in sorted(os.listdir(self.dir))
                               if f.startswith("part-") or f == "_SUCCESS"]

    def write(self, iterator) -> _PartCommit:
        import uuid

        from pyspark import TaskContext
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        os.makedirs(self.dir, exist_ok=True)
        name = f"part-{pid:05d}-{uuid.uuid4().hex}{self.ext}"
        return _PartCommit(
            name, self.write_part(os.path.join(self.dir, name), iterator))

    def commit(self, messages) -> None:
        for f in self._old_parts:
            with suppress(OSError):
                os.remove(os.path.join(self.dir, f))
        manifest = sorted(f"{m.path}\t{m.rows}" for m in messages
                          if m is not None)
        with open(os.path.join(self.dir, "_SUCCESS"), "w") as f:
            f.write("\n".join(manifest) + "\n")

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None:
                with suppress(OSError):
                    os.remove(os.path.join(self.dir, m.path))


class ExcelDataSource(DataSource):
    """``spark.read.format("xlsx")``: one row per sheet data row.

    Options: ``path`` (file / dir / glob), ``header_row`` (0-based
    physical index; default auto-detection via the alias scan),
    ``sheet`` (index, default 0), ``samples`` (int, default 1: how
    many files the planner opens for schema inference — the schema is
    the first-seen-ordered UNION of their header names, so
    heterogeneous exports stop silently dropping columns absent from
    file #1), ``strict`` (default false: when true, a file whose
    headers include a name NOT in the schema fails the read loudly
    instead of dropping that column). Output columns: ``Proyecto``
    (file stem, the reference's APN:233 convention), the cleaned +
    duplicate-collapsed + alias-renamed header names as strings, and
    the in-file ordinal ``_ord``."""

    @classmethod
    def name(cls) -> str:
        return "xlsx"

    def schema(self) -> StructType:
        from .excel import read_xlsx_rows
        from .ingest import _parse_file_rows, union_names
        files = _file_list(self.options)
        n_samples = max(1, int(self.options.get("samples", 1)))
        hdr = self.options.get("header_row")
        names = union_names(
            _parse_file_rows(read_xlsx_rows(sample, _sheet_opt(self.options)),
                             int(hdr) if hdr is not None else None)[0]
            for sample in files[:n_samples])
        fields = [StructField("Proyecto", StringType())]
        fields += [StructField(n, StringType()) for n in names
                   if n != "Proyecto"]
        fields.append(StructField("_ord", LongType()))
        return StructType(fields)

    def reader(self, schema: StructType) -> "ExcelReader":
        return ExcelReader(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool) -> "ExcelWriter":
        return ExcelWriter(self.options, schema, overwrite)


class ExcelReader(_FileScan):
    # Proyecto (= the file stem): a per-project query over a 1 000-file
    # export opens exactly the matching workbooks
    file_col = "Proyecto"

    def __init__(self, options: dict, schema: StructType) -> None:
        super().__init__(options)
        self.header_row = options.get("header_row")
        self.sheet = _sheet_opt(options)
        self.names = [f.name for f in schema.fields]
        # rows() maps cells positionally into [Proyecto, <data...>, _ord];
        # a user-supplied .schema(...) that drops or moves the sentinels
        # would silently misalign values to columns — fail at planning.
        if not self.names or self.names[0] != "Proyecto" \
                or self.names[-1] != "_ord":
            raise ValueError(
                "xlsx format schemas must start with 'Proyecto' and end "
                f"with '_ord' (got {self.names!r}); select/rename after "
                "the scan instead of overriding the schema shape")
        self.strict = str(options.get("strict", "false")).lower() == "true"

    def _file_key(self, path: str) -> str:
        return os.path.splitext(os.path.basename(path))[0]

    def rows(self, path: str):
        from .excel import read_xlsx_rows
        from .ingest import _parse_file_rows, align_rows
        hdr = int(self.header_row) if self.header_row is not None else None
        names, rows = _parse_file_rows(read_xlsx_rows(path, self.sheet), hdr)
        target = self.names[1:-1]                 # strip Proyecto/_ord
        if self.strict:
            extra = [n for n in names
                     if n not in ("Proyecto",) and n not in target]
            if extra:
                raise ValueError(
                    f"xlsx strict mode: {path} has columns "
                    f"{extra} absent from the inferred schema — raise "
                    "the 'samples' option (or drop strict) so no "
                    "column is silently lost")
        yield from align_rows(self._file_key(path), names, rows, target)


class ExcelWriter(_PartWriter):
    """``df.write.format("xlsx").save(dir)``: one workbook PER
    PARTITION, written executor-side with the stdlib xlsx codec —
    the fleet-scale gear for the S6/S8 per-group sinks (the
    driver-side audit-workbook sinks in ``sources.sinks`` stay for
    the small multi-sheet artifacts). Each part has one header row
    (the DataFrame's column names) and every cell serialized with the
    writer's native-number/inline-string rules."""

    fmt, ext = "xlsx", ".xlsx"

    def __init__(self, options: dict, schema: StructType,
                 overwrite: bool) -> None:
        super().__init__(options, schema, overwrite)
        self.sheet = str(options.get("sheet", "Sheet1"))

    def write_part(self, path: str, iterator) -> int:
        from .excel import write_xlsx
        rows = [list(self.columns)]
        rows += [[row[i] for i in range(len(self.columns))]
                 for row in iterator]
        write_xlsx(path, {self.sheet: rows})
        return len(rows) - 1


class WarcDataSource(DataSource):
    """``spark.read.format("warc")``: one row per WARC record.

    Options: ``path`` (file / dir / glob). Members may be plain,
    gzip-wrapped (`.warc.gz`), zstd-wrapped (`.warc.zst`, optionally
    with a skippable-frame dictionary — the Common Crawl convention)
    bzip2-wrapped (`.warc.bz2`, incl. Wikipedia-style multistream),
    xz-wrapped (`.warc.xz`) or lz4-frame-wrapped (`.warc.lz4`);
    wrapping is sniffed per file, executor-side. Static schema:
    ``(warc_file, rec_index, warc_type, record_id, content_length,
    payload)``."""

    @classmethod
    def name(cls) -> str:
        return "warc"

    def schema(self) -> StructType:
        return StructType([
            StructField("warc_file", StringType()),
            StructField("rec_index", IntegerType()),
            StructField("warc_type", StringType()),
            StructField("record_id", StringType()),
            StructField("content_length", LongType()),
            StructField("payload", BinaryType()),
        ])

    def reader(self, schema: StructType) -> "WarcReader":
        return WarcReader(self.options)

    def simpleStreamReader(self, schema: StructType) -> "FileStreamReader":
        return FileStreamReader(self.options, WarcReader)

    def writer(self, schema: StructType, overwrite: bool) -> "WarcWriter":
        return WarcWriter(self.options, schema, overwrite)


class WarcReader(_FileScan):
    file_col, row_col, row_idx = "warc_file", "warc_type", 2

    def rows(self, path: str):
        from ..operators.webdataset import parse_warc_records
        from ..operators.zstdframe import UnsupportedZstd, decode_zstd_stream
        with open(path, "rb") as f:
            blob = f.read()
        if blob[:3] == b"BZh":                  # .warc.bz2 member
            from ..operators.bzip2 import decode_bzip2
            blob = decode_bzip2(blob)["content"]
        elif blob[:6] == b"\xfd7zXZ\x00":       # .warc.xz member
            from ..operators.xzlzma import decode_xz
            blob = decode_xz(blob)["content"]
        elif blob[:4] == b"\x04\x22\x4d\x18":   # .warc.lz4 member
            from ..operators.lz4codec import lz4_frame_decompress
            blob = lz4_frame_decompress(blob)
        elif blob[:4] == b"\x28\xb5\x2f\xfd" or \
                (len(blob) >= 8 and 0x184D2A50 <=
                 int.from_bytes(blob[:4], "little") <= 0x184D2A5F):
            try:
                blob = decode_zstd_stream(blob)["content"]
            except UnsupportedZstd:
                # dictionary-referencing frames: Common Crawl ships the
                # dictionary as a LEADING skippable frame — peel it and
                # re-decode with it. Gate the peel on the first frame
                # actually BEING skippable: a member whose first frame
                # references an external dictionary would otherwise have
                # garbage compressed bytes become a raw-content
                # dictionary and silently mis-seed the window.
                if not (len(blob) >= 8 and 0x184D2A50 <=
                        int.from_bytes(blob[:4], "little") <= 0x184D2A5F):
                    raise
                size = int.from_bytes(blob[4:8], "little")
                dictionary = blob[8:8 + size]
                blob = decode_zstd_stream(
                    blob, dictionary=dictionary)["content"]
        name = os.path.basename(path)
        for i, rec in enumerate(parse_warc_records(blob)):
            yield (name, i, rec["type"], rec["record_id"],
                   rec["content_length"], bytes(rec["payload"]))


class WarcWriter(_PartWriter):
    """``df.write.format("warc").save(dir)``: one WARC member per
    partition, executor-side, re-sharding crawl records at fleet
    scale. Input columns (by name): ``warc_type``, ``record_id``,
    ``payload``. Options: ``compression`` = ``none`` (default),
    ``gzip``, ``zstd``, ``bz2``, or ``lz4`` (members land as .warc /
    .warc.gz / .warc.zst / .warc.bz2 / .warc.lz4 — the reader sniffs
    all five)."""

    fmt = "warc"
    needs = ("warc_type", "record_id", "payload")

    def __init__(self, options: dict, schema: StructType,
                 overwrite: bool) -> None:
        super().__init__(options, schema, overwrite)
        self.comp = str(options.get("compression", "none")).lower()
        self.ext = {"none": ".warc", "gzip": ".warc.gz", "zstd": ".warc.zst",
                    "bz2": ".warc.bz2", "lz4": ".warc.lz4"}.get(self.comp)
        if self.ext is None:
            raise ValueError("compression must be none/gzip/zstd/bz2/lz4")

    def write_part(self, path: str, iterator) -> int:
        import bz2
        import gzip

        from ..operators.webdataset import build_warc
        recs = [(str(row[self.idx["warc_type"]]),
                 str(row[self.idx["record_id"]]),
                 bytes(row[self.idx["payload"]])) for row in iterator]
        blob = build_warc(recs)
        if self.comp == "gzip":
            blob = gzip.compress(blob)
        elif self.comp == "bz2":
            blob = bz2.compress(blob)
        elif self.comp == "zstd":
            from ..operators.zstdframe import encode_zstd_raw
            blob = encode_zstd_raw(blob, block_size=1 << 16,
                                   checksum=True) if blob else blob
        elif self.comp == "lz4":
            from ..operators.lz4codec import lz4_frame_compress
            blob = lz4_frame_compress(blob) if blob else blob
        with open(path, "wb") as f:
            f.write(blob)
        return len(recs)


class TFRecordDataSource(DataSource):
    """``spark.read/write.format("tfrecord")`` over raw record bytes:
    the length-framed masked-CRC32C container every TF data pipeline
    speaks (the Example-proto layer stays in ``operators.tfrecord`` —
    this format moves OPAQUE records, one file per partition on write,
    one partition per file on read). Read schema:
    ``(tf_file, rec_index, record)``."""

    @classmethod
    def name(cls) -> str:
        return "tfrecord"

    def schema(self) -> StructType:
        return StructType([
            StructField("tf_file", StringType()),
            StructField("rec_index", IntegerType()),
            StructField("record", BinaryType()),
        ])

    def reader(self, schema: StructType) -> "TFRecordReader":
        return TFRecordReader(self.options)

    def writer(self, schema: StructType,
               overwrite: bool) -> "TFRecordWriter":
        return TFRecordWriter(self.options, schema, overwrite)

    def simpleStreamReader(self, schema: StructType) -> "FileStreamReader":
        return FileStreamReader(self.options, TFRecordReader)


class TFRecordReader(_FileScan):
    file_col = "tf_file"

    def rows(self, path: str):
        from ..operators.tfrecord import read_records
        with open(path, "rb") as f:
            payload = f.read()
        name = os.path.basename(path)
        for i, rec in enumerate(read_records(payload)):
            yield (name, i, bytes(rec))


class TFRecordWriter(_PartWriter):
    """One .tfrecord file per partition; rows need a ``record`` binary
    column (extra columns are ignored — ordering/placement is the
    caller's repartition/sortWithinPartitions concern)."""

    fmt, ext, needs = "tfrecord", ".tfrecord", ("record",)

    def write_part(self, path: str, iterator) -> int:
        from ..operators.tfrecord import frame_records
        recs = [bytes(row[self.idx["record"]]) for row in iterator]
        with open(path, "wb") as f:
            f.write(frame_records(recs))
        return len(recs)


class FileStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch over a growing directory of members (the
    crawl/training-data landing shape), generic over a per-file batch
    reader class (warc, tfrecord, zip). The offset is the
    LEXICOGRAPHICALLY LARGEST member name processed so far — small and
    replayable — which assumes members arrive with monotonically
    increasing names (Common Crawl's segment naming does; name landing
    files accordingly). ``readBetweenOffsets`` replays any (start, end]
    window deterministically for recovery."""

    def __init__(self, options: dict, reader_cls) -> None:
        self.options = dict(options)
        self.reader_cls = reader_cls
        path = options.get("path")
        if not path:
            raise ValueError("path option is required")

    def _files(self) -> list[str]:
        try:
            return _file_list(self.options)
        except ValueError:                      # nothing landed yet
            return []

    def initialOffset(self) -> dict:
        return {"last": ""}

    def _rows(self, path: str):
        yield from self.reader_cls({"path": path}).rows(path)

    def read(self, start: dict):
        names = {os.path.basename(p): p for p in self._files()}
        new = sorted(n for n in names if n > start["last"])
        end = {"last": new[-1]} if new else dict(start)
        # a LIST, not a generator: the simple stream reader prefetches
        # the batch on the driver and pickles it to executors
        rows = [row for n in new for row in self._rows(names[n])]
        return rows, end

    def readBetweenOffsets(self, start: dict, end: dict):
        names = {os.path.basename(p): p for p in self._files()}
        for n in sorted(names):
            if start["last"] < n <= end["last"]:
                yield from self._rows(names[n])


class ZipDataSource(DataSource):
    """``spark.read/write.format("zip")`` over ``operators.ziparchive``:
    read yields one row per archive member, found through the stdlib
    ``zipfile`` central-directory read, inflated by stdlib raw
    ``zlib`` from our local-header read, with its CRC-32 verdict
    (``crc_mismatch`` is a row, not an error); write lands ONE archive
    per partition (columns ``name``, ``data``) built by our
    ``zip_create``, through the shared part-file commit protocol.
    Read schema:
    ``(zip_file, member_index, name, size, method, crc_ok, data)``."""

    @classmethod
    def name(cls) -> str:
        return "zip"

    def schema(self) -> StructType:
        return StructType([
            StructField("zip_file", StringType()),
            StructField("member_index", IntegerType()),
            StructField("name", StringType()),
            StructField("size", LongType()),
            StructField("method", IntegerType()),
            StructField("crc_ok", StringType()),
            StructField("data", BinaryType()),
        ])

    def reader(self, schema: StructType) -> "ZipReader":
        return ZipReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> "ZipWriter":
        return ZipWriter(self.options, schema, overwrite)

    def simpleStreamReader(self, schema: StructType) -> "FileStreamReader":
        return FileStreamReader(self.options, ZipReader)


class ZipReader(_FileScan):
    file_col, row_col, row_idx = "zip_file", "name", 2

    def rows(self, path: str):
        from ..operators.ziparchive import zip_extract
        with open(path, "rb") as f:
            blob = f.read()
        base = os.path.basename(path)
        for i, m in enumerate(zip_extract(blob)):
            yield (base, i, m["name"], len(m["data"]), int(m["method"]),
                   "ok" if m["crc_ok"] else "crc_mismatch",
                   bytes(m["data"]))


class ZipWriter(_PartWriter):
    fmt, ext, needs = "zip", ".zip", ("name", "data")

    def write_part(self, path: str, iterator) -> int:
        from ..operators.ziparchive import zip_create
        entries = [(str(row[self.idx["name"]]), bytes(row[self.idx["data"]]))
                   for row in iterator]
        with open(path, "wb") as f:
            f.write(zip_create(entries))
        return len(entries)


_SQLITE_AFFINITY_RULES = (
    # (substring of the declared type, spark type) — the documented
    # SQLite type-affinity rules, applied in order
    ("INT", LongType()),
    ("CHAR", StringType()),
    ("CLOB", StringType()),
    ("TEXT", StringType()),
    ("BLOB", BinaryType()),
    ("REAL", DoubleType()),
    ("FLOA", DoubleType()),
    ("DOUB", DoubleType()),
)


def _sqlite_affinity(decl_type: str):
    decl_type = decl_type.upper()
    for sub, typ in _SQLITE_AFFINITY_RULES:
        if sub in decl_type:
            return typ
    # untyped columns have BLOB affinity; NUMERIC ones render as text
    return BinaryType() if not decl_type.strip() else StringType()


def _refuse_sqlite_reserved(columns, where: str) -> None:
    """``db_file`` and ``rowid`` are the columns the read side adds; a
    table column of either name (in any case) would plan a schema with
    duplicate names, so refuse it here with a clear error."""
    for c in columns:
        if c.lower() in ("db_file", "rowid"):
            raise ValueError(
                f"{where} has a column named {c!r}; the sqlite format "
                f"reserves 'db_file' and 'rowid' for the columns its "
                f"reads add — drop or rename it")


class SqliteDataSource(DataSource):
    """``spark.read.format("sqlite").option("table", t)``: one row per
    table row, read through the stdlib ``sqlite3``
    (``operators.sqlitefile.sqlite_read_table``), one partition per
    database file. The schema comes from the FIRST file's declared
    column types (``PRAGMA table_info``) via the documented SQLite
    affinity rules (INT→long, CHAR/CLOB/TEXT→string, BLOB/untyped→
    binary, REAL/FLOA/DOUB→double, else→string rendering); values that
    cannot coerce raise ``ValueError``, and a bad file raises
    ``SqliteError`` at planning and at read. ``spark.read`` schema is
    ``(db_file, rowid, <table columns...>)``, where ``rowid`` is
    SQLite's own rowid; a table column named ``db_file`` or ``rowid``
    (any case) is refused with ``ValueError`` on both sides.
    Write side: ``df.write.format("sqlite")`` lands one database per
    partition through the same library."""

    @classmethod
    def name(cls) -> str:
        return "sqlite"

    def _table(self) -> str:
        t = self.options.get("table")
        if not t:
            raise ValueError("sqlite format needs .option('table', ...)")
        return t

    def schema(self) -> StructType:
        from ..operators.sqlitefile import sqlite_read_table
        with open(_file_list(self.options)[0], "rb") as f:
            got = sqlite_read_table(f.read(), self._table(), rows=False)
        _refuse_sqlite_reserved(got["columns"], f"table {self._table()!r}")
        return StructType(
            [StructField("db_file", StringType()),
             StructField("rowid", LongType())]
            + [StructField(name, _sqlite_affinity(decl))
               for name, decl in zip(got["columns"], got["types"])])

    def reader(self, schema: StructType) -> "SqliteReader":
        return SqliteReader(self.options, self._table(), schema)

    def writer(self, schema: StructType,
               overwrite: bool) -> "SqliteWriter":
        return SqliteWriter(self.options, self._table(), schema,
                            overwrite)


class SqliteReader(_FileScan):
    file_col = "db_file"

    def __init__(self, options: dict, table: str,
                 schema: StructType) -> None:
        super().__init__(options)
        self.table = table
        self.schema = schema

    def rows(self, path: str):
        from ..operators.sqlitefile import sqlite_read_table
        with open(path, "rb") as f:
            blob = f.read()
        got = sqlite_read_table(blob, self.table)
        want = [f.name for f in self.schema.fields[2:]]
        base = os.path.basename(path)
        if got["columns"] != want:
            raise ValueError(
                f"{base!r}: table {self.table!r} has columns "
                f"{got['columns']}, the planned schema (from the first "
                f"file) says {want}")
        types = [f.dataType for f in self.schema.fields[2:]]
        for rid, vals in zip(got["rowids"], got["rows"]):
            out = [base, rid]
            for v, t in zip(vals, types):
                if v is None:
                    out.append(None)
                elif isinstance(t, LongType):
                    if not isinstance(v, int):
                        raise ValueError(
                            f"non-integer value {v!r} in INTEGER-"
                            f"affinity column of {self.table!r}")
                    out.append(v)
                elif isinstance(t, DoubleType):
                    out.append(float(v))
                elif isinstance(t, StringType):
                    out.append(v if isinstance(v, str) else str(v))
                else:
                    out.append(bytes(v) if isinstance(v, (bytes,
                               bytearray)) else v)
            yield tuple(out)


class SqliteWriter(_PartWriter):
    fmt, ext = "sqlite", ".sqlite"

    def __init__(self, options: dict, table: str, schema: StructType,
                 overwrite: bool) -> None:
        super().__init__(options, schema, overwrite)
        _refuse_sqlite_reserved(self.columns, "the written frame")
        self.table = table
        self.schema = schema

    def write_part(self, path: str, iterator) -> int:
        import sqlite3
        ddl_types = []
        for f in self.schema.fields:
            t = f.dataType
            if isinstance(t, LongType) or isinstance(t, IntegerType):
                ddl_types.append("INTEGER")
            elif isinstance(t, DoubleType):
                ddl_types.append("REAL")
            elif isinstance(t, BinaryType):
                ddl_types.append("BLOB")
            else:
                ddl_types.append("TEXT")
        cols = ", ".join(f'"{f.name}" {t}'
                         for f, t in zip(self.schema.fields, ddl_types))
        con = sqlite3.connect(":memory:")
        con.execute(f'CREATE TABLE "{self.table}" ({cols})')
        ph = ",".join("?" * len(self.schema.fields))
        n = 0
        for row in iterator:
            con.execute(f'INSERT INTO "{self.table}" VALUES ({ph})',
                        tuple(bytes(v) if isinstance(v, bytearray)
                              else v for v in row))
            n += 1
        con.commit()
        with open(path, "wb") as f:
            f.write(con.serialize())
        return n


def register_data_sources(spark) -> None:
    """Idempotently register the five formats on a session, enabling
    the Python-datasource filter-pushdown conf their readers implement
    (runtime-settable; off by default in Spark 4.1)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ExcelDataSource)
    spark.dataSource.register(WarcDataSource)
    spark.dataSource.register(TFRecordDataSource)
    spark.dataSource.register(ZipDataSource)
    spark.dataSource.register(SqliteDataSource)
