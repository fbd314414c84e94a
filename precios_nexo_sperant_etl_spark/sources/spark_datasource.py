"""Native Spark read formats via the PySpark 4 Python Data Source API
(public `pyspark.sql.datasource`): ``spark.read.format(...)`` for
``xlsx``, ``warc``, ``tfrecord``, ``zip`` and ``sqlite`` over the
repo's from-scratch readers, so workbook exports, web-crawl archives,
record files, zipped datasets and SQLite exports ingest like any
first-class format — planning on the driver, PARSING ON EXECUTORS,
one input partition per file.

Why this exists next to ``sources.ingest``: ``ingest_project_files``
is the reference's tolerant per-file fan-in (warn-and-skip,
union-by-name across arbitrarily heterogeneous layouts); these formats
are the Spark-idiomatic spelling for the common case of a CONSISTENT
layout — they compose with every DataFrame reader option, show up in
the plan as a scan, and let Catalyst prune columns on top. The xlsx
reader normalizes and aligns with the same ingest helpers
(``_parse_file_rows``, ``union_names``, ``align_rows``). Both parse on
executors, one file per task; nothing but the file list and column
names ever crosses the driver.

Scale notes: the file list comes from a driver-side glob (metadata
only). xlsx schema inference reads the header rows of the first
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
            "tfrecord formats read and write through the shared POSIX "
            "filesystem only (driver-visible AND executor-visible). "
            "Stage object-store data onto a shared mount, or use "
            "Spark's built-in Hadoop-FS formats for that tier.")
    return path


def _file_list(options: dict) -> list[str]:
    path = options.get("path")
    if not path:
        raise ValueError("path option is required")
    path = _require_shared_fs(path)
    files = sorted(_glob.glob(path)) if any(c in path for c in "*?[") \
        else ([os.path.join(path, f) for f in sorted(os.listdir(path))]
              if os.path.isdir(path) else [path])
    if not files:
        raise ValueError(f"no input files match {path!r}")
    return files


class _FilePartition(InputPartition):
    def __init__(self, path: str) -> None:
        self.path = path


def _snapshot_parts(out_dir: str) -> list[str]:
    """Overwrite semantics for the part-file writers, commit-protocol
    style: SNAPSHOT the previous part files at planning and delete
    them only at ``commit()``, after every new part is written — so a
    failed or aborted job leaves the old dataset intact (new part
    names carry fresh uuids, so old and new never collide). The
    non-atomic window is the commit itself: old parts are removed one
    by one before the new ``_SUCCESS`` lands, exactly like Spark's
    non-transactional overwrite of a directory sink."""
    if not os.path.isdir(out_dir):
        return []
    return [f for f in sorted(os.listdir(out_dir))
            if f.startswith("part-") or f == "_SUCCESS"]


def _remove_old_parts(out_dir: str, old_parts: list[str]) -> None:
    for f in old_parts:
        try:
            os.remove(os.path.join(out_dir, f))
        except OSError:
            pass


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


class ExcelReader(DataSourceReader):
    def __init__(self, options: dict, schema: StructType) -> None:
        self.files = _file_list(options)
        self.header_row = options.get("header_row")
        self.sheet = _sheet_opt(options)
        self.names = [f.name for f in schema.fields]
        # read() maps cells positionally into [Proyecto, <data...>, _ord];
        # a user-supplied .schema(...) that drops or moves the sentinels
        # would silently misalign values to columns — fail at planning.
        if not self.names or self.names[0] != "Proyecto" \
                or self.names[-1] != "_ord":
            raise ValueError(
                "xlsx format schemas must start with 'Proyecto' and end "
                f"with '_ord' (got {self.names!r}); select/rename after "
                "the scan instead of overriding the schema shape")
        self.strict = str(options.get("strict", "false")).lower() == "true"
        self._project_tests: list = []

    def pushFilters(self, filters):
        """Consume string predicates on ``Proyecto`` (= the file stem):
        file-level pruning, so a per-project query over a 1 000-file
        export opens exactly the matching workbooks."""
        for f in filters:
            sp = _string_predicate(f)
            if sp and sp[0] == "Proyecto":
                self._project_tests.append(sp[1])
            else:
                yield f

    def partitions(self) -> list[InputPartition]:
        files = [p for p in self.files
                 if all(t(os.path.splitext(os.path.basename(p))[0])
                        for t in self._project_tests)]
        return [_FilePartition(p) for p in files] or \
            [_FilePartition("\x00empty")]

    def read(self, partition: _FilePartition):
        from .excel import read_xlsx_rows
        from .ingest import _parse_file_rows, align_rows
        if partition.path == "\x00empty":       # all files pruned
            return
        hdr = int(self.header_row) if self.header_row is not None else None
        names, rows = _parse_file_rows(
            read_xlsx_rows(partition.path, self.sheet), hdr)
        project = os.path.splitext(os.path.basename(partition.path))[0]
        target = self.names[1:-1]                 # strip Proyecto/_ord
        if self.strict:
            extra = [n for n in names
                     if n not in ("Proyecto",) and n not in target]
            if extra:
                raise ValueError(
                    f"xlsx strict mode: {partition.path} has columns "
                    f"{extra} absent from the inferred schema — raise "
                    "the 'samples' option (or drop strict) so no "
                    "column is silently lost")
        yield from align_rows(project, names, rows, target)


class _XlsxCommit(WriterCommitMessage):
    def __init__(self, path: str, rows: int) -> None:
        self.path = path
        self.rows = rows


class ExcelWriter(DataSourceWriter):
    """``df.write.format("xlsx").save(dir)``: one workbook PER
    PARTITION, written executor-side with the stdlib xlsx codec —
    the fleet-scale gear for the S6/S8 per-group sinks (the
    driver-side audit-workbook sinks in ``sources.sinks`` stay for
    the small multi-sheet artifacts). Files land as
    ``part-<partition>-<uuid>.xlsx`` with one header row (the
    DataFrame's column names) and every cell serialized with the
    writer's native-number/inline-string rules; ``commit`` writes a
    ``_SUCCESS`` manifest listing the committed parts, ``abort``
    removes this attempt's files — partition-local work, no driver
    collect anywhere."""

    def __init__(self, options: dict, schema: StructType,
                 overwrite: bool) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("path option is required")
        self.dir = _require_shared_fs(path)
        self.columns = [f.name for f in schema.fields]
        self.sheet = str(options.get("sheet", "Sheet1"))
        self._old_parts = _snapshot_parts(self.dir) if overwrite else []

    def write(self, iterator) -> _XlsxCommit:
        import uuid

        from pyspark import TaskContext

        from .excel import write_xlsx
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        rows = [list(self.columns)]
        for row in iterator:
            rows.append([row[i] for i in range(len(self.columns))])
        os.makedirs(self.dir, exist_ok=True)
        name = f"part-{pid:05d}-{uuid.uuid4().hex}.xlsx"
        write_xlsx(os.path.join(self.dir, name), {self.sheet: rows})
        return _XlsxCommit(name, len(rows) - 1)

    def commit(self, messages) -> None:
        _remove_old_parts(self.dir, self._old_parts)
        _write_manifest(self.dir, messages)

    def abort(self, messages) -> None:
        _abort_parts(self.dir, messages)


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


class WarcReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.files = _file_list(options)
        self._file_tests: list = []
        self._type_tests: list = []

    def pushFilters(self, filters):
        """Consume string predicates on ``warc_file`` (FILE PRUNING —
        unmatched members are never opened, the Python-datasource
        analog of partition pruning) and on ``warc_type`` (record
        pruning before the row leaves the reader). Everything else is
        returned for Spark to evaluate post-scan."""
        for f in filters:
            sp = _string_predicate(f)
            if sp and sp[0] == "warc_file":
                self._file_tests.append(sp[1])
            elif sp and sp[0] == "warc_type":
                self._type_tests.append(sp[1])
            else:
                yield f

    def partitions(self) -> list[InputPartition]:
        files = [p for p in self.files
                 if all(t(os.path.basename(p)) for t in self._file_tests)]
        return [_FilePartition(p) for p in files] or \
            [_FilePartition("\x00empty")]

    def read(self, partition: _FilePartition):
        from ..operators.webdataset import parse_warc_records
        from ..operators.zstdframe import UnsupportedZstd, decode_zstd_stream
        if partition.path == "\x00empty":       # all files pruned
            return
        with open(partition.path, "rb") as f:
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
        name = os.path.basename(partition.path)
        for i, rec in enumerate(parse_warc_records(blob)):
            if all(t(rec["type"]) for t in self._type_tests):
                yield (name, i, rec["type"], rec["record_id"],
                       rec["content_length"], bytes(rec["payload"]))


class _PartCommit(WriterCommitMessage):
    def __init__(self, path: str, rows: int) -> None:
        self.path = path
        self.rows = rows


def _write_manifest(out_dir: str, messages) -> None:
    manifest = sorted(f"{m.path}\t{m.rows}" for m in messages
                      if m is not None)
    with open(os.path.join(out_dir, "_SUCCESS"), "w") as f:
        f.write("\n".join(manifest) + "\n")


def _abort_parts(out_dir: str, messages) -> None:
    for m in messages:
        if m is None:
            continue
        try:
            os.remove(os.path.join(out_dir, m.path))
        except OSError:
            pass


class WarcWriter(DataSourceWriter):
    """``df.write.format("warc").save(dir)``: one WARC member per
    partition, executor-side, re-sharding crawl records at fleet
    scale. Input columns (by name): ``warc_type``, ``record_id``,
    ``payload``. Options: ``compression`` = ``none`` (default),
    ``gzip``, ``zstd``, ``bz2``, or ``lz4`` (members land as .warc /
    .warc.gz / .warc.zst / .warc.bz2 / .warc.lz4 — the reader sniffs
    all five)."""

    def __init__(self, options: dict, schema: StructType,
                 overwrite: bool) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("path option is required")
        self.dir = _require_shared_fs(path)
        comp = str(options.get("compression", "none")).lower()
        if comp not in ("none", "gzip", "zstd", "bz2", "lz4"):
            raise ValueError("compression must be none/gzip/zstd/bz2/lz4")
        self.comp = comp
        self._old_parts = _snapshot_parts(self.dir) if overwrite else []
        names = [f.name for f in schema.fields]
        for c in ("warc_type", "record_id", "payload"):
            if c not in names:
                raise ValueError(f"warc writer needs column {c!r}")
        self.idx = {c: names.index(c)
                    for c in ("warc_type", "record_id", "payload")}

    def write(self, iterator) -> _PartCommit:
        import bz2
        import gzip
        import uuid

        from pyspark import TaskContext

        from ..operators.webdataset import build_warc
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        recs = []
        for row in iterator:
            recs.append((str(row[self.idx["warc_type"]]),
                         str(row[self.idx["record_id"]]),
                         bytes(row[self.idx["payload"]])))
        blob = build_warc(recs)
        ext = {"none": ".warc", "gzip": ".warc.gz", "zstd": ".warc.zst",
               "bz2": ".warc.bz2", "lz4": ".warc.lz4"}[self.comp]
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
        os.makedirs(self.dir, exist_ok=True)
        name = f"part-{pid:05d}-{uuid.uuid4().hex}{ext}"
        with open(os.path.join(self.dir, name), "wb") as f:
            f.write(blob)
        return _PartCommit(name, len(recs))

    def commit(self, messages) -> None:
        _remove_old_parts(self.dir, self._old_parts)
        _write_manifest(self.dir, messages)

    def abort(self, messages) -> None:
        _abort_parts(self.dir, messages)


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


class TFRecordReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.files = _file_list(options)

    def partitions(self) -> list[InputPartition]:
        return [_FilePartition(p) for p in self.files]

    def read(self, partition: _FilePartition):
        from ..operators.tfrecord import read_records
        with open(partition.path, "rb") as f:
            payload = f.read()
        name = os.path.basename(partition.path)
        for i, rec in enumerate(read_records(payload)):
            yield (name, i, bytes(rec))


class TFRecordWriter(DataSourceWriter):
    """One .tfrecord file per partition; rows need a ``record`` binary
    column (extra columns are ignored — ordering/placement is the
    caller's repartition/sortWithinPartitions concern)."""

    def __init__(self, options: dict, schema: StructType,
                 overwrite: bool = False) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("path option is required")
        self.dir = _require_shared_fs(path)
        names = [f.name for f in schema.fields]
        if "record" not in names:
            raise ValueError("tfrecord writer needs a 'record' column")
        self.rec_idx = names.index("record")
        self._old_parts = _snapshot_parts(self.dir) if overwrite else []

    def write(self, iterator) -> _PartCommit:
        import uuid

        from pyspark import TaskContext

        from ..operators.tfrecord import frame_records
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        recs = [bytes(row[self.rec_idx]) for row in iterator]
        os.makedirs(self.dir, exist_ok=True)
        name = f"part-{pid:05d}-{uuid.uuid4().hex}.tfrecord"
        with open(os.path.join(self.dir, name), "wb") as f:
            f.write(frame_records(recs))
        return _PartCommit(name, len(recs))

    def commit(self, messages) -> None:
        _remove_old_parts(self.dir, self._old_parts)
        _write_manifest(self.dir, messages)

    def abort(self, messages) -> None:
        _abort_parts(self.dir, messages)


class FileStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch over a growing directory of members (the
    crawl/training-data landing shape), generic over a per-file batch
    reader class (warc, tfrecord). The offset is the LEXICOGRAPHICALLY
    LARGEST member name processed so far — small and replayable —
    which assumes members arrive with monotonically increasing names
    (Common Crawl's segment naming does; name landing files
    accordingly). ``readBetweenOffsets`` replays any (start, end]
    window deterministically for recovery."""

    def __init__(self, options: dict, reader_cls=None) -> None:
        self.options = dict(options)
        self.reader_cls = reader_cls or WarcReader
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
        r = self.reader_cls({"path": path})
        yield from r.read(_FilePartition(path))

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
    """``spark.read/write.format("zip")`` over the from-scratch ZIP
    container (``operators.ziparchive``): read yields one row per
    archive member with the payload decoded through OUR central-
    directory walker + stdlib raw inflate and its CRC-32 verdict; write
    lands ONE archive per partition (columns ``name``, ``data``) with
    a ``_SUCCESS`` manifest, same commit/abort protocol as the other
    part-file writers. Read schema:
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


class ZipReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.files = _file_list(options)
        self._file_tests: list = []
        self._name_tests: list = []

    def pushFilters(self, filters):
        """String predicates on ``zip_file`` prune unopened archives
        (file-level pruning); predicates on ``name`` prune members
        before the row leaves the reader."""
        for f in filters:
            sp = _string_predicate(f)
            if sp and sp[0] == "zip_file":
                self._file_tests.append(sp[1])
            elif sp and sp[0] == "name":
                self._name_tests.append(sp[1])
            else:
                yield f

    def partitions(self) -> list[InputPartition]:
        files = [p for p in self.files
                 if all(t(os.path.basename(p)) for t in self._file_tests)]
        return [_FilePartition(p) for p in files] or \
            [_FilePartition("\x00empty")]

    def read(self, partition: _FilePartition):
        from ..operators.ziparchive import zip_extract
        if partition.path == "\x00empty":
            return
        with open(partition.path, "rb") as f:
            blob = f.read()
        base = os.path.basename(partition.path)
        for i, m in enumerate(zip_extract(blob)):
            if all(t(m["name"]) for t in self._name_tests):
                yield (base, i, m["name"], len(m["data"]),
                       int(m["method"]),
                       "ok" if m["crc_ok"] else "crc_mismatch",
                       bytes(m["data"]))


class ZipWriter(DataSourceWriter):
    def __init__(self, options: dict, schema: StructType,
                 overwrite: bool) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("path option is required")
        self.dir = _require_shared_fs(path)
        self._old_parts = _snapshot_parts(self.dir) if overwrite else []
        names = [f.name for f in schema.fields]
        for c in ("name", "data"):
            if c not in names:
                raise ValueError(f"zip writer needs column {c!r}")
        self.idx = {c: names.index(c) for c in ("name", "data")}

    def write(self, iterator) -> _PartCommit:
        import uuid

        from pyspark import TaskContext

        from ..operators.ziparchive import zip_create
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        entries = []
        for row in iterator:
            entries.append((str(row[self.idx["name"]]),
                            bytes(row[self.idx["data"]])))
        blob = zip_create(entries)
        os.makedirs(self.dir, exist_ok=True)
        name = f"part-{pid:05d}-{uuid.uuid4().hex}.zip"
        with open(os.path.join(self.dir, name), "wb") as f:
            f.write(blob)
        return _PartCommit(name, len(entries))

    def commit(self, messages) -> None:
        _remove_old_parts(self.dir, self._old_parts)
        _write_manifest(self.dir, messages)

    def abort(self, messages) -> None:
        _abort_parts(self.dir, messages)


_SQLITE_AFFINITY_RULES = (
    # (substring, spark type, python coercion) — the documented SQLite
    # type-affinity rules, applied in order
    ("INT", LongType(), "int"),
    ("CHAR", StringType(), "str"),
    ("CLOB", StringType(), "str"),
    ("TEXT", StringType(), "str"),
    ("BLOB", BinaryType(), "bytes"),
    ("REAL", "real", "float"),
    ("FLOA", "real", "float"),
    ("DOUB", "real", "float"),
)


class SqliteDataSource(DataSource):
    """``spark.read.format("sqlite").option("table", t)``: one row per
    table row, decoded by the from-scratch b-tree reader
    (``operators.sqlitefile``), one partition per database file. The
    schema comes from the declared column types of the FIRST file's
    CREATE TABLE via the documented SQLite affinity rules (INT→long,
    CHAR/CLOB/TEXT→string, BLOB/untyped→binary, REAL/FLOA/DOUB→double,
    else→string rendering); values that cannot coerce raise loudly.
    ``spark.read`` schema is ``(db_file, rowid, <table columns...>)``.
    Write side: ``df.write.format("sqlite")`` lands one database per
    partition through the real SQLite library (stdlib), giving the
    read path a genuinely independent producer."""

    @classmethod
    def name(cls) -> str:
        return "sqlite"

    def _table(self) -> str:
        t = self.options.get("table")
        if not t:
            raise ValueError("sqlite format needs .option('table', ...)")
        return t

    def schema(self) -> StructType:
        from ..operators.sqlitefile import _Db, _master_rows, _parse_columns
        sample = _file_list(self.options)[0]
        with open(sample, "rb") as f:
            blob = f.read()
        decl = None
        for vals in _master_rows(_Db(blob)):
            if vals[0] == "table" and vals[1] == self._table():
                decl = vals[4]
        if decl is None:
            raise ValueError(f"table {self._table()!r} absent from "
                             f"sample file {sample!r}")
        names, _ = _parse_columns(decl)
        fields = [StructField("db_file", StringType()),
                  StructField("rowid", LongType())]
        inner = decl[decl.index("(") + 1:decl.rindex(")")]
        for name in names:
            # find this column's declared type in the DDL
            m = re.search(r'(?:"%s"|\[%s\]|`%s`|\b%s\b)\s+([A-Za-z0-9 ]*)'
                          % tuple([re.escape(name)] * 4), inner)
            decl_type = (m.group(1) if m else "").upper()
            typ = StringType()
            matched = False
            for sub, t, _coerce in _SQLITE_AFFINITY_RULES:
                if sub in decl_type:
                    typ = DoubleType() if t == "real" else t
                    matched = True
                    break
            if not matched:
                typ = BinaryType() if not decl_type.strip() else typ
            fields.append(StructField(name, typ))
        return StructType(fields)

    def reader(self, schema: StructType) -> "SqliteReader":
        return SqliteReader(self.options, self._table(), schema)

    def writer(self, schema: StructType,
               overwrite: bool) -> "SqliteWriter":
        return SqliteWriter(self.options, self._table(), schema,
                            overwrite)


class SqliteReader(DataSourceReader):
    def __init__(self, options: dict, table: str,
                 schema: StructType) -> None:
        self.files = _file_list(options)
        self.table = table
        self.schema = schema
        self._file_tests: list = []

    def pushFilters(self, filters):
        for f in filters:
            sp = _string_predicate(f)
            if sp and sp[0] == "db_file":
                self._file_tests.append(sp[1])
            else:
                yield f

    def partitions(self) -> list[InputPartition]:
        files = [p for p in self.files
                 if all(t(os.path.basename(p)) for t in self._file_tests)]
        return [_FilePartition(p) for p in files] or \
            [_FilePartition("\x00empty")]

    def read(self, partition: _FilePartition):
        from ..operators.sqlitefile import _Db, _master_rows, sqlite_read_table
        if partition.path == "\x00empty":
            return
        with open(partition.path, "rb") as f:
            blob = f.read()
        got = sqlite_read_table(blob, self.table)
        want = [f.name for f in self.schema.fields[2:]]
        if got["columns"] != want:
            raise ValueError(
                f"{os.path.basename(partition.path)!r}: table "
                f"{self.table!r} has columns {got['columns']}, the "
                f"planned schema (from the first file) says {want}")
        base = os.path.basename(partition.path)
        types = [f.dataType for f in self.schema.fields[2:]]
        for rid, vals in enumerate(got["rows"]):
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


class SqliteWriter(DataSourceWriter):
    def __init__(self, options: dict, table: str, schema: StructType,
                 overwrite: bool) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("path option is required")
        self.dir = _require_shared_fs(path)
        self.table = table
        self.schema = schema
        self._old_parts = _snapshot_parts(self.dir) if overwrite else []

    def write(self, iterator) -> _PartCommit:
        import sqlite3
        import uuid

        from pyspark import TaskContext
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
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
        os.makedirs(self.dir, exist_ok=True)
        name = f"part-{pid:05d}-{uuid.uuid4().hex}.sqlite"
        with open(os.path.join(self.dir, name), "wb") as f:
            f.write(con.serialize())
        return _PartCommit(name, n)

    def commit(self, messages) -> None:
        _remove_old_parts(self.dir, self._old_parts)
        _write_manifest(self.dir, messages)

    def abort(self, messages) -> None:
        _abort_parts(self.dir, messages)


def register_data_sources(spark) -> None:
    """Idempotently register both formats on a session, enabling the
    Python-datasource filter-pushdown conf they implement (runtime-
    settable; off by default in Spark 4.1)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ExcelDataSource)
    spark.dataSource.register(WarcDataSource)
    spark.dataSource.register(TFRecordDataSource)
    spark.dataSource.register(ZipDataSource)
    spark.dataSource.register(SqliteDataSource)
