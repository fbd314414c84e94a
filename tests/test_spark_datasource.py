"""Python Data Source formats (round 10): spark.read.format("xlsx")
and spark.read.format("warc") — planning driver-side, parsing
executor-side, one input partition per file."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from precios_nexo_sperant_etl_spark.operators.webdataset import build_warc
from precios_nexo_sperant_etl_spark.operators.zstdframe import (
    encode_zstd_compressed, encode_zstd_dictionary, encode_zstd_raw,
    encode_zstd_skippable)
from precios_nexo_sperant_etl_spark.sources.excel import (read_xlsx_rows,
                                                           write_xlsx)
from precios_nexo_sperant_etl_spark.sources.spark_datasource import (
    register_data_sources)

SHEET = [
    ["REPORTE", "", "", ""],
    ["codigo", "precio lista", "estado", "Área Total"],
    ["u1", "1.000,50", "Disponible (Visible)", "55"],
    ["u2", "2.500,00", "No Disponible (Vendido)", "60"],
]


def test_xlsx_format_reads_files_as_partitions(spark, tmp_path):
    register_data_sources(spark)
    for i in range(4):
        write_xlsx(str(tmp_path / f"P{i}.xlsx"), {"S": SHEET})
    df = spark.read.format("xlsx").load(str(tmp_path / "*.xlsx"))
    assert df.rdd.getNumPartitions() == 4
    # alias renames applied by the shared per-file normalizer
    assert "Número de inmueble" in df.columns
    assert "Precio de lista" in df.columns
    rows = df.collect()
    assert len(rows) == 8
    assert {r["Proyecto"] for r in rows} == {f"P{i}" for i in range(4)}
    # column pruning composes: a narrow projection still answers
    n = (df.select("Proyecto", "Precio de lista")
           .where(F.col("Precio de lista") == "1.000,50").count())
    assert n == 4
    # _ord is the in-file ordinal
    assert sorted(r["_ord"] for r in rows) == [0, 0, 0, 0, 1, 1, 1, 1]


def test_xlsx_format_header_row_option(spark, tmp_path):
    register_data_sources(spark)
    write_xlsx(str(tmp_path / "x.xlsx"), {"S": SHEET})
    df = (spark.read.format("xlsx").option("header_row", 1)
          .load(str(tmp_path / "x.xlsx")))
    assert df.count() == 2


def test_warc_format_plain_gzip_and_zstd(spark, tmp_path):
    import gzip

    register_data_sources(spark)
    recs = [("response", f"<urn:uuid:{i}>", f"payload-{i}".encode() * 3)
            for i in range(5)]
    warc = build_warc(recs)
    (tmp_path / "a.warc").write_bytes(warc)
    (tmp_path / "b.warc.gz").write_bytes(gzip.compress(warc))
    (tmp_path / "c.warc.zst").write_bytes(
        encode_zstd_raw(warc, block_size=512))
    df = spark.read.format("warc").load(str(tmp_path / "*.warc*"))
    assert df.rdd.getNumPartitions() == 3
    rows = df.collect()
    assert len(rows) == 15
    got = {(r["warc_file"], r["rec_index"]): bytes(r["payload"])
           for r in rows}
    for i, (_, _, payload) in enumerate(recs):
        for fname in ("a.warc", "b.warc.gz", "c.warc.zst"):
            assert got[(fname, i)] == payload
    assert rows[0]["warc_type"] == "response"


def test_warc_format_zstd_dictionary_member(spark, tmp_path):
    """The Common Crawl dictionary convention: a leading skippable
    frame carries the dictionary; data frames reference it by ID."""
    register_data_sources(spark)
    recs = [("response", "<urn:uuid:d>", b"dict-member-payload " * 4)]
    warc = build_warc(recs)
    blob = encode_zstd_dictionary(b"seed " * 16, dict_id=5)
    member = (encode_zstd_skippable(blob)
              + encode_zstd_compressed([(warc, [])], dictionary=blob))
    (tmp_path / "d.warc.zst").write_bytes(member)
    df = spark.read.format("warc").load(str(tmp_path / "d.warc.zst"))
    rows = df.collect()
    assert len(rows) == 1
    assert bytes(rows[0]["payload"]) == recs[0][2]


def test_xlsx_filter_pushdown_prunes_files(spark, tmp_path):
    """EqualTo/In/prefix predicates on Proyecto prune at the FILE
    level: only matching workbooks become partitions."""
    register_data_sources(spark)
    for i in range(6):
        write_xlsx(str(tmp_path / f"Q{i}.xlsx"), {"S": SHEET})
    df = (spark.read.format("xlsx").load(str(tmp_path / "*.xlsx"))
          .where(F.col("Proyecto") == "Q3"))
    assert df.rdd.getNumPartitions() == 1        # 5 files never opened
    assert df.count() == 2
    df2 = (spark.read.format("xlsx").load(str(tmp_path / "*.xlsx"))
           .where(F.col("Proyecto").isin("Q1", "Q4")))
    assert df2.rdd.getNumPartitions() == 2
    assert df2.count() == 4
    # no match -> empty result, no crash
    df3 = (spark.read.format("xlsx").load(str(tmp_path / "*.xlsx"))
           .where(F.col("Proyecto") == "nope"))
    assert df3.count() == 0


def test_warc_filter_pushdown(spark, tmp_path):
    register_data_sources(spark)
    recs = [("response", "<urn:r>", b"rr" * 10),
            ("request", "<urn:q>", b"qq" * 10),
            ("metadata", "<urn:m>", b"mm" * 10)]
    for i in range(3):
        (tmp_path / f"f{i}.warc").write_bytes(build_warc(recs))
    base = spark.read.format("warc").load(str(tmp_path / "*.warc"))
    # record-level pushdown on warc_type
    assert base.where(F.col("warc_type") == "response").count() == 3
    # file-level pruning on warc_file
    one = base.where(F.col("warc_file") == "f1.warc")
    assert one.rdd.getNumPartitions() == 1
    assert one.count() == 3
    # combined: both dimensions pushed
    both = base.where((F.col("warc_file") == "f2.warc")
                      & (F.col("warc_type") != "metadata"))
    assert both.count() == 2
    # residual (non-pushable) predicates still evaluate post-scan
    res = base.where(F.length("payload") > 15)
    assert res.count() == 9


def test_warc_streaming_source(spark, tmp_path):
    """readStream.format('warc'): members landing between micro-batches
    are picked up exactly once (lexicographic-name offsets)."""
    import time

    register_data_sources(spark)
    land = tmp_path / "land"
    land.mkdir()
    out = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    recs1 = [("response", "<urn:1>", b"first " * 4)]
    recs2 = [("response", "<urn:2>", b"second " * 4),
             ("request", "<urn:3>", b"third " * 4)]
    (land / "seg-00001.warc").write_bytes(build_warc(recs1))
    q = (spark.readStream.format("warc")
         .load(str(land / "*.warc"))
         .writeStream.format("parquet")
         .option("path", str(out))
         .option("checkpointLocation", str(ckpt))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(120)
    (land / "seg-00002.warc").write_bytes(build_warc(recs2))
    q2 = (spark.readStream.format("warc")
          .load(str(land / "*.warc"))
          .writeStream.format("parquet")
          .option("path", str(out))
          .option("checkpointLocation", str(ckpt))
          .trigger(availableNow=True)
          .start())
    q2.awaitTermination(120)
    time.sleep(0.2)
    got = spark.read.parquet(str(out))
    rows = {r["record_id"]: (r["warc_file"], bytes(r["payload"]))
            for r in got.collect()}
    assert set(rows) == {"<urn:1>", "<urn:2>", "<urn:3>"}
    assert rows["<urn:2>"] == ("seg-00002.warc", b"second " * 4)


def test_xlsx_writer_one_workbook_per_partition(spark, tmp_path):
    """df.write.format('xlsx'): executor-side per-partition workbooks
    + _SUCCESS manifest; the files roundtrip through both the xlsx
    READ format and the raw reader."""
    import os

    register_data_sources(spark)
    out = tmp_path / "books"
    df = (spark.range(40)
          .select(F.format_string("u-%03d", F.col("id")).alias("unidad"),
                  (F.col("id") * 11).cast("string").alias("precio"))
          .repartition(4))
    df.write.format("xlsx").mode("append").save(str(out))
    files = sorted(p for p in os.listdir(out) if p.endswith(".xlsx"))
    assert len(files) == 4
    manifest = (out / "_SUCCESS").read_text().strip().splitlines()
    assert len(manifest) == 4
    assert sum(int(l.split("\t")[1]) for l in manifest) == 40
    rows = []
    for p in files:
        raw = read_xlsx_rows(str(out / p))
        assert raw[0] == ["unidad", "precio"]
        rows += raw[1:]
    assert sorted(r[0] for r in rows) == [f"u-{i:03d}" for i in range(40)]
    # and the read format ingests the directory back (header_row=0:
    # these books have no banner rows; 'unidad'/'precio' alias-rename
    # to the canonical columns on the way in)
    back = (spark.read.format("xlsx").option("header_row", 0)
            .load(str(out / "*.xlsx")))
    assert back.count() == 40
    assert back.select("Número de inmueble").distinct().count() == 40


def test_warc_writer_roundtrip_all_compressions(spark, tmp_path):
    register_data_sources(spark)
    df = (spark.range(12)
          .select(F.lit("response").alias("warc_type"),
                  F.format_string("<urn:uuid:%d>", F.col("id"))
                   .alias("record_id"),
                  F.encode(F.format_string("payload-%d-", F.col("id")),
                           "utf-8").alias("payload"))
          .repartition(3))
    for comp in ("none", "gzip", "zstd", "lz4"):
        out = tmp_path / f"w_{comp}"
        (df.write.format("warc").option("compression", comp)
           .mode("append").save(str(out)))
        import os
        parts = [p for p in os.listdir(out) if p.startswith("part-")]
        assert len(parts) == 3
        back = spark.read.format("warc").load(str(out / "part-*"))
        rows = back.collect()
        assert len(rows) == 12
        ids = sorted(r["record_id"] for r in rows)
        assert ids == sorted(f"<urn:uuid:{i}>" for i in range(12))
        assert all(bytes(r["payload"]).startswith(b"payload-")
                   for r in rows)


def test_tfrecord_format_roundtrip(spark, tmp_path):
    from precios_nexo_sperant_etl_spark.operators.tfrecord import (
        decode_example, encode_example)
    register_data_sources(spark)
    out = tmp_path / "tfr"
    df = (spark.range(20)
          .select(F.col("id"),
                  F.encode(F.format_string("tok-%d", F.col("id")),
                           "utf-8").alias("record"))
          .repartition(4))
    df.write.format("tfrecord").mode("append").save(str(out))
    back = spark.read.format("tfrecord").load(str(out / "part-*"))
    assert back.rdd.getNumPartitions() == 4
    rows = back.collect()
    assert sorted(bytes(r["record"]) for r in rows) == \
        sorted(b"tok-%d" % i for i in range(20))
    # Example-proto layer composes on top of the raw-record format
    ex = encode_example({"a": [1, 2], "t": b"x"})
    df2 = spark.createDataFrame([(bytearray(ex),)], "record binary")
    df2.write.format("tfrecord").mode("append").save(str(tmp_path / "ex"))
    got = (spark.read.format("tfrecord")
           .load(str(tmp_path / "ex" / "part-*")).collect())
    assert decode_example(bytes(got[0]["record"]))["a"] == [1, 2]


def test_writer_overwrite_mode_replaces_parts(spark, tmp_path):
    import os

    register_data_sources(spark)
    out = tmp_path / "ow"
    df1 = spark.range(6).select(
        F.format_string("a-%d", F.col("id")).alias("u")).repartition(3)
    df1.write.format("xlsx").mode("append").save(str(out))
    assert len([p for p in os.listdir(out) if p.endswith(".xlsx")]) == 3
    df2 = spark.range(4).select(
        F.format_string("b-%d", F.col("id")).alias("u")).repartition(2)
    df2.write.format("xlsx").mode("overwrite").save(str(out))
    parts = [p for p in os.listdir(out) if p.endswith(".xlsx")]
    assert len(parts) == 2                     # stale parts removed
    back = (spark.read.format("xlsx").option("header_row", 0)
            .load(str(out / "*.xlsx")))
    vals = sorted(r[1] for r in back.collect())
    assert vals == [f"b-{i}" for i in range(4)]


def test_xlsx_sheet_by_name(spark, tmp_path):
    register_data_sources(spark)
    write_xlsx(str(tmp_path / "two.xlsx"),
               {"Portada": [["banner"]],
                "Datos": [["codigo", "precio"], ["u9", "5"]]})
    df = (spark.read.format("xlsx").option("sheet", "Datos")
          .option("header_row", 0).load(str(tmp_path / "two.xlsx")))
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["Número de inmueble"] == "u9"


def test_tfrecord_streaming_source(spark, tmp_path):
    from precios_nexo_sperant_etl_spark.operators.tfrecord import (
        frame_records)
    register_data_sources(spark)
    land = tmp_path / "tland"
    land.mkdir()
    (land / "s-001.tfrecord").write_bytes(
        frame_records([b"r1", b"r2"]))
    q = (spark.readStream.format("tfrecord")
         .load(str(land / "*.tfrecord"))
         .writeStream.format("parquet")
         .option("path", str(tmp_path / "tsink"))
         .option("checkpointLocation", str(tmp_path / "tckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "tsink"))
    assert sorted(bytes(r["record"]) for r in got.collect()) == [b"r1", b"r2"]


def test_xlsx_multi_sample_schema_union(spark, tmp_path):
    """samples=N infers the first-seen-ordered UNION of header names
    over the first N files, so heterogeneous exports stop silently
    dropping columns that are absent from file #1 (r11)."""
    register_data_sources(spark)
    write_xlsx(str(tmp_path / "A.xlsx"),
               {"S": [["codigo", "precio"], ["a1", "10"]]})
    write_xlsx(str(tmp_path / "B.xlsx"),
               {"S": [["codigo", "precio", "torre"], ["b1", "20", "T2"]]})
    # default (samples=1): schema comes from A.xlsx alone — B's extra
    # column is dropped by name alignment (the documented default)
    d1 = (spark.read.format("xlsx").option("header_row", 0)
          .load(str(tmp_path / "*.xlsx")))
    assert "torre" not in d1.columns
    # samples=2: union schema carries B's column; A rows null-fill it
    d2 = (spark.read.format("xlsx").option("header_row", 0)
          .option("samples", 2).load(str(tmp_path / "*.xlsx")))
    assert "torre" in d2.columns
    got = {r["Proyecto"]: r["torre"] for r in d2.collect()}
    assert got == {"A": None, "B": "T2"}


def test_xlsx_strict_mode_fails_on_extra_columns(spark, tmp_path):
    """strict=true: a file with columns missing from the schema fails
    the read loudly instead of silently dropping them (r11)."""
    import pytest

    register_data_sources(spark)
    write_xlsx(str(tmp_path / "A.xlsx"),
               {"S": [["codigo", "precio"], ["a1", "10"]]})
    write_xlsx(str(tmp_path / "B.xlsx"),
               {"S": [["codigo", "precio", "torre"], ["b1", "20", "T2"]]})
    narrow = (spark.read.format("xlsx").option("header_row", 0)
              .option("strict", True).load(str(tmp_path / "*.xlsx")))
    with pytest.raises(Exception, match="strict"):
        narrow.collect()
    # strict + a wide-enough sample union succeeds
    wide = (spark.read.format("xlsx").option("header_row", 0)
            .option("strict", True).option("samples", 2)
            .load(str(tmp_path / "*.xlsx")))
    assert wide.count() == 2


def test_xlsx_user_schema_shape_validated(spark, tmp_path):
    """A user-supplied schema without the Proyecto/_ord sentinels
    fails at planning instead of silently misaligning cells (ADVICE
    r10)."""
    import pytest
    from pyspark.sql.types import StringType, StructField, StructType

    register_data_sources(spark)
    write_xlsx(str(tmp_path / "A.xlsx"),
               {"S": [["codigo", "precio"], ["a1", "10"]]})
    bad = StructType([StructField("codigo", StringType()),
                      StructField("precio", StringType())])
    with pytest.raises(Exception, match="Proyecto"):
        (spark.read.format("xlsx").schema(bad)
         .option("header_row", 0).load(str(tmp_path / "A.xlsx")).collect())


def test_object_store_uri_raises_named_error(spark, tmp_path):
    """Object-store URIs hit the SharedFilesystemRequired guard at
    planning (the formats address files via POSIX os/glob on driver
    and executors — PLANS.md 'Data-source filesystem boundary')."""
    import pytest

    from precios_nexo_sperant_etl_spark.sources.spark_datasource import (
        ExcelWriter, SharedFilesystemRequired, _file_list,
        _require_shared_fs)

    with pytest.raises(SharedFilesystemRequired, match="s3"):
        _file_list({"path": "s3://bucket/prefix/*.warc"})
    with pytest.raises(SharedFilesystemRequired, match="gs"):
        ExcelWriter({"path": "gs://bucket/out"},
                    __import__("pyspark").sql.types.StructType([]), False)
    # file:// is a plain path in disguise — accepted and stripped
    assert _require_shared_fs("file:///tmp/x") == "/tmp/x"
    # end-to-end: the reader surfaces the guard through Spark planning
    with pytest.raises(Exception, match="shared POSIX filesystem"):
        register_data_sources(spark)
        spark.read.format("warc").load("s3a://bucket/crawl/*.warc.gz") \
            .collect()


# format -> (extra options, column names and types the writer takes,
# row carrying a string value, read-back row -> that value)
_WRITE_CASES = {
    "xlsx": ({"header_row": "0"}, [("u", "string")],
             lambda v: (v,), lambda r: r[1]),
    "warc": ({}, [("warc_type", "string"), ("record_id", "string"),
                  ("payload", "binary")],
             lambda v: ("response", v, v.encode()), lambda r: r[3]),
    "tfrecord": ({}, [("record", "binary")],
                 lambda v: (v.encode(),), lambda r: r[2].decode()),
    "zip": ({}, [("name", "string"), ("data", "binary")],
            lambda v: (v, v.encode()), lambda r: r[2]),
    "sqlite": ({"table": "t"}, [("v", "string")],
               lambda v: (v,), lambda r: r[2]),
}


def _source(fmt: str, path):
    from precios_nexo_sperant_etl_spark.sources import spark_datasource as sd
    cls = {"xlsx": sd.ExcelDataSource, "warc": sd.WarcDataSource,
           "tfrecord": sd.TFRecordDataSource, "zip": sd.ZipDataSource,
           "sqlite": sd.SqliteDataSource}[fmt]
    return cls({"path": str(path), **_WRITE_CASES[fmt][0]})


@pytest.mark.parametrize("fmt", sorted(_WRITE_CASES))
def test_overwrite_defers_old_part_removal_to_commit(tmp_path, fmt):
    """Commit-protocol overwrite (ADVICE r10), the same for every
    writer: old parts survive planning and write; they disappear only
    at commit. An aborted overwrite leaves the previous dataset fully
    intact, and the manifest lists ``part<TAB>rows`` per part."""
    from pyspark.sql.types import (BinaryType, StringType, StructField,
                                   StructType)

    _, cols, row, value = _WRITE_CASES[fmt]
    schema = StructType([StructField(n, {"string": StringType(),
                                         "binary": BinaryType()}[t])
                         for n, t in cols])
    out = tmp_path / "ds"
    out.mkdir()

    def parts():
        return sorted(p.name for p in out.glob("part-*"))

    def values():
        reader = _source(fmt, out).reader(_source(fmt, out).schema())
        return sorted(value(r) for p in reader.partitions()
                      for r in reader.read(p))

    # seed an existing committed dataset
    w0 = _source(fmt, out).writer(schema, False)
    w0.commit([w0.write(iter([row("old-1"), row("old-2")]))])
    old_parts = parts()
    assert len(old_parts) == 1
    assert (out / "_SUCCESS").read_text() == f"{old_parts[0]}\t2\n"

    # overwrite attempt #1: write, then ABORT — old data intact
    w1 = _source(fmt, out).writer(schema, True)
    assert parts() == old_parts
    m1 = w1.write(iter([row("new-A")]))
    assert set(old_parts) < set(parts())
    w1.abort([m1])
    assert parts() == old_parts
    assert (out / "_SUCCESS").read_text() == f"{old_parts[0]}\t2\n"
    assert values() == ["old-1", "old-2"]

    # overwrite attempt #2: write + COMMIT — old parts replaced
    w2 = _source(fmt, out).writer(schema, True)
    w2.commit([w2.write(iter([row("new-B"), row("new-C"), row("new-D")]))])
    new_parts = parts()
    assert len(new_parts) == 1 and new_parts != old_parts
    assert (out / "_SUCCESS").read_text() == f"{new_parts[0]}\t3\n"
    assert values() == ["new-B", "new-C", "new-D"]


@pytest.mark.parametrize("fmt", sorted(_WRITE_CASES))
def test_directory_a_writer_made_reads_back(spark, tmp_path, fmt):
    """Loading the directory itself (not a ``part-*`` glob) skips the
    ``_SUCCESS`` manifest, as Spark's file sources skip ``_``/``.``
    names, so what a writer made reads back as written."""
    register_data_sources(spark)
    opts, cols, row, value = _WRITE_CASES[fmt]
    out = tmp_path / fmt
    vals = [f"v-{i}" for i in range(6)]
    df = spark.createDataFrame([row(v) for v in vals],
                               ", ".join(f"{n} {t}" for n, t in cols))
    df.repartition(2).write.format(fmt).options(**opts) \
      .mode("append").save(str(out))
    assert (out / "_SUCCESS").exists()
    back = spark.read.format(fmt).options(**opts).load(str(out))
    assert sorted(value(r) for r in back.collect()) == vals


def test_tfrecord_file_pushdown(spark, tmp_path):
    """String predicates on ``tf_file`` prune files at planning."""
    from precios_nexo_sperant_etl_spark.operators.tfrecord import (
        frame_records)
    register_data_sources(spark)
    for i in range(3):
        (tmp_path / f"s{i}.tfrecord").write_bytes(
            frame_records([b"r%d-a" % i, b"r%d-b" % i]))
    base = spark.read.format("tfrecord").load(str(tmp_path / "*.tfrecord"))
    one = base.where(F.col("tf_file") == "s1.tfrecord")
    assert one.rdd.getNumPartitions() == 1
    assert sorted(bytes(r["record"]) for r in one.collect()) == \
        [b"r1-a", b"r1-b"]
    two = base.where(F.col("tf_file").isin("s0.tfrecord", "s2.tfrecord"))
    assert two.rdd.getNumPartitions() == 2 and two.count() == 4
    assert base.where(F.col("tf_file") == "nope").count() == 0


def test_warc_roundtrip_query_keeps_one_scratch_dir(spark, tmp_path,
                                                    monkeypatch):
    """warc_datasource_roundtrip writes under one directory per input,
    wiped by its next run: two runs leave one directory and agree."""
    import glob
    import tempfile

    from precios_nexo_sperant_etl_spark.queries_scale_part4 import (
        _warc_datasource_roundtrip)
    from tests.conftest import SF_DIR
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    first = _warc_datasource_roundtrip(spark, SF_DIR).collect()
    (root,) = glob.glob(str(tmp_path / "warc_ds_roundtrip_*"))
    second = _warc_datasource_roundtrip(spark, SF_DIR).collect()
    assert glob.glob(str(tmp_path / "warc_ds_roundtrip_*")) == [root]
    assert first and first == second


def test_warc_zstd_external_dict_frame_refuses(spark, tmp_path):
    """A .warc.zst member whose FIRST frame references an external
    dictionary (no leading skippable frame) must refuse, not peel
    compressed bytes into a garbage raw-content dictionary (ADVICE
    r10, medium)."""
    import pytest

    register_data_sources(spark)
    warc = build_warc([("response", "<urn:x>", b"payload " * 8)])
    blob = encode_zstd_dictionary(b"seed " * 16, dict_id=7)
    member = encode_zstd_compressed([(warc, [])], dictionary=blob)
    (tmp_path / "x.warc.zst").write_bytes(member)
    with pytest.raises(Exception, match="[Dd]ictionary"):
        spark.read.format("warc").load(str(tmp_path / "x.warc.zst")) \
            .collect()


def test_warc_format_bz2_members(spark, tmp_path):
    """.warc.bz2 members (r11): our encoder's streams AND stdlib bz2
    streams (the Wikipedia multistream shape) both sniff + decode."""
    import bz2

    register_data_sources(spark)
    recs = [("response", f"<urn:uuid:{i}>", f"payload-{i}".encode() * 3)
            for i in range(4)]
    warc = build_warc(recs)
    (tmp_path / "a.warc.bz2").write_bytes(bz2.compress(warc))
    df = spark.createDataFrame(
        [(t, r, p) for t, r, p in recs],
        "warc_type string, record_id string, payload binary")
    (df.repartition(1).write.format("warc").option("compression", "bz2")
       .mode("append").save(str(tmp_path / "ours")))
    import glob
    import shutil
    part = glob.glob(str(tmp_path / "ours" / "part-*.warc.bz2"))[0]
    shutil.copy(part, tmp_path / "b.warc.bz2")
    both = spark.read.format("warc").load(str(tmp_path / "*.warc.bz2"))
    rows = both.collect()
    assert len(rows) == 8
    got = sorted(bytes(r["payload"]) for r in rows)
    want = sorted([p for _, _, p in recs] * 2)
    assert got == want


def test_warc_format_xz_members(spark, tmp_path):
    """.warc.xz members (r11) sniff + decode via the from-scratch
    LZMA stack (stdlib lzma is the independent encoder)."""
    import lzma

    register_data_sources(spark)
    recs = [("response", f"<urn:uuid:{i}>", f"payload-{i}".encode() * 3)
            for i in range(4)]
    (tmp_path / "a.warc.xz").write_bytes(lzma.compress(build_warc(recs)))
    df = spark.read.format("warc").load(str(tmp_path / "a.warc.xz"))
    rows = df.collect()
    assert len(rows) == 4
    assert sorted(bytes(r["payload"]) for r in rows) == \
        sorted(p for _, _, p in recs)


def test_zip_format_roundtrip_and_pushdown(spark, tmp_path):
    register_data_sources(spark)
    out = tmp_path / "zips"
    df = (spark.range(20)
          .select(F.format_string("doc_%03d.txt", F.col("id"))
                   .alias("name"),
                  F.encode(F.format_string("payload %d ", F.col("id")),
                           "utf-8").alias("data"))
          .repartition(4))
    df.write.format("zip").mode("append").save(str(out))
    import os
    parts = [p for p in os.listdir(out) if p.startswith("part-")]
    assert len(parts) == 4 and all(p.endswith(".zip") for p in parts)
    # stdlib zipfile (independent) can open what the writer produced
    import zipfile
    total = sum(len(zipfile.ZipFile(out / p).infolist()) for p in parts)
    assert total == 20
    back = spark.read.format("zip").load(str(out / "part-*"))
    rows = back.collect()
    assert len(rows) == 20
    assert {r["crc_ok"] for r in rows} == {"ok"}
    assert all(bytes(r["data"]).startswith(b"payload") for r in rows)
    # member-name pushdown prunes records in the reader
    assert back.where(F.col("name") == "doc_003.txt").count() == 1


def test_sqlite_format_roundtrip(spark, tmp_path):
    register_data_sources(spark)
    out = tmp_path / "dbs"
    df = (spark.range(50)
          .select(F.col("id").alias("k"),
                  (F.col("id") * 0.5).alias("v"),
                  F.format_string("fila %d", F.col("id")).alias("s"),
                  F.encode(F.format_string("b%d", F.col("id")),
                           "utf-8").alias("b"))
          .repartition(4))
    df.write.format("sqlite").option("table", "t") \
      .mode("append").save(str(out))
    # the real SQLite library (independent) reads the parts our writer
    # produced through it; our b-tree reader feeds the read path
    back = (spark.read.format("sqlite").option("table", "t")
            .load(str(out / "part-*")))
    assert back.schema.simpleString() == (
        "struct<db_file:string,rowid:bigint,k:bigint,v:double,"
        "s:string,b:binary>")
    rows = back.orderBy("k").collect()
    assert len(rows) == 50
    assert rows[7]["s"] == "fila 7"
    assert abs(rows[7]["v"] - 3.5) < 1e-12
    assert bytes(rows[7]["b"]) == b"b7"


def test_sqlite_format_schema_mismatch_fails_loudly(spark, tmp_path):
    register_data_sources(spark)
    import sqlite3
    for i, cols in enumerate(("a INTEGER, b TEXT", "a INTEGER, c TEXT")):
        con = sqlite3.connect(str(tmp_path / f"part-{i}.sqlite"))
        con.execute(f"CREATE TABLE t({cols})")
        con.execute("INSERT INTO t VALUES (1, 'x')")
        con.commit()
        con.close()
    df = (spark.read.format("sqlite").option("table", "t")
          .load(str(tmp_path / "part-*.sqlite")))
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    with _pytest.raises(Exception) as ei:
        df.collect()
    assert "columns" in str(ei.value)


def test_sqlite_format_rowid_is_sqlites_rowid(spark, tmp_path):
    register_data_sources(spark)
    import sqlite3
    con = sqlite3.connect(str(tmp_path / "a.sqlite"))
    con.execute("CREATE TABLE t(v TEXT)")
    con.executemany("INSERT INTO t VALUES (?)", [(c,) for c in "abcde"])
    con.execute("DELETE FROM t WHERE v = 'b'")
    con.commit()
    con.close()
    con = sqlite3.connect(str(tmp_path / "b.sqlite"))
    con.execute("CREATE TABLE k(id INTEGER PRIMARY KEY, v TEXT)")
    con.executemany("INSERT INTO k VALUES (?, ?)", [(7, "x"), (42, "y")])
    con.commit()
    con.close()
    t = (spark.read.format("sqlite").option("table", "t")
         .load(str(tmp_path / "a.sqlite")))
    assert [(r["rowid"], r["v"]) for r in t.orderBy("rowid").collect()] \
        == [(1, "a"), (3, "c"), (4, "d"), (5, "e")]
    k = (spark.read.format("sqlite").option("table", "k")
         .load(str(tmp_path / "b.sqlite")))
    assert [tuple(r) for r in k.orderBy("rowid").collect()] == [
        ("b.sqlite", 7, 7, "x"), ("b.sqlite", 42, 42, "y")]


def test_sqlite_format_refuses_its_reserved_column_names(spark, tmp_path):
    """A sqlite read carries db_file/rowid; writing it back as is would
    store them as table columns and the re-read would plan duplicate
    names. The writer refuses such a frame, the reader such a table;
    without the two columns the round trip returns the rows."""
    import sqlite3

    from precios_nexo_sperant_etl_spark.sources.spark_datasource import \
        SqliteDataSource
    register_data_sources(spark)
    con = sqlite3.connect(str(tmp_path / "src.sqlite"))
    con.execute("CREATE TABLE t(k INTEGER, v TEXT)")
    con.executemany("INSERT INTO t VALUES (?, ?)",
                    [(1, "a"), (2, "b"), (3, "c")])
    con.commit()
    con.close()
    src = (spark.read.format("sqlite").option("table", "t")
           .load(str(tmp_path / "src.sqlite")))
    with pytest.raises(Exception, match="column named 'db_file'") as ei:
        src.write.format("sqlite").option("table", "t") \
           .mode("append").save(str(tmp_path / "back"))
    assert "ValueError" in str(ei.value)
    src.drop("db_file", "rowid").write.format("sqlite") \
       .option("table", "t").mode("append").save(str(tmp_path / "back"))
    back = (spark.read.format("sqlite").option("table", "t")
            .load(str(tmp_path / "back" / "part-*")))
    assert sorted((r["k"], r["v"]) for r in back.collect()) == [
        (1, "a"), (2, "b"), (3, "c")]
    con = sqlite3.connect(str(tmp_path / "own.sqlite"))
    con.execute("CREATE TABLE t(RowId INTEGER, v TEXT)")
    con.commit()
    con.close()
    with pytest.raises(ValueError, match="column named 'RowId'"):
        SqliteDataSource({"path": str(tmp_path / "own.sqlite"),
                          "table": "t"}).schema()


@pytest.mark.parametrize("case", ["truncated", "empty", "wal"])
def test_sqlite_format_bad_file_fails_loudly(tmp_path, case):
    """A bad file raises SqliteError both where it plans the schema
    (first file) and where it is read (a later file)."""
    import sqlite3

    from precios_nexo_sperant_etl_spark.operators.sqlitefile import \
        SqliteError
    from precios_nexo_sperant_etl_spark.sources.spark_datasource import (
        SqliteDataSource, _FilePartition)
    from tests.test_sqlite import _wal_file
    good = str(tmp_path / "a_good.sqlite")
    con = sqlite3.connect(good)
    con.execute("CREATE TABLE t(k INTEGER PRIMARY KEY)")
    con.executemany("INSERT INTO t VALUES (?)", [(i,) for i in range(3)])
    con.commit()
    con.close()
    bad = str(tmp_path / "b_bad.sqlite")
    keep = None
    if case == "wal":
        keep = _wal_file(bad)
    else:
        with open(bad, "wb") as f:
            f.write(b"SQLite format 3\x00\x10\x00"
                    if case == "truncated" else b"")
    try:
        with pytest.raises(SqliteError,
                           match="WAL" if case == "wal" else ""):
            SqliteDataSource({"path": bad, "table": "t"}).schema()
        ds = SqliteDataSource({"path": str(tmp_path / "*.sqlite"),
                               "table": "t"})
        reader = ds.reader(ds.schema())
        assert len(list(reader.read(_FilePartition(good)))) == 3
        with pytest.raises(SqliteError,
                           match="WAL" if case == "wal" else ""):
            list(reader.read(_FilePartition(bad)))
    finally:
        if keep is not None:
            keep.close()



def test_sqlite_format_schema_skips_row_fetch(tmp_path, monkeypatch):
    """Planning learns the column types without reading the table's
    rows: no statement that schema() runs selects from the table, while
    read() still fetches every row."""
    import sqlite3

    from precios_nexo_sperant_etl_spark.sources.spark_datasource import (
        SqliteDataSource, _FilePartition)
    path = str(tmp_path / "many.sqlite")
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE t(k INTEGER PRIMARY KEY, v TEXT)")
    con.executemany("INSERT INTO t VALUES (?, ?)",
                    ((i, f"v{i}") for i in range(20_000)))
    con.commit()
    con.close()
    statements = []
    connect = sqlite3.connect

    def traced(*args, **kwargs):
        c = connect(*args, **kwargs)
        c.set_trace_callback(statements.append)
        return c

    monkeypatch.setattr(sqlite3, "connect", traced)
    ds = SqliteDataSource({"path": path, "table": "t"})
    schema = ds.schema()
    assert schema.simpleString() == \
        "struct<db_file:string,rowid:bigint,k:bigint,v:string>"
    assert statements and not [q for q in statements if '"t"' in q]
    statements.clear()
    assert len(list(ds.reader(schema).read(_FilePartition(path)))) == 20_000
    assert [q for q in statements if 'FROM "t"' in q]

def test_zip_streaming_source(spark, tmp_path):
    """readStream.format('zip'): archives landing between micro-batches
    are picked up exactly once, members decoded by zip_extract."""
    import io
    import time
    import zipfile

    register_data_sources(spark)
    land = tmp_path / "zland"
    land.mkdir()
    out = tmp_path / "zsink"
    ckpt = tmp_path / "zckpt"

    def _zip(names):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
            for n in names:
                zf.writestr(n, f"payload {n}".encode())
        return buf.getvalue()

    (land / "seg-00001.zip").write_bytes(_zip(["a.txt"]))
    for _ in range(2):
        q = (spark.readStream.format("zip")
             .load(str(land / "*.zip"))
             .writeStream.format("parquet")
             .option("path", str(out))
             .option("checkpointLocation", str(ckpt))
             .trigger(availableNow=True)
             .start())
        q.awaitTermination(120)
        (land / "seg-00002.zip").write_bytes(_zip(["b.txt", "c.txt"]))
    time.sleep(0.2)
    rows = {r["name"]: bytes(r["data"])
            for r in spark.read.parquet(str(out)).collect()}
    assert rows == {"a.txt": b"payload a.txt",
                    "b.txt": b"payload b.txt",
                    "c.txt": b"payload c.txt"}
