"""Image encoders cross-checked against javax.imageio (round 10) — the
JVM that every test session already carries ships an INDEPENDENT
PNG/GIF/BMP decoder, so the encode side of the image roundtrips is
pinned from outside exactly like the zstd binary pins the zstd stack
and audioop pins G.711: a wrong filter choice, palette layout, LZW
packing, interlace pass order or channel order that our own decoder
happened to mirror would surface here as pixel mismatches."""

from __future__ import annotations

import numpy as np
import pytest

from precios_nexo_sperant_etl_spark.operators import multimodal as mm

_Y, _X = np.mgrid[0:16, 0:16]
_RGB = np.stack([(_X * 16 + 3) % 256, (_Y * 16 + 7) % 256,
                 (_X * 7 + _Y * 11) % 256], -1).astype(np.uint8)
_IDX = ((7 + _X + _Y) % 16).astype(np.uint8)
_PAL = np.stack([(np.arange(16) * 17) % 256, (np.arange(16) * 31) % 256,
                 (np.arange(16) * 53) % 256], -1).astype(np.uint8)


def _imageio_pixels(spark, blob: bytes) -> np.ndarray | None:
    jvm = spark.sparkContext._jvm
    img = jvm.javax.imageio.ImageIO.read(
        jvm.java.io.ByteArrayInputStream(bytearray(blob)))
    if img is None:
        return None
    w, h = img.getWidth(), img.getHeight()
    out = np.zeros((h, w, 3), dtype=np.int64)
    for y in range(h):
        for x in range(w):
            argb = img.getRGB(x, y)
            out[y, x] = [(argb >> 16) & 255, (argb >> 8) & 255, argb & 255]
    return out


@pytest.mark.parametrize("name", ["png_rgb", "png_adam7", "png_palette",
                                  "gif", "bmp"])
def test_image_encoders_decode_identically_in_imageio(spark, name):
    if name == "png_rgb":
        blob, expect = mm.encode_png(_RGB.tobytes(), 16), _RGB
    elif name == "png_adam7":
        blob, expect = mm.encode_png(_RGB.tobytes(), 16,
                                     interlace=True), _RGB
    elif name == "png_palette":
        blob, expect = mm.encode_png_palette(_IDX, _PAL), _PAL[_IDX]
    elif name == "gif":
        blob, expect = mm.encode_gif(_IDX, _PAL), _PAL[_IDX]
    else:                                       # bmp: B,G,R input contract
        blob, expect = mm.encode_bmp24(_RGB[:, :, ::-1]), _RGB
    got = _imageio_pixels(spark, blob)
    assert got is not None, f"{name}: imageio found no reader"
    assert (got == expect).all(), \
        f"{name}: {(got != expect).any(axis=2).sum()} pixels differ"


def _imageio_raster(spark, blob: bytes) -> np.ndarray | None:
    """Raw raster samples (band 0) — getRGB would route 8-bit GRAY
    through the gray→sRGB color transform and distort values."""
    jvm = spark.sparkContext._jvm
    img = jvm.javax.imageio.ImageIO.read(
        jvm.java.io.ByteArrayInputStream(bytearray(blob)))
    if img is None:
        return None
    r = img.getRaster()
    w, h = img.getWidth(), img.getHeight()
    out = np.zeros((h, w), dtype=np.int64)
    for y in range(h):
        for x in range(w):
            out[y, x] = r.getSample(x, y, 0)
    return out


_GRAY = ((7 + 2 * _X + 3 * _Y) % 256).astype(np.uint8)


def test_tiff_encoders_decode_identically_in_imageio(spark):
    got = _imageio_raster(spark, mm.encode_tiff_gray(_GRAY))
    if got is None:
        pytest.skip("this JVM ships no TIFF reader")
    assert (got == _GRAY).all()
    # multipage: ImageIO's plain read() returns the FIRST directory
    mp = mm.encode_tiff_multipage([_GRAY, 255 - _GRAY])
    got0 = _imageio_raster(spark, mp)
    assert (got0 == _GRAY).all()


def test_baseline_jpeg_decodes_within_tolerance_in_imageio(spark):
    """Lossy, but the decode pipeline is tightly specified: an
    independent decoder must land within IDCT rounding (±1) of our own
    decode — a channel/zigzag/table convention error would be tens of
    levels off. (On this fixture the agreement is exact.)"""
    from precios_nexo_sperant_etl_spark.operators import jpegcodec as jc
    blob = jc.encode_baseline_gray(_GRAY)
    got = _imageio_raster(spark, blob)
    assert got is not None
    ours = np.asarray(jc.decode_baseline(blob)["pixels"], dtype=np.int64)
    if ours.ndim == 3:
        ours = ours[:, :, 0]
    assert int(np.abs(got - ours).max()) <= 1


# ---------------------------------------------------------------------------
# Non-image JVM cross-checks riding the same session: snappy (the
# Avro-OCF codec's libsnappy vs Spark's bundled snappy-java, both
# directions) and CRC-32C (the TFRecord masked-CRC base vs
# java.util.zip.CRC32C).
# ---------------------------------------------------------------------------

def test_snappy_interops_with_snappy_java(spark):
    import random

    from precios_nexo_sperant_etl_spark.operators import avro_ocf as av
    jvm = spark.sparkContext._jvm
    rng = random.Random(4)
    for trial in range(10):
        data = (b"hello world compressed " * rng.randrange(1, 40)
                + bytes(rng.randrange(256)
                        for _ in range(rng.randrange(0, 300))))
        out = jvm.org.xerial.snappy.Snappy.uncompress(
            bytearray(av.snappy_compress(data)))
        assert bytes(out) == data
        theirs = jvm.org.xerial.snappy.Snappy.compress(bytearray(data))
        assert av.snappy_decompress(bytes(theirs)) == data


def test_crc32c_matches_jvm(spark):
    import random

    from precios_nexo_sperant_etl_spark.operators.tfrecord import crc32c
    jvm = spark.sparkContext._jvm
    rng = random.Random(9)
    blobs = [b"", b"\x00", b"123456789",
             bytes(range(256))] + [bytes(rng.randrange(256) for _ in
                                         range(rng.randrange(1, 400)))
                                   for _ in range(30)]
    for b in blobs:
        j = jvm.java.util.zip.CRC32C()
        if b:
            j.update(bytearray(b))
        assert crc32c(b) == j.getValue(), b[:16]


def test_avro_ocf_interops_with_java_avro(spark):
    """Both directions, both codecs, against the org.apache.avro jar
    the Spark distro bundles: our OCF writer's output is read by
    DataFileStream record-for-record, and our reader consumes
    DataFileWriter output (varint zigzag, UTF-8, block framing, sync
    markers, snappy-with-CRC block codec)."""
    import json

    from precios_nexo_sperant_etl_spark.operators import avro_ocf as av
    jvm = spark.sparkContext._jvm
    schema = {"type": "record", "name": "D", "fields": [
        {"name": "a", "type": "long"}, {"name": "t", "type": "string"}]}
    recs = [{"a": i, "t": f"x{i}é"} for i in range(25)]
    sch = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(schema))
    for codec in ("null", "snappy"):
        # ours -> java
        blob = av.write_ocf(schema, recs, bytes(range(16)), codec=codec)
        stream = jvm.org.apache.avro.file.DataFileStream(
            jvm.java.io.ByteArrayInputStream(bytearray(blob)),
            jvm.org.apache.avro.generic.GenericDatumReader())
        out = []
        while stream.hasNext():
            r = stream.next()
            out.append({"a": r.get("a"), "t": str(r.get("t"))})
        assert out == recs, codec
        assert str(stream.getMetaString("avro.codec")) == codec
        # java -> ours
        writer = jvm.org.apache.avro.file.DataFileWriter(
            jvm.org.apache.avro.generic.GenericDatumWriter(sch))
        factory = jvm.org.apache.avro.file.CodecFactory
        writer.setCodec(factory.nullCodec() if codec == "null"
                        else factory.snappyCodec())
        baos = jvm.java.io.ByteArrayOutputStream()
        writer.create(sch, baos)
        for rec in recs:
            rb = jvm.org.apache.avro.generic.GenericRecordBuilder(sch)
            rb.set("a", rec["a"])
            rb.set("t", rec["t"])
            writer.append(rb.build())
        writer.close()
        got = av.read_ocf(bytes(baos.toByteArray()))
        jrecs = got["records"] if isinstance(got, dict) else got
        assert list(jrecs) == recs, codec
