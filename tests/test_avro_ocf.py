"""Avro OCF codec: spec zigzag examples, schema-driven decode,
multi-block sync verification, corruption postures."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from precios_nexo_sperant_etl_spark.operators.avro_ocf import (
    read_ocf, read_zigzag, write_ocf, zigzag)

SCHEMA = {"type": "record", "name": "Doc", "fields": [
    {"name": "doc_id", "type": "long"},
    {"name": "tokens", "type": {"type": "array", "items": "long"}},
    {"name": "score", "type": "double"},
    {"name": "text", "type": "string"}]}
SYNC = bytes(range(16))


def _recs(n):
    return [{"doc_id": i, "tokens": [i, -i, 7 * i], "score": i / 4.0,
             "text": f"doc{i}"} for i in range(n)]


def test_zigzag_spec_examples():
    # the value table straight from the Avro spec
    for n, b in [(0, b"\x00"), (-1, b"\x01"), (1, b"\x02"),
                 (-2, b"\x03"), (2, b"\x04"), (-64, b"\x7f"),
                 (64, b"\x80\x01")]:
        assert zigzag(n) == b
        assert read_zigzag(b, 0) == (n, len(b))


@settings(max_examples=50, deadline=None)
@given(st.integers(-2 ** 63, 2 ** 63 - 1))
def test_zigzag_property(n):
    assert read_zigzag(zigzag(n), 0)[0] == n


def test_multiblock_roundtrip_and_counts():
    r = read_ocf(write_ocf(SCHEMA, _recs(20), SYNC, block_records=8))
    assert r["records"] == _recs(20)
    assert r["n_blocks"] == 3 and r["sync"] == SYNC


def test_empty_array_and_empty_file():
    recs = [{"doc_id": 1, "tokens": [], "score": 0.0, "text": ""}]
    assert read_ocf(write_ocf(SCHEMA, recs, SYNC))["records"] == recs
    assert read_ocf(write_ocf(SCHEMA, [], SYNC))["records"] == []


def test_sync_mismatch_raises():
    ocf = bytearray(write_ocf(SCHEMA, _recs(4), SYNC))
    ocf[-1] ^= 0xFF                          # trailing sync byte
    with pytest.raises(ValueError):
        read_ocf(bytes(ocf))


def test_bad_magic_and_codec():
    ocf = write_ocf(SCHEMA, _recs(2), SYNC)
    with pytest.raises(ValueError):
        read_ocf(b"Obj\x02" + ocf[4:])
    # a deflate-codec file must be refused loudly, not misparsed
    deflated = ocf.replace(b"null", b"defl", 1)
    with pytest.raises(ValueError):
        read_ocf(deflated)


def test_foreign_schema_order_drives_decode():
    # same fields, different declaration order -> decoder must follow
    # the EMBEDDED schema, not this engine's habits
    schema2 = {"type": "record", "name": "Doc", "fields": [
        {"name": "text", "type": "string"},
        {"name": "doc_id", "type": "long"}]}
    recs = [{"text": "zz", "doc_id": 9}]
    assert read_ocf(write_ocf(schema2, recs, SYNC))["records"] == recs


# --- Snappy codec + snappy-coded OCF ---------------------------------------

def test_snappy_roundtrip_shapes():
    from precios_nexo_sperant_etl_spark.operators.avro_ocf import (
        snappy_compress, snappy_decompress)
    for d in (b"", b"a", b"abcd" * 2000, bytes(range(256)) * 8,
              b"aaaaaaa", b"the quick brown fox " * 100):
        assert snappy_decompress(snappy_compress(d)) == d
    # repetitive data must actually produce copy elements
    assert len(snappy_compress(b"abcd" * 1000)) < 400


def test_snappy_overlapping_copy_and_all_offsets():
    from precios_nexo_sperant_etl_spark.operators.avro_ocf import (
        snappy_decompress)
    # hand-built stream: literal 'ab', then a 1-byte-offset overlapping
    # copy of length 6 at offset 2 -> 'abababab'
    raw = bytes([8]) + bytes([(2 - 1) << 2]) + b"ab" \
        + bytes([((6 - 4) << 2) | 1, 2])
    assert snappy_decompress(raw) == b"abababab"
    # 4-byte-offset copy kind
    raw = bytes([8]) + bytes([(2 - 1) << 2]) + b"ab" \
        + bytes([((6 - 1) << 2) | 3]) + (2).to_bytes(4, "little")
    assert snappy_decompress(raw) == b"abababab"


@settings(max_examples=40, deadline=None)
@given(st.binary(max_size=4000))
def test_snappy_property(data):
    from precios_nexo_sperant_etl_spark.operators.avro_ocf import (
        snappy_compress, snappy_decompress)
    assert snappy_decompress(snappy_compress(data)) == data


def test_snappy_declared_length_checked_before_allocating(monkeypatch):
    from precios_nexo_sperant_etl_spark.operators import avro_ocf as av

    def _never(*_a, **_k):
        raise AssertionError("libsnappy called on an impossible length")

    monkeypatch.setattr(av.pa, "decompress", _never)
    # 2**32 - 1 declared over a 3-byte body (at most 64 bytes of output)
    with pytest.raises(ValueError, match="4294967295"):
        av.snappy_decompress(b"\xff\xff\xff\xff\x0f" + b"\x0a\x01\x00")
    for bad in (b"", b"\x80\x80", b"\xff" * 5 + b"\x01abc"):
        with pytest.raises(ValueError):      # empty, cut, 6-byte varint
            av.snappy_decompress(bad)


def test_snappy_corrupt_body_raises_value_error():
    from precios_nexo_sperant_etl_spark.operators.avro_ocf import (
        snappy_compress, snappy_decompress)
    good = snappy_compress(b"the quick brown fox " * 50)
    for bad in (good[:-1], good + b"\x00", good[:1] + b"\x03" + good[2:],
                b"\x08\x05\x07"):         # a copy before any literal
        with pytest.raises(ValueError):
            snappy_decompress(bad)


def test_snappy_ocf_roundtrip_and_crc():
    from precios_nexo_sperant_etl_spark.operators.avro_ocf import (
        read_ocf, write_ocf)
    recs = [{"doc_id": i, "tokens": [i, -i], "score": i / 4.0,
             "text": f"doc{i} " * 8} for i in range(20)]
    ocf = write_ocf(SCHEMA, recs, SYNC, codec="snappy")
    r = read_ocf(ocf)
    assert r["records"] == recs and r["codec"] == "snappy"
    assert len(ocf) < len(write_ocf(SCHEMA, recs, SYNC))  # it compresses
    bad = bytearray(ocf)
    bad[ocf.index(SYNC) + 26] ^= 1          # inside the first block
    with pytest.raises(ValueError):
        read_ocf(bytes(bad))
