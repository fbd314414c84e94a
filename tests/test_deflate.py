"""DEFLATE where the package still touches it directly: ZIP members
(raw RFC 1951 through ``zlib`` with ``wbits=-15`` in
operators/ziparchive.py) and gzip members (``multimodal.decode_gzip``,
the WARC gzip seam). Pinned both directions against stdlib
``zipfile``/``gzip`` at every compression level (0 = stored deflate
blocks, 1/6/9 = different match-finder behaviours and dynamic-table
shapes), plus the public CRC-32 vector and loud failure on corrupt
members."""

from __future__ import annotations

import gzip as gz
import io
import random
import zipfile

import pytest

from precios_nexo_sperant_etl_spark.operators.multimodal import decode_gzip
from precios_nexo_sperant_etl_spark.operators.ziparchive import (
    ZipError, zip_create, zip_extract, zip_list)

rng = random.Random(42)

CASES = [
    b"",
    b"x",
    b"hello world hello world hello",
    b"a" * 10000,
    bytes(rng.randrange(256) for _ in range(8000)),
    b"the quick brown fox " * 1000,
    bytes(rng.choice(b"ab") for _ in range(50000)),
    b"\x00" * 70000,                 # > one stored-block chunk
]


def _stdlib_zip(data: bytes, level: int) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED,
                         compresslevel=level) as zf:
        zf.writestr("member.bin", data)
    return buf.getvalue()


def test_public_check_vectors():
    blob = zip_create([("check.txt", b"123456789")])
    assert zip_list(blob)[0]["crc"] == 0xCBF43926   # CRC-32 check value
    assert zip_extract(blob)[0]["crc_ok"]


@pytest.mark.parametrize("case", range(len(CASES)))
@pytest.mark.parametrize("level", [0, 1, 6, 9])
def test_stdlib_encoder_our_inflate(case, level):
    c = CASES[case]
    (m,) = zip_extract(_stdlib_zip(c, level))
    assert m["data"] == c and m["crc_ok"] and m["method"] == 8
    if level == 6:
        assert decode_gzip(gz.compress(c)) == c


@pytest.mark.parametrize("case", range(len(CASES)))
def test_our_encoder_stdlib_decodes(case):
    c = CASES[case]
    blob = zip_create([("member.bin", c)])
    zf = zipfile.ZipFile(io.BytesIO(blob))
    assert zf.testzip() is None
    assert zf.read("member.bin") == c
    # deflate only where it shrinks the member, stored otherwise
    info = zf.getinfo("member.bin")
    assert info.compress_size <= max(len(c), 1)
    assert zip_extract(blob)[0]["data"] == c


def test_gzip_header_variants():
    # FNAME + FCOMMENT + FEXTRA headers all skip correctly
    buf = io.BytesIO()
    with gz.GzipFile(fileobj=buf, mode="wb", filename="member.txt",
                     mtime=123456) as f:
        f.write(b"named payload")
    assert decode_gzip(buf.getvalue()) == b"named payload"


def test_corruption_is_loud():
    blob = bytearray(zip_create([("m.txt", b"payload " * 500)]))
    assert zip_list(bytes(blob))[0]["method"] == 8
    blob[30 + len("m.txt")] = 0x07   # final block, reserved type 11
    with pytest.raises(ZipError, match="deflate error"):
        zip_extract(bytes(blob))
    g = bytearray(gz.compress(b"payload " * 500))
    g[-6] ^= 0xFF                    # CRC-32 trailer
    with pytest.raises(ValueError, match="corrupt gzip"):
        decode_gzip(bytes(g))
    with pytest.raises(ValueError, match="corrupt gzip"):
        decode_gzip(gz.compress(b"payload " * 500)[:-12])   # truncated


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(st.binary(min_size=0, max_size=4000))
    def test_hyp_our_deflate_stdlib_inflates(data):
        zf = zipfile.ZipFile(io.BytesIO(zip_create([("m", data)])))
        assert zf.read("m") == data

    @settings(max_examples=60, deadline=None)
    @given(st.binary(min_size=0, max_size=4000),
           st.sampled_from([0, 1, 6, 9]))
    def test_hyp_stdlib_deflate_we_inflate(data, lvl):
        assert zip_extract(_stdlib_zip(data, lvl))[0]["data"] == data
except ImportError:  # pragma: no cover
    pass
