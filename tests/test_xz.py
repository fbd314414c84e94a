"""xz multistream census (operators/xzlzma.py) over stdlib ``lzma``:
content, the per-stream check name read from the stream flags, and the
block count read from the index — for every check type, preset and
literal-context setting, multistream with stream padding — plus loud
failure on corrupt, truncated and non-xz input."""

from __future__ import annotations

import lzma
import random

import pytest

from precios_nexo_sperant_etl_spark.operators.xzlzma import decode_xz

rng = random.Random(42)

CASES = [
    b"hello world",
    b"a" * 100000,
    bytes(rng.randrange(256) for _ in range(5000)),
    b"the quick brown fox jumps over the lazy dog " * 4000,
    bytes(rng.choice(b"abcd") for _ in range(200000)),
    b"x",
]

CHECKS = ((lzma.CHECK_CRC32, "crc32"), (lzma.CHECK_CRC64, "crc64"),
          (lzma.CHECK_SHA256, "sha256"), (lzma.CHECK_NONE, "none"))


@pytest.mark.parametrize("case", range(len(CASES)))
def test_all_check_types(case):
    c = CASES[case]
    for check, nm in CHECKS:
        d = decode_xz(lzma.compress(c, format=lzma.FORMAT_XZ, check=check))
        assert d["content"] == c
        assert d["checks"] == [nm]
        assert d["n_streams"] == 1 and d["n_blocks"] == 1


@pytest.mark.parametrize("preset", [0, 1, 6, 9 | lzma.PRESET_EXTREME])
def test_presets(preset):
    for c in CASES:
        d = decode_xz(lzma.compress(c, preset=preset))
        assert d["content"] == c and d["n_blocks"] == 1


def test_custom_literal_contexts():
    c = b"structured " * 9000
    for lc, lp, pb in ((0, 2, 1), (4, 0, 0), (1, 1, 2), (0, 0, 0)):
        flt = [{"id": lzma.FILTER_LZMA2, "preset": 6,
                "lc": lc, "lp": lp, "pb": pb}]
        blob = lzma.compress(c, format=lzma.FORMAT_XZ, filters=flt)
        assert decode_xz(blob)["content"] == c


def test_multistream():
    ms = lzma.compress(b"stream-one ") + lzma.compress(b"stream-two")
    d = decode_xz(ms)
    assert d["content"] == b"stream-one stream-two"
    assert d["n_streams"] == 2 and d["n_blocks"] == 2
    padded = (lzma.compress(b"a", check=lzma.CHECK_SHA256) + b"\x00" * 8
              + lzma.compress(b"b", check=lzma.CHECK_NONE) + b"\x00" * 4)
    d = decode_xz(padded)
    assert d["content"] == b"ab" and d["checks"] == ["sha256", "none"]


def _vli(n: int) -> bytes:
    out = bytearray()
    while n >= 0x80:
        out.append(n & 0x7F | 0x80)
        n >>= 7
    return bytes(out + bytes([n]))


def _multi_block_xz(chunks: list[bytes], check: int) -> bytes:
    """One xz stream holding one block per chunk, spliced from stdlib
    single-block streams: the blocks are copied as they are, and a new
    index (one record per block) and footer are written per the xz
    file-format spec. The stdlib encoder has no block-size knob."""
    import struct
    import zlib
    blocks, records = [], []
    for c in chunks:
        s = lzma.compress(c, check=check)
        backward = struct.unpack("<I", s[-8:-4])[0]
        index = s[-12 - (backward + 1) * 4:-12]
        blocks.append(s[12:len(s) - 12 - len(index)])
        records.append(index[2:-4].rstrip(b"\x00"))   # one record's VLIs
    header = s[:12]
    index = b"\x00" + _vli(len(chunks)) + b"".join(records)
    index += b"\x00" * (-len(index) % 4)
    index += struct.pack("<I", zlib.crc32(index))
    tail = struct.pack("<I", len(index) // 4 - 1) + header[6:8]
    footer = struct.pack("<I", zlib.crc32(tail)) + tail + b"YZ"
    return header + b"".join(blocks) + index + footer


@pytest.mark.parametrize("check,nm", CHECKS)
def test_index_block_count_per_check(check, nm):
    """The census reads each stream's block count from its index,
    found through the footer's backward size."""
    for n in (1, 3, 8):
        chunks = [b"block %d " % i * (200 * i + 1) for i in range(n)]
        blob = _multi_block_xz(chunks, check)
        assert lzma.decompress(blob) == b"".join(chunks)
        d = decode_xz(blob + lzma.compress(b"!", check=check))
        assert d["content"] == b"".join(chunks) + b"!"
        assert d["checks"] == [nm, nm]
        assert d["n_streams"] == 2 and d["n_blocks"] == n + 1


def test_fuzz_vs_stdlib():
    r = random.Random(7)
    for _ in range(30):
        n = r.randrange(1, 20000)
        c = bytes(r.randrange(256) for _ in range(n)) \
            if r.random() < 0.5 else \
            bytes(r.choice(b"aabbbcx\x00\xff") for _ in range(n))
        assert decode_xz(lzma.compress(c))["content"] == c


def test_crc64_known_vector():
    """xz's CRC64 (ECMA-182 reflected) check value for "123456789" sits
    right after the block; liblzma verifies it, so flipping it fails."""
    blob = bytearray(lzma.compress(b"123456789", check=lzma.CHECK_CRC64))
    at = blob.index((0x995DC9BBDF1939FA).to_bytes(8, "little"))
    assert decode_xz(bytes(blob))["checks"] == ["crc64"]
    blob[at] ^= 0x01
    with pytest.raises(lzma.LZMAError):
        decode_xz(bytes(blob))


def test_corruption_is_loud():
    blob = bytearray(lzma.compress(b"payload " * 1000))
    blob[30] ^= 0xFF
    with pytest.raises(lzma.LZMAError):
        decode_xz(bytes(blob))
    with pytest.raises(lzma.LZMAError):
        decode_xz(b"not an xz stream")
    good = lzma.compress(b"payload")
    with pytest.raises(ValueError, match="ended before"):
        decode_xz(good[:-4])              # truncated footer
    with pytest.raises(ValueError, match="empty"):
        decode_xz(b"")
    with pytest.raises(lzma.LZMAError):
        decode_xz(good + b"trailing garbage bytes")


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(st.binary(min_size=0, max_size=5000),
           st.sampled_from([0, 6, 9]))
    def test_hyp_stdlib_xz_we_decode(data, preset):
        assert decode_xz(lzma.compress(data, preset=preset))["content"] \
            == data
except ImportError:  # pragma: no cover
    pass


def test_lzma_alone_legacy_format():
    """Legacy .lzma (FORMAT_ALONE) is not an xz container: the census
    refuses it rather than guessing a check or block count."""
    blob = lzma.compress(b"hello", format=lzma.FORMAT_ALONE)
    assert lzma.decompress(blob) == b"hello"
    with pytest.raises(lzma.LZMAError):
        decode_xz(blob)
