"""LZ4 frames + xxHash32, and the zstd module's xxHash64: properties,
the corrupt-input contract, and interop pins against the INDEPENDENT
lz4-java implementation bundled with Spark (net.jpountz.lz4 /
net.jpountz.xxhash). Frames are pinned both directions: our decoder on
lz4-java frame output, lz4-java's decoder on our frames."""

import os
import random

import pytest

from precios_nexo_sperant_etl_spark.operators.lz4codec import (
    Lz4Error, lz4_frame_compress, lz4_frame_decompress, xxh32)
from precios_nexo_sperant_etl_spark.operators.zstdentropy import xxh64


def _texty(rng, n):
    return bytes(rng.choice(b"lz4 interop test data \n0123 spark")
                 for _ in range(n))


# --- published reference vectors (xxHash spec repo README) -----------------

def test_xxh32_known_vectors():
    assert xxh32(b"") == 0x02CC5D05
    assert xxh32(b"", seed=1) == 0x0B2CB792


def test_xxh64_known_vectors():
    assert xxh64(b"") == 0xEF46DB3751D8E999


# --- properties and the corrupt-input contract -----------------------------

def test_frame_roundtrip_all_options():
    rng = random.Random(8)
    for bchk in (False, True):
        for n in (0, 1, 65535, 65536, 65537, 200000):
            data = _texty(rng, n)
            f = lz4_frame_compress(data, block_checksum=bchk)
            assert lz4_frame_decompress(f) == data


def test_frame_incompressible_stored_blocks():
    data = os.urandom(200000)
    f = lz4_frame_compress(data)
    assert len(f) < len(data) + 64      # stored blocks add only headers
    assert lz4_frame_decompress(f) == data


def test_frame_skippable_prefix_and_concat():
    a, b = b"first frame " * 100, b"second frame " * 100
    sk = ((0x184D2A51).to_bytes(4, "little")
          + (6).to_bytes(4, "little") + b"meta\x00\x00")
    blob = sk + lz4_frame_compress(a) + lz4_frame_compress(b)
    assert lz4_frame_decompress(blob) == a + b


def test_frame_corruption_detected():
    f = bytearray(lz4_frame_compress(b"payload " * 1000))
    f[len(f) // 2] ^= 0xFF
    with pytest.raises(Lz4Error):
        lz4_frame_decompress(bytes(f))


def test_skippable_frames_only_decode_to_empty():
    sk = ((0x184D2A5F).to_bytes(4, "little")
          + (3).to_bytes(4, "little") + b"abc")
    assert lz4_frame_decompress(sk + sk) == b""


def _frame(flg: int, dict_id: int | None, blocks: list[bytes]) -> bytes:
    """A hand-built frame: 64 KiB blocks, no content size or checksum;
    each block is (size word, payload)."""
    desc = bytes([flg, 0x40])
    if dict_id is not None:
        desc += dict_id.to_bytes(4, "little")
    return ((0x184D2204).to_bytes(4, "little") + desc
            + bytes([(xxh32(desc) >> 8) & 0xFF]) + b"".join(blocks)
            + b"\x00" * 4)


def test_frame_dictionary_id_decodes_without_dictionary_reference():
    # an 8-byte match at offset 4 before any literal, then 5 literals:
    # well formed when 4 bytes of history precede it (a linked frame
    # whose first block is stored) ...
    block = (9).to_bytes(4, "little") + b"\x04\x04\x00\x50abcde"
    stored = (4 | 0x80000000).to_bytes(4, "little") + b"wxyz"
    assert (lz4_frame_decompress(_frame(0x40, None, [stored, block]))
            == b"wxyz" + b"wxyzwxyzabcde")
    # ... so a frame naming a dictionary decodes while no block reaches
    # into it, and fails once one does (no dictionary is supplied)
    assert lz4_frame_decompress(_frame(0x61, 7, [stored])) == b"wxyz"
    with pytest.raises(Lz4Error):
        lz4_frame_decompress(_frame(0x61, 7, [block]))


@pytest.mark.parametrize("case", ["block_checksum", "content_checksum",
                                  "truncated", "trailing_garbage",
                                  "empty", "bad_magic"])
def test_frame_corrupt_input_contract(case):
    data = b"payload " * 1000
    f = bytearray(lz4_frame_compress(data, block_checksum=True))
    if case == "block_checksum":        # the one block's xxh32
        f[-12] ^= 1
    elif case == "content_checksum":
        f[-1] ^= 1
    elif case == "truncated":
        f = f[:-5]
    elif case == "trailing_garbage":
        f += b"garbage!"
    elif case == "empty":
        f = b""
    else:
        f[0] ^= 1
    with pytest.raises(Lz4Error):
        lz4_frame_decompress(bytes(f))


# --- interop pins against lz4-java ------------------------------------------

def test_xxhash_matches_jvm(spark):
    xxf = spark.sparkContext._jvm.net.jpountz.xxhash.XXHashFactory \
        .fastestInstance()
    h32, h64 = xxf.hash32(), xxf.hash64()
    rng = random.Random(11)
    for _ in range(80):
        data = _texty(rng, rng.randrange(0, 5000))
        seed = rng.randrange(0, 2 ** 31)
        assert h32.hash(data, 0, len(data), seed) & 0xFFFFFFFF \
            == xxh32(data, seed)
        assert h64.hash(data, 0, len(data), seed) \
            & 0xFFFFFFFFFFFFFFFF == xxh64(data, seed)


def test_frame_decoder_on_lz4java_frames(spark):
    jvm = spark.sparkContext._jvm
    rng = random.Random(14)
    for _ in range(8):
        data = _texty(rng, rng.randrange(0, 300000))
        baos = jvm.java.io.ByteArrayOutputStream()
        fos = jvm.net.jpountz.lz4.LZ4FrameOutputStream(baos)
        if data:
            fos.write(data, 0, len(data))
        fos.close()
        assert lz4_frame_decompress(bytes(baos.toByteArray())) == data


def test_lz4java_decodes_our_frames(spark):
    jvm = spark.sparkContext._jvm
    rng = random.Random(15)
    for bchk in (False, True):
        for _ in range(2):
            data = _texty(rng, rng.randrange(0, 300000))
            ours = lz4_frame_compress(data, block_checksum=bchk)
            fis = jvm.net.jpountz.lz4.LZ4FrameInputStream(
                jvm.java.io.ByteArrayInputStream(ours))
            assert bytes(fis.readAllBytes()) == data
