"""bzip2 multistream census (operators/bzip2.py): content, stream count
and block count over stdlib ``bz2`` streams — single and multistream,
single and multi-block, every block-size level — plus loud failure on
corrupt, truncated and trailing-garbage input.

The block count is cross-checked without the census's own bit scan:
``bz2`` at level L cuts a block every L×100k bytes of run-length-coded
input, so incompressible input of known size has a predictable count."""

from __future__ import annotations

import bz2
import random

import pytest

from precios_nexo_sperant_etl_spark.operators.bzip2 import decode_bzip2

rng = random.Random(42)

CASES = [
    b"hello world",
    b"a" * 1000,                                # long single-byte runs
    bytes(rng.randrange(256) for _ in range(5000)),   # full alphabet
    b"the quick brown fox " * 400,              # textual, repetitive
    bytes(rng.choice(b"abcd") for _ in range(100000)),  # ~one 100k block
    b"\x00" * 4,                                # exactly one RLE1 unit
    b"\x00" * 259,                              # max RLE1 run
    b"x",
    b"ab" * 50000,
]


@pytest.mark.parametrize("case", range(len(CASES)))
def test_stdlib_encoder_to_our_decoder(case):
    c = CASES[case]
    for lvl in (1, 9):
        d = decode_bzip2(bz2.compress(c, lvl))
        assert d["content"] == c
        assert d["n_streams"] == 1
        assert d["n_blocks"] >= 1
        if lvl == 9:
            assert d["n_blocks"] == 1


@pytest.mark.parametrize("case", range(len(CASES)))
def test_our_encoder_to_stdlib_decoder(case):
    """The shard layout the queries write — one ``bz2.compress`` stream
    per document, concatenated — reads back the same through the stdlib
    multistream decoder and through the census, one stream and one block
    per record-sized document."""
    c = CASES[case]
    docs = [c[i:i + 7000] for i in range(0, len(c), 7000)]
    blob = b"".join(bz2.compress(doc) for doc in docs)
    assert bz2.decompress(blob) == c
    d = decode_bzip2(blob)
    assert d["content"] == c
    assert d["n_streams"] == d["n_blocks"] == len(docs)


def test_multistream_wikipedia_layout():
    ms = bz2.compress(b"stream-one ") + bz2.compress(b"stream-two")
    d = decode_bzip2(ms)
    assert d["content"] == b"stream-one stream-two"
    assert d["n_streams"] == 2 and d["n_blocks"] == 2
    mixed = bz2.compress(b"level-one ", 1) + bz2.compress(b"level-nine")
    assert decode_bzip2(mixed)["content"] == b"level-one level-nine"


@pytest.mark.parametrize("level,n_bytes,want", [
    (1, 60_000, 1), (1, 150_000, 2), (1, 450_000, 5), (2, 450_000, 3),
    (9, 450_000, 1)])
def test_multi_block_streams(level, n_bytes, want):
    """Random bytes carry no 4-byte runs, so RLE1 is the identity and a
    level-L stream cuts a block just under every L×100k bytes."""
    r = random.Random(n_bytes)
    data = r.randbytes(n_bytes)
    one = decode_bzip2(bz2.compress(data, level))
    assert one["content"] == data
    assert one["n_streams"] == 1 and one["n_blocks"] == want
    two = decode_bzip2(bz2.compress(data, level) + bz2.compress(b"tail"))
    assert two["n_streams"] == 2 and two["n_blocks"] == want + 1


def test_hypothesis_style_fuzz_roundtrip():
    r = random.Random(7)
    for _ in range(40):
        docs = [bytes(r.randrange(256) for _ in range(r.randrange(1, 4000)))
                if r.random() < 0.5 else
                bytes(r.choice(b"aabbbcx\x00")
                      for _ in range(r.randrange(1, 4000)))
                for _ in range(r.randrange(1, 5))]
        blob = b"".join(bz2.compress(doc, r.choice([1, 9])) for doc in docs)
        d = decode_bzip2(blob)
        assert d["content"] == b"".join(docs) == bz2.decompress(blob)
        assert d["n_streams"] == d["n_blocks"] == len(docs)


def test_corruption_is_loud():
    enc = bz2.compress(b"payload " * 100)
    with pytest.raises(OSError):
        decode_bzip2(enc[:-6] + b"\x00" * 6)          # clobber EOS/CRC
    bad = bytearray(enc)
    bad[20] ^= 0xFF                                   # flip data bits
    with pytest.raises(OSError):
        decode_bzip2(bytes(bad))
    with pytest.raises(OSError):
        decode_bzip2(b"notbzip2")
    with pytest.raises(ValueError, match="ended before"):
        decode_bzip2(enc[:-10])                       # truncated
    with pytest.raises(ValueError, match="empty"):
        decode_bzip2(b"")
    # the stdlib drops trailing bytes after a good stream; the census
    # refuses them
    assert bz2.decompress(enc + b"junk") == b"payload " * 100
    with pytest.raises(OSError):
        decode_bzip2(enc + b"junk")


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(st.lists(st.binary(min_size=1, max_size=3000), min_size=1,
                    max_size=4))
    def test_hyp_our_encoder_stdlib_decodes(docs):
        blob = b"".join(bz2.compress(doc) for doc in docs)
        d = decode_bzip2(blob)
        assert d["content"] == bz2.decompress(blob)
        assert d["n_streams"] == d["n_blocks"] == len(docs)

    @settings(max_examples=60, deadline=None)
    @given(st.binary(min_size=0, max_size=3000), st.sampled_from([1, 9]))
    def test_hyp_stdlib_encoder_we_decode(data, lvl):
        assert decode_bzip2(bz2.compress(data, lvl))["content"] == data
except ImportError:  # pragma: no cover
    pass
