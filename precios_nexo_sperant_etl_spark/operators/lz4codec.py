"""LZ4 frames over the liblz4 that pyarrow bundles, plus xxHash32.

liblz4 compresses the blocks (``codec="lz4_raw"``) and decodes whole
frames (``CompressedInputStream(..., "lz4")``): concatenated and
skippable frames, header/block/content checksums and the declared
content size are all checked there. This module keeps ``xxh32``
(nothing installed computes it in a Python worker) and the frame
writer, because pyarrow's frame encoder writes no checksums and
``.warc.lz4`` files carry a content checksum. Written frames
(lz4_Frame_format.md v1.6.3): version 1, independent 64 KiB blocks,
content size and content xxh32 always, block xxh32 on request, a block
that does not shrink stored raw. ``tests/test_lz4.py`` pins them both
directions against the independent lz4-java bundled with Spark.
"""

from __future__ import annotations

import struct

import pyarrow as pa

_M32 = 0xFFFFFFFF


class Lz4Error(ValueError):
    pass


# ---------------------------------------------------------------------------
# xxHash32 (spec: xxhash_spec.md, Yann Collet)
# ---------------------------------------------------------------------------

_P32_1 = 2654435761
_P32_2 = 2246822519
_P32_3 = 3266489917
_P32_4 = 668265263
_P32_5 = 374761393


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def xxh32(data: bytes, seed: int = 0) -> int:
    n = len(data)
    pos = 0
    if n >= 16:
        a1 = (seed + _P32_1 + _P32_2) & _M32
        a2 = (seed + _P32_2) & _M32
        a3 = seed & _M32
        a4 = (seed - _P32_1) & _M32
        lim = n - 16
        while pos <= lim:
            l1, l2, l3, l4 = struct.unpack_from("<IIII", data, pos)
            a1 = (_rotl32((a1 + l1 * _P32_2) & _M32, 13) * _P32_1) & _M32
            a2 = (_rotl32((a2 + l2 * _P32_2) & _M32, 13) * _P32_1) & _M32
            a3 = (_rotl32((a3 + l3 * _P32_2) & _M32, 13) * _P32_1) & _M32
            a4 = (_rotl32((a4 + l4 * _P32_2) & _M32, 13) * _P32_1) & _M32
            pos += 16
        acc = (_rotl32(a1, 1) + _rotl32(a2, 7)
               + _rotl32(a3, 12) + _rotl32(a4, 18)) & _M32
    else:
        acc = (seed + _P32_5) & _M32
    acc = (acc + n) & _M32
    while pos + 4 <= n:
        (lane,) = struct.unpack_from("<I", data, pos)
        acc = (_rotl32((acc + lane * _P32_3) & _M32, 17) * _P32_4) & _M32
        pos += 4
    while pos < n:
        acc = (_rotl32((acc + data[pos] * _P32_5) & _M32, 11) * _P32_1) & _M32
        pos += 1
    acc ^= acc >> 15
    acc = (acc * _P32_2) & _M32
    acc ^= acc >> 13
    acc = (acc * _P32_3) & _M32
    acc ^= acc >> 16
    return acc


# ---------------------------------------------------------------------------
# Frame format
# ---------------------------------------------------------------------------

_FRAME_MAGIC = 0x184D2204
_SKIP_MAGIC_LO = 0x184D2A50
_SKIP_MAGIC_HI = 0x184D2A5F
_BLOCK = 1 << 16                        # BD block max size id 4
# FLG: version 01, independent blocks, content size, content checksum
_FLG = (1 << 6) | (1 << 5) | (1 << 3) | (1 << 2)


def lz4_frame_compress(data: bytes, *, block_checksum: bool = False) -> bytes:
    desc = (bytes([_FLG | (block_checksum << 4), 4 << 4])
            + struct.pack("<Q", len(data)))
    out = bytearray(struct.pack("<I", _FRAME_MAGIC))
    out += desc
    out.append((xxh32(desc) >> 8) & 0xFF)
    for off in range(0, len(data), _BLOCK):
        chunk = data[off:off + _BLOCK]
        comp = pa.compress(chunk, codec="lz4_raw", asbytes=True)
        if len(comp) >= len(chunk):     # incompressible: store raw
            out += struct.pack("<I", len(chunk) | 0x80000000)
            payload = chunk
        else:
            out += struct.pack("<I", len(comp))
            payload = comp
        out += payload
        if block_checksum:
            out += struct.pack("<I", xxh32(payload))
    out += b"\x00\x00\x00\x00"          # EndMark
    out += struct.pack("<I", xxh32(data))
    return bytes(out)


def lz4_frame_decompress(blob: bytes) -> bytes:
    if len(blob) < 4:
        raise Lz4Error("no LZ4 frame found")
    (magic,) = struct.unpack_from("<I", blob)
    if magic != _FRAME_MAGIC and not _SKIP_MAGIC_LO <= magic <= _SKIP_MAGIC_HI:
        raise Lz4Error(f"bad frame magic 0x{magic:08x}")
    try:
        return pa.CompressedInputStream(pa.BufferReader(blob), "lz4").read()
    except (OSError, pa.ArrowException) as ex:
        raise Lz4Error(str(ex)) from ex
