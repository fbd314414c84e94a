"""bzip2 multistream census over the stdlib ``bz2`` decoder — the
container Wikipedia-class corpus dumps ship in (multistream ``.bz2``:
one stream per page batch, byte-aligned back to back).

``bz2.decompress`` already reads concatenated streams, but it does not
say how many there were, and it silently drops trailing bytes that do
not parse. The census walks the streams one ``BZ2Decompressor`` at a
time (each stops at its end-of-stream marker and leaves the rest in
``unused_data``), refuses trailing garbage, and counts each stream's
blocks by scanning its bits for the 48-bit block magic
``0x314159265359`` — the same scan ``bzip2recover`` uses, since blocks
are bit-aligned and carry no length field.
"""

from __future__ import annotations

import bz2

from .concatenated import read_stream

_BLOCK_MAGIC_BITS = format(0x314159265359, "048b")


def decode_bzip2(blob: bytes) -> dict:
    """Decode a (possibly multistream) .bz2 blob. Returns
    ``{'content', 'n_streams', 'n_blocks'}``. Corrupt data raises the
    stdlib's ``OSError``; truncated or empty input raises
    ``ValueError``."""
    view = memoryview(blob)
    out = []
    n_blocks = 0
    pos = 0
    while pos < len(view):
        content, end = read_stream(view, pos, bz2.BZ2Decompressor(),
                                   "bzip2")
        out.append(content)
        n_blocks += bin(int.from_bytes(view[pos:end], "big")).count(
            _BLOCK_MAGIC_BITS)
        pos = end
    if not out:
        raise ValueError("bzip2: empty input")
    return {"content": b"".join(out), "n_streams": len(out),
            "n_blocks": n_blocks}
