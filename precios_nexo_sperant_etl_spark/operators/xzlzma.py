"""xz multistream census over the stdlib ``lzma`` decoder — the dump
container of the xz-utils world (HF dataset shards, kernel/source
tarballs, many public corpora).

Each stream is decoded by its own ``LZMADecompressor`` (liblzma checks
every header, block check, index and footer), with the 4-byte zero
stream padding between streams skipped as the xz format allows. The
census then reads two fields liblzma has already verified: the check
type from the stream-flags byte, and the block count from the index's
record count, found through the footer's backward size.
"""

from __future__ import annotations

import lzma

from .concatenated import read_stream

_CHECK_NAMES = {0x00: "none", 0x01: "crc32", 0x04: "crc64",
                0x0A: "sha256"}


def decode_xz(blob: bytes) -> dict:
    """Decode a (possibly multi-stream) .xz blob. Returns
    ``{'content', 'n_streams', 'n_blocks', 'checks'}`` where checks is
    the list of per-stream check names. Corrupt data raises
    ``lzma.LZMAError``; truncated or empty input raises ``ValueError``."""
    view = memoryview(blob)
    out = []
    checks: list[str] = []
    n_blocks = 0
    pos = 0
    while pos < len(view):
        if view[pos:pos + 4] == b"\x00\x00\x00\x00":
            pos += 4                      # stream padding
            continue
        content, end = read_stream(
            view, pos, lzma.LZMADecompressor(lzma.FORMAT_XZ), "xz")
        out.append(content)
        checks.append(_CHECK_NAMES.get(view[pos + 7] & 0x0F, "reserved"))
        # footer: CRC32, backward size, flags, 'YZ'; the index it points
        # at opens with a 0x00 indicator, then the record-count VLI
        backward = int.from_bytes(view[end - 8:end - 4], "little")
        rec = end - 12 - (backward + 1) * 4 + 1
        shift = 0
        for b in view[rec:rec + 9]:
            n_blocks += (b & 0x7F) << shift
            shift += 7
            if not b & 0x80:
                break
        pos = end
    if not out:
        raise ValueError("xz: empty input")
    return {"content": b"".join(out), "n_streams": len(out),
            "n_blocks": n_blocks, "checks": checks}
