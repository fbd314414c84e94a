"""Compressed streams laid back to back with no length framing: bzip2
and xz multistream dumps, git packfile members. Only the decompressor
knows where each stream ends, so each one is fed to a fresh stdlib
decompressor until its end-of-stream marker."""

from __future__ import annotations


def read_stream(view: memoryview, pos: int, d, name: str) \
        -> tuple[bytes, int]:
    """Feed ``view[pos:]`` to the fresh decompressor ``d`` (any stdlib
    object with ``decompress``/``eof``/``unused_data``) until its
    end-of-stream marker; return the content and the position just past
    the stream. Input goes in doubling slices, so the leftover
    ``unused_data`` stays about the size of the stream itself: feeding
    the whole tail would copy the rest of the blob once per stream."""
    parts = []
    step = 1 << 12
    while not d.eof:
        if pos >= len(view):
            raise ValueError(f"{name}: compressed data ended before the "
                             "end-of-stream marker")
        chunk = view[pos:pos + step]
        parts.append(d.decompress(chunk))
        pos += len(chunk)
        step <<= 1
    return b"".join(parts), pos - len(d.unused_data)
