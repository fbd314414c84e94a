"""ZIP container codec: interop pins against the INDEPENDENT stdlib
``zipfile`` (zlib-backed) in both directions, plus container-format
edge cases — data-descriptor streams, forced ZIP64, archive comments,
UTF-8 vs CP437 names, stored members, corruption detection."""

import io
import random
import zipfile

import pytest

from precios_nexo_sperant_etl_spark.operators.ziparchive import (
    ZipError, zip_create, zip_extract, zip_list)


class _NoSeek(io.RawIOBase):
    """Non-seekable sink: forces stdlib zipfile onto the
    data-descriptor path (general-purpose bit 3, zero sizes in the
    local header)."""

    def __init__(self):
        self.b = bytearray()

    def writable(self):
        return True

    def write(self, d):
        self.b += d
        return len(d)


def test_stdlib_writes_ours_reads_deflate_and_stored():
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("a.txt", b"hello world " * 200)
        zf.writestr("dir/b.bin", bytes(range(256)) * 20)
        zf.writestr("stored.txt", b"tiny",
                    compress_type=zipfile.ZIP_STORED)
    members = zip_extract(buf.getvalue())
    assert [m["name"] for m in members] == ["a.txt", "dir/b.bin",
                                            "stored.txt"]
    assert all(m["crc_ok"] for m in members)
    assert members[0]["data"] == b"hello world " * 200
    assert members[1]["data"] == bytes(range(256)) * 20
    assert members[2]["method"] == 0


def test_ours_writes_stdlib_reads_and_testzips():
    rng = random.Random(3)
    entries = [("x.txt", b"compress me " * 500),
               ("raw.bin", bytes(rng.randrange(256) for _ in range(400))),
               ("n/ested/deep.txt", b"nested payload")]
    blob = zip_create(entries)
    zf = zipfile.ZipFile(io.BytesIO(blob))
    assert zf.testzip() is None         # stdlib verifies every CRC
    for name, data in entries:
        assert zf.read(name) == data


def test_unicode_names_both_directions():
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("está/ñame.txt", "acentos y eñes".encode())
    m = zip_extract(buf.getvalue())
    assert m[0]["name"] == "está/ñame.txt"
    assert m[0]["data"].decode() == "acentos y eñes"

    blob = zip_create([("ñandú.txt", "ütf-8 name".encode())])
    zf = zipfile.ZipFile(io.BytesIO(blob))
    assert zf.read("ñandú.txt").decode() == "ütf-8 name"


def test_data_descriptor_stream():
    ns = _NoSeek()
    with zipfile.ZipFile(ns, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("s1.txt", b"streamed " * 50)
        zf.writestr("s2.txt", b"more streamed data")
    members = zip_extract(bytes(ns.b))
    assert [m["name"] for m in members] == ["s1.txt", "s2.txt"]
    assert members[0]["data"] == b"streamed " * 50
    assert all(m["crc_ok"] for m in members)


def test_forced_zip64_members():
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        with zf.open("big.txt", "w", force_zip64=True) as f:
            f.write(b"zip64 payload " * 1000)
    m = zip_extract(buf.getvalue())
    assert m[0]["data"] == b"zip64 payload " * 1000
    assert m[0]["crc_ok"]


def test_archive_comment_eocd_scan():
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("c.txt", b"with comment")
        zf.comment = b"trailing archive comment " * 10
    m = zip_extract(buf.getvalue())
    assert m[0]["data"] == b"with comment"


def test_incompressible_falls_back_to_stored():
    rng = random.Random(9)
    noise = bytes(rng.randrange(256) for _ in range(5000))
    blob = zip_create([("noise.bin", noise)])
    assert zip_list(blob)[0]["method"] == 0
    assert zipfile.ZipFile(io.BytesIO(blob)).read("noise.bin") == noise


def test_corrupted_payload_flagged_by_crc():
    blob = bytearray(zip_create([("p.txt", b"protect me " * 100)],
                                method="stored"))
    # flip a payload byte inside the stored member, past the header
    blob[40] ^= 0xFF
    m = zip_extract(bytes(blob))
    assert not m[0]["crc_ok"]


def test_garbage_rejected():
    with pytest.raises(ZipError):
        zip_extract(b"not a zip file at all")
    with pytest.raises(ZipError):
        zip_extract(b"PK\x05\x06" + b"\x00" * 10)   # truncated EOCD


def test_roundtrip_many_members_property():
    rng = random.Random(4)
    entries = [(f"doc_{i:03d}.txt",
                bytes(rng.choice(b"zip property test \n")
                      for _ in range(rng.randrange(0, 2000))))
               for i in range(40)]
    blob = zip_create(entries)
    members = zip_extract(blob)
    assert [(m["name"], m["data"]) for m in members] == entries
    assert all(m["crc_ok"] for m in members)
    # and stdlib agrees on the same blob
    zf = zipfile.ZipFile(io.BytesIO(blob))
    assert zf.testzip() is None
    assert [zf.read(n) for n, _ in entries] == [d for _, d in entries]


# -- corrupt-input contract: every refusal is a ZipError; a CRC mismatch
# -- is a flagged member, never an error and never silently right


def _stdlib_zip(members):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in members:
            zf.writestr(name, data)
    return buf.getvalue()


def test_invalid_utf8_name_raises_zip_error():
    blob = bytearray(zip_create([("ñ.txt", b"flagged utf-8 name")]))
    cd = blob.rindex(b"PK\x01\x02")
    blob[cd + 46] = 0xFF            # first name byte: not UTF-8 any more
    with pytest.raises(ZipError):
        zip_extract(bytes(blob))


def test_prefixed_archive_reads():
    """A self-extractor stub ahead of an archive whose offsets do not
    count it: every offset is re-anchored to the directory."""
    blob = b"#!/bin/sh\nexec unzip \"$0\"\n" * 2 + zip_create(
        [("a.txt", b"first " * 40), ("b.txt", b"second")])
    members = zip_extract(blob)
    assert [(m["name"], m["data"]) for m in members] == [
        ("a.txt", b"first " * 40), ("b.txt", b"second")]
    assert all(m["crc_ok"] for m in members)


def test_negative_local_header_offset_raises_zip_error():
    """A directory offset past the directory's real start makes the
    inferred prefix negative, and with it the first member's
    local-header offset."""
    blob = bytearray(zip_create([("a.txt", b"payload")]))
    eocd = blob.rindex(b"PK\x05\x06")
    cd_off = int.from_bytes(blob[eocd + 16:eocd + 20], "little")
    blob[eocd + 16:eocd + 20] = (cd_off + 10).to_bytes(4, "little")
    with pytest.raises(ZipError, match="local header offset"):
        zip_extract(bytes(blob))


def test_swallowed_directory_entry_raises_zip_error():
    """A comment length that runs over the next directory entries hides
    them from the byte-bounded directory read; the end record's entry
    count refuses the archive instead of dropping members."""
    blob = bytearray(_stdlib_zip([("a.txt", b"one"), ("b.txt", b"two")]))
    cd = blob.index(b"PK\x01\x02")
    blob[cd + 32] = 0xFF            # comment length of the first entry
    with pytest.raises(ZipError, match="end record"):
        zip_extract(bytes(blob))


def test_every_single_byte_flip_is_refused_flagged_or_benign():
    """Exhaustive single-byte flips of a stdlib archive: each one
    raises ZipError, flags a CRC mismatch, or returns every member's
    bytes intact (a flipped name byte can rename a member)."""
    members = [("a.bin", bytes(range(256)) * 2), ("dir/ñ.txt", b"x" * 300),
               ("s.txt", b"stored")]
    base = _stdlib_zip(members)
    want = sorted(d for _, d in members)
    for i in range(len(base)):
        for x in (0x01, 0x80, 0xFF):
            blob = bytearray(base)
            blob[i] ^= x
            try:
                got = zip_extract(bytes(blob))
            except ZipError:
                continue
            if all(m["crc_ok"] for m in got):
                assert sorted(m["data"] for m in got) == want, (i, x)
