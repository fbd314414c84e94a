"""Property/fuzz checks for the second-session r11 codecs (hypothesis):
mutation fuzz must terminate with a LOUD error or a correct parse —
never hang, never silently succeed with wrong content — and valid
inputs roundtrip under arbitrary payloads."""

import io
import sqlite3
import zipfile

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from precios_nexo_sperant_etl_spark.operators.gitpack import (
    GitError, build_pack, parse_pack)
from precios_nexo_sperant_etl_spark.operators.lz4codec import (
    Lz4Error, lz4_frame_compress, lz4_frame_decompress)
from precios_nexo_sperant_etl_spark.operators.sqlitefile import (
    SqliteError, sqlite_read_table)
from precios_nexo_sperant_etl_spark.operators.ziparchive import (
    ZipError, zip_create, zip_extract)

# Garbage may die anywhere inside a struct walk; the contract is
# TERMINATION with an exception, not silent wrong output. The named
# module errors dominate; slicing/unpacking errors are acceptable
# residue on byte-level truncation.
_LOUD = (Lz4Error, ZipError, SqliteError, GitError, ValueError,
         IndexError, KeyError, OverflowError, UnicodeDecodeError)


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_lz4_frame_roundtrips_any_payload(raw):
    for bchk in (False, True):
        blob = lz4_frame_compress(raw, block_checksum=bchk)
        assert lz4_frame_decompress(blob) == raw


@settings(max_examples=80, deadline=None)
@given(st.binary(min_size=1, max_size=300), st.data())
def test_lz4_frame_mutation_never_silently_wrong(raw, data):
    blob = bytearray(lz4_frame_compress(raw))
    i = data.draw(st.integers(0, len(blob) - 1))
    flip = data.draw(st.integers(1, 255))
    blob[i] ^= flip
    try:
        out = lz4_frame_decompress(bytes(blob))
    except _LOUD:
        return
    # survivors must be byte-correct (the flip hit dead space, e.g.
    # inside a stored block's size high bits that re-validate)
    assert out == raw


@settings(max_examples=50, deadline=None)
@given(st.lists(st.binary(max_size=200), min_size=0, max_size=6))
def test_zip_roundtrips_any_payloads(payloads):
    entries = [(f"m_{i:02d}.bin", p) for i, p in enumerate(payloads)]
    members = zip_extract(zip_create(entries))
    assert [(m["name"], m["data"]) for m in members] == entries
    assert all(m["crc_ok"] for m in members)


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=1, max_size=300), st.data())
def test_zip_mutation_terminates(raw, data):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("a.bin", raw)
    blob = bytearray(buf.getvalue())
    i = data.draw(st.integers(0, len(blob) - 1))
    blob[i] ^= data.draw(st.integers(1, 255))
    try:
        members = zip_extract(bytes(blob))
    except ZipError:                # every refusal is a ZipError
        return
    for m in members:
        # wrong bytes must be flagged by CRC (or the flip was benign)
        assert m["crc_ok"] is False or m["data"] == raw or m["name"] != "a.bin"


@settings(max_examples=40, deadline=None)
@given(st.binary(min_size=0, max_size=200))
def test_garbage_never_parses_as_containers(junk):
    with pytest.raises(_LOUD):
        zip_extract(junk)
    with pytest.raises(_LOUD):
        parse_pack(junk)
    with pytest.raises(_LOUD):
        sqlite_read_table(junk, "t")
    if not junk.startswith(b"\x04\x22\x4d\x18"):
        with pytest.raises(_LOUD):
            lz4_frame_decompress(junk)


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_sqlite_mutation_terminates(data):
    con = sqlite3.connect(":memory:")
    con.execute("create table t(k integer primary key, v text)")
    con.executemany("insert into t values (?,?)",
                    [(i, f"row {i} " * 5) for i in range(30)])
    blob = bytearray(con.serialize())
    for _ in range(4):
        i = data.draw(st.integers(0, len(blob) - 1))
        blob[i] ^= data.draw(st.integers(1, 255))
    try:
        got = sqlite_read_table(bytes(blob), "t")
        assert len(got["rows"]) <= 30 + 4      # no runaway growth
    except _LOUD:
        pass


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_gitpack_mutation_terminates(data):
    pack = bytearray(build_pack(
        [("blob", b"payload " * 20), ("blob", b"second " * 10)]))
    i = data.draw(st.integers(0, len(pack) - 1))
    pack[i] ^= data.draw(st.integers(1, 255))
    try:
        parse_pack(bytes(pack))
        # any undetected flip must be confined to dead space; the
        # SHA-1 trailer covers every byte, so success means the flip
        # cancelled in the checksum — impossible for a single flip
        raise AssertionError("single-bit flip escaped the pack SHA-1")
    except _LOUD:
        pass
