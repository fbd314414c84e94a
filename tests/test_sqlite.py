"""SQLite table reads (``sqlite_read_table``): the stdlib sqlite3
writes each database and its own query results are the expected
values. Covers serial-type widths, overflow chains, multi-level
b-trees, deletes, IPK rowid aliasing, ALTER TABLE short records, page
sizes, rowids, and the refused shapes: every bad input ends in
SqliteError."""

import random
import sqlite3

import pytest

from precios_nexo_sperant_etl_spark.operators.sqlitefile import (
    SqliteError, sqlite_read_table)


def _db(page_size=None):
    con = sqlite3.connect(":memory:")
    if page_size:
        con.execute(f"PRAGMA page_size = {page_size}")
    return con


def test_serial_type_zoo():
    con = _db()
    con.execute("create table z(a, b, c, d, e)")
    rows = [
        (None, 0, 1, 2.5, "texto"),
        (-1, 127, -128, 32767, -32768),
        (8388607, -8388608, 2147483647, -2147483648, 140737488355327),
        (-140737488355328, 9223372036854775807, -9223372036854775808,
         0.0, -0.0),
        (b"", b"\x00\xff", "", "acentos eñes 漢字", 1),
    ]
    con.executemany("insert into z values (?,?,?,?,?)", rows)
    got = sqlite_read_table(con.serialize(), "z")
    exp = con.execute("select a,b,c,d,e from z").fetchall()
    assert got["rows"] == exp


def test_interior_pages_overflow_and_deletes():
    con = _db()
    con.execute("create table docs(doc_id integer primary key, t text,"
                " n real, b blob, flag integer)")
    rng = random.Random(5)
    rows = []
    for i in range(2500):
        t = "texto único " * rng.randrange(0, 400) + f"fin{i}"
        rows.append((i * 3, t,
                     rng.random() * 1000 - 500 if i % 7 else None,
                     bytes(rng.randrange(256)
                           for _ in range(rng.randrange(0, 50))),
                     rng.choice([0, 1, None, -12345678901234])))
    con.executemany("insert into docs values (?,?,?,?,?)", rows)
    con.execute("delete from docs where doc_id % 30 = 12")
    got = sqlite_read_table(con.serialize(), "docs")
    assert got["columns"] == ["doc_id", "t", "n", "b", "flag"]
    exp = con.execute(
        "select doc_id,t,n,b,flag from docs order by doc_id").fetchall()
    # walk_table is an in-order traversal: rowid order, no sort needed
    assert got["rows"] == exp


def test_ipk_alias_and_plain_rowid():
    con = _db()
    con.execute("create table ipk(k integer primary key, v text)")
    con.execute("create table plain(v text)")
    con.executemany("insert into ipk values (?,?)",
                    [(10, "a"), (-5, "b"), (99, "c")])
    con.executemany("insert into plain values (?)", [("x",), ("y",)])
    blob = con.serialize()
    got = sqlite_read_table(blob, "ipk")
    assert sorted(got["rows"]) == [(-5, "b"), (10, "a"), (99, "c")]
    assert sqlite_read_table(blob, "plain")["rows"] == [("x",), ("y",)]


def test_alter_table_short_records():
    con = _db()
    con.execute("create table t(a)")
    con.execute("insert into t values (1)")
    con.execute("alter table t add column b text")
    con.execute("insert into t values (2, 'full')")
    got = sqlite_read_table(con.serialize(), "t")
    assert got["columns"] == ["a", "b"]
    assert sorted(got["rows"]) == [(1, None), (2, "full")]


def test_quoted_and_bracketed_column_names():
    con = _db()
    con.execute('create table q("número de", [otra col], `ticks`)')
    con.execute("insert into q values (1, 2, 3)")
    got = sqlite_read_table(con.serialize(), "q")
    assert got["columns"] == ["número de", "otra col", "ticks"]
    assert got["rows"] == [(1, 2, 3)]


@pytest.mark.parametrize("page_size", [512, 4096, 32768])
def test_page_sizes(page_size):
    con = _db(page_size)
    con.execute("create table p(k integer primary key, t text)")
    con.executemany("insert into p values (?,?)",
                    [(i, f"fila {i} " * 20) for i in range(800)])
    got = sqlite_read_table(con.serialize(), "p")
    assert got["rows"] == con.execute(
        "select k,t from p order by k").fetchall()


def test_without_rowid_refused():
    con = _db()
    con.execute("create table w(k text primary key, v) without rowid")
    con.execute("insert into w values ('a', 1)")
    with pytest.raises(SqliteError, match="WITHOUT ROWID"):
        sqlite_read_table(con.serialize(), "w")


def test_rowids_are_sqlites_after_deletes():
    con = _db()
    con.execute("create table t(v text)")
    con.executemany("insert into t values (?)",
                    [(c,) for c in "abcde"])
    con.execute("delete from t where v = 'b'")
    con.execute("create table ipk(k integer primary key, v text)")
    con.executemany("insert into ipk values (?,?)",
                    [(10, "a"), (-5, "b"), (99, "c")])
    blob = con.serialize()
    got = sqlite_read_table(blob, "t")
    assert got["rowids"] == [1, 3, 4, 5]
    assert got["rows"] == [("a",), ("c",), ("d",), ("e",)]
    got = sqlite_read_table(blob, "ipk")
    assert got["rowids"] == [-5, 10, 99]
    assert got["rows"] == [(-5, "b"), (10, "a"), (99, "c")]
    assert got["types"] == ["INTEGER", "TEXT"]
    # a column named rowid shadows the keyword, not the rowid itself
    con.execute('create table shadow("ROWID" text, v)')
    con.executemany("insert into shadow values (?,?)",
                    [("r1", 1), ("r2", 2), ("r3", 3)])
    con.execute("delete from shadow where v = 1")
    got = sqlite_read_table(con.serialize(), "shadow")
    assert got["rowids"] == [2, 3]
    assert got["rows"] == [("r2", 2), ("r3", 3)]


def _wal_file(path):
    """A WAL-mode database whose -wal sidecar holds a committed 11th
    row; the connection is returned open so the sidecar stays."""
    con = sqlite3.connect(path)
    con.execute("PRAGMA journal_mode = WAL")
    con.execute("PRAGMA wal_autocheckpoint = 0")
    con.execute("create table t(k integer primary key)")
    con.executemany("insert into t values (?)",
                    [(i,) for i in range(10)])
    con.commit()
    con.execute("PRAGMA wal_checkpoint(TRUNCATE)")
    con.execute("insert into t values (10)")
    con.commit()
    return con


def test_wal_mode_refused(tmp_path):
    path = str(tmp_path / "wal.sqlite")
    con = _wal_file(path)
    try:
        assert con.execute("select count(*) from t").fetchone() == (11,)
        with open(path, "rb") as f:
            blob = f.read()
        with pytest.raises(SqliteError, match="WAL"):
            sqlite_read_table(blob, "t")
    finally:
        con.close()


@pytest.mark.parametrize("blob", [b"", b"SQLite format 3\x00\x10\x00"],
                         ids=["empty", "truncated"])
def test_empty_and_truncated_refused(blob):
    with pytest.raises(SqliteError):
        sqlite_read_table(blob, "t")


def test_garbage_and_missing_table():
    with pytest.raises(SqliteError, match="magic"):
        sqlite_read_table(b"definitely not a database" * 10, "t")
    con = _db()
    con.execute("create table t(a)")
    with pytest.raises(SqliteError, match="no such table"):
        sqlite_read_table(con.serialize(), "nope")


def test_corruption_always_raises_sqlite_error():
    """Every mutated-byte failure surfaces as SqliteError — never a raw
    struct.error/IndexError escaping the b-tree walk (r12 contract)."""
    con = _db()
    con.execute("create table t(k integer primary key, v text)")
    con.executemany("insert into t values (?,?)",
                    [(i, f"row {i} " * 5) for i in range(30)])
    base = bytes(con.serialize())
    for pos in range(16, len(base), 7):
        blob = bytearray(base)
        blob[pos] ^= 0xFF
        try:
            got = sqlite_read_table(bytes(blob), "t")
            assert len(got["rows"]) <= 34
        except SqliteError:
            pass


def test_overflow_chain_cycle_terminates():
    """An overflow page pointing back at itself must terminate (the
    pre-r12 walk looped forever appending empty slices): either a
    SqliteError or a bounded garbage parse is acceptable."""
    con = _db()
    con.execute("create table big(v text)")
    con.execute("insert into big values (?)", ("x" * 20000,))
    blob = bytearray(con.serialize())
    page_size = int.from_bytes(blob[16:18], "big") or 65536
    n_pages = len(blob) // page_size
    # point every overflow page's next-pointer at itself
    changed = 0
    for p in range(1, n_pages + 1):
        off = (p - 1) * page_size
        nxt = int.from_bytes(blob[off:off + 4], "big")
        if 0 < nxt <= n_pages and blob[off + (100 if p == 1 else 0)] \
                not in (2, 5, 10, 13):
            blob[off:off + 4] = p.to_bytes(4, "big")
            changed += 1
    assert changed, "fixture no longer produces overflow pages"
    try:
        got = sqlite_read_table(bytes(blob), "big")
        assert len(got["rows"]) <= 1
    except SqliteError:
        pass


def test_on_disk_file(tmp_path):
    path = str(tmp_path / "export.sqlite")
    con = sqlite3.connect(path)
    con.execute("PRAGMA journal_mode = DELETE")
    con.execute("create table f(k integer primary key, v real)")
    con.executemany("insert into f values (?,?)",
                    [(i, i * 0.5) for i in range(100)])
    con.commit()
    con.close()
    with open(path, "rb") as f:
        got = sqlite_read_table(f.read(), "f")
    assert sorted(got["rows"]) == [(i, i * 0.5) for i in range(100)]
