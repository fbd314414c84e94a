"""SQLite database-file table reads through the stdlib ``sqlite3``.

Operational exports often arrive as ``.sqlite``/``.db`` files (app
telemetry, crawl frontiers, annotation tools). At fleet scale each file
is one partition: the read is partition-local bytes-in/rows-out, the
same executor-side shape as the WARC/xlsx/zip walkers. The reference
ETL has no database ingestion at all (its only source is .xlsx —
Actualizar_Precios_de_Nexo.py:33-45); this is lake-side surface.

``sqlite_read_table`` hands the file's bytes to the real SQLite library
(``Connection.deserialize`` into a private ``:memory:`` connection) and
reads one rowid table back. Every bad input ends in ``SqliteError``:
a missing magic, a truncated or corrupt file, undecodable text, a
missing table, WITHOUT ROWID tables (they have no rowid to publish) and
WAL-mode files, whose ``-wal`` sidecar may hold committed rows that the
file's bytes alone do not.
"""

from __future__ import annotations

import sqlite3


class SqliteError(ValueError):
    pass


_MAGIC = b"SQLite format 3\x00"


def sqlite_read_table(blob: bytes, table: str, rows: bool = True) -> dict:
    """Read every row of ``table`` in rowid order. Returns
    ``{"columns": [...], "types": [...], "rowids": [...],
    "rows": [tuple, ...]}``: ``types`` are the declared column types
    as ``PRAGMA table_info`` reports them, and an INTEGER PRIMARY KEY
    column holds its row's rowid. ``rows=False`` validates the file and
    the table the same way but skips the row fetch, leaving ``rowids``
    and ``rows`` out: a schema needs only the column types."""
    # checked before deserialize: an empty blob makes it raise MemoryError
    if blob[:16] != _MAGIC:
        raise SqliteError("not a SQLite database (bad magic)")
    if 2 in blob[18:20]:                # write/read format versions
        raise SqliteError("WAL-mode database: its -wal sidecar may hold "
                          "committed rows the file alone does not")
    con = sqlite3.connect(":memory:")
    try:
        con.deserialize(blob)
        kind = con.execute(
            "SELECT type, wr FROM pragma_table_list "
            "WHERE schema = 'main' AND name = ?", (table,)).fetchone()
        if kind is None or kind[0] != "table":
            raise SqliteError(f"no such table: {table!r}")
        if kind[1]:
            raise SqliteError(f"{table!r} is a WITHOUT ROWID table: it "
                              "has no rowid to publish")
        info = con.execute("SELECT name, type FROM pragma_table_info(?) "
                           "ORDER BY cid", (table,)).fetchall()
        columns = [name for name, _ in info]
        # a column may shadow a rowid alias; SQLite offers three
        lowered = {c.lower() for c in columns}
        alias = next((a for a in ("rowid", "_rowid_", "oid")
                      if a not in lowered), None)
        if alias is None:
            raise SqliteError(f"{table!r} shadows every rowid alias")
        out = {"columns": columns, "types": [t for _, t in info]}
        if rows:
            quoted = '"' + table.replace('"', '""') + '"'
            got = con.execute(f"SELECT {alias}, * FROM {quoted} "
                              f"ORDER BY {alias}").fetchall()
            out["rowids"] = [r[0] for r in got]
            out["rows"] = [r[1:] for r in got]
    except (sqlite3.Error, UnicodeDecodeError) as e:
        raise SqliteError(f"corrupt database: {type(e).__name__}: {e}") \
            from e
    finally:
        con.close()
    return out
