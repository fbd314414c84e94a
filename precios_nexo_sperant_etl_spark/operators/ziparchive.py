"""ZIP container reader/writer: the central directory read by stdlib
``zipfile``, members inflated and CRC-checked by us, archives written
by us.

Reading: ``zipfile`` finds the End Of Central Directory (under a
trailing archive comment, through the ZIP64 locator and widened extra
fields, re-anchored under a self-extractor prefix) and decodes the
member names (UTF-8 under general-purpose bit 11, CP437 otherwise).
``zip_extract`` then reads each local header itself and inflates the
payload with ``zlib`` raw deflate (``wbits=-15``). It does not call
``ZipFile.read``: that raises on a bad CRC, while the zip data source
publishes a CRC mismatch as a ``crc_mismatch`` row. Every refusal is a
``ZipError``; a CRC mismatch is a ``crc_ok=False`` member, not an
error.

Writing: ``zip_create`` is ours, so the tests can pin it against the
independent ``zipfile`` (we write, it reads and ``testzip``s).

Reference parity context: the reference ETL walks directories of loose
.xlsx workbooks (Actualizar_Precios_de_Nexo.py:33-45); datasets at
fleet scale ship zipped, so the lake side of this engine needs the
container natively — same motivation as the WARC/TFRecord sources.

Why central-directory-first: streamed zips (general-purpose bit 3) have
zero sizes in the LOCAL header with a data descriptor after the
payload, so the only authoritative sizes/CRCs live in the central
directory.
"""

from __future__ import annotations

import io
import struct
import zipfile
import zlib

_EOCD_SIG = 0x06054B50
_CDFH_SIG = 0x02014B50
_LFH_SIG = 0x04034B50

# fixed deterministic DOS timestamp: 2020-01-01 00:00:00
_DOS_DATE = ((2020 - 1980) << 9) | (1 << 5) | 1
_DOS_TIME = 0


class ZipError(ValueError):
    pass


def zip_list(blob: bytes) -> list[dict]:
    """The central directory, read by stdlib ``zipfile``; no payload
    decompression. ``lfh_offset`` is already shifted by any prefix."""
    try:
        with zipfile.ZipFile(io.BytesIO(blob)) as zf:
            infos = zf.infolist()
    # ValueError covers a name flagged UTF-8 that is not UTF-8
    except (zipfile.BadZipFile, ValueError, EOFError,
            NotImplementedError) as exc:
        raise ZipError(f"bad zip central directory: {exc}") from exc
    # zipfile reads entries until the directory's declared byte size is
    # used up, so a corrupt name or extra length silently swallows the
    # entries after it: hold the count to the end record's (0xFFFF =
    # saturated, the ZIP64 record holds the count). zipfile took the
    # last signature with a whole 22-byte record after it.
    eocd = blob.rfind(struct.pack("<I", _EOCD_SIG), 0, len(blob) - 18)
    (n_total,) = struct.unpack_from("<H", blob, eocd + 10)
    if n_total not in (len(infos), 0xFFFF):
        raise ZipError(f"central directory holds {len(infos)} entries, "
                       f"the end record says {n_total}")
    return [{"name": i.filename, "method": i.compress_type,
             "flags": i.flag_bits, "crc": i.CRC,
             "compressed_size": i.compress_size,
             "uncompressed_size": i.file_size,
             "lfh_offset": i.header_offset} for i in infos]


def zip_extract(blob: bytes) -> list[dict]:
    """Decode every member: returns dicts with ``name``, ``data``,
    ``method``, ``crc_ok``. Sizes and CRC come from the central
    directory (authoritative for data-descriptor streams)."""
    out = []
    for e in zip_list(blob):
        off = e["lfh_offset"]
        # zipfile shifts offsets by the prefix it infers, which a
        # corrupt directory offset makes negative
        if off < 0 or off + 30 > len(blob):
            raise ZipError(f"local header offset out of range: {off}")
        (sig, vneed, flags, method, mtime, mdate, crc, csize, usize,
         nlen, elen) = struct.unpack_from("<IHHHHHIIIHH", blob, off)
        if sig != _LFH_SIG:
            raise ZipError(f"bad local-header signature for {e['name']!r}")
        data_off = off + 30 + nlen + elen
        comp = blob[data_off:data_off + e["compressed_size"]]
        if len(comp) != e["compressed_size"]:
            raise ZipError(f"member payload truncated: {e['name']!r}")
        if e["method"] == 0:
            data = comp
        elif e["method"] == 8:
            try:
                data = zlib.decompress(comp, -15)
            except zlib.error as exc:
                raise ZipError(
                    f"deflate error in {e['name']!r}: {exc}") from exc
        else:
            raise ZipError(f"unsupported compression method "
                           f"{e['method']} for {e['name']!r}")
        if len(data) != e["uncompressed_size"]:
            raise ZipError(f"size mismatch for {e['name']!r}: directory "
                           f"says {e['uncompressed_size']}, got {len(data)}")
        out.append({"name": e["name"], "data": data,
                    "method": e["method"],
                    "crc_ok": zlib.crc32(data) == e["crc"]})
    return out


def zip_create(entries: list[tuple[str, bytes]],
               method: str = "deflate") -> bytes:
    """Build a zip readable by any conforming implementation. Entries
    keep input order; names are written UTF-8 with bit 11 set when
    non-ASCII. ``method`` = ``deflate`` (falls back to stored per
    member when deflate does not shrink it) or ``stored``."""
    if method not in ("deflate", "stored"):
        raise ZipError("method must be 'deflate' or 'stored'")
    body = bytearray()
    central = bytearray()
    for name, data in entries:
        try:
            raw_name = name.encode("ascii")
            flags = 0
        except UnicodeEncodeError:
            raw_name = name.encode("utf-8")
            flags = 1 << 11
        crc = zlib.crc32(data)
        if method == "deflate":
            c = zlib.compressobj(wbits=-15)
            comp = c.compress(data) + c.flush()
            m = 8
            if len(comp) >= len(data):
                comp, m = data, 0
        else:
            comp, m = data, 0
        lfh_off = len(body)
        hdr = struct.pack("<IHHHHHIIIHH", _LFH_SIG, 20, flags, m,
                          _DOS_TIME, _DOS_DATE, crc, len(comp),
                          len(data), len(raw_name), 0)
        body += hdr + raw_name + comp
        central += struct.pack("<IHHHHHHIIIHHHHHII", _CDFH_SIG, 20, 20,
                               flags, m, _DOS_TIME, _DOS_DATE, crc,
                               len(comp), len(data), len(raw_name), 0,
                               0, 0, 0, 0, lfh_off)
        central += raw_name
    cd_off = len(body)
    eocd = struct.pack("<IHHHHIIH", _EOCD_SIG, 0, 0, len(entries),
                       len(entries), len(central), cd_off, 0)
    return bytes(body + central + eocd)
