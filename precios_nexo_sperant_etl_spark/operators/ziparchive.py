"""From-scratch ZIP container reader/writer over stdlib raw DEFLATE.

Implements the public PKWARE APPNOTE.TXT container format: End Of
Central Directory (+ ZIP64 EOCD/locator), central directory file
headers, local file headers, data-descriptor streams, methods 0
(stored) and 8 (raw RFC 1951 deflate through ``zlib`` with
``wbits=-15``), CRC-32 verification, and UTF-8 name handling
(general-purpose bit 11 and the CP437 legacy fallback). The container
walk is ours; stdlib ``zipfile`` is the independent implementation the
tests pin against in both directions (it writes, we read; we write, it
reads and ``testzip``s).

Reference parity context: the reference ETL walks directories of loose
.xlsx workbooks (Actualizar_Precios_de_Nexo.py:33-45); datasets at
fleet scale ship zipped, so the lake side of this engine needs the
container natively — same motivation as the WARC/TFRecord sources.

Why central-directory-first: streamed zips (general-purpose bit 3) have
zero sizes in the LOCAL header with a data descriptor after the
payload, so the only authoritative sizes/CRCs live in the central
directory. We therefore locate members via the directory and use its
sizes, which also makes the reader robust to self-extractor prefixes
(the EOCD scan anchors everything to the directory offset delta).
"""

from __future__ import annotations

import struct
import zlib

_EOCD_SIG = 0x06054B50
_EOCD64_SIG = 0x06064B50
_EOCD64_LOC_SIG = 0x07064B50
_CDFH_SIG = 0x02014B50
_LFH_SIG = 0x04034B50

# fixed deterministic DOS timestamp: 2020-01-01 00:00:00
_DOS_DATE = ((2020 - 1980) << 9) | (1 << 5) | 1
_DOS_TIME = 0


class ZipError(ValueError):
    pass


def _decode_name(raw: bytes, flags: int) -> str:
    if flags & (1 << 11):               # EFS: name is UTF-8
        return raw.decode("utf-8")
    return raw.decode("cp437")


def _find_eocd(blob: bytes) -> tuple[int, dict]:
    """Scan the last 64 KiB + 22 bytes for the EOCD record (the comment
    may be up to 65535 bytes, so the signature is not at a fixed
    offset)."""
    n = len(blob)
    lo = max(0, n - 22 - 0xFFFF)
    pos = blob.rfind(struct.pack("<I", _EOCD_SIG), lo)
    while pos >= 0:
        if pos + 22 <= n:
            (sig, disk, cd_disk, n_disk, n_total, cd_size, cd_off,
             clen) = struct.unpack_from("<IHHHHIIH", blob, pos)
            if pos + 22 + clen == n:
                return pos, {"disk": disk, "n_total": n_total,
                             "cd_size": cd_size, "cd_off": cd_off}
        pos = blob.rfind(struct.pack("<I", _EOCD_SIG), lo, pos)
    raise ZipError("no End-Of-Central-Directory record found")


def _maybe_zip64(blob: bytes, eocd_pos: int, eocd: dict) -> dict:
    """If the EOCD fields are saturated, chase the ZIP64 locator."""
    need64 = (eocd["n_total"] == 0xFFFF or eocd["cd_off"] == 0xFFFFFFFF
              or eocd["cd_size"] == 0xFFFFFFFF)
    loc_pos = eocd_pos - 20
    if loc_pos >= 0:
        (sig,) = struct.unpack_from("<I", blob, loc_pos)
        if sig == _EOCD64_LOC_SIG:
            (_, _, e64_off, _) = struct.unpack_from("<IIQI", blob, loc_pos)
            (sig64, _, _, _, _, _, n_total, cd_size, cd_off) = \
                struct.unpack_from("<IQHHIIQQQ", blob, e64_off)
            # <IQHHIIQQQ: sig, size-of-record, ver-made, ver-need,
            # disk, cd-disk, entries-this-disk... need careful layout:
            if sig64 != _EOCD64_SIG:
                raise ZipError("ZIP64 locator points at a non-EOCD64")
            (sig64, rec_size, vmade, vneed, disk, cd_disk, n_this,
             n_total, cd_size, cd_off) = struct.unpack_from(
                "<IQHHIIQQQQ", blob, e64_off)
            return {"n_total": n_total, "cd_size": cd_size,
                    "cd_off": cd_off}
    if need64:
        raise ZipError("EOCD fields saturated but no ZIP64 locator")
    return eocd


def _extra_u64s(extra: bytes, need: int) -> list[int]:
    """Pull ``need`` uint64s from the 0x0001 ZIP64 extra field."""
    pos = 0
    while pos + 4 <= len(extra):
        tag, sz = struct.unpack_from("<HH", extra, pos)
        pos += 4
        if tag == 0x0001:
            vals = []
            off = pos
            for _ in range(need):
                if off + 8 > pos + sz:
                    break
                vals.append(struct.unpack_from("<Q", extra, off)[0])
                off += 8
            return vals
        pos += sz
    return []


def zip_list(blob: bytes) -> list[dict]:
    """Parse the central directory; no payload decompression."""
    eocd_pos, eocd = _find_eocd(blob)
    eocd = _maybe_zip64(blob, eocd_pos, eocd)
    # tolerate a fixed prefix (self-extractor stub): the directory ends
    # where the EOCD (or EOCD64) begins, so re-anchor its start.
    cd_start = eocd["cd_off"]
    entries: list[dict] = []
    pos = cd_start
    for _ in range(eocd["n_total"]):
        if pos + 46 > len(blob):
            raise ZipError("central directory truncated")
        (sig, vmade, vneed, flags, method, mtime, mdate, crc, csize,
         usize, nlen, elen, clen, disk, iattr, eattr, lfh_off) = \
            struct.unpack_from("<IHHHHHHIIIHHHHHII", blob, pos)
        if sig != _CDFH_SIG:
            raise ZipError(f"bad central-directory signature at {pos}")
        pos += 46
        raw_name = blob[pos:pos + nlen]
        pos += nlen
        extra = blob[pos:pos + elen]
        pos += elen
        pos += clen
        saturated = [v for v in (usize, csize, lfh_off)
                     if v == 0xFFFFFFFF]
        if saturated:
            vals = _extra_u64s(extra, len(saturated))
            if len(vals) != len(saturated):
                raise ZipError("ZIP64 extra field missing widened sizes")
            it = iter(vals)
            if usize == 0xFFFFFFFF:
                usize = next(it)
            if csize == 0xFFFFFFFF:
                csize = next(it)
            if lfh_off == 0xFFFFFFFF:
                lfh_off = next(it)
        entries.append({
            "name": _decode_name(raw_name, flags),
            "method": method, "flags": flags, "crc": crc,
            "compressed_size": csize, "uncompressed_size": usize,
            "lfh_offset": lfh_off,
        })
    return entries


def zip_extract(blob: bytes) -> list[dict]:
    """Decode every member: returns dicts with ``name``, ``data``,
    ``method``, ``crc_ok``. Sizes and CRC come from the central
    directory (authoritative for data-descriptor streams)."""
    out = []
    for e in zip_list(blob):
        off = e["lfh_offset"]
        if off + 30 > len(blob):
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
