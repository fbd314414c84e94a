"""Avro Object Container Files from the public spec (avro.apache.org
1.11 binary encoding + object container format) — no avro jar, no
Python avro package. Spark ships Avro as an external module that is
absent in this container, so the engine carries its own OCF seam the
same way it carries xlsx/WARC/tar/TFRecord: a real byte-level codec
behind the Arrow seam. Beyond-reference capability (SURVEY §2.8).

Encoding facts exercised here (and pinned by the oracle/tests):
- int/long are ZIGZAG varints ((n << 1) ^ (n >> 63)) — unlike
  protobuf's two's-complement varints one module over.
- string/bytes are long-length-prefixed; double is 8-byte LE IEEE.
- arrays are BLOCK-encoded: (count, items)* then a 0 terminator.
- the container: magic ``Obj\\x01``, a metadata map (avro.schema JSON +
  avro.codec), a 16-byte sync marker, then data blocks of
  (record_count, byte_size, records, sync) — sync verified per block.
- avro.codec=snappy blocks go through the libsnappy that pyarrow
  bundles, each followed by a big-endian CRC-32 of the uncompressed
  block that the reader verifies.

The decoder is SCHEMA-DRIVEN: it parses the embedded JSON schema and
walks a record of {long, double, string, bytes, array<long>} fields in
schema order, so a foreign OCF with the same type subset decodes too.
"""

from __future__ import annotations

import json
import struct

import pyarrow as pa


def zigzag(n: int) -> bytes:
    """Avro long: zigzag then base-128 varint, little-endian groups."""
    u = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def read_zigzag(buf: bytes, pos: int) -> tuple[int, int]:
    shift = u = 0
    while True:
        if pos >= len(buf):
            raise ValueError("varint overruns buffer")
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            return (u >> 1) ^ -(u & 1), pos
        shift += 7
        if shift > 63:
            raise ValueError("zigzag varint too long")


def _enc_value(v, typ) -> bytes:
    if typ == "long" or typ == "int":
        return zigzag(int(v))
    if typ == "double":
        return struct.pack("<d", float(v))
    if typ == "string":
        b = v.encode() if isinstance(v, str) else bytes(v)
        return zigzag(len(b)) + b
    if typ == "bytes":
        return zigzag(len(v)) + bytes(v)
    if isinstance(typ, dict) and typ.get("type") == "array":
        items = list(v)
        if not items:
            return zigzag(0)
        body = b"".join(_enc_value(x, typ["items"]) for x in items)
        return zigzag(len(items)) + body + zigzag(0)
    raise ValueError(f"unsupported Avro type {typ!r}")


def _dec_value(buf: bytes, pos: int, typ):
    if typ == "long" or typ == "int":
        return read_zigzag(buf, pos)
    if typ == "double":
        if pos + 8 > len(buf):
            raise ValueError("double overruns buffer")
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if typ in ("string", "bytes"):
        ln, pos = read_zigzag(buf, pos)
        if ln < 0 or pos + ln > len(buf):
            raise ValueError("length overruns buffer")
        raw = buf[pos:pos + ln]
        return (raw.decode() if typ == "string" else raw), pos + ln
    if isinstance(typ, dict) and typ.get("type") == "array":
        out = []
        while True:
            cnt, pos = read_zigzag(buf, pos)
            if cnt == 0:
                return out, pos
            if cnt < 0:                     # spec: negative count, then
                cnt = -cnt                  # a byte size to allow skipping
                _, pos = read_zigzag(buf, pos)
            if cnt > len(buf) - pos + 1:    # each item costs >= 1 byte
                raise ValueError("array block count exceeds buffer")
            for _ in range(cnt):
                v, pos = _dec_value(buf, pos, typ["items"])
                out.append(v)
    raise ValueError(f"unsupported Avro type {typ!r}")


def write_ocf(schema: dict, records: list[dict], sync: bytes,
              block_records: int = 8, codec: str = "null") -> bytes:
    """Serialize records to a genuine Avro OCF: magic, metadata map
    (embedded schema JSON + codec), sync marker, multi-record data
    blocks each closed by the sync marker. ``codec="snappy"`` runs
    each block through libsnappy (``snappy_compress`` below) and
    appends the spec's 4-byte big-endian CRC32 of the UNCOMPRESSED
    block."""
    if len(sync) != 16:
        raise ValueError("sync marker must be 16 bytes")
    if codec not in ("null", "snappy"):
        raise ValueError("codec must be null or snappy")
    fields = [(f["name"], f["type"]) for f in schema["fields"]]
    meta = {"avro.schema": json.dumps(schema, sort_keys=True),
            "avro.codec": codec}
    out = bytearray(b"Obj\x01")
    out += zigzag(len(meta))
    for k in sorted(meta):
        kb, vb = k.encode(), meta[k].encode()
        out += zigzag(len(kb)) + kb + zigzag(len(vb)) + vb
    out += zigzag(0)                        # end of metadata map
    out += sync
    for i in range(0, len(records), block_records):
        chunk = records[i:i + block_records]
        body = b"".join(
            b"".join(_enc_value(r[name], typ) for name, typ in fields)
            for r in chunk)
        if codec == "snappy":
            import zlib
            body = (snappy_compress(body)
                    + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF))
        out += zigzag(len(chunk)) + zigzag(len(body)) + body + sync
    return bytes(out)


def read_ocf(payload: bytes) -> dict:
    """Walk a real OCF: magic, metadata map (the embedded JSON schema
    drives decoding), sync marker, then every data block with its
    trailing sync VERIFIED. Returns records + container facts."""
    if payload[:4] != b"Obj\x01":
        raise ValueError("not an Avro object container file")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        cnt, pos = read_zigzag(payload, pos)
        if cnt == 0:
            break
        if cnt < 0:
            cnt = -cnt
            _, pos = read_zigzag(payload, pos)
        if cnt > len(payload):          # corrupt count: fail, don't spin
            raise ValueError("metadata map count exceeds file size")
        for _ in range(cnt):
            kl, pos = read_zigzag(payload, pos)
            if kl < 0 or pos + kl > len(payload):
                raise ValueError("metadata key leaves the file")
            try:
                k = payload[pos:pos + kl].decode()
            except UnicodeDecodeError as ex:
                raise ValueError(f"metadata key not UTF-8: {ex}") from ex
            pos += kl
            vl, pos = read_zigzag(payload, pos)
            if vl < 0 or pos + vl > len(payload):
                raise ValueError("metadata value leaves the file")
            meta[k] = payload[pos:pos + vl]
            pos += vl
    codec = meta.get("avro.codec", b"null").decode("latin-1")
    if codec not in ("null", "snappy"):
        raise ValueError(f"unsupported Avro codec {codec!r}")
    if "avro.schema" not in meta:
        raise ValueError("container carries no avro.schema")
    try:
        schema = json.loads(meta["avro.schema"].decode())
        fields = [(f["name"], f["type"]) for f in schema["fields"]]
    except (KeyError, TypeError, UnicodeDecodeError,
            json.JSONDecodeError) as ex:
        raise ValueError(f"malformed embedded schema: {ex}") from ex
    sync = payload[pos:pos + 16]
    if len(sync) != 16:
        raise ValueError("truncated sync marker")
    pos += 16
    records, n_blocks = [], 0
    while pos < len(payload):
        cnt, pos = read_zigzag(payload, pos)
        size, pos = read_zigzag(payload, pos)
        if cnt < 0 or size < 0:
            raise ValueError("negative block count/size")
        if cnt > len(payload):          # every record costs >= 1 byte
            raise ValueError("block record count exceeds file size")
        if pos + size + 16 > len(payload):
            raise ValueError("data block overruns file")
        body, bpos = payload[pos:pos + size], 0
        if codec == "snappy":
            import zlib
            if size < 4:
                raise ValueError("snappy block too short for its CRC")
            (want_crc,) = struct.unpack(">I", body[-4:])
            body = snappy_decompress(body[:-4])
            if zlib.crc32(body) & 0xFFFFFFFF != want_crc:
                raise ValueError("snappy block CRC mismatch")
        for _ in range(cnt):
            rec = {}
            for name, typ in fields:
                rec[name], bpos = _dec_value(body, bpos, typ)
            records.append(rec)
        if bpos != len(body):
            raise ValueError("block size disagrees with record bytes")
        pos += size
        if payload[pos:pos + 16] != sync:
            raise ValueError("sync marker mismatch after block")
        pos += 16
        n_blocks += 1
    return {"schema": schema, "records": records, "n_blocks": n_blocks,
            "sync": sync, "codec": codec}


# ---------------------------------------------------------------------------
# Snappy block format (github.com/google/snappy format_description.txt)
# through the libsnappy that pyarrow bundles — the compression the lake
# stack (parquet/orc/avro) leans on.
# ---------------------------------------------------------------------------

def snappy_compress(data: bytes) -> bytes:
    return pa.compress(data, codec="snappy", asbytes=True)


def snappy_decompress(payload: bytes) -> bytes:
    """Decode one Snappy block. The preamble varint (at most 5 bytes)
    is read here so a corrupt declared length is refused before any
    allocation: a 3-byte copy element emits at most 64 bytes, so the
    body can expand to no more than 64/3 of its size."""
    pos = shift = want = 0
    while True:
        if pos >= len(payload) or pos == 5:
            raise ValueError("bad snappy length preamble")
        b = payload[pos]
        pos += 1
        want |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    if want >> 32 or want > (len(payload) - pos) * 64 // 3:
        raise ValueError(f"snappy preamble declares {want} bytes, more "
                         f"than a {len(payload) - pos}-byte body holds")
    try:
        return pa.decompress(payload, decompressed_size=want,
                             codec="snappy", asbytes=True)
    except (OSError, pa.ArrowException) as ex:
        raise ValueError(f"corrupt snappy block: {ex}") from ex
