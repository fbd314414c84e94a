"""From-scratch git object-store reader/writer (loose + packfiles).

Implements the public git formats — loose zlib objects, the PACK v2
container (gitformat-pack(5)): size/type varint headers, OFS_DELTA /
REF_DELTA entries with the copy/insert delta instruction stream, and
the SHA-1 trailer — plus SHA-1 itself from FIPS 180-1 (no hashlib in
the hash path). zlib members are inflated by stdlib ``zlib``;
packfiles concatenate members with no length framing, so each entry's
end is where its ``decompressobj`` stops (``operators.concatenated``).
The INDEPENDENT implementation pinned against in
``tests/test_gitpack.py`` is the real ``git`` binary: it builds and
gc-packs repositories (producing genuine delta chains) that we decode,
and it ``index-pack``s + ``cat-file``s the packs we write.

Why in a Spark engine: code datasets are mined from git at fleet
scale; one repository (or one packfile) per task is the established
partition-local container-walker shape (WARC/zip/sqlite). The
reference ETL has no VCS surface (its world is .xlsx files); this is
lake-side training-data capability.
"""

from __future__ import annotations

import struct
import zlib

from .concatenated import read_stream


class GitError(ValueError):
    pass


# ---------------------------------------------------------------------------
# SHA-1 (FIPS 180-1) from scratch
# ---------------------------------------------------------------------------

_M32 = 0xFFFFFFFF


def _rotl(x: int, n: int) -> int:
    return ((x << n) | (x >> (32 - n))) & _M32


def sha1(data: bytes) -> bytes:
    h = [0x67452301, 0xEFCDAB89, 0x98BADCFE, 0x10325476, 0xC3D2E1F0]
    msg = data + b"\x80"
    msg += b"\x00" * ((56 - len(msg) % 64) % 64)
    msg += struct.pack(">Q", len(data) * 8)
    for off in range(0, len(msg), 64):
        w = list(struct.unpack_from(">16I", msg, off))
        for i in range(16, 80):
            w.append(_rotl(w[i - 3] ^ w[i - 8] ^ w[i - 14] ^ w[i - 16],
                           1))
        a, b, c, d, e = h
        for i in range(80):
            if i < 20:
                f, k = (b & c) | (~b & d), 0x5A827999
            elif i < 40:
                f, k = b ^ c ^ d, 0x6ED9EBA1
            elif i < 60:
                f, k = (b & c) | (b & d) | (c & d), 0x8F1BBCDC
            else:
                f, k = b ^ c ^ d, 0xCA62C1D6
            a, b, c, d, e = ((_rotl(a, 5) + f + e + k + w[i]) & _M32,
                             a, _rotl(b, 30), c, d)
        h = [(x + y) & _M32 for x, y in zip(h, (a, b, c, d, e))]
    return struct.pack(">5I", *h)


def sha1_hex(data: bytes) -> str:
    return sha1(data).hex()


_TYPE_NAMES = {1: "commit", 2: "tree", 3: "blob", 4: "tag"}


def object_sha(obj_type: str, content: bytes) -> str:
    """git object id: sha1 over '<type> <len>\\0<content>'."""
    return sha1_hex(f"{obj_type} {len(content)}\x00".encode()
                    + content)


# ---------------------------------------------------------------------------
# loose objects
# ---------------------------------------------------------------------------

def read_loose_object(blob: bytes) -> tuple[str, bytes]:
    """Decode one loose object file (zlib '<type> <size>\\0<content>'),
    verifying the declared size."""
    try:
        raw = zlib.decompress(blob)
    except zlib.error as exc:
        raise GitError(f"bad loose object: {exc}") from exc
    nul = raw.index(b"\x00")
    header = raw[:nul].decode("ascii")
    obj_type, size_s = header.split(" ")
    content = raw[nul + 1:]
    if len(content) != int(size_s):
        raise GitError(f"loose object declares {size_s} bytes, "
                       f"carries {len(content)}")
    return obj_type, content


# ---------------------------------------------------------------------------
# delta instruction stream (gitformat-pack(5) §"Deltified representation")
# ---------------------------------------------------------------------------

def _delta_size(delta: bytes, pos: int) -> tuple[int, int]:
    v = 0
    shift = 0
    while True:
        b = delta[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, pos
        shift += 7


def apply_delta(base: bytes, delta: bytes) -> bytes:
    src_size, pos = _delta_size(delta, 0)
    if src_size != len(base):
        raise GitError(f"delta names a {src_size}-byte base, "
                       f"got {len(base)}")
    tgt_size, pos = _delta_size(delta, pos)
    out = bytearray()
    n = len(delta)
    while pos < n:
        op = delta[pos]
        pos += 1
        if op & 0x80:                   # copy from base
            off = sz = 0
            for i in range(4):
                if op & (1 << i):
                    off |= delta[pos] << (8 * i)
                    pos += 1
            for i in range(3):
                if op & (1 << (4 + i)):
                    sz |= delta[pos] << (8 * i)
                    pos += 1
            if sz == 0:
                sz = 0x10000
            if off + sz > len(base):
                raise GitError("delta copy past end of base")
            out += base[off:off + sz]
        elif op:                        # insert literal
            out += delta[pos:pos + op]
            pos += op
        else:
            raise GitError("delta opcode 0 is reserved")
    if len(out) != tgt_size:
        raise GitError(f"delta produced {len(out)} bytes, "
                       f"declared {tgt_size}")
    return bytes(out)


# ---------------------------------------------------------------------------
# packfiles
# ---------------------------------------------------------------------------

def _inflate_member(pack: memoryview, pos: int) -> tuple[bytes, int]:
    """Inflate the zlib member at ``pos``; return it and the position
    just past its Adler-32 trailer."""
    try:
        return read_stream(pack, pos, zlib.decompressobj(), "git pack")
    except zlib.error as exc:
        raise GitError(f"bad zlib member at {pos}: {exc}") from exc


def parse_pack(pack: bytes) -> list[dict]:
    """Decode every object in a PACK v2/v3 stream (no .idx needed:
    entries are walked sequentially, OFS_DELTA bases resolved by
    offset, REF_DELTA bases by the shas computed so far). Returns
    [{sha, type, content, offset}] in pack order. The trailing SHA-1
    checksum is verified with OUR sha1."""
    if pack[:4] != b"PACK":
        raise GitError("bad pack magic")
    version = struct.unpack_from(">I", pack, 4)[0]
    if version not in (2, 3):
        raise GitError(f"unsupported pack version {version}")
    (count,) = struct.unpack_from(">I", pack, 8)
    if sha1(pack[:-20]) != pack[-20:]:
        raise GitError("pack SHA-1 trailer mismatch")
    pos = 12
    view = memoryview(pack)
    by_offset: dict[int, tuple[str, bytes]] = {}
    by_sha: dict[str, tuple[str, bytes]] = {}
    out: list[dict] = []
    # Object ids are batched through the NumPy SHA-1 lanes
    # (functions.hashvec, pinned bit-equal to `sha1` above in
    # tests/test_hashvec.py): ids are only NEEDED during the walk when
    # a REF_DELTA names its base by sha, so entries accumulate unhashed
    # and flush in one vector batch then — and once at the end for the
    # returned records. git's own gc emits OFS_DELTA chains, so the
    # mid-walk flush is the rare path.
    unhashed: list[dict] = []

    def _flush_shas() -> None:
        if not unhashed:
            return
        from ..functions.hashvec import sha1_hex_batch
        msgs = [f"{e['type']} {len(e['content'])}\x00".encode()
                + e["content"] for e in unhashed]
        for e, sha in zip(unhashed, sha1_hex_batch(msgs)):
            e["sha"] = sha
            by_sha[sha] = (e["type"], e["content"])
        unhashed.clear()

    for _ in range(count):
        entry_off = pos
        b = pack[pos]
        pos += 1
        obj_type = (b >> 4) & 0x7
        size = b & 0x0F
        shift = 4
        while b & 0x80:
            b = pack[pos]
            pos += 1
            size |= (b & 0x7F) << shift
            shift += 7
        stored_as = "full"
        if obj_type in _TYPE_NAMES:
            content, pos = _inflate_member(view, pos)
            tname = _TYPE_NAMES[obj_type]
        elif obj_type == 6:             # OFS_DELTA
            b = pack[pos]
            pos += 1
            ofs = b & 0x7F
            while b & 0x80:
                b = pack[pos]
                pos += 1
                ofs = ((ofs + 1) << 7) | (b & 0x7F)
            base_off = entry_off - ofs
            if base_off not in by_offset:
                raise GitError(f"OFS_DELTA base at {base_off} not seen")
            delta, pos = _inflate_member(view, pos)
            tname, base = by_offset[base_off]
            content = apply_delta(base, delta)
            stored_as = "ofs_delta"
        elif obj_type == 7:             # REF_DELTA
            base_sha = pack[pos:pos + 20].hex()
            pos += 20
            if base_sha not in by_sha:
                _flush_shas()
            if base_sha not in by_sha:
                raise GitError(f"REF_DELTA base {base_sha} not in pack "
                               "(thin packs need an object store)")
            delta, pos = _inflate_member(view, pos)
            tname, base = by_sha[base_sha]
            content = apply_delta(base, delta)
            stored_as = "ref_delta"
        else:
            raise GitError(f"bad pack object type {obj_type}")
        if obj_type in _TYPE_NAMES and len(content) != size:
            raise GitError("pack entry size mismatch")
        by_offset[entry_off] = (tname, content)
        entry = {"sha": None, "type": tname, "content": content,
                 "offset": entry_off, "stored_as": stored_as}
        unhashed.append(entry)
        out.append(entry)
    _flush_shas()
    return out


def build_pack(objects: list[tuple[str, bytes]]) -> bytes:
    """Minimal non-delta PACK v2 writer (every entry stored whole,
    zlib-compressed) — `git index-pack` accepts the result."""
    rev = {name: num for num, name in _TYPE_NAMES.items()}
    out = bytearray(b"PACK" + struct.pack(">II", 2, len(objects)))
    for obj_type, content in objects:
        t = rev[obj_type]
        size = len(content)
        b0 = (t << 4) | (size & 0x0F)
        size >>= 4
        hdr = bytearray()
        while size:
            hdr.append(b0 | 0x80)
            b0 = size & 0x7F
            size >>= 7
        hdr.append(b0)
        out += hdr + zlib.compress(content)
    out += sha1(bytes(out))
    return bytes(out)


# ---------------------------------------------------------------------------
# tree decoding + repository walk
# ---------------------------------------------------------------------------

def parse_tree(content: bytes) -> list[dict]:
    """Tree entries: '<mode> <name>\\0<20-byte sha>' concatenated."""
    out = []
    pos = 0
    while pos < len(content):
        sp = content.index(b" ", pos)
        nul = content.index(b"\x00", sp)
        out.append({"mode": content[pos:sp].decode("ascii"),
                    "name": content[sp + 1:nul].decode("utf-8"),
                    "sha": content[nul + 1:nul + 21].hex()})
        pos = nul + 21
    return out


def read_repo_objects(git_dir: str) -> dict[str, tuple[str, bytes]]:
    """Walk a .git directory: every loose object plus every packfile.
    Returns {sha: (type, content)}."""
    import glob
    import os
    objects: dict[str, tuple[str, bytes]] = {}
    loose = glob.glob(os.path.join(git_dir, "objects", "??", "*"))
    for path in loose:
        with open(path, "rb") as f:
            obj_type, content = read_loose_object(f.read())
        sha = (os.path.basename(os.path.dirname(path))
               + os.path.basename(path))
        if object_sha(obj_type, content) != sha:
            raise GitError(f"loose object {sha} content hash mismatch")
        objects[sha] = (obj_type, content)
    for path in glob.glob(os.path.join(git_dir, "objects", "pack",
                                       "pack-*.pack")):
        with open(path, "rb") as f:
            for e in parse_pack(f.read()):
                objects[e["sha"]] = (e["type"], e["content"])
    return objects
