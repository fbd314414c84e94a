"""git object store / packfile codec: pinned against the REAL git
binary in both directions (git builds gc'd repos with genuine delta
chains that we decode; git index-packs and cat-files the packs we
write), and object ids pinned against ``git hash-object``."""

import hashlib
import os
import random
import shutil
import subprocess
import zlib

import pytest

from precios_nexo_sperant_etl_spark.operators.gitpack import (
    GitError, apply_delta, build_pack, object_sha, parse_pack,
    parse_tree, read_loose_object, read_repo_objects)

GIT = shutil.which("git")
pytestmark = pytest.mark.skipif(GIT is None, reason="git binary absent")

_ENV = dict(os.environ,
            GIT_AUTHOR_NAME="t", GIT_AUTHOR_EMAIL="t@t",
            GIT_COMMITTER_NAME="t", GIT_COMMITTER_EMAIL="t@t",
            GIT_AUTHOR_DATE="2024-01-01T00:00:00Z",
            GIT_COMMITTER_DATE="2024-01-01T00:00:00Z",
            GIT_CONFIG_GLOBAL="/dev/null", GIT_CONFIG_SYSTEM="/dev/null")


def _git(*args, cwd):
    return subprocess.run(["git", *args], check=True, env=_ENV, cwd=cwd,
                          capture_output=True)


def _mk_repo(tmp_path):
    repo = tmp_path / "repo"
    repo.mkdir()
    _git("init", "-q", cwd=repo)
    files = {}
    for i in range(40):
        txt = ("line %d content shared prefix " % (i % 5)) * 30 \
            + f"unique tail {i}\n"
        files[f"f{i:02d}.txt"] = txt
        (repo / f"f{i:02d}.txt").write_text(txt)
    _git("add", "-A", cwd=repo)
    _git("commit", "-q", "-m", "c1", cwd=repo)
    for i in range(0, 40, 3):
        files[f"f{i:02d}.txt"] += f"appended {i}\n"
        (repo / f"f{i:02d}.txt").write_text(files[f"f{i:02d}.txt"])
    _git("add", "-A", cwd=repo)
    _git("commit", "-q", "-m", "c2", cwd=repo)
    return repo, files


def test_sha1_matches_hashlib(tmp_path):
    """Object ids (SHA-1 over the '<type> <len>\\0' header and the
    content) agree with ``git hash-object`` on random blobs and on the
    lengths around SHA-1's 64-byte block and 56-byte padding edge, once
    the header is counted in."""
    rng = random.Random(3)
    blobs = [rng.randbytes(rng.randrange(0, 400)) for _ in range(40)]
    blobs += [bytes(range(256))[:n] for n in (0, 46, 47, 48, 55, 56, 57,
                                              63, 64, 65, 119, 120, 128)]
    paths = []
    for i, b in enumerate(blobs):
        paths.append(tmp_path / f"b{i}")
        paths[-1].write_bytes(b)
    p = subprocess.run(["git", "hash-object", "--stdin-paths"],
                       input="\n".join(map(str, paths)).encode(),
                       check=True, env=_ENV, cwd=tmp_path,
                       capture_output=True)
    assert [object_sha("blob", b) for b in blobs] \
        == p.stdout.decode().split()


def test_loose_objects_roundtrip(tmp_path):
    repo, files = _mk_repo(tmp_path)
    objs = read_repo_objects(str(repo / ".git"))
    blobs = {c.decode() for t, c in objs.values() if t == "blob"}
    assert set(files.values()) <= blobs


def test_gc_pack_decodes_with_real_deltas(tmp_path):
    repo, files = _mk_repo(tmp_path)
    _git("gc", "-q", "--aggressive", cwd=repo)
    packs = list((repo / ".git" / "objects" / "pack").glob("*.pack"))
    assert len(packs) == 1
    entries = parse_pack(packs[0].read_bytes())
    stored = {e["stored_as"] for e in entries}
    assert "ofs_delta" in stored        # gc really produced delta chains
    # every object's content agrees with git cat-file
    for e in entries:
        p = subprocess.run(["git", "cat-file", e["type"], e["sha"]],
                           check=True, env=_ENV, cwd=repo,
                           capture_output=True)
        assert p.stdout == e["content"], e["sha"]


def test_tree_walk_matches_working_files(tmp_path):
    repo, files = _mk_repo(tmp_path)
    objs = read_repo_objects(str(repo / ".git"))
    head_tree = _git("rev-parse", "HEAD^{tree}",
                     cwd=repo).stdout.decode().strip()
    entries = parse_tree(objs[head_tree][1])
    assert len(entries) == len(files)
    for e in entries:
        assert objs[e["sha"]][1].decode() == files[e["name"]]


def test_pick_blobs_flags_ids_missing_from_objs(tmp_path):
    """git_packfile_scan's pick step: an id the tree names but the
    object map lacks, or one naming a non-blob, gives sha_ok False and
    null content columns instead of a KeyError."""
    from precios_nexo_sperant_etl_spark.queries_scale_part4 import (
        _git_pick_blobs)
    repo, files = _mk_repo(tmp_path)
    objs = read_repo_objects(str(repo / ".git"))
    head_tree = _git("rev-parse", "HEAD^{tree}",
                     cwd=repo).stdout.decode().strip()
    tree = {e["name"]: e["sha"] for e in parse_tree(objs[head_tree][1])}
    names = sorted(files)[:4]
    shas = [tree[n] for n in names] + [head_tree]
    del objs[shas[1]]
    got = _git_pick_blobs(objs, list(range(5)), shas)
    assert got["doc_id"].tolist() == [0, 1, 2, 3, 4]
    assert got["sha_ok"].tolist() == [True, False, True, True, False]
    for i in (1, 4):
        assert got["content_len"].isna()[i]
        assert got["content_md5"][i] is None
    for i in (0, 2, 3):
        body = files[names[i]].encode()
        assert got["content_len"][i] == len(body)
        assert got["content_md5"][i] == hashlib.md5(body).hexdigest()


def test_our_pack_accepted_by_git(tmp_path):
    repo, _ = _mk_repo(tmp_path)
    blobs = [("blob", f"payload {i} ".encode() * 50) for i in range(10)]
    pack_path = tmp_path / "ours.pack"
    pack_path.write_bytes(build_pack(blobs))
    _git("index-pack", str(pack_path), cwd=repo)     # verifies trailer
    shutil.copy(pack_path, repo / ".git" / "objects" / "pack")
    shutil.copy(tmp_path / "ours.idx",
                repo / ".git" / "objects" / "pack")
    want = object_sha("blob", blobs[0][1])
    p = subprocess.run(["git", "cat-file", "blob", want], check=True,
                       env=_ENV, cwd=repo, capture_output=True)
    assert p.stdout == blobs[0][1]


def test_our_pack_parses_back():
    objs = [("blob", b"x" * 100000), ("blob", b""),
            ("commit", b"tree deadbeef\n")]
    entries = parse_pack(build_pack(objs))
    assert [(e["type"], e["content"]) for e in entries] == objs
    assert all(e["stored_as"] == "full" for e in entries)


def test_delta_primitives():
    base = b"The quick brown fox jumps over the lazy dog" * 10
    # copy whole base + insert
    delta = bytes([len(base) & 0x7F | 0x80, len(base) >> 7,   # src size
                   (len(base) + 4) & 0x7F | 0x80, (len(base) + 4) >> 7,
                   0b10110000,                    # copy: sizes in b4,b5
                   len(base) & 0xFF, len(base) >> 8,
                   4]) + b"tail"
    assert apply_delta(base, delta) == base + b"tail"
    with pytest.raises(GitError):
        apply_delta(b"short", delta)


def test_corruption_detected(tmp_path):
    repo, _ = _mk_repo(tmp_path)
    _git("gc", "-q", cwd=repo)
    pack = bytearray(next((repo / ".git" / "objects" / "pack")
                          .glob("*.pack")).read_bytes())
    pack[-1] ^= 0xFF
    with pytest.raises(GitError, match="trailer"):
        parse_pack(bytes(pack))
    with pytest.raises(GitError, match="magic"):
        parse_pack(b"JUNK" + bytes(pack)[4:])


def test_loose_object_size_check():
    assert read_loose_object(zlib.compress(b"blob 3\x00abc")) \
        == ("blob", b"abc")
    with pytest.raises(GitError):
        read_loose_object(zlib.compress(b"blob 99\x00abc"))
    with pytest.raises(GitError, match="bad loose object"):
        read_loose_object(b"not zlib at all")


def test_member_boundaries_in_concatenated_pack():
    """Pack entries are zlib members laid back to back with no length
    field: each must end exactly where its decompressor stops, whatever
    the member sizes (tiny, incompressible, larger than one read slice)."""
    r = random.Random(5)
    objs = [("blob", b""), ("blob", b"x"),
            ("blob", r.randbytes(9000)),           # stored, > 4 KiB slice
            ("blob", b"repetitive " * 20000),      # 220 KB, ~1 KB member
            ("tree", b""), ("commit", r.randbytes(70000))]
    pack = build_pack(objs)
    got = parse_pack(pack)
    assert [(e["type"], e["content"]) for e in got] == objs
    # each entry's offset is the previous member's end, and the last
    # member ends at the 20-byte SHA-1 trailer
    for e, nxt in zip(got, got[1:] + [{"offset": len(pack) - 20}]):
        hdr = 1
        while pack[e["offset"] + hdr - 1] & 0x80:
            hdr += 1
        member = pack[e["offset"] + hdr:nxt["offset"]]
        d = zlib.decompressobj()
        assert d.decompress(member) == e["content"]
        assert d.eof and d.unused_data == b""


def test_truncated_member_is_loud():
    body = build_pack([("blob", b"payload " * 100)])[:-20]
    cut = body[:-5]                   # lose the Adler-32 trailer
    with pytest.raises(ValueError, match="ended before"):
        parse_pack(cut + hashlib.sha1(cut).digest())
    bad = bytearray(body)
    bad[-8] ^= 0xFF                   # corrupt deflate data
    with pytest.raises(GitError, match="bad zlib member"):
        parse_pack(bytes(bad) + hashlib.sha1(bad).digest())
