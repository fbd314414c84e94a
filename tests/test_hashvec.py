"""Digests the package computes over whole batches, each checked against
an independent implementation: the audit's md5 column over Arrow batches
against DuckDB, the ids of every entry of a pack — REF_DELTA bases
included — against ``git index-pack``, and the envelope's data keys
against javax.crypto's PBKDF2."""

import hashlib
import shutil
import subprocess
import zlib

import duckdb
import pandas as pd
import pytest

from precios_nexo_sperant_etl_spark.operators.gitpack import parse_pack
from precios_nexo_sperant_etl_spark.queries_scale_part4 import (
    _ENVELOPE_MASTER, _envelope_seal, _hash_audit_digest)

# UTF-8 lengths around the 64-byte block and the 55/56-byte padding edge
_LENS = [0, 1, 3, 55, 56, 57, 63, 64, 65, 119, 120, 128, 300, 577, 1000]
_TEXTS = [("ñ" * (n // 2) + "a" * (n % 2)) if i % 2 else "b" * n
          for i, n in enumerate(_LENS)]


def _audit_batches(texts: list[str], batch: int) -> pd.DataFrame:
    pdf = pd.DataFrame({"doc_id": list(range(len(texts))), "text": texts})
    frames = [pdf.iloc[i:i + batch].reset_index(drop=True)
              for i in range(0, len(pdf), batch)]
    return pd.concat(list(_hash_audit_digest(iter(frames))),
                     ignore_index=True)


def test_md5_batch():
    assert [len(t.encode()) for t in _TEXTS] == _LENS
    out = _audit_batches(_TEXTS, 4)
    con = duckdb.connect()
    assert out["doc_id"].tolist() == list(range(len(_TEXTS)))
    assert out["content_md5"].tolist() == [
        con.execute("select md5(?)", [t]).fetchone()[0] for t in _TEXTS]


def _varint_size(n: int) -> bytes:
    out = bytearray()
    while True:
        out.append((n & 0x7F) | (0x80 if n >> 7 else 0))
        n >>= 7
        if not n:
            return bytes(out)


@pytest.mark.skipif(shutil.which("git") is None, reason="git binary absent")
def test_sha1_batch(tmp_path):
    """A pack whose REF_DELTA entries name earlier entries by id: each
    entry is hashed as it is read, so every base resolves, and the ids
    are the ones git's own index of the pack lists."""
    base = b"precio de lista por unidad\n" * 40
    blobs = [base + f"torre {i}\n".encode() for i in range(3)]
    pack = bytearray(b"PACK" + (2).to_bytes(4, "big")
                     + (1 + len(blobs)).to_bytes(4, "big"))
    pack += bytes([0x80 | (3 << 4) | (len(base) & 0x0F)]) \
        + _varint_size(len(base) >> 4) + zlib.compress(base)
    base_id = hashlib.sha1(f"blob {len(base)}\0".encode() + base).digest()
    for blob in blobs:
        tail = blob[len(base):]
        delta = (_varint_size(len(base)) + _varint_size(len(blob))
                 + bytes([0x80 | 0x10 | 0x20, len(base) & 0xFF,
                          len(base) >> 8])      # copy the whole base
                 + bytes([len(tail)]) + tail)   # then insert the tail
        pack += bytes([0x80 | (7 << 4) | (len(delta) & 0x0F)]) \
            + _varint_size(len(delta) >> 4) + base_id + zlib.compress(delta)
    pack += hashlib.sha1(pack).digest()

    entries = parse_pack(bytes(pack))
    assert [e["content"] for e in entries] == [base, *blobs]
    assert [e["stored_as"] for e in entries] \
        == ["full"] + ["ref_delta"] * len(blobs)

    path = tmp_path / "t.pack"
    path.write_bytes(pack)
    subprocess.run(["git", "index-pack", str(path)], check=True,
                   capture_output=True)
    listed = subprocess.run(["git", "show-index"],
                            input=(tmp_path / "t.idx").read_bytes(),
                            check=True, capture_output=True).stdout.decode()
    by_offset = {int(line.split()[0]): line.split()[1]
                 for line in listed.splitlines()}
    assert {e["offset"]: e["sha"] for e in entries} == by_offset


def test_sha256_batch():
    """The audit's SHA flags over batches whose texts straddle the
    block and padding edges, cut into Arrow batches of every size."""
    for batch in (1, 4, len(_TEXTS)):
        out = _audit_batches(_TEXTS, batch)
        assert len(out) == len(_TEXTS)
        assert out["sha1_ok"].all() and out["sha256_ok"].all()


def test_hmac_pbkdf2_batch(spark):
    """Data keys are javax.crypto's PBKDF2WithHmacSHA256 of the master
    key over the 8-byte big-endian doc id (3 iterations, 128 bits)."""
    gateway, jvm = spark.sparkContext._gateway, spark.sparkContext._jvm
    factory = jvm.javax.crypto.SecretKeyFactory.getInstance(
        "PBKDF2WithHmacSHA256")
    password = gateway.new_array(jvm.char, len(_ENVELOPE_MASTER))
    for i, c in enumerate(_ENVELOPE_MASTER.decode()):
        password[i] = c
    # the key's class is internal to the JDK, so call getEncoded through
    # the public java.security.Key interface
    get_encoded = jvm.java.lang.Class.forName("java.security.Key") \
        .getMethod("getEncoded", gateway.new_array(jvm.java.lang.Class, 0))
    no_args = gateway.new_array(jvm.java.lang.Object, 0)
    for did in [*range(40), 255, 256, 2**31, 2**63 - 1]:
        secret = factory.generateSecret(jvm.javax.crypto.spec.PBEKeySpec(
            password, did.to_bytes(8, "big"), 3, 128))
        key, _, _, _ = _envelope_seal(did, b"")
        assert bytes(get_encoded.invoke(secret, no_args)) == key
