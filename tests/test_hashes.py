"""The digest step of ``scratch_hash_audit`` against the published RFC
1321 and FIPS 180 vectors and DuckDB's md5 as an independent
implementation, and the envelope's key path
(``aes_gcm_envelope_roundtrip``) against its known answers and the RFC
8018 definition of PBKDF2."""

import hashlib
import hmac
import random

import duckdb
import pandas as pd

from precios_nexo_sperant_etl_spark.queries_scale_part4 import (
    _ENVELOPE_MASTER, _envelope_seal, _hash_audit_digest)


def _audit(texts: list[str]) -> pd.DataFrame:
    pdf = pd.DataFrame({"doc_id": list(range(len(texts))), "text": texts})
    out, = _hash_audit_digest(iter([pdf]))
    return out


def test_rfc1321_vectors():
    suite = {
        "": "d41d8cd98f00b204e9800998ecf8427e",
        "a": "0cc175b9c0f1b6a831c399e269772661",
        "abc": "900150983cd24fb0d6963f7d28e17f72",
        "message digest": "f96b697d7cb7938d525a2f31aaf161d0",
        "abcdefghijklmnopqrstuvwxyz": "c3fcd3d76192e4007dfb496cca67e13b",
        "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789":
            "d174ab98d277d9f5a5611c2c9f419d9f",
        "1234567890" * 8: "57edf4a22be3c955ac49da2e2107b67a",
    }
    out = _audit(list(suite))
    assert out["content_md5"].tolist() == list(suite.values())


def test_fips_sha256_vectors():
    """The SHA flags are true on the FIPS 180 example messages, whose
    digests hashlib reproduces."""
    vectors = {
        "": ("da39a3ee5e6b4b0d3255bfef95601890afd80709",
             "e3b0c44298fc1c149afbf4c8996fb924"
             "27ae41e4649b934ca495991b7852b855"),
        "abc": ("a9993e364706816aba3e25717850c26c9cd0d89d",
                "ba7816bf8f01cfea414140de5dae2223"
                "b00361a396177a9cb410ff61f20015ad"),
        "abcdbcdecdefdefgefghfghighijhijkijkljklmklmnlmnomnopnopq":
            ("84983e441c3bd26ebaae4aa1f95129e5e54670f1",
             "248d6a61d20638b8e5c026930c3e6039"
             "a33ce45964ff2167f6ecedd419db06c1"),
    }
    for text, (sha1, sha256) in vectors.items():
        assert hashlib.sha1(text.encode()).hexdigest() == sha1
        assert hashlib.sha256(text.encode()).hexdigest() == sha256
    out = _audit(list(vectors))
    assert out["sha1_ok"].all() and out["sha256_ok"].all()


def test_random_pin_against_hashlib():
    """The step digests the UTF-8 bytes of the text, keeps doc ids and
    their order, and sets both flags, on random multilingual texts."""
    rng = random.Random(29)
    alphabet = "abcxyz ñáéü€漢🙂\n\t"
    texts = ["".join(rng.choice(alphabet)
                     for _ in range(rng.randrange(0, 150)))
             for _ in range(200)]
    pdf = pd.DataFrame({"doc_id": [rng.randrange(2**40) for _ in texts],
                        "text": texts})
    out, = _hash_audit_digest(iter([pdf]))
    assert out["doc_id"].dtype == "int64"
    assert out["doc_id"].tolist() == pdf["doc_id"].tolist()
    assert out["content_md5"].tolist() \
        == [hashlib.md5(t.encode("utf-8")).hexdigest() for t in texts]
    assert out["sha1_ok"].all() and out["sha256_ok"].all()


def test_duckdb_third_opinion():
    con = duckdb.connect()
    texts = ["", "hola", "texto con eñes y acentós", "x" * 1000,
             "€ — 漢字 🙂"]
    assert _audit(texts)["content_md5"].tolist() == [
        con.execute("select md5(?)", [t]).fetchone()[0] for t in texts]


def test_hmac_sha256_rfc4231_vectors():
    """Known answers: the data key and IV of three documents, as the
    earlier pure-Python HMAC/PBKDF2 and SHA-256 derived them."""
    want = {0: ("e6be760d2035dba96ed34180bfd3706c",
                "7aafac16f18723050c2bae98"),
            1: ("b8a98d1a370e09e3cda1039bfe32a107",
                "11f179677a5ede26401fc683"),
            7: ("5a81fa88713d64960418236fac3579e1",
                "668ef32e95afaa009441e5bc")}
    for did, (key, iv) in want.items():
        got_key, got_iv, _, _ = _envelope_seal(did, b"")
        assert (got_key.hex(), got_iv.hex()) == (key, iv)


def test_hmac_pbkdf2_match_hashlib():
    """The data key is the first block of PBKDF2-HMAC-SHA256 as RFC 8018
    defines it — U1 = HMAC(P, S || INT(1)), Ui = HMAC(P, Ui-1), key =
    U1 ^ U2 ^ U3 cut to 16 bytes — with the master key as P and the
    8-byte big-endian doc id as S."""
    def xor(a, b):
        return bytes(x ^ y for x, y in zip(a, b))

    for did in (0, 1, 2**32 + 5, 2**63 - 1):
        salt = did.to_bytes(8, "big")
        u = hmac.new(_ENVELOPE_MASTER, salt + b"\0\0\0\1", "sha256").digest()
        t = u
        for _ in range(2):
            u = hmac.new(_ENVELOPE_MASTER, u, "sha256").digest()
            t = xor(t, u)
        assert _envelope_seal(did, b"")[0] == t[:16]
