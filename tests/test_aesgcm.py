"""The envelope step of ``aes_gcm_envelope_roundtrip``: its sealed bytes
pinned to known answers, its seal/open partition function, the
tamper-refusal contract, and both-direction interop against the
INDEPENDENT javax.crypto (JVM) AES/GCM/NoPadding and SHA-256."""

import hashlib

import pandas as pd
import pytest
from cryptography.exceptions import InvalidTag
from cryptography.hazmat.primitives.ciphers.aead import AESGCM

from precios_nexo_sperant_etl_spark.queries_scale_part4 import (
    _envelope_seal, _envelope_seal_open)

DOCS = [(0, ""), (1, "hola"), (7, "texto con eñes y acentós"),
        (42, "x" * 1000), (2**40 + 3, "€ — 漢字 🙂")]


def test_fips197_block_vectors():
    """Known answers: key, IV and ct || tag of three documents, as the
    earlier pure-Python PBKDF2/SHA-256/AES-GCM stack wrote them. A change
    to the key path or the cipher would make stored envelopes
    unreadable; the query's oracle sees only lengths and digests."""
    want = {
        0: ("e6be760d2035dba96ed34180bfd3706c", "7aafac16f18723050c2bae98",
            "a03a94b06ef2a89e24e12e5a3d92037a"),
        1: ("b8a98d1a370e09e3cda1039bfe32a107", "11f179677a5ede26401fc683",
            "9917a3b5710692e83fe54c0d609cb0d818e69268"),
        7: ("5a81fa88713d64960418236fac3579e1", "668ef32e95afaa009441e5bc",
            "e2377709fb41b4fbef3edda09264ccdcea3595df64eb82f616d2433dc547"
            "d5548c3d1b142e931013b832"),
    }
    for did, text in DOCS[:3]:
        key, iv, aad, sealed = _envelope_seal(did, text.encode())
        assert (key.hex(), iv.hex(), sealed.hex()) == want[did]
        assert aad == f"doc:{did}".encode()


def test_nist_gcm_vectors():
    """The partition function over one batch: ciphertext as long as the
    UTF-8 text, the opened text's md5, and both flags true — the empty
    document included, which has no byte to tamper with."""
    pdf = pd.DataFrame({"doc_id": [d for d, _ in DOCS],
                        "text": [t for _, t in DOCS]})
    out, = _envelope_seal_open(iter([pdf]))
    raws = [t.encode() for _, t in DOCS]
    assert out["doc_id"].tolist() == [d for d, _ in DOCS]
    assert out["ct_len"].tolist() == [len(r) for r in raws]
    assert out["content_md5"].tolist() \
        == [hashlib.md5(r).hexdigest() for r in raws]
    assert out["auth_ok"].all() and out["tamper_refused"].all()


def test_tamper_refusal():
    key, iv, aad, sealed = _envelope_seal(7, b"secret payload")
    aead = AESGCM(key)
    assert aead.decrypt(iv, sealed, aad) == b"secret payload"
    for bad_sealed, bad_aad in (
            (bytes([sealed[0] ^ 1]) + sealed[1:], aad),   # flipped ct byte
            (sealed[:-16] + bytes(16), aad),              # zeroed tag
            (sealed, b"doc:8"),                           # wrong AAD
            (sealed[:-1], aad)):                          # cut tag
        with pytest.raises(InvalidTag):
            aead.decrypt(iv, bad_sealed, bad_aad)


def _jvm_gcm(spark, key, iv, data, aad, encrypt=True):
    jvm = spark.sparkContext._jvm
    cipher = jvm.javax.crypto.Cipher.getInstance("AES/GCM/NoPadding")
    ks = jvm.javax.crypto.spec.SecretKeySpec(key, "AES")
    spec = jvm.javax.crypto.spec.GCMParameterSpec(128, iv)
    mode = jvm.javax.crypto.Cipher.ENCRYPT_MODE if encrypt \
        else jvm.javax.crypto.Cipher.DECRYPT_MODE
    cipher.init(mode, ks, spec)
    cipher.updateAAD(aad)
    return bytes(cipher.doFinal(data))


def test_jvm_decrypts_ours(spark):
    """The bytes the seal step writes open under javax.crypto with the
    same key, IV and AAD."""
    for did, text in DOCS:
        key, iv, aad, sealed = _envelope_seal(did, text.encode())
        assert _jvm_gcm(spark, key, iv, sealed, aad,
                        encrypt=False) == text.encode()


def test_ours_decrypts_jvm(spark):
    """javax.crypto seals the same documents bit-identically, and the
    open step accepts its bytes."""
    for did, text in DOCS:
        key, iv, aad, sealed = _envelope_seal(did, text.encode())
        theirs = _jvm_gcm(spark, key, iv, text.encode(), aad)
        assert theirs == sealed
        assert AESGCM(key).decrypt(iv, theirs, aad) == text.encode()


def test_non_96bit_ivs_match_jvm(spark):
    """Every IV is 96 bits (the length GCM uses as is, with no GHASH of
    the IV) and is the head of javax.crypto's SHA-256 over
    ``b"iv" + salt``."""
    md = spark.sparkContext._jvm.java.security.MessageDigest
    for did, text in DOCS:
        _, iv, _, _ = _envelope_seal(did, text.encode())
        salt = did.to_bytes(8, "big")
        assert len(iv) == 12
        assert iv == bytes(md.getInstance("SHA-256").digest(b"iv" + salt))[:12]
