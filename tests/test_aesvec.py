"""The envelope step of ``aes_gcm_envelope_roundtrip`` over whole Arrow
batches: the partition function agrees with the per-document seal step
however the documents are batched, no two documents share a key or an
IV, and authentication refuses every single-byte change and every
cross-document mix-up."""

import hashlib

import pandas as pd
import pytest
from cryptography.exceptions import InvalidTag
from cryptography.hazmat.primitives.ciphers.aead import AESGCM

from precios_nexo_sperant_etl_spark.queries_scale_part4 import (
    _envelope_seal, _envelope_seal_open)


def _docs(n: int) -> pd.DataFrame:
    return pd.DataFrame({
        "doc_id": [i * 7919 for i in range(n)],
        "text": [("ñandú " * (i % 9) + str(i)) if i % 5 else ""
                 for i in range(n)]})


def _run(frames) -> pd.DataFrame:
    return pd.concat(list(_envelope_seal_open(iter(frames))),
                     ignore_index=True)


@pytest.mark.parametrize("batch", [16, 24, 32])
def test_expand_matches_scalar(batch):
    """The output does not depend on how mapInPandas cuts the
    partition into Arrow batches."""
    docs = _docs(70)
    whole = _run([docs])
    cut = _run([docs.iloc[i:i + batch].reset_index(drop=True)
                for i in range(0, len(docs), batch)])
    pd.testing.assert_frame_equal(cut, whole)


@pytest.mark.parametrize("n", [16, 24, 32])
def test_encrypt_open_matches_scalar(n):
    """Each row of a batch of ``n`` documents matches the per-document
    seal step: ciphertext length, the opened text's md5, both flags."""
    docs = _docs(n)
    out = _run([docs])
    for row, did, text in zip(out.itertuples(), docs["doc_id"],
                              docs["text"]):
        raw = text.encode()
        key, iv, aad, sealed = _envelope_seal(int(did), raw)
        assert row.doc_id == did
        assert row.ct_len == len(sealed) - 16 == len(raw)
        assert row.content_md5 == hashlib.md5(
            AESGCM(key).decrypt(iv, sealed, aad)).hexdigest()
        assert row.auth_ok and row.tamper_refused


def test_refusal_contract():
    """Changing any single byte of ct || tag is refused, not only the
    one byte the query flips."""
    key, iv, aad, sealed = _envelope_seal(3, "precio: 1.234,50".encode())
    aead = AESGCM(key)
    for i in range(len(sealed)):
        bad = sealed[:i] + bytes([sealed[i] ^ 0x80]) + sealed[i + 1:]
        with pytest.raises(InvalidTag):
            aead.decrypt(iv, bad, aad)


def test_batch_rejects_non96_iv():
    """Every document gets a 96-bit IV and a 128-bit key, and no two of
    2000 documents share either."""
    sealed = [_envelope_seal(did, b"") for did in range(2000)]
    assert {len(iv) for _, iv, _, _ in sealed} == {12}
    assert {len(key) for key, _, _, _ in sealed} == {16}
    assert len({iv for _, iv, _, _ in sealed}) == 2000
    assert len({key for key, _, _, _ in sealed}) == 2000


def test_batch_lane_length_mismatch_raises():
    """Each document has its own key, IV and AAD: a document's sealed
    bytes do not open with another document's key, IV or AAD."""
    k1, iv1, aad1, sealed1 = _envelope_seal(1, b"same text")
    k2, iv2, aad2, sealed2 = _envelope_seal(2, b"same text")
    assert len({k1, k2}) == len({iv1, iv2}) == len({sealed1, sealed2}) == 2
    for key, iv, aad in ((k2, iv1, aad1), (k1, iv2, aad1), (k1, iv1, aad2),
                         (k2, iv2, aad2)):
        with pytest.raises(InvalidTag):
            AESGCM(key).decrypt(iv, sealed1, aad)
