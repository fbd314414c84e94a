"""``arrow_ipc_scratch_read``'s shard step (``_arrow_ipc_build_and_read``):
pyarrow writes each shard as an IPC stream of 64-row batches with
every 7th doc_id's n_chars null and reads it back; every published row
must equal what went in, across batch boundaries, nulls, unicode and
empty shards."""

import hashlib
import random

import pandas as pd

from precios_nexo_sperant_etl_spark.queries_scale_part4 import (
    _arrow_ipc_build_and_read)

COLUMNS = ["doc_id", "text_md5", "n_chars_or_null", "lang"]


def _shard(doc_ids, rng):
    texts = ["".join(rng.choice("abcdeé漢 ") for _ in
                     range(rng.randrange(0, 40))) for _ in doc_ids]
    return pd.DataFrame({
        "doc_id": list(doc_ids),
        "text": texts,
        "n_chars": [len(t) for t in texts],
        "lang": [rng.choice(["es", "en", "pt"]) for _ in doc_ids],
    })


def _expected(pdf):
    rows = sorted(zip(pdf["doc_id"], pdf["text"], pdf["n_chars"],
                      pdf["lang"]))
    return [(int(i), hashlib.md5(t.encode("utf-8")).hexdigest(),
             None if i % 7 == 0 else int(n), lg)
            for i, t, n, lg in rows]


def _pin(pdf):
    got = _arrow_ipc_build_and_read(pdf)
    assert list(got.columns) == COLUMNS
    rows = [tuple(None if v is pd.NA else v for v in r)
            for r in got.itertuples(index=False, name=None)]
    assert rows == _expected(pdf)
    return got


def test_all_flat_types_with_nulls():
    pdf = pd.DataFrame({
        "doc_id": [14, 3, 7, 0, 22],
        "text": ["hola", "", "acentós y 漢字", "x" * 300, "tab\tnl\n"],
        "n_chars": [4, 0, 11, 300, 7],
        "lang": ["es", "en", "", "es", "pt"],
    })
    got = _pin(pdf)
    # every 7th doc_id comes back null, the rest keep their n_chars
    assert got["n_chars_or_null"].isna().tolist() == [True, False, True,
                                                      True, False]


def test_multi_batch_and_random_property():
    rng = random.Random(61)
    # shard sizes on and around the 64-row batch boundary
    for n in (1, 63, 64, 65, 128, 129, 500):
        ids = rng.sample(range(-10 ** 6, 10 ** 6), n)
        _pin(_shard(ids, rng))


def test_no_null_and_empty_tables():
    rng = random.Random(7)
    got = _pin(_shard([i for i in range(1, 100) if i % 7], rng))
    assert got["n_chars_or_null"].notna().all()
    empty = _arrow_ipc_build_and_read(_shard([], rng))
    assert list(empty.columns) == COLUMNS and len(empty) == 0
