"""Parquet footer statistics (``_footer_column_stats`` over
``pyarrow.parquet.read_metadata``) pinned against the data itself, read
in full through pandas: row counts, null counts and min/max folded
across row groups on every testdata table, multi-row-group layouts,
every codec, nested schema paths, a footer-only read that never touches
the data pages, and malformed-input errors."""

import os
import struct

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from precios_nexo_sperant_etl_spark.queries_scale_part4 import (
    _footer_column_stats)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")


def _pin_file(path, cols=None):
    """Every flat column's footer stats equal a full pandas read."""
    df = pq.read_table(path).to_pandas()
    cols = cols or [c for c in df.columns
                    if not pa.types.is_nested(
                        pq.read_schema(path).field(c).type)]
    n_rows, stats = _footer_column_stats(path, cols)
    assert n_rows == len(df)
    for c in cols:
        vals = df[c].dropna()
        assert stats[c]["nulls"] == len(df) - len(vals), c
        if len(vals) == 0:
            assert stats[c]["min"] is None and stats[c]["max"] is None
            continue
        lo, hi = stats[c]["min"], stats[c]["max"]
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            lo, hi = pd.Timestamp(lo), pd.Timestamp(hi)
        assert (lo, hi) == (vals.min(), vals.max()), c
    return stats


def test_pin_every_testdata_table_against_pyarrow():
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        _pin_file(os.path.join(SF_DIR, f"{t}.parquet"))


def test_multi_row_group_and_nulls(tmp_path):
    n = 10000
    df = pd.DataFrame({
        "k": range(n),
        "v": [None if i % 7 == 0 else float(i) * 0.5 for i in range(n)],
        "s": [f"name_{i % 100:03d}" for i in range(n)],
    })
    path = str(tmp_path / "multi.parquet")
    pq.write_table(pa.Table.from_pandas(df), path, row_group_size=1500)
    assert pq.read_metadata(path).num_row_groups == 7
    stats = _pin_file(path, ["k", "v", "s"])
    # folded across all 7 row groups, not the first or last one's
    assert stats["v"]["nulls"] == df["v"].isna().sum() == 1429
    assert (stats["k"]["min"], stats["k"]["max"]) == (0, n - 1)
    assert (stats["v"]["min"], stats["v"]["max"]) == (0.5, 4999.5)
    assert (stats["s"]["min"], stats["s"]["max"]) == ("name_000",
                                                      "name_099")


@pytest.mark.parametrize("codec", ["NONE", "SNAPPY", "GZIP", "ZSTD",
                                   "LZ4"])
def test_codec_field_parses(tmp_path, codec):
    df = pd.DataFrame({"a": range(100), "b": ["x", None] * 50})
    path = str(tmp_path / f"c_{codec}.parquet")
    pq.write_table(pa.Table.from_pandas(df), path, compression=codec,
                   row_group_size=30)
    stats = _pin_file(path, ["a", "b"])
    assert stats["b"]["nulls"] == 50


def test_schema_elements(tmp_path):
    # columns are picked by their schema path: nested struct children
    # are "parent.child", and a column the file lacks keeps empty stats
    tbl = pa.table({
        "i32": pa.array([1, None, 3], type=pa.int32()),
        "f": [1.5, 2.5, -4.0],
        "st": pa.array([{"x": 5, "y": "b"}, {"x": -2, "y": "a"},
                        {"x": None, "y": "c"}]),
    })
    path = str(tmp_path / "sch.parquet")
    pq.write_table(tbl, path)
    n_rows, stats = _footer_column_stats(
        path, ["i32", "f", "st.x", "st.y", "absent"])
    assert n_rows == 3
    assert stats["i32"] == {"nulls": 1, "min": 1, "max": 3}
    assert stats["f"] == {"nulls": 0, "min": -4.0, "max": 2.5}
    assert stats["st.x"] == {"nulls": 1, "min": -2, "max": 5}
    assert stats["st.y"] == {"nulls": 0, "min": "a", "max": "c"}
    assert stats["absent"] == {"nulls": 0, "min": None, "max": None}


def test_footer_only_read_is_bounded(tmp_path):
    # zero every byte between the leading PAR1 and the footer: the data
    # pages are gone, so a full read fails, yet the footer-only read
    # still returns the original statistics
    df = pd.DataFrame({"k": range(2000),
                       "payload": [os.urandom(200).hex()
                                   for _ in range(2000)]})
    path = str(tmp_path / "big.parquet")
    pq.write_table(pa.Table.from_pandas(df), path, row_group_size=500)
    want = _pin_file(path, ["k", "payload"])
    with open(path, "rb") as f:
        blob = bytearray(f.read())
    (flen,) = struct.unpack("<I", blob[-8:-4])
    assert flen + 8 < len(blob) // 4
    blob[4:len(blob) - 8 - flen] = bytes(len(blob) - 12 - flen)
    with open(path, "wb") as f:
        f.write(blob)
    with pytest.raises(Exception):
        pq.read_table(path).to_pandas()
    assert _footer_column_stats(path, ["k", "payload"]) == (2000, want)


def test_errors(tmp_path):
    junk = tmp_path / "junk.parquet"
    junk.write_bytes(b"not parquet at all")
    cut = tmp_path / "cut.parquet"
    cut.write_bytes(b"PAR1" + b"\xff" * 4 + b"PAR1")   # footer > file
    for path in (str(junk), str(cut), "/dev/null"):
        with pytest.raises(pa.ArrowInvalid):
            _footer_column_stats(path, ["a"])
    with pytest.raises((FileNotFoundError, OSError)):
        _footer_column_stats(str(tmp_path / "missing.parquet"), ["a"])


def test_pruning_scan_keeps_one_copy(spark, tmp_path, monkeypatch):
    """``rowgroup_pruning_scan`` writes its bucketed copy of ``orders``
    to one directory per input dir and overwrites it, so repeated runs
    leave one copy behind, not one per run."""
    import glob
    import tempfile

    from precios_nexo_sperant_etl_spark.queries_scale_part4 import (
        _rowgroup_pruning_scan)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    first = _rowgroup_pruning_scan(spark, SF_DIR).collect()
    files = sorted(glob.glob(str(tmp_path / "footer_prune_*" / "*" / "*")))
    second = _rowgroup_pruning_scan(spark, SF_DIR).collect()
    assert len(glob.glob(str(tmp_path / "footer_prune_*"))) == 1
    assert len(glob.glob(str(tmp_path / "footer_prune_*" / "*" / "*"))) \
        == len(files)
    assert first == second
