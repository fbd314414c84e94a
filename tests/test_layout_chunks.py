"""Chunking, SemDeDup, and Z-order layout invariants.

These pin the SEMANTIC contracts (coverage, survivor rules, bit layout)
that the value-hash oracles can't express as readably: every token is
covered by a chunk, consecutive chunks overlap by exactly
``chunk_size - step``, the min-id member of every semantic dup pair
survives SemDeDup, and the Morton key interleaves bits exactly.
"""

import duckdb
import pytest

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# chunk_documents
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def chunked(spark):
    from precios_nexo_sperant_etl_spark.operators.text import chunk_documents
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return (docs, chunk_documents(docs, chunk_size=32, step=24).cache())


def test_chunks_cover_every_token(spark, chunked):
    docs, ch = chunked
    # Σ per-doc (last chunk_start + last chunk size) reaches n_tokens:
    # the final chunk ends exactly at the document's last token.
    last = (ch.groupBy("doc_id")
              .agg(F.max(F.col("chunk_start") + F.col("n_chunk_tokens"))
                   .alias("covered")))
    ntok = docs.select("doc_id",
                       F.size(F.split(F.trim("text"), r"\s+")).alias("n"))
    bad = last.join(ntok, "doc_id").filter(F.col("covered") != F.col("n"))
    assert bad.count() == 0


def test_chunk_overlap_and_stride(spark, chunked):
    _, ch = chunked
    # chunk c starts at c*step and holds min(chunk_size, n - start)
    # tokens; a non-final chunk always has > step tokens (its successor's
    # start exists), so consecutive full chunks share chunk_size - step.
    assert ch.filter(F.col("chunk_start") != F.col("chunk_id") * 24).count() == 0
    nonfinal = (ch.withColumn(
        "is_last",
        F.col("chunk_id") == F.max("chunk_id").over(
            __import__("pyspark").sql.Window.partitionBy("doc_id")))
        .filter(~F.col("is_last")))
    assert nonfinal.filter(F.col("n_chunk_tokens") <= 24).count() == 0


def test_chunk_reconstruction_roundtrip(spark, chunked):
    # Concatenating each chunk's not-yet-covered suffix, in chunk order,
    # reproduces the original token stream exactly (no token lost or
    # duplicated by the overlap scheme). Driver-side at this tiny sf.
    import re

    docs, ch = chunked
    orig = {r["doc_id"]: re.split(r"\s+", r["text"].strip())
            for r in docs.select("doc_id", "text").collect()}
    by_doc = {}
    for r in ch.select("doc_id", "chunk_id", "chunk_start",
                       "chunk_text").collect():
        by_doc.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["chunk_start"], r["chunk_text"]))
    assert set(by_doc) == set(orig)
    for doc_id, pieces in by_doc.items():
        rebuilt = []
        for _, start, ctext in sorted(pieces):
            ctoks = ctext.split(" ")
            rebuilt += ctoks[max(0, len(rebuilt) - start):]
        assert rebuilt == orig[doc_id], doc_id


# ---------------------------------------------------------------------------
# semdedup_survivors
# ---------------------------------------------------------------------------

def test_semdedup_survivor_rules(spark):
    from precios_nexo_sperant_etl_spark.functions.exact import ddot
    from precios_nexo_sperant_etl_spark.operators.similarity import (
        assign_kmeans_cells, semdedup_survivors)

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    tau = 0.35
    surv = semdedup_survivors(emb, threshold=tau).cache()
    n_all = emb.count()
    n_surv = surv.count()
    assert 0 < n_surv <= n_all

    # Exhaustive within-cell pair check at this tiny sf: a survivor pair
    # in the same cell must be below tau; every dropped id must have a
    # surviving-or-dropped lower-id neighbor >= tau in its cell.
    cells = assign_kmeans_cells(emb)
    a = cells.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"),
                     "cell")
    b = cells.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"),
                     "cell")
    cos = (ddot(F.col("va"), F.col("vb"))
           / (F.sqrt(ddot(F.col("va"), F.col("va")))
              * F.sqrt(ddot(F.col("vb"), F.col("vb")))))
    pairs = (a.join(b, "cell").filter(F.col("ia") < F.col("ib"))
              .select("ia", "ib", cos.alias("c")).cache())
    sids = {r["vec_id"] for r in surv.collect()}
    close = pairs.filter(F.col("c") >= tau).collect()
    assert len(close) > 0, "fixture has no semantic dups; test is vacuous"
    for r in close:
        # the higher id of any close pair must NOT have survived
        assert r["ib"] not in sids
    dropped = {r["ib"] for r in close}
    all_ids = {r["vec_id"] for r in cells.select("vec_id").collect()}
    assert sids == all_ids - dropped
    pairs.unpersist()
    surv.unpersist()


# ---------------------------------------------------------------------------
# zorder_key
# ---------------------------------------------------------------------------

def test_zorder_bit_interleave_exact(spark):
    from precios_nexo_sperant_etl_spark.operators.layout import zorder_key

    rows = [(0b1011, 0b0110), (0, 0), (65535, 65535), (1, 0), (0, 1)]
    df = spark.createDataFrame(rows, "x int, y int")
    got = [r["z"] for r in
           df.select(zorder_key(F.col("x"), F.col("y"), 16).alias("z"))
             .collect()]

    def morton(x, y):
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    assert got == [morton(x, y) for x, y in rows]
    # z=... interleaves: x=1,y=0 -> 1; x=0,y=1 -> 2
    assert got[3] == 1 and got[4] == 2


def test_zorder_duck_twin_matches(spark):
    from precios_nexo_sperant_etl_spark.operators.layout import (
        duck_zorder_key, zorder_key)

    rows = [(i * 7919 % 65536, i * 104729 % 65536) for i in range(100)]
    df = spark.createDataFrame(rows, "x int, y int")
    got = [r["z"] for r in
           df.select(zorder_key(F.col("x"), F.col("y"), 16).alias("z"))
             .orderBy("x").collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (x INT, y INT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = [r[0] for r in con.execute(
        f"SELECT {duck_zorder_key('x', 'y', 16)} FROM t ORDER BY x"
    ).fetchall()]
    assert got == want


def test_zorder_locality_beats_single_sort(spark):
    """The property that justifies the operator: bucketing by zkey gives
    per-bucket ranges that are narrow in BOTH dimensions, while
    single-column sort leaves the other dimension's range at ~full
    width. Measured on real orders data."""
    from precios_nexo_sperant_etl_spark.operators.layout import (
        minmax_scaled, zorder_key)

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    x = F.col("o_custkey")
    y = F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
    st = o.agg(F.min(x), F.max(x), F.min(y), F.max(y)).collect()[0]
    z = zorder_key(minmax_scaled(x, st[0], st[1], 16),
                   minmax_scaled(y, st[2], st[3], 16), 16)
    stats = (o.select(x.alias("ck"), y.alias("dy"), z.alias("z"))
              .groupBy(F.shiftright(F.col("z"), 26).alias("b"))
              .agg((F.max("ck") - F.min("ck")).alias("wx"),
                   (F.max("dy") - F.min("dy")).alias("wy"))
              .agg(F.avg("wx").alias("ax"), F.avg("wy").alias("ay"))
              .collect()[0])
    full = o.select((F.max(x) - F.min(x)).alias("fx")).collect()[0]["fx"]
    fully = (o.select(y.alias("dy"))
              .agg(F.max("dy") - F.min("dy")).collect()[0][0])
    # both dims' average per-bucket width well under the full span
    assert stats["ax"] < 0.7 * full
    assert stats["ay"] < 0.7 * fully


def test_zorder_write_prunes_files_in_both_dims(spark, tmp_path):
    """The executable version of the layout claim: write orders 8-ways
    range-partitioned (a) by custkey alone and (b) by the Morton key,
    then read back every file's parquet footer min/max stats. A narrow
    predicate on EITHER dimension must exclude most files under the
    Z-order layout; the single-column sort only ever prunes its own
    column."""
    import glob

    import pyarrow.parquet as pq

    from precios_nexo_sperant_etl_spark.operators.layout import (
        minmax_scaled, zorder_key)

    o = (spark.read.parquet(f"{SF_DIR}/orders.parquet")
         .select(F.col("o_custkey").alias("ck"),
                 F.datediff(F.col("o_orderdate"),
                            F.lit("1995-01-01").cast("date")).alias("dy")))
    st = o.agg(F.min("ck"), F.max("ck"), F.min("dy"), F.max("dy")).collect()[0]
    o = o.withColumn("zkey",
                     zorder_key(minmax_scaled(F.col("ck"), st[0], st[1], 16),
                                minmax_scaled(F.col("dy"), st[2], st[3], 16),
                                16))

    out_a = str(tmp_path / "by_custkey")
    out_b = str(tmp_path / "by_zorder")
    o.repartitionByRange(8, "ck").write.parquet(out_a)
    o.repartitionByRange(8, "zkey").write.parquet(out_b)

    def file_ranges(path):
        out = []
        for f in sorted(glob.glob(f"{path}/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            mins = {"ck": None, "dy": None}
            maxs = {"ck": None, "dy": None}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    if name in mins and col.statistics is not None:
                        lo, hi = col.statistics.min, col.statistics.max
                        mins[name] = lo if mins[name] is None else min(mins[name], lo)
                        maxs[name] = hi if maxs[name] is None else max(maxs[name], hi)
            if mins["ck"] is not None:
                out.append((mins["ck"], maxs["ck"], mins["dy"], maxs["dy"]))
        return out

    ra, rb = file_ranges(out_a), file_ranges(out_b)
    assert len(ra) >= 4 and len(rb) >= 4

    ck_lo, ck_hi = 10, 25          # narrow custkey band
    dy_lo, dy_hi = 100, 200        # narrow date band

    def hits(ranges, lo, hi, dim):
        i = 0 if dim == "ck" else 2
        return sum(1 for r in ranges if not (r[i + 1] < lo or r[i] > hi))

    # custkey predicate: both layouts prune (custkey sort trivially so)
    assert hits(ra, ck_lo, ck_hi, "ck") <= len(ra) // 2
    assert hits(rb, ck_lo, ck_hi, "ck") <= len(rb) // 2
    # date predicate: the custkey sort cannot prune (every file spans
    # all dates) — the Z-order layout must
    assert hits(ra, dy_lo, dy_hi, "dy") == len(ra)
    assert hits(rb, dy_lo, dy_hi, "dy") <= len(rb) // 2


def test_semdedup_within_cell_recall_floor(spark):
    """SemDeDup trades recall for the Σ cell² cost bound: only pairs
    sharing a k-means cell are examined, so cross-cell similar pairs are
    missed by design (the paper's regime is high-τ near-identical
    content, which co-clusters; the LSH operator is the high-recall path
    for moderate τ). Pin the measured floor so a clustering regression
    (e.g. degenerate single-dimension cells) can't silently pass."""
    from precios_nexo_sperant_etl_spark.functions.exact import ddot
    from precios_nexo_sperant_etl_spark.operators.similarity import (
        assign_kmeans_cells)

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    tau = 0.35
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    cos = (ddot(F.col("va"), F.col("vb"))
           / (F.sqrt(ddot(F.col("va"), F.col("va")))
              * F.sqrt(ddot(F.col("vb"), F.col("vb")))))
    exact = (F.broadcast(a).crossJoin(b).filter(F.col("ia") < F.col("ib"))
             .filter(cos >= tau).select("ia", "ib").cache())
    n_exact = exact.count()
    assert n_exact > 100  # fixture must exercise the regime at all
    cells = assign_kmeans_cells(emb)
    within = (exact
              .join(cells.select(F.col("vec_id").alias("ia"),
                                 F.col("cell").alias("ca")), "ia")
              .join(cells.select(F.col("vec_id").alias("ib"),
                                 F.col("cell").alias("cb")), "ib")
              .filter(F.col("ca") == F.col("cb")).count())
    exact.unpersist()
    # measured 0.335 on this fixture; a degenerate clustering (all
    # pairs split across cells) would drop toward 1/n_cells * skew ≈ 0.1
    assert within / n_exact >= 0.25


def test_chunk_documents_rejects_token_dropping_stride(spark):
    import pytest as _pytest

    from precios_nexo_sperant_etl_spark.operators.text import chunk_documents
    docs = spark.createDataFrame([(1, "a b c")], "doc_id int, text string")
    with _pytest.raises(ValueError, match="skip tokens"):
        chunk_documents(docs, chunk_size=8, step=9)


def test_zorder_key_n_three_dims(spark):
    from precios_nexo_sperant_etl_spark.operators.layout import zorder_key_n

    rows = [(5, 3, 6), (0, 0, 0), (255, 255, 255), (1, 0, 0),
            (0, 1, 0), (0, 0, 1)]
    df = spark.createDataFrame(rows, "x int, y int, z int")
    got = [r["m"] for r in df.select(
        zorder_key_n([F.col("x"), F.col("y"), F.col("z")], bits=8)
        .alias("m")).collect()]

    def morton3(x, y, z):
        m = 0
        for i in range(8):
            m |= ((x >> i) & 1) << (3 * i)
            m |= ((y >> i) & 1) << (3 * i + 1)
            m |= ((z >> i) & 1) << (3 * i + 2)
        return m

    assert got == [morton3(*r) for r in rows]
    # unit vectors land on distinct low bits
    assert got[3:] == [1, 2, 4]


def test_zorder_key_n_rejects_key_overflow(spark):
    import pytest as _pytest

    from precios_nexo_sperant_etl_spark.operators.layout import zorder_key_n
    with _pytest.raises(ValueError, match="63-bit"):
        zorder_key_n([F.col("a"), F.col("b"), F.col("c"), F.col("d")],
                     bits=16)


def test_shard_assignment_balances_tokens(spark):
    """The snake round-robin must produce near-equal shard token totals
    on real data (within a few percent of the mean), and every doc must
    land in exactly one of the 8 shards."""
    import sys
    sys.path.insert(0, "/root/repo")
    from precios_nexo_sperant_etl_spark.queries_scale_part1 import (
        _shard_assignment)

    out = _shard_assignment(spark, SF_DIR)
    totals = {r["shard"]: r["t"] for r in
              out.groupBy("shard").agg(F.sum("n_tokens").alias("t"))
                 .collect()}
    assert set(totals) == set(range(8))
    mean = sum(totals.values()) / 8
    assert max(totals.values()) <= 1.05 * mean
    assert min(totals.values()) >= 0.95 * mean
    assert out.count() == out.select("doc_id").distinct().count()


def test_chunker_skips_empty_and_whitespace_docs(spark):
    """A whitespace-only document tokenizes to [''] — size > 0 alone
    would emit a bogus ('' , 1-token) chunk. The chunker must emit
    nothing for such docs and still chunk real ones."""
    from precios_nexo_sperant_etl_spark.operators.text import (
        chunk_documents)

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "\t\n"), (4, "uno dos tres")],
        "doc_id long, text string")
    out = chunk_documents(docs, chunk_size=2, step=2).collect()
    assert {r["doc_id"] for r in out} == {4}
    assert [r["chunk_text"] for r in sorted(out, key=lambda r: r["chunk_id"])] \
        == ["uno dos", "tres"]
