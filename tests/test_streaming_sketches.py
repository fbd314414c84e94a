"""Streaming sketch maintenance ≡ batch sketch: merging per-micro-batch
HLL registers (max) and CMS counters (sum) over a multi-batch file
stream must equal the one-shot batch sketch of the full corpus — the
mergeability property, proven end-to-end, plus replay idempotence."""

import os

from pyspark.sql import functions as F

from precios_nexo_sperant_etl_spark.operators.sketches import (cms_counters,
                                                               hll_registers)
from precios_nexo_sperant_etl_spark.operators.text import tokens
from precios_nexo_sperant_etl_spark.streaming.stream_sketches import (
    read_cms_counters, read_hll_registers, streaming_cms_to_lake,
    streaming_hll_to_lake)

SF_DIR = "/root/testdata/sf0.001"


def _drop_dir(spark, tmp_path, n_files=3):
    """Stage the documents as n separate parquet files (n micro-batches
    under maxFilesPerTrigger=1)."""
    src = str(tmp_path / "drop")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    (docs.withColumn("_b", F.pmod(F.col("doc_id"), F.lit(n_files)))
         .repartition(n_files, "_b").drop("_b")
         .write.parquet(src))
    n_parts = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_parts >= 2, "need a genuinely multi-batch stream"
    return src, docs


def _stream(spark, src):
    return (spark.readStream
            .schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src))


def test_streaming_hll_equals_batch(spark, tmp_path):
    src, docs = _drop_dir(spark, tmp_path)
    out, ckpt = str(tmp_path / "hll"), str(tmp_path / "ckpt_hll")
    q = streaming_hll_to_lake(_stream(spark, src), out, ckpt)
    q.awaitTermination(120)
    merged = read_hll_registers(spark, out)
    items = (docs.select("source", F.explode(tokens(F.col("text")))
                         .alias("term"))
                 .where(F.col("term") != ""))
    batch = hll_registers(items, "term", ["source"], p=6)
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, batch.collect()))
    # more than one batch actually landed
    batches = {f for f in os.listdir(out) if f.startswith("batch_id=")}
    assert len(batches) >= 2


def test_streaming_cms_equals_batch_and_replay_idempotent(spark, tmp_path):
    src, docs = _drop_dir(spark, tmp_path)
    out, ckpt = str(tmp_path / "cms"), str(tmp_path / "ckpt_cms")
    q = streaming_cms_to_lake(_stream(spark, src), out, ckpt)
    q.awaitTermination(120)
    merged = read_cms_counters(spark, out)
    terms = (docs.select(F.explode(tokens(F.col("text"))).alias("term"))
                 .where(F.col("term") != "")
                 .groupBy("term").agg(F.count(F.lit(1)).alias("cnt")))
    batch = cms_counters(terms, "term", "cnt", 4, 256)
    before = sorted(map(tuple, merged.collect()))
    assert before == sorted(map(tuple, batch.collect()))
    # replay the whole stream against the same sink from a FRESH
    # checkpoint: every batch rewrites its own partition → same state
    q2 = streaming_cms_to_lake(_stream(spark, src), out,
                               str(tmp_path / "ckpt_cms2"))
    q2.awaitTermination(120)
    after = sorted(map(tuple, read_cms_counters(spark, out).collect()))
    assert after == before


def test_streaming_bloom_equals_batch_and_replay_idempotent(spark, tmp_path):
    from precios_nexo_sperant_etl_spark.operators.dedup_fuzzy import \
        canonical_text
    from precios_nexo_sperant_etl_spark.operators.sketches import bloom_bits
    from precios_nexo_sperant_etl_spark.streaming.stream_sketches import (
        read_bloom_bits, streaming_bloom_to_lake)
    src, docs = _drop_dir(spark, tmp_path)
    out, ckpt = str(tmp_path / "bloom"), str(tmp_path / "ckpt_bloom")
    q = streaming_bloom_to_lake(_stream(spark, src), out, ckpt)
    assert q.awaitTermination(120)
    keys = docs.select(F.md5(canonical_text(F.col("text")))
                       .alias("text_hash"))
    batch = bloom_bits(keys, "text_hash", 3, 4096)
    merged = read_bloom_bits(spark, out)
    before = sorted(r.bit for r in merged.collect())
    assert before == sorted(r.bit for r in batch.collect())
    # replay from a fresh checkpoint: OR is idempotent, each batch
    # overwrites its own partition -> identical live filter
    q2 = streaming_bloom_to_lake(_stream(spark, src), out,
                                 str(tmp_path / "ckpt_bloom2"))
    assert q2.awaitTermination(120)
    after = sorted(r.bit for r in read_bloom_bits(spark, out).collect())
    assert after == before


def test_streaming_kmv_equals_batch_and_replay_idempotent(spark, tmp_path):
    """Fifth merge algebra (min-selection): the k-smallest-of-union
    merge over per-batch minima must equal the one-shot batch sketch
    bit-for-bit, and a replayed run must leave the state unchanged."""
    from precios_nexo_sperant_etl_spark.operators.sketches import kmv_sketch
    from precios_nexo_sperant_etl_spark.streaming.stream_sketches import (
        read_kmv_sketch, streaming_kmv_to_lake)
    src, docs = _drop_dir(spark, tmp_path)
    out, ckpt = str(tmp_path / "kmv"), str(tmp_path / "ckpt_kmv")
    q = streaming_kmv_to_lake(_stream(spark, src), out, ckpt, k=16)
    assert q.awaitTermination(120)
    items = (docs.select("source", F.explode(tokens(F.col("text")))
                         .alias("term"))
             .where(F.col("term") != ""))
    batch = {(r["source"], r["k_used"], r["h_k"], r["kmv_est"])
             for r in kmv_sketch(items, "term", ["source"], k=16).collect()}
    merged = {(r["source"], r["k_used"], r["h_k"], r["kmv_est"])
              for r in read_kmv_sketch(spark, out, k=16).collect()}
    assert merged == batch
    q2 = streaming_kmv_to_lake(_stream(spark, src), out,
                               str(tmp_path / "ckpt_kmv2"), k=16)
    assert q2.awaitTermination(120)
    again = {(r["source"], r["k_used"], r["h_k"], r["kmv_est"])
             for r in read_kmv_sketch(spark, out, k=16).collect()}
    assert again == batch


def test_compact_sketch_lake_preserves_merged_state(spark, tmp_path):
    """Compacting the per-batch partitions into one must leave every
    lake's merged read bit-identical (max/sum/or/min-selection all fold
    associatively), with the partition count collapsing to 1."""
    from precios_nexo_sperant_etl_spark.streaming.stream_sketches import (
        compact_sketch_lake, read_cms_counters, read_kmv_sketch,
        streaming_cms_to_lake, streaming_kmv_to_lake)
    src, docs = _drop_dir(spark, tmp_path)

    out_c, out_k = str(tmp_path / "cms"), str(tmp_path / "kmv")
    assert streaming_cms_to_lake(_stream(spark, src), out_c,
                                 str(tmp_path / "ck1")).awaitTermination(120)
    assert streaming_kmv_to_lake(_stream(spark, src), out_k,
                                 str(tmp_path / "ck2"),
                                 k=16).awaitTermination(120)
    cms_before = sorted((r["row"], r["bucket"], r["counter"])
                        for r in read_cms_counters(spark, out_c).collect())
    kmv_before = sorted((r["source"], r["k_used"], r["h_k"], r["kmv_est"])
                        for r in read_kmv_sketch(spark, out_k,
                                                 k=16).collect())
    compact_sketch_lake(spark, out_c, "cms")
    compact_sketch_lake(spark, out_k, "kmv")
    assert sorted((r["row"], r["bucket"], r["counter"])
                  for r in read_cms_counters(spark, out_c).collect()) \
        == cms_before
    assert sorted((r["source"], r["k_used"], r["h_k"], r["kmv_est"])
                  for r in read_kmv_sketch(spark, out_k, k=16).collect()) \
        == kmv_before
    parts = {r["batch_id"] for r in
             spark.read.parquet(out_c).select("batch_id")
             .distinct().collect()}
    assert parts == {-1}


def test_streaming_gram_equals_batch_and_replay_idempotent(spark, tmp_path):
    """Sixth merge algebra (component-wise integer SUM of training
    moments): multi-batch streamed moments must equal the one-pass
    batch moments exactly, and a replay from a fresh checkpoint must
    leave the merged state unchanged (per-batch dynamic overwrite)."""
    from precios_nexo_sperant_etl_spark.queries_ml import _features
    from precios_nexo_sperant_etl_spark.streaming.stream_sketches import (
        read_gram_moments, streaming_gram_to_lake)

    src, docs = _drop_dir(spark, tmp_path)
    out, ckpt = str(tmp_path / "gram"), str(tmp_path / "ckpt_gram")
    q = streaming_gram_to_lake(_stream(spark, src), out, ckpt)
    assert q.awaitTermination(120)

    batches = {f for f in os.listdir(out) if f.startswith("batch_id=")}
    assert len(batches) >= 2

    merged = read_gram_moments(spark, out).collect()[0].asDict()
    f = docs.select(*_features())
    batch = f.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("x1").alias("s1"), F.sum("x2").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum("y").alias("b0"),
        F.sum(F.col("x1") * F.col("y")).alias("b1"),
        F.sum(F.col("x2") * F.col("y")).alias("b2")).collect()[0].asDict()
    assert merged == batch

    # replay: fresh checkpoint, same sink — batch_id partitions overwrite
    # themselves, merged moments unchanged
    q2 = streaming_gram_to_lake(_stream(spark, src), out,
                                str(tmp_path / "ckpt_gram2"))
    assert q2.awaitTermination(120)
    assert read_gram_moments(spark, out).collect()[0].asDict() == batch


def test_streaming_query_keeps_one_scratch_dir(spark, tmp_path,
                                               monkeypatch):
    """A streaming query lands under one directory per query and input,
    wiped by its next run, so repeated runs leave one directory (not one
    per run) and carry no checkpoint or landed file over."""
    import glob
    import tempfile

    from precios_nexo_sperant_etl_spark.queries_streaming import (
        _streaming_scd2_upsert)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    first = _streaming_scd2_upsert(spark, SF_DIR).collect()
    (root,) = glob.glob(str(tmp_path / "stream_scd2_*"))
    stale = os.path.join(root, "ckpt", "left_by_an_earlier_run")
    os.makedirs(os.path.dirname(stale), exist_ok=True)
    open(stale, "w").close()
    second = _streaming_scd2_upsert(spark, SF_DIR).collect()
    assert glob.glob(str(tmp_path / "stream_scd2_*")) == [root]
    assert not os.path.exists(stale)
    assert first and first == second
