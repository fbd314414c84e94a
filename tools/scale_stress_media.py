"""Scale stress for the round-7 media/ML additions: measured evidence
that the decode seams scale linearly in payload bytes and that the
exact-arithmetic paths are bit-invariant under partitioning.

Sections
--------
1. JPEG entropy-codec cost curve: encode+decode ms/payload at 16x16 →
   128x128 (random content, quant=1). The per-MCU Python loop should
   scale ~linearly in block count; the report prints ms per 64 blocks
   so a superlinear blowup is visible at a glance.
2. WebDataset shard roundtrip throughput at 8 / 32 / 128 rows per
   shard: MB/s through build_shard + parse_tar_members + group_samples,
   and the invariant that every sample survives every shard size.
3. Partition-invariance proofs (the property the exact-integer design
   buys): quality-probe Gram moments and Poisson-bootstrap replicate
   means are collected under repartition(1), repartition(7),
   repartition(32) and a row-order shuffle — all four must be
   IDENTICAL to the byte (not approximately equal).

Usage: python tools/scale_stress_media.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from precios_nexo_sperant_etl_spark.session import get_spark  # noqa: E402


def stress_jpeg_codec() -> None:
    from precios_nexo_sperant_etl_spark.operators.jpegcodec import (
        decode_baseline, encode_baseline_gray)
    print("== JPEG entropy codec cost curve (encode+decode, quant=1) ==")
    rng = np.random.RandomState(7)
    prev = None
    for side in (16, 32, 64, 128):
        px = rng.randint(0, 256, size=(side, side), dtype=np.uint8)
        reps = max(3, 2048 // side)
        t0 = time.perf_counter()
        for _ in range(reps):
            out = decode_baseline(encode_baseline_gray(px))
        dt = (time.perf_counter() - t0) / reps * 1000
        err = np.abs(out["pixels"].astype(int) - px.astype(int)).max()
        if err > 1:
            raise AssertionError(f"roundtrip error {err} at {side}x{side}")
        blocks = (side // 8) ** 2
        per64 = dt / blocks * 64
        ratio = "" if prev is None else f"  (x{per64 / prev:.2f} per-block vs prev)"
        print(f"  {side:>4}x{side:<4} {dt:8.2f} ms/payload   "
              f"{per64:6.2f} ms/64-blocks{ratio}")
        prev = per64


def stress_webdataset() -> None:
    from precios_nexo_sperant_etl_spark.operators.webdataset import (
        build_shard, group_samples, parse_tar_members)
    print("== WebDataset shard roundtrip throughput ==")
    rng = np.random.RandomState(11)
    docs = [(f"{i:012d}", rng.bytes(2000)) for i in range(1024)]
    for per_shard in (8, 32, 128):
        t0 = time.perf_counter()
        total = 0
        seen = 0
        for lo in range(0, len(docs), per_shard):
            parts = []
            for key, data in docs[lo:lo + per_shard]:
                parts.append((f"{key}.bin", data))
                parts.append((f"{key}.cls", b"x"))
            shard = build_shard(parts)
            total += len(shard)
            samples = group_samples(parse_tar_members(shard))
            for key, data in docs[lo:lo + per_shard]:
                if samples[key]["bin"] != data:
                    raise AssertionError(f"sample {key} corrupted")
                seen += 1
        dt = time.perf_counter() - t0
        if seen != len(docs):
            raise AssertionError(f"lost samples: {seen}/{len(docs)}")
        print(f"  {per_shard:>4} rows/shard: {total / 1e6:7.1f} MB in "
              f"{dt:5.2f}s = {total / 1e6 / dt:6.1f} MB/s, "
              f"{seen} samples verified")


def stress_partition_invariance(sf_dir: str) -> None:
    from pyspark.sql import functions as F

    from precios_nexo_sperant_etl_spark.queries_ml import (_features,
                                                           _moments)
    from precios_nexo_sperant_etl_spark.sources.tables import load_tables
    print("== Partition-invariance proofs (must be byte-identical) ==")
    spark = get_spark()
    docs = load_tables(spark, sf_dir)["documents"]

    def gram_of(df):
        f = df.select(*_features())
        return tuple(f.agg(
            F.count(F.lit(1)), F.sum("x1"), F.sum("x2"),
            F.sum(F.col("x1") * F.col("x1")),
            F.sum(F.col("x1") * F.col("x2")),
            F.sum(F.col("x2") * F.col("x2")),
            F.sum("y"), F.sum(F.col("x1") * F.col("y")),
            F.sum(F.col("x2") * F.col("y"))).collect()[0])

    base = gram_of(docs)
    layouts = {
        "repartition(1)": docs.repartition(1),
        "repartition(7)": docs.repartition(7),
        "repartition(32, lang)": docs.repartition(32, "lang"),
        "order-shuffled": docs.orderBy(F.md5(F.col("text"))),
    }
    for name, df in layouts.items():
        g = gram_of(df)
        if g != base:
            raise AssertionError(f"Gram moments differ under {name}")
        print(f"  gram moments     {name:<24} identical")

    from precios_nexo_sperant_etl_spark.queries_scale_part3 import _boot_means_df
    sf = sf_dir

    def means_fingerprint():
        rows = _boot_means_df(spark, sf).orderBy("r").collect()
        return tuple((r["r"], r["sw"], r["swx"],
                      r["mean_tokens"].hex()) for r in rows)

    m1 = means_fingerprint()
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        m2 = means_fingerprint()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    if m1 != m2:
        raise AssertionError(
            "bootstrap replicate means differ across shuffle widths")
    print(f"  bootstrap means  shuffle 32 vs 3 partitions  "
          f"identical ({len(m1)} replicates, float bits compared)")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    stress_jpeg_codec()
    stress_webdataset()
    stress_partition_invariance(sf_dir)
    print("ALL MEDIA/ML STRESS SECTIONS PASSED")


if __name__ == "__main__":
    main()
