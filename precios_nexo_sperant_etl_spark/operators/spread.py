"""Scale-adaptive pre-spread for CPU-dense narrow stages.

At bench scale every base table is ONE parquet file, so a tokenize /
fold / codec projection that runs before the first exchange executes in
a single task (guide §2.5 "input skew: one huge unsplittable file —
repartition immediately after the read"). On a real deployment the scan
already has ≥ cores splits and these helpers are a NO-OP — the
condition keeps the extra exchange out of fleet-scale plans instead of
hard-coding a local[32] shape.

``fanout_by`` additionally KEYS the spread so downstream groupings /
windows clustered by (a superset of) the key run exchange-free on top
of it — the clustered-pipeline shape of ``dedup_fuzzy.shingle_hashes``
and ``retrieval.bm25_topk``. The explicit width (not a bare
``repartition(col)``) stops AQE from coalescing the CPU-dense stage
into one task; cost is per row, not per byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _is_narrow(df: DataFrame, width: int) -> bool:
    # Prefer inputFiles(): it reads the (cached) file index without the
    # .rdd plan translation, which costs ~0.5-1 s of driver time per
    # probe on a fresh plan. One file can still split into several
    # scan partitions, so this can fan out a big single file that
    # didn't strictly need it — one linear narrow shuffle, exactly
    # what a CPU-dense consumer wants anyway. Non-file-backed frames
    # (cached/derived inputs) fall back to the RDD probe. Probe one base
    # relation: a join or union lists the files of every input, so a
    # single-file side behind it can be judged wide.
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files:
        return len(files) < width
    return df.rdd.getNumPartitions() < width


def fanout(df: DataFrame) -> DataFrame:
    width = df.sparkSession.sparkContext.defaultParallelism
    if not _is_narrow(df, width):
        return df
    return df.repartition(width)


def fanout_by(df: DataFrame, *cols: str) -> DataFrame:
    width = df.sparkSession.sparkContext.defaultParallelism
    if not _is_narrow(df, width):
        return df
    return df.repartition(width, *cols)
