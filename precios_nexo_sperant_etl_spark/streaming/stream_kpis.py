"""Structured Streaming variants of the event-time aggregations.

The reference is batch-only (SURVEY §2.9) — its "refresh" is re-running
the extractor. Here the same windowed KPI aggregation runs incrementally:
``readStream`` over the events parquet (stand-in for Kafka/files arriving)
→ watermark → tumbling window counts → sink. The plan is identical to
``operators.windows.tumbling_agg``, so the batch oracles pin the
streaming semantics; the watermark bounds state for late data.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType, TimestampNTZType)


def _raw_schema(sf_dir: str) -> StructType:
    """Raw schema of events.parquet. Fixture generations differ: nanos
    timestamps arrive as int64 under ``nanosAsLong``; micros timestamps
    arrive as TIMESTAMP_NTZ. Sniff the footer (driver-side, one metadata
    read) so the stream's user-supplied schema matches the files."""
    import pyarrow.parquet as pq
    import pyarrow.types as pat
    ts_type = pq.read_schema(
        os.path.join(sf_dir, "events.parquet")).field("ts").type
    ts_field = (StructField("ts", LongType()) if pat.is_integer(ts_type)
                else StructField("ts", TimestampNTZType()))
    return StructType([
        StructField("event_id", LongType()),
        ts_field,
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events parquet with the same nanos→micros
    normalization the batch loader applies."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The file streaming source requires a *directory* to monitor; stage a
    # symlink dir (new files appearing there would be picked up as they
    # arrive — exactly the production file-drop pattern). The name is
    # namespaced with "raw" — stream_events_with_flush stages a
    # DIFFERENT file set (events copy + sentinel rows) and the two
    # watchers must never share a directory, or each reads the other's
    # files as extra micro-batches (double counts).
    stage = os.path.join(tempfile.gettempdir(),
                         "stream_events_raw_"
                         + sf_dir.strip("/").replace("/", "_"))
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    schema = _raw_schema(sf_dir)
    raw = spark.readStream.schema(schema).parquet(stage)
    # Watermarks require TIMESTAMP (not NTZ); with the session pinned to
    # UTC the wall-clock values match the batch loader's NTZ reading.
    if isinstance(schema["ts"].dataType, LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def streaming_tumbling_counts(events: DataFrame, width: str = "10 minutes",
                              watermark: str = "30 minutes") -> DataFrame:
    """Watermarked tumbling-window counts per event type — the streaming
    twin of ``operators.windows.tumbling_agg``. State for a window is
    dropped once the watermark passes its end; later events are discarded
    as late (append-mode semantics)."""
    return (events.withWatermark("ts", watermark)
            .groupBy(F.window("ts", width).alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("win.start").alias("win_start"), "event_type",
                    "n_events"))


def streaming_session_windows(events: DataFrame, gap: str = "30 minutes",
                              watermark: str = "30 minutes") -> DataFrame:
    """Watermarked gap-based sessionization — the streaming twin of
    ``operators.windows.sessionize``. Session state for a user merges
    while events keep arriving within ``gap``; the session closes (and
    emits, in append mode) once the watermark passes its end."""
    return (events.withWatermark("ts", watermark)
            .groupBy("user_id", F.session_window("ts", gap).alias("win"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id", F.col("win.start").alias("session_start"),
                    "n_events"))


def streaming_click_purchase_join(events: DataFrame,
                                  max_gap: str = "10 minutes",
                                  watermark: str = "30 minutes") -> DataFrame:
    """Stream-stream inner join: each click pairs with the same user's
    purchases within ``max_gap`` AFTER the click — the canonical
    attribution join.

    Both sides carry a watermark and the join condition bounds event time
    in both directions, so the engine can expire join state: a buffered
    click is dropped once the watermark passes ``click_ts + max_gap``,
    which is what makes this runnable forever on unbounded streams
    (state ∝ events inside the gap window, not the stream length). The
    batch twin (same predicate on static frames) pins the semantics in
    tests.
    """
    clicks = (events.filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", watermark))
    purchases = (events.filter(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user"),
                         F.col("ts").alias("buy_ts"),
                         F.col("value").alias("buy_value"))
                 .withWatermark("buy_ts", watermark))
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("buy_ts") >= F.col("click_ts"))
        & (F.col("buy_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {max_gap}"))
    )
    return (clicks.join(purchases, cond, "inner")
            .select(F.col("c_user").alias("user_id"), "click_id",
                    "click_ts", "buy_ts", "buy_value"))


def streaming_dedup_events(events: DataFrame, keys: list[str] | None = None,
                           watermark: str = "30 minutes") -> DataFrame:
    """Streaming exact dedup: at-least-once sources (Kafka, file drops,
    retried batches) re-deliver events; this keeps the FIRST arrival per
    key and drops re-deliveries that land within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` bounds state: a key's fingerprint
    is kept only until the watermark passes its event time + the
    interval, so state scales with the duplicate-arrival window, not the
    stream's lifetime — the streaming twin of the batch hash-dedup
    (``operators/dedup_fuzzy.exact_dedup``).
    """
    keys = keys or ["event_id"]
    return (events.withWatermark("ts", watermark)
                  .dropDuplicatesWithinWatermark(keys))


def run_available_now(stream_df: DataFrame, query_name: str = "kpi_stream",
                      timeout_s: int = 120) -> list:
    """Drain all currently-available input (Trigger.AvailableNow) into an
    in-memory table and return its rows — the batch-equivalence harness
    used by tests."""
    with tempfile.TemporaryDirectory() as ckpt:
        q = (stream_df.writeStream.format("memory").queryName(query_name)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        # A silent timeout would return a PARTIAL table to the
        # batch-equivalence comparison — fail loudly instead.
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(
                f"availableNow drain exceeded {timeout_s}s")
        spark = stream_df.sparkSession
        return spark.table(query_name).collect()


def streaming_parquet_upsert(stream_df: DataFrame, out_dir: str,
                             key_cols: list[str] | None = None,
                             part_col: str = "event_type",
                             timeout_s: int = 180) -> None:
    """``foreachBatch`` incremental MERGE into a partitioned parquet lake
    table — the production file-drop → lake ingestion pattern.

    Each micro-batch is deduplicated against ITSELF on ``key_cols``
    (at-least-once sources re-deliver inside a batch too), then MERGED by
    key: existing rows in the batch's partitions that are NOT re-keyed by
    the batch are retained (left-anti join), the union is materialized
    (``localCheckpoint`` — you cannot lazily read the very files an
    overwrite is about to delete), and only the touched partitions are
    rewritten under dynamic partition overwrite. This is upsert
    semantics across ANY batching: batch N never wipes batch N-1's rows
    that share a low-cardinality partition value (a plain dynamic
    overwrite per batch would — each batch replaces whole partitions),
    and a REPLAYED batch re-keys its own rows, so at-least-once delivery
    still converges — effectively exactly-once at the table level.

    The session's ``partitionOverwriteMode`` is saved and restored around
    every write; the shared session is left untouched.

    Scale: the merge reads only the batch's partitions (partition-pruned
    scan) and shuffles only those rows for the anti-join — the same
    bounded cost a lakehouse MERGE pays; per-batch work scales with the
    touched partitions, not the table. A real deployment would use a
    format with transactional MERGE (Delta/Iceberg); plain parquet makes
    the same plan explicit.
    """
    key_cols = key_cols or ["event_id"]

    def _upsert(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        fresh = batch.dropDuplicates(key_cols)
        parts = [r[0] for r in fresh.select(part_col).distinct().collect()]
        if not parts:
            return
        try:
            old = (spark.read.schema(fresh.schema).parquet(out_dir)
                   .filter(F.col(part_col).isin(parts)))
            merged = old.join(fresh.select(key_cols), key_cols, "left_anti") \
                        .unionByName(fresh)
        except Exception as exc:  # first batch: table doesn't exist yet
            if "PATH_NOT_FOUND" not in str(exc):
                raise
            merged = fresh
        merged = merged.localCheckpoint(eager=True)
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode",
                              None)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (merged.write.mode("overwrite").partitionBy(part_col)
                   .parquet(out_dir))
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
            else:
                spark.conf.set(
                    "spark.sql.sources.partitionOverwriteMode", prev)

    with tempfile.TemporaryDirectory() as ckpt:
        q = (stream_df.writeStream.foreachBatch(_upsert)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(
                f"upsert drain exceeded {timeout_s}s")


def streaming_late_window_counts(spark: SparkSession, sf_dir: str,
                                 width: str = "1 hour",
                                 delay: str = "1 hour",
                                 timeout_s: int = 300) -> DataFrame:
    """Watermark LATENESS as a deterministic value oracle: two pinned
    micro-batches where a known subset arrives provably late and must
    be dropped by the watermark.

    Construction (all cutoffs derived from the events' own max ts, so
    the experiment scales with the fixture; ``late`` = events with
    ``ts < max_ts − 72h`` and ``user_id % 5 = 0``, the replayed-late
    subset):

    - batch 1 = everything before ``max_ts − 50h`` EXCEPT ``late``.
    - batch 2 = the heartbeat slice ``[max_ts − 50h, max_ts − 48h)``.
      The watermark only takes effect one batch after the data that
      set it (it is computed from the PREVIOUS batch's max event
      time), so this batch exists to run eviction: while it
      processes, the watermark is ``≈ max_ts − 51h`` and at its end
      every ``late`` window (closed ≥ 20h earlier) is emitted and
      evicted. A two-batch design provably does NOT drop the late
      rows — they merge into still-open state and the drop counter
      stays 0 (measured); lateness in Spark means "window already
      finalized", not "timestamp below watermark".
    - batch 3 = the tail (``ts ≥ max_ts − 48h``) PLUS ``late``. The
      late rows now target evicted windows and are dropped
      (``numRowsDroppedByWatermark`` > 0 in the progress metrics);
      the tail advances the final watermark to ``max_ts − delay``.

    Batch order is pinned by file modification times (the file source
    orders by mod time; ``maxFilesPerTrigger=1`` gives one batch per
    file), and the tumbling counts land through the exactly-once
    parquet sink in append mode. The emitted result is therefore
    exactly: tumbling counts over (all events − late) restricted to
    windows the final watermark closed (end ≤ max_ts − delay) — which
    SQL reproduces with no streaming machinery at all (the registered
    oracle; verified exact at sf0.001 and sf0.01).
    """
    import datetime
    import glob
    import shutil

    from ..queries_scale_common import _scratch_dir
    from ..sources.tables import load_tables

    events = load_tables(spark, sf_dir)["events"].select(
        F.col("ts").cast("timestamp").alias("ts"), "user_id")
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    t2 = max_ts - datetime.timedelta(hours=48)
    t2a = t2 - datetime.timedelta(hours=2)
    t_late = max_ts - datetime.timedelta(hours=72)
    is_late = (F.col("ts") < F.lit(t_late)) & (F.col("user_id") % 5 == 0)

    root = _scratch_dir("stream_late_", sf_dir)
    stage = os.path.join(root, "stage")
    os.makedirs(stage)

    def _land(df: DataFrame, name: str, mtime: float) -> None:
        tmp = os.path.join(root, f"_{name}")
        df.coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(stage, f"{name}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (mtime, mtime))

    import time as _time
    now = _time.time()
    _land(events.filter((F.col("ts") < F.lit(t2a)) & ~is_late),
          "batch1", now - 3000)
    _land(events.filter((F.col("ts") >= F.lit(t2a))
                        & (F.col("ts") < F.lit(t2))),
          "batch2", now - 2000)
    _land(events.filter((F.col("ts") >= F.lit(t2)) | is_late),
          "batch3", now - 1000)

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = (spark.readStream
           .schema("ts timestamp, user_id long")
           .option("maxFilesPerTrigger", 1)
           .parquet(stage))
    agg = (src.withWatermark("ts", delay)
              .groupBy(F.window("ts", width).alias("win"))
              .agg(F.count(F.lit(1)).alias("n_events")))
    sink, ckpt = os.path.join(root, "sink"), os.path.join(root, "ckpt")
    q = (agg.select(F.col("win.start").alias("win_start"), "n_events")
            .writeStream.outputMode("append").format("parquet")
            .option("path", sink).option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start())
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"late-drop drain exceeded {timeout_s}s")
    return (spark.read.parquet(sink)
            .select(F.col("win_start").cast("timestamp_ntz"), "n_events")
            .orderBy("win_start"))


def streaming_static_enrich_to_lake(spark: SparkSession, sf_dir: str,
                                    out_dir: str, checkpoint: str,
                                    cust: DataFrame):
    """STREAM-STATIC JOIN — the remaining Structured Streaming join
    class next to the stream-stream attribution join above: each
    micro-batch of the event stream is enriched against the static
    customer dimension INSIDE the streaming plan (broadcast hash join,
    re-planned per batch), then a per-batch integer partial aggregate
    lands in its own ``batch_id`` partition; the live result is the
    SUM/MIN/MAX merge at read. The mapping ``user_id * 11 ->
    c_custkey`` deliberately leaves the tail of the user space
    unmatched so the LEFT-outer null path is inside the landed values.

    All landed values are integers (counts, event-id folds), so the
    merged result is bit-equal to the batch SQL with no float
    machinery."""
    ev = stream_events(spark, sf_dir)
    joined = (ev.withColumn("join_key", F.col("user_id") * 11)
              .join(F.broadcast(cust),
                    F.col("join_key") == F.col("c_custkey"), "left")
              .withColumn("segment",
                          F.coalesce(F.col("c_mktsegment"),
                                     F.lit("UNMATCHED"))))

    def _land(batch: DataFrame, batch_id: int) -> None:
        sp = batch.sparkSession
        prev = sp.conf.get("spark.sql.sources.partitionOverwriteMode",
                           "static")
        sp.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            part = (batch.groupBy("segment", "event_type")
                    .agg(F.count(F.lit(1)).alias("n_events"),
                         F.sum("event_id").alias("sum_event_id"),
                         F.min("event_id").alias("min_event_id"),
                         F.max("event_id").alias("max_event_id")))
            (part.withColumn("batch_id", F.lit(batch_id))
                 .write.mode("overwrite").partitionBy("batch_id")
                 .parquet(out_dir))
        finally:
            sp.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    return (joined.writeStream.foreachBatch(_land)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def read_static_enrich(spark: SparkSession, out_dir: str) -> DataFrame:
    """Merge-at-read for the stream-static enrichment partials."""
    return (spark.read.parquet(out_dir)
            .groupBy("segment", "event_type")
            .agg(F.sum("n_events").alias("n_events"),
                 F.sum("sum_event_id").alias("sum_event_id"),
                 F.min("min_event_id").alias("min_event_id"),
                 F.max("max_event_id").alias("max_event_id")))


def streaming_session_landing(spark: SparkSession, sf_dir: str,
                              out_dir: str, checkpoint: str,
                              gap: str = "30 minutes",
                              watermark: str = "30 minutes"):
    """BUILT-IN session windows under append mode — the native
    ``F.session_window`` tier next to the applyInPandasWithState
    machine: the flush-staged two-file stream (real events, then
    sentinel rows 2h past the global max) drives the watermark, the
    sentinels are filtered out AFTER ``withWatermark`` so they advance
    the clock without entering state, and append mode emits exactly the
    sessions whose window end passed the batch-1 watermark — i.e.
    sessions with last event <= max_ts - gap - delay. That closure set
    is a pure batch expression, which is what the oracle replays."""
    from .stream_curation import stream_events_with_flush
    ev = stream_events_with_flush(spark, sf_dir)
    sess = (ev.withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", watermark)
            .filter(F.col("event_type") != "__flush__")
            .groupBy("user_id", F.session_window("ts", gap).alias("win"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,2)"))
                 .cast("double").alias("total_value"))
            .select("user_id",
                    F.col("win.start").alias("session_start"),
                    "n_events", "total_value"))
    return (sess.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True).start())


def stream_events_redelivered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-batch at-least-once stream: batch 1 is the full events table,
    batch 2 RE-DELIVERS the odd-event_id subset byte-identically (the
    Kafka-retry / file-redrop shape). Own stage namespace — see the
    stream_events note about never sharing watcher directories."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stage = os.path.join(tempfile.gettempdir(),
                         "stream_events_redeliver_"
                         + sf_dir.strip("/").replace("/", "_"))
    done = os.path.join(stage, "_STAGED")
    if not os.path.exists(done):
        from ..sources.tables import load_tables
        ev = load_tables(spark, sf_dir)["events"] \
            .select("event_id", "ts", "user_id", "event_type", "value")
        os.makedirs(stage, exist_ok=True)
        (ev.coalesce(1).write.mode("overwrite")
           .parquet(os.path.join(stage, "f0")))
        (ev.filter(F.col("event_id") % 2 == 1).coalesce(1)
           .write.mode("overwrite").parquet(os.path.join(stage, "f1")))
        import glob
        import shutil
        for i, sub in enumerate(("f0", "f1")):
            src = glob.glob(os.path.join(stage, sub, "part-*.parquet"))[0]
            shutil.copy(src, os.path.join(stage, f"data{i}.parquet"))
            shutil.rmtree(os.path.join(stage, sub))
        open(done, "w").close()
    schema = spark.read.parquet(os.path.join(stage, "data0.parquet")).schema
    raw = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "1").parquet(stage))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def streaming_dedup_landing(spark: SparkSession, sf_dir: str,
                            out_dir: str, checkpoint: str):
    """dropDuplicatesWithinWatermark over the re-delivering stream:
    batch 2's replayed rows must hit the state-store fingerprints from
    batch 1 and be dropped, so the landed rows are exactly the distinct
    events — the streaming twin of batch hash-dedup, state bounded by
    the watermark horizon."""
    ev = stream_events_redelivered(spark, sf_dir)
    deduped = (ev.withWatermark("ts", "30 minutes")
               .dropDuplicatesWithinWatermark(["event_id"]))
    return (deduped.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True).start())
