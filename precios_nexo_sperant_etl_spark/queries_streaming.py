"""Driver-checkable STREAMING query: run the curated document stream
end-to-end (readStream → gates → exactly-once parquet landing,
availableNow) inside the query function, then return a deterministic
projection of the landed lake.

The first registry entry that hash-checks the streaming subsystem
against a SQL oracle. The trick: ``dropDuplicates`` keeps an arbitrary
first arrival per canonical hash, so per-doc columns of the landed set
are not stable — but the SET of landed canonical hashes is exactly
"distinct md5(canonical) over gate-passing documents", which DuckDB can
reproduce. The query projects that invariant; everything order- or
winner-dependent stays in the pytest surface (test_prep_to_lake).
"""

from __future__ import annotations

import functools
import os
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries_scale import _DUCK_TOKENS, _HIT_SQL, _PRED_SQL, _STOP_SQL
from .queries_scale_common import _sorted1
from .registry import register

#: Streaming STATE partition count — sized to state volume, NOT core
#: count. Every stateful streaming operator materializes one state
#: store per shuffle partition per micro-batch (checkpoint delta +
#: snapshot files each); these queries carry a few hundred rows of
#: state, so the session's 32 core-sized partitions were pure
#: commit-protocol overhead: streaming_late_drop measured 14.1 s at 32
#: vs 3.8 s at 4, identical results (every landed algebra here is
#: partition-independent by construction and parity-verified). At
#: fleet scale this knob grows with state cardinality (windows × keys),
#: which is why it is an env override rather than a constant buried in
#: the plan.
_STREAM_STATE_PARTITIONS = os.environ.get(
    "SPARK_GRAFT_STREAM_STATE_PARTITIONS", "4")


@contextmanager
def _stream_state_partitions(spark: SparkSession):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
                   _STREAM_STATE_PARTITIONS)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _sized_stream_state(fn):
    """Run a streaming query's construct (landing waves + drain) under
    the state-sized shuffle-partition setting, restoring the session
    value afterwards — streams pin their state partitioning at first
    checkpoint, so only the construct needs the override."""
    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf: str) -> DataFrame:
        with _stream_state_partitions(spark):
            return fn(spark, sf)
    return wrapped


@_sized_stream_state
def _streaming_curation_hashes(spark: SparkSession, sf: str) -> DataFrame:
    from .streaming.stream_curation import stream_curated_to_lake
    out = tempfile.mkdtemp(prefix="stream_curation_q_")
    stream_curated_to_lake(spark, sf, out)
    landed = spark.read.parquet(os.path.join(out, "docs"))
    return (landed.select("text_hash").distinct()
                  .transform(_sorted1, "text_hash"))


register(
    "streaming_curation_hashes",
    _streaming_curation_hashes,
    f"""
WITH t AS (SELECT doc_id, text, {_DUCK_TOKENS} AS tk FROM documents),
q AS (SELECT doc_id,
  (0.4 * least(len(tk) / 50.0, 1.0)
             + 0.4 * (len(list_distinct(tk)) / len(tk))
             + 0.2 * (len(list_filter(tk, x -> x IN ({_STOP_SQL}))) / len(tk)))
    AS quality
  FROM t),
h AS (SELECT doc_id, {_HIT_SQL} FROM t),
l AS (SELECT doc_id, {_PRED_SQL} AS lang_pred FROM h)
SELECT DISTINCT
  md5(regexp_replace(lower(trim(d.text)), '\\s+', ' ', 'g')) AS text_hash
FROM documents d
JOIN q ON q.doc_id = d.doc_id
JOIN l ON l.doc_id = d.doc_id
WHERE q.quality >= 0.5 AND l.lang_pred != 'und'
ORDER BY text_hash
""",
    doc="End-to-end Structured Streaming curation (gates → exactly-once "
        "parquet landing) hash-checked via its winner-independent "
        "invariant: the set of landed canonical text hashes.",
)


# ---------------------------------------------------------------------------
# Streaming HLL register maintenance, hash-checked END-TO-END: unlike
# the curation landing (arbitrary dedup winner → only the hash set is
# stable), sketch state is fully deterministic — registers are pure
# functions of the multiset of terms, and merge-at-read (max) erases
# batch boundaries. So the streamed-and-merged register table must
# equal the batch register SQL bit for bit, and the driver can pin the
# whole streaming path (source → foreachBatch → partitioned landing →
# merge-at-read) with an ordinary value oracle.
# ---------------------------------------------------------------------------

@_sized_stream_state
def _streaming_hll_registers(spark: SparkSession, sf: str) -> DataFrame:
    from .streaming.stream_curation import stream_documents
    from .streaming.stream_sketches import (read_hll_registers,
                                            streaming_hll_to_lake)
    out = tempfile.mkdtemp(prefix="stream_hll_q_")
    q = streaming_hll_to_lake(stream_documents(spark, sf),
                              os.path.join(out, "regs"),
                              os.path.join(out, "ckpt"))
    # availableNow drain: surface a hang as an error rather than reading
    # a partially-landed register lake into the bit-exact comparison.
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError("streaming HLL drain exceeded 120s")
    return (read_hll_registers(spark, os.path.join(out, "regs"))
            .select("source", F.col("bucket").cast("long").alias("bucket"),
                    F.col("rho").cast("int").alias("rho"))
            .transform(_sorted1, "source", "bucket"))


_SHLL_H = "('0x' || substr(md5(term), 1, 12))::BIGINT"

register(
    "streaming_hll_registers",
    _streaming_hll_registers,
    f"""
WITH it AS (
  SELECT source, term
  FROM (SELECT source,
               unnest(string_split_regex(trim(text), '\\s+')) AS term
        FROM documents)
  WHERE term <> ''),
hr AS (
  SELECT source, h % 64 AS bucket, (h - h % 64) // 64 AS v
  FROM (SELECT source, {_SHLL_H} AS h FROM it))
SELECT source, bucket,
       MAX(CASE WHEN v = 0 THEN 43
                ELSE 43 - CAST(length(bin(v)) AS INT) END) AS rho
FROM hr GROUP BY source, bucket ORDER BY source, bucket
""",
    doc="Structured-Streaming HLL register maintenance (per-batch "
        "partitioned landing, merge-at-read) pinned bit-for-bit against "
        "the batch register SQL.",
)


# ---------------------------------------------------------------------------
# Streaming CMS counter maintenance, the third bit-exact streaming
# oracle: counters are LINEAR (each batch lands its own d×w counter
# table; live counters = per-cell SUM over batches), so the streamed-
# and-merged table must equal the single-pass batch counters exactly —
# integer arithmetic end-to-end, no winner-dependence anywhere. Together
# with the HLL (merge = max) and curation (merge = set union) queries,
# all three streaming merge algebras are driver-pinned.
# ---------------------------------------------------------------------------

_SCMS_D, _SCMS_W = 4, 256


@_sized_stream_state
def _streaming_cms_counters(spark: SparkSession, sf: str) -> DataFrame:
    from .streaming.stream_curation import stream_documents
    from .streaming.stream_sketches import (read_cms_counters,
                                            streaming_cms_to_lake)
    out = tempfile.mkdtemp(prefix="stream_cms_q_")
    q = streaming_cms_to_lake(stream_documents(spark, sf),
                              os.path.join(out, "counters"),
                              os.path.join(out, "ckpt"),
                              depth=_SCMS_D, width=_SCMS_W)
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError("streaming CMS drain exceeded 120s")
    return (read_cms_counters(spark, os.path.join(out, "counters"))
            .select(F.col("row").cast("int").alias("row"),
                    F.col("bucket").cast("long").alias("bucket"),
                    F.col("counter").cast("long").alias("counter"))
            .transform(_sorted1, "row", "bucket"))


_SCMS_H = "('0x' || substr(md5({s}), 1, 12))::BIGINT"
_SCMS_ROWS = " UNION ALL ".join(
    f"SELECT {i} AS row, ({_SCMS_H.format(s=chr(39) + str(i) + ':' + chr(39) + ' || term')})"
    f" % {_SCMS_W} AS bucket, cnt FROM tc"
    for i in range(_SCMS_D))

register(
    "streaming_cms_counters",
    _streaming_cms_counters,
    f"""
WITH tc AS (
  SELECT term, COUNT(*) AS cnt
  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS term
        FROM documents)
  WHERE term <> '' GROUP BY term)
SELECT CAST(row AS INT) AS row, CAST(bucket AS BIGINT) AS bucket,
       CAST(SUM(cnt) AS BIGINT) AS counter
FROM ({_SCMS_ROWS})
GROUP BY row, bucket ORDER BY row, bucket
""",
    doc="Structured-Streaming Count-Min counter maintenance (per-batch "
        "landing, merge-at-read sum over the linear counter algebra) "
        "pinned bit-for-bit against the single-pass batch counter SQL.",
)


# ---------------------------------------------------------------------------
# Streaming Bloom-filter maintenance, the fourth bit-exact streaming
# oracle and the fourth merge algebra: bit sets union (OR). Union is
# idempotent — a replayed batch re-asserts the same bits — so this is
# the natural streaming form of the exact-dedup "seen set": the landed
# filter answers "might this canonical text have already arrived?" with
# no false negatives at any point in the stream's history. The streamed
# filter must equal the batch bloom_bits SQL exactly (same seeded
# buckets, same canonicalization), completing the algebra set:
# curation = set union of hashes, HLL = register max, CMS = counter sum,
# Bloom = bit OR.
# ---------------------------------------------------------------------------

_SBLOOM_K, _SBLOOM_M = 3, 4096


@_sized_stream_state
def _streaming_bloom_bits(spark: SparkSession, sf: str) -> DataFrame:
    from .streaming.stream_curation import stream_documents
    from .streaming.stream_sketches import (read_bloom_bits,
                                            streaming_bloom_to_lake)
    out = tempfile.mkdtemp(prefix="stream_bloom_q_")
    q = streaming_bloom_to_lake(stream_documents(spark, sf),
                                os.path.join(out, "bits"),
                                os.path.join(out, "ckpt"),
                                n_hashes=_SBLOOM_K, n_bits=_SBLOOM_M)
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError("streaming Bloom drain exceeded 120s")
    return (read_bloom_bits(spark, os.path.join(out, "bits"))
            .select(F.col("bit").cast("long").alias("bit"))
            .transform(_sorted1, "bit"))


_SBLOOM_H = "('0x' || substr(md5({s}), 1, 12))::BIGINT"
_SBLOOM_POS = " UNION ALL ".join(
    "SELECT (" + _SBLOOM_H.format(s=f"'{i}:' || th") + f") % {_SBLOOM_M}"
    " AS bit FROM th"
    for i in range(_SBLOOM_K))

register(
    "streaming_bloom_bits",
    _streaming_bloom_bits,
    f"""
WITH th AS (
  SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS th
  FROM documents)
SELECT DISTINCT CAST(bit AS BIGINT) AS bit
FROM ({_SBLOOM_POS})
ORDER BY bit
""",
    doc="Structured-Streaming Bloom-filter maintenance over canonical "
        "document hashes (per-batch bit landing, merge-at-read OR) "
        "pinned bit-for-bit against the batch bloom_bits SQL.",
)


# ---------------------------------------------------------------------------
# streaming_late_drop: the watermark-LATENESS value oracle (r7). The
# harness replays a known old subset in a second pinned micro-batch;
# the watermark established by batch 1 must drop every replayed row
# (22h margin — no boundary ambiguity), and the final watermark closes
# exactly the windows older than max_ts − delay. The landed result is
# therefore a pure batch expression: tumbling counts over (events −
# late subset) restricted to closed windows — no streaming machinery
# in the oracle at all. Bit-exact by construction: integer counts,
# epoch-aligned window starts.
# ---------------------------------------------------------------------------

@_sized_stream_state
def _streaming_late_drop(spark: SparkSession, sf: str) -> DataFrame:
    from .streaming.stream_kpis import streaming_late_window_counts
    return streaming_late_window_counts(spark, sf)


register(
    "streaming_late_drop",
    _streaming_late_drop,
    """
WITH e AS (SELECT ts::TIMESTAMP AS ts, user_id FROM events),
p AS (SELECT max(ts) AS mx FROM e),
kept AS (SELECT ts FROM e, p
         WHERE NOT (ts < mx - INTERVAL 72 HOUR AND user_id % 5 = 0)),
w AS (SELECT TIMESTAMP '1970-01-01'
               + (CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600)
               * INTERVAL 1 SECOND AS win_start,
             COUNT(*) AS n_events
      FROM kept GROUP BY 1)
SELECT win_start, n_events FROM w, p
WHERE win_start + INTERVAL 2 HOUR <= mx
ORDER BY win_start
""",
    doc="Watermark lateness pinned as a value oracle: a replayed late "
        "subset is dropped by the batch-1 watermark and the final "
        "watermark closes windows older than max_ts - 1h; the landed "
        "append-mode result equals plain SQL over (events - late).",
)


# ---------------------------------------------------------------------------
# streaming_kmv_minima: the FIFTH bit-exact streaming merge algebra —
# min-selection. Per-batch KMV minima land in their own partitions; the
# merged read must equal the single-pass batch sketch EXACTLY (k
# smallest of per-part k-smallest == global k smallest), so the whole
# state (k_used, h_k) and the integer-division estimate are value-
# hashed against the batch SQL.
# ---------------------------------------------------------------------------

_SKMV_K = 64


@_sized_stream_state
def _streaming_kmv_minima(spark: SparkSession, sf: str) -> DataFrame:
    from .streaming.stream_curation import stream_documents
    from .streaming.stream_sketches import (read_kmv_sketch,
                                            streaming_kmv_to_lake)
    out = tempfile.mkdtemp(prefix="stream_kmv_q_")
    q = streaming_kmv_to_lake(stream_documents(spark, sf),
                              os.path.join(out, "minima"),
                              os.path.join(out, "ckpt"), k=_SKMV_K)
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("streaming KMV drain exceeded 300s")
    return (read_kmv_sketch(spark, os.path.join(out, "minima"), k=_SKMV_K)
            .transform(_sorted1, "source"))


_SKMV_H = "('0x' || substr(md5(term), 1, 12))::BIGINT"

register(
    "streaming_kmv_minima",
    _streaming_kmv_minima,
    f"""
WITH it AS (
  SELECT source, term
  FROM (SELECT source,
               unnest(string_split_regex(trim(text), '\\s+')) AS term
        FROM documents)
  WHERE term <> ''),
h AS (SELECT DISTINCT source, {_SKMV_H} AS h FROM it),
r AS (SELECT source, h,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
      FROM h),
km AS (SELECT source, CAST(COUNT(*) AS INT) AS k_used, MAX(h) AS h_k
       FROM r WHERE rn <= {_SKMV_K} GROUP BY source)
SELECT source, k_used, h_k,
       CASE WHEN k_used < {_SKMV_K} THEN CAST(k_used AS BIGINT)
            ELSE ({_SKMV_K} - 1) * {1 << 48} // h_k END AS kmv_est
FROM km ORDER BY source
""",
    doc="Structured-Streaming KMV maintenance (per-batch minima "
        "landing, k-smallest-of-union merge-at-read) pinned "
        "bit-for-bit against the single-pass batch sketch SQL — the "
        "fifth streaming merge algebra (min-selection).",
)


# ---------------------------------------------------------------------------
# Streaming model training — the SIXTH bit-exact merge algebra
# (component-wise integer SUM of the quality probe's moment vector).
# Each micro-batch lands one exact-integer moment row; merge-at-read
# sums them; solving the 3×3 system on the merged moments refreshes the
# trained model without rescanning stream history. Because the features
# are integers and integer addition is associative, the streamed
# moments — and therefore the solved weights, which divide the same
# exact determinants — equal the batch-trained model bit for bit, so
# the whole incremental-training path sits behind an ordinary value
# oracle (the same SQL as quality_linear_probe).
# ---------------------------------------------------------------------------

@_sized_stream_state
def _streaming_gram_moments(spark: SparkSession, sf: str) -> DataFrame:
    from .queries_ml import _TRAIN_SCHEMA, _solve
    from .streaming.stream_curation import stream_documents
    from .streaming.stream_sketches import (read_gram_moments,
                                            streaming_gram_to_lake)
    out = tempfile.mkdtemp(prefix="stream_gram_q_")
    q = streaming_gram_to_lake(stream_documents(spark, sf),
                               os.path.join(out, "moments"),
                               os.path.join(out, "ckpt"))
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError("streaming Gram drain exceeded 120s")
    m = read_gram_moments(spark, os.path.join(out, "moments")) \
        .collect()[0].asDict()
    w0, w1, w2, det = _solve(m)
    row = {**{k: int(m[k]) for k in ("n_docs", "s1", "s2", "s11", "s12",
                                     "s22", "b0", "b1", "b2")},
           "det": det, "w0": w0, "w1": w1, "w2": w2}
    return spark.createDataFrame([row], schema=_TRAIN_SCHEMA)


def _register_streaming_gram():
    from .queries_ml import _TRAIN_ORACLE
    register(
        "streaming_gram_moments",
        _streaming_gram_moments,
        _TRAIN_ORACLE,
        doc="Incremental model training under Structured Streaming: "
            "per-batch exact-integer moment landing (exactly-once), "
            "merge-at-read SUM, re-solved weights bit-identical to the "
            "batch-trained quality probe.",
    )


_register_streaming_gram()


# ---------------------------------------------------------------------------
# Streaming last-writer-wins snapshot — the SEVENTH bit-exact merge
# algebra: keyed ARGMAX of (version, payload) pairs, i.e. CDC snapshot
# / materialized-view maintenance. Each micro-batch lands only its own
# per-source winners (≤ |sources| rows whatever the batch size);
# argmax over a unique version key is associative + commutative +
# IDEMPOTENT, so replay cannot corrupt state and merge-at-read erases
# batch boundaries — the streamed snapshot equals the batch "latest
# doc per source" SQL bit for bit.
# ---------------------------------------------------------------------------

@_sized_stream_state
def _streaming_lww_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    from .streaming.stream_curation import stream_documents
    from .streaming.stream_sketches import (read_lww_snapshot,
                                            streaming_lww_to_lake)
    out = tempfile.mkdtemp(prefix="stream_lww_q_")
    q = streaming_lww_to_lake(stream_documents(spark, sf),
                              os.path.join(out, "snap"),
                              os.path.join(out, "ckpt"))
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError("streaming LWW drain exceeded 120s")
    return (read_lww_snapshot(spark, os.path.join(out, "snap"))
            .transform(_sorted1, "source"))


register(
    "streaming_lww_snapshot",
    _streaming_lww_snapshot,
    """
SELECT source,
       CAST(doc_id AS BIGINT) AS doc_id,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
         AS text_hash
FROM (SELECT source, doc_id, text,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY doc_id DESC) AS rn
      FROM documents)
WHERE rn = 1 ORDER BY source
""",
    doc="Structured-Streaming last-writer-wins snapshot (per-source "
        "keyed ARGMAX landing, idempotent merge-at-read) pinned bit "
        "for bit against the batch latest-per-key SQL — the seventh "
        "streaming merge algebra, the CDC/materialized-view one.",
)


# ---------------------------------------------------------------------------
# CUSTOM STATEFUL STREAMING OPERATOR — applyInPandasWithState, the API
# tier below the built-in windowed aggregations: per-user gap
# sessionization with an explicit state machine. Each micro-batch
# merges its events into the user's buffered state, splits the buffer
# on >=30min gaps, EMITS every chunk that has a successor (its closing
# gap is proven), and keeps only the trailing open chunk in state. The
# stage directory carries two files (events + a per-user __flush__
# sentinel 2h past the global max) and maxFilesPerTrigger=1, so the
# operator really runs across micro-batches — and because sentinels
# advance the clock without being emitted, the final output is
# IDENTICAL whichever order the two files are batched in. Oracle: the
# same lag/cumsum SQL as events_sessionize — bit-exact totals via the
# same Decimal(18,2) quantization dsum uses.
# ---------------------------------------------------------------------------

_SESS_GAP_US = 30 * 60 * 1_000_000


def _stateful_sessions_fn(key, pdfs, state):
    from decimal import Decimal

    import pandas as pd
    new_ts: list[int] = []
    new_val: list[float] = []
    new_fl: list[bool] = []
    for pdf in pdfs:
        ts = pd.to_datetime(pdf["ts"]).astype("int64") // 1000  # micros
        new_ts += [int(t) for t in ts]
        new_val += [float(v) for v in pdf["value"]]
        new_fl += [et == "__flush__" for et in pdf["event_type"]]
    if state.exists:
        ots, ovals, ofl = state.get
        new_ts += list(ots)
        new_val += list(ovals)
        new_fl += list(ofl)
    order = sorted(range(len(new_ts)), key=lambda i: new_ts[i])
    ts_s = [new_ts[i] for i in order]
    val_s = [new_val[i] for i in order]
    fl_s = [new_fl[i] for i in order]
    # split on >= gap
    chunks: list[tuple[int, int]] = []
    start = 0
    for i in range(1, len(ts_s)):
        if ts_s[i] - ts_s[i - 1] >= _SESS_GAP_US:
            chunks.append((start, i))
            start = i
    chunks.append((start, len(ts_s)))
    rows = []
    for (a, b) in chunks[:-1]:             # closed: successor gap proven
        if all(fl_s[a:b]):
            continue                        # sentinel-only pseudo-chunk
        tot = sum((Decimal(str(val_s[i])).quantize(Decimal("0.01"))
                   for i in range(a, b) if not fl_s[i]),
                  Decimal(0))
        n = sum(1 for i in range(a, b) if not fl_s[i])
        rows.append({"user_id": int(key[0]),
                     "session_start": pd.Timestamp(
                         min(ts_s[i] for i in range(a, b)
                             if not fl_s[i]), unit="us"),
                     "n_events": n, "total_value": float(tot)})
    a, b = chunks[-1]
    state.update((ts_s[a:b], val_s[a:b], fl_s[a:b]))
    if rows:
        yield pd.DataFrame(rows)


@_sized_stream_state
def _streaming_stateful_sessions(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    from .streaming.stream_curation import stream_events_with_flush
    ev = stream_events_with_flush(spark, sf)
    sessions = (ev.groupBy("user_id").applyInPandasWithState(
        _stateful_sessions_fn,
        outputStructType="user_id long, session_start timestamp_ntz,"
                         " n_events long, total_value double",
        stateStructType="ts array<long>, vals array<double>,"
                        " fl array<boolean>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout))
    out = tempfile.mkdtemp(prefix="stream_sess_q_")
    q = (sessions.writeStream.format("parquet")
         .option("path", os.path.join(out, "sessions"))
         .option("checkpointLocation", os.path.join(out, "ckpt"))
         .trigger(availableNow=True).start())
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stateful session drain exceeded 300s")
    return (spark.read.parquet(os.path.join(out, "sessions"))
            .transform(_sorted1, "user_id", "session_start"))


register(
    "streaming_stateful_sessions",
    _streaming_stateful_sessions,
    """
WITH e AS (SELECT ts::TIMESTAMP AS ts, value, user_id FROM events),
m AS (SELECT *, CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                          >= INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS new_s FROM e),
s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid FROM m)
SELECT user_id, min(ts) AS session_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM s GROUP BY user_id, sid ORDER BY user_id, session_start
""",
    doc="Custom stateful streaming operator (applyInPandasWithState): "
        "per-user gap sessionization with buffered state across "
        "micro-batches, sentinel-advanced clock, batch-order-"
        "independent emission — bit-exact against the batch lag/"
        "cumsum sessionize SQL.",
)


# ---------------------------------------------------------------------------
# streaming_static_enrich: STREAM-STATIC JOIN — the third join/state
# class in the streaming family (windowed aggs; stream-stream interval
# join in tests; applyInPandasWithState sessions). The static customer
# dimension broadcast-joins into every micro-batch INSIDE the streaming
# plan; integer per-batch partials land per batch_id and merge at read,
# so the final relation is bit-equal to the one-shot batch SQL. The
# deliberate user->custkey gap keeps the LEFT-outer path in the hash.
# ---------------------------------------------------------------------------

@_sized_stream_state
def _streaming_static_enrich(spark: SparkSession, sf: str) -> DataFrame:
    from .sources.tables import load_tables
    from .streaming.stream_kpis import (read_static_enrich,
                                        streaming_static_enrich_to_lake)
    out = tempfile.mkdtemp(prefix="stream_enrich_q_")
    cust = load_tables(spark, sf)["customer"]
    q = streaming_static_enrich_to_lake(
        spark, sf, os.path.join(out, "agg"), os.path.join(out, "ckpt"),
        cust)
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError("streaming enrich drain exceeded 120s")
    return (read_static_enrich(spark, os.path.join(out, "agg"))
            .transform(_sorted1, "segment", "event_type"))


register(
    "streaming_static_enrich",
    _streaming_static_enrich,
    """
SELECT COALESCE(c.c_mktsegment, 'UNMATCHED') AS segment,
       e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(e.event_id) AS BIGINT) AS sum_event_id,
       CAST(MIN(e.event_id) AS BIGINT) AS min_event_id,
       CAST(MAX(e.event_id) AS BIGINT) AS max_event_id
FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id * 11
GROUP BY 1, 2 ORDER BY segment, event_type
""",
    doc="Stream-static broadcast join inside the streaming plan "
        "(micro-batch enrichment against the customer dimension, "
        "LEFT-outer misses included), integer partials landed per "
        "batch and merged at read — bit-equal to the batch join SQL.",
)


# ---------------------------------------------------------------------------
# streaming_session_builtin: the NATIVE F.session_window tier under
# append mode — complements streaming_stateful_sessions (the
# applyInPandasWithState machine) by evidencing Spark's built-in
# session-merge state store. The flush-staged two-file stream drives
# the clock: batch 1 (real events) establishes watermark w1 = max_ts −
# delay, batch 2 (sentinels, filtered after withWatermark so they never
# enter state) triggers eviction of every session whose window end
# (last event + gap) ≤ w1. That landed set is the pure batch
# expression the oracle replays: sessions with last_ts + gap + delay
# ≤ max_ts, with the standard lag/cumsum island machinery.
# ---------------------------------------------------------------------------

@_sized_stream_state
def _streaming_session_builtin(spark: SparkSession, sf: str) -> DataFrame:
    from .streaming.stream_kpis import streaming_session_landing
    out = tempfile.mkdtemp(prefix="stream_sess_q_")
    q = streaming_session_landing(spark, sf, os.path.join(out, "agg"),
                                  os.path.join(out, "ckpt"))
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError("streaming session drain exceeded 120s")
    return (spark.read.parquet(os.path.join(out, "agg"))
            .transform(_sorted1, "user_id", "session_start"))


register(
    "streaming_session_builtin",
    _streaming_session_builtin,
    """
WITH e AS (SELECT ts::TIMESTAMP AS ts, user_id, value FROM events),
p AS (SELECT max(ts) AS mx FROM e),
m AS (SELECT *, CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts)
                          >= INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS new_s FROM e),
s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid FROM m),
g AS (SELECT user_id, sid, min(ts) AS session_start,
             max(ts) AS last_ts, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               AS total_value
      FROM s GROUP BY user_id, sid)
SELECT user_id, session_start, n_events, total_value
FROM g, p WHERE last_ts + INTERVAL 60 MINUTE <= mx
ORDER BY user_id, session_start
""",
    doc="Built-in F.session_window under append mode: sentinel-driven "
        "watermark closes exactly the sessions whose window end passed "
        "the batch-1 watermark; landed result bit-equal to the batch "
        "lag/cumsum sessionization filtered to closed sessions.",
)


# ---------------------------------------------------------------------------
# streaming_dedup_redelivery: dropDuplicatesWithinWatermark — the
# at-least-once ingestion guard. The stage re-delivers the odd-id half
# of the events table as a second micro-batch; the state store must
# drop every replayed row, so the landed relation aggregates to the
# plain DISTINCT batch answer (counts + id/value masses per type).
# ---------------------------------------------------------------------------

@_sized_stream_state
def _streaming_dedup_redelivery(spark: SparkSession, sf: str) -> DataFrame:
    from .streaming.stream_kpis import streaming_dedup_landing
    out = tempfile.mkdtemp(prefix="stream_dedup_q_")
    q = streaming_dedup_landing(spark, sf, os.path.join(out, "rows"),
                                os.path.join(out, "ckpt"))
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError("streaming dedup drain exceeded 120s")
    rows = spark.read.parquet(os.path.join(out, "rows"))
    return (rows.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("event_id").alias("id_mass"),
                 F.sum((F.col("value").cast("decimal(18,2)") * 100)
                       .cast("long")).alias("value_cents"))
            .transform(_sorted1, "event_type"))


register(
    "streaming_dedup_redelivery",
    _streaming_dedup_redelivery,
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS id_mass,
       CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS value_cents
FROM events GROUP BY event_type ORDER BY event_type
""",
    doc="Streaming exact dedup under at-least-once redelivery: "
        "dropDuplicatesWithinWatermark drops the replayed second "
        "batch via state-store fingerprints; landed aggregates equal "
        "the batch DISTINCT answer bit-for-bit.",
)


# ---------------------------------------------------------------------------
# streaming_attribution_join: the STREAM-STREAM interval join
# (clicks x purchases within 10 minutes after the click) registered as
# a value-oracled query — with stream-static (streaming_static_enrich)
# and the session/dedup state stores this completes the streaming join
# triad as driver-checked evidence. Both sides are watermarked and the
# predicate bounds event time in both directions, so join state
# expires; the availableNow drain lands every matched pair, which
# aggregates to the plain batch interval join per user.
# ---------------------------------------------------------------------------

@_sized_stream_state
def _streaming_attribution_join(spark: SparkSession, sf: str) -> DataFrame:
    from .streaming.stream_kpis import (stream_events,
                                        streaming_click_purchase_join)
    out = tempfile.mkdtemp(prefix="stream_attr_q_")
    pairs = streaming_click_purchase_join(stream_events(spark, sf))
    q = (pairs.writeStream.format("parquet")
         .option("path", os.path.join(out, "pairs"))
         .option("checkpointLocation", os.path.join(out, "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError("streaming attribution drain exceeded 120s")
    rows = spark.read.parquet(os.path.join(out, "pairs"))
    return (rows.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.countDistinct("click_id").alias("n_clicks_matched"),
                 F.sum((F.col("buy_value").cast("decimal(18,2)") * 100)
                       .cast("long")).alias("buy_cents"))
            .transform(_sorted1, "user_id"))


register(
    "streaming_attribution_join",
    _streaming_attribution_join,
    """
WITH e AS (SELECT ts::TIMESTAMP AS ts, event_id, user_id, event_type,
                  value FROM events),
c AS (SELECT user_id, event_id AS click_id, ts AS click_ts FROM e
      WHERE event_type = 'click'),
p AS (SELECT user_id, ts AS buy_ts, value FROM e
      WHERE event_type = 'purchase'),
j AS (SELECT c.user_id, c.click_id, p.value
      FROM c JOIN p ON p.user_id = c.user_id
       AND p.buy_ts >= c.click_ts
       AND p.buy_ts <= c.click_ts + INTERVAL 10 MINUTE)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT click_id) AS BIGINT) AS n_clicks_matched,
       CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS buy_cents
FROM j GROUP BY user_id ORDER BY user_id
""",
    doc="Stream-stream interval join (click->purchase attribution "
        "within 10 minutes), both sides watermarked so join state "
        "expires; landed pairs aggregate bit-equal to the batch "
        "interval join.",
)


# ---------------------------------------------------------------------------
# Streaming WARC ingestion (round 11, VERDICT r10 item 5): the
# readStream.format("warc") source registered as a DRIVER-CHECKABLE
# query, not just pytest. Documents are re-sharded into zstd WARC
# members landed in TWO WAVES; one checkpointed availableNow run
# drains wave 1, a second run against the SAME checkpoint drains only
# wave 2 (the lexicographic-name offset replays exactly — wave-2
# members are named to sort after wave 1, the Common Crawl segment
# convention the source documents). The landed union must therefore
# contain every document exactly once, and every published value
# (content length, payload md5) is recomputed by the oracle from the
# parquet originals — a byte lost in write→zstd→stream→parse, or a
# record dropped/duplicated across the checkpoint boundary, breaks
# the hash. Scale: the simple stream reader prefetches each
# microbatch driver-side by design (landing-shape batches); the
# BATCH warc format stays the fleet gear for backfills.
# ---------------------------------------------------------------------------

@_sized_stream_state
def _streaming_warc_census(spark: SparkSession, sf: str) -> DataFrame:
    import glob
    import shutil

    from .queries_scale_common import _t
    from .sources.spark_datasource import register_data_sources

    register_data_sources(spark)
    root = tempfile.mkdtemp(prefix="stream_warc_q_")
    land = os.path.join(root, "land")
    os.makedirs(land)
    sink = os.path.join(root, "sink")
    ckpt = os.path.join(root, "ckpt")

    d = _t(spark, sf, "documents").select("doc_id", "text")

    def land_wave(tag: str, wave_df) -> None:
        stage = os.path.join(root, f"stage_{tag}")
        (wave_df.repartition(spark.sparkContext.defaultParallelism)
         .select(F.lit("response").alias("warc_type"),
                 F.format_string("<urn:doc:%d>", F.col("doc_id"))
                  .alias("record_id"),
                 F.encode(F.col("text"), "utf-8").alias("payload"))
         .write.format("warc").option("compression", "zstd")
         .mode("append").save(stage))
        # monotone landing names (the stream offset contract)
        for i, p in enumerate(sorted(glob.glob(
                os.path.join(stage, "part-*.warc.zst")))):
            shutil.move(p, os.path.join(land, f"{tag}-{i:03d}.warc.zst"))

    def drain() -> None:
        q = (spark.readStream.format("warc")
             .load(os.path.join(land, "*.warc.zst"))
             .select(F.regexp_extract("record_id", r"<urn:doc:(\d+)>", 1)
                      .cast("long").alias("doc_id"),
                     F.col("warc_type"),
                     F.col("content_length"),
                     F.md5(F.col("payload")).alias("payload_md5"))
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    land_wave("w1", d.where(F.col("doc_id") % 2 == 0))
    drain()
    land_wave("w2", d.where(F.col("doc_id") % 2 == 1))
    drain()                      # same checkpoint: only wave 2 is new
    return _sorted1(spark.read.parquet(sink), "doc_id")


register(
    "streaming_warc_census",
    _streaming_warc_census,
    """
SELECT doc_id,
       'response' AS warc_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
       md5(text) AS payload_md5
FROM documents ORDER BY doc_id
""",
    doc="readStream.format('warc') end-to-end: two landing waves of "
        "zstd WARC members drained through ONE checkpoint "
        "(availableNow twice); exactly-once union pinned per record "
        "against the parquet originals.",
)


@_sized_stream_state
def _streaming_tfrecord_census(spark: SparkSession, sf: str) -> DataFrame:
    """Same two-wave/one-checkpoint discipline as
    ``streaming_warc_census``, over ``readStream.format("tfrecord")``:
    records are ``doc_id|text`` bytes in masked-CRC32C frames, so the
    landed (md5, length) set pins the whole frame→stream→parse chain
    against the parquet originals."""
    import glob
    import shutil

    from .queries_scale_common import _t
    from .sources.spark_datasource import register_data_sources

    register_data_sources(spark)
    root = tempfile.mkdtemp(prefix="stream_tfrec_q_")
    land = os.path.join(root, "land")
    os.makedirs(land)
    sink = os.path.join(root, "sink")
    ckpt = os.path.join(root, "ckpt")

    d = (_t(spark, sf, "documents")
         .select(F.encode(F.format_string("%d|%s", F.col("doc_id"),
                                          F.col("text")), "utf-8")
                  .alias("record"), F.col("doc_id")))

    def land_wave(tag: str, wave_df) -> None:
        stage = os.path.join(root, f"stage_{tag}")
        (wave_df.repartition(spark.sparkContext.defaultParallelism).select("record")
         .write.format("tfrecord").mode("append").save(stage))
        for i, p in enumerate(sorted(glob.glob(
                os.path.join(stage, "part-*.tfrecord")))):
            shutil.move(p, os.path.join(land, f"{tag}-{i:03d}.tfrecord"))

    def drain() -> None:
        q = (spark.readStream.format("tfrecord")
             .load(os.path.join(land, "*.tfrecord"))
             .select(F.md5(F.col("record")).alias("rec_md5"),
                     F.octet_length(F.col("record")).alias("rec_len"))
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    land_wave("w1", d.where(F.col("doc_id") % 2 == 0))
    drain()
    land_wave("w2", d.where(F.col("doc_id") % 2 == 1))
    drain()
    return _sorted1(spark.read.parquet(sink), "rec_md5")


register(
    "streaming_tfrecord_census",
    _streaming_tfrecord_census,
    """
SELECT md5(CAST(doc_id AS VARCHAR) || '|' || text) AS rec_md5,
       CAST(octet_length(encode(CAST(doc_id AS VARCHAR) || '|' || text))
            AS INTEGER) AS rec_len
FROM documents ORDER BY rec_md5
""",
    doc="readStream.format('tfrecord') end-to-end: two landing waves "
        "of CRC32C-framed records drained through one checkpoint; the "
        "exactly-once (md5, length) census matches the originals.",
)


# ---------------------------------------------------------------------------
# streaming_scd2_upsert (round 11): the warehouse upsert loop as a
# STREAM — dimension updates (latest event_type per user) land in two
# waves, a checkpointed availableNow query drains each wave through
# foreachBatch, and every batch applies the SAME scd2_merge operator
# the batch surface ships (read current state → merge → write next
# state version; the MERGE-into-a-table pattern Delta's foreachBatch
# upsert recipe documents, with versioned-directory state instead of
# a table format). Starting from an EMPTY dimension makes the final
# history a pure function of the per-wave latest series, so the
# oracle derives it with windows: per (user, wave) latest value,
# consecutive-distinct change points, effective/end chained by LEAD.
# A record duplicated or lost across the checkpoint boundary, or a
# batch applied out of order, breaks the hash.
# ---------------------------------------------------------------------------

_SCD2_STREAM_MID = "2024-01-16 00:00:00"


@_sized_stream_state
def _streaming_scd2_upsert(spark: SparkSession, sf: str) -> DataFrame:
    import glob
    import shutil

    from pyspark.sql.types import (StringType, StructField, StructType,
                                   TimestampNTZType)

    from .operators.update import scd2_merge
    from .queries_scale_common import _t

    root = tempfile.mkdtemp(prefix="stream_scd2_")
    land = os.path.join(root, "land")
    os.makedirs(land)
    state_root = os.path.join(root, "state")
    ckpt = os.path.join(root, "ckpt")

    e = _t(spark, sf, "events")
    upd = e.select(F.col("user_id").alias("k"),
                   F.col("event_type").alias("v"),
                   F.col("ts").alias("update_ts"),
                   "event_id")
    mid = F.lit(_SCD2_STREAM_MID).cast("timestamp_ntz")

    def land_wave(tag: str, df) -> None:
        stage = os.path.join(root, f"stage_{tag}")
        df.coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(land, f"{tag}.parquet"))

    state = {"v": 0}
    dim_schema = StructType([
        StructField("k", upd.schema["k"].dataType),
        StructField("v", StringType()),
        StructField("effective_ts", TimestampNTZType()),
        StructField("end_ts", TimestampNTZType()),
    ])

    def apply_batch(bdf, _bid) -> None:
        dim = (spark.createDataFrame([], dim_schema) if state["v"] == 0
               else spark.read.parquet(
                   os.path.join(state_root, f"v{state['v']}")))
        merged = scd2_merge(dim, bdf.select("k", "v", "update_ts"),
                            ["k"], ["v"])
        state["v"] += 1
        merged.write.parquet(os.path.join(state_root, f"v{state['v']}"))

    def drain() -> None:
        q = (spark.readStream
             .schema("k long, v string, update_ts timestamp_ntz,"
                     " event_id long")
             .parquet(land)
             .writeStream.foreachBatch(apply_batch)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    land_wave("w1", upd.where(F.col("update_ts") < mid))
    drain()
    land_wave("w2", upd.where(F.col("update_ts") >= mid))
    drain()
    return (spark.read.parquet(os.path.join(state_root, f"v{state['v']}"))
            .transform(_sorted1, "k", "effective_ts"))


register(
    "streaming_scd2_upsert",
    _streaming_scd2_upsert,
    f"""
WITH upd AS (
  SELECT user_id AS k, event_type AS v, ts::TIMESTAMP AS uts, event_id,
         CASE WHEN ts::TIMESTAMP < TIMESTAMP '{_SCD2_STREAM_MID}'
              THEN 1 ELSE 2 END AS wave
  FROM events),
latest AS (
  SELECT k, wave, v, uts
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY k, wave
          ORDER BY uts DESC, v DESC NULLS LAST) AS rn FROM upd)
  WHERE rn = 1),
chg AS (
  SELECT k, wave, v, uts,
         LAG(v) OVER (PARTITION BY k ORDER BY wave) AS pv,
         ROW_NUMBER() OVER (PARTITION BY k ORDER BY wave) AS rk
  FROM latest),
kept AS (
  SELECT k, v, uts FROM chg
  WHERE rk = 1 OR v IS DISTINCT FROM pv)
SELECT k, v, uts AS effective_ts,
       LEAD(uts) OVER (PARTITION BY k ORDER BY uts) AS end_ts
FROM kept ORDER BY k, effective_ts
""",
    doc="Streaming SCD2 upsert: two update waves drained through one "
        "checkpoint, foreachBatch applying the batch scd2_merge into "
        "versioned state; final history equals the window-derived "
        "change-point oracle exactly.",
)


@_sized_stream_state
def _streaming_zip_census(spark: SparkSession, sf: str) -> DataFrame:
    """Same two-wave/one-checkpoint discipline as
    ``streaming_warc_census``, over ``readStream.format("zip")``: each
    wave lands ZIP archives written by ``df.write.format("zip")`` (our
    central-directory writer, stdlib-verified in pytest), the stream
    reader extracts members through OUR walker + stdlib raw inflate with
    CRC verdicts, and the landed union must hold every document
    exactly once with oracle-recomputed lengths and md5s."""
    import glob
    import shutil

    from .queries_scale_common import _t
    from .sources.spark_datasource import register_data_sources

    register_data_sources(spark)
    root = tempfile.mkdtemp(prefix="stream_zip_q_")
    land = os.path.join(root, "land")
    os.makedirs(land)
    sink = os.path.join(root, "sink")
    ckpt = os.path.join(root, "ckpt")

    d = _t(spark, sf, "documents").select("doc_id", "text")

    def land_wave(tag: str, wave_df) -> None:
        stage = os.path.join(root, f"stage_{tag}")
        (wave_df.repartition(spark.sparkContext.defaultParallelism)
         .select(F.format_string("doc_%08d.txt", F.col("doc_id"))
                  .alias("name"),
                 F.encode(F.col("text"), "utf-8").alias("data"))
         .write.format("zip").mode("append").save(stage))
        for i, p in enumerate(sorted(glob.glob(
                os.path.join(stage, "part-*.zip")))):
            shutil.move(p, os.path.join(land, f"{tag}-{i:03d}.zip"))

    def drain() -> None:
        q = (spark.readStream.format("zip")
             .load(os.path.join(land, "*.zip"))
             .select(F.regexp_extract("name", r"doc_(\d+)\.txt", 1)
                      .cast("long").alias("doc_id"),
                     F.col("size"),
                     F.col("crc_ok"),
                     F.md5(F.col("data")).alias("payload_md5"))
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    land_wave("w1", d.where(F.col("doc_id") % 2 == 0))
    drain()
    land_wave("w2", d.where(F.col("doc_id") % 2 == 1))
    drain()
    return _sorted1(spark.read.parquet(sink), "doc_id")


register(
    "streaming_zip_census",
    _streaming_zip_census,
    """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS size,
       'ok' AS crc_ok,
       md5(text) AS payload_md5
FROM documents ORDER BY doc_id
""",
    doc="readStream.format('zip') end-to-end: two landing waves of "
        "archives from our zip writer drained through ONE checkpoint; "
        "exactly-once member union with CRC verdicts pinned against "
        "the parquet originals.",
)
