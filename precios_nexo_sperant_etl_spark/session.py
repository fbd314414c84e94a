"""SparkSession construction tuned for this engine.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (default: one thread per
core, ``os.cpu_count()``); the same configuration scales to a real
cluster because every knob here is about *plan shape* (AQE, broadcast
threshold, shuffle partition sizing), not about single-node tricks.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# 64 MiB: the deduped dimension tables this engine joins against (the
# reference's Sperant side is ~2k rows; our customer/part dims at sf0.1 are
# <10 MB) comfortably broadcast. AQE will still pick sort-merge when a
# build side exceeds this at runtime.
_BROADCAST_THRESHOLD = 64 * 1024 * 1024


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an externally provided session.

    The driver harness hands us its own SparkSession; these settings are
    all modifiable post-start and keep semantics deterministic (UTC
    timestamps) and plans adaptive.
    """
    conf = spark.conf
    conf.set("spark.sql.session.timeZone", "UTC")
    conf.set("spark.sql.adaptive.enabled", "true")
    # AQE partition coalescing stays ON: it saves real time across the
    # ~190-query bench tail (each tiny query's shuffles collapse to a
    # few tasks). The pathology it causes for grouped PYTHON stages —
    # cost per GROUP, not per byte, so folding all groups into one
    # partition serializes the Python work (measured 16 × sleep(2):
    # 38.8s coalesced vs 5.5s not) — is fixed at the CALL SITES with an
    # explicit repartition(n, key) before groupBy().applyInPandas:
    # user-specified repartitions are exempt from AQE coalescing, and
    # the grouping reuses the partitioning (no second shuffle). A full
    # A/B showed coalescing OFF costs +41s across the 172-query tail
    # while the per-site fix keeps the heavy-query wins.
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    conf.set("spark.sql.autoBroadcastJoinThreshold", str(_BROADCAST_THRESHOLD))
    return spark


def local_cpus(cpus: str | int | None = None) -> int:
    """The local thread count: ``cpus`` when given, else
    ``$SPARK_GRAFT_CPUS``, else ``os.cpu_count()``. A set variable that is
    not a positive integer raises ``ValueError`` here, where it is read,
    rather than as an opaque master-URL error inside the JVM."""
    if cpus:
        return int(cpus)
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return os.cpu_count() or 1
    try:
        n = int(raw)
    except ValueError:
        n = 0
    if n < 1:
        raise ValueError(
            f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    return n


def get_spark(app_name: str = "precios-nexo-sperant-etl-spark",
              cpus: str | int | None = None,
              shuffle_partitions: str | int | None = None) -> SparkSession:
    """Build (or reuse) the tuned local session.

    ``shuffle_partitions`` defaults to the thread count: at local test
    scale one shuffle partition per core avoids tiny-partition overhead;
    on a real cluster this is overridden (and AQE coalescing makes the
    static value mostly moot).
    """
    cpus = local_cpus(cpus)
    shuffle = str(shuffle_partitions or cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return configure(builder.getOrCreate())
