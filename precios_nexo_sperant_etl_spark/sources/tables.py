"""Parquet table loaders for the synthetic star schema.

At scale, parquet scans are the engine's front door: everything we do
downstream assumes column pruning and predicate pushdown reach the scan
(verify with ``df.explain('formatted')`` → ``PushedFilters`` /
``ReadSchema``). Loaders therefore never cache, never collect, and never
widen the schema.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# DataFrames are lazy plans; reusing them costs nothing and saves the
# repeated parquet footer/schema reads that dominate at test scale.
_CACHE: dict[tuple[int, str], dict[str, DataFrame]] = {}


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table under ``sf_dir`` as a lazy DataFrame (memoized).

    Timestamps are interpreted in UTC (set on the session) so results are
    byte-identical to DuckDB's naive reading of the same parquet files.
    """
    key = (id(spark), sf_dir)
    if key in _CACHE:
        return dict(_CACHE[key])
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Some fixture generations store events.ts as TIMESTAMP(NANOS), which
    # Spark's parquet reader rejects; read nanos as epoch-long and truncate
    # to micros (the data is second-precision, so lossless). Newer fixtures
    # write micros directly, which Spark reads as TIMESTAMP_NTZ — normalize
    # both shapes to TIMESTAMP_NTZ so downstream plans see one type.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    out: dict[str, DataFrame] = {}
    for t in TABLES:
        df = spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        if t == "events":
            if isinstance(df.schema["ts"].dataType, LongType):
                df = df.withColumn(
                    "ts",
                    F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
            else:
                df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        out[t] = df
    _CACHE[key] = out
    return dict(out)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One table of :func:`load_tables`."""
    return load_tables(spark, sf_dir)[name]


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view for ``spark.sql``."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
