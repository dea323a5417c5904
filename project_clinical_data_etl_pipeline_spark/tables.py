"""Loaders for the driver's synthetic parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``.

All loads are plain ``spark.read.parquet`` so Catalyst keeps predicate
pushdown / column pruning (verified via ``.explain``: filters appear in
``PushedFilters``, projections in ``ReadSchema``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def convert_event_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts — TIMESTAMP(NANOS) in parquet — to a micros
    TimestampType (TIMESTAMP_LTZ) whichever way the runtime surfaced it:

    - Older Spark rejects NANOS unless
      spark.sql.legacy.parquet.nanosAsLong=true, which yields a
      nanos-since-epoch long → convert with FLOOR division (`div`
      truncates toward zero, which would round pre-epoch/negative nanos
      UP — DuckDB's TIMESTAMP_NS→µs floors, so truncation would be a
      1µs oracle divergence on negative ts).
    - Current Spark (4.1+) reads NANOS natively as TIMESTAMP_NTZ
      (micros, already floored — verified against the raw parquet) and
      ignores the legacy conf → cast to TIMESTAMP. The session TZ is
      pinned to UTC (session.RUNTIME_CONF), so the cast is
      wall-clock-preserving and µs-type-exact; without it, strict
      TIMESTAMP-only expressions (unix_micros) fail to analyze.
    """
    if "ts" not in df.columns:
        return df
    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        # integer floor division: (ts - pmod(ts, 1000)) is the largest
        # multiple of 1000 ≤ ts, exact for the full bigint range (a
        # float floor() would lose precision past 2^53 ns ≈ 1970+104d)
        df = df.withColumn("ts", F.expr("timestamp_micros((ts - pmod(ts, 1000)) div 1000)"))
    elif isinstance(dt, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast(TimestampType()))
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table. OP-01 (full-collection scan): the engine's table
    scan is a vectorized parquet read; the reference's equivalent is a
    full REST collection GET (reference src/coding_task_1.py:42-50)."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = convert_event_ts(df)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so operators can be written in
    SQL where that is clearer (Catalyst produces identical plans)."""
    for t in TABLE_NAMES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
