"""Sink operators — SURVEY.md §2.2 (OP-06..08) + the REST sink stub.

The reference POSTs each resource one-by-one to a FHIR server
(src/coding_task_1.py:222-235). The engine's equivalents:
parquet/JSON/text writes for at-rest data, and a partition-parallel
``foreachPartition`` HTTP sink for REST targets — batched per
partition, connection reuse, and parallel across the cluster where the
reference is strictly serial.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite",
                  partition_by: list[str] | None = None) -> None:
    """OP-06 canonical sink. ``partition_by`` (e.g. event date) enables
    static+dynamic partition pruning for downstream readers."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def overwrite_partitions(df: DataFrame, path: str,
                         partition_by: list[str]) -> None:
    """Selective partition overwrite (the warehouse backfill/replay
    primitive): replaces ONLY the partitions present in ``df``, leaving
    every other partition untouched — ``partitionOverwriteMode=dynamic``
    scoped to this write (session conf restored after). With Spark's
    default STATIC mode, ``mode("overwrite")`` would truncate the whole
    dataset root first — the classic backfill-eats-the-table accident
    this wrapper exists to prevent. Semantics pinned in
    tests/test_write_semantics.py."""
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """OP-07 JSON export (reference json.dump per resource,
    src/coding_task_1.py:382-386)."""
    df.write.mode(mode).json(path)


def write_text(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """OP-08 text export (reference id handoffs + the ER7 message,
    src/coding_task_5.py:168-170)."""
    df.write.mode(mode).text(path)


def write_training_shards(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    rows_per_shard: int = 100_000,
    order_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Training-loader sink: emit the curated corpus as evenly-sized
    shards (the file layout data loaders stream). Two layers:

    - shard COUNT via ``repartitionByRange(order_col)`` when an order
      column is given (globally ordered shards: shard i < shard i+1 —
      deterministic resume points for loaders) or round-robin
      ``repartition`` otherwise (maximally even sizes);
    - shard SIZE ceiling via ``maxRecordsPerFile`` — Spark splits any
      oversized partition at write time, so no shard ever exceeds
      ``rows_per_shard`` even under skewed range bounds.

    At 100 TB this is one full shuffle (unavoidable for sized output)
    and a streaming write; counting rows first costs one extra scan
    metadata pass (count on parquet is statistics-only)."""
    n_rows = df.count()
    n_shards = max(1, -(-n_rows // rows_per_shard))  # ceil division
    arranged = (
        df.repartitionByRange(n_shards, order_col)
        if order_col is not None
        else df.repartition(n_shards)
    )
    writer = arranged.write.mode(mode).option("maxRecordsPerFile", rows_per_shard)
    if fmt == "parquet":
        writer.parquet(path)
    elif fmt == "json":
        writer.json(path)
    else:
        raise ValueError(f"unsupported shard format: {fmt!r}")


def foreach_partition_post(
    df: DataFrame,
    post_batch: Callable[[list[dict]], None],
    batch_size: int = 100,
) -> None:
    """OP-06 REST sink: partition-parallel batched POST (replaces the
    reference's serial per-row requests.post, src/coding_task_1.py:222-235).

    ``post_batch`` receives lists of row-dicts; it owns the HTTP session
    (created once per partition, not per row). Retries/idempotency are
    the callable's concern — at-least-once semantics, so targets should
    upsert on a natural key.
    """

    def handle(rows: Iterator) -> None:
        buf: list[dict] = []
        for row in rows:
            buf.append(row.asDict(recursive=True))
            if len(buf) >= batch_size:
                post_batch(buf)
                buf = []
        if buf:
            post_batch(buf)

    df.foreachPartition(handle)
