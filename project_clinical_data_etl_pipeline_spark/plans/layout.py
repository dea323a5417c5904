"""Physical-layout strategies for 100 TB (SURVEY.md §4 scale notes):
bucketed co-located joins and salt-based skew mitigation.

These are the two levers Catalyst can't pull by itself:
- **Bucketing** is a write-time contract: both fact tables hashed into
  the same bucket count on the join key mean every subsequent join/agg
  on that key runs with ZERO exchange — the dominant cost of repeated
  big-big joins amortized to one write.
- **Salting** splits a pathologically hot key across ``salt`` synthetic
  sub-keys (AQE's skew-join split handles moderate skew; salting is the
  explicit fallback for adversarial distributions, e.g. a null-heavy FK
  or one customer with 10% of all orders).
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def derived_width(
    n_rows: int,
    target_per_unit: int = 200_000,
    floor: int = 32,
    pow2: bool = True,
) -> int:
    """Volume-derived parallelism width — THE sf4 bucketing lesson
    (SCALE.md round 9) as a shared rule: any static partitioning
    parameter (bucket count, index shard count, fan-out width) must be
    derived from data volume, never hard-coded. A fixed 32 buckets put
    750k rows in every unsplittable bucket task at sf4 and made the
    co-located join 2.8x SLOWER than its shuffle twin; deriving the
    count at ~200k rows/bucket made the same join win 4x.

    Returns ``max(floor, ceil-to-pow2(n_rows / target_per_unit))``.
    Power-of-two (default) keeps widths compatible across tables for
    co-located joins and divides evenly into typical core counts;
    the floor keeps toy inputs at full-session parallelism."""
    units = max(0, int(n_rows) // max(1, int(target_per_unit)))
    if pow2:
        width = 1 << units.bit_length()
        return max(floor, width)
    return max(floor, units + 1)


def table_location(spark: SparkSession, table: str) -> str | None:
    """Filesystem path a MANAGED table `table` resolves to under the
    session's warehouse dir (``db.tbl`` → ``<wh>/db.db/tbl``), or None
    when the warehouse is not a local path (hdfs/s3 — cleanup is the
    cluster catalog's job there)."""
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    parsed = urlparse(wh)
    if parsed.scheme not in ("", "file"):
        return None
    root = parsed.path or wh
    parts = table.lower().split(".")
    if len(parts) == 2:
        return os.path.join(root, parts[0] + ".db", parts[1])
    return os.path.join(root, parts[-1])


def drop_table_idempotent(spark: SparkSession, table: str) -> None:
    """Drop `table` AND its on-disk location, whether or not the
    current catalog knows it. With the default in-memory catalog (no
    Hive metastore) a previous PROCESS's ``saveAsTable`` leaves an
    orphaned directory under ``spark-warehouse/`` that the fresh
    catalog cannot see; a plain ``mode("overwrite")`` then dies with
    LOCATION_ALREADY_EXISTS (this zeroed BENCH_r07). Dropping the
    catalog entry and rm-rf'ing the resolved location makes the write
    path idempotent across processes."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    loc = table_location(spark, table)
    if loc is not None:
        shutil.rmtree(loc, ignore_errors=True)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) managed
    table. Bucket count should divide evenly into total cores; sorted
    buckets additionally enable exchange-AND-sort-free sort-merge
    joins.

    Idempotent across PROCESSES, not just within one: see
    :func:`drop_table_idempotent` — ``mode("overwrite")`` alone only
    overwrites tables the current (in-memory) catalog knows, and an
    orphaned location from an earlier process is a fatal
    LOCATION_ALREADY_EXISTS.

    ONE FILE PER BUCKET, enforced by pre-partitioning on the bucket
    key: each write task otherwise emits its own file into EVERY
    bucket (T tasks × B buckets files — measured 737 files at sf4),
    and Spark only trusts per-bucket sort order when a bucket is a
    single file, so the read side of a sort-merge join re-SORTS both
    inputs and the layout lever turns negative (20.4s bucketed vs
    11.2s shuffled at sf4 before this fix; see SCALE.md). The
    repartition is the same hash the bucketing applies, so it adds
    one exchange to the one-time build, not to any read."""
    drop_table_idempotent(df.sparkSession, table)
    from pyspark.sql import functions as F

    df = df.repartition(num_buckets, *[F.col(c) for c in bucket_cols])
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the LEFT side's hot keys split across ``salt``
    sub-keys and the RIGHT side replicated ``salt``× (explode of a
    literal range — cheap when right is the smaller/mapping side).

    For ``how`` in (``inner``, ``left``) the result is identical to
    ``left.join(right, key)``; the difference is the shuffle key
    (key, salt_i), which spreads a hot key over ``salt`` reducers
    instead of one straggler. ``left_semi``/``left_anti`` are also
    correct: the right side is replicated across ALL salt values, so a
    left row with salt i (semi-)matches iff its key exists in right —
    identical to the unsalted join; anti/semi joins emit no right rows,
    so replication cannot duplicate anything. ``right``/``full`` ARE
    rejected: they emit unmatched right rows, and each would appear
    ``salt`` times."""
    if how not in (
        "inner",
        "left",
        "left_outer",
        "leftouter",
        "left_semi",
        "leftsemi",
        "left_anti",
        "leftanti",
    ):
        raise ValueError(
            f"salted_join supports only inner/left/left_semi/left_anti joins "
            f"(right/full would emit each unmatched right row {salt}x, once per "
            f"replica); got how={how!r}"
        )
    salted_l = left.withColumn(
        "__salt", (F.rand(seed=42) * salt).cast("int")
    )
    salted_r = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return salted_l.join(salted_r, on=[key, "__salt"], how=how).drop("__salt")


def salted_group_count(df: DataFrame, key: str, salt: int = 8) -> DataFrame:
    """Two-phase aggregation for skewed group keys: partial count on
    (key, salt) then final on key. Spark's partial aggregation already
    does this map-side; the explicit form matters for high-cardinality
    combiners (collect_list/distinct) where map-side combine is
    ineffective."""
    phase1 = (
        df.withColumn("__salt", (F.rand(seed=42) * salt).cast("int"))
        .groupBy(key, "__salt")
        .agg(F.count(F.lit(1)).alias("__partial"))
    )
    return phase1.groupBy(key).agg(F.sum("__partial").cast("bigint").alias("n"))


def repartition_by_range_for_write(
    df: DataFrame, cols: list[Column | str], target_partitions: int
) -> DataFrame:
    """Range-partition before a sorted write: produces globally ordered,
    evenly-sized files (sampled range bounds), the layout that makes
    min/max row-group skipping effective for time-series scans."""
    return df.repartitionByRange(target_partitions, *cols)


def zorder_value(
    df: DataFrame, cols: list[str], bits: int = 12, mapping: str = "minmax"
) -> tuple[DataFrame, str]:
    """Append a Morton (Z-order) key column interleaving ``cols`` (2+
    numeric columns) and return (df, key_col_name).

    Each column maps onto a ``bits``-bit integer grid coordinate, then
    bits interleave into a single long via pure shift/or expressions —
    whole-stage-codegen arithmetic, no UDF. Two mappings:

    - ``"minmax"`` (default): affine map over the global min/max (one
      tiny two-row agg collect — driver-side CONTROL data, same class
      as the k-means centroid collect). Right for roughly uniform
      columns; a heavy hitter collapses grid cells.
    - ``"quantile"``: equi-depth map via ``approxQuantile`` edges
      (capped at 2⁸ grid cells — 257 edges is plenty of resolution for
      file-level skipping), applied through a broadcast range-table
      join: each row finds its bucket by a (lo ≤ v < hi) condition
      against ≤256 broadcast rows — a BroadcastNestedLoopJoin with a
      provably tiny side, the same declared pattern as centroid
      assignment. Skew-proof: every grid cell holds ~1/cells of the
      rows no matter how Zipfian the column.

    Why: sorting a 100 TB table by (a, b) gives perfect file-level
    min/max pruning on `a` and NONE on `b`; sorting by the Z-value
    gives good pruning on BOTH — every file covers a small hyper-
    rectangle of the key space, so any single-dimension predicate
    skips most files. The classic lakehouse OPTIMIZE ZORDER BY, as a
    plain column expression.

    Pruning quality decays past ~4 columns (bits per dimension
    shrink).
    """
    if mapping not in ("minmax", "quantile"):
        raise ValueError(f"mapping must be minmax|quantile, got {mapping!r}")
    n = len(cols)
    # JVM shiftleft masks the shift amount to 6 bits, so interleaved
    # positions ≥ 63 would silently wrap onto low-order bits (and 63
    # itself is the sign bit, breaking the sort) — clamp per-dimension
    # resolution to what one signed long can hold.
    bits = min(bits, 63 // n)
    out = df
    coords = []
    if mapping == "minmax":
        bounds = df.agg(
            *[F.min(c).cast("double").alias(f"__lo_{c}") for c in cols],
            *[F.max(c).cast("double").alias(f"__hi_{c}") for c in cols],
        ).collect()[0]
        grid_max = (1 << bits) - 1
        for c in cols:
            lo, hi = bounds[f"__lo_{c}"], bounds[f"__hi_{c}"]
            span = (hi - lo) or 1.0
            coords.append(
                F.least(
                    F.lit(grid_max),
                    F.greatest(
                        F.lit(0),
                        F.floor((F.col(c).cast("double") - F.lit(lo))
                                / F.lit(span) * F.lit(grid_max + 1)).cast("bigint"),
                    ),
                )
            )
    else:
        bits = min(bits, 8)
        cells = 1 << bits
        spark = df.sparkSession
        probs = [i / cells for i in range(1, cells)]
        # ONE approxQuantile action for every column (one input scan),
        # not one scan per column
        all_edges = df.select(
            *[F.col(c).cast("double").alias(c) for c in cols]
        ).approxQuantile(cols, probs, 0.001)
        for c, edges in zip(cols, all_edges):
            # collapse duplicate edges (heavy hitters span buckets);
            # ranges: (-inf, e0), [e0, e1), ..., [ek, +inf)
            uniq = sorted(set(edges))
            rows = []
            lo = None
            for idx, e in enumerate(uniq + [None]):
                rows.append((idx, lo, e))
                lo = e
            ranges = spark.createDataFrame(
                rows, f"__q_{c} bigint, __lo_{c} double, __hi_{c} double"
            )
            cond = (
                (F.col(f"__lo_{c}").isNull()
                 | (F.col(c).cast("double") >= F.col(f"__lo_{c}")))
                & (F.col(f"__hi_{c}").isNull()
                   | (F.col(c).cast("double") < F.col(f"__hi_{c}")))
            )
            out = out.join(F.broadcast(ranges), on=cond, how="left").drop(
                f"__lo_{c}", f"__hi_{c}"
            )
            coords.append(F.coalesce(F.col(f"__q_{c}"), F.lit(0)))
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        for j, coord in enumerate(coords):
            bit = F.shiftright(coord, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    key = "__zorder"
    out = out.withColumn(key, z)
    if mapping == "quantile":
        out = out.drop(*[f"__q_{c}" for c in cols])
    return out, key


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 12,
    target_partitions: int = 8,
    max_records_per_file: int | None = None,
    mapping: str = "minmax",
) -> None:
    """Write ``df`` Z-order-clustered on ``cols``: range-partition +
    sort on the Morton key so every output file covers a compact
    hyper-rectangle — multi-dimension min/max file skipping for the
    price of one write (tested quantitatively in test_layout)."""
    zdf, key = zorder_value(df, cols, bits, mapping=mapping)
    writer = (
        zdf.repartitionByRange(target_partitions, F.col(key))
        .sortWithinPartitions(key)
        .drop(key)
        .write.mode("overwrite")
    )
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)
