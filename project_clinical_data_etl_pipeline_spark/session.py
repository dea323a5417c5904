"""SparkSession construction and runtime tuning.

Two entry points:

- :func:`get_spark` builds a local session with the scale-aware defaults
  (AQE, nested-schema pruning, UTC, Arrow).
- :func:`tune` applies the *runtime-settable* subset to an existing
  session — used when the driver hands us its own SparkSession, so our
  queries still run with sane shuffle parallelism and AQE regardless of
  how the session was built.

Scale notes (100 TB target): everything here is config, not code — on a
real cluster the same queries run unmodified; only
``spark.sql.shuffle.partitions`` (→ ~2-3× total cores) and executor
memory sizing change. AQE coalescing makes the static shuffle-partition
number a ceiling rather than a constant cost.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession

#: Runtime-settable SQL confs applied to any session we touch.
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deeply nested FHIR-style schemas: prune struct fields at the scan.
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    # Oracle comparison (DuckDB is UTC-naive) — pin the session TZ.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet stores TIMESTAMP(NANOS). Older Spark rejects it
    # without this conf (then it reads as a nanos long); Spark 4.1+
    # reads it natively as TIMESTAMP_NTZ and IGNORES this conf. Kept
    # for old runtimes — tables.convert_event_ts normalizes both forms.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory() -> str:
    """Driver heap when ``SPARK_DRIVER_MEM`` is unset: a third of this
    machine's RAM, at most 48g. A local JVM lets its heap grow toward
    ``-Xmx`` before collecting in earnest, so a 48g ceiling on a 15 GiB
    box let a long session (the test suite) reach 12 GB RSS and be
    OOM-killed mid-run; at a third of RAM the same suite runs in a 5g
    heap."""
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{max(1, min(48, int(ram_gib // 3)))}g"


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python workers regardless of the
    driver process's cwd/sys.path (the driver harness may import us from
    anywhere). UDF closures that reference module-level helpers are
    cloudpickled BY REFERENCE, so workers must be able to import the
    module — addPyFile distributes a zip of the package and prepends it
    to every worker's sys.path."""
    sc = spark.sparkContext
    if getattr(sc, "_clinical_etl_pkg_shipped", False):
        return
    try:
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        staging = tempfile.mkdtemp(prefix="clinical_etl_pkg_")
        zip_base = os.path.join(staging, os.path.basename(pkg_dir))
        archive = shutil.make_archive(zip_base, "zip", os.path.dirname(pkg_dir),
                                      os.path.basename(pkg_dir))
        sc.addPyFile(archive)
        sc._clinical_etl_pkg_shipped = True
    except Exception:  # non-fatal: self-contained closures still work
        pass


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent)."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # conf not settable on this build — non-fatal
            pass
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(default_parallelism()))
    except Exception:
        pass
    _ship_package(spark)
    return spark


def local_frame(spark: SparkSession, rows, schema):
    """A small driver-side frame as a ``LocalRelation``: the rows ride
    inside the plan as one Arrow table, so collecting the frame starts
    no Spark job and broadcasting it needs no scan stage.
    ``spark.createDataFrame(list)`` instead parallelizes an RDD over
    ``defaultParallelism`` slices, and every collect or broadcast of it
    is a job of that many tasks (measured on a 16-row frame, 4 cores:
    collect 1 job / 0.13 s → 0 jobs / 0.005 s; as a join's broadcast
    side 0.21 s → 0.10 s). ``rows`` are positional (tuples or Rows) in
    ``schema`` order; ``schema`` is a StructType or a DDL string."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    columns = [
        pa.array([r[i] for r in rows], type=field.type)
        for i, field in enumerate(arrow_schema)
    ]
    table = pa.Table.from_arrays(columns, schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def get_spark(app_name: str = "clinical-etl-spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a local[N] session with scale-aware defaults."""
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
