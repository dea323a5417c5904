"""Physical-layout proofs: bucketed joins run exchange-free, salted
joins return identical results while spreading the shuffle key."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from project_clinical_data_etl_pipeline_spark.plans import layout as L
from project_clinical_data_etl_pipeline_spark.tables import load


@pytest.fixture(scope="module")
def warehouse(spark, sf_dir, tmp_path_factory):
    spark.sql("CREATE DATABASE IF NOT EXISTS lay")
    L.write_bucketed(
        load(spark, sf_dir, "orders"), "lay.orders_b", ["o_orderkey"], 8
    )
    L.write_bucketed(
        load(spark, sf_dir, "lineitem"), "lay.lineitem_b", ["l_orderkey"], 8
    )
    yield
    spark.sql("DROP TABLE IF EXISTS lay.orders_b")
    spark.sql("DROP TABLE IF EXISTS lay.lineitem_b")


def test_bucketed_join_has_no_exchange(spark, sf_dir, warehouse):
    li = spark.table("lay.lineitem_b").withColumnRenamed("l_orderkey", "o_orderkey")
    li.createOrReplaceTempView("li_renamed")
    joined = spark.table("lay.orders_b").join(li, on="o_orderkey")
    joined.count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan[:2000]
    # and the same join on raw parquet DOES exchange — the contrast
    raw = load(spark, sf_dir, "orders").join(
        load(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey"),
        on="o_orderkey",
    )
    raw_plan = raw._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" in raw_plan or "BroadcastHashJoin" in raw_plan


def test_write_bucketed_emits_one_file_per_bucket(spark, sf_dir, warehouse):
    """The sf4 regression pin (SCALE.md round 9): bucketBy without the
    pre-repartition writes one file per (write task × bucket) — 737
    files at sf4 — and Spark only trusts per-bucket sort order for
    single-file buckets, so reads re-sort and the co-location lever
    turns NEGATIVE. write_bucketed must keep each bucket one file."""
    import glob
    import os

    loc = (
        spark.sql("DESCRIBE TABLE EXTENDED lay.lineitem_b")
        .filter(F.col("col_name") == "Location")
        .collect()[0]["data_type"]
    )
    files = [
        f
        for f in glob.glob(os.path.join(loc.replace("file:", ""), "*"))
        if os.path.basename(f).startswith("part-")
    ]
    assert len(files) == 8, sorted(os.path.basename(f) for f in files)


def test_salted_join_matches_plain_join(spark, sf_dir):
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    plain = o.join(c, on="o_custkey").groupBy("o_custkey").count()
    salted = L.salted_join(o, c, "o_custkey").groupBy("o_custkey").count()
    assert {(r[0], r[1]) for r in plain.collect()} == {
        (r[0], r[1]) for r in salted.collect()
    }


def test_salted_join_left_and_anti_match_plain(spark, sf_dir):
    """Left-outer: unmatched left rows keep NULL right columns exactly
    like the unsalted join. Anti: a left row survives iff its key is
    absent from right — replication can't duplicate (no right rows are
    emitted)."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # right side missing half the keys → real unmatched-left coverage
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 2 == 0)
        .select(F.col("c_custkey").alias("o_custkey"), "c_name")
    )
    plain_left = {
        tuple(r) for r in o.join(c, on="o_custkey", how="left").collect()
    }
    salted_left = {
        tuple(r) for r in L.salted_join(o, c, "o_custkey", how="left").collect()
    }
    assert plain_left == salted_left

    plain_anti = {
        tuple(r) for r in o.join(c, on="o_custkey", how="left_anti").collect()
    }
    salted_anti = {
        tuple(r)
        for r in L.salted_join(o, c, "o_custkey", how="left_anti").collect()
    }
    assert plain_anti == salted_anti


@pytest.mark.parametrize("how", ["full", "right", "outer"])
def test_salted_join_rejects_right_emitting_joins(spark, sf_dir, how):
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    with pytest.raises(ValueError, match="salted_join supports only"):
        L.salted_join(o, c, "o_custkey", how=how)


# ---------------------------------------------------------------------------
# Z-order clustering: quantitative multi-dimension file-skipping test


def _avg_candidate_file_fraction(path: str, col: str, probes: int = 50) -> float:
    """Average fraction of parquet files whose [min, max] span contains
    a probe point, over equal-spaced probes across the column domain —
    the file-skipping effectiveness a min/max-stats reader would see."""
    import glob

    import pyarrow.parquet as pq

    spans = []
    for f in sorted(glob.glob(path + "/*.parquet")):
        t = pq.read_table(f, columns=[col])[col]
        if len(t):
            import pyarrow.compute as pc

            spans.append((pc.min(t).as_py(), pc.max(t).as_py()))
    lo = min(s[0] for s in spans)
    hi = max(s[1] for s in spans)
    hits = 0
    for i in range(probes):
        p = lo + (hi - lo) * (i + 0.5) / probes
        hits += sum(1 for s in spans if s[0] <= p <= s[1])
    return hits / (probes * len(spans))


def test_zorder_prunes_both_dimensions_linear_sort_only_one(
    spark, sf_dir, tmp_path
):
    """Sorting lineitem by l_orderkey gives perfect orderkey pruning and
    ~zero partkey pruning; Z-ordering (l_orderkey, l_partkey) must give
    substantial pruning on BOTH dimensions — the whole point of the
    layout. Thresholds carry wide margins over measured values."""
    from project_clinical_data_etl_pipeline_spark.plans.layout import write_zordered
    from project_clinical_data_etl_pipeline_spark.tables import load

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    n_files = 16

    linear = str(tmp_path / "linear")
    (li.repartitionByRange(n_files, "l_orderkey")
       .sortWithinPartitions("l_orderkey")
       .write.mode("overwrite").parquet(linear))
    zpath = str(tmp_path / "zorder")
    write_zordered(li, zpath, ["l_orderkey", "l_partkey"],
                   target_partitions=n_files)

    lin_ok = _avg_candidate_file_fraction(linear, "l_orderkey")
    lin_pk = _avg_candidate_file_fraction(linear, "l_partkey")
    z_ok = _avg_candidate_file_fraction(zpath, "l_orderkey")
    z_pk = _avg_candidate_file_fraction(zpath, "l_partkey")

    assert lin_ok < 0.2          # single-dim sort: near-perfect on its key
    assert lin_pk > 0.9          # ...and useless on the other
    assert z_ok < 0.7            # z-order: substantial pruning on BOTH
    assert z_pk < 0.7
    # z-order must beat the linear layout on the unsorted dimension by a lot
    assert z_pk < lin_pk - 0.3


def test_zorder_value_is_codegen_expression_no_udf(spark, sf_dir):
    from project_clinical_data_etl_pipeline_spark.plans.layout import zorder_value
    from project_clinical_data_etl_pipeline_spark.tables import load

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    zdf, key = zorder_value(li, ["l_orderkey", "l_partkey"])
    plan = zdf._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # deterministic: same input row → same z-value
    a = sorted(r[key] for r in zdf.limit(100).collect())
    b = sorted(r[key] for r in zorder_value(li, ["l_orderkey", "l_partkey"])[0]
               .limit(100).collect())
    assert a == b


def _data_probe_candidate_fraction(path: str, col: str, probes) -> float:
    """Candidate-file fraction for DATA-distributed probe values (what
    real point queries hit), not domain-uniform ones."""
    import glob

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    spans = []
    for f in sorted(glob.glob(path + "/*.parquet")):
        t = pq.read_table(f, columns=[col])[col]
        if len(t):
            spans.append((pc.min(t).as_py(), pc.max(t).as_py()))
    hits = sum(
        sum(1 for s in spans if s[0] <= p <= s[1]) for p in probes
    )
    return hits / (len(probes) * len(spans))


def test_zorder_quantile_mapping_beats_minmax_on_powerlaw_column(
    spark, tmp_path
):
    """On a power-law column, the min/max affine map crushes most rows
    into a few grid cells (the bulk of the mass sits far below the
    domain midpoint), so z-order files stay wide on that dimension.
    The equi-depth quantile map must prune data-distributed probes
    substantially better, without giving up the uniform dimension."""
    from pyspark.sql import functions as F

    from project_clinical_data_etl_pipeline_spark.plans.layout import write_zordered

    df = spark.range(20_000).select(
        F.col("id").alias("a"),
        F.pow(F.lit(10.0), (F.col("id") % 1000) / 250.0).alias("b"),
    )
    probes = [10.0 ** ((i * 97 % 1000) / 250.0) for i in range(50)]

    mm = str(tmp_path / "mm")
    qt = str(tmp_path / "qt")
    write_zordered(df, mm, ["a", "b"], bits=8, target_partitions=16)
    write_zordered(df, qt, ["a", "b"], bits=8, target_partitions=16,
                   mapping="quantile")

    mm_b = _data_probe_candidate_fraction(mm, "b", probes)
    qt_b = _data_probe_candidate_fraction(qt, "b", probes)
    qt_a = _avg_candidate_file_fraction(qt, "a")
    assert qt_b < mm_b - 0.2, (mm_b, qt_b)
    assert qt_a < 0.8


def test_write_bucketed_survives_orphaned_location(spark, sf_dir):
    """Second-PROCESS idempotency (the BENCH_r07 killer): an earlier
    process's saveAsTable leaves a directory under spark-warehouse/
    that a fresh in-memory catalog doesn't know; a plain overwrite then
    dies with LOCATION_ALREADY_EXISTS. Simulated here by pre-creating
    the orphaned location for a table this catalog has never seen."""
    import os
    import shutil

    table = "lay_orphan_probe"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    loc = L.table_location(spark, table)
    assert loc is not None
    os.makedirs(loc, exist_ok=True)
    with open(os.path.join(loc, "junk.bin"), "wb") as f:
        f.write(b"stale")
    try:
        df = spark.range(10).withColumnRenamed("id", "cell")
        L.write_bucketed(df, table, ["cell"], num_buckets=4)
        assert spark.table(table).count() == 10
        # And again in the SAME process (catalog now knows it).
        L.write_bucketed(df, table, ["cell"], num_buckets=4)
        assert spark.table(table).count() == 10
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(loc, ignore_errors=True)


def test_table_location_qualified_and_remote():
    class _FakeConf:
        def __init__(self, wh):
            self._wh = wh

        def get(self, key, default=None):
            return self._wh

    class _FakeSpark:
        def __init__(self, wh):
            self.conf = _FakeConf(wh)

    s = _FakeSpark("file:/w")
    assert L.table_location(s, "t") == "/w/t"
    assert L.table_location(s, "db.T") == "/w/db.db/t"
    assert L.table_location(_FakeSpark("s3a://bucket/wh"), "t") is None


def test_layout_experiments_contract(spark, sf_dir):
    """bench's layout telemetry: returns all eight timings, cleans up
    its bucketed tables and z-order temp dirs, and every variant was
    actually measured (positive seconds)."""
    from project_clinical_data_etl_pipeline_spark.plans.layout_bench import (
        layout_experiments,
    )

    out = layout_experiments(spark, sf_dir, passes=1)
    assert set(out) == {
        "bucketed_build", "join_bucketed", "join_shuffle",
        "salted_skew", "plain_skew",
        "zorder_build", "zorder_scan", "plain_scan",
    }
    assert all(v > 0 for v in out.values())
    import glob
    import os
    import tempfile

    assert glob.glob(os.path.join(tempfile.gettempdir(), "layoutbench_z_*")) == []
    leftovers = [
        t.name for t in spark.catalog.listTables() if "layoutbench" in t.name
    ]
    assert leftovers == []
