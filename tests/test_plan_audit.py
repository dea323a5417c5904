"""plans.audit: the 100 TB red-flag lint must (a) catch each failure
mode on a purpose-built bad plan and (b) pass EVERY registered query —
the repo-wide guarantee that no query ships a scale anti-pattern."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from project_clinical_data_etl_pipeline_spark.plans.audit import audit_plan
from project_clinical_data_etl_pipeline_spark.queries import REGISTRY
from project_clinical_data_etl_pipeline_spark.tables import load

# ---------------------------------------------------------------------------
# (a) each red flag fires on a plan built to contain it


def test_flags_cartesian_product(spark):
    a = spark.range(10)
    b = spark.range(10).withColumnRenamed("id", "id2")
    prior = spark.conf.get("spark.sql.crossJoin.enabled")
    spark.conf.set("spark.sql.crossJoin.enabled", "true")
    try:
        bad = a.crossJoin(b).filter("id + id2 > 5")
        bad.count()
        assert any("CartesianProduct" in f or "NestedLoop" in f
                   for f in audit_plan(bad))
    finally:
        spark.conf.set("spark.sql.crossJoin.enabled", prior)


def test_flags_row_at_a_time_python_udf(spark):
    from pyspark.sql.types import LongType

    slow = F.udf(lambda x: x + 1, LongType())
    bad = spark.range(10).select(slow("id").alias("y"))
    bad.count()
    findings = audit_plan(bad)
    assert any("BatchEvalPython" in f for f in findings)


def test_flags_undeclared_arrow_kernel_and_allows_declared(spark):
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def fast(x):  # no type hints: the future-annotations import would
        return x + 1  # stringify them, which pandas_udf rejects

    df = spark.range(10).select(fast("id").alias("y"))
    df.count()
    assert any("ArrowEvalPython" in f for f in audit_plan(df))
    assert not audit_plan(df, allow_python_kernels=True)


def test_flags_unpruned_scan(spark, sf_dir):
    wide = load(spark, sf_dir, "lineitem")  # 16 columns
    wide.count()
    findings = audit_plan(wide, max_scan_columns=4)
    assert any("columns" in f for f in findings)
    two = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    two.count()
    assert not audit_plan(two, max_scan_columns=4)


def test_flags_shuffle_join_when_broadcast_expected(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = o.join(li, o.o_orderkey == li.l_orderkey)
        j.count()
        assert any("broadcast" in f.lower()
                   for f in audit_plan(j, expect_broadcast_only=True))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)


# ---------------------------------------------------------------------------
# (b) every registered query passes the lint

#: queries whose WHOLE POINT is a declared Arrow kernel — plus
#: embed_neardup_suite, whose derived k=44 at sf0.1 puts its Voronoi
#: assignment past _ASSIGN_EXPR_MAX_SCALARS (the measured expr/arrow
#: crossover, similarity.py) onto the declared Arrow kernel
_PYTHON_KERNEL = {"op44_vectorized_udf", "multimodal_decode",
                  "multimodal_frame_sample", "sessionize_events",
                  "embed_neardup_suite",
                  # r11: the 'hh' leg's Misra-Gries candidate summary
                  # is a DECLARED Arrow kernel (mapInPandas, vectorized
                  # value_counts; ≤ c counters resident) — the honest
                  # bounded-state path; everything else in both legs is
                  # JVM-side
                  "corpus_top_ngrams"}
#: queries that broadcast a declared-tiny side into a non-equi join
#: (query vectors — bounded by construction). embed_neardup_suite left
#: this list in round 5: its cell assignment is now a map-side codegen
#: argmax (no BNLJ, no cartesian anywhere in the plan).
#: name → allow_broadcast_nlj value: True = every BNLJ in the plan is
#: a declared tiny side; an int = CAP on BNLJ node count (suites where
#: only specific legs justify the exemption — a data-sized BNLJ in any
#: other leg then still fails the audit)
_TINY_BNLJ = {"embed_topk_suite": True,
              "dedup_exact_jaccard_suite": True,
              "fhir_conditional_create": True,
              # dense leg = brute_force_topk with a 1-query broadcast
              # side (same declared-tiny shape as embed_topk_suite)
              "retrieval_suite": True,
              # r9: ONLY the Q11/Q15/Q22 scalar-subquery legs broadcast
              # a 1-ROW aggregate (grand total / max / global
              # threshold) into the filter — capped, not blanket, so
              # the other 15 legs stay under the no-BNLJ audit
              "tpch_extension_suite": 3}
#: literal 1-row construction side (documented in fhir_q) — a cross
#: join against a constant, not a data-sized cartesian
_ONE_ROW_CROSS = {"fhir_pipeline_suite", "fhir_conditional_create"}
#: runs a stream / writes side effects — audited via their own tests
#: (op03_37_serde_suite's roundtrip leg does real temp-dir file writes;
#: its only join is a 1-row handoff broadcast)
_SKIP = {"op41_streaming_hourly_counts", "op03_37_serde_suite"}


#: marked slow: the two heaviest audit params — embed_topk_suite
#: executes the full ANN stack (~2.3 min), hierarchy_graph_suite the two
#: iterative loops. They run in the default suite; ``-m "not slow"``
#: skips them locally.
_SLOW_AUDIT = {"embed_topk_suite", "hierarchy_graph_suite"}


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.slow) if n in _SLOW_AUDIT else n
        for n in REGISTRY
        if n not in _SKIP
    ],
)
def test_registered_query_plan_is_scale_clean(spark, sf_dir, name):
    df = REGISTRY[name].run(spark, sf_dir)
    df.count()  # finalize AQE so the audited plan is the executed one
    findings = audit_plan(
        df,
        allow_python_kernels=name in _PYTHON_KERNEL,
        allow_broadcast_nlj=_TINY_BNLJ.get(name, False),
        allow_cartesian=name in _ONE_ROW_CROSS,
    )
    assert not findings, f"{name}:\n" + "\n".join(findings)
