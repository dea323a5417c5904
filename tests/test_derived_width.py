"""The sf4 bucketing lesson as a shared, tested rule: any static
partitioning parameter must be DERIVED from data volume
(plans.layout.derived_width), never hard-coded — a fixed 32 buckets
made the co-located join 2.8x slower than its shuffle twin at sf4
(SCALE.md round 9)."""

import inspect

from project_clinical_data_etl_pipeline_spark.plans.layout import derived_width


def test_floor_holds_on_toy_volumes():
    # toy inputs stay at full-session parallelism, never below
    for n in (0, 1, 1_000, 199_999, 6_000_000):
        assert derived_width(n) >= 32
    assert derived_width(0) == 32
    assert derived_width(6_000) == 32


def test_matches_the_sf4_measured_points():
    # sf4 lineitem ~24M rows → 128 buckets (~190k rows/bucket), the
    # measured winning configuration; sf0.1 (~600k) stays at the floor
    assert derived_width(24_000_000) == 128
    assert derived_width(600_000) == 32


def test_power_of_two_and_monotone():
    prev = 0
    for n in range(0, 60_000_000, 1_000_000):
        w = derived_width(n)
        assert w & (w - 1) == 0, f"{w} not a power of two"
        assert w >= prev, "width must be monotone in volume"
        prev = w


def test_rows_per_unit_bounded():
    # the whole point: no unsplittable unit ever holds more than
    # 2x the target regardless of volume
    for n in (1_000_000, 10_000_000, 100_000_000, 1_000_000_000):
        w = derived_width(n)
        assert n / w <= 2 * 200_000, f"{n/w:.0f} rows/bucket at n={n}"


def test_non_pow2_mode():
    assert derived_width(1_000_000, pow2=False) == 32
    assert derived_width(100_000_000, pow2=False) == 501


def test_index_persist_paths_default_to_derived_width():
    """The serving-index writer must not ship a hard-coded bucket
    count: its num_buckets defaults to None (= derive from corpus
    volume at call time) — the regression this pins is a future editor
    'simplifying' the default back to a constant."""
    from project_clinical_data_etl_pipeline_spark.operators.quantization import (
        persist_ivfpq_index,
    )

    default = inspect.signature(persist_ivfpq_index).parameters["num_buckets"].default
    assert default is None, (
        f"persist_ivfpq_index hard-codes num_buckets={default}; static "
        "partitioning must derive from data volume (SCALE.md r9)"
    )


def test_layout_bench_buckets_derive_from_volume():
    import project_clinical_data_etl_pipeline_spark.plans.layout_bench as lb

    src = inspect.getsource(lb)
    assert "derived_width(" in src


def test_derived_shortlist_scales_with_corpus():
    """ADC re-rank shortlist must derive from corpus size: a fixed 200
    measured recall@5 0.875 at 8k vectors but 0.75 at 20k (SCALE.md
    round 10). n/40 with the validated floor and a bound-shaped cap."""
    from project_clinical_data_etl_pipeline_spark.operators.ann_index import (
        probe_index_rerank,
    )
    from project_clinical_data_etl_pipeline_spark.operators.quantization import (
        derived_shortlist,
        pq_topk_rerank,
    )

    assert derived_shortlist(0) == 200
    assert derived_shortlist(8_000) == 200      # floor = sf0.1 point
    assert derived_shortlist(20_000) == 500     # the measured 0.95 point
    assert derived_shortlist(20_001) == 501     # ceiling division
    assert derived_shortlist(10**9) == 5_000    # absolute work cap
    for fn in (pq_topk_rerank, probe_index_rerank):
        default = inspect.signature(fn).parameters["shortlist"].default
        assert default is None, (
            f"{fn.__name__} hard-codes shortlist={default}; serving "
            "depth must derive from corpus volume (SCALE.md r10)"
        )
