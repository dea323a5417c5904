"""ANN retrieval-quality gate: the approximate indexes must actually
FIND the true neighbors, not merely match an oracle that re-derives the
same buckets/cells (which would pass even at zero recall — exactly how
the original single-table LSH shipped with recall@5 = 0.0).

recall@5 = |approx top-5 ∩ exact top-5| / 5, averaged over the 8 query
vectors, against the brute-force baseline on the same corpus. Floors
are set from measured margins (LSH ≈ 0.62-0.75, IVF ≈ 0.925 across
SFs): a regression in hyperplane/centroid/probe logic trips them while
normal float jitter cannot (both sides are deterministic).
"""

from __future__ import annotations

import pytest

from project_clinical_data_etl_pipeline_spark.queries import llmdata

#: (query function name, minimum mean recall@5 vs brute force) — the
#: strategies are registered jointly as embed_topk_suite; the
#: per-strategy functions remain importable for this gate. The PQ floor
#: is intentionally low: 32x lossy compression on this weakly-clustered
#: SYNTHETIC corpus (near-random cosines, tiny neighbor margins) leaves
#: mean recall ~0.22-0.33 across SFs — the floor is a regression
#: trip-wire for the train/encode/reconstruct chain, not a quality
#: claim (real clustered embeddings quantize far better; residual-mode
#: IVF+PQ measures ~3x this, tests/test_quantization.py).
_FLOORS = [
    ("embed_topk_lsh", 0.6),
    ("embed_topk_ivf", 0.8),
    ("embed_topk_pq", 0.15),
    # ADC shortlist → exact re-rank (the SERVED PQ mode; depth is
    # volume-derived, floor 200) must recover near-exact recall — the
    # whole point of the re-rank stage.
    ("embed_topk_pq_rerank", 0.8),
]


def _topk_sets(spark, sf_dir, name):
    out: dict[int, set[int]] = {}
    for r in getattr(llmdata, name)(spark, sf_dir).collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


@pytest.fixture(scope="module")
def exact_topk(spark, sf_dir):
    return _topk_sets(spark, sf_dir, "embed_topk_bruteforce")


@pytest.mark.parametrize("name,floor", _FLOORS)
def test_ann_recall_at_5_meets_floor(spark, sf_dir, exact_topk, name, floor):
    approx = _topk_sets(spark, sf_dir, name)
    recalls = [
        len(approx.get(q, set()) & truth) / len(truth)
        for q, truth in exact_topk.items()
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= floor, (
        f"{name} mean recall@5 {mean_recall:.3f} < floor {floor}; "
        f"per-query: {[round(r, 2) for r in recalls]}"
    )


def test_approx_indexes_return_all_queries(spark, sf_dir, exact_topk):
    """Every query vector must get k results from each index — an index
    that silently drops a query would skew mean recall upward."""
    for name, _ in _FLOORS:
        approx = _topk_sets(spark, sf_dir, name)
        assert set(approx) == set(exact_topk), name
        for q, s in approx.items():
            assert len(s) == 5, f"{name} query {q} returned {len(s)} < 5"


# ---------------------------------------------------------------------------
# Trained (k-means) IVF


@pytest.fixture(scope="module")
def ivf_parts(spark, sf_dir):
    from pyspark.sql import functions as F

    from project_clinical_data_etl_pipeline_spark.operators import similarity as S
    from project_clinical_data_etl_pipeline_spark.tables import load

    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    cents = S.kmeans_centroids(e, dim=64, n_iter=2)
    return S, e, q, cents


def _sets(df):
    out: dict[int, set[int]] = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def _mean_recall(approx, truth):
    return sum(len(approx.get(q, set()) & t) / len(t) for q, t in truth.items()) / len(
        truth
    )


def test_kmeans_centroids_recall_and_balance(spark, sf_dir, exact_topk, ivf_parts):
    """Trained centroids must hold the IVF recall floor and not trail
    min-id seeding beyond noise (measured: 0.875 vs 0.925 at n_probe=4 —
    one neighbor of one query — converging to ≥ min-id at n_probe≥5).
    The structural win of k-means is cell balance: its smallest cell
    must be no smaller than min-id's (balanced cells bound the
    worst-case probe cost at scale)."""
    S, e, q, cents = ivf_parts
    km = _sets(S.ivf_topk(q, e, k=5, dim=64, centroids=cents))
    minid = _sets(S.ivf_topk(q, e, k=5, dim=64))
    km_recall = _mean_recall(km, exact_topk)
    assert km_recall >= 0.8
    assert km_recall >= _mean_recall(minid, exact_topk) - 0.05

    def min_cell(centroids):
        sizes = (
            S.assign_cells(e, centroids, dim=64)
            .groupBy("cell")
            .count()
            .collect()
        )
        return min(r["count"] for r in sizes)

    seed_rows = e.orderBy("vec_id").limit(16).select("embedding").collect()
    minid_cents = [[float(x) for x in r[0]] for r in seed_rows]
    assert min_cell(cents) >= min_cell(minid_cents)


def test_semdedup_recall_vs_hash_capped_brute(spark, sf_dir):
    """The graded embed_neardup_suite no longer contains the O(n²)
    brute crossJoin (round-5 scale-true change); this is where the
    exact baseline now lives. Brute runs on a DETERMINISTIC hash-capped
    sample (pmod(xxhash64(vec_id), 2) = 0 — the cap that makes a brute
    parity check affordable at any SF), SemDeDup on the same sample
    with the production trained centroids. Within-cell pairs are exact
    cosines → precision is 1.0 by construction (asserted), and recall
    vs brute must clear a floor."""
    from pyspark.sql import functions as F

    from project_clinical_data_etl_pipeline_spark.operators import dedup as D
    from project_clinical_data_etl_pipeline_spark.operators.similarity import (
        kmeans_centroids,
    )
    from project_clinical_data_etl_pipeline_spark.tables import load

    e = load(spark, sf_dir, "embeddings").filter(
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(2)) == 0
    )
    thresh = 0.40
    brute = {
        (r["id_a"], r["id_b"])
        for r in D.embedding_near_dups(
            e, "vec_id", "embedding", threshold=thresh, dim=64
        ).collect()
    }
    trained = kmeans_centroids(e, dim=64, n_iter=2, round_dp=6)
    cellp = {
        (r["id_a"], r["id_b"])
        for r in D.semantic_near_dup_pairs(
            e, "vec_id", "embedding", dim=64, threshold=thresh,
            centroids=trained, max_cell_size=400,
        ).collect()
    }
    assert brute, "threshold too high: empty brute baseline proves nothing"
    assert cellp <= brute, "within-cell pairs must be a brute subset"
    recall = len(cellp & brute) / len(brute)
    assert recall >= 0.3, (
        f"SemDeDup recall {recall:.2f} vs capped brute "
        f"({len(cellp)}/{len(brute)} pairs)"
    )


def test_semdedup_n_centroids_scales_with_corpus():
    """k = max(16, ⌊√n⌋): constant floor at toy sizes, √n growth at
    scale — the property that keeps within-cell pair work ~n^1.5
    instead of degenerating toward n² with a constant k."""
    from project_clinical_data_etl_pipeline_spark.operators.dedup import (
        semdedup_n_centroids,
    )

    assert semdedup_n_centroids(1) == 16
    assert semdedup_n_centroids(256) == 16  # boundary: sqrt == floor
    assert semdedup_n_centroids(500) == 22  # graded-SF corpus
    assert semdedup_n_centroids(2000) == 44  # sf0.1 corpus
    assert semdedup_n_centroids(10**6) == 1000
    assert semdedup_n_centroids(10**12) == 10**6  # 100 TB-class corpus
    ks = [semdedup_n_centroids(n) for n in (10**3, 10**5, 10**7, 10**9)]
    assert ks == sorted(ks) and len(set(ks)) == len(ks), "k must grow with n"


def test_semdedup_dropped_cell_cap_is_logged(spark, caplog):
    """A fired max_cell_size cap must be surfaced (no silent caps):
    every vector lands in one of two cells of size 2 > cap 1, so both
    cells drop, the result is empty, and the warning names them."""
    import logging

    from project_clinical_data_etl_pipeline_spark.operators import dedup as D

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [0.1, 0.9])],
        "vec_id bigint, embedding array<double>",
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]
    with caplog.at_level(logging.WARNING):
        out = D.semantic_near_dup_pairs(
            df, "vec_id", "embedding", dim=2, threshold=0.0,
            centroids=cents, max_cell_size=1, log_dropped=True,
        ).collect()
    assert out == []
    msgs = [r.message for r in caplog.records if "max_cell_size" in r.message]
    assert msgs and "2 cell(s)" in msgs[0] and "4 vectors" in msgs[0]
