"""Two-level (IMI-style) quantizer lifecycle + hot-cell split
(operators/ann_index.py round 12) — the two scale rungs past round 11:

- the flat coarse quantizer caps at 4096 driver-side centroids
  (derived_n_centroids), past which per-query candidate volume grows
  linearly with the corpus again; build_imi_index composes k1·k2
  effective cells from k1+k2 centroids and must satisfy the SAME
  lifecycle invariants (append ≡ one-shot encode, probe ≡ one-shot
  probe, recall floor through re-rank, crash-atomic rebuild carrying
  the replay guard);
- split_cell is the middle maintenance rung between append-forever and
  a full retrain: O(hot cell) cost, row-set-preserving, untouched
  partitions byte-identical, skew measurably reduced, crash-atomic.
"""

from __future__ import annotations

import os

import pytest

#: slow: index builds in most tests; runs in the default suite, and
#: ``-m "not slow"`` skips it locally
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from project_clinical_data_etl_pipeline_spark.operators import ann_index as AI
from project_clinical_data_etl_pipeline_spark.operators.quantization import (
    imi_index,
    imi_topk,
)
from project_clinical_data_etl_pipeline_spark.plans import txlog
from project_clinical_data_etl_pipeline_spark.tables import load

_DIM = 64
_SPLIT = 400


def _rows(df):
    return sorted(
        (r["neighbor_id"], int(r["cell"]), tuple(r["pq_code"]))
        for r in df.collect()
    )


def _codes(df):
    """Cell-blind row identity: (neighbor_id, pq_code) multiset."""
    return sorted(
        (r["neighbor_id"], tuple(r["pq_code"])) for r in df.collect()
    )


def _probe_rows(df):
    return sorted(
        (r["query_id"], r["neighbor_id"], r["rank"]) for r in df.collect()
    )


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    return load(spark, sf_dir, "embeddings").select("vec_id", "embedding")


@pytest.fixture(scope="module")
def imi_built(spark, corpus, tmp_path_factory):
    """Two-level index built on the first _SPLIT vectors, grown to full
    coverage by TWO appends (the flat suite's shape, under the finer
    geometry)."""
    path = str(tmp_path_factory.mktemp("imi_idx"))
    meta = AI.build_imi_index(
        spark, corpus.filter(F.col("vec_id") < _SPLIT), path,
        dim=_DIM, k1=6, k2=6,
    )
    AI.append_ivfpq_index(
        spark,
        path,
        corpus.filter(
            (F.col("vec_id") >= _SPLIT) & (F.col("vec_id") < _SPLIT + 50)
        ),
    )
    AI.append_ivfpq_index(
        spark, path, corpus.filter(F.col("vec_id") >= _SPLIT + 50)
    )
    return path, meta


def test_imi_meta_geometry(imi_built):
    _, meta = imi_built
    assert meta["quantizer"] == "imi"
    assert meta["imi_k1"] == 6 and meta["imi_k2"] == 6
    assert meta["n_centroids"] == 36  # effective cells
    assert len(meta["centroids"]) == 6 and len(meta["centroids2"]) == 6


def test_imi_append_equals_one_shot_encode(spark, corpus, imi_built):
    """build(A) + append(B1) + append(B2) row set == one-shot two-level
    encode of A∪B under the SAME frozen parameters — the load-bearing
    lifecycle invariant, re-proven on the composite cell geometry."""
    path, meta = imi_built
    one_shot = imi_index(
        corpus, meta["centroids"], meta["centroids2"], meta["codebooks"],
        _DIM, stride=meta["imi_stride"],
    ).withColumn("cell", F.col("cell").cast("bigint"))
    assert _rows(AI.read_index(spark, path)) == _rows(one_shot)


def test_imi_probe_after_append_equals_one_shot_probe(spark, corpus, imi_built):
    """probe_index serves the two-level geometry cold from the sidecar
    and matches probing the one-shot encode."""
    path, meta = imi_built
    queries = corpus.filter(F.col("vec_id") < 8)
    got = AI.probe_index(spark, path, queries, k=5, n_probe=3)
    want = imi_topk(
        queries,
        imi_index(
            corpus, meta["centroids"], meta["centroids2"],
            meta["codebooks"], _DIM, stride=meta["imi_stride"],
        ),
        meta["centroids"],
        meta["centroids2"],
        meta["codebooks"],
        _DIM,
        k=5,
        n_probe1=3,
        n_probe2=3,
        stride=meta["imi_stride"],
    )
    assert _probe_rows(got) == _probe_rows(want)


def test_imi_composite_cells_cover_geometry(spark, imi_built):
    """Composite ids live in [0, k1·stride) with c2 < k2 (the stride
    headroom is reserved for split growth) and decompose as
    c1·stride + c2."""
    path, meta = imi_built
    cells = [
        r["cell"]
        for r in AI.read_index(spark, path).select("cell").distinct().collect()
    ]
    k1, k2 = meta["imi_k1"], meta["imi_k2"]
    stride = meta["imi_stride"]
    assert stride == 2 * 6
    assert all(0 <= c < k1 * stride and c % stride < k2 for c in cells)
    assert len(cells) > k1  # finer than any flat k1-cell partitioning


def test_imi_recall_floor_after_appends(spark, sf_dir, corpus, imi_built):
    """Served mode (ADC shortlist → exact re-rank) holds the ≥0.8
    recall@5 floor on the appended two-level index — the same
    acceptance bar the flat lifecycle carries."""
    from project_clinical_data_etl_pipeline_spark.queries import llmdata

    path, _ = imi_built
    exact: dict[int, set[int]] = {}
    for r in llmdata.embed_topk_bruteforce(spark, sf_dir).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    queries = corpus.filter(F.col("vec_id") < 8)
    approx: dict[int, set[int]] = {}
    for r in AI.probe_index_rerank(
        spark, path, queries, corpus, k=5, n_probe=3
    ).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(approx.get(q, set()) & truth) / len(truth)
        for q, truth in exact.items()
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.8, f"IMI recall@5 {mean_recall:.3f}"


def test_imi_rebuild_keeps_geometry_and_replay_guard(spark, corpus, tmp_path):
    path = str(tmp_path / "imi_rebuild")
    AI.build_imi_index(
        spark, corpus.filter(F.col("vec_id") < _SPLIT), path,
        dim=_DIM, k1=4, k2=4,
    )
    delta = corpus.filter(F.col("vec_id") >= _SPLIT)
    AI.append_ivfpq_index(spark, path, delta, batch_id=9)
    new_meta = AI.rebuild_index(spark, corpus, path)
    assert new_meta["quantizer"] == "imi"
    assert new_meta["imi_k1"] == 4 and new_meta["imi_k2"] == 4
    assert new_meta["appended_n"] == 0
    root = str(tmp_path / "imi_rebuild" / "index")
    assert txlog.has_batch(root, 9)  # carried inside the reset commit
    replay = AI.append_ivfpq_index(spark, path, delta, batch_id=9)
    assert replay.get("replayed") is True


# ---------------------------------------------------------------------------
# split_cell — the middle maintenance rung (flat quantizer)
# ---------------------------------------------------------------------------


@pytest.fixture()
def flat_built(spark, corpus, tmp_path):
    """Flat index at a coarse static k (4 cells) over the natural
    corpus — near-balanced; used for the recall/append/crash claims
    (splitting a cell must be safe even when it wasn't truly hot)."""
    path = str(tmp_path / "split_idx")
    meta = AI.build_ivfpq_index(spark, corpus, path, dim=_DIM, n_centroids=4)
    return path, meta


@pytest.fixture()
def skewed_built(spark, corpus, tmp_path):
    """Flat 4-cell index over the natural corpus PLUS a 150-vector
    blob blended around one direction (0.9·base + 0.3·eᵢ — same cell
    by construction, internal spread from eᵢ so the blob re-clusters)
    — a genuinely hot cell for the skew-reduction claim."""
    nat = corpus.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias(
            "embedding"
        ),
    )
    base = nat.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("__b")
    )
    blob = (
        nat.filter(F.col("vec_id") < 150)
        .crossJoin(F.broadcast(base))
        .select(
            (F.col("vec_id") + 10_000).alias("vec_id"),
            F.expr(
                "zip_with(__b, embedding, (b, e) -> 0.9 * b + 0.3 * e)"
            ).alias("embedding"),
        )
    )
    skewed = nat.unionByName(blob)
    path = str(tmp_path / "split_skew_idx")
    meta = AI.build_ivfpq_index(spark, skewed, path, dim=_DIM, n_centroids=4)
    return path, meta


def test_split_cell_preserves_rows_and_reduces_skew(spark, skewed_built):
    path, _ = skewed_built
    root = AI._data_path(path)
    before_rows = _codes(AI.read_index(spark, path))
    crit = AI.retrain_criterion(spark, path)
    hot = crit["hot_cell"]
    occ_before = {
        r["cell"]: r["n"]
        for r in AI.read_index(spark, path).groupBy("cell")
        .agg(F.count("*").alias("n")).collect()
    }
    files_before = txlog.read_manifest(root)["files"]
    untouched_before = {f for f in files_before if AI._cell_of(f) != hot}
    hot_files_before = {f for f in files_before if AI._cell_of(f) == hot}
    report = AI.split_cell(spark, path, hot, n_subcells=2)
    assert report["rows"] == occ_before[hot]
    assert report["n_centroids"] == 5
    # row identity (cell-blind) preserved exactly
    assert _codes(AI.read_index(spark, path)) == before_rows
    # every untouched cell's committed file survives VERBATIM (same
    # physical file — split never rewrites other partitions), and the
    # only retired files are the hot cell's
    after_files = set(txlog.read_manifest(root)["files"])
    assert untouched_before <= after_files
    # and the hot cell's superseded files are fully retired
    assert hot_files_before.isdisjoint(after_files)
    # skew measurably reduced in ABSOLUTE terms: the ex-hot cell shed
    # rows and no cell ended hotter than the old maximum. (The
    # criterion's RATIO is against uniform-at-current-k, whose base
    # shrinks as k grows — ratios across different k don't compare.)
    occ_after = {
        r["cell"]: r["n"]
        for r in AI.read_index(spark, path).groupBy("cell")
        .agg(F.count("*").alias("n")).collect()
    }
    assert occ_after.get(hot, 0) < occ_before[hot]
    assert max(occ_after.values()) <= max(occ_before.values())
    # the sidecar's refined table serves and extends the index
    assert len(AI.load_index_meta(path)["centroids"]) == 5


def test_split_cell_recall_floor_and_appendable(spark, sf_dir, corpus, flat_built):
    from project_clinical_data_etl_pipeline_spark.queries import llmdata

    path, _ = flat_built
    hot = AI.retrain_criterion(spark, path)["hot_cell"]
    AI.split_cell(spark, path, hot, n_subcells=2)
    exact: dict[int, set[int]] = {}
    for r in llmdata.embed_topk_bruteforce(spark, sf_dir).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    queries = corpus.filter(F.col("vec_id") < 8)
    approx: dict[int, set[int]] = {}
    for r in AI.probe_index_rerank(
        spark, path, queries, corpus, k=5, n_probe=4
    ).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(approx.get(q, set()) & truth) / len(truth)
        for q, truth in exact.items()
    ]
    assert sum(recalls) / len(recalls) >= 0.8
    # appends after the split assign against the REFINED table
    extra = corpus.limit(20).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    n_before = AI.read_index(spark, path).count()
    out = AI.append_ivfpq_index(spark, path, extra)
    assert out["appended"] == 20
    assert AI.read_index(spark, path).count() == n_before + 20


def test_split_cell_crash_before_commit_changes_nothing(
    spark, corpus, flat_built, monkeypatch
):
    path, _ = flat_built
    root = AI._data_path(path)
    hot = AI.retrain_criterion(spark, path)["hot_cell"]
    before_manifest = txlog.read_manifest(root)
    before_rows = _rows(AI.read_index(spark, path))
    before_k = len(AI.load_index_meta(path)["centroids"])

    real_commit = txlog.commit

    def exploding_commit(*a, **k):
        raise RuntimeError("injected crash at the split commit")

    monkeypatch.setattr(txlog, "commit", exploding_commit)
    with pytest.raises(RuntimeError, match="injected crash"):
        AI.split_cell(spark, path, hot, n_subcells=2)
    monkeypatch.setattr(txlog, "commit", real_commit)
    assert txlog.read_manifest(root) == before_manifest
    assert _rows(AI.read_index(spark, path)) == before_rows
    assert len(AI.load_index_meta(path)["centroids"]) == before_k
    txlog.vacuum(root, orphan_grace_s=0)  # reclaims the crashed orphans
    assert _rows(AI.read_index(spark, path)) == before_rows


def test_split_cell_rejects_headroom_and_empty(
    spark, corpus, imi_built, flat_built
):
    flat_path, _ = flat_built
    with pytest.raises(ValueError):
        AI.split_cell(spark, flat_path, 9999)
    # shared-IMI headroom bound: stride 12 at k2=6 leaves room for 6
    # extra entries — asking for 8 subcells must refuse, not corrupt
    imi_path, meta = imi_built
    some_cell = AI.read_index(spark, imi_path).select("cell").first()["cell"]
    with pytest.raises(ValueError, match="headroom"):
        AI.split_cell(spark, imi_path, int(some_cell), n_subcells=8)


def test_split_imi_cell_refines_level_two(spark, corpus, tmp_path):
    """The two-level split rung: a blob-hot composite cell splits by
    GROWING the shared level-2 codebook (ids stable under the stride
    headroom) — rows preserved, other cells' files untouched, hot
    occupancy reduced, the index still appends and probes."""
    nat = corpus.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias(
            "embedding"
        ),
    )
    base = nat.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("__b")
    )
    blob = (
        nat.filter(F.col("vec_id") < 150)
        .crossJoin(F.broadcast(base))
        .select(
            (F.col("vec_id") + 10_000).alias("vec_id"),
            F.expr(
                "zip_with(__b, embedding, (b, e) -> 0.9 * b + 0.3 * e)"
            ).alias("embedding"),
        )
    )
    skewed = nat.unionByName(blob)
    path = str(tmp_path / "imi_split_idx")
    meta = AI.build_imi_index(spark, skewed, path, dim=_DIM, k1=3, k2=3)
    root = str(tmp_path / "imi_split_idx" / "index")
    crit = AI.retrain_criterion(spark, path)
    hot = crit["hot_cell"]
    before_codes = _codes(AI.read_index(spark, path))
    occ_before = {
        r["cell"]: r["n"]
        for r in AI.read_index(spark, path).groupBy("cell")
        .agg(F.count("*").alias("n")).collect()
    }
    files_before = txlog.read_manifest(root)["files"]
    untouched = {f for f in files_before if AI._cell_of(f) != hot}
    report = AI.split_cell(spark, path, hot, n_subcells=2)
    assert report["rows"] == occ_before[hot]
    new_meta = AI.load_index_meta(path)
    assert new_meta["imi_k2"] == 4  # shared codebook grew
    assert new_meta["imi_stride"] == 6  # ids stable
    assert new_meta["n_centroids"] == 3 * 4
    assert _codes(AI.read_index(spark, path)) == before_codes
    assert untouched <= set(txlog.read_manifest(root)["files"])
    occ_after = {
        r["cell"]: r["n"]
        for r in AI.read_index(spark, path).groupBy("cell")
        .agg(F.count("*").alias("n")).collect()
    }
    assert occ_after.get(hot, 0) < occ_before[hot]
    assert max(occ_after.values()) <= max(occ_before.values())
    # all cells still decompose under the stride with c2 < grown k2
    assert all(c % 6 < 4 for c in occ_after)
    # lifecycle continues: append + probe against the grown codebook
    extra = skewed.limit(20).select(
        (F.col("vec_id") + 500_000).alias("vec_id"), "embedding"
    )
    assert AI.append_ivfpq_index(spark, path, extra)["appended"] == 20
    probed = AI.probe_index(
        spark, path, skewed.filter(F.col("vec_id") < 8), k=5, n_probe=2
    )
    assert probed.count() > 0


def test_derived_imi_k_rule():
    from project_clinical_data_etl_pipeline_spark.operators.quantization import (
        derived_imi_k,
    )

    assert derived_imi_k(0) == 8          # floor
    assert derived_imi_k(20_000) == 12    # ceil(20000^0.25)
    assert derived_imi_k(80_000) == 17
    assert derived_imi_k(10**12) == 1000  # just under the cap
    assert derived_imi_k(10**13) == 1024  # cap binds


def test_per_branch_sidecar_is_rejected(spark, corpus, imi_built, tmp_path):
    """A sidecar marked ``per_branch`` (written by an older version of
    the package, one level-2 codebook per branch) must not be served as
    a shared-codebook index: probe and append raise ValueError, and a
    fresh build replaces the index at the same path."""
    import json
    import shutil

    path = str(tmp_path / "per_branch_idx")
    shutil.copytree(imi_built[0], path)
    root = AI._data_path(path)
    meta_file = os.path.join(root, txlog.read_manifest(root)["meta_file"])
    with open(meta_file) as fh:
        meta = json.load(fh)
    meta["per_branch"] = True
    with open(meta_file, "w") as fh:
        json.dump(meta, fh)
    queries = corpus.filter(F.col("vec_id") < 4)
    with pytest.raises(ValueError, match="per-branch"):
        AI.probe_index(spark, path, queries, k=5, n_probe=2)
    with pytest.raises(ValueError, match="per-branch"):
        AI.append_ivfpq_index(spark, path, queries)
    AI.build_imi_index(
        spark, corpus.filter(F.col("vec_id") < 100), path,
        dim=_DIM, k1=2, k2=2, n_iter=1,
    )
    assert "per_branch" not in AI.load_index_meta(path)
    assert AI.probe_index(spark, path, queries, k=5, n_probe=2).count() > 0
