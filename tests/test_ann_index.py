"""Persisted IVF+PQ index lifecycle (operators/ann_index.py): the
round-11 incremental-maintenance contract.

The load-bearing invariant: **append ≡ rebuild-encode**. Because
``append_ivfpq_index`` freezes the trained parameters, build(A) +
append(B) must produce the IDENTICAL row set — and identical probe
results — as a one-shot encode of A∪B under the same parameters.
Everything else (drift, skew) is the retrain criterion's job, and both
of its triggers are pinned from measured positives AND negatives so
the thresholds cannot silently drift into always/never firing.
"""

from __future__ import annotations

import pytest

#: slow: IVF lifecycle, crash-recovery and multi-writer pins with index
#: builds in most tests; runs in the default suite, and
#: ``-m "not slow"`` skips it locally
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from project_clinical_data_etl_pipeline_spark.operators import ann_index as AI
from project_clinical_data_etl_pipeline_spark.operators.quantization import (
    ivfpq_index,
)
from project_clinical_data_etl_pipeline_spark.tables import load

_DIM = 64
_SPLIT = 400  # build on vec_id < 400, append the remaining 100


def _rows(df):
    return sorted(
        (r["neighbor_id"], int(r["cell"]), tuple(r["pq_code"]))
        for r in df.collect()
    )


def _probe_rows(df):
    return sorted(
        (r["query_id"], r["neighbor_id"], r["rank"]) for r in df.collect()
    )


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    return load(spark, sf_dir, "embeddings").select("vec_id", "embedding")


@pytest.fixture(scope="module")
def built(spark, corpus, tmp_path_factory):
    """Index built on the first _SPLIT vectors, then grown to full
    corpus coverage via TWO appends (append path exercised more than
    once before any equality/recall claim)."""
    path = str(tmp_path_factory.mktemp("ivfpq_idx"))
    meta = AI.build_ivfpq_index(
        spark, corpus.filter(F.col("vec_id") < _SPLIT), path, dim=_DIM
    )
    s1 = AI.append_ivfpq_index(
        spark,
        path,
        corpus.filter(
            (F.col("vec_id") >= _SPLIT) & (F.col("vec_id") < _SPLIT + 50)
        ),
    )
    s2 = AI.append_ivfpq_index(
        spark, path, corpus.filter(F.col("vec_id") >= _SPLIT + 50)
    )
    return path, meta, (s1, s2)


def test_append_equals_one_shot_encode(spark, corpus, built):
    """build(A) + append(B1) + append(B2) row set == one-shot encode of
    A∪B under the SAME frozen parameters."""
    path, meta, (s1, s2) = built
    assert s1["appended"] == 50 and s2["appended"] == 50
    one_shot = ivfpq_index(
        corpus, meta["centroids"], meta["codebooks"], _DIM
    ).withColumn("cell", F.col("cell").cast("bigint"))
    assert _rows(AI.read_index(spark, path)) == _rows(one_shot)


def test_probe_after_append_equals_one_shot_probe(spark, corpus, built):
    """Probe results through the appended index are identical to
    probing the one-shot encode — the serving-level restatement of the
    row-set invariant (and it runs cold from the sidecar: no training
    state from the build survives in this call chain)."""
    from project_clinical_data_etl_pipeline_spark.operators.quantization import (
        ivfpq_topk,
    )

    path, meta, _ = built
    queries = corpus.filter(F.col("vec_id") < 8)
    got = AI.probe_index(spark, path, queries, k=5)
    one_shot = ivfpq_index(corpus, meta["centroids"], meta["codebooks"], _DIM)
    want = ivfpq_topk(
        queries, one_shot, meta["centroids"], meta["codebooks"], _DIM, k=5
    )
    assert _probe_rows(got) == _probe_rows(want)


def test_recall_floor_after_appends(spark, sf_dir, corpus, built):
    """The served mode (ADC shortlist → exact re-rank) holds the ≥0.8
    recall@5 floor on an index grown by appends — the verdict's
    acceptance bar for incremental maintenance."""
    from project_clinical_data_etl_pipeline_spark.queries import llmdata

    path, _, _ = built
    exact: dict[int, set[int]] = {}
    for r in llmdata.embed_topk_bruteforce(spark, sf_dir).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    queries = corpus.filter(F.col("vec_id") < 8)
    approx: dict[int, set[int]] = {}
    for r in AI.probe_index_rerank(
        spark, path, queries, corpus, k=5
    ).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(approx.get(q, set()) & truth) / len(truth)
        for q, truth in exact.items()
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.8, f"recall@5 {mean_recall:.3f} after appends"


def test_one_file_per_cell_then_compact(spark, corpus, built):
    """Layout invariant: build lands ONE file per cell; each append
    adds at most one file per touched cell; compaction returns hot
    cells to one file each and changes no data."""
    path, _, _ = built
    counts = AI.cell_file_counts(path)
    assert counts, "no cell directories found"
    assert max(counts.values()) <= 3  # build + 2 appends
    before = _rows(AI.read_index(spark, path))
    compacted = AI.compact_index(spark, path, max_files_per_cell=1)
    assert compacted, "appends created multi-file cells; none compacted"
    after_counts = AI.cell_file_counts(path)
    assert all(after_counts[c] == 1 for c in compacted)
    assert _rows(AI.read_index(spark, path)) == before


def test_drift_negative_same_distribution(spark, built):
    """Same-distribution appends must NOT trip the retrain criterion.
    The baseline is the training-fit distance, so held-out data sits
    ABOVE 1.0 by the coarse quantizer's generalization gap — measured
    1.16-1.18 on this corpus — and the 1.3 default must clear it."""
    path, _, (s1, s2) = built
    for s in (s1, s2):
        assert s["drift_ratio"] is not None
        assert 1.0 < s["drift_ratio"] < 1.3, s
    crit = AI.retrain_criterion(spark, path)
    assert crit["retrain"] is False, crit
    assert crit["appended_fraction"] == pytest.approx(100 / 500)


def test_drift_positive_orthogonal_delta(spark, corpus, tmp_path):
    """A delta orthogonal to EVERY trained centroid (exact cos 0 ⇒
    mean assignment distance 1.0, the quantizer's out-of-distribution
    worst case short of anti-alignment) MUST trip the
    distance-inflation trigger — measured ratio ≈ 1.5 vs the 1.3
    threshold. Deterministic: Gram-Schmidt on the persisted centroids,
    no randomness."""
    import numpy as np

    path = str(tmp_path / "idx_ortho")
    meta = AI.build_ivfpq_index(
        spark, corpus.filter(F.col("vec_id") < _SPLIT), path, dim=_DIM
    )
    cents = np.array(meta["centroids"], dtype=np.float64)
    # project the basis vectors out of the centroid span; take the 50
    # largest-residual directions as the orthogonal delta
    q, _ = np.linalg.qr(cents.T)  # 64 x 16 orthonormal span basis
    deltas = []
    for i in range(_DIM):
        e = np.zeros(_DIM)
        e[i] = 1.0
        r = e - q @ (q.T @ e)
        n = np.linalg.norm(r)
        if n > 1e-9:
            deltas.append((float(n), (r / n).tolist()))
    deltas = [v for _, v in sorted(deltas, reverse=True)[:50]]
    ortho = spark.createDataFrame(
        [(20_000 + i, v) for i, v in enumerate(deltas)],
        "vec_id bigint, embedding array<double>",
    )
    stats = AI.append_ivfpq_index(spark, path, ortho)
    assert stats["drift_ratio"] is not None and stats["drift_ratio"] > 1.3
    crit = AI.retrain_criterion(spark, path)
    assert crit["retrain"] is True
    assert "assignment_distance_inflation" in crit["reasons"]


def test_hot_cell_skew_trigger(spark, corpus, tmp_path):
    """A delta that piles onto one Voronoi cell (copies of a single
    vector) trips the hot-cell trigger even with zero drift — probe
    cost concentration is detected independently of distribution
    shift."""
    path = str(tmp_path / "idx_hot")
    AI.build_ivfpq_index(
        spark, corpus.filter(F.col("vec_id") < _SPLIT), path, dim=_DIM
    )
    one = corpus.filter(F.col("vec_id") == 0).select("embedding")
    pile = (
        spark.range(20_000, 20_000 + 600)
        .withColumnRenamed("id", "vec_id")
        .crossJoin(F.broadcast(one))
    )
    AI.append_ivfpq_index(spark, path, pile)
    crit = AI.retrain_criterion(spark, path)
    assert crit["hot_cell_ratio"] > 4.0
    assert "hot_cell_skew" in crit["reasons"]


def test_empty_append_is_noop(spark, corpus, built):
    path, _, _ = built
    before = _rows(AI.read_index(spark, path))
    stats = AI.append_ivfpq_index(
        spark, path, corpus.filter(F.col("vec_id") < 0)
    )
    assert stats == {
        "appended": 0,
        "touched_cells": 0,
        "mean_dist": None,
        "drift_ratio": None,
    }
    assert _rows(AI.read_index(spark, path)) == before


def test_meta_missing_raises(tmp_path):
    with pytest.raises(FileNotFoundError):
        AI.load_index_meta(str(tmp_path / "nope"))


def test_uncommitted_files_are_invisible_and_vacuumable(spark, corpus, tmp_path):
    """The crash window the txlog closes: data files landed WITHOUT a
    manifest commit (a writer that died between write and publish) are
    invisible to readers, don't count toward compaction, and vacuum
    reclaims them — then the same batch id re-applies exactly once."""
    import os
    import shutil

    from project_clinical_data_etl_pipeline_spark.plans import txlog

    path = str(tmp_path / "idx_crash")
    AI.build_ivfpq_index(
        spark, corpus.filter(F.col("vec_id") < _SPLIT), path, dim=_DIM
    )
    before_rows = _rows(AI.read_index(spark, path))
    before_counts = AI.cell_file_counts(path)
    root = os.path.join(path, "index")
    # simulate the dead writer: a real parquet file lands in a cell
    # dir but its commit never happens
    committed = txlog.committed_files(root)
    orphan = os.path.join(
        os.path.dirname(committed[0]), "part-CRASHED-orphan.parquet"
    )
    shutil.copyfile(committed[0], orphan)
    assert _rows(AI.read_index(spark, path)) == before_rows, (
        "uncommitted file leaked into a read"
    )
    assert AI.cell_file_counts(path) == before_counts
    removed = txlog.vacuum(root, orphan_grace_s=0)
    assert any("CRASHED" in r for r in removed)
    assert not os.path.exists(orphan)
    # the interrupted batch replays under its original id: applies once
    delta = corpus.filter(F.col("vec_id") >= _SPLIT)
    s1 = AI.append_ivfpq_index(spark, path, delta, batch_id=11)
    s2 = AI.append_ivfpq_index(spark, path, delta, batch_id=11)
    assert s1["appended"] == 100 and s2.get("replayed") is True
    assert len(_rows(AI.read_index(spark, path))) == _SPLIT + 100


def test_compaction_is_transactional(spark, corpus, tmp_path):
    """Compaction = land → one atomic commit (add compacted, remove
    superseded) → vacuum: afterwards the manifest holds exactly one
    file per compacted cell, no dead bytes remain on disk, and the
    data is unchanged."""
    import os

    from project_clinical_data_etl_pipeline_spark.plans import txlog

    path = str(tmp_path / "idx_txcompact")
    AI.build_ivfpq_index(
        spark, corpus.filter(F.col("vec_id") < _SPLIT), path, dim=_DIM
    )
    AI.append_ivfpq_index(
        spark, path, corpus.filter(F.col("vec_id") >= _SPLIT)
    )
    before = _rows(AI.read_index(spark, path))
    compacted = AI.compact_index(spark, path, max_files_per_cell=1)
    assert compacted
    root = os.path.join(path, "index")
    manifest = txlog.read_manifest(root)
    # physical files == committed files (vacuum left no garbage)
    assert set(txlog.list_data_files(root)) == set(manifest["files"])
    counts = AI.cell_file_counts(path)
    assert all(counts[c] == 1 for c in compacted)
    assert _rows(AI.read_index(spark, path)) == before


def test_streamed_ingestion_equals_one_shot(spark, corpus, tmp_path):
    """The end-to-end composition: vectors arriving as TWO real
    micro-batches of a Structured Streaming query append to the
    persisted index; the result is row-set-identical to one-shot
    encoding the full corpus under the build's frozen parameters, and
    the drift counters accumulate across the streamed history."""
    import os

    from project_clinical_data_etl_pipeline_spark.streaming.incremental import (
        start_index_append_stream,
    )

    path = str(tmp_path / "idx_stream")
    meta = AI.build_ivfpq_index(
        spark, corpus.filter(F.col("vec_id") < _SPLIT), path, dim=_DIM
    )
    src = str(tmp_path / "vec_drops")
    os.makedirs(src)

    def drop(df, label):
        stage = str(tmp_path / f"stage_{label}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage) if f.startswith("part-")][0]
        os.rename(
            os.path.join(stage, part), os.path.join(src, f"{label}.parquet")
        )

    delta = corpus.filter(F.col("vec_id") >= _SPLIT).select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding")
    )
    q = start_index_append_stream(spark, src, path)
    try:
        drop(delta.filter(F.col("vec_id") < _SPLIT + 50), "b1")
        q.processAllAvailable()
        drop(delta.filter(F.col("vec_id") >= _SPLIT + 50), "b2")
        q.processAllAvailable()
    finally:
        q.stop()
    one_shot = ivfpq_index(
        corpus, meta["centroids"], meta["codebooks"], _DIM
    ).withColumn("cell", F.col("cell").cast("bigint"))
    assert _rows(AI.read_index(spark, path)) == _rows(one_shot)
    final = AI.load_index_meta(path)
    assert final["appended_n"] == 100
    assert final["n_appends"] >= 2  # two real micro-batches landed
    from project_clinical_data_etl_pipeline_spark.plans import txlog

    manifest = txlog.read_manifest(os.path.join(path, "index"))
    assert len(manifest["batch_ids"]) == final["n_appends"]


def test_probe_scan_partition_prunes(spark, built):
    """The serving-cost claim is a PLAN property: a probe's
    `cell IN (...)` filter must reach the scan as a PartitionFilters
    entry (only the probed cell directories are opened), never as a
    post-scan Filter over a full read."""
    path, _, _ = built
    cells = [0, 3]
    plan = (
        AI.read_index(spark, path)
        .filter(F.col("cell").isin(cells))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, f"no PartitionFilters in plan:\n{plan}"
    assert "cell" in m.group(1), m.group(1)


def test_rebuild_resets_drift_and_answers_criterion(spark, corpus, tmp_path):
    """The lifecycle loop closes: a drift-tripped index rebuilt on the
    current corpus (same geometry, sidecar-sourced) goes quiet again,
    drift counters reset, and the streaming replay guard SURVIVES the
    rebuild (those batches' vectors are in the rebuilt corpus — a
    replay must still be skipped)."""
    import numpy as np

    path = str(tmp_path / "idx_lifecycle")
    meta = AI.build_ivfpq_index(
        spark, corpus.filter(F.col("vec_id") < _SPLIT), path, dim=_DIM
    )
    cents = np.array(meta["centroids"], dtype=np.float64)
    q, _ = np.linalg.qr(cents.T)
    e0 = np.zeros(_DIM)
    e0[0] = 1.0
    r = e0 - q @ (q.T @ e0)
    ortho = spark.createDataFrame(
        [(30_000 + i, (r / np.linalg.norm(r)).tolist()) for i in range(50)],
        "vec_id bigint, embedding array<double>",
    )
    AI.append_ivfpq_index(spark, path, ortho, batch_id=3)
    assert AI.retrain_criterion(spark, path)["retrain"] is True
    grown = corpus.filter(F.col("vec_id") < _SPLIT).select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias(
            "embedding"
        ),
    ).unionByName(ortho)
    new_meta = AI.rebuild_index(spark, grown, path)
    assert new_meta["appended_n"] == 0
    from project_clinical_data_etl_pipeline_spark.plans import txlog

    assert txlog.read_manifest(
        str(tmp_path / "idx_lifecycle" / "index")
    )["batch_ids"] == [3]
    crit = AI.retrain_criterion(spark, path)
    assert crit["retrain"] is False, crit
    assert crit["n_rows"] == _SPLIT + 50
    replay = AI.append_ivfpq_index(spark, path, ortho, batch_id=3)
    assert replay.get("replayed") is True


def test_append_batch_id_replay_guard(spark, corpus, tmp_path):
    """A batch re-delivered under the SAME id (restart-from-checkpoint
    semantics) is skipped — idempotent streamed ingestion."""
    path = str(tmp_path / "idx_replay")
    AI.build_ivfpq_index(
        spark, corpus.filter(F.col("vec_id") < _SPLIT), path, dim=_DIM
    )
    delta = corpus.filter(F.col("vec_id") >= _SPLIT)
    first = AI.append_ivfpq_index(spark, path, delta, batch_id=7)
    assert first["appended"] == 100
    before = _rows(AI.read_index(spark, path))
    again = AI.append_ivfpq_index(spark, path, delta, batch_id=7)
    assert again["appended"] == 0 and again.get("replayed") is True
    assert _rows(AI.read_index(spark, path)) == before


def test_rebuild_crash_before_commit_leaves_old_index_intact(
    spark, corpus, tmp_path, monkeypatch
):
    """Round-12 atomicity fix: a rebuild that dies ANYWHERE before its
    single reset commit must leave the prior generation fully
    consistent — committed files still on disk, parameters still the
    OLD ones (no torn meta/data pairing), probes unchanged, and the
    replay guard intact. The round-11 overwrite write physically
    deleted committed files and the manifest before the new state
    existed."""
    from project_clinical_data_etl_pipeline_spark.plans import txlog

    path = str(tmp_path / "idx_crash_rebuild")
    AI.build_ivfpq_index(
        spark, corpus.filter(F.col("vec_id") < _SPLIT), path, dim=_DIM
    )
    AI.append_ivfpq_index(
        spark, path, corpus.filter(F.col("vec_id") >= _SPLIT), batch_id=5
    )
    root = str(tmp_path / "idx_crash_rebuild" / "index")
    before_rows = _rows(AI.read_index(spark, path))
    before_meta = AI.load_index_meta(path)
    before_manifest = txlog.read_manifest(root)

    real_commit = txlog.commit

    def exploding_commit(*a, **k):
        raise RuntimeError("injected crash at the commit point")

    monkeypatch.setattr(txlog, "commit", exploding_commit)
    with pytest.raises(RuntimeError, match="injected crash"):
        AI.rebuild_index(spark, corpus, path)
    monkeypatch.setattr(txlog, "commit", real_commit)

    # nothing a reader sees changed: same manifest version, same rows,
    # same trained parameters, replay guard still answers
    assert txlog.read_manifest(root) == before_manifest
    assert _rows(AI.read_index(spark, path)) == before_rows
    assert AI.load_index_meta(path)["centroids"] == before_meta["centroids"]
    assert txlog.has_batch(root, 5)
    # the crashed generation is invisible orphans; vacuum reclaims them
    # (grace 0: the test KNOWS no writer is mid-landing)
    removed = txlog.vacuum(root, orphan_grace_s=0)
    assert removed  # the landed-but-never-published files
    assert _rows(AI.read_index(spark, path)) == before_rows
    # and the index still APPENDS and REBUILDS normally afterwards
    new_meta = AI.rebuild_index(spark, corpus, path)
    assert new_meta["appended_n"] == 0
    assert txlog.has_batch(root, 5)  # carried inside the single commit
    assert AI.retrain_criterion(spark, path)["n_rows"] == corpus.count()


def test_multi_lineage_append_guards(spark, corpus, tmp_path):
    """Round 12: replay guards key on (lineage, batch id). Two streams
    whose batch ids both start at 0 append independently; each
    lineage's replay skips; a rebuild carries EVERY lineage's guard in
    its single reset commit."""
    from project_clinical_data_etl_pipeline_spark.plans import txlog

    path = str(tmp_path / "idx_lineages")
    AI.build_ivfpq_index(
        spark, corpus.filter(F.col("vec_id") < _SPLIT), path, dim=_DIM
    )
    d1 = corpus.filter(
        (F.col("vec_id") >= _SPLIT) & (F.col("vec_id") < _SPLIT + 50)
    )
    d2 = corpus.filter(F.col("vec_id") >= _SPLIT + 50)
    a = AI.append_ivfpq_index(spark, path, d1, batch_id=0, lineage="sA")
    assert a["appended"] == 50
    # same batch id, DIFFERENT lineage: must apply, not false-skip
    b = AI.append_ivfpq_index(spark, path, d2, batch_id=0, lineage="sB")
    assert b["appended"] == 50
    # replays skip per lineage
    assert AI.append_ivfpq_index(
        spark, path, d1, batch_id=0, lineage="sA"
    ).get("replayed") is True
    assert AI.append_ivfpq_index(
        spark, path, d2, batch_id=0, lineage="sB"
    ).get("replayed") is True
    # rebuild carries both guards inside the one reset commit
    AI.rebuild_index(spark, corpus, path)
    root = str(tmp_path / "idx_lineages" / "index")
    assert txlog.has_batch(root, 0, lineage="sA")
    assert txlog.has_batch(root, 0, lineage="sB")
    assert AI.append_ivfpq_index(
        spark, path, d1, batch_id=0, lineage="sA"
    ).get("replayed") is True


def test_legacy_unpointed_index_falls_back_to_meta_json(
    spark, corpus, tmp_path
):
    """A pre-round-12 index (legacy `_commits.json` without a
    ``meta_file`` pointer + unversioned `_meta.json` sidecar) keeps
    working: reads resolve through the legacy sidecar, the migrated
    replay guard answers, the next append flips to a versioned
    pointer, and vacuum then retires the legacy file (round-12
    advice, low #3 — txlog migrates legacy manifests, so the meta
    reader must too)."""
    import json
    import os
    import shutil

    from project_clinical_data_etl_pipeline_spark.plans import txlog

    src = str(tmp_path / "modern")
    AI.build_ivfpq_index(
        spark,
        corpus.filter(F.col("vec_id") < 100),
        src,
        dim=_DIM,
        n_centroids=4,
    )
    meta = AI.load_index_meta(src)
    sroot = os.path.join(src, "index")
    man = txlog.read_manifest(sroot)
    # reshape into the pre-round-12 layout
    dst = str(tmp_path / "legacy")
    droot = os.path.join(dst, "index")
    for rel in man["files"]:
        p = os.path.join(droot, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        shutil.copyfile(os.path.join(sroot, rel), p)
    with open(os.path.join(droot, "_commits.json"), "w") as fh:
        json.dump({"version": 0, "files": man["files"], "batch_ids": [3]}, fh)
    with open(os.path.join(droot, "_meta.json"), "w") as fh:
        json.dump(meta, fh)
    # reads resolve through the legacy sidecar; data identical
    assert AI.load_index_meta(dst)["centroids"] == meta["centroids"]
    assert _rows(AI.read_index(spark, dst)) == _rows(AI.read_index(spark, src))
    # the migrated replay guard still answers
    assert AI.append_ivfpq_index(
        spark, dst, corpus.filter(F.col("vec_id") < 100), batch_id=3
    ).get("replayed") is True
    # a real append flips the index to a versioned pointer...
    stats = AI.append_ivfpq_index(
        spark,
        dst,
        corpus.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 150)),
        batch_id=4,
    )
    assert stats["appended"] == 50
    assert txlog.read_manifest(droot)["meta_file"] is not None
    assert AI.load_index_meta(dst)["appended_n"] == 50
    # ...and vacuum retires both legacy files
    removed = txlog.vacuum(droot)
    assert "_meta.json" in removed and "_commits.json" in removed


def test_append_redoes_on_meta_conflict(spark, corpus, tmp_path, monkeypatch):
    """An append whose parameters went stale mid-flight (a concurrent
    writer flipped the sidecar pointer between its read and its
    commit) must NOT blindly revert the winner's pointer: the commit
    raises txlog.MetaConflict and the append redoes itself under the
    fresh sidecar — no duplicate rows, counters advanced exactly
    once (round-12 advice, medium #1)."""
    path = str(tmp_path / "idx_conflict")
    AI.build_ivfpq_index(
        spark,
        corpus.filter(F.col("vec_id") < _SPLIT),
        path,
        dim=_DIM,
        n_centroids=4,
    )
    real = AI._load_meta_pointed
    calls = {"n": 0}

    def stale_once(p):
        meta, ptr = real(p)
        calls["n"] += 1
        if calls["n"] == 1:
            # simulate having read the pointer BEFORE a racing writer
            # moved it: the expectation can no longer match
            return meta, "_meta.vSTALE.json"
        return meta, ptr

    monkeypatch.setattr(AI, "_load_meta_pointed", stale_once)
    delta = corpus.filter(F.col("vec_id") >= _SPLIT)
    stats = AI.append_ivfpq_index(spark, path, delta, batch_id=8)
    assert calls["n"] == 2, "append must redo exactly once"
    assert stats["appended"] == 100
    monkeypatch.setattr(AI, "_load_meta_pointed", real)
    # no duplicates from the abandoned first landing; counters once
    rows = _rows(AI.read_index(spark, path))
    assert len(rows) == corpus.count()
    assert len({r[0] for r in rows}) == corpus.count()
    assert AI.load_index_meta(path)["appended_n"] == 100
    assert AI.load_index_meta(path)["n_appends"] == 1


def test_split_redoes_on_meta_conflict(spark, corpus, tmp_path, monkeypatch):
    """split_cell tolerates a racing append the same way: stale
    expectation → MetaConflict → the whole verb redoes on the fresh
    state, preserving the row set and the split postconditions."""
    path = str(tmp_path / "idx_split_conflict")
    AI.build_ivfpq_index(
        spark, corpus, path, dim=_DIM, n_centroids=4
    )
    before = _rows(AI.read_index(spark, path))
    hot = AI.retrain_criterion(spark, path)["hot_cell"]
    real = AI._load_meta_pointed
    calls = {"n": 0}

    def stale_once(p):
        meta, ptr = real(p)
        calls["n"] += 1
        if calls["n"] == 1:
            return meta, "_meta.vSTALE.json"
        return meta, ptr

    monkeypatch.setattr(AI, "_load_meta_pointed", stale_once)
    out = AI.split_cell(spark, path, int(hot), n_subcells=2)
    assert calls["n"] == 2, "split must redo exactly once"
    monkeypatch.setattr(AI, "_load_meta_pointed", real)
    after = _rows(AI.read_index(spark, path))
    assert {r[0] for r in after} == {r[0] for r in before}
    assert len(after) == len(before)
    assert AI.load_index_meta(path)["n_centroids"] == out["n_centroids"]


def test_stream_maintain_splits_injected_hot_cell(spark, corpus, tmp_path):
    """Round 13: the maintenance triggers are WIRED into the streaming
    loop — `start_index_append_stream(maintain=True)` runs the cheap
    rungs itself when their triggers fire. Batch 1 (natural delta)
    appends + compacts but must NOT split; batch 2 injects a hot blob
    and the loop itself splits the criterion's hot cell. Lifecycle
    invariants hold throughout: every id present exactly once, file
    counts back at the compaction bound, skew reduced, replay guards
    recorded per batch."""
    import os

    from project_clinical_data_etl_pipeline_spark.plans import txlog
    from project_clinical_data_etl_pipeline_spark.streaming.incremental import (
        start_index_append_stream,
    )

    nat = corpus.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias(
            "embedding"
        ),
    )
    path = str(tmp_path / "idx_maintained")
    AI.build_ivfpq_index(
        spark, nat.filter(F.col("vec_id") < 300), path, dim=_DIM,
        n_centroids=16,
    )
    k_before = AI.load_index_meta(path)["n_centroids"]
    src = str(tmp_path / "vec_drops_m")
    os.makedirs(src)

    def drop(df, label):
        stage = str(tmp_path / f"stage_m_{label}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage) if f.startswith("part-")][0]
        os.rename(
            os.path.join(stage, part), os.path.join(src, f"{label}.parquet")
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
    n_expected = corpus.count() + 150
    q = start_index_append_stream(
        spark, src, path, maintain=True, max_files_per_cell=1,
        hot_cell_factor=3.0,
    )
    try:
        drop(nat.filter(F.col("vec_id") >= 300), "b1")
        q.processAllAvailable()
        # natural data: skew trigger must not fire — no split
        assert AI.load_index_meta(path)["n_centroids"] == k_before
        ratio_before = AI.retrain_criterion(spark, path)["hot_cell_ratio"]
        drop(blob, "b2")
        q.processAllAvailable()
        # the loop itself split the injected hot cell (ONE split per
        # batch — bounded maintenance; skew-reduction QUALITY is the
        # operator's own pinned property,
        # test_split_cell_preserves_rows_and_reduces_skew)
        assert AI.load_index_meta(path)["n_centroids"] == k_before + 1, (
            "loop did not split"
        )
        assert ratio_before < 3.0  # batch 1 genuinely left no trigger
        # while the trigger still fires, the NEXT batch splits again —
        # the loop keeps walking the skew down one bounded step per batch
        third = "hot_cell_skew" in AI.retrain_criterion(
            spark, path, hot_cell_factor=3.0
        )["reasons"]
        if third:
            drop(
                nat.filter(F.col("vec_id") >= 450).select(
                    (F.col("vec_id") + 20_000).alias("vec_id"), "embedding"
                ),
                "b3",
            )
            q.processAllAvailable()
            assert AI.load_index_meta(path)["n_centroids"] == k_before + 2
            n_expected += corpus.filter(F.col("vec_id") >= 450).count()
    finally:
        q.stop()
    # every id exactly once (appends + compacts + splits preserved rows)
    rows = _rows(AI.read_index(spark, path))
    assert len(rows) == n_expected
    assert len({r[0] for r in rows}) == n_expected
    # compaction bound restored by the loop's own compact pass
    assert all(c <= 1 for c in AI.cell_file_counts(path).values())
    # every batch's replay guard is recorded
    root = os.path.join(path, "index")
    assert txlog.has_batch(root, 0) and txlog.has_batch(root, 1)
    if third:
        assert txlog.has_batch(root, 2)
