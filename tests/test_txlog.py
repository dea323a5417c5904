"""plans/txlog.py unit contract — the minimal commit manifest under
the index lifecycle: atomic publish, add/remove semantics, batch-id
idempotence keys, reset-with-carryover, vacuum."""

from __future__ import annotations

import json
import os

from project_clinical_data_etl_pipeline_spark.plans import txlog


def _touch(root, rel):
    p = os.path.join(root, rel)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    with open(p, "w") as fh:
        fh.write("x")


def test_empty_manifest_state(tmp_path):
    state = txlog.read_manifest(str(tmp_path))
    assert state == {
        "version": -1,
        "files": [],
        "batch_ids": [],
        "batch_watermark": None,
        "meta_file": None,
        "lineages": {},
    }
    assert txlog.committed_files(str(tmp_path)) == []


def test_commit_versions_add_remove(tmp_path):
    root = str(tmp_path)
    s1 = txlog.commit(root, add_files=["cell=0/a", "cell=1/b"])
    assert s1["version"] == 0 and s1["files"] == ["cell=0/a", "cell=1/b"]
    s2 = txlog.commit(root, add_files=["cell=0/c"], remove_files=["cell=0/a"])
    assert s2["version"] == 1 and s2["files"] == ["cell=0/c", "cell=1/b"]
    # idempotent re-add doesn't duplicate
    s3 = txlog.commit(root, add_files=["cell=0/c"])
    assert s3["files"] == s2["files"]


def test_batch_ids_publish_with_files(tmp_path):
    root = str(tmp_path)
    txlog.commit(root, add_files=["f1"], batch_id=7)
    assert txlog.has_batch(root, 7) and not txlog.has_batch(root, 8)
    # reset clears ids unless carried over explicitly
    txlog.commit(root, add_files=["f2"], reset=True)
    assert not txlog.has_batch(root, 7)
    txlog.commit(root, batch_ids=[7, 9])
    assert txlog.has_batch(root, 7) and txlog.has_batch(root, 9)


def test_batch_id_horizon_is_a_watermark(tmp_path):
    """Truncation past the 1000-id horizon must not forget that the
    dropped (older, monotonic) ids were applied: has_batch answers
    True for them from the watermark instead of false-appending
    (round-12 advice)."""
    root = str(tmp_path)
    txlog.commit(root, batch_ids=list(range(1500)))
    state = txlog.read_manifest(root)
    assert len(state["batch_ids"]) == 1000
    assert state["batch_watermark"] == 499
    assert txlog.has_batch(root, 0)          # dropped, below watermark
    assert txlog.has_batch(root, 499)        # the watermark itself
    assert txlog.has_batch(root, 500)        # retained window
    assert txlog.has_batch(root, 1499)
    assert not txlog.has_batch(root, 1500)   # genuinely new
    # the watermark survives later commits and only ratchets up
    txlog.commit(root, batch_id=1500)
    assert txlog.has_batch(root, 0) and txlog.has_batch(root, 500)
    # reset without carried ids clears history AND watermark
    txlog.commit(root, reset=True)
    assert not txlog.has_batch(root, 0) and not txlog.has_batch(root, 1500)


def test_meta_file_pointer_flips_atomically_and_persists(tmp_path):
    root = str(tmp_path)
    _touch(root, "_meta.v0.json")
    txlog.commit(root, add_files=["f1"], meta_file="_meta.v0.json")
    assert txlog.read_manifest(root)["meta_file"] == "_meta.v0.json"
    # retained across commits that don't pass one (appends, compactions)
    txlog.commit(root, add_files=["f2"])
    assert txlog.read_manifest(root)["meta_file"] == "_meta.v0.json"
    # retained across reset too (rebuild reusing parameters)
    txlog.commit(root, reset=True, add_files=["f3"])
    assert txlog.read_manifest(root)["meta_file"] == "_meta.v0.json"
    # flipped when a new one is committed; vacuum reclaims the stale one
    _touch(root, "_meta.v3.json")
    txlog.commit(root, meta_file="_meta.v3.json")
    removed = txlog.vacuum(root)
    assert "_meta.v0.json" in removed
    assert os.path.exists(os.path.join(root, "_meta.v3.json"))


def test_commit_is_atomic_publish(tmp_path):
    """No torn manifests: every published version file is complete
    JSON (written whole to a temp then linked into place), no temp
    leftovers, and versions are sequential files readers can resolve
    by max."""
    root = str(tmp_path)
    txlog.commit(root, add_files=["f1"])
    txlog.commit(root, add_files=["f2"])
    for name in ("_commits.v0.json", "_commits.v1.json"):
        with open(os.path.join(root, name)) as fh:
            json.load(fh)  # parses — never half-written
    assert not [f for f in os.listdir(root) if f.endswith(".tmp")]
    assert txlog.read_manifest(root)["version"] == 1


def test_concurrent_commits_lose_no_updates(tmp_path):
    """Round 12: the single-writer caveat is closed — commits CAS on
    the next version file (os.link), losers retry on the winner's
    state. 8 threads x 25 commits of disjoint files: every file must
    be visible, every version claimed exactly once, every batch id
    recorded under its lineage."""
    from concurrent.futures import ThreadPoolExecutor

    root = str(tmp_path)

    def worker(w):
        for i in range(25):
            txlog.commit(
                root,
                add_files=[f"cell={w}/part-{i}.parquet"],
                batch_id=i,
                lineage=f"w{w}",
            )

    with ThreadPoolExecutor(max_workers=8) as ex:
        list(ex.map(worker, range(8)))
    state = txlog.read_manifest(root)
    assert len(state["files"]) == 200, "lost update"
    assert state["version"] == 199  # one version per successful commit
    for w in range(8):
        for i in range(25):
            assert txlog.has_batch(root, i, lineage=f"w{w}")
    # vacuum prunes manifest history to the retained window
    removed = txlog.vacuum(root)
    assert any("_commits.v" in r for r in removed)
    assert txlog.read_manifest(root)["version"] == 199


def test_vacuum_removes_only_unreferenced(tmp_path):
    root = str(tmp_path)
    _touch(root, "cell=0/part-keep.parquet")
    _touch(root, "cell=0/part-orphan.parquet")
    txlog.commit(root, add_files=["cell=0/part-keep.parquet"])
    removed = txlog.vacuum(root, orphan_grace_s=0)
    assert removed == ["cell=0/part-orphan.parquet"]
    assert os.path.exists(os.path.join(root, "cell=0/part-keep.parquet"))


def test_vacuum_grace_protects_inflight_landings(tmp_path):
    """The round-12 advice hazard: a vacuum racing another writer's
    land→commit window must not delete its landed-but-uncommitted
    files. Never-referenced files survive inside the grace window
    (they are indistinguishable from a concurrent landing), while
    SUPERSEDED files — referenced by a retained prior version — are
    reclaimed immediately regardless of age."""
    root = str(tmp_path)
    _touch(root, "cell=0/part-old.parquet")
    txlog.commit(root, add_files=["cell=0/part-old.parquet"])
    # superseded seconds later: still deleted immediately
    _touch(root, "cell=0/part-new.parquet")
    txlog.commit(
        root,
        add_files=["cell=0/part-new.parquet"],
        remove_files=["cell=0/part-old.parquet"],
    )
    # a concurrent writer's fresh landing (never referenced)
    _touch(root, "cell=1/part-pending.parquet")
    removed = txlog.vacuum(root)  # default grace
    assert "cell=0/part-old.parquet" in removed, "superseded waits for no one"
    assert "cell=1/part-pending.parquet" not in removed
    assert os.path.exists(os.path.join(root, "cell=1/part-pending.parquet"))
    # same for an in-flight commit temp file
    _touch(root, ".commit-abc.tmp")
    assert ".commit-abc.tmp" not in txlog.vacuum(root)
    # past the grace the orphan and the temp are reclaimed
    removed = txlog.vacuum(root, orphan_grace_s=0)
    assert "cell=1/part-pending.parquet" in removed
    assert ".commit-abc.tmp" in removed


def test_vacuum_retires_legacy_meta_after_versioned_pointer(tmp_path):
    """A pre-round-12 index's unversioned `_meta.json` is readable
    until a versioned pointer is committed, then vacuum retires it
    (round-12 advice, low #3)."""
    root = str(tmp_path)
    _touch(root, "_meta.json")
    txlog.commit(root, add_files=["f1"])  # no pointer yet
    assert "_meta.json" not in txlog.vacuum(root)
    assert os.path.exists(os.path.join(root, "_meta.json"))
    _touch(root, "_meta.v1.json")
    txlog.commit(root, meta_file="_meta.v1.json")
    assert "_meta.json" in txlog.vacuum(root)
    assert not os.path.exists(os.path.join(root, "_meta.json"))


def test_commit_meta_conflict_detection(tmp_path):
    """The one logical conflict the log detects (round 13): a commit
    whose sidecar pointer was derived from a base another commit has
    since moved raises MetaConflict instead of silently reverting the
    winner's parameters. Pointer-blind commits and matching
    expectations are unaffected."""
    import pytest

    root = str(tmp_path)
    _touch(root, "_meta.v0.json")
    _touch(root, "_meta.v1.json")
    _touch(root, "_meta.v2.json")
    txlog.commit(root, add_files=["a"], meta_file="_meta.v0.json")
    # expectation matches → commit lands and flips the pointer
    txlog.commit(
        root, meta_file="_meta.v1.json", expect_meta_file="_meta.v0.json"
    )
    assert txlog.read_manifest(root)["meta_file"] == "_meta.v1.json"
    # stale expectation (still v0) → MetaConflict carrying the winner
    with pytest.raises(txlog.MetaConflict) as exc:
        txlog.commit(
            root, meta_file="_meta.v2.json", expect_meta_file="_meta.v0.json"
        )
    assert exc.value.current == "_meta.v1.json"
    assert txlog.read_manifest(root)["meta_file"] == "_meta.v1.json"
    # expecting None means "I read a legacy/unpointed manifest"
    with pytest.raises(txlog.MetaConflict):
        txlog.commit(root, meta_file="_meta.v2.json", expect_meta_file=None)
    # pointer-blind commits never conflict
    txlog.commit(root, add_files=["b"])


def test_commit_survives_concurrent_vacuum_unlink(tmp_path, monkeypatch):
    """A grace-0 vacuum racing a commit can unlink the commit's temp
    file between write and link — the retry loop must treat the
    resulting FileNotFoundError as a lost round, not an error, and the
    cleanup unlink must not mask it (round-12 advice, medium #2)."""
    root = str(tmp_path)
    real_link = os.link
    calls = {"n": 0}

    def flaky_link(src, dst):
        calls["n"] += 1
        if calls["n"] == 1:
            os.unlink(src)  # the racing vacuum reclaims the temp
            raise FileNotFoundError(src)
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", flaky_link)
    state = txlog.commit(root, add_files=["f1"])
    assert state["files"] == ["f1"] and calls["n"] == 2


def test_land_stages_and_attributes_exactly(tmp_path):
    """txlog.land: the writer gets back exactly the files IT wrote
    (moved from a hidden staging dir, partition paths preserved),
    invisible to list_data_files until committed; a failing write
    leaves no staging residue."""
    import pytest

    root = str(tmp_path)
    _touch(root, "cell=0/part-existing.parquet")

    def write(staging):
        _touch(staging, "cell=0/part-mine.parquet")
        _touch(staging, "cell=3/part-mine2.parquet")

    added = txlog.land(root, write)
    assert added == ["cell=0/part-mine.parquet", "cell=3/part-mine2.parquet"]
    for rel in added:
        assert os.path.exists(os.path.join(root, rel))
    assert not [d for d in os.listdir(root) if d.startswith(".staging-")]
    # a hidden staging dir mid-write is invisible to the data listing
    staged = txlog.land(
        root, lambda s: _touch(s, "cell=1/part-later.parquet")
    )
    assert set(txlog.list_data_files(root)) == {
        "cell=0/part-existing.parquet",
        "cell=0/part-mine.parquet",
        "cell=1/part-later.parquet",
        "cell=3/part-mine2.parquet",
    }
    assert staged == ["cell=1/part-later.parquet"]

    with pytest.raises(RuntimeError, match="boom"):
        txlog.land(root, lambda s: (_ for _ in ()).throw(RuntimeError("boom")))
    assert not [d for d in os.listdir(root) if d.startswith(".staging-")]


def test_list_data_files_skips_non_part(tmp_path):
    root = str(tmp_path)
    _touch(root, "cell=0/part-a.parquet")
    _touch(root, "cell=0/part-a.parquet.crc")
    assert txlog.list_data_files(root) == ["cell=0/part-a.parquet"]


def test_multi_lineage_replay_guards_do_not_collide(tmp_path):
    """Round 12: replay guards are keyed by (lineage, batch id) — the
    Delta (txnAppId, txnVersion) recipe. Two streams whose batch ids
    both restart at 0 must not false-skip each other; watermarks are
    per lineage; the default lineage mirrors into the legacy fields."""
    root = str(tmp_path)
    txlog.commit(root, add_files=["a"], batch_id=0, lineage="streamA")
    assert txlog.has_batch(root, 0, lineage="streamA")
    assert not txlog.has_batch(root, 0, lineage="streamB")
    assert not txlog.has_batch(root, 0)  # default lineage untouched
    txlog.commit(root, add_files=["b"], batch_id=0, lineage="streamB")
    assert txlog.has_batch(root, 0, lineage="streamB")
    # per-lineage horizon/watermark
    txlog.commit(root, batch_ids=list(range(1500)), lineage="streamA")
    assert txlog.has_batch(root, 3, lineage="streamA")   # below watermark
    assert not txlog.has_batch(root, 3, lineage="streamB")
    # legacy mirror: default-lineage commits show in batch_ids
    txlog.commit(root, batch_id=7)
    state = txlog.read_manifest(root)
    assert state["batch_ids"] == [7]
    assert set(state["lineages"]) == {"streamA", "streamB", "default"}


def test_reset_with_carry_lineages_preserves_every_guard(tmp_path):
    root = str(tmp_path)
    txlog.commit(root, add_files=["a"], batch_id=4, lineage="sA")
    txlog.commit(root, add_files=["b"], batch_id=9)  # default lineage
    prior = txlog.read_manifest(root)["lineages"]
    txlog.commit(root, add_files=["c"], reset=True, carry_lineages=prior)
    assert txlog.read_manifest(root)["files"] == ["c"]
    assert txlog.has_batch(root, 4, lineage="sA")
    assert txlog.has_batch(root, 9)
    # reset WITHOUT carry clears everything
    txlog.commit(root, reset=True)
    assert not txlog.has_batch(root, 4, lineage="sA")
    assert not txlog.has_batch(root, 9)


def test_legacy_manifest_migrates_to_default_lineage(tmp_path):
    import json
    import os

    root = str(tmp_path)
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "_commits.json"), "w") as fh:
        json.dump(
            {"version": 3, "files": ["f"], "batch_ids": [1, 2],
             "batch_watermark": 0}, fh,
        )
    assert txlog.has_batch(root, 2)
    assert txlog.has_batch(root, 0)  # watermark honored
    assert not txlog.has_batch(root, 2, lineage="other")
    state = txlog.commit(root, batch_id=3)
    assert state["batch_ids"] == [1, 2, 3]


def test_time_travel_reads_retained_versions(tmp_path):
    """The versioned log doubles as history: read_manifest/
    committed_files answer AS OF any retained version; pruned or
    never-written versions raise instead of answering from a different
    snapshot."""
    import pytest

    root = str(tmp_path)
    txlog.commit(root, add_files=["a"])                      # v0
    txlog.commit(root, add_files=["b"], batch_id=5)          # v1
    txlog.commit(root, remove_files=["a"], add_files=["c"])  # v2
    assert txlog.read_manifest(root)["files"] == ["b", "c"]
    assert txlog.read_manifest(root, version=0)["files"] == ["a"]
    v1 = txlog.read_manifest(root, version=1)
    assert v1["files"] == ["a", "b"] and v1["batch_ids"] == [5]
    assert [os.path.basename(f) for f in txlog.committed_files(root, version=0)] == ["a"]
    with pytest.raises(FileNotFoundError):
        txlog.read_manifest(root, version=7)
    # vacuum prunes history past the window; pruned versions raise
    for i in range(15):
        txlog.commit(root, add_files=[f"x{i}"])
    txlog.vacuum(root)
    with pytest.raises(FileNotFoundError):
        txlog.read_manifest(root, version=0)
    assert txlog.read_manifest(root)["version"] == 17
