"""Minimal atomic commit manifest for multi-file parquet targets — the
local stand-in for a Delta/Iceberg transaction log. One commit
publishes a write's data files together with its batch id and, where
there is one, the sidecar that describes them, so a crash between the
writes leaves nothing half-visible and a replay cannot double-append.

Model: a target directory owns a log of versioned manifests
(``_commits.v{N}.json``, see CONCURRENCY below); the highest version
lists the data files that EXIST (relative paths) and the stream batch
ids already applied. Readers load only manifest-listed files; writers
land new files first (crash ⇒ orphans that no reader sees), then
publish them with ONE atomic claim of the next version (``os.link``
create-if-absent) that carries the file list AND the batch id in the
same commit. Idempotence and visibility therefore switch together:
either a batch's files are visible and its id is recorded, or neither.

The manifest can also carry a ``meta_file`` pointer — the name of a
versioned sidecar (e.g. an index's trained parameters) that must flip
in the SAME commit as the data it describes. Writers land the new
sidecar under a fresh name (invisible), pass it to :func:`commit`,
and readers resolve the current one through the manifest — so data
and parameters can never be observed mismatched (the Iceberg
metadata-pointer move, one level down).

CONCURRENCY: commits are OPTIMISTIC, Delta-style. Each
commit publishes a new VERSIONED manifest file
(``_commits.v{N}.json``) claimed by ``os.link`` from a fully-written
temp file — link(2) fails atomically if the target exists, so version
N+1 can be claimed by exactly ONE writer; a loser re-reads the
winner's state and retries its commit on top (bounded retries, then
``CommitConflict``). Readers resolve the highest version present —
always a complete file, never torn. The version files double as the
log's history; ``vacuum`` retains the trailing window. Concurrent
writers lose no update (test-pinned).

Conflict SEMANTICS: file-level retries are blind — a loser re-applies
its add/remove sets on the winner's state, which is correct for the
disjoint-file writers this repo composes. The ONE logical conflict
the log detects is the sidecar pointer: a writer
that derived its new ``meta_file`` from the pointer it READ passes
that origin as ``expect_meta_file``; if any interleaved commit moved
the pointer, the commit raises :class:`MetaConflict` instead of
blindly reverting the winner's (possibly structurally different —
e.g. a split's longer centroid table) parameters. The caller
re-derives from the winner's sidecar and retries — the optimistic-
concurrency recipe one level up. Writers with richer intents
(non-disjoint file sets, schema changes) would hook the same seam:
compare the intent's read-base against the winner's state inside the
retry loop and raise a typed conflict — that seam is this module's
extension point, deliberately not built until a non-disjoint writer
exists.

PLATFORM boundary, stated: the CAS primitive is ``os.link`` —
POSIX hard-link create-if-absent atomicity. Local/NFS/POSIX
filesystems (this repo's target) have it; object stores do NOT — an
S3/GCS port must swap in the store's conditional put
(If-None-Match / x-goog-if-generation-match: 0), which has the same
exactly-one-winner semantics. Nothing else in the protocol changes.

VACUUM under concurrency: files referenced by a RETAINED manifest
version but not the current one are superseded — no writer will
commit them again, so they delete immediately. Files referenced by NO
retained version are either crash orphans or another writer's
landed-but-not-yet-committed output; the two are indistinguishable by
name, so vacuum only removes them past ``orphan_grace_s`` (default
10 min — the Iceberg remove_orphan_files recipe, which defaults to
3 days for the same reason). Keep the grace above the longest
land→commit window, or run grace-0 vacuums only while no writer is
mid-landing.

Deliberate simplifications vs a real table format, stated:
- the manifest is rewritten whole per commit — MEASURED: a one-file
  commit against a 10^4-file manifest costs ~6 ms, against
  10^5 files ~78 ms, so the whole-rewrite design holds to ~10^5 files
  per target and segment-append + checkpoint (the real-log recipe)
  is only needed past that;
- retried commits re-apply their file deltas blindly: concurrent
  writers' file intents are not compared, and the sidecar pointer is
  the one conflict checked (``expect_meta_file``, see above);
- ``vacuum`` deletes unreferenced data files — run it OUTSIDE any
  reader's lifetime, as with Delta's VACUUM retention caveat;
- each lineage's batch-id set is truncated to the 1000 LARGEST ids
  per commit, with the truncation recorded as a per-lineage WATERMARK:
  ids are monotonic per stream lineage, so any id at or below the
  highest id ever dropped is necessarily already applied —
  :func:`has_batch` answers True for it from the watermark instead of
  false-appending. The horizon is therefore a memory bound, not a
  correctness bound.

Replay guards are keyed by (LINEAGE, batch id) — Delta's
(txnAppId, txnVersion) recipe — so a brand-new stream whose batch ids
restart at 0 is not false-skipped against a target with another
stream's append history. The default
lineage ("default") mirrors into the legacy top-level ``batch_ids`` /
``batch_watermark`` fields, and legacy manifests read back as that
lineage, so single-stream callers and old manifests are unaffected.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import time
import uuid

_LEGACY_MANIFEST = "_commits.json"
_MANIFEST_RE = re.compile(r"_commits\.v(\d+)\.json$")
_BATCH_ID_HORIZON = 1000
_DEFAULT_LINEAGE = "default"
_COMMIT_RETRIES = 64
_MANIFEST_HISTORY = 10  # versions vacuum retains
_ORPHAN_GRACE_S = 600.0  # never-referenced files younger than this survive vacuum
_UNSET = object()  # expect_meta_file sentinel: "no expectation" ≠ "expect None"


class CommitConflict(RuntimeError):
    """Raised when a commit loses the version race _COMMIT_RETRIES
    times in a row — pathological contention, not a normal outcome."""


class MetaConflict(RuntimeError):
    """Raised when a commit's ``expect_meta_file`` no longer matches
    the manifest: an interleaved commit moved the sidecar pointer, so
    the caller's landed sidecar was derived from STALE parameters.
    Blindly winning would revert the interleaved writer's (possibly
    structural — a split's grown centroid table) change while its data
    stays committed; the caller must re-derive from the winner's
    sidecar and retry. Carries the current pointer as ``.current``."""

    def __init__(self, expected, current):
        super().__init__(
            f"sidecar pointer moved: expected {expected!r}, "
            f"manifest now points at {current!r} — re-derive and retry"
        )
        self.expected = expected
        self.current = current


def _manifest_versions(root: str) -> list[tuple[int, str]]:
    out = []
    for f in glob.glob(os.path.join(root, "_commits.v*.json")):
        m = _MANIFEST_RE.search(f)
        if m:
            out.append((int(m.group(1)), f))
    return sorted(out)


def _current_manifest_path(root: str) -> str | None:
    versions = _manifest_versions(root)
    if versions:
        return versions[-1][1]
    legacy = os.path.join(root, _LEGACY_MANIFEST)
    return legacy if os.path.exists(legacy) else None


def read_manifest(root: str, version: int | None = None) -> dict:
    """Committed state ``{"version", "files", "batch_ids",
    "batch_watermark", "meta_file", "lineages"}`` — ``lineages`` maps
    lineage name → ``{"ids": [...], "watermark": int|None}``; the
    legacy top-level ``batch_ids``/``batch_watermark`` mirror the
    default lineage. A missing manifest is version -1 with nothing
    visible. Manifests written before the watermark / meta-pointer /
    lineage fields existed read back with neutral defaults (their
    batch history becomes the default lineage).

    ``version`` (the versioned log's TIME TRAVEL): read the
    state AS OF that commit version instead of the latest. Only
    versions inside the vacuum-retained history window
    (``_MANIFEST_HISTORY``) are readable; asking for a pruned or
    never-written version raises FileNotFoundError rather than
    silently answering from a different snapshot. Pair with
    ``committed_files(root, version=...)`` for a consistent
    as-of read (vacuum permitting — vacuumed data files are gone
    regardless of which manifest once referenced them)."""
    if version is None:
        path = _current_manifest_path(root)
    else:
        path = os.path.join(root, f"_commits.v{version}.json")
        if not os.path.exists(path):
            raise FileNotFoundError(
                f"no manifest version {version} at {root!r} "
                "(never written, or pruned by vacuum)"
            )
    if path is None:
        state = {"version": -1, "files": [], "batch_ids": []}
    else:
        with open(path) as fh:
            state = json.load(fh)
    state.setdefault("batch_watermark", None)
    state.setdefault("meta_file", None)
    if "lineages" not in state:
        state["lineages"] = (
            {
                _DEFAULT_LINEAGE: {
                    "ids": state["batch_ids"],
                    "watermark": state["batch_watermark"],
                }
            }
            if state["batch_ids"] or state["batch_watermark"] is not None
            else {}
        )
    return state


def commit(
    root: str,
    add_files: list[str] = (),
    remove_files: list[str] = (),
    batch_id: int | None = None,
    batch_ids: list[int] = (),
    reset: bool = False,
    meta_file: str | None = None,
    lineage: str = _DEFAULT_LINEAGE,
    carry_lineages: dict | None = None,
    expect_meta_file: str | None = _UNSET,
) -> dict:
    """Publish a new version: files in ``add_files`` become visible,
    ``remove_files`` stop being visible, ``batch_id`` /``batch_ids``
    (if given) are recorded under ``lineage``, and ``meta_file`` (if
    given) becomes the current sidecar pointer — all in ONE atomic
    rename. ``reset=True`` starts the file list from empty (a full
    rebuild replacing every prior file) while still bumping the
    version and, unless replay history is passed, CLEARING every
    lineage's batch history AND watermark too — rebuilds that must
    keep replay protection pass ``carry_lineages`` (the prior
    manifest's whole ``lineages`` map — every stream's guard survives)
    or, legacy, ``batch_ids`` for the one ``lineage``. A reset without
    a new ``meta_file`` keeps the prior pointer (rebuilds that reuse
    parameters) — pass one to flip it atomically with the data.

    OPTIMISTIC: the new state is computed from a fresh read and
    published by CLAIMING version N+1 via ``os.link`` from a
    fully-written temp file — exactly one writer can create
    ``_commits.v{N+1}.json``; a loser re-reads and retries on top of
    the winner (up to ``_COMMIT_RETRIES``, then
    :class:`CommitConflict`). Returns the new state. Paths are
    relative to ``root``.

    ``expect_meta_file`` (the sidecar-pointer conflict check): pass the pointer value the caller READ when it derived the
    ``meta_file`` it is now committing. If the manifest's pointer no
    longer equals it — an interleaved commit changed the parameters —
    the commit raises :class:`MetaConflict` instead of reverting the
    winner's sidecar; the caller re-derives and retries. Leave unset
    for pointer-blind commits (pure file add/remove) and for resets
    that replace the whole generation."""
    os.makedirs(root, exist_ok=True)
    for _ in range(_COMMIT_RETRIES):
        state = read_manifest(root)
        if expect_meta_file is not _UNSET and (
            state["meta_file"] != expect_meta_file
        ):
            raise MetaConflict(expect_meta_file, state["meta_file"])
        prev_files = [] if reset else state["files"]
        files = [f for f in prev_files if f not in set(remove_files)]
        files += [f for f in add_files if f not in set(files)]
        if reset:
            lineages = {
                k: {"ids": list(v["ids"]), "watermark": v["watermark"]}
                for k, v in (carry_lineages or {}).items()
            }
        else:
            lineages = {
                k: {"ids": list(v["ids"]), "watermark": v["watermark"]}
                for k, v in state["lineages"].items()
            }
            if carry_lineages:
                raise ValueError(
                    "carry_lineages is only meaningful with reset=True"
                )
        entry = lineages.setdefault(lineage, {"ids": [], "watermark": None})
        ids = set(entry["ids"]) | set(batch_ids)
        if batch_id is not None:
            ids.add(batch_id)
        kept = sorted(ids)[-_BATCH_ID_HORIZON:]
        dropped = sorted(ids)[:-_BATCH_ID_HORIZON]
        watermark = entry["watermark"]
        if dropped:
            # ids are monotonic per lineage: everything at or below the
            # highest dropped id is already applied — remember that once
            # instead of remembering each of them
            watermark = max(
                dropped[-1], watermark if watermark is not None else -1
            )
        entry["ids"], entry["watermark"] = kept, watermark
        if not kept and watermark is None:
            lineages.pop(lineage, None)  # don't persist empty entries
        default = lineages.get(
            _DEFAULT_LINEAGE, {"ids": [], "watermark": None}
        )
        new = {
            "version": state["version"] + 1,
            "files": sorted(files),
            # legacy mirror of the default lineage (old readers + the
            # single-stream call sites keep working unchanged)
            "batch_ids": default["ids"],
            "batch_watermark": default["watermark"],
            "meta_file": meta_file
            if meta_file is not None
            else state["meta_file"],
            "lineages": lineages,
        }
        target = os.path.join(root, f"_commits.v{new['version']}.json")
        tmp = os.path.join(root, f".commit-{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as fh:
            json.dump(new, fh)
        try:
            # THE publish + CAS in one syscall: link fails atomically
            # if another writer already claimed this version
            os.link(tmp, target)
            return new
        except FileExistsError:
            continue  # lost the race — retry on the winner's state
        except FileNotFoundError:
            # a concurrent grace-0 vacuum unlinked our temp between
            # write and link — the loop rewrites it fresh next pass
            continue
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass  # already reclaimed by that same vacuum
    raise CommitConflict(
        f"lost the commit race {_COMMIT_RETRIES} times at {root!r}"
    )


def has_batch(
    root: str, batch_id: int, lineage: str = _DEFAULT_LINEAGE
) -> bool:
    """True iff ``batch_id`` was already applied UNDER ``lineage``:
    either it is in that lineage's retained id window, or it is at or
    below that lineage's truncation watermark (monotonic ids ⇒ dropped
    ids were all applied). Other lineages' ids never collide."""
    entry = read_manifest(root)["lineages"].get(lineage)
    if entry is None:
        return False
    if entry["watermark"] is not None and batch_id <= entry["watermark"]:
        return True
    return batch_id in entry["ids"]


def committed_files(root: str, version: int | None = None) -> list[str]:
    """Absolute paths of the visible data files — current, or AS OF a
    retained ``version`` (time travel over the versioned log)."""
    return [
        os.path.join(root, f)
        for f in read_manifest(root, version=version)["files"]
    ]


def list_data_files(root: str, pattern: str = "**/part-*") -> list[str]:
    """Every physical data file under ``root`` (committed or orphan),
    relative paths."""
    out = []
    for f in glob.glob(os.path.join(root, pattern), recursive=True):
        if os.path.isfile(f) and not f.endswith(".crc"):
            out.append(os.path.relpath(f, root))
    return sorted(out)


def _referenced_ever(root: str) -> tuple[set[str], set[str]]:
    """(data files, sidecar pointers) referenced by ANY retained
    manifest version (plus the legacy manifest) — the superseded-vs-
    never-referenced split vacuum's safety rests on. Cost: ≤
    ``_MANIFEST_HISTORY`` + 1 small JSON reads."""
    files: set[str] = set()
    metas: set[str] = set()
    paths = [f for _, f in _manifest_versions(root)]
    legacy = os.path.join(root, _LEGACY_MANIFEST)
    if os.path.exists(legacy):
        paths.append(legacy)
    for p in paths:
        try:
            with open(p) as fh:
                st = json.load(fh)
        except FileNotFoundError:
            continue  # pruned by a concurrent vacuum — fine
        files.update(st.get("files", []))
        if st.get("meta_file"):
            metas.add(st["meta_file"])
    return files, metas


def vacuum(root: str, orphan_grace_s: float = _ORPHAN_GRACE_S) -> list[str]:
    """Delete dead physical state. Two classes, treated differently
    so that vacuum is safe beside concurrent writers:

    - **Superseded** files — referenced by a RETAINED manifest version
      but not the current one (compactions'/rebuilds'/splits' retired
      inputs, stale sidecars). No writer will ever commit these again,
      so they delete IMMEDIATELY.
    - **Never-referenced** files — crash orphans, or another writer's
      landed-but-not-yet-committed output; indistinguishable by name.
      Deleted only when older than ``orphan_grace_s`` (mtime), so a
      concurrent writer's in-flight landing survives. Crash-cleanup
      callers that KNOW no writer is active pass ``orphan_grace_s=0``.

    Also prunes manifest history past ``_MANIFEST_HISTORY`` versions,
    the legacy single-file manifest once versioned ones exist, and
    commit temp files older than the grace. Returns removed relative
    paths."""
    state = read_manifest(root)
    visible = set(state["files"])
    ever_files, ever_metas = _referenced_ever(root)
    now = time.time()

    def _expired(path: str) -> bool:
        try:
            return now - os.path.getmtime(path) > orphan_grace_s
        except FileNotFoundError:
            return False  # already gone (concurrent vacuum)

    removed = []
    for rel in list_data_files(root):
        if rel in visible:
            continue
        p = os.path.join(root, rel)
        if rel in ever_files or _expired(p):
            os.remove(p)
            removed.append(rel)
    for f in glob.glob(os.path.join(root, "_meta.v*.json")):
        rel = os.path.relpath(f, root)
        if rel == state["meta_file"]:
            continue
        if rel in ever_metas or _expired(f):
            os.remove(f)
            removed.append(rel)
    versions = _manifest_versions(root)
    for _, f in versions[:-_MANIFEST_HISTORY]:
        os.remove(f)
        removed.append(os.path.relpath(f, root))
    legacy = os.path.join(root, _LEGACY_MANIFEST)
    if versions and os.path.exists(legacy):
        # the legacy manifest (and its pre-versioned `_meta.json`
        # sidecar, if a versioned pointer has superseded it) retire
        # once the versioned log exists
        os.remove(legacy)
        removed.append(_LEGACY_MANIFEST)
    legacy_meta = os.path.join(root, "_meta.json")
    if (
        versions
        and state["meta_file"] is not None
        and os.path.exists(legacy_meta)
    ):
        os.remove(legacy_meta)
        removed.append("_meta.json")
    for f in glob.glob(os.path.join(root, ".commit-*.tmp")):
        if _expired(f):
            os.remove(f)
            removed.append(os.path.relpath(f, root))
    return sorted(removed)


def land(root: str, write_fn) -> list[str]:
    """Stage-and-move landing with EXACT file attribution — unlike a
    before/after directory-listing diff, it never attributes a
    concurrent writer's files to this landing, and it costs O(this
    landing's files), not O(total files): ``write_fn(staging_dir)`` writes its output under a
    fresh hidden staging directory; every data file is then moved into
    ``root`` preserving its relative (partition) path and the moved
    relative paths — exactly this landing's files, whatever any other
    writer is doing — are returned, still INVISIBLE until a commit
    lists them. The staging dir is dot-prefixed so ``list_data_files``
    / ``vacuum`` (non-hidden ``**`` glob) never see half-written
    output; moves are same-filesystem renames (atomic, no copy).
    Spark part filenames embed a per-write uuid, so moves cannot
    collide with committed files."""
    staging = os.path.join(root, f".staging-{uuid.uuid4().hex}")
    os.makedirs(staging, exist_ok=True)
    try:
        write_fn(staging)
        moved = []
        for rel in list_data_files(staging):
            dest = os.path.join(root, rel)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            os.replace(os.path.join(staging, rel), dest)
            moved.append(rel)
        return sorted(moved)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
