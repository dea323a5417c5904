"""Persisted IVF+PQ index LIFECYCLE — build / append / compact /
retrain-criterion / probe over a self-contained on-disk index.

The round-10 serving path (``quantization.persist_ivfpq_index``) builds
a bucketed index once per process and keeps the trained centroids +
codebooks in process memory — rebuild-only maintenance. A 100 TB corpus
that grows continuously (the repo's own ``incremental_dedup_corpus``
stream) cannot pay a full retrain + re-encode per append, so this
module gives the index a real lifecycle:

- **Layout**: parquet ``(neighbor_id, cell, pq_code)`` partitioned by
  ``cell`` — the moral twin of the bucketed table (probes prune to the
  ``n_probe`` matching cell directories), but partition directories,
  unlike bucket files, support SELECTIVE rewrite
  (``sources.writers.overwrite_partitions``) and cheap appends. One
  file per cell at build time (each cell's rows hash to exactly one
  write task).
- **Self-contained**: trained centroids, codebooks, and build-time
  drift baselines persist in a versioned ``_meta.v{N}.json`` sidecar
  next to the data (the commit manifest points at the current one),
  so ANY process can append to or probe the index — no per-process
  training cache required.
- **Append is O(delta)**: new vectors are assigned to the EXISTING
  centroids and encoded with the EXISTING codebooks (one map pass over
  the delta — the faiss ``add`` semantics), then landed as one new
  file per touched cell. Nothing existing is read or rewritten.
- **Compaction is O(touched cells)**: appends accumulate small files
  per cell; ``compact_index`` rewrites ONLY the cells whose file count
  crossed the bound, via dynamic partition overwrite — the local analog
  of Delta/Iceberg OPTIMIZE.
- **Retrain is a MEASURED decision**: each append records the mean
  assignment distance of its vectors (1 − cosine to the winning
  centroid). ``retrain_criterion`` compares the appended running mean
  against the build-time baseline (distance inflation ⇒ the frozen
  centroids no longer fit the data) and the cell-occupancy skew
  against uniform (hot-cell fraction ⇒ probe cost concentrates), and
  says WHEN to pay the rebuild.

Invariant (test-pinned, tests/test_ann_index.py): because append
freezes the trained parameters, build(A) + append(B) produces the
IDENTICAL row set — and therefore identical probe results — as a
one-shot encode of A∪B with the same parameters. Drift is handled by
the criterion, not by silently re-deriving parameters.

Scale notes: meta (centroids + codebooks ≍ n_centroids·dim +
m·ks·subdim doubles — KBs) is driver-side by construction, same class
as the kmeans centroid pull. Since round 11 the index carries a COMMIT
MANIFEST (plans/txlog.py — the minimal Delta-ism): readers load only
manifest-listed files, appends publish their files and their stream
batch id in one atomic rename, and compaction is land→commit→vacuum —
so crashed writes leave invisible orphans, replays are idempotent, and
file counts come from the log, not a directory listing. Since round 12
the trained-parameter sidecar is VERSIONED and committed through the
same manifest (``_meta.v{N}.json`` + the manifest's ``meta_file``
pointer), and build/rebuild land their output as NEW files published
by one reset commit (old files vacuumed after): every lifecycle verb —
build, append, compact, rebuild — is now a single atomic publish, and
readers can never observe data encoded under one parameter set decoded
with another. The manifest itself is a versioned CAS log since round
12 (concurrent committers retry, no lost updates; replay guards key on
(lineage, batch id)); the remaining stated boundaries live in
plans/txlog.py.

Concurrency contract on ONE index root (round 13, exact):
- **Concurrent APPENDS compose.** Landings have exact attribution
  (txlog.land staging — no listing diffs), commits CAS, and the
  sidecar pointer is conflict-checked (``expect_meta_file``): an
  append that raced another writer's parameter change gets
  txlog.MetaConflict and redoes itself under the winner's sidecar —
  drift counters merge correctly because each redo re-reads them.
- **Appends racing ONE maintenance verb compose** the same way (the
  split tolerating an interleaved append, and vice versa).
- **Maintenance verbs are serialized per index** (one maintainer at a
  time — the Delta OPTIMIZE deployment shape): two cell-rewriting
  verbs racing could each re-add rows the other just retired. Not
  detected, by scope; stated here.
- **Rebuild quiesces appends**: it re-encodes a corpus snapshot, so an
  append that commits between the snapshot read and the reset commit
  would have its vectors dropped with its batch id retained (no
  replay rescue). Stop the append stream around rebuild_index — the
  criterion that recommends rebuilds is read by the same operator
  that owns the stream.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import txlog
from ..session import local_frame

_DATA_DIR = "index"
_META_RETRIES = 4  # redo attempts when a verb loses the parameter race


def _data_path(path: str) -> str:
    return os.path.join(path, _DATA_DIR)


def load_index_meta(path: str) -> dict:
    """Read the index's COMMITTED sidecar metadata (trained parameters
    + drift counters) — resolved through the manifest's ``meta_file``
    pointer, so the parameters a reader sees always match the files it
    sees. Raises FileNotFoundError for a path that holds no built
    index — callers must not silently treat an empty dir as an index."""
    return _load_meta_pointed(path)[0]


def _load_meta_pointed(path: str) -> tuple[dict, str | None]:
    """(meta, pointer) — the pointer is the manifest-relative sidecar
    name the meta was resolved through, the value a mutating verb
    passes back as ``expect_meta_file`` so an interleaved parameter
    change surfaces as txlog.MetaConflict instead of being silently
    reverted (round 13). Pointer is None for a LEGACY pre-round-12
    index (manifest without a ``meta_file`` pointer): those fall back
    to the unversioned ``_meta.json`` sidecar next to the data — old
    targets keep working, exactly as txlog migrates legacy manifests;
    the next parameter-writing commit flips them to a versioned
    pointer and vacuum then retires the legacy file."""
    root = _data_path(path)
    meta_path = txlog.current_meta_file(root)
    if meta_path is None:
        legacy = os.path.join(root, "_meta.json")
        if txlog.read_manifest(root)["version"] >= 0 and os.path.exists(
            legacy
        ):
            with open(legacy) as fh:
                return json.load(fh), None
        raise FileNotFoundError(f"no committed index at {path!r}")
    with open(meta_path) as fh:
        return json.load(fh), os.path.relpath(meta_path, root)


def _land_meta(path: str, meta: dict) -> str:
    """Write the sidecar under a FRESH versioned name (invisible until
    a commit points at it) and return that name, relative to the data
    root. The uuid suffix keeps names unique under CONCURRENT writers
    (txlog commits are optimistic since round 12): two appends racing
    the same base version each land their own sidecar and the commit
    winner's pointer wins — drift counters are telemetry, so the
    losing delta's counter bump is an acceptable lost update (stated
    at append_ivfpq_index)."""
    import uuid

    root = _data_path(path)
    os.makedirs(root, exist_ok=True)
    ver = txlog.read_manifest(root)["version"] + 1
    name = f"_meta.v{ver}.{uuid.uuid4().hex[:8]}.json"
    tmp = os.path.join(root, name + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(root, name))
    return name


def _mean_assign_dist(
    vectors: DataFrame, centroids: list[list[float]], dim: int, vec_col: str
) -> float | None:
    """Mean (1 − cosine(vec, centroid[assigned cell])) over ``vectors``
    — the drift statistic. One map pass + one scalar aggregate; the
    collect is a single row (control flow, not data)."""
    from .quantization import _centroid_lookup_expr
    from .similarity import cell_assign, cosine, norm

    assigned = (
        vectors.select(
            F.col(vec_col).alias("__v"),
            norm(F.col(vec_col), dim).alias("__n"),
        )
        .withColumn("cell", cell_assign("__v", "__n", centroids, dim))
        # the unrolled dot/norm kernels need plain column references:
        # land the looked-up centroid as a named column first
        .withColumn("__c", F.expr(_centroid_lookup_expr(centroids)))
    )
    row = assigned.select(
        F.avg(1.0 - cosine("__v", "__c", dim)).alias("d")
    ).collect()[0]
    return None if row["d"] is None else float(row["d"])


def _encode(
    corpus: DataFrame, meta: dict, id_col: str, vec_col: str
) -> DataFrame:
    """(neighbor_id, cell INT, pq_code) under the index's FROZEN
    parameters — the shared build/append map pass, switching on the
    sidecar's cell geometry (flat coarse quantizer vs two-level IMI).
    ``cell`` is cast to int so the values written match what parquet
    partition discovery infers back on read (type-stable round trip)."""
    from .quantization import imi_index, imi_pb_index, ivfpq_index

    if meta.get("quantizer") == "imi" and meta.get("per_branch"):
        enc = imi_pb_index(
            corpus,
            meta["centroids"],
            meta["centroids2"],
            meta["codebooks"],
            meta["dim"],
            id_col=id_col,
            vec_col=vec_col,
        )
    elif meta.get("quantizer") == "imi":
        enc = imi_index(
            corpus,
            meta["centroids"],
            meta["centroids2"],
            meta["codebooks"],
            meta["dim"],
            id_col=id_col,
            vec_col=vec_col,
            stride=meta.get("imi_stride"),
        )
    else:
        enc = ivfpq_index(
            corpus,
            meta["centroids"],
            meta["codebooks"],
            meta["dim"],
            id_col=id_col,
            vec_col=vec_col,
        )
    return enc.withColumn("cell", F.col("cell").cast("int"))


def _land(delta: DataFrame, path: str) -> list[str]:
    """Write (one file per cell): every cell's rows hash to exactly one
    of the ``n_cells`` write tasks, so each ``cell=`` directory receives
    exactly one file per landing — the bucketed layout's one-file
    invariant, kept through appends at one file per touched cell.

    Returns the RELATIVE paths of the files this write created —
    landed but NOT yet published: readers go through the commit
    manifest (plans.txlog), so a crash after this write leaves
    invisible orphans, never half-applied state. Attribution is EXACT
    (round 13): the write stages into a fresh hidden directory and the
    moved files are returned (txlog.land) — no before/after listing
    diff, so concurrent writers on the same index can never claim each
    other's landed-but-uncommitted files, and landing cost no longer
    scales with the target's total file count."""
    from ..plans import txlog

    n_cells = delta.select("cell").distinct().count()

    def write(staging: str) -> None:
        (
            delta.repartition(max(1, n_cells), F.col("cell"))
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(staging)
        )

    return txlog.land(_data_path(path), write)


def derived_n_centroids(n: int, floor: int = 16, cap: int = 4096) -> int:
    """Volume-derived coarse-quantizer cell count: ``√n`` clamped to
    [floor, cap] — the SemDeDup rule applied to the serving index
    (cell count is SELECTIVITY-shaped: a static 16 cells means every
    probe scans n_probe/16 of a 100 TB corpus forever). Measured
    (round 11, weakly-clustered synthetic embeddings, re-rank serving
    path, n_probe=4): sf1 recall@5 1.000 at k=16 scanning 25% of the
    index vs 0.950 at k=√n=141 scanning 2.8% — the recall floor (0.8)
    holds while per-query candidate volume drops 9×. The cap bounds
    the driver-side centroid pull (cap·dim doubles ≈ 2 MB at 64-dim)
    and the per-iteration k-means collect; past it, recall buys via
    n_probe, and the next tier is a hierarchical/IMI quantizer."""
    return max(floor, min(cap, math.isqrt(max(0, n))))


def build_ivfpq_index(
    spark: SparkSession,
    corpus: DataFrame,
    path: str,
    dim: int,
    n_centroids: int | None = None,
    m: int = 8,
    ks: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_lineages: dict | None = None,
) -> dict:
    """Train (coarse k-means + per-subspace PQ codebooks), encode, and
    persist the cell-partitioned index + versioned ``_meta.v{N}.json``
    sidecar. Returns the metadata dict. ``n_centroids=None`` derives
    the cell count from corpus volume (:func:`derived_n_centroids`).
    Training cost is the dominant build term (SCALE.md: build ≈ 14 s
    at sf0.1 vs 4.7 s probe) — which is exactly why
    :func:`append_ivfpq_index` must not repeat it.

    CRASH-ATOMIC over an existing index (round-12 fix): the encoded
    rows and the new sidecar land as NEW invisible files next to the
    committed ones, then ONE reset commit flips the file list, the
    parameter pointer, and (via ``carry_lineages`` — the
    :func:`rebuild_index` path) every lineage's replay guard together; the
    superseded files are vacuumed after. A crash anywhere before the
    commit leaves the prior index fully intact and fully consistent —
    the earlier ``mode=overwrite`` write physically deleted committed
    files AND the manifest before the new state existed."""
    from .quantization import pq_train
    from .similarity import kmeans_centroids

    corpus = corpus.localCheckpoint(eager=False)  # scanned 4x below
    if n_centroids is None:
        n_centroids = derived_n_centroids(corpus.count())
    cents = kmeans_centroids(
        corpus,
        dim=dim,
        id_col=id_col,
        vec_col=vec_col,
        n_centroids=n_centroids,
        n_iter=n_iter,
        round_dp=6,
    )
    books = pq_train(
        corpus,
        dim=dim,
        m=m,
        ks=ks,
        n_iter=n_iter,
        id_col=id_col,
        vec_col=vec_col,
        round_dp=6,
    )
    meta = {
        "dim": dim,
        "m": m,
        "ks": ks,
        "n_centroids": n_centroids,
        "centroids": cents,
        "codebooks": books,
        "id_col": id_col,
        "vec_col": vec_col,
    }
    return _publish_build(corpus, path, meta, carry_lineages)


def _publish_build(
    corpus: DataFrame, path: str, meta: dict, carry_lineages: dict | None
) -> dict:
    """Shared build tail for every quantizer geometry: stamp the drift
    baseline, encode under the (now frozen) parameters, land the files
    + versioned sidecar invisibly, publish everything in ONE reset
    commit, vacuum the superseded generation."""
    meta.update(
        {
            "build_n": corpus.count(),
            "build_mean_dist": _mean_assign_dist(
                corpus, meta["centroids"], meta["dim"], meta["vec_col"]
            ),
            "appended_n": 0,
            "appended_dist_sum": 0.0,
            "n_appends": 0,
        }
    )
    added = _land(
        _encode(corpus, meta, meta["id_col"], meta["vec_col"]), path
    )
    meta_file = _land_meta(path, meta)
    # THE commit: a build REPLACES every prior file, flips the
    # parameter pointer, and (unless the caller is rebuild_index,
    # which passes them through) clears the batch history — atomically
    txlog.commit(
        _data_path(path),
        add_files=added,
        reset=True,
        carry_lineages=carry_lineages,
        meta_file=meta_file,
    )
    txlog.vacuum(_data_path(path))  # reclaim the superseded generation
    return meta


def build_imi_index(
    spark: SparkSession,
    corpus: DataFrame,
    path: str,
    dim: int,
    k1: int | None = None,
    k2: int | None = None,
    m: int = 8,
    ks: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_lineages: dict | None = None,
    per_branch: bool = False,
) -> dict:
    """Build the index under the TWO-LEVEL (IMI-style) coarse quantizer
    — the tier past the flat quantizer's 4096-centroid cap
    (:func:`derived_n_centroids`): k1·k2 effective cells with only
    k1 + k2 centroids driver-side (quantization.imi_train — level-1
    spherical k-means + one shared L2 codebook over residuals).
    ``k1``/``k2`` default to the volume-derived per-level branch
    (quantization.derived_imi_k ≈ ⌈n^(1/4)⌉ each, so the composite
    cell count tracks √n without the flat cap ever binding below
    n ≈ 10^12). Same layout, commit manifest, drift counters, append /
    compact / probe verbs as the flat build — the geometry lives
    entirely in the sidecar (``quantizer: "imi"``). Drift baselines
    measure level-1 assignment distance (the distribution-shift signal
    is level-1's fit; level-2 refines within it).

    ``per_branch=True`` trains a SEPARATE k2-entry residual codebook
    per level-1 branch (quantization.imi_train_perbranch) — the
    HIGH-RECALL configuration: each branch's residual distribution
    gets its own dictionary (measured sf4: recall 0.875 shared →
    parity with flat per-branch) at the cost of the centroid budget
    returning to k1·k2 (flat-class — per-branch is a recall knob, not
    a cap escape; the curve is in SCALE.md round 12)."""
    from .quantization import (
        derived_imi_k,
        imi_train,
        imi_train_perbranch,
        pq_train,
    )

    corpus = corpus.localCheckpoint(eager=False)  # scanned repeatedly
    if k1 is None or k2 is None:
        n = corpus.count()
        k1 = k1 if k1 is not None else derived_imi_k(n)
        k2 = k2 if k2 is not None else derived_imi_k(n)
    train = imi_train_perbranch if per_branch else imi_train
    cents1, cents2 = train(
        corpus,
        dim=dim,
        k1=k1,
        k2=k2,
        n_iter=n_iter,
        id_col=id_col,
        vec_col=vec_col,
        round_dp=6,
    )
    books = pq_train(
        corpus,
        dim=dim,
        m=m,
        ks=ks,
        n_iter=n_iter,
        id_col=id_col,
        vec_col=vec_col,
        round_dp=6,
    )
    meta = {
        "quantizer": "imi",
        "per_branch": per_branch,
        "dim": dim,
        "m": m,
        "ks": ks,
        "imi_k1": k1,
        "imi_k2": k2,
        # composite ids are c1·stride + c2 with FIXED stride = 2·k2:
        # the headroom lets split_cell append level-2 entries without
        # moving any existing cell id (exhausted headroom ⇒ rebuild)
        "imi_stride": 2 * k2,
        "n_centroids": k1 * k2,  # effective cells (occupancy math)
        "centroids": cents1,
        "centroids2": cents2,
        "codebooks": books,
        "id_col": id_col,
        "vec_col": vec_col,
    }
    return _publish_build(corpus, path, meta, carry_lineages)


def append_ivfpq_index(
    spark: SparkSession,
    path: str,
    new_vectors: DataFrame,
    batch_id: int | None = None,
    lineage: str = "default",
) -> dict:
    """faiss-``add`` semantics: assign ``new_vectors`` to the EXISTING
    centroids, encode with the EXISTING codebooks, land one new file
    per touched cell — O(|delta|) compute and write, zero existing
    bytes read or rewritten. Updates the sidecar's drift counters.
    Returns ``{"appended", "touched_cells", "mean_dist",
    "drift_ratio"}`` (drift_ratio = this delta's mean assignment
    distance over the build baseline — >1 means the frozen centroids
    fit the new data worse than they fit the training corpus).

    ``batch_id`` (streaming ingestion): Structured Streaming's
    ``foreachBatch`` re-delivers a batch UNDER THE SAME ID after a
    restart from checkpoint; a batch id already in the COMMIT MANIFEST
    is skipped, making the append idempotent per batch — the standard
    idempotent-sink recipe (Delta's txnAppId/txnVersion). Since round
    11's txlog landed, the file list and the batch id publish in the
    SAME atomic manifest replace (plans/txlog.py): a crash before the
    commit leaves the landed files INVISIBLE to every reader (vacuum
    reclaims them), so the old data-then-meta double-append window is
    closed — visibility and idempotence switch together. Scope: the
    guard assumes ONE stream lineage per index — batch ids restart at
    0 under a fresh checkpointLocation, so a brand-new query against
    an index with append history would false-skip its early batches;
    reuse the checkpoint (the restart story this exists for) or
    rebuild the index. Delta's full recipe keys idempotence on
    (txnAppId, txnVersion) — the multi-lineage extension if ever
    needed. Since round 12 the drift counters ride the same commit as
    the files (the sidecar is versioned and pointer-flipped by the
    manifest), so a crashed append can no longer skew the drift ratio;
    superseded sidecar versions are reclaimed by the next vacuum.

    RACING MAINTENANCE (round 13): the commit carries
    ``expect_meta_file`` — the pointer this append's parameters were
    read through. If a concurrent split/compact/rebuild flipped the
    parameters in between, the commit raises txlog.MetaConflict and
    the append REDOES itself under the winner's sidecar (re-encode,
    re-land, re-commit; the orphaned first landing is reclaimed by
    vacuum's grace path). Blindly winning instead would revert a
    split's grown centroid table while its reassigned rows (cell ids
    past the old table) stay committed — the exact data/parameter
    mismatch the versioned sidecar exists to prevent."""
    new_vectors = new_vectors.localCheckpoint(eager=False)  # scanned 2x
    n = new_vectors.count()
    if n == 0:
        return {
            "appended": 0,
            "touched_cells": 0,
            "mean_dist": None,
            "drift_ratio": None,
        }
    for _ in range(_META_RETRIES):
        meta, pointer = _load_meta_pointed(path)
        if batch_id is not None and txlog.has_batch(
            _data_path(path), batch_id, lineage=lineage
        ):
            return {
                "appended": 0,
                "touched_cells": 0,
                "mean_dist": None,
                "drift_ratio": None,
                "replayed": True,
            }
        delta = _encode(new_vectors, meta, meta["id_col"], meta["vec_col"])
        touched = delta.select("cell").distinct().count()
        added = _land(delta, path)
        d = _mean_assign_dist(
            new_vectors, meta["centroids"], meta["dim"], meta["vec_col"]
        )
        meta["appended_n"] += n
        meta["appended_dist_sum"] += (d or 0.0) * n
        meta["n_appends"] += 1
        meta_file = _land_meta(path, meta)
        try:
            # THE commit point: files become visible, the batch id
            # becomes applied, and the drift counters advance in one
            # atomic rename
            txlog.commit(
                _data_path(path),
                add_files=added,
                batch_id=batch_id,
                lineage=lineage,
                meta_file=meta_file,
                expect_meta_file=pointer,
            )
        except txlog.MetaConflict:
            continue  # parameters moved under us — redo on the winner's
        base = meta["build_mean_dist"]
        return {
            "appended": n,
            "touched_cells": touched,
            "mean_dist": d,
            "drift_ratio": (None if not base or d is None else d / base),
        }
    raise txlog.CommitConflict(
        f"append lost the parameter race {_META_RETRIES} times at {path!r}"
    )


def rebuild_index(
    spark: SparkSession, corpus: DataFrame, path: str
) -> dict:
    """The action :func:`retrain_criterion` recommends: retrain on the
    CURRENT corpus under the index's existing geometry (dim, m, ks,
    n_centroids from the sidecar), replace the data, reset the drift
    counters. Same cost as the original build — which is exactly why
    the criterion meters it instead of every append paying it.

    The prior batch ids ride INSIDE the build's single reset commit
    (the rebuilt corpus already contains those batches' vectors, so a
    streaming replay after the rebuild must still be skipped): there
    is no window where the new index is visible without its replay
    guard — the round-11 two-commit sequence had one."""
    meta = load_index_meta(path)
    prior = txlog.read_manifest(_data_path(path))["lineages"]
    if meta.get("quantizer") == "imi":
        return build_imi_index(
            spark,
            corpus,
            path,
            dim=meta["dim"],
            k1=meta["imi_k1"],
            k2=meta["imi_k2"],
            m=meta["m"],
            ks=meta["ks"],
            id_col=meta["id_col"],
            vec_col=meta["vec_col"],
            carry_lineages=prior,
            per_branch=bool(meta.get("per_branch")),
        )
    return build_ivfpq_index(
        spark,
        corpus,
        path,
        # len(centroids), not the sidecar's n_centroids scalar: a
        # split-grown index rebuilds at its CURRENT refinement
        n_centroids=len(meta["centroids"]),
        dim=meta["dim"],
        m=meta["m"],
        ks=meta["ks"],
        id_col=meta["id_col"],
        vec_col=meta["vec_col"],
        carry_lineages=prior,
    )


#: Footer key under which Spark's parquet writer stores the written
#: frame's schema as JSON — what Spark's own schema inference reads.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(file: str):
    """The Spark schema of one landed data file, read on the driver
    from the JSON Spark's writer stores in the parquet footer — no
    Spark job. (A read schema is made nullable by Spark itself, as an
    inferred one is.)"""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    meta = pq.read_schema(file).metadata
    return StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))


def read_index(spark: SparkSession, path: str) -> DataFrame:
    """(neighbor_id, cell BIGINT, pq_code) — the probe input, reading
    ONLY the commit-manifest's files (``basePath`` keeps ``cell`` a
    real partition column over the explicit file list, so a probe's
    ``cell IN (probed cells)`` filter still prunes to the matching
    directories — plan-pinned). Files landed by a crashed,
    uncommitted write are invisible here by construction. The schema
    comes from the first committed file's footer (every landing writes
    the same encoder output) plus the ``cell int`` partition column,
    so the read starts no schema-inference job; an empty index is a
    local relation of the same schema."""
    files = txlog.committed_files(_data_path(path))
    if not files:
        return local_frame(
            spark, [], "neighbor_id bigint, cell bigint, pq_code array<bigint>"
        )
    from pyspark.sql.types import IntegerType

    schema = _footer_schema(files[0]).add("cell", IntegerType())
    return (
        spark.read.schema(schema)
        .option("basePath", _data_path(path))
        .parquet(*files)
        .select(
            "neighbor_id",
            F.col("cell").cast("bigint").alias("cell"),
            "pq_code",
        )
    )


def _cell_of(rel_path: str) -> int:
    return int(rel_path.split("cell=", 1)[1].split("/", 1)[0])


def cell_file_counts(path: str) -> dict[int, int]:
    """COMMITTED data files per cell — the compaction trigger's input,
    read from the manifest (plans.txlog), exactly where Delta/Iceberg
    would read it; crashed writes' orphans don't count."""
    out: dict[int, int] = {}
    for rel in txlog.read_manifest(_data_path(path))["files"]:
        cell = _cell_of(rel)
        out[cell] = out.get(cell, 0) + 1
    return out


def compact_index(
    spark: SparkSession, path: str, max_files_per_cell: int = 4
) -> list[int]:
    """Rewrite ONLY the cells whose committed file count exceeds the
    bound, back to one file each — TRANSACTIONALLY: the compacted
    replacement files land first (invisible), then one atomic manifest
    commit swaps them in and the superseded inputs out, then
    :func:`plans.txlog.vacuum` reclaims the dead bytes. A crash before
    the commit changes nothing a reader sees; after it, only garbage
    remains to vacuum. O(hot cells' bytes), not O(index). Returns the
    compacted cell ids."""
    root = _data_path(path)
    manifest = txlog.read_manifest(root)
    counts = cell_file_counts(path)
    hot = sorted(c for c, n in counts.items() if n > max_files_per_cell)
    if not hot:
        return []
    old_files = [f for f in manifest["files"] if _cell_of(f) in hot]
    data = read_index(spark, path).filter(F.col("cell").isin(hot)).select(
        "neighbor_id", F.col("cell").cast("int").alias("cell"), "pq_code"
    )
    # one task per compacted cell -> back to one file per cell
    # (_land repartitions by the distinct-cell count itself)
    added = _land(data, path)
    txlog.commit(root, add_files=added, remove_files=old_files)
    txlog.vacuum(root)
    return hot


def split_cell(
    spark: SparkSession,
    path: str,
    cell_id: int,
    n_subcells: int = 2,
    n_iter: int = 2,
) -> dict:
    """The MIDDLE maintenance rung between append-forever and a full
    retrain: re-cluster ONE hot cell into ``n_subcells`` finer cells —
    O(hot cell's bytes), never O(index) and never O(corpus), where
    :func:`rebuild_index` costs a full build (the dominant,
    corpus-growing term: SCALE.md sf4 measured 48.2 s build vs 10.3 s
    append). Triggered by :func:`retrain_criterion`'s hot-cell-skew
    signal; the IVF analog of the file-count compaction the lifecycle
    already has.

    Mechanics: the hot cell's rows are read (partition-pruned scan),
    their PQ RECONSTRUCTIONS — the index is self-contained; raw vectors
    are never needed — are k-means'd into ``n_subcells`` sub-centroids
    (min-id seeds, 6-dp means: deterministic), the centroid table is
    refined IN PLACE (the hot slot takes sub-centroid 0, the rest
    append — every other cell keeps its id, so cell ids stay positional
    and no other partition is touched), and the hot rows re-assign
    against the refined table. New files land invisibly (one per
    touched cell), then ONE commit swaps them in, retires the hot
    cell's old files, and flips the sidecar pointer — split is as
    crash-atomic as every other verb.

    TWO-LEVEL (shared-codebook IMI) indexes split at LEVEL 2 (round
    12 — the gating measurement showed the hot trigger fires on the
    composite geometry too, ratio 12.8 under blob skew): the hot
    composite cell (c1, c2) decomposes via the FIXED id stride, the
    hot rows' RESIDUALS vs centroid c1 re-cluster into sub-entries via
    L2 k-means, the shared level-2 codebook grows in place (slot c2
    replaced, the rest appended — the build-time 2·k2 stride headroom
    keeps every existing composite id stable; exhausted headroom ⇒
    ValueError, rebuild), and only the hot cell's rows re-assign
    (their c1 is fixed by construction). Same single-commit publish.

    Honest boundaries: (a) rows in OTHER cells are not re-examined — a
    row whose argmax would now flip to a new sub-cell stays where it
    is (bounded misplacement near the split region; the recall floor
    is pinned post-split in tests); (b) the drift baseline is NOT
    re-measured (finer centroids slightly shrink future assignment
    distances, biasing the drift ratio conservatively low — the hot
    trigger, which split answers, is unaffected); (c) the per-branch
    variant has no split (it is the measured honest loser —
    SCALE.md round 12 — and a per-branch codebook could grow past the
    shared stride); (d) growing the SHARED level-2 codebook refines
    FUTURE assignments of every branch (semantically a finer shared
    dictionary — the same bounded-misplacement class as (a)).

    Returns ``{"cell", "new_cell_ids", "rows", "n_centroids"}``.

    Concurrency scope (round 13): split tolerates RACING APPENDS — its
    commit carries ``expect_meta_file``, so an append that flipped the
    drift counters in between surfaces as txlog.MetaConflict and the
    split redoes itself on the fresh state (the appended rows in the
    hot cell simply join the re-cluster). Maintenance verbs
    (compact/split/rebuild) stay SERIALIZED per index — one maintainer
    at a time, the Delta OPTIMIZE deployment shape — because two
    cell-rewriting verbs racing can re-add each other's retired rows."""
    for _ in range(_META_RETRIES):
        meta, pointer = _load_meta_pointed(path)
        if meta.get("per_branch"):
            raise NotImplementedError(
                "split_cell supports the flat and shared-IMI geometries; "
                "the per-branch variant is the measured honest loser — "
                "rebuild"
            )
        try:
            if meta.get("quantizer") == "imi":
                return _split_imi_cell(
                    spark, path, meta, pointer, cell_id, n_subcells, n_iter
                )
            return _split_flat_cell(
                spark, path, meta, pointer, cell_id, n_subcells, n_iter
            )
        except txlog.MetaConflict:
            continue  # an append flipped the counters — redo on its state
    raise txlog.CommitConflict(
        f"split lost the parameter race {_META_RETRIES} times at {path!r}"
    )


def _split_flat_cell(
    spark: SparkSession,
    path: str,
    meta: dict,
    pointer: str | None,
    cell_id: int,
    n_subcells: int,
    n_iter: int,
) -> dict:
    from .quantization import pq_reconstruct
    from .similarity import cell_assign, kmeans_centroids, norm

    root = _data_path(path)
    old_files = [
        f for f in txlog.read_manifest(root)["files"] if _cell_of(f) == cell_id
    ]
    if not old_files:
        raise ValueError(f"cell {cell_id} holds no committed files")
    recon = (
        pq_reconstruct(
            read_index(spark, path).filter(F.col("cell") == cell_id),
            meta["codebooks"],
            out_col="__cv",
        )
        .select("neighbor_id", "__cv", "pq_code")
        # consumed by training AND re-assignment: materialize the
        # decoded hot slice once (O(hot cell) rows)
        .localCheckpoint()
    )
    sub = kmeans_centroids(
        recon,
        dim=meta["dim"],
        id_col="neighbor_id",
        vec_col="__cv",
        n_centroids=n_subcells,
        n_iter=n_iter,
        round_dp=6,
        materialize=False,  # recon is already materialized
    )
    new_cents = [list(c) for c in meta["centroids"]]
    new_cents[cell_id] = sub[0]
    first_new = len(new_cents)
    new_cents.extend(sub[1:])
    # the unrolled assignment kernel needs plain column refs: land the
    # norm as a named column first (the _mean_assign_dist pattern)
    reassigned = (
        recon.withColumn("__n", norm("__cv", meta["dim"]))
        .select(
            "neighbor_id",
            cell_assign("__cv", "__n", new_cents, meta["dim"])
            .cast("int")
            .alias("cell"),
            "pq_code",
        )
    )
    added = _land(reassigned, path)
    meta["centroids"] = new_cents
    meta["n_centroids"] = len(new_cents)
    meta_file = _land_meta(path, meta)
    # THE commit: refined rows in, superseded hot files out, refined
    # centroid table current — one atomic publish; expect_meta_file
    # surfaces an interleaved parameter change as MetaConflict
    txlog.commit(
        root,
        add_files=added,
        remove_files=old_files,
        meta_file=meta_file,
        expect_meta_file=pointer,
    )
    txlog.vacuum(root)
    return {
        "cell": cell_id,
        "new_cell_ids": [cell_id] + list(range(first_new, len(new_cents))),
        "rows": recon.count(),
        "n_centroids": len(new_cents),
    }


def _split_imi_cell(
    spark: SparkSession,
    path: str,
    meta: dict,
    pointer: str | None,
    cell_id: int,
    n_subcells: int,
    n_iter: int,
) -> dict:
    """:func:`split_cell`'s two-level path: grow the SHARED level-2
    codebook with sub-entries trained on the hot composite cell's
    residuals (reconstruction − level-1 centroid), re-assign only that
    cell's rows, publish rows + grown codebook in one atomic commit.
    O(hot cell); existing composite ids stay stable under the fixed
    build-time stride."""
    from .quantization import (
        _lit_double,
        pq_encode,
        pq_reconstruct,
        pq_train,
    )

    root = _data_path(path)
    stride = meta.get("imi_stride") or len(meta["centroids2"])
    c1, _c2 = divmod(cell_id, stride)
    cents2 = [list(c) for c in meta["centroids2"]]
    k2 = len(cents2)
    if k2 + n_subcells - 1 > stride:
        raise ValueError(
            f"level-2 headroom exhausted ({k2}+{n_subcells - 1} > stride "
            f"{stride}); rebuild_index re-derives the geometry"
        )
    old_files = [
        f for f in txlog.read_manifest(root)["files"] if _cell_of(f) == cell_id
    ]
    if not old_files:
        raise ValueError(f"cell {cell_id} holds no committed files")
    c1_vec = meta["centroids"][c1]
    c1_lit = f"array({', '.join(_lit_double(x) for x in c1_vec)})"
    res = (
        pq_reconstruct(
            read_index(spark, path).filter(F.col("cell") == cell_id),
            meta["codebooks"],
            out_col="__cv",
        )
        .select(
            "neighbor_id",
            "pq_code",
            F.expr(f"zip_with(__cv, {c1_lit}, (a, b) -> a - b)").alias(
                "__res"
            ),
        )
        # consumed by training AND re-assignment (O(hot cell) rows)
        .localCheckpoint()
    )
    # L2 k-means over the hot residuals = pq_train with one full-width
    # "subspace" (the imi_train level-2 recipe, scoped to this cell)
    sub = pq_train(
        res,
        dim=meta["dim"],
        m=1,
        ks=n_subcells,
        n_iter=n_iter,
        id_col="neighbor_id",
        vec_col="__res",
        round_dp=6,
    )[0]
    cents2[_c2] = sub[0]
    first_new = k2
    cents2.extend(sub[1:])
    reassigned = pq_encode(
        res, [cents2], vec_col="__res", code_col="__c2a"
    ).select(
        "neighbor_id",
        (F.lit(c1) * stride + F.element_at("__c2a", 1))
        .cast("int")
        .alias("cell"),
        "pq_code",
    )
    added = _land(reassigned, path)
    meta["centroids2"] = cents2
    meta["imi_k2"] = len(cents2)
    meta["n_centroids"] = meta["imi_k1"] * len(cents2)
    meta_file = _land_meta(path, meta)
    txlog.commit(
        root,
        add_files=added,
        remove_files=old_files,
        meta_file=meta_file,
        expect_meta_file=pointer,
    )
    txlog.vacuum(root)
    return {
        "cell": cell_id,
        "new_cell_ids": [cell_id]
        + [c1 * stride + j for j in range(first_new, len(cents2))],
        "rows": res.count(),
        "n_centroids": meta["n_centroids"],
    }


def retrain_criterion(
    spark: SparkSession,
    path: str,
    drift_factor: float = 1.3,
    hot_cell_factor: float = 4.0,
) -> dict:
    """The measured when-to-rebuild decision. Two triggers:

    - **Assignment-distance inflation**: appended running mean distance
      > ``drift_factor`` × build baseline ⇒ the frozen centroids no
      longer describe the incoming distribution (distribution shift),
      and PQ reconstruction error — hence recall — degrades with it.
      The baseline is the TRAINING-fit distance, so even held-out
      same-distribution data sits above 1.0 by the coarse quantizer's
      generalization gap — measured 1.16-1.18 on the synthetic corpus
      (weakly clustered: negating every held-out vector still measures
      1.16, i.e. direction barely moves max-cos over these centroids).
      The default 1.3 sits above that gap and below the measured
      worst-case: a delta orthogonal to every trained centroid (exact
      cos 0 ⇒ mean dist 1.0) measures ≈ 1.5. Both sides are
      deterministic and pinned in tests/test_ann_index.py; recalibrate
      the factor per corpus from the same two measurements.
    - **Hot-cell skew**: max cell occupancy > ``hot_cell_factor`` × the
      uniform share ⇒ probes hitting that cell scan ~hot_cell_factor×
      the intended candidate volume — the IVF twin of the bucketed-join
      skew lesson.

    Occupancy comes from a count-per-cell aggregate over the index
    (partial-agg, ≤ n_centroids rows to the driver); drift comes from
    the sidecar counters — no raw-vector rescan."""
    meta = load_index_meta(path)
    occ = {
        r["cell"]: r["n"]
        for r in read_index(spark, path)
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    total = sum(occ.values())
    uniform = total / max(1, meta["n_centroids"])
    hot_ratio = (max(occ.values()) / uniform) if occ else 0.0
    drift_ratio = None
    if meta["appended_n"] > 0 and meta["build_mean_dist"]:
        drift_ratio = (
            meta["appended_dist_sum"] / meta["appended_n"]
        ) / meta["build_mean_dist"]
    reasons = []
    if drift_ratio is not None and drift_ratio > drift_factor:
        reasons.append("assignment_distance_inflation")
    if hot_ratio > hot_cell_factor:
        reasons.append("hot_cell_skew")
    return {
        "retrain": bool(reasons),
        "reasons": reasons,
        "drift_ratio": drift_ratio,
        "hot_cell_ratio": hot_ratio,
        # the skew culprit — :func:`split_cell`'s input when the
        # hot-cell trigger fires alone (the middle rung; a drift
        # trigger still means rebuild)
        "hot_cell": max(occ, key=occ.get) if occ else None,
        "n_rows": total,
        "appended_fraction": meta["appended_n"] / max(1, total),
    }


def probe_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """ADC top-k over the persisted index — parameters come from the
    sidecar, so any process can serve it cold, under EITHER geometry:
    flat (``quantization.ivfpq_topk``) or two-level IMI
    (``quantization.imi_topk`` — ``n_probe`` applies per level there,
    probing n_probe² composite cells). Both share the cell-pruned
    scan / codebook-lookup-on-the-probed-slice plan."""
    from .quantization import imi_pb_topk, imi_topk, ivfpq_topk

    meta = load_index_meta(path)
    if meta.get("quantizer") == "imi" and meta.get("per_branch"):
        return imi_pb_topk(
            queries,
            read_index(spark, path),
            meta["centroids"],
            meta["centroids2"],
            meta["codebooks"],
            meta["dim"],
            k=k,
            n_probe1=n_probe,
            n_probe2=n_probe,
            id_col=meta["id_col"],
            vec_col=meta["vec_col"],
        )
    if meta.get("quantizer") == "imi":
        return imi_topk(
            queries,
            read_index(spark, path),
            meta["centroids"],
            meta["centroids2"],
            meta["codebooks"],
            meta["dim"],
            k=k,
            n_probe1=n_probe,
            n_probe2=n_probe,
            id_col=meta["id_col"],
            vec_col=meta["vec_col"],
            stride=meta.get("imi_stride"),
        )
    return ivfpq_topk(
        queries,
        read_index(spark, path),
        meta["centroids"],
        meta["codebooks"],
        meta["dim"],
        k=k,
        n_probe=n_probe,
        id_col=meta["id_col"],
        vec_col=meta["vec_col"],
    )


def probe_index_rerank(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    raw_corpus: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    shortlist: int | None = None,
) -> DataFrame:
    """The served mode: ADC shortlist over the persisted index → exact
    cosine re-rank against the raw vectors (volume-derived shortlist
    depth — ``quantization.derived_shortlist`` — unless pinned). This
    is the path the ≥0.8 recall floor is guaranteed through after
    appends (tests/test_ann_index.py)."""
    from .quantization import derived_shortlist, _exact_rerank

    meta = load_index_meta(path)
    idx = read_index(spark, path)
    if shortlist is None:
        shortlist = derived_shortlist(idx.count())
    cand = probe_index(
        spark, path, queries, k=shortlist, n_probe=n_probe
    ).select("query_id", "neighbor_id")
    return _exact_rerank(
        queries,
        cand,
        raw_corpus,
        k,
        meta["dim"],
        meta["id_col"],
        meta["vec_col"],
    )
