"""Probe-cell selection and small-frame construction
(operators.quantization._probe_cells, session.local_frame,
ann_index.read_index).

- The driver-side cell picker must choose exactly the cells the Spark
  crossJoin + row_number window chooses, on random data and on the
  edge cases where a ulp or a tie decides (duplicated centroids, a
  query equal to a centroid, vectors longer than ``dim``); rows it
  cannot reproduce exactly (NULL or zero-norm queries) must take the
  Spark fallback and answer as it does.
- ``local_frame`` must build a LocalRelation for every shape the
  package hands it, so collecting it starts no job. Broadcasting it
  still starts one: the broadcast exchange collects its child through
  an RDD.
- A probe over a persisted index starts a pinned number of jobs,
  building the frame and collecting it — the job-count pin, cold and
  warm, for the flat geometry over a local and an RDD-backed query set
  and for the two-level (IMI) geometry.
- The resident store (``ann_index._ResidentStore``) serves a warm probe
  exactly what a cold one answers, after every lifecycle commit, under
  concurrent cold probes, and not at all past the collect budget; a
  probe takes the sidecar and the files from one manifest read.
"""

from __future__ import annotations

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from project_clinical_data_etl_pipeline_spark.operators import ann_index as AI
from project_clinical_data_etl_pipeline_spark.operators import quantization as Q
from project_clinical_data_etl_pipeline_spark.operators import similarity as S
from project_clinical_data_etl_pipeline_spark.session import local_frame

DIM = 16
_QSCHEMA = "vec_id bigint, embedding array<float>"


def _queries(spark, vecs, ids=None):
    ids = list(range(len(vecs))) if ids is None else ids
    return local_frame(
        spark,
        [(i, None if v is None else list(v)) for i, v in zip(ids, vecs)],
        _QSCHEMA,
    )


def _spark_probes(queries, centroids, n_probe):
    """The Spark cell selection's (query_id, __qv, __qn, cell) frame."""
    return S._spark_probe_cells(
        S._query_frame(queries, DIM, "vec_id", "embedding"),
        S._centroid_df(queries.sparkSession, centroids),
        DIM,
        n_probe,
    )


def _spark_cells(queries, centroids, n_probe):
    return sorted(
        (r["query_id"], r["cell"])
        for r in _spark_probes(queries, centroids, n_probe).collect()
    )


def _driver_cells(queries, centroids, n_probe):
    """The driver selection as ``_probe_cells`` runs it: raw rows
    collected, each ‖q‖ folded on the driver."""
    rows = [
        (i, v, Q._query_norm(v, DIM))
        for i, v in queries.select("vec_id", "embedding").collect()
    ]
    picked = Q._pick_cells_local(rows, centroids, DIM, n_probe)
    return None if picked is None else sorted((p[0], p[3]) for p in picked)


def _probe_rows(queries, centroids, n_probe):
    probes = Q._probe_cells(queries, centroids, DIM, n_probe, "vec_id", "embedding")
    return probes.cells, sorted(
        (r["query_id"], r["cell"], r["__qn"], tuple(r["__qv"] or ()))
        for r in probes.frame().collect()
    )


def _f32(a):
    return np.asarray(a, dtype=np.float32).astype(np.float64).tolist()


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_driver_cells_match_spark_on_random_data(spark, seed):
    rng = np.random.default_rng(seed)
    cents = rng.normal(size=(24, DIM)).tolist()
    q = _queries(spark, _f32(rng.normal(size=(40, DIM))))
    for n_probe in (1, 4, 30):
        want = _spark_cells(q, cents, n_probe)
        assert _driver_cells(q, cents, n_probe) == want
        assert len(want) == 40 * min(n_probe, 24)


def test_driver_cells_ties_query_on_centroid_and_long_vectors(spark):
    rng = np.random.default_rng(11)
    base = np.asarray(_f32(rng.normal(size=(6, DIM))))
    # centroids 6..11 duplicate 0..5 exactly: every cosine ties with a
    # lower id, which must win
    cents = np.vstack([base, base, rng.normal(size=(4, DIM))]).tolist()
    vecs = _f32(rng.normal(size=(8, DIM)))
    vecs.append(base[2].tolist())  # a query equal to a centroid
    # longer than dim: only the first dim elements count
    vecs.append(_f32(list(rng.normal(size=DIM)) + [1e6, -3.0]))
    q = _queries(spark, vecs)
    for n_probe in (1, 3, 7):
        want = _spark_cells(q, cents, n_probe)
        assert _driver_cells(q, cents, n_probe) == want
    top = [c for qid, c in _spark_cells(q, cents, 1) if qid == 8]
    assert top == [2]


def _outcome(fn):
    """``fn()``'s value, or the class name of what it raised."""
    try:
        return fn()
    except Exception as e:  # noqa: BLE001 — the error IS the behavior
        return type(e).__name__


def test_null_and_zero_norm_queries_take_the_fallback(spark):
    """Rows the driver path cannot reproduce go to the Spark selection
    and answer exactly as it does — including its error: under ANSI
    arithmetic a zero-norm query's cosine is a division by zero, and a
    short vector's norm reads past its end. The driver norm of a NULL
    vector, a short vector or a NULL element is None (the engine's is
    NULL or an error); a NaN element's is NaN, as the engine's is."""
    rng = np.random.default_rng(5)
    cents = rng.normal(size=(8, DIM)).tolist()
    good = _f32(rng.normal(size=(3, DIM)))
    cases = {
        "null vector": (good + [None], None),
        "null element": (good + [[None] + good[0][1:]], None),
        "short vector": (good + [good[0][: DIM - 1]], None),
        "nan element": (good + [[float("nan")] + good[0][1:]], None),
        "zero norm": (good + [[0.0] * DIM], None),
        "duplicate id": (good[:2], [7, 7]),
    }
    outcomes = {}
    for name, (vecs, ids) in cases.items():
        q = _queries(spark, vecs, ids)
        assert _driver_cells(q, cents, 2) is None, name
        if name in ("null vector", "null element", "short vector"):
            assert Q._query_norm(vecs[-1], DIM) is None, name

        def spark_path():
            probes = Q._collect_probes(_spark_probes(q, cents, 2), DIM)
            return probes.cells, sorted(
                (r["query_id"], r["cell"]) for r in probes.frame().collect()
            )

        def selector():
            cells, rows = _probe_rows(q, cents, 2)
            return cells, [r[:2] for r in rows]

        want = _outcome(spark_path)
        assert _outcome(selector) == want, name
        outcomes[name] = want
    for name in ("null vector", "null element", "nan element"):
        assert len(outcomes[name][1]) == 4 * 2, name
    assert outcomes["short vector"] == "ArrayIndexOutOfBoundsException"
    assert outcomes["zero norm"] == "ArithmeticException"
    # a duplicated query id is one window partition in Spark: its two
    # rows share one ranking, n_probe cells in all
    assert [qid for qid, _ in outcomes["duplicate id"][1]] == [7, 7]


def test_driver_probe_frame_equals_spark_probe_frame(spark):
    rng = np.random.default_rng(9)
    cents = rng.normal(size=(12, DIM)).tolist()
    q = _queries(spark, _f32(rng.normal(size=(10, DIM))))
    cells, rows = _probe_rows(q, cents, 3)
    spark_frame = _spark_probes(q, cents, 3)
    want = sorted(
        (r["query_id"], r["cell"], r["__qn"], tuple(r["__qv"]))
        for r in spark_frame.collect()
    )
    assert rows == want
    assert cells == sorted({r[1] for r in want})
    probes = Q._probe_cells(q, cents, DIM, 3, "vec_id", "embedding")
    assert probes.rows is not None
    assert probes.frame().schema == spark_frame.schema


@pytest.mark.parametrize("element", ["float", "double"])
def test_driver_norm_is_the_engine_norm_bit_for_bit(spark, element):
    """``quantization._query_norm`` over a collected vector equals
    ``similarity._query_frame``'s ``__qn`` bit for bit, across dims and
    magnitudes: -0.0, subnormal elements and squares, squares that
    overflow, and vectors longer than ``dim``."""
    import struct

    rng = np.random.default_rng(29)
    tiny = 1e-45 if element == "float" else 5e-324
    for dim in (8, 16, 64, 100):
        vecs = [
            (rng.normal(size=dim) * scale).tolist()
            for scale in (1e-20, 1e-5, 1.0, 1e6, 1e18)
            for _ in range(4)
        ]
        vecs += [
            [-0.0] * dim,
            [0.0, -0.0] * (dim // 2),
            [tiny] * dim,
            [-tiny, 1e-160 if element == "double" else 1e-30] * (dim // 2),
            [3e38 if element == "float" else 1e200] + [1.0] * (dim - 1),
            rng.normal(size=dim + 3).tolist(),
        ]
        q = local_frame(
            spark,
            list(enumerate(vecs)),
            f"vec_id bigint, embedding array<{element}>",
        )
        rows = S._query_frame(q, dim, "vec_id", "embedding").collect()
        assert len(rows) == len(vecs)
        for r in rows:
            got = Q._query_norm(r["__qv"], dim)
            assert struct.pack(">d", got) == struct.pack(">d", r["__qn"]), (dim, r)


@pytest.mark.parametrize(
    "schema, rows",
    [
        ("a bigint, b array<float>, c double", [(1, [0.5, None], None), (None, None, 2.0)]),
        ("__books array<array<array<double>>>", [([[[1.0, 2.0]], [[3.0]]],)]),
        ("neighbor_id bigint, cell bigint, pq_code array<bigint>", []),
    ],
)
def test_local_frame_is_a_local_relation(spark, schema, rows):
    df = local_frame(spark, rows, schema)
    plan = df._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert [tuple(r) for r in df.collect()] == rows


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _corpus(spark):
    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(256, DIM)).astype(np.float32)
    corpus = local_frame(
        spark, [(i, vecs[i].tolist()) for i in range(len(vecs))], _QSCHEMA
    )
    return corpus, vecs


@pytest.fixture(scope="module")
def flat_index(spark, tmp_path_factory):
    corpus, vecs = _corpus(spark)
    path = str(tmp_path_factory.mktemp("flat_idx"))
    AI.build_ivfpq_index(spark, corpus, path, dim=DIM, m=4, ks=16, n_iter=1)
    return path, vecs


@pytest.fixture(scope="module")
def imi_index(spark, tmp_path_factory):
    corpus, vecs = _corpus(spark)
    path = str(tmp_path_factory.mktemp("imi_idx"))
    AI.build_imi_index(
        spark, corpus, path, dim=DIM, k1=4, k2=4, m=4, ks=16, n_iter=1
    )
    return path, vecs


def test_read_index_schema_matches_empty_index(spark, flat_index, tmp_path):
    path, _ = flat_index
    built, jobs = _jobs(spark, "read_index", lambda: AI.read_index(spark, path))
    assert jobs == 0  # the schema comes from a parquet footer, not a job
    empty = AI.read_index(spark, str(tmp_path / "never_built"))
    assert built.schema == empty.schema
    assert built.schema.simpleString() == (
        "struct<neighbor_id:bigint,cell:bigint,pq_code:array<bigint>>"
    )


def test_local_frame_broadcast_starts_one_job(spark):
    """Collecting a local relation runs on the driver; as a join's
    broadcast side it does not: the broadcast exchange collects its
    child through an RDD, one job. So a join of two local frames costs
    two jobs — the streamed side's scan and the broadcast."""
    small = local_frame(spark, [(i, float(i)) for i in range(16)], "k bigint, v double")
    big = local_frame(spark, [(i % 16, i) for i in range(64)], "k bigint, n bigint")
    _, collect = _jobs(spark, "local_collect", small.collect)
    assert collect == 0
    joined = big.join(F.broadcast(small), "k")
    rows, jobs = _jobs(spark, "local_bcast_join", joined.collect)
    assert len(rows) == 64
    assert jobs == 2


def _probe(spark, path, q, **kw):
    return sorted(tuple(r) for r in AI.probe_index(spark, path, q, k=5, **kw).collect())


def _local_queries(spark, vecs, n=4):
    return local_frame(spark, [(10_000 + i, vecs[i].tolist()) for i in range(n)], _QSCHEMA)


def test_probe_index_construct_job_count(spark, flat_index, imi_index):
    """Jobs per probe, building the result frame and collecting it, for
    the first three probes of a committed version (the resident store
    starts empty). The first probe collects its probed slice, as a probe
    without the store does; the second collects the whole index into
    the store instead; from the third on the probe is warm. Flat over a
    local query set: one, one, then none — the query rows are collected
    without a job, the cells picked and the slice scored on the driver
    from the store, and the result is a local relation. Flat over a
    ``createDataFrame(list)`` query set: one more each — its bounded
    collect is one job at the session's ``limit.initialNumPartitions``
    (Spark's incremental take would make it two). Two-level: the
    level-2 ranking window's collect adds its four jobs. An extra
    collect, count or checkpoint on any path fails the pin."""
    for name, (path, vecs), kind, pins in (
        ("flat", flat_index, "local", (1, 1, 0)),
        ("flat", flat_index, "rdd", (2, 2, 1)),
        ("imi", imi_index, "local", (5, 5, 4)),
    ):
        rows = [(10_000 + i, vecs[i].tolist()) for i in range(4)]
        if kind == "local":
            q = local_frame(spark, rows, _QSCHEMA)
        else:
            q = spark.createDataFrame(rows, _QSCHEMA)
        AI.probe_index(spark, path, q, k=5).collect()  # warm the session
        AI._RESIDENT.clear()
        got = [
            _jobs(
                spark,
                f"probe_{name}_{kind}_{state}",
                lambda: AI.probe_index(spark, path, q, k=5).collect(),
            )
            for state in ("first", "fill", "warm")
        ]
        assert len(got[0][0]) == 4 * 5, (name, kind)
        assert len({tuple(sorted(map(tuple, rows))) for rows, _ in got}) == 1
        assert tuple(jobs for _, jobs in got) == pins, (name, kind)


_GROUPS = itertools.count()


def _probe_thrice(spark, path, q):
    """Three probes of the current version — first, fill, warm — as
    (rows, jobs) pairs."""
    return [
        _jobs(spark, f"thrice_{next(_GROUPS)}", lambda: _probe(spark, path, q))
        for _ in range(3)
    ]


def test_warm_probe_follows_every_commit(spark, tmp_path):
    """Every lifecycle verb commits a new manifest version. The first
    probe after it collects its slice (one job) instead of serving the
    previous version's rows, the second fills the store (one job), and
    the third is warm (none). All answer exactly as a probe with the
    store cleared."""
    rng = np.random.default_rng(17)
    vecs = rng.normal(size=(300, DIM)).astype(np.float32)

    def frame(lo, hi, shift=0.0):
        return local_frame(
            spark, [(i, (vecs[i] + shift).tolist()) for i in range(lo, hi)], _QSCHEMA
        )

    path = str(tmp_path / "idx")
    AI.build_ivfpq_index(spark, frame(0, 200), path, dim=DIM, m=4, ks=16, n_iter=1)
    q = _local_queries(spark, vecs[200:])
    before = [rows for rows, _ in _probe_thrice(spark, path, q)][-1]

    def step(label, verb, changes):
        nonlocal before
        verb()
        got = _probe_thrice(spark, path, q)
        AI._RESIDENT.clear()
        cold = _probe(spark, path, q)
        assert [rows for rows, _ in got] == [cold] * 3, label
        assert [jobs for _, jobs in got] == [1, 1, 0], label
        assert (cold != before) == changes, label
        before = cold

    # the queries' own vectors join the index: they answer themselves
    step("append", lambda: AI.append_ivfpq_index(spark, path, frame(200, 204)), True)
    step("compact", lambda: AI.compact_index(spark, path, max_files_per_cell=1), False)
    hot = AI.retrain_criterion(spark, path)["hot_cell"]
    step("split", lambda: AI.split_cell(spark, path, hot, n_iter=1), True)
    step("rebuild", lambda: AI.rebuild_index(spark, frame(0, 300, 0.5), path), True)
    step(
        "build",
        lambda: AI.build_ivfpq_index(spark, frame(50, 300), path, dim=DIM, m=4, ks=16, n_iter=1),
        True,
    )


def test_store_is_bypassed_past_the_budget(spark, flat_index, monkeypatch):
    """A snapshot counts its rows × dim and its sidecar's centroids and
    codebooks. A held snapshot is dropped as soon as the budget shrinks
    below that; the store then holds nothing, and every probe collects
    its probed slice (one job) and answers as the held index does."""
    path, vecs = flat_index
    q = _local_queries(spark, vecs)
    AI._RESIDENT.clear()
    held = [rows for rows, _ in _probe_thrice(spark, path, q)][-1]
    (snap,) = AI._RESIDENT._held.values()
    meta = AI.load_index_meta(path)
    books = len(meta["codebooks"]) * len(meta["codebooks"][0]) * (DIM // len(meta["codebooks"]))
    assert snap.scalars >= snap.rows * DIM + len(meta["centroids"]) * DIM + books
    monkeypatch.setattr(Q, "_PROBE_COLLECT_SCALARS", snap.scalars - 1)
    for i in range(3):
        got, jobs = _jobs(spark, f"bypass_{i}", lambda: _probe(spark, path, q))
        assert (got, jobs) == (held, 1)
        assert not AI._RESIDENT._held


def test_store_remembers_few_roots(spark, flat_index, monkeypatch):
    """The store remembers the latest version of at most ``_SEEN_ROOTS``
    data roots: a root pushed out by others is a first probe again."""
    path, vecs = flat_index
    q = _local_queries(spark, vecs)
    monkeypatch.setattr(AI, "_SEEN_ROOTS", 2)
    AI._RESIDENT.clear()
    _probe_thrice(spark, path, q)
    for other in ("a", "b"):
        AI._RESIDENT.get((other, 0, (), None), lambda: None)
    assert len(AI._RESIDENT._seen) == 2
    assert [jobs for _, jobs in _probe_thrice(spark, path, q)] == [0, 0, 0]
    for other in ("c", "d"):
        AI._RESIDENT.get((other, 0, (), None), lambda: None)
    AI._RESIDENT._held.clear()
    assert [jobs for _, jobs in _probe_thrice(spark, path, q)] == [1, 1, 0]


def test_concurrent_cold_probes_fill_once(spark, flat_index, monkeypatch):
    """Four threads probing one cold index all get the cold answer. One
    of them is the version's first probe and collects its slice; the
    store is filled once (two jobs across all four)."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    path, vecs = flat_index
    q = _local_queries(spark, vecs)
    AI._RESIDENT.clear()
    want = _probe(spark, path, q)
    AI._RESIDENT.clear()
    fills = []
    fill = AI._fill
    monkeypatch.setattr(AI, "_fill", lambda *a: fills.append(1) or fill(*a))
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(4) as ex:
            futs = [
                ex.submit(_jobs, spark, f"thread_{i}", lambda: _probe(spark, path, q))
                for i in range(4)
            ]
            results = [f.result(timeout=300) for f in futs]
    finally:
        sys.setswitchinterval(switch)
    assert [r[0] for r in results] == [want] * 4
    assert len(fills) == 1
    assert sum(r[1] for r in results) == 2


@pytest.mark.parametrize("vacuum", [False, True], ids=["held", "vacuum"])
@pytest.mark.parametrize("state", ["first", "fill"])
def test_probe_reads_one_manifest_snapshot(spark, tmp_path, monkeypatch, state, vacuum):
    """A rebuild that commits right after the probe has read the
    manifest must not pair the old parameters with the new codes,
    whether the probe is the version's first (sidecar and slice read
    after the commit) or its second (the fill reads them after the
    commit). With the rebuild's vacuum held back, the old version's
    files stay readable and the probe answers as a cold probe of the
    old index. With the vacuum run, the old sidecar is gone before the
    probe reads it: the probe re-reads the manifest and answers as a
    cold probe of the rebuilt index."""
    rng = np.random.default_rng(23)
    vecs = rng.normal(size=(200, DIM)).astype(np.float32)
    path = str(tmp_path / "idx")
    AI.build_ivfpq_index(
        spark,
        local_frame(spark, [(i, vecs[i].tolist()) for i in range(200)], _QSCHEMA),
        path, dim=DIM, m=4, ks=16, n_iter=1,
    )
    rebuilt = local_frame(
        spark, [(i, (vecs[i] ** 3).tolist()) for i in range(200)], _QSCHEMA
    )
    q = _local_queries(spark, vecs, n=8)
    AI._RESIDENT.clear()
    old = _probe(spark, path, q)
    if state == "first":
        AI._RESIDENT.clear()
    read = AI.txlog.read_manifest
    done = []

    def read_then_rebuild(root, *a, **kw):
        manifest = read(root, *a, **kw)
        if not done:  # rebuild_index reads the manifest through here too
            done.append(True)
            with pytest.MonkeyPatch.context() as mp:
                if not vacuum:
                    mp.setattr(AI.txlog, "vacuum", lambda *a, **kw: [])
                AI.rebuild_index(spark, rebuilt, path)
        return manifest

    monkeypatch.setattr(AI.txlog, "read_manifest", read_then_rebuild)
    got = _probe(spark, path, q)
    monkeypatch.undo()
    AI._RESIDENT.clear()
    new = _probe(spark, path, q)
    assert done and old != new
    assert got == (new if vacuum else old)


def test_rerank_shortlist_from_footers(spark, flat_index, monkeypatch):
    """``probe_index_rerank`` derives its shortlist depth from the
    committed files' footers: the depth is the one a count of the index
    gives, without the count's two jobs (its scan and aggregate stages).
    The first two rerank requests of a version start five jobs — the
    slice collect, then the fill, and the re-rank's join — and a warm
    one four."""
    path, vecs = flat_index
    corpus = local_frame(
        spark, [(i, vecs[i].tolist()) for i in range(len(vecs))], _QSCHEMA
    )
    q = _local_queries(spark, vecs)
    seen = []
    derived = Q.derived_shortlist
    monkeypatch.setattr(Q, "derived_shortlist", lambda n: seen.append(n) or derived(n))
    AI.probe_index_rerank(spark, path, q, corpus, k=5).collect()  # warm the session
    AI._RESIDENT.clear()
    got = [
        _jobs(
            spark,
            f"rerank_{state}",
            lambda: AI.probe_index_rerank(spark, path, q, corpus, k=5).collect(),
        )
        for state in ("first", "fill", "warm")
    ]
    assert seen[-3:] == [AI.read_index(spark, path).count()] * 3 == [len(vecs)] * 3
    assert [len(rows) for rows, _ in got] == [4 * 5] * 3
    assert [jobs for _, jobs in got] == [5, 5, 4]
