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
  building the frame and collecting it — the job-count pin, for the
  flat geometry over a local and an RDD-backed query set and for the
  two-level (IMI) geometry.
"""

from __future__ import annotations

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
    q = S._query_frame(queries, DIM, "vec_id", "embedding")
    picked = Q._pick_cells_local(q.collect(), centroids, DIM, n_probe)
    return None if picked is None else sorted((p[0], p[3]) for p in picked)


def _probe_rows(queries, centroids, n_probe):
    cells, frame, _ = Q._probe_cells(
        queries, centroids, DIM, n_probe, "vec_id", "embedding"
    )
    return cells, sorted(
        (r["query_id"], r["cell"], r["__qn"], tuple(r["__qv"] or ()))
        for r in frame.collect()
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
    arithmetic a zero-norm query's cosine is a division by zero."""
    rng = np.random.default_rng(5)
    cents = rng.normal(size=(8, DIM)).tolist()
    good = _f32(rng.normal(size=(3, DIM)))
    cases = {
        "null vector": good + [None],
        "null element": good + [[None] + good[0][1:]],
        "zero norm": good + [[0.0] * DIM],
    }
    for name, vecs in cases.items():
        q = _queries(spark, vecs)
        assert _driver_cells(q, cents, 2) is None, name

        def spark_path():
            cells, frame, _ = Q._collect_probes(_spark_probes(q, cents, 2), DIM)
            return cells, sorted((r["query_id"], r["cell"]) for r in frame.collect())

        def selector():
            cells, rows = _probe_rows(q, cents, 2)
            return cells, [r[:2] for r in rows]

        want = _outcome(spark_path)
        assert _outcome(selector) == want, name
        if name.startswith("null"):
            assert isinstance(want, tuple) and len(want[1]) == 4 * 2, name
    # a duplicated query id is one window partition in Spark: fallback
    q = _queries(spark, good[:2], ids=[7, 7])
    assert _driver_cells(q, cents, 2) is None


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


def test_probe_index_construct_job_count(spark, flat_index, imi_index):
    """Jobs per probe, building the result frame and collecting it.
    Flat over a local query set: one — the probed slice's collect; the
    query rows are collected without a job, the cells picked and the
    slice scored on the driver, and the result is a local relation.
    Flat over a ``createDataFrame(list)`` query set: two — its bounded
    collect is one job at the session's ``limit.initialNumPartitions``
    (Spark's incremental take would make it two). Two-level: the
    level-2 ranking window's collect adds its jobs to the slice's.
    An extra collect, count or checkpoint on any path fails the pin."""
    for name, (path, vecs), kind, want in (
        ("flat", flat_index, "local", 1),
        ("flat", flat_index, "rdd", 2),
        ("imi", imi_index, "local", 5),
    ):
        rows = [(10_000 + i, vecs[i].tolist()) for i in range(4)]
        if kind == "local":
            q = local_frame(spark, rows, _QSCHEMA)
        else:
            q = spark.createDataFrame(rows, _QSCHEMA)
        AI.probe_index(spark, path, q, k=5).collect()  # warm the session
        got, jobs = _jobs(
            spark,
            f"probe_{name}_{kind}",
            lambda: AI.probe_index(spark, path, q, k=5).collect(),
        )
        assert len(got) == 4 * 5, (name, kind)
        assert jobs == want, (name, kind, jobs)
