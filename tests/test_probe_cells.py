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
  package hands it, so collecting or broadcasting it starts no job.
- A probe over a persisted flat index with a local query set starts a
  pinned number of jobs while the frame is built — the first
  construct-time job-count pin.
"""

from __future__ import annotations

import numpy as np
import pytest

from project_clinical_data_etl_pipeline_spark.operators import ann_index as AI
from project_clinical_data_etl_pipeline_spark.operators import quantization as Q
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


def _spark_cells(queries, centroids, n_probe):
    q = Q._query_frame(queries, DIM, "vec_id", "embedding")
    return sorted(
        (r["query_id"], r["cell"])
        for r in Q._spark_probe_cells(q, centroids, DIM, n_probe).collect()
    )


def _driver_cells(queries, centroids, n_probe):
    q = Q._query_frame(queries, DIM, "vec_id", "embedding")
    picked = Q._pick_cells_local(q.collect(), centroids, DIM, n_probe)
    return None if picked is None else sorted((p[0], p[3]) for p in picked)


def _probe_rows(queries, centroids, n_probe):
    cells, frame = Q._probe_cells(
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
            cells, frame = Q._collect_probes(
                Q._spark_probe_cells(
                    Q._query_frame(q, DIM, "vec_id", "embedding"), cents, DIM, 2
                ),
                DIM,
            )
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
    spark_frame = Q._spark_probe_cells(
        Q._query_frame(q, DIM, "vec_id", "embedding"), cents, DIM, 3
    )
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


@pytest.fixture(scope="module")
def flat_index(spark, tmp_path_factory):
    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(256, DIM)).astype(np.float32)
    corpus = local_frame(
        spark, [(i, vecs[i].tolist()) for i in range(len(vecs))], _QSCHEMA
    )
    path = str(tmp_path_factory.mktemp("flat_idx"))
    AI.build_ivfpq_index(spark, corpus, path, dim=DIM, m=4, ks=16, n_iter=1)
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


def test_probe_index_construct_job_count(spark, flat_index):
    """Construct (building the result frame) starts no job: the query
    rows of a local query set are collected without one, the cells are
    picked on the driver, and the index schema comes from a footer.
    Only the terminal collect runs jobs. An extra collect, count or
    checkpoint added on this path fails the pin."""
    path, vecs = flat_index
    q = local_frame(
        spark, [(10_000 + i, vecs[i].tolist()) for i in range(4)], _QSCHEMA
    )
    AI.probe_index(spark, path, q, k=5).collect()  # warm the session
    out, construct = _jobs(
        spark, "probe_construct", lambda: AI.probe_index(spark, path, q, k=5)
    )
    assert construct == 0
    rows, _ = _jobs(spark, "probe_execute", out.collect)
    assert len(rows) == 4 * 5
