"""Probe scoring (operators.quantization._score_cells): the driver
scorer must return exactly what the Spark tail returns — the rows
(query_id, neighbor_id, cosine bits, rank) and the schema, nullability
included — for the flat, residual and two-level (IMI) geometries.

The Spark tail is forced by shrinking ``_PROBE_COLLECT_SCALARS`` to 1:
the query rows no longer fit, the probe frame is checkpointed, and no
rows reach the scorer. The crafted cases are the ones where the tail's
filters and order decide: equal cosines, a query id present in the
index, corrupt codes, NULL ids, duplicate query ids and ``k=0``. Inputs
the driver path does not reproduce (a zero-norm decoded vector, an
over-budget slice) must take the Spark tail and answer as it does.
"""

from __future__ import annotations

import numpy as np
import pytest

from project_clinical_data_etl_pipeline_spark.operators import quantization as Q
from project_clinical_data_etl_pipeline_spark.session import local_frame

DIM = 16
_QSCHEMA = "vec_id bigint, embedding array<float>"
_ISCHEMA = "neighbor_id bigint, cell bigint, pq_code array<bigint>"


def _f32(a):
    return np.asarray(a, dtype=np.float32).astype(np.float64).tolist()


def _queries(spark, vecs, ids=None):
    ids = list(range(len(vecs))) if ids is None else ids
    return local_frame(spark, [(i, list(v)) for i, v in zip(ids, vecs)], _QSCHEMA)


def _rows(df):
    return sorted(
        (r["query_id"], r["neighbor_id"], None if r["cosine"] is None else r["cosine"].hex(), r["rank"])
        for r in df.collect()
    )


def _is_local(df) -> bool:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LocalRelation"


def _outcome(fn):
    """``fn()``'s value, or the class name of what it raised."""
    try:
        return fn()
    except Exception as e:  # noqa: BLE001 — the error IS the behavior
        return type(e).__name__


def _both(monkeypatch, build):
    """(driver rows, Spark-tail rows), the schemas equal, the driver
    result a local relation."""
    fast = build()
    assert _is_local(fast)
    with monkeypatch.context() as mp:
        mp.setattr(Q, "_PROBE_COLLECT_SCALARS", 1)
        slow = build()
        assert not _is_local(slow)
        assert fast.schema == slow.schema
        return _rows(fast), _rows(slow)


def _books(rng, m, ks, w):
    return rng.normal(size=(m, ks, w)).tolist()


@pytest.mark.parametrize("ks", [8, 512])  # a small and a large codebook set
def test_flat_driver_scorer_matches_spark_tail(spark, monkeypatch, ks):
    rng = np.random.default_rng(ks)
    cents = rng.normal(size=(6, DIM)).tolist()
    books = _books(rng, 4, ks, DIM // 4)
    index = local_frame(
        spark,
        [(i, int(rng.integers(6)), rng.integers(ks, size=4).tolist()) for i in range(300)],
        _ISCHEMA,
    )
    q = _queries(spark, _f32(rng.normal(size=(5, DIM))))
    for k, n_probe in ((5, 2), (40, 3), (1, 6)):
        fast, slow = _both(
            monkeypatch,
            lambda: Q.ivfpq_topk(q, index, cents, books, DIM, k=k, n_probe=n_probe),
        )
        assert fast == slow and len(fast) == 5 * k


def test_residual_driver_scorer_matches_spark_tail(spark, monkeypatch):
    rng = np.random.default_rng(21)
    corpus = _queries(spark, _f32(rng.normal(size=(200, DIM))))
    cents = rng.normal(size=(6, DIM)).tolist()
    books = Q.pq_train(Q.ivf_residuals(corpus, cents, DIM), dim=DIM, vec_col="__res", m=4, ks=8, n_iter=1)
    index = Q.ivfpq_index_residual(corpus, cents, books, DIM)
    q = _queries(spark, _f32(rng.normal(size=(4, DIM))), ids=[3, 50, 1000, 1001])
    fast, slow = _both(
        monkeypatch,
        lambda: Q.ivfpq_topk_residual(q, index, cents, books, DIM, k=7, n_probe=3),
    )
    assert fast == slow and len(fast) == 4 * 7


def test_imi_driver_scorer_matches_spark_tail(spark, monkeypatch):
    rng = np.random.default_rng(31)
    corpus = _queries(spark, _f32(rng.normal(size=(200, DIM))))
    cents1, cents2 = Q.imi_train(corpus, DIM, k1=4, k2=4, n_iter=1)
    books = Q.pq_train(corpus, dim=DIM, m=4, ks=8, n_iter=1)
    index = Q.imi_index(corpus, cents1, cents2, books, DIM)
    q = _queries(spark, _f32(rng.normal(size=(4, DIM))), ids=[5, 60, 1000, 1001])
    fast, slow = _both(
        monkeypatch,
        lambda: Q.imi_topk(q, index, cents1, cents2, books, DIM, k=6, n_probe1=2, n_probe2=2),
    )
    assert fast == slow and len(fast) == 4 * 6


def test_driver_scorer_edge_cases_match_spark_tail(spark, monkeypatch):
    """Equal cosines (index rows with one code under several ids) order
    by neighbor id; a query id present in the index is not its own
    neighbour; NULL, short, NULL-element and out-of-range codes and NULL
    neighbor ids are dropped; ``k=0`` returns no rows."""
    rng = np.random.default_rng(41)
    cents = rng.normal(size=(2, DIM)).tolist()
    books = _books(rng, 4, 8, DIM // 4)
    rows = []
    for cell in (0, 1):
        for i in range(12):
            code = rng.integers(8, size=4).tolist()
            for dup in range(3):  # three ids per code: equal cosines
                rows.append((cell * 100 + i * 3 + dup, cell, code))
    rows += [
        (900, 0, None),
        (901, 0, [1, 2, 3]),
        (902, 1, [1, None, 3, 4]),
        (903, 0, [1, 2, 8, 0]),
        (904, 1, [0, -1, 2, 3]),
        (None, 0, [1, 2, 3, 4]),
        (None, 1, [4, 3, 2, 1]),
        (905, 1, [0, 1, 2, 3, 99]),  # longer than m: the first m count
    ]
    index = local_frame(spark, rows, _ISCHEMA)
    q = _queries(spark, _f32(rng.normal(size=(3, DIM))), ids=[4, 105, 7000])
    for k in (0, 4, 50):
        fast, slow = _both(
            monkeypatch,
            lambda: Q.ivfpq_topk(q, index, cents, books, DIM, k=k, n_probe=2),
        )
        assert fast == slow
        assert len(fast) == 3 * k
        assert not any(r[0] == r[1] or r[1] in (None, 900, 901, 902, 903, 904) for r in fast)


def test_duplicate_and_null_query_ids_match_spark_tail(spark, monkeypatch):
    """A duplicated query id is one window partition (its probe rows'
    candidates rank together, repeats included); a NULL query id
    matches nothing. Both reach the scorer through the Spark cell
    selection, whose collected rows the driver still scores."""
    rng = np.random.default_rng(51)
    cents = rng.normal(size=(4, DIM)).tolist()
    books = _books(rng, 4, 8, DIM // 4)
    index = local_frame(
        spark,
        [(i, int(rng.integers(4)), rng.integers(8, size=4).tolist()) for i in range(120)],
        _ISCHEMA,
    )
    v = _f32(rng.normal(size=(3, DIM)))
    for ids, vecs in (([7, 7, 8], v), ([7, 7], [v[0], v[0]]), ([None, 8], v[:2])):
        q = _queries(spark, vecs, ids=ids)
        fast, slow = _both(
            monkeypatch,
            lambda: Q.ivfpq_topk(q, index, cents, books, DIM, k=9, n_probe=2),
        )
        assert fast == slow and fast, ids


def test_zero_norm_decoded_vector_raises_as_spark_does(spark, monkeypatch):
    """A decoded vector of norm 0 makes the Spark tail divide by zero,
    which raises under ANSI arithmetic: the driver path must not answer
    instead."""
    rng = np.random.default_rng(61)
    cents = rng.normal(size=(2, DIM)).tolist()
    books = _books(rng, 4, 8, DIM // 4)
    for s in range(4):
        books[s][0] = [0.0] * (DIM // 4)
    index = local_frame(
        spark,
        [(i, i % 2, [1 + i % 7, 2, 3, 4]) for i in range(20)] + [(50, 0, [0, 0, 0, 0])],
        _ISCHEMA,
    )
    q = _queries(spark, _f32(rng.normal(size=(2, DIM))))

    def run(k):
        return lambda: _rows(Q.ivfpq_topk(q, index, cents, books, DIM, k=k, n_probe=2))

    fast = {k: _outcome(run(k)) for k in (5, 0)}
    assert isinstance(fast[5], str), fast  # the Spark tail raises
    monkeypatch.setattr(Q, "_PROBE_COLLECT_SCALARS", 1)
    assert {k: _outcome(run(k)) for k in (5, 0)} == fast


def test_over_budget_slice_takes_spark_tail(spark, monkeypatch):
    """A budget that holds the probe rows but not the slice sends the
    scoring to the Spark tail, with identical rows; pair work past the
    budget does too."""
    rng = np.random.default_rng(71)
    cents = rng.normal(size=(3, DIM)).tolist()
    books = _books(rng, 4, 8, DIM // 4)
    index = local_frame(
        spark,
        [(i, i % 3, rng.integers(8, size=4).tolist()) for i in range(90)],
        _ISCHEMA,
    )
    q = _queries(spark, _f32(rng.normal(size=(4, DIM))))

    def build():
        return Q.ivfpq_topk(q, index, cents, books, DIM, k=5, n_probe=2)

    fast = build()
    assert _is_local(fast)
    monkeypatch.setattr(Q, "_PROBE_COLLECT_SCALARS", 4 * 2 * DIM)  # probe rows only
    slow = build()
    assert not _is_local(slow)
    assert _rows(slow) == _rows(fast) and slow.schema == fast.schema

    # pair work: 4 probe rows x 30 slice rows x DIM is over a budget
    # that holds the 30-row slice
    probe_rows = [(i, [1.0] * DIM, 4.0, 0) for i in range(4)]
    slice_rows = [(100 + i, 0, [0, 1, 2, 3]) for i in range(30)]
    monkeypatch.setattr(Q, "_PROBE_COLLECT_SCALARS", 30 * DIM)
    assert Q._score_local(probe_rows, slice_rows, books, DIM, 5) is None
    monkeypatch.setattr(Q, "_PROBE_COLLECT_SCALARS", 4 * 30 * DIM)
    assert len(Q._score_local(probe_rows, slice_rows, books, DIM, 5)) == 4 * 5


def test_residual_tail_plan_stays_flat_sized_at_dim_64(spark, sf_dir, monkeypatch):
    """The residual reconstruction adds the coarse centroid of each
    row's cell to its decoded vector, and the residual encode subtracts
    it. Over a lazily-encoded index the optimizer copies the residual
    into every term of the encode that the decode's code guard is
    pushed into; with the centroid table an inlined literal, that made
    a dim-64 tail plan 80 times the flat tail's, which ran out of
    driver heap. With the table one broadcast one-row frame the plan
    stays within twice the flat tail's, and the rows equal the driver
    path's."""
    from project_clinical_data_etl_pipeline_spark.tables import load

    dim = 64
    rng = np.random.default_rng(81)
    cents = rng.normal(size=(8, dim)).tolist()
    books = _books(rng, 8, 16, dim // 8)
    corpus = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = _queries(spark, _f32(rng.normal(size=(8, dim))), ids=list(range(8)))

    def build(topk, encode):
        return topk(q, encode(corpus, cents, books, dim), cents, books, dim, k=5, n_probe=3)

    fast = build(Q.ivfpq_topk_residual, Q.ivfpq_index_residual)
    assert _is_local(fast)
    with monkeypatch.context() as mp:
        mp.setattr(Q, "_PROBE_COLLECT_SCALARS", 1)
        residual = build(Q.ivfpq_topk_residual, Q.ivfpq_index_residual)
        flat = build(Q.ivfpq_topk, Q.ivfpq_index)
        sizes = [
            len(df._jdf.queryExecution().optimizedPlan().toString())
            for df in (residual, flat)
        ]
        assert sizes[0] <= 2 * sizes[1], sizes
        assert fast.schema == residual.schema
        assert _rows(residual) == _rows(fast)
    assert len(_rows(fast)) == 8 * 5
