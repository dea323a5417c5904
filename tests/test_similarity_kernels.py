"""Kernel-equivalence gates for Voronoi cell assignment
(operators.similarity.cell_assign): the Arrow kernel must be
BIT-IDENTICAL to the literal-expression kernel it bounds the plan cost
of — same cell ids, same tie behavior — and the size switch must keep
graded-scale centroid sets all-JVM while corpus-scale k (SemDeDup's
k = sqrt(n)) takes the O(1)-plan Arrow path. On a malformed vector both
kernels of the assignment and of the PQ encode give one answer.
"""

from __future__ import annotations

import math
import re
import sys
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from project_clinical_data_etl_pipeline_spark.operators import quantization as Q
from project_clinical_data_etl_pipeline_spark.operators import similarity as S
from project_clinical_data_etl_pipeline_spark.session import local_frame
from project_clinical_data_etl_pipeline_spark.tables import load

DIM = 64

#: cell_assign and pq_encode pick their kernel by size: moving the
#: bound forces one
_BOUND = {"expr": sys.maxsize, "arrow": 0}


def _force(monkeypatch, kernel):
    monkeypatch.setattr(S, "_ASSIGN_EXPR_MAX_SCALARS", _BOUND[kernel])
    monkeypatch.setattr(Q, "_EXPR_KERNEL_MAX_SCALARS", _BOUND[kernel])


@pytest.fixture(scope="module")
def vecs(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.col("embedding").alias("__v"),
        S.norm(F.col("embedding"), DIM).alias("__n"),
    )


@pytest.fixture(scope="module")
def centroids(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    return S.kmeans_centroids(e, dim=DIM, n_iter=2, round_dp=6)


def _assign(vecs, cents, monkeypatch=None, kernel=None):
    """Cell ids by the size-picked kernel, or by ``kernel`` when given."""
    if kernel is not None:
        _force(monkeypatch, kernel)
    return {
        r["vec_id"]: r["c"]
        for r in vecs.select(
            "vec_id", S.cell_assign("__v", "__n", cents, DIM).alias("c")
        ).collect()
    }


def test_arrow_assignment_matches_expr(vecs, centroids, monkeypatch):
    arrow = _assign(vecs, centroids, monkeypatch, "arrow")
    assert arrow == _assign(vecs, centroids, monkeypatch, "expr")


def test_tie_goes_to_lowest_id_in_both_kernels(vecs, centroids, monkeypatch):
    dup = [centroids[0], centroids[0], centroids[1]]
    a = _assign(vecs, dup, monkeypatch, "expr")
    b = _assign(vecs, dup, monkeypatch, "arrow")
    assert a == b
    assert 1 not in set(a.values())  # duplicate centroid never wins


def test_auto_switch_on_centroid_scalars(vecs, centroids):
    small = vecs.select(S.cell_assign("__v", "__n", centroids, DIM).alias("c"))
    plan = small._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan  # graded k stays all-JVM

    big_k = S._ASSIGN_EXPR_MAX_SCALARS // DIM + 1
    big_cents = [
        [((i * 31 + j * 7) % 101) / 101.0 + 0.01 for j in range(DIM)]
        for i in range(big_k)
    ]
    big = vecs.select(S.cell_assign("__v", "__n", big_cents, DIM).alias("c"))
    bplan = big._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in bplan
    assert "BatchEvalPython" not in bplan


def test_large_k_assignment_bounded_and_correct(vecs, monkeypatch):
    """SemDeDup-scale k: assignment over k=256 centroids (16384 scalars
    — past the literal-expression bound) must run through the Arrow
    kernel in bounded wall time AND agree with the expression kernel on
    a sample (the expr side pays its analysis cost once, here)."""
    k = 256
    cents = [
        [((i * 131 + j * 17) % 997) / 997.0 + 0.001 for j in range(DIM)]
        for i in range(k)
    ]
    sample = vecs.filter(F.col("vec_id") < 64)
    t0 = time.time()
    via_auto = _assign(sample, cents)
    elapsed = time.time() - t0
    assert elapsed < 30, f"k=256 arrow assignment took {elapsed:.1f}s"
    via_expr = _assign(sample, cents, monkeypatch, "expr")
    assert via_auto == via_expr


_W = 8  # vector width: the assignment's dim, the encode's m·subdim
_GOOD = [0.5, -1.25, 2.0, 0.75, -0.5, 1.5, -2.0, 0.25]
_BAD = {
    "null vector": None,
    "null element": [None] + _GOOD[1:],
    # Arrow hands a NULL element to pandas as NaN: both are malformed
    "nan element": [float("nan")] + _GOOD[1:],
    "too few elements": _GOOD[:-1],
    "more than dim": _GOOD + [1e6, -3.0],
    "zero norm": [0.0] * _W,
}


def _fold_dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _ref_assign(v, cents):
    v = v[:_W]
    cos = [
        _fold_dot(v, c) / (math.sqrt(_fold_dot(v, v)) * math.sqrt(_fold_dot(c, c)))
        for c in cents
    ]
    return cos.index(max(cos))


def _ref_encode(v, books):
    w = len(books[0][0])
    code = []
    for s, book in enumerate(books):
        sub = v[s * w : (s + 1) * w]
        d = [_fold_dot(c, c) - 2.0 * _fold_dot(sub, c) for c in book]
        code.append(d.index(min(d)))
    return code


@pytest.mark.parametrize("kernel", ["expr", "arrow"])
@pytest.mark.parametrize("op", ["cell_assign", "pq_encode"])
@pytest.mark.parametrize("case", list(_BAD))
def test_malformed_vector_answer_is_kernel_independent(
    spark, monkeypatch, op, kernel, case
):
    """A bad row gets one answer whichever kernel runs: a NULL vector,
    a NULL or NaN element among the first dim (m·subdim for the encode)
    or fewer elements raises a named error; elements past that are
    ignored; a zero norm raises in the assignment, while its L2 encode
    is a valid code."""
    rng = np.random.default_rng(4)
    cents = rng.normal(size=(5, _W)).tolist()
    books = rng.normal(size=(2, 6, _W // 2)).tolist()
    # the well-formed head of a long vector is centroid 3 and codeword
    # (4, 4), away from the 0 a blanked cosine or distance falls to
    cents[3] = list(_GOOD)
    books[0][4], books[1][4] = _GOOD[:4], _GOOD[4:]
    rows = [(i, rng.normal(size=_W).tolist()) for i in range(3)] + [(9, _BAD[case])]
    df = local_frame(spark, rows, "vec_id bigint, v array<double>")
    _force(monkeypatch, kernel)
    if op == "cell_assign":
        out = df.withColumn("__n", S.norm("v")).select(
            "vec_id", S.cell_assign("v", "__n", cents, _W).alias("a")
        )
        ref = lambda v: _ref_assign(v, cents)  # noqa: E731
    else:
        out = Q.pq_encode(df, books, vec_col="v", code_col="a").select(
            "vec_id", "a"
        )
        ref = lambda v: _ref_encode(v, books)  # noqa: E731
    if case in ("null vector", "null element", "nan element", "too few elements") or (
        case == "zero norm" and op == "cell_assign"
    ):
        named = "zero-norm vector" if case == "zero norm" else "malformed vector"
        with pytest.raises(Exception, match=re.escape(f"{op}: {named}")):
            out.collect()
        return
    got = {r["vec_id"]: r["a"] for r in out.collect()}
    assert got == {i: ref(v) for i, v in rows}
    if case == "more than dim":
        assert got[9] == (3 if op == "cell_assign" else [4, 4])
