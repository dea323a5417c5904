"""BM25 retrieval (operators.retrieval) gates beyond the registry
oracle row: hand-computed reference scores on a tiny corpus, ranking
semantics, and the scale shape (map-only scoring, TakeOrdered top-k).
"""

from __future__ import annotations

import math

import pytest

from project_clinical_data_etl_pipeline_spark.operators.retrieval import bm25_topk

K1, B = 1.2, 0.75


def _ref_bm25(corpus: list[str], terms: list[str], k1=K1, b=B) -> list[float]:
    """Plain-Python BM25 (unrounded — tests use approx compare)."""
    toks = [c.lower().split() for c in corpus]
    n = len(corpus)
    avgdl = sum(len(t) for t in toks) / n
    scores = []
    for t in toks:
        s = 0.0
        for term in terms:
            df = sum(1 for other in toks if term in other)
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            tf = t.count(term)
            s += idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * len(t) / avgdl))
        scores.append(s)
    return scores


CORPUS = [
    "spark spark spark runs fast",
    "spark table join table",
    "the quick brown fox",
    "table of data and data",
    "spark",
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id bigint, text string"
    )


def test_bm25_matches_reference_scores(spark, docs):
    out = {
        r["doc_id"]: r["score"]
        for r in bm25_topk(docs, ["spark", "table"], k=10).collect()
    }
    ref = _ref_bm25(CORPUS, ["spark", "table"])
    # doc 2 matches nothing → excluded
    assert set(out) == {0, 1, 3, 4}
    for i in out:
        assert out[i] == pytest.approx(ref[i], abs=2e-6)


def test_bm25_ranking_properties(spark, docs):
    rows = bm25_topk(docs, ["spark"], k=10).collect()
    ranked = [r["doc_id"] for r in rows]
    # only spark-containing docs, scores strictly ordered desc
    assert set(ranked) == {0, 1, 4}
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # short doc 4 (pure hit) outranks long doc 1 (single hit among 4
    # tokens); tf-saturated doc 0 still wins
    assert ranked[0] == 0 and ranked.index(4) < ranked.index(1)


def test_bm25_k_boundary_deterministic(spark):
    # identical docs tie exactly → doc_id ascending breaks the tie
    df = spark.createDataFrame(
        [(i, "same words here") for i in range(10)], "doc_id bigint, text string"
    )
    rows = bm25_topk(df, ["same"], k=3).collect()
    assert [r["doc_id"] for r in rows] == [0, 1, 2]


def test_bm25_plan_is_map_only_topk(spark, sf_dir):
    from project_clinical_data_etl_pipeline_spark.queries.llmdata import (
        bm25_search,
    )

    df = bm25_search(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    for op in ("Join", "BatchEvalPython", "Generate"):
        assert op not in plan, f"bm25 scoring plan grew a {op}:\n{plan}"


def test_bm25_duckdb_parity_on_adversarial_unicode(spark, tmp_path):
    """Spark-vs-DuckDB BM25 twin on inputs the graded oracle's
    ASCII-ish synthetic corpus does not cover: multi-byte tokens,
    emoji, mixed scripts, repeated terms, empty and whitespace-only
    docs (the tokenizer's \\s+ and the stats CTE must agree)."""
    import duckdb

    from project_clinical_data_etl_pipeline_spark.operators.retrieval import (
        bm25_sql,
        bm25_topk,
    )

    texts = [
        "spark über alles spark",
        "日本語 spark テキスト",
        "😀 spark 😀 table 😀",
        "table    table\ttable\nspark",
        "   ",
        "",
        "no match here",
        "spark " * 30,
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(path)

    got = sorted(
        (r["doc_id"], repr(r["score"]))
        for r in bm25_topk(
            spark.read.parquet(path), ["spark", "table"], k=10
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    want = sorted(
        (r[0], repr(r[1]))
        for r in con.execute(bm25_sql(["spark", "table"], k=10)).fetchall()
    )
    assert got == want


def test_rrf_fuse_hand_computed(spark):
    """RRF on two tiny rank lists vs the closed form: doc 1 is rank 1
    in both systems (2/(61)), doc 2 only lexical rank 2 (1/62), doc 3
    only dense rank 2 (1/62) — ties broken by id."""
    from project_clinical_data_etl_pipeline_spark.operators.retrieval import (
        rrf_fuse,
    )

    lex = spark.createDataFrame([(1, 1), (2, 2)], "doc_id bigint, rank bigint")
    den = spark.createDataFrame([(1, 1), (3, 2)], "doc_id bigint, rank bigint")
    rows = {r["doc_id"]: r for r in rrf_fuse([lex, den], topk=10).collect()}
    assert rows[1]["rank"] == 1
    assert rows[1]["score"] == pytest.approx(2 / 61, abs=1e-8)
    assert rows[2]["score"] == rows[3]["score"] == pytest.approx(1 / 62, abs=1e-8)
    assert rows[2]["rank"] == 2 and rows[3]["rank"] == 3  # id tiebreak

    import pytest as _p

    with _p.raises(ValueError):
        rrf_fuse([])


def test_bm25_multi_bit_equal_to_per_query(spark, docs):
    """The batched variant must reproduce bm25_topk EXACTLY per query —
    same docs, same bit-pattern scores, same order — including a query
    whose terms overlap another's, a term absent from the corpus
    (df=0 idf branch), and a doc matching no term of one query."""
    from project_clinical_data_etl_pipeline_spark.operators.retrieval import (
        bm25_topk_multi,
    )

    queries = {
        "qa": ["spark", "table"],
        "qb": ["table", "data"],
        "qc": ["missingterm", "fox"],
    }
    multi = bm25_topk_multi(docs, queries, k=10)
    # consume via the documented contract: sort by (query_id, rank)
    assert multi.columns == ["query_id", "rank", "doc_id", "score"]
    got: dict[str, list] = {}
    ranks: dict[str, list] = {}
    for r in multi.orderBy("query_id", "rank").collect():
        got.setdefault(r["query_id"], []).append(
            (r["doc_id"], repr(r["score"]))
        )
        ranks.setdefault(r["query_id"], []).append(r["rank"])
    for qid, terms in queries.items():
        want = [
            (r["doc_id"], repr(r["score"]))
            for r in bm25_topk(docs, terms, k=10).collect()
        ]
        assert got.get(qid, []) == want, qid
        # rank is 1..n contiguous in bm25_topk's exact order
        assert ranks.get(qid, []) == list(range(1, len(want) + 1)), qid


def test_bm25_multi_chunked_legs_parity(spark, docs, monkeypatch):
    """_MAX_LEGS_PER_PLAN bounds Catalyst analysis per plan (legs are
    unioned and lineage-cut every chunk); results must be identical to
    the unchunked plan for every chunk boundary shape — including a
    final partial chunk and chunk size 1."""
    from project_clinical_data_etl_pipeline_spark.operators import retrieval
    from project_clinical_data_etl_pipeline_spark.operators.retrieval import (
        bm25_topk_multi,
    )

    queries = {
        f"q{i}": ts
        for i, ts in enumerate(
            [["spark"], ["table", "data"], ["fox"], ["spark", "fox"],
             ["data"]]
        )
    }

    def snap(df):
        return [
            (r["query_id"], r["rank"], r["doc_id"], repr(r["score"]))
            for r in df.orderBy("query_id", "rank").collect()
        ]

    want = snap(bm25_topk_multi(docs, queries, k=4))
    for legs in (1, 2):
        monkeypatch.setattr(retrieval, "_MAX_LEGS_PER_PLAN", legs)
        assert snap(bm25_topk_multi(docs, queries, k=4)) == want, legs


def test_bm25_multi_adversarial_unicode_parity(spark, tmp_path):
    """Batched parity holds on the adversarial corpus too (multi-byte
    tokens, emoji, empty/whitespace docs) with a small k boundary."""
    from project_clinical_data_etl_pipeline_spark.operators.retrieval import (
        bm25_topk_multi,
    )

    texts = [
        "spark über alles spark",
        "日本語 spark テキスト",
        "😀 spark 😀 table 😀",
        "table    table\ttable\nspark",
        "   ",
        "",
        "no match here",
        "spark " * 30,
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    queries = {"q1": ["spark", "table"], "q2": ["über", "match"]}
    multi = bm25_topk_multi(docs, queries, k=3)
    got: dict[str, list] = {}
    for r in multi.orderBy("query_id", "rank").collect():
        got.setdefault(r["query_id"], []).append((r["doc_id"], repr(r["score"])))
    for qid, terms in queries.items():
        want = [
            (r["doc_id"], repr(r["score"]))
            for r in bm25_topk(docs, terms, k=3).collect()
        ]
        assert got.get(qid, []) == want, qid


def test_bm25_multi_single_text_scan(spark, docs):
    """The whole point of the batched variant: the corpus text column
    is tokenized in ONE scan subtree regardless of query count. The
    compact frame is localCheckpointed, so the executed plan of the
    scored union must not re-run words_array per query — no Generate
    (explode) survives past the checkpoint."""
    from project_clinical_data_etl_pipeline_spark.operators.retrieval import (
        bm25_topk_multi,
    )

    queries = {f"q{i}": ["spark", "table"] for i in range(4)}
    out = bm25_topk_multi(docs, queries, k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan, plan
    assert out.count() > 0


def test_bm25_multi_validates_terms(spark, docs):
    from project_clinical_data_etl_pipeline_spark.operators.retrieval import (
        bm25_topk_multi,
    )

    with pytest.raises(ValueError):
        bm25_topk_multi(docs, {})
    with pytest.raises(ValueError):
        bm25_topk_multi(docs, {"q": ["bad'term"]})


def test_bm25_multi_empty_corpus_schema(spark):
    """The empty-corpus early-return must carry the SAME four-column
    contract as the scored path (a consumer selecting rank must not
    AnalysisException only when the corpus is empty)."""
    from project_clinical_data_etl_pipeline_spark.operators.retrieval import (
        bm25_topk_multi,
    )

    docs = spark.createDataFrame([], "doc_id bigint, text string")
    out = bm25_topk_multi(docs, {"q": ["spark"]})
    assert out.columns == ["query_id", "rank", "doc_id", "score"]
    assert out.count() == 0
