"""Lexical retrieval: BM25 scoring over a document corpus — the
keyword-search complement to the embedding-space ANN operators
(``operators.similarity``). A training-data pipeline uses this for
query-driven corpus probes, contamination checks against benchmark
queries, and hybrid (lexical ∪ dense) retrieval.

Scale shape (the kmeans/classifier pattern — one stats job, then pure
map work):

1. **Per-doc term stats are map-side**: for a FIXED small query-term
   set, per-term ``tf`` and doc length come from the materialized words
   array — no explode, no (doc, term) shuffle, no inverted index
   materialization for ad-hoc queries.
2. **Corpus stats are ONE partial-combine aggregate** (N, Σdl, per-term
   document frequency) — |terms|+2 scalars to the driver.
3. **Scoring inlines idf/avgdl as codegen literals** — a second map
   pass; ``TakeOrderedAndProject`` yields top-k without a global sort.

Cross-engine determinism: idf values round to 8 dp (libm ``ln`` shield),
scores to ``score_dp``; every arithmetic expression is spelled with the
IDENTICAL textual shape the DuckDB oracle uses (same association order,
same literals), so doubles match bit-for-bit.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..session import local_frame
from .classify import _round_half_up
from .similarity import _lit_double
from .text import words_array


def _check_terms(query_terms: list[str]) -> None:
    """Terms are spliced into generated SQL for BOTH engines: enforce
    plain lowercase quote-free words with a real error (an assert would
    vanish under ``python -O`` and let a quote break/inject the SQL)."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    for t in query_terms:
        if "'" in t or "\\" in t or t != t.lower() or not t:
            raise ValueError(
                f"query term {t!r} must be a non-empty lowercase word "
                "without quotes/backslashes"
            )


def _tf_expr(term: str) -> str:
    """tf of ``term`` in the materialized words array ``__ws`` (double).
    Callers validate via :func:`_check_terms` first."""
    return f"CAST(size(filter(__ws, w -> w = '{term}')) AS DOUBLE)"


def _term_score(tf: str, idf: float, avgdl: float, k1: float, b: float) -> str:
    """One term's BM25 contribution — textual shape shared with the SQL
    twin (:func:`bm25_sql`): idf · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)).
    Every float goes through the exact-double-literal form (a bare
    decimal literal parses as DECIMAL in both engines)."""
    one_minus_b = _lit_double(1.0 - b)
    return (
        f"{_lit_double(idf)} * ({tf} * {_lit_double(k1 + 1.0)}) / "
        f"({tf} + {_lit_double(k1)} * ({one_minus_b} + {_lit_double(b)}"
        f" * __dl / {_lit_double(avgdl)}))"
    )


def _idf8(n: int, df: int) -> float:
    """Robertson/Sparck Jones idf with the +1 floor (Lucene form),
    8-dp-rounded — the libm-ln shield shared by single and batched
    scoring (the bit-parity contract between them lives here)."""
    return _round_half_up(math.log((n - df + 0.5) / (df + 0.5) + 1.0), 8)


def _scored_topk(
    frame: DataFrame,
    terms: list[str],
    tf_expr,
    idfs: list[float],
    avgdl: float,
    k1: float,
    b: float,
    score_dp: int,
    k: int,
    id_col: str,
    lead_cols: tuple = (),
) -> DataFrame:
    """Shared BM25 scoring tail (single AND batched path — any change
    here is automatically mirrored, keeping their bit-parity): drop
    docs matching no term, left-associated per-term score chain with
    idf/avgdl inlined, rounded score as the sort key, (score DESC, id
    ASC) top-k. ``tf_expr(term) -> SQL fragment`` is the only thing the
    two paths disagree on (filter-count vs tf-map lookup)."""
    score = " + ".join(
        _term_score(tf_expr(t), idfs[j], avgdl, k1, b)
        for j, t in enumerate(terms)
    )
    matched = " + ".join(tf_expr(t) for t in terms)
    return (
        frame.filter(F.expr(matched) > 0)
        .select(
            *lead_cols,
            F.col(id_col),
            F.expr(f"round({score}, {score_dp})").alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    score_dp: int = 6,
    materialize: bool = True,
) -> DataFrame:
    """Top-``k`` documents by BM25 (Robertson/Sparck Jones idf with the
    +1 floor, as in Lucene) for a literal query-term list. Returns
    (id_col, score) ordered by (score DESC, id ASC) — the rounded score
    is the sort key, so the k-boundary is engine-deterministic.

    Job 1 aggregates corpus stats (N, Σdl, per-term df) map-side-
    combined; scoring is a pure map pass with idf/avgdl inlined. Docs
    matching no query term are filtered before the top-k heap.

    ``materialize`` (default True) lazily localCheckpoints the
    tokenized (id, words, dl) projection so the stats job and the
    scoring pass share ONE regex tokenization of the corpus — without
    it both passes re-tokenize, which the sf1 scale run measured as the
    dominant cost at 10x bench scale (11.2x growth for 10x data; the
    shared-scan form restores ~linear). Pass False to keep recomputable
    lineage on a real cluster and persist() yourself — same trade-off
    as :func:`bm25_topk_multi`.
    """
    _check_terms(query_terms)
    # NB deliberately NO fan_out before tokenizing: measured at sf1,
    # the repartition shuffle costs more than the regex split saves
    # (words_array is too cheap per row to be worth moving the text) —
    # the opposite call from the shingling/signature ops, where the
    # per-row work is 10-100x heavier
    base = docs.select(
        F.col(id_col), words_array(F.col(text_col)).alias("__ws")
    ).withColumn("__dl", F.expr("CAST(size(__ws) AS DOUBLE)"))
    if materialize:
        base = base.localCheckpoint(eager=False)

    stats = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__dl").cast("bigint").alias("total_dl"),
        *[
            F.sum((F.expr(_tf_expr(t)) > 0).cast("long")).alias(f"df{j}")
            for j, t in enumerate(query_terms)
        ],
    ).first()
    n = stats["n"]
    if n == 0 or stats["total_dl"] is None:
        # empty corpus, or every text NULL (sum skips NULLs → None):
        # nothing can match — return empty, preserving the caller's
        # actual id type (the SQL twin returns empty for the same input)
        return base.select(
            F.col(id_col), F.lit(0.0).alias("score")
        ).limit(0)
    avgdl = stats["total_dl"] / n
    idfs = [_idf8(n, stats[f"df{j}"]) for j in range(len(query_terms))]
    return _scored_topk(
        base, query_terms, _tf_expr, idfs, avgdl, k1, b, score_dp, k, id_col
    )


def bm25_topk_multi(
    docs: DataFrame,
    queries: dict[str, list[str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    score_dp: int = 6,
    materialize: bool = True,
    max_legs_per_plan: int = 32,
) -> DataFrame:
    """Batched BM25: top-``k`` per query for MANY query-term sets in
    ONE corpus text scan. Returns (query_id, rank, id_col, score);
    within each query, ``rank`` is 1..k in (score DESC, id ASC) order —
    the same (doc, score) pairs as :func:`bm25_topk`, bit-equal
    (pytest-pinned parity). ROW ORDER of the returned frame is NOT a
    contract (a union's order does not survive shuffles or
    repartitioning in Spark): consumers must sort by (query_id, rank),
    which is total and explicit.

    Where :func:`bm25_topk` re-scans the corpus text per call — right
    for ad-hoc probes — this variant pays the text tokenization ONCE:

    1. one map pass tokenizes and measures every doc;
    2. the exploded words equi-join a BROADCAST table of the UNION of
       all query terms, then one (doc, term) count builds a compact
       per-doc tf MAP over matched terms only (the only shuffle whose
       width depends on |terms|; text itself never shuffles);
    3. one stats pass (N, Σdl from the doc frame; per-term df from the
       (doc, term) counts) pulls |union terms|+2 scalars to the driver;
    4. each query then scores a pure map pass over the compact
       (id, dl, tf_map) frame — the SAME left-associated per-term
       arithmetic as bm25_topk with ``element_at(map, term)`` standing
       in for the filter-count, so scores match bit-for-bit — followed
       by its own TakeOrderedAndProject.

    Crossover: with q queries the per-query path costs q full text
    scans; this path costs 1 text scan + q scans of the compact frame
    (~16 B + matched-entries per doc vs the full text) — it wins from
    roughly q ≥ 2 on text-heavy corpora and is the only sane shape for
    a thousands-of-queries contamination benchmark. ``materialize``
    localCheckpoints the compact frame so the q scoring passes reuse it
    (pass False to keep recomputable lineage on a real cluster, and
    persist() it yourself).

    Plan growth is BOUNDED, not O(q): each scoring leg carries a deep
    per-term expression tree, so with ``materialize`` every
    ``max_legs_per_plan`` legs are unioned and lineage-cut
    (localCheckpoint) — Catalyst never analyzes more than
    ``max_legs_per_plan`` scoring legs in one plan, and the final frame
    is a shallow union of materialized chunks plus one rank window.
    (With ``materialize=False`` the full O(q) lineage is kept by
    design — persist/checkpoint chunks yourself on a real cluster.)
    """
    if not queries:
        raise ValueError("queries must be non-empty")
    for terms in queries.values():
        _check_terms(terms)
    union_terms = sorted({t for terms in queries.values() for t in terms})

    base = docs.select(
        F.col(id_col), words_array(F.col(text_col)).alias("__ws")
    ).withColumn("__dl", F.expr("CAST(size(__ws) AS DOUBLE)"))
    if materialize:
        # the ONE-text-scan contract lives here: base (id, words, dl) is
        # consumed by the stats aggregate, the (doc, term) join, AND the
        # compact join — without the lineage cut each would re-run the
        # regex tokenization over the full text column
        base = base.localCheckpoint(eager=False)

    spark = docs.sparkSession
    terms_df = local_frame(spark, [(t,) for t in union_terms], "__term string")
    tok = (
        base.select(F.col(id_col), F.explode("__ws").alias("__term"))
        .join(F.broadcast(terms_df), on="__term")
        .groupBy(id_col, "__term")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    if materialize:
        # tok feeds BOTH the df_by_term collect and (via tf_map) the
        # compact join — without this cut the widest post-tokenization
        # stage (explode + broadcast join + (doc,term) count) runs twice
        tok = tok.localCheckpoint(eager=False)
    tf_map = tok.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct("__term", "__tf"))
        ).alias("__tfm")
    )
    compact = base.select(F.col(id_col), "__dl").join(
        tf_map, on=id_col, how="inner"  # docs matching NO union term can
        # never score > 0 for any query — drop them before the q passes
    )
    if materialize:
        compact = compact.localCheckpoint(eager=False)

    stats = base.agg(
        F.count(F.lit(1)).alias("n"), F.sum("__dl").cast("bigint").alias("total_dl")
    ).first()
    n = stats["n"]
    if n == 0 or stats["total_dl"] is None:
        # zero rows for every query either way — one empty frame with
        # the output schema beats a q-legged union of empty frames
        return base.select(
            F.lit("").alias("query_id"),
            F.lit(0).alias("rank"),
            F.col(id_col),
            F.lit(0.0).alias("score"),
        ).limit(0)
    avgdl = stats["total_dl"] / n
    df_by_term = {
        r["__term"]: r["__df"]
        # tok is one row per (doc, term) by construction → plain count
        for r in tok.groupBy("__term").agg(F.count(F.lit(1)).alias("__df")).collect()
    }

    def tf_expr(term: str) -> str:
        # element_at on the matched-term map ≡ bm25_topk's filter-count
        # (absent term → tf 0); same double cast, same value
        return f"CAST(coalesce(element_at(__tfm, '{term}'), 0) AS DOUBLE)"

    if max_legs_per_plan < 1:
        raise ValueError("max_legs_per_plan must be >= 1")
    chunks: list[DataFrame] = []
    pending: DataFrame | None = None
    pending_legs = 0
    for qid, terms in queries.items():
        idfs = [_idf8(n, df_by_term.get(t, 0)) for t in terms]
        leg = _scored_topk(
            compact, terms, tf_expr, idfs, avgdl, k1, b, score_dp, k,
            id_col, lead_cols=(F.lit(qid).alias("query_id"),),
        )
        pending = leg if pending is None else pending.unionByName(leg)
        pending_legs += 1
        if pending_legs >= max_legs_per_plan:
            chunks.append(
                pending.localCheckpoint(eager=False) if materialize
                else pending
            )
            pending, pending_legs = None, 0
    if pending is not None:
        chunks.append(pending)
    out = chunks[0]
    for c in chunks[1:]:
        out = out.unionByName(c)
    # rank is part of the returned contract: 1..k per query in
    # (score DESC, id ASC) order — one exchange over at most q*k rows.
    w = W.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return out.select(
        "query_id",
        F.row_number().over(w).alias("rank"),
        id_col,
        "score",
    )


def bm25_sql(
    query_terms: list[str],
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    score_dp: int = 6,
) -> str:
    """DuckDB twin of :func:`bm25_topk`: re-derives the same corpus
    stats in a CTE and spells the per-term score with the identical
    textual arithmetic (idf re-rounded to 8 dp in-engine)."""
    _check_terms(query_terms)
    tf = {
        j: f"CAST(len(list_filter(ws, x -> x = '{t}')) AS DOUBLE)"
        for j, t in enumerate(query_terms)
    }
    half = _lit_double(0.5)
    one = _lit_double(1.0)
    one_minus_b = _lit_double(1.0 - b)
    idf = {
        j: (
            f"round(ln((s.n - s.df{j} + {half}) / (s.df{j} + {half}) + {one}), 8)"
        )
        for j in range(len(query_terms))
    }
    score = " + ".join(
        f"{idf[j]} * (d.tf{j} * {_lit_double(k1 + 1.0)}) / "
        f"(d.tf{j} + {_lit_double(k1)} * ({one_minus_b} + {_lit_double(b)}"
        f" * d.dl / s.avgdl))"
        for j in range(len(query_terms))
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf{j} > 0 THEN 1 ELSE 0 END) AS df{j}"
        for j in range(len(query_terms))
    )
    tf_cols = ", ".join(f"{tf[j]} AS tf{j}" for j in range(len(query_terms)))
    any_match = " + ".join(f"d.tf{j}" for j in range(len(query_terms)))
    return f"""
        WITH w AS (
            SELECT {id_col},
                   string_split_regex(lower(trim({text_col})), '[ \\t\\n\\x0b\\f\\r]+') AS ws
            FROM {table}
        ),
        d AS (
            SELECT {id_col}, CAST(len(ws) AS DOUBLE) AS dl, {tf_cols} FROM w
        ),
        s AS (
            SELECT count(*) AS n,
                   CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE) / count(*) AS avgdl,
                   {df_cols}
            FROM d
        )
        SELECT d.{id_col}, round({score}, {score_dp}) AS score
        FROM d CROSS JOIN s
        WHERE {any_match} > 0
        ORDER BY score DESC, d.{id_col} ASC
        LIMIT {k}
    """


def rrf_fuse(
    ranked: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k_const: int = 60,
    topk: int = 20,
    score_dp: int = 8,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) — the standard
    hybrid-retrieval combiner: ``score(id) = Σ_systems 1/(k + rank)``,
    rank-based so lexical (BM25) and dense (cosine) lists fuse without
    score calibration. Ids absent from a system simply contribute
    nothing.

    CONTRACT: each input frame must carry at most ONE row per id (a
    ranked top-k list). A non-deduped input — e.g. a multi-query top-k
    with query_id dropped — would have its duplicate ranks SUMMED into
    an inflated fused score; fuse per query (or dedup to best rank)
    first.

    Each 1/(k+rank) term goes through a DECIMAL(28,10) cast before the
    per-id sum, making the fusion order-independent (engine- and
    partitioning-deterministic) for ANY number of systems; the rounded
    double is the output score and the sort key, with ``id_col``
    breaking exact ties. Inputs are top-k lists (tiny by construction),
    so the union + groupBy is driver-scale work at any corpus size.

    Returns (id_col, score, rank) — rank 1-based over the fused order.
    """
    if not ranked:
        raise ValueError("ranked must contain at least one system")
    from pyspark.sql import Window

    unioned = None
    for df in ranked:
        contrib = df.select(
            F.col(id_col),
            (
                F.lit(1.0) / (F.lit(k_const) + F.col(rank_col))
            ).cast("decimal(28,10)").alias("__c"),
        )
        unioned = contrib if unioned is None else unioned.unionByName(contrib)
    fused = unioned.groupBy(id_col).agg(
        F.round(F.sum("__c").cast("double"), score_dp).alias("score")
    )
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(id_col, "score", F.col("rank").cast("bigint").alias("rank"))
    )
