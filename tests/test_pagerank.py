"""operators.hierarchy.pagerank vs a standalone Python replay of the
same fixed-point integer iteration. The graded 'pagerank' leg of
hierarchy_graph_suite covers the DuckDB cross-engine hash; this pins
the kernel against an independent implementation and its invariants.
All arithmetic is BIGINT (1e-12 rank units, integer DIV), so equality
is exact by construction — no tolerance anywhere."""

from __future__ import annotations

from pyspark.sql import functions as F

from project_clinical_data_etl_pipeline_spark.operators.hierarchy import (
    PAGERANK_SCALE_DP,
    pagerank,
)

_ONE = 10 ** PAGERANK_SCALE_DP


def _py_pagerank(edges, iterations=5, damping_pct=85):
    edges = sorted(set(edges))
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = ((100 - damping_pct) * _ONE) // (100 * n)
    r = {v: _ONE // n for v in nodes}
    for _ in range(iterations):
        acc = {v: 0 for v in nodes}
        for s, d in edges:
            acc[d] += r[s] // outdeg[s]
        r = {v: base + (damping_pct * acc[v]) // 100 for v in nodes}
    return {v: r[v] / float(_ONE) for v in nodes}


def _spark_ranks(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r.node: r.rank for r in pagerank(df, **kw).collect()}


def test_matches_python_replay_on_random_graph(spark):
    # deterministic pseudo-random multigraph, self-loops included (the
    # operator treats them as ordinary edges; dedup happens inside)
    edges = [((i * 7919) % 23, (i * 104729) % 23) for i in range(200)]
    got = _spark_ranks(spark, edges)
    want = _py_pagerank(edges)
    assert got == want  # exact: both sides are integer/2^k-free doubles


def test_sink_node_and_source_node_behavior(spark):
    # 1 -> 2 -> 3 (3 is a sink: its mass leaks — simplified variant);
    # 4 -> 2 concentrates mass on 2
    edges = [(1, 2), (2, 3), (4, 2)]
    got = _spark_ranks(spark, edges)
    want = _py_pagerank(edges)
    assert got == want
    base = ((100 - 85) * _ONE) // (100 * 4) / float(_ONE)
    assert got[1] == got[4] == base  # sources keep only the base mass
    assert min(got[2], got[3]) > got[1]  # fed nodes accumulate mass


def test_partitioning_invariance(spark):
    edges = [((i * 31) % 17, (i * 13) % 17) for i in range(120)]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = {r.node: r.rank for r in pagerank(df).collect()}
    b = {
        r.node: r.rank
        for r in pagerank(df.repartition(13, F.col("dst"))).collect()
    }
    assert a == b


def _jobs(spark, group, fn):
    """(fn(), the Spark jobs it started) — counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_each_action_rederives_the_chain(spark):
    """pagerank returns the iteration as one unmaterialized chain (no
    per-iteration checkpoint), so each new action on the returned frame
    plans and runs the whole chain again: two counts give one answer
    from the same number of jobs. The one exception is a repeated
    collect of the same frame, which reuses the first collect's finished
    adaptive plan — its materialized stage outputs — and runs only the
    final stage, one job. A caller that runs several different actions
    checkpoints or persists the frame itself."""
    edges = [((i * 7919) % 23, (i * 104729) % 23) for i in range(200)]
    ranks = pagerank(spark.createDataFrame(edges, "src long, dst long"))
    counts = [_jobs(spark, f"pagerank_count_{i}", ranks.count) for i in range(2)]
    assert counts[0] == counts[1] and counts[0][1] > 1
    first, first_jobs = _jobs(spark, "pagerank_collect_1", ranks.collect)
    second, second_jobs = _jobs(spark, "pagerank_collect_2", ranks.collect)
    assert sorted((r.node, r.rank) for r in first) == sorted(_py_pagerank(edges).items())
    assert sorted(first) == sorted(second)
    assert first_jobs > 1 and second_jobs == 1
