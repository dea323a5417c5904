"""SNOMED-style concept-hierarchy operators — SURVEY.md §4.3.1.

The reference queries the IS-A hierarchy one hop at a time via Hermes
ECL (``>!code`` parents, src/coding_task_1.py:158; ``<!code`` children,
src/coding_task_2.py:139). One-hop is a plain join; generalized
descendants-of (ECL ``<<``) is recursive, and Spark has no recursive
CTE — so the engine materializes a TRANSITIVE-CLOSURE table once
(iterative self-join to fixpoint) and every subsequent hierarchy query
is a broadcast equi-join.

Scale: the closure loop doubles path length per iteration
(path-doubling: closure ⋈ closure, not closure ⋈ edges), so depth-D
hierarchies converge in ⌈log2 D⌉ joins. SNOMED is ~15 levels deep →
4 iterations. The closure table (~5M rows for SNOMED) stays easily
broadcastable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Broadcast caps for the iterative operators (rows). Both loops know the
#: exact row count of the frame in question (it is the fixpoint/driver
#: scalar they already compute), so "broadcast the side that fits" is a
#: deliberate decision from a measured size, not an estimate. Local
#: defaults suit the bench SFs; production raises/lowers via env without
#: touching code. Past the cap the loops keep the shuffle-join shape.
_CLOSURE_BC_ROWS = int(os.environ.get("SPARK_GRAFT_CLOSURE_BC_ROWS", "2000000"))
_PAGERANK_BC_NODES = int(os.environ.get("SPARK_GRAFT_PAGERANK_BC_NODES", "5000000"))


def children_of(edges: DataFrame, codes: DataFrame, code_col: str = "code") -> DataFrame:
    """ECL ``<!`` — direct children (OP-25), reversed edge direction."""
    return codes.join(
        F.broadcast(edges), on=codes[code_col] == edges["parent_id"], how="inner"
    ).drop("parent_id")


def transitive_closure(edges: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Materialize the full ancestor closure of ``edges(child_id,
    parent_id)`` → ``(descendant_id, ancestor_id, min_depth)``.

    Path-doubling iterative self-join, driver loop to fixpoint. Each
    iteration is checkpointed via ``localCheckpoint`` to truncate
    lineage (otherwise the plan doubles every round). This is a
    build-time materialization, not a per-query operator.

    Round-14 shape (guide §2/§3 — one exchange per doubling round, one
    round fewer):

    - The doubling join BROADCASTS one side while the materialized
      closure is provably small (the loop knows its exact row count —
      ``_CLOSURE_BC_ROWS``, env-tunable; SNOMED-sized closures fit):
      the per-round plan is then broadcast-join → partial-agg → ONE
      Exchange for the min-depth merge, instead of two join exchanges
      plus the aggregate's. Past the cap the join stays a shuffle join.
    - Fixpoint witness is ``(count, max(min_depth))`` in ONE aggregate
      over the lazily-checkpointed round output (one job materializes
      + measures). After round k the closure holds exactly the pairs
      with min_depth ≤ 2^k; every prefix of a SHORTEST path is itself
      shortest, so a pair at min_depth D implies pairs at every depth
      1..D — hence ``max(min_depth) < 2^k`` proves no deeper pair
      exists and the loop stops WITHOUT paying the classic extra
      no-change round (the widest join of the run, ~25% of the loop's
      wall time at bench SF).
    """
    closure = edges.select(
        F.col("child_id").alias("descendant_id"),
        F.col("parent_id").alias("ancestor_id"),
        F.lit(1).alias("min_depth"),
    ).localCheckpoint(eager=False)

    def _witness(df: DataFrame) -> tuple[int, int]:
        row = df.agg(
            F.count(F.lit(1)).alias("n"), F.max("min_depth").alias("d")
        ).first()
        return (row["n"], row["d"] or 0)

    prev_count, max_depth = _witness(closure)
    reach = 1  # closure currently holds all pairs with min_depth <= reach
    for _ in range(max_iterations):
        if max_depth < reach:
            break  # no pair at depth == reach ⟹ none deeper ⟹ fixpoint
        build = (
            F.broadcast(closure) if prev_count <= _CLOSURE_BC_ROWS else closure
        )
        hops = (
            closure.alias("a")
            .join(
                build.alias("b"),
                on=F.col("a.ancestor_id") == F.col("b.descendant_id"),
            )
            .select(
                F.col("a.descendant_id"),
                F.col("b.ancestor_id"),
                (F.col("a.min_depth") + F.col("b.min_depth")).alias("min_depth"),
            )
        )
        closure = (
            closure.unionByName(hops)
            .groupBy("descendant_id", "ancestor_id")
            .agg(F.min("min_depth").alias("min_depth"))
            .localCheckpoint(eager=False)
        )
        count, max_depth = _witness(closure)
        reach *= 2
        if count == prev_count:
            break
        prev_count = count
    return closure


def closure_insert_edges(
    closure: DataFrame, new_edges: DataFrame, max_iterations: int = 20
) -> DataFrame:
    """Incremental closure maintenance under edge INSERTION — the
    reference's nightly-terminology-sync shape (insights.md:169: new
    IS-A edges arrive; re-deriving the whole closure per sync pays
    ⌈log₂ depth⌉ full-closure self-joins for a handful of edges).

    Semantics: returns the exact closure (incl. min_depth) of
    ``old_edges ∪ new_edges``, given the materialized closure of the
    old graph — test-pinned equal to a full
    :func:`transitive_closure` rebuild, including the case where a new
    edge SHORTENS an existing pair's min_depth.

    Shape: every path of the new graph decomposes as old-segments
    joined by new edges. Seed = the new pairs built around ONE new
    edge: ``old* · e_new · old*`` — two joins of the (tiny) new-edge
    set against the EXISTING closure, output bounded by the affected
    pairs, never a closure×closure self-join. Paths through k ≥ 2 new
    edges compose the one-new-edge segments against each other:
    delta ⋈ delta per iteration (delta-sized joins, fixpoint in
    ⌈log₂ k⌉ + 1 rounds — path-doubling over SEGMENTS). The old
    closure is touched only by the two seed joins and the final
    min-depth merge; per-sync cost is O(affected pairs), not
    O(closure).
    """
    d0 = new_edges.select(
        F.col("child_id").alias("descendant_id"),
        F.col("parent_id").alias("ancestor_id"),
        F.lit(1).alias("min_depth"),
    )
    # old* · e_new  (extend each new edge downward through old paths)
    left = (
        closure.alias("c")
        .join(d0.alias("e"), F.col("c.ancestor_id") == F.col("e.descendant_id"))
        .select(
            F.col("c.descendant_id"),
            F.col("e.ancestor_id"),
            (F.col("c.min_depth") + F.col("e.min_depth")).alias("min_depth"),
        )
    )
    seg = d0.unionByName(left)
    # (old* · e_new) · old*  (extend upward through old paths)
    right = (
        seg.alias("s")
        .join(closure.alias("c"), F.col("s.ancestor_id") == F.col("c.descendant_id"))
        .select(
            F.col("s.descendant_id"),
            F.col("c.ancestor_id"),
            (F.col("s.min_depth") + F.col("c.min_depth")).alias("min_depth"),
        )
    )
    delta = (
        seg.unionByName(right)
        .groupBy("descendant_id", "ancestor_id")
        .agg(F.min("min_depth").alias("min_depth"))
        .localCheckpoint()
    )

    def _state(df: DataFrame) -> tuple:
        # Fixpoint witness: (pair count, Σ min_depth). Pair-count
        # stability ALONE is unsound here — delta atoms are segments
        # of heterogeneous depth, so composing two segments can
        # SHORTEN an already-present pair's min_depth without adding
        # any pair (unlike the full rebuild, where a pair's shortest
        # edge-path is never longer than any path that created it).
        # Depths only decrease under the min-merge and pairs only
        # grow, so (count, sum) is stable iff the relation is.
        row = df.agg(
            F.count(F.lit(1)).alias("n"), F.sum("min_depth").alias("s")
        ).first()
        return (row["n"], row["s"])

    prev = _state(delta)
    for _ in range(max_iterations):
        hops = (
            delta.alias("a")
            .join(
                delta.alias("b"),
                on=F.col("a.ancestor_id") == F.col("b.descendant_id"),
            )
            .select(
                F.col("a.descendant_id"),
                F.col("b.ancestor_id"),
                (F.col("a.min_depth") + F.col("b.min_depth")).alias("min_depth"),
            )
        )
        delta = (
            delta.unionByName(hops)
            .groupBy("descendant_id", "ancestor_id")
            .agg(F.min("min_depth").alias("min_depth"))
            .localCheckpoint()
        )
        state = _state(delta)
        if state == prev:
            break
        prev = state
    return (
        closure.unionByName(delta)
        .groupBy("descendant_id", "ancestor_id")
        .agg(F.min("min_depth").alias("min_depth"))
    )


#: Fixed-point scale for pagerank(): ranks are BIGINTs in units of
#: 10^-PAGERANK_SCALE_DP (1e12 units per unit of probability mass).
PAGERANK_SCALE_DP = 12


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list
    ``(src, dst)`` — the graph-centrality primitive (Brin & Page 1998;
    simplified form without dangling-mass redistribution, the common
    analytics variant). Returns ``(node, rank)`` for every node
    appearing in the edge list, with ``rank`` the fixed-point integer
    rank cast to double (exact: < 2^53) divided by 10^12.

    Bit-reproducible cross-engine by FIXED-POINT INTEGER arithmetic —
    stronger than the classifier's decimal round-shield: ranks live as
    BIGINTs in 1e-12 units, contributions are integer DIV by
    out-degree, the per-node reduction is an exact BIGINT sum, and the
    damping blend is ``(damping_pct · s) DIV 100``. There is no
    floating-point operation anywhere in the iteration, so no rounding
    mode or half-boundary can ever diverge between engines. (A first
    attempt used round(rank/outdeg, 10): ranks quantized to 10 dp and
    divided by even out-degrees land EXACTLY on decimal halves, where
    Spark's HALF_UP-on-shortest-repr and DuckDB's float-scaling round
    disagree systematically — integers make the whole class
    unreachable.) The only FP op is the final display division, one
    IEEE divide per row on identical inputs.

    Plan shape at scale (round 14, guide §2.3/§2.4/§3.1 — ONE exchange
    per iteration, one materialized frame, one job chain):

    - The out-degree rides the edge list from the start: ``ew = (src,
      dst, outdeg)`` is built with a window count over the deduped
      edges in the SAME pass that materializes them — the only
      checkpointed 4-column frame (the previous shape materialized the
      edge list twice: once bare, once re-joined with the degree
      aggregate). Nodes and the no-inbound set derive from ``ew``.
    - The rank frame is explicitly broadcast while the node count
      (already a driver scalar) is under ``_PAGERANK_BC_NODES``
      (env-tunable; past it the join reverts to a shuffle join).
    - The per-iteration left-join back to the node set is GONE: nodes
      with no in-edge are a STATIC set whose rank after any iteration
      is exactly ``base_int`` (no contribution can reach them),
      computed once and unioned onto the aggregated contributions —
      a zero-shuffle concat. Per iteration the only Exchange is the
      partial-combined groupBy on ``dst``.
    - NO per-iteration localCheckpoint: under AQE a "lazy" checkpoint's
      ``toRdd`` pays a full planning pass and materializes the plan's
      query stages at CONSTRUCT time (measured 0.7-1.7 s per
      iteration at sf1), and ``iterations`` is a small fixed constant,
      so the five rounds chain into ONE plan executed by the terminal
      action — AQE materializes the stages bottom-up with broadcasts
      reused in place (measured min-of-3 at sf1: 18.0 s → 14.4 s).
      The returned frame re-derives the whole chain if a caller runs
      MULTIPLE actions on it — checkpoint or persist at the call site
      in that case.
    """
    from pyspark.sql import Window

    one = 10 ** PAGERANK_SCALE_DP
    ew = (
        edges.select("src", "dst")
        .distinct()
        .withColumn(
            "outdeg", F.count(F.lit(1)).over(Window.partitionBy("src"))
        )
        .localCheckpoint(eager=False)
    )
    nodes = (
        ew.select(F.col("src").alias("node"))
        .unionByName(ew.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()
    base_int = ((100 - damping_pct) * one) // (100 * n)
    # Nodes no contribution can reach (never a dst): their rank is the
    # damping base from iteration 1 onward — constant across the loop.
    no_inbound = (
        nodes.join(
            ew.select(F.col("dst").alias("node")).distinct(),
            on="node",
            how="left_anti",
        )
        .select("node", F.lit(base_int).cast("bigint").alias("r_int"))
        .localCheckpoint(eager=False)
    )

    ranks = nodes.select("node", F.lit(one // n).cast("bigint").alias("r_int"))
    for _ in range(iterations):
        rank_side = F.broadcast(ranks) if n <= _PAGERANK_BC_NODES else ranks
        contribs = (
            ew.join(rank_side, ew.src == rank_side.node)
            .groupBy("dst")
            .agg(F.sum(F.expr("r_int DIV outdeg")).alias("acc"))
        )
        # every dst has a contribution row (its srcs always carry ranks),
        # so coalesce is only needed for the no-inbound complement —
        # handled exactly by the static union leg (acc there is 0)
        ranks = contribs.select(
            F.col("dst").alias("node"),
            (
                F.lit(base_int)
                + F.expr(f"({damping_pct} * acc) DIV 100")
            ).cast("bigint").alias("r_int"),
        ).unionByName(no_inbound)
    return ranks.select(
        "node",
        (F.col("r_int").cast("double") / F.lit(float(one))).alias("rank"),
    )
