"""Generic relational operators — SURVEY.md §2.3-2.6, §2.8.

Pure DataFrame-in → DataFrame-out functions. Nothing here collects to
the driver; every function returns a lazy plan so Catalyst fuses the
whole chain (filters reach the parquet scan, small dims broadcast,
AQE re-plans at runtime).

Scale notes are inline per operator: the driving question for each is
"what does this plan do on 1000 executors × 100 TB".
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Filters / predicates (OP-09..13)
# ---------------------------------------------------------------------------

def filtered_search(df: DataFrame, *predicates: Column) -> DataFrame:
    """OP-09: conjunctive multi-predicate filter (equality + range +
    substring), the reference's first demonstrated query
    (src/coding_task_1.py:64-83 — FHIR search params in the URL).

    Spark-first: predicates stay declarative so Catalyst pushes them into
    the parquet scan (``PushedFilters``) — the engine-side analog of the
    reference shipping predicates to the FHIR server. At 100 TB this is
    the difference between scanning a partition-pruned subset and the
    whole table.
    """
    out = df
    for p in predicates:
        out = out.filter(p)
    return out


def semi_join(fact: DataFrame, keys: DataFrame, on: str | list[str]) -> DataFrame:
    """OP-10: foreign-key filter as a left-semi join
    (reference src/coding_task_1.py:85-109 — ``Condition?patient={id}``).

    left_semi never duplicates fact rows and never materializes key
    columns from the right side. When ``keys`` is small Catalyst turns
    this into a broadcast semi-join: zero shuffle of the 100 TB side.
    """
    return fact.join(keys, on=on, how="left_semi")


def anti_join(fact: DataFrame, exclude: DataFrame, on: str | list[str]) -> DataFrame:
    """OP-29: care-gap / NOT EXISTS (reference insights.md:221-225 —
    "patients with a condition and NO recent blood-pressure reading").

    The flagship analytics pattern. The ``exclude`` side should be
    pre-filtered (e.g. to the recency window) *before* the join so the
    anti-join's build side stays small and broadcastable.
    """
    return fact.join(exclude, on=on, how="left_anti")


def array_remove_matching(arr: Column, pred) -> Column:
    """OP-13: array-element deletion by predicate (reference
    src/coding_task_1.py:199-204 removes the first 'us-ssn' identifier;
    per SURVEY.md §2.10 we adopt remove-ALL — ``filter(a, NOT pred)``).
    For the reference's exact first-only semantics use
    :func:`array_remove_first_matching`."""
    return F.filter(arr, lambda x: ~pred(x))


def array_remove_first_matching(arr: Column, pred) -> Column:
    """OP-13 with the reference's EXACT semantics: delete only the
    FIRST element satisfying ``pred`` (src/coding_task_1.py:199-204
    ``break``s after one removal — a second matching identifier
    survives there, and now here too). Closes the deliberate deviation
    noted in SURVEY.md §2.3/§2.10 for callers that need bug-for-bug
    parity.

    Pure expressions, JVM-side: ``filter``'s positional lambda drops
    the element whose index equals the first matching index. NULL and
    no-match arrays pass through unchanged."""
    first_idx = F.array_min(
        F.filter(
            F.transform(arr, lambda x, i: F.when(pred(x), i)),
            lambda i: i.isNotNull(),
        )
    )
    return F.when(
        first_idx.isNull(), arr
    ).otherwise(F.filter(arr, lambda x, i: i != first_idx))


# ---------------------------------------------------------------------------
# Limits / first-row / counting (OP-21..23)
# ---------------------------------------------------------------------------

def first_row_deterministic(
    df: DataFrame, order_by: Sequence[Column], partition_by: Sequence[str] = ()
) -> DataFrame:
    """OP-21: deterministic pick-one. The reference trusts server result
    order (src/coding_task_1.py:123,151,166); the engine pins an explicit
    total order (SURVEY.md §7.5.1).

    Without partitions: global top-1 → Spark's TakeOrderedAndProject
    (per-partition top-1 then driver merge — no full sort even at 100 TB).
    With partitions: row_number window, which shuffles once on the
    partition keys; map-side partial ordering applies.
    """
    if partition_by:
        w = Window.partitionBy(*partition_by).orderBy(*order_by)
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    return df.orderBy(*order_by).limit(1)


def count_rows(df: DataFrame, alias: str = "n") -> DataFrame:
    """OP-22: count as a 1-row DataFrame (reference
    src/coding_task_1.py:75 ``len(data['entry'])``). Partial counts
    combine map-side; the shuffle moves one long per partition."""
    return df.agg(F.count(F.lit(1)).cast("bigint").alias(alias))


# ---------------------------------------------------------------------------
# Joins / enrichment (OP-24..28)
# ---------------------------------------------------------------------------

def dim_enrich(
    fact: DataFrame,
    dim: DataFrame,
    on: Column | str | list[str],
    how: str = "inner",
) -> DataFrame:
    """OP-24/25/26: terminology-style dimension enrichment. The reference
    does this as N+1 per-row HTTP lookups (src/coding_task_1.py:137-175);
    the engine does ONE broadcast hash join — no shuffle of the fact side.

    The dim side is always broadcast: terminology/dim tables fit (SNOMED
    ≈ 500k concepts ≈ tens of MB — comfortably under the 64 MB broadcast
    threshold we set). For a dim that outgrows broadcast, join it
    directly and let AQE choose shuffled hash / sort-merge.
    """
    return fact.join(F.broadcast(dim), on=on, how=how)


def lookup_first_match(
    fact: DataFrame,
    mapping: DataFrame,
    key: str,
    priority: Sequence[Column],
    how: str = "left",
    broadcast_mapping: bool = True,
) -> DataFrame:
    """OP-26: map-refset lookup where the FIRST mapping row wins
    (reference src/coding_task_5.py:71-94, ``mapTarget`` of row 0; the
    left join preserves the (None, None) no-mapping path :85-87).

    The mapping side is deduplicated to one row per key *before* the
    join (window + row_number over the priority order), so the join
    itself cannot fan out fact rows. ``broadcast_mapping=True`` fits
    terminology refsets (small); pass False when the mapping side is
    fact-sized and let AQE pick the strategy.
    """
    w = Window.partitionBy(key).orderBy(*priority)
    best = (
        mapping.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if broadcast_mapping:
        best = F.broadcast(best)
    return fact.join(best, on=key, how=how)


def fk_split(ref: Column) -> tuple[Column, Column]:
    """OP-27 inverse: split ``"Patient/12"`` into (type, id) join keys
    (reference src/data/parent_condition.json:76-78)."""
    parts = F.split(ref, "/")
    return parts[0], parts[1]


# ---------------------------------------------------------------------------
# Aggregations / windows (OP-39, OP-40)
# ---------------------------------------------------------------------------

def group_counts(df: DataFrame, *group_cols: str) -> DataFrame:
    """OP-39: group-count (reference hand-counts resource types,
    src/insights.py:12-29). Partial aggregation (map-side combine) means
    the shuffle carries one row per (partition × group), not per input
    row — safe at any scale when group cardinality is bounded."""
    return df.groupBy(*group_cols).agg(F.count(F.lit(1)).cast("bigint").alias("n"))


def time_bucket_trend(
    df: DataFrame,
    ts: str,
    bucket: str,
    group_cols: Sequence[str],
    aggs: Sequence[Column],
) -> DataFrame:
    """OP-40: trend-over-time aggregation (reference roadmap,
    insights.md:173). ``date_trunc`` bucketing keeps grouping keys
    low-cardinality; at scale, partition the table by date so the scan
    prunes to the analysis window."""
    return (
        df.groupBy(F.date_trunc(bucket, F.col(ts)).alias(f"{bucket}_start"), *group_cols)
        .agg(*aggs)
    )


def argmax_per_key(
    df: DataFrame,
    keys: str | list[str],
    order_cols: list[str],
    desc: bool = True,
) -> DataFrame:
    """Top-1 row per key WITHOUT a window: ``max_by(struct(all columns),
    struct(order_cols))`` in a plain aggregation. Same answer as the
    row_number()-window form (ties resolve to the max/min order tuple —
    make it unique by appending a tiebreak column), equivalence-tested.

    Why it matters at scale: a ranking window sorts every key group in
    ONE task — a hot key becomes a straggler sorting its whole history.
    An aggregate gets map-side partial combine: each partition reduces
    a hot key to a single candidate row before the exchange, so the
    shuffle carries one row per (partition × key) and no task ever
    sorts a key's full history. Skew-robust top-1 for free; for top-k
    with small k, aggregate k-element sorted arrays similarly.

    ``desc=True`` keeps the MAX order tuple (latest-by-timestamp);
    ``desc=False`` the MIN (first-by-timestamp)."""
    key_list = [keys] if isinstance(keys, str) else list(keys)
    order = F.struct(*[F.col(c) for c in order_cols])
    payload = F.struct(*[F.col(c) for c in df.columns])
    agg = F.max_by(payload, order) if desc else F.min_by(payload, order)
    picked = df.groupBy(*key_list).agg(agg.alias("__row"))
    return picked.select(*[F.col(f"__row.{c}").alias(c) for c in df.columns])


def scd2_history(
    df: DataFrame,
    key: str,
    attr: str,
    ts: str,
    order_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from an event/change
    log: for each ``key``, collapse consecutive rows with the same
    ``attr`` value into one versioned interval. Returns
    ``(key, attr, valid_from, valid_to, version, is_current)`` where
    ``valid_to`` is NULL on the open (current) version — the standard
    warehouse change-history shape (reference parity: the reference's
    pipeline PUTs whole-resource updates, src/coding_task_2.py:214-260;
    history derivation is the batch-analytics twin of that versioning).

    ``order_cols`` must make the per-key order total (default
    ``[ts]`` — append a unique tiebreak like an event id when
    timestamps can collide, else change attribution is ambiguous).

    Plan shape at scale: two window passes over ONE hash-partition of
    the key (lag to flag changes, then lead + row_number over the
    filtered change rows — Catalyst reuses the exchange since both
    windows share the partition key). Per-key state is the key's own
    history; keys hash-spread across executors, so 100 TB of events
    with bounded per-key cardinality never concentrates. A ranking
    window is unavoidable here (intervals need neighbor context),
    unlike argmax_per_key's top-1 case.
    """
    order = list(order_cols) if order_cols else [ts]
    w = Window.partitionBy(key).orderBy(*[F.col(c).asc() for c in order])
    cols = [key, attr, *dict.fromkeys([ts, *order])]  # keep tiebreaks
    changed = (
        df.select(*cols)
        .withColumn("__prev", F.lag(F.col(attr)).over(w))
        .withColumn("__rn", F.row_number().over(w))
        # null-safe change flag: first row of the key, or attr differs
        # (a NULL attr is a distinct version, not a missing row)
        .filter(
            (F.col("__rn") == 1) | ~F.col("__prev").eqNullSafe(F.col(attr))
        )
    )
    return (
        changed.withColumn("valid_to", F.lead(F.col(ts)).over(w))
        .withColumn("version", F.row_number().over(w))
        .select(
            F.col(key),
            F.col(attr),
            F.col(ts).alias("valid_from"),
            "valid_to",
            F.col("version").cast("bigint").alias("version"),
            F.col("valid_to").isNull().alias("is_current"),
        )
    )
