"""Temporal join operators Spark lacks natively: as-of join and
bounded range join (point-in-time lookup / interval matching — the
time-series analogs of the reference's encounter-to-latest-observation
pairing, reference insights.md roadmap "temporal joins for longitudinal
records"; SURVEY.md §2 extension ops).

Both are expressed as compositions of existing DataFrame ops — no
Python in the hot path, no theta-join — so Catalyst/AQE keep planning
them, and both survive 100 TB:

- ``asof_join``: the union-trick formulation. ONE shuffle on the join
  key (the same shuffle a plain equi-join would pay), zero row
  fan-out, no per-key candidate explosion. The naive formulation —
  inequality join then per-left-row argmax — is O(n·m) per key and
  un-runnable at scale; a sort-merge "MERGE_ASOF" needs a custom
  physical operator. The union trick gets the scalable plan out of
  stock operators: tag both sides, sort within key by (ts, side),
  then ``last(payload, ignorenulls)`` over a running window — each
  left row reads the most recent right payload at or before it.
- ``range_join_binned``: equi-join on (key, time-bucket) with the
  bucket width equal to the interval span, so every true match lands
  in the left row's bucket or its successor — candidate fan-out is
  exactly 2 per left row regardless of data volume, then the exact
  inequality filters locally. The naive BETWEEN theta-join degenerates
  to a per-key nested loop (O(n·m)); binning turns it into a plain
  shuffled equi-join AQE can re-plan and skew-split.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _micros(col: Column) -> Column:
    """Strict-µs epoch for any timestamp flavor: TIMESTAMP passes the
    cast untouched; TIMESTAMP_NTZ (Spark 4.1+ reads parquet NANOS as
    NTZ) converts via the SESSION TIMEZONE. Differences/orderings after
    the cast are offset-invariant ONLY for fixed-offset zones — under a
    DST zone the NTZ→TIMESTAMP cast is non-linear and windows could
    shift by an hour across transitions. Correctness therefore depends
    on session.py pinning spark.sql.session.timeZone=UTC
    (RUNTIME_CONF, applied by tune()); do not relax that pin."""
    return F.unix_micros(col.cast("timestamp"))


def _check_right_prefix_collisions(left_cols: list[str], right_out: list[str]) -> None:
    """Both temporal joins emit right payload columns as ``right_<name>``
    while passing left columns through unrenamed — a left column already
    named ``right_<payload>`` would silently produce duplicate output
    names. Fail fast instead."""
    clash = sorted(set(left_cols) & set(right_out))
    if clash:
        raise ValueError(
            f"left columns {clash} collide with generated right_* output "
            "names; rename them before the temporal join"
        )


#: auto-bucket target: aim for roughly this many rows per (key, bucket)
#: window partition on the hottest key. Large enough that normal keys
#: never split; small enough that a mega-key's sort task stays bounded.
_AUTO_BUCKET_TARGET_ROWS = 100_000

#: don't bother bucketing unless the hottest key exceeds this multiple
#: of the target — below it the single-task sort is already fine.
_AUTO_BUCKET_TRIGGER = 4


def _auto_asof_bucket(
    tagged: DataFrame,
    keys: list[str],
    target_rows: int | None = None,
    trigger: int | None = None,
) -> int | None:
    """Derive the as-of skew bucket width from per-key event density so
    a hot key is split without the caller knowing it's hot.

    One aggregation over (keys, __t): count + min/max per key with
    map-side partial combine (the shuffle carries ONE row per
    partition × key — the same skew-detection pass adaptive engines
    run), then a driver-side top-1 pull (control flow, 1 row). If the
    hottest key holds ≤ trigger × target_rows rows, returns None (the
    unbucketed single-window plan is fine); otherwise returns the width
    in seconds that puts ~target_rows rows in the hot key's AVERAGE
    bucket (its densest bucket bounds the worst task).
    """
    if target_rows is None:
        target_rows = _AUTO_BUCKET_TARGET_ROWS
    if trigger is None:
        trigger = _AUTO_BUCKET_TRIGGER
    stats = tagged.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("__n"),
        ((F.max("__t") - F.min("__t")) / 1_000_000.0).alias("__span_s"),
    )
    hot = stats.orderBy(F.col("__n").desc()).select("__n", "__span_s").first()
    if hot is None or hot["__n"] <= trigger * target_rows:
        return None
    span_s = max(float(hot["__span_s"]), 1.0)
    return max(1, int(span_s * target_rows / float(hot["__n"])))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
    tolerance_s: int | None = None,
    bucket_s: int | str | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for every left row, attach the payload of the
    nearest right row of the same ``on`` key (a column name or a
    composite-key list) — the most recent with
    ``right_ts <= left_ts`` (``direction="backward"``, the default) or
    the earliest with ``right_ts >= left_ts`` (``"forward"`` — e.g.
    next-event attribution). LEFT semantics — unmatched left rows keep
    NULL payloads. Internally forward is backward on negated
    timestamps: one shared code path, verified by mirrored tests. Ties on equal ``right_ts`` within a key resolve to
    the lexicographically-last payload tuple (deterministic — required
    for oracle hashing). ``tolerance_s`` drops matches older than the
    window (payloads revert to NULL, left row is kept).

    Plan: union both tagged sides → ONE hash-partition by ``on`` →
    running ``last(..., ignorenulls=True)`` window → filter to left
    rows. Shuffle volume is |left| + |right| rows of (key, ts,
    payload) — never a pairwise blow-up. Skew profile equals a plain
    join on ``on`` (AQE skew handling applies to the exchange).

    ``bucket_s`` is the SKEW escape hatch: a window partitioned by key
    alone sorts a mega-key's entire history in one task. With
    ``bucket_s`` set, the window partitions by (key, time-bucket) — a
    hot key splits across its timeline — and matches crossing a bucket
    boundary come from a per-(key, bucket) latest-right summary (one
    row per bucket with right traffic) carried forward by a second,
    tiny window over bucket indexes. Identical output (property-tested
    equivalence); worst-case task ≈ the hot key's densest bucket, not
    its life. Pick bucket_s so a busy key sees ~10⁴-10⁶ rows per
    bucket — or pass ``bucket_s="auto"`` to derive it from per-key
    density (one partial-combine aggregation + a 1-row driver pull;
    see :func:`_auto_asof_bucket`): a hot key is split without the
    caller knowing it's hot, and uniform data keeps the unbucketed
    single-window plan.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    sign = 1 if direction == "backward" else -1
    keys = [on] if isinstance(on, str) else list(on)
    _check_right_prefix_collisions(
        left.columns, [f"right_{c}" for c in payload_cols] + ["right_ts_us"]
    )

    # Equi-join NULL semantics: a right row with a NULL key or NULL
    # timestamp can never satisfy `r.key = l.key AND r.ts <= l.ts`, but
    # partitionBy groups NULL keys together and a NULL sort key orders
    # FIRST (a "-infinity" match) — so drop such right rows up front.
    # Left rows with NULL key/ts stay and get NULL payloads (LEFT
    # semantics), matching the SQL oracle.
    right_valid = F.col(right_ts).isNotNull()
    for k in keys:
        right_valid = right_valid & F.col(k).isNotNull()
    right = right.filter(right_valid)

    # The whole right payload rides in ONE struct: last(ignorenulls)
    # over the struct keeps the matched tuple atomic (per-column
    # last() would stitch together values from different right rows
    # whenever a payload field is legitimately NULL). Its first field
    # is the direction-signed sort key so struct ordering (window ties,
    # bucket-summary max) follows the join direction; ts_us is the true
    # event time for output and tolerance.
    r = right.select(
        *[F.col(k) for k in keys],
        (F.lit(sign) * _micros(F.col(right_ts))).alias("__t"),
        F.lit(0).alias("__side"),
        F.struct(
            (F.lit(sign) * _micros(F.col(right_ts))).alias("__s"),
            _micros(F.col(right_ts)).alias("ts_us"),
            *[F.col(c).alias(c) for c in payload_cols],
        ).alias("__p"),
        *[F.lit(None).cast(t.dataType).alias(f"__l_{c}")
          for c, t in zip(left.columns, left.schema.fields)],
    )
    payload_type = r.schema["__p"].dataType
    l = left.select(
        *[F.col(k) for k in keys],
        (F.lit(sign) * _micros(F.col(left_ts))).alias("__t"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(payload_type).alias("__p"),
        *[F.col(c).alias(f"__l_{c}") for c in left.columns],
    )

    if isinstance(bucket_s, str):
        if bucket_s != "auto":  # fail fast: 'Auto'/'AUTO' would otherwise
            # fall through to the numeric path (string * int repeats!)
            raise ValueError(f"bucket_s must be an int, None, or 'auto'; got {bucket_s!r}")
        bucket_s = _auto_asof_bucket(
            r.select(*keys, "__t").unionByName(l.select(*keys, "__t")), keys
        )
    if bucket_s is not None and bucket_s <= 0:
        raise ValueError(f"bucket_s must be positive, got {bucket_s}")

    # Within a key: right rows sort before left rows at the same ts
    # (side 0 < 1), so an exactly-simultaneous right row IS matched.
    # Equal-ts right rows order by the payload struct → last() is the
    # max tuple — deterministic under duplicate timestamps.
    if bucket_s is None:
        w = (
            Window.partitionBy(*keys)
            .orderBy("__t", "__side", "__p")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = (
            r.unionByName(l)
            .withColumn("__m", F.last("__p", ignorenulls=True).over(w))
            .filter(F.col("__side") == 1)
        )
    else:
        width_us = bucket_s * 1_000_000
        b_r = r.withColumn("__b", F.floor(F.col("__t") / width_us))
        b_l = l.withColumn("__b", F.floor(F.col("__t") / width_us))
        # in-bucket pass: same algorithm, partitions bounded by the
        # densest (key, bucket) slice
        w1 = (
            Window.partitionBy(*keys, "__b")
            .orderBy("__t", "__side", "__p")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = (
            b_r.unionByName(b_l)
            .withColumn("__m", F.last("__p", ignorenulls=True).over(w1))
            .filter(F.col("__side") == 1)
        )
        # cross-bucket carry: ONE summary row per (key, bucket) with
        # right traffic (max payload struct = latest right, same tie
        # order as the window), as-of-joined to the left buckets over
        # bucket INDEXES — probes sort before same-bucket summaries
        # (side -1 < 0) because in-bucket rights were already handled.
        # This window sees #buckets rows per key, not #events.
        summaries = b_r.groupBy(*keys, "__b").agg(F.max("__p").alias("__p")).select(
            *[F.col(k) for k in keys], F.col("__b"),
            F.lit(0).alias("__side"), F.col("__p")
        )
        probes = (
            out.select(*keys, "__b").distinct()
            .select(
                *[F.col(k) for k in keys], F.col("__b"),
                F.lit(-1).alias("__side"),
                F.lit(None).cast(payload_type).alias("__p"),
            )
        )
        w2 = (
            Window.partitionBy(*keys)
            .orderBy("__b", "__side")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        carried = (
            summaries.unionByName(probes)
            .withColumn("__c", F.last("__p", ignorenulls=True).over(w2))
            .filter(F.col("__side") == -1)
            .select(*keys, "__b", "__c")
        )
        out = (
            out.join(carried, on=[*keys, "__b"], how="left")
            # an in-bucket match always beats the carry (its ts is in a
            # strictly later bucket than anything carried forward)
            .withColumn("__m", F.coalesce(F.col("__m"), F.col("__c")))
        )

    if tolerance_s is not None:
        # signed-key form covers both directions: backward ⇒
        # ts ≥ left−tol, forward ⇒ ts ≤ left+tol
        out = out.withColumn(
            "__m",
            F.when(
                F.col("__m.__s") >= F.col("__t") - F.lit(tolerance_s * 1_000_000),
                F.col("__m"),
            ),
        )

    return out.select(
        *[F.col(f"__l_{c}").alias(c) for c in left.columns],
        *[F.col(f"__m.{c}").alias(f"right_{c}") for c in payload_cols],
        F.col("__m.ts_us").alias("right_ts_us"),
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bucket_s: int | None = None,
    probe: str = "shared",
) -> DataFrame:
    """Interval × interval overlap join: pairs (l, r) of the same ``on``
    key whose CLOSED intervals ``[left_start, left_end]`` and
    ``[right_start, right_end]`` overlap (``ls <= re AND rs <= le`` —
    touching endpoints count). The clinical overlap primitive
    (concurrent encounters, overlapping medication windows — the
    reference's care-quality domain, insights.md roadmap) and the
    segment-alignment primitive for multimodal pipelines.

    Plan: both sides bucket their interval SPAN at width W
    (``bucket_s``, default = the longest interval across both sides,
    derived by one partial-combine agg + a 1-row driver pull) —
    ``explode(sequence(floor(start/W), floor(end/W)))`` — so the pair
    generation is a plain equi-join on (key, bucket). With W ≥ the max
    span every row lands in ≤ 2 buckets: candidate volume is bounded by
    4× the pair fan-in, never |l|·|r| per key like the BETWEEN
    theta-join Spark would nested-loop. A pair sharing two buckets
    would be emitted twice, so emission is restricted to the FIRST
    common bucket — ``bucket == floor(greatest(ls, rs)/W)`` — which
    every truly-overlapping pair contains exactly once (the later
    start lies inside both intervals). Exact overlap then filters
    locally.

    Rows with a NULL key/endpoint or with ``end < start`` are dropped
    on BOTH sides before the join (they have no well-defined span to
    bucket); mirror the same WHERE in any SQL twin. Output: left
    columns unprefixed, right columns prefixed ``right_`` (the
    temporal-operator convention), plus ``overlap_us`` — the length of
    the intersection in µs (0 for touching endpoints).

    ``probe`` picks how the auto-width span probe pays for its scan
    (only consulted when ``bucket_s`` is None):

    - ``"shared"`` (default): lazily ``localCheckpoint`` both inputs so
      probe + join share ONE source scan. Fastest, but checkpoint
      partitions hold full-width rows in executor storage and are not
      fault-tolerant (an executor loss fails the job instead of
      recomputing).
    - ``"pruned"``: the probe aggregates a TWO-COLUMN projection of
      each source (the parquet scan reads only the endpoint columns —
      pushdown-pruned ReadSchema), and the join re-reads the source
      lineage. Two scans, but zero executor-storage residency and full
      lineage fault tolerance — the warehouse-scale default when the
      endpoint columns are a small fraction of row width.
    """
    if probe not in ("shared", "pruned"):
        raise ValueError(f"probe must be 'shared' or 'pruned', got {probe!r}")
    keys = [on] if isinstance(on, str) else list(on)
    right_payload = [c for c in right.columns if c not in keys]
    _check_right_prefix_collisions(
        left.columns, [f"right_{c}" for c in right_payload] + ["overlap_us"]
    )

    def well_formed(start: str, end: str, df: DataFrame) -> DataFrame:
        cond = (
            F.col(start).isNotNull()
            & F.col(end).isNotNull()
            & (_micros(F.col(end)) >= _micros(F.col(start)))
        )
        for k in keys:
            cond = cond & F.col(k).isNotNull()
        return df.filter(cond)

    l0 = well_formed(left_start, left_end, left)
    self_join = left is right and (left_start, left_end) == (
        right_start,
        right_end,
    )
    r0 = l0 if self_join else well_formed(right_start, right_end, right)

    if bucket_s is None:
        # The span probe is an action, so without lineage truncation
        # every side would pay TWO source scans: one feeding the max-
        # span aggregate, one feeding the join. probe='shared' cuts the
        # lineage with a lazy localCheckpoint: the probe's .first()
        # materializes each side once and the join re-reads the
        # checkpointed partitions. A self-join (same frame, same
        # endpoint columns) materializes a single copy shared by both
        # legs. probe='pruned' instead aggregates a two-column
        # projection (column-pruned scan) and lets the join re-read the
        # source — see the docstring trade-off. An explicit bucket_s
        # skips the probe entirely; any positive width is correct, the
        # auto width only tightens the fan-in bound.
        if probe == "shared":
            l0 = l0.localCheckpoint(eager=False)
            r0 = l0 if self_join else r0.localCheckpoint(eager=False)
        spans = (
            l0.select(
                (_micros(F.col(left_end)) - _micros(F.col(left_start))).alias("__s")
            )
            .unionByName(
                r0.select(
                    (_micros(F.col(right_end)) - _micros(F.col(right_start))).alias(
                        "__s"
                    )
                )
            )
            .agg(F.max("__s"))
            .first()[0]
        )
        bucket_s = max(1, -(-int(spans or 0) // 1_000_000))  # ceil µs → s
    if bucket_s <= 0:
        # caller-passed degenerate width: floor(x/0) is NULL under
        # non-ANSI mode → sequence(NULL, NULL) → explode drops every
        # row → silent zero-row join (same hazard range_join_binned
        # guards against). Fail fast instead.
        raise ValueError(f"bucket_s must be positive, got {bucket_s}")
    width_us = bucket_s * 1_000_000

    l = (
        l0.withColumn("__ls", _micros(F.col(left_start)))
        .withColumn("__le", _micros(F.col(left_end)))
        .withColumn(
            "__bucket",
            F.explode(
                F.sequence(
                    F.floor(F.col("__ls") / width_us),
                    F.floor(F.col("__le") / width_us),
                )
            ),
        )
    )
    r = (
        r0.select(
            *[F.col(k) for k in keys],
            _micros(F.col(right_start)).alias("__rs"),
            _micros(F.col(right_end)).alias("__re"),
            *[F.col(c).alias(f"right_{c}") for c in right_payload],
        )
        .withColumn(
            "__bucket",
            F.explode(
                F.sequence(
                    F.floor(F.col("__rs") / width_us),
                    F.floor(F.col("__re") / width_us),
                )
            ),
        )
    )

    first_common = F.col("__bucket") == F.floor(
        F.greatest(F.col("__ls"), F.col("__rs")) / width_us
    )
    overlaps = (F.col("__ls") <= F.col("__re")) & (F.col("__rs") <= F.col("__le"))
    # Both sides are fact-sized in the typical self-join case, but the
    # explode keeps Catalyst's size estimate low enough that it happily
    # BROADCASTS a million-row build side — slow here, catastrophic at
    # 100 TB. Pin the scale-true shape: SORT-MERGE join on
    # (key, bucket). Not shuffle_hash (the pre-round-9 pin): a hash
    # join's build-side map cannot spill, and at sf1 a hot (key,
    # bucket) partition died with "not enough memory to build hash
    # map" (SCALE.md) — sort-merge pays a spillable sort instead and
    # stays AQE-skew-splittable.
    return (
        l.join(r.hint("merge"), on=[*keys, "__bucket"])
        .filter(first_common & overlaps)
        .withColumn(
            "overlap_us",
            F.least(F.col("__le"), F.col("__re"))
            - F.greatest(F.col("__ls"), F.col("__rs")),
        )
        .drop("__bucket", "__ls", "__le", "__rs", "__re")
    )


def interval_overlap_stats(
    intervals: DataFrame,
    on: str | list[str],
    start: str,
    end: str,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Per-key overlapping-PAIR statistics over one interval set —
    ``(keys…, n_overlapping, max_overlap_us)`` — computed by a sweep
    line instead of pair enumeration (round 14, guide §1.2 step 1: fix
    the algorithm before the plan).

    Equivalent by construction to counting/maxing the self-overlap-join
    (``interval_overlap_join(df, df, …)`` with self and mirror pairs
    removed), but NEVER materializes a candidate pair: the bucketed
    equi-join generates Σ_b |bucket|² candidates (~10⁸ rows at bench
    SF — measured 5.2 s, almost all of it evaluating the overlap filter
    on non-pairs), while the sweep is O(n log n) with exactly ONE
    full-data exchange (the per-key window sort; the second window and
    the final groupBy reuse its partitioning).

    Derivation (all intervals CLOSED, per key, any total order
    consistent with ascending start):

    - Pair (i, j), j before i in start order, overlaps iff e_j ≥ s_i
      (s_j ≤ s_i ≤ e_i makes the other condition free). So the pair
      count is Σ_i active_i with active_i = #{j before i: e_j ≥ s_i}
      = (#starts before i) − (#ends strictly below s_i) — each
      unordered pair counted exactly once, at its later start.
    - For fixed i the overlap with an active j is min(e_i, e_j) − s_i,
      maximal at the largest prior end M_i (prefix max of e, which is
      attainable: M_i ≥ s_i ⟺ active_i > 0). Hence
      max-overlap = max_i (min(e_i, M_i) − s_i) over active rows.
    - Both Σ active_i and the max are invariant to the order chosen
      among equal starts (the within-tie rank sum is always C(m, 2),
      and the candidate max at ties evaluates to the same value either
      way), so ties need no canonical tiebreak.

    ``id_cols`` gives rows an identity: only pairs of rows with
    DIFFERENT id tuples count (rows sharing an id tuple never pair),
    and rows with any NULL id component are excluded. With ``id_cols``
    set:

    - NULL-id rows are dropped with the well-formed filter;
    - the pair count subtracts the same-id pairs via a SECOND window
      over (keys, id) — same partitioning (hash on keys satisfies the
      finer clustering), so it costs a sort, not an exchange;
    - the prefix-max candidate is kept only for rows whose (keys, id)
      group holds that row alone — an order-free window count, so no
      tie order between the two windows can let a same-id prior into
      ``M``: for such a row every prior has a different id. Every pair
      touching a duplicate-id row is re-derived EXACTLY by a fallback
      join of the duplicate rows (found with one cheap window over
      (keys, id) on the raw rows — a degenerate-data sliver, empty when
      ids are unique) against their key's rows (distinct id + overlap;
      order-free, since a max may observe a pair twice). Keeping the
      main sweep's candidates id-blind-safe this way avoids re-running
      the event sweep to identify "polluted" rows — the first cut did,
      and the duplicated window pipeline showed up whole in the plan.

    Keys with no qualifying pair emit NO row (matching the inner pair
    join). Rows with NULL keys/endpoints or end < start are dropped
    like the join's well-formed filter. At warehouse scale one key =
    one window partition: a pathologically hot key serializes — for
    hot-key workloads fall back to the pair join, which splits on
    (key, bucket); for per-entity clinical/supplier keys the per-key
    volume is bounded and the sweep wins outright.
    """
    keys = [on] if isinstance(on, str) else list(on)
    ids = list(id_cols or [])
    cond = F.col(start).isNotNull() & F.col(end).isNotNull()
    for k in (*keys, *ids):
        cond = cond & F.col(k).isNotNull()
    s_us, e_us = _micros(F.col(start)), _micros(F.col(end))
    rows = intervals.filter(cond & (e_us >= s_us)).select(
        *[F.col(k) for k in keys],
        *[F.col(i) for i in ids],
        s_us.alias("__s"),
        e_us.alias("__e"),
    )
    # one scan → two events per row: (t, is_end, payload s/e on starts);
    # end events keep their row's id so the same-id window sees them
    events = rows.select(
        *keys,
        *ids,
        F.explode(
            F.array(
                F.struct(
                    F.col("__s").alias("t"),
                    F.lit(0).alias("is_end"),
                    F.col("__s").alias("s"),
                    F.col("__e").alias("e"),
                ),
                F.struct(
                    F.col("__e").alias("t"),
                    F.lit(1).alias("is_end"),
                    F.lit(None).cast("long").alias("s"),
                    F.lit(None).cast("long").alias("e"),
                ),
            )
        ).alias("__ev"),
    ).select(*keys, *ids, "__ev.t", "__ev.is_end", "__ev.s", "__ev.e")

    # starts sort before ends at equal t ⟹ running end-count at a start
    # row counts exactly the ends STRICTLY below its s
    def _w(part_cols, upper):
        return (
            Window.partitionBy(*part_cols)
            .orderBy("t", "is_end")
            .rowsBetween(Window.unboundedPreceding, upper)
        )

    w = _w(keys, Window.currentRow)
    w_prev = _w(keys, -1)
    swept = (
        events.withColumn("__n_start", F.sum(1 - F.col("is_end")).over(w))
        .withColumn("__n_end", F.sum("is_end").over(w))
        .withColumn("__m", F.max("e").over(w_prev))
    )
    if ids:
        w_id = _w([*keys, *ids], Window.currentRow)
        swept = (
            swept.withColumn(
                "__id_n_start", F.sum(1 - F.col("is_end")).over(w_id)
            )
            .withColumn("__id_n_end", F.sum("is_end").over(w_id))
            .withColumn(
                "__id_rows",
                F.sum(1 - F.col("is_end")).over(
                    Window.partitionBy(*keys, *ids)
                ),
            )
        )
        unique_id = F.col("__id_rows") == 1
    else:
        swept = swept.withColumn("__id_n_start", F.lit(1)).withColumn(
            "__id_n_end", F.lit(0)
        )
        unique_id = F.lit(True)
    starts = (
        swept.filter(F.col("is_end") == 0)
        .withColumn(
            "__active",
            (F.col("__n_start") - 1 - F.col("__n_end"))
            - (F.col("__id_n_start") - 1 - F.col("__id_n_end")),
        )
        .withColumn(
            # candidate kept only for a row alone in its id group: then
            # every prior has a different id, so min(e, M) - s is a
            # true pair value and the per-row maximum over valid pairs.
            # Every pair touching a duplicate-id row is re-derived by
            # the fallback join.
            "__ov",
            F.when(
                unique_id & (F.col("__m") >= F.col("s")),
                F.least(F.col("e"), F.col("__m")) - F.col("s"),
            ),
        )
    )
    agg = starts.groupBy(*keys).agg(
        F.sum("__active").cast("bigint").alias("n_overlapping"),
        F.max("__ov").alias("__max_a"),
    )
    if ids:
        # duplicate-id rows from ONE window over the raw rows (no event
        # explode, no re-sweep); empty when ids are unique
        w_dup = Window.partitionBy(*keys, *ids)
        dup = (
            rows.withColumn("__gn", F.count(F.lit(1)).over(w_dup))
            .filter(F.col("__gn") >= 2)
            .select(
                *keys,
                *[F.col(i).alias(f"__p_{i}") for i in ids],
                F.col("__s").alias("__ps"),
                F.col("__e").alias("__pe"),
            )
        )
        distinct_id = F.lit(False)
        for i in ids:
            distinct_id = distinct_id | (F.col(f"__p_{i}") != F.col(i))
        fallback = (
            dup.join(
                rows.withColumnRenamed("__s", "s").withColumnRenamed(
                    "__e", "e"
                ),
                on=keys,
            )
            .filter(
                distinct_id
                & (F.col("__ps") <= F.col("e"))
                & (F.col("s") <= F.col("__pe"))
            )
            .groupBy(*keys)
            .agg(
                F.max(
                    F.least(F.col("__pe"), F.col("e"))
                    - F.greatest(F.col("__ps"), F.col("s"))
                ).alias("__max_b")
            )
        )
        agg = agg.join(fallback, on=keys, how="left")
    else:
        agg = agg.withColumn("__max_b", F.lit(None).cast("long"))
    return agg.filter(F.col("n_overlapping") > 0).select(
        *keys,
        "n_overlapping",
        F.greatest(F.col("__max_a"), F.col("__max_b"))
        .cast("bigint")
        .alias("max_overlap_us"),
    )


def range_join_binned(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str,
    right_ts: str,
    lower_s: int,
    upper_s: int,
) -> DataFrame:
    """Bounded range join: pairs (l, r) of the same ``on`` key with
    ``right_ts - left_ts`` in the half-open interval
    ``(lower_s, upper_s]`` seconds (e.g. lower=-600, upper=0 → right
    events in the 10 minutes up to and including each left event).

    Plan: right rows bucket once at width W = upper-lower; left rows
    emit exactly TWO candidate buckets (the interval spans at most two
    W-wide buckets), so the pair-generation is a plain equi-join on
    (key, bucket) — shuffled once, AQE-skew-splittable — followed by a
    local exact filter. Candidate volume is bounded by 2·|left| join
    fan-in, NOT by |left|·|right| per key like a BETWEEN theta-join
    (which Spark executes as a nested loop inside each key group).
    Output carries all left columns, every other right column prefixed
    ``right_`` (the asof_join convention), and both timestamps in µs —
    aggregate downstream as needed.
    """
    if upper_s <= lower_s:
        # width 0/negative would make F.floor(col/width) NULL under
        # non-ANSI mode — a silent zero-row join. Fail fast like
        # asof_join's direction validation.
        raise ValueError(f"upper_s ({upper_s}) must be > lower_s ({lower_s})")
    width_us = (upper_s - lower_s) * 1_000_000
    lo_us = lower_s * 1_000_000
    up_us = upper_s * 1_000_000
    keys = [on] if isinstance(on, str) else list(on)
    _check_right_prefix_collisions(
        left.columns,
        [f"right_{c}" for c in right.columns if c not in (*keys, right_ts)]
        + ["right_ts_us", "left_ts_us"],
    )

    r = right.select(
        *[F.col(k) for k in keys],
        _micros(F.col(right_ts)).alias("__rt"),
        *[
            F.col(c).alias(f"right_{c}")
            for c in right.columns
            if c not in (*keys, right_ts)
        ],
    ).withColumn("__bucket", F.floor(F.col("__rt") / width_us))

    # interval start bucket and its successor — 2× fan-out, constant.
    l = left.withColumn("__lt", _micros(F.col(left_ts))).withColumn(
        "__bucket",
        F.explode(
            F.array(
                F.floor((F.col("__lt") + lo_us) / width_us),
                F.floor((F.col("__lt") + lo_us) / width_us) + 1,
            )
        ),
    )

    gap = F.col("__rt") - F.col("__lt")
    return (
        l.join(r, on=[*keys, "__bucket"])
        .filter((gap > lo_us) & (gap <= up_us))
        .drop("__bucket")
        .withColumnRenamed("__lt", "left_ts_us")
        .withColumnRenamed("__rt", "right_ts_us")
    )
