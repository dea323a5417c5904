"""Edge-semantics tests for the temporal join operators: tie-breaking,
tolerance windows, interval boundaries, bucket-boundary crossings, and
TIMESTAMP_NTZ inputs (Spark 4.1+ surfaces parquet NANOS as NTZ)."""

from __future__ import annotations

from pyspark.sql import functions as F

from project_clinical_data_etl_pipeline_spark.operators.temporal import (
    asof_join,
    range_join_binned,
)


def _ts_df(spark, rows, cols, ntz=False):
    df = spark.createDataFrame(rows, cols)
    cast_to = "timestamp_ntz" if ntz else "timestamp"
    return df.withColumn("ts", F.col("ts").cast(cast_to))


def _asof_pairs(out):
    return {
        r["event_id"]: (r["right_event_id"], r["right_ts_us"])
        for r in out.collect()
    }


def test_asof_matches_latest_at_or_before(spark):
    left = _ts_df(spark, [(1, 10, "2024-01-01 00:10:00"),
                          (2, 10, "2024-01-01 00:00:30")],
                  ["event_id", "user_id", "ts"])
    right = _ts_df(spark, [(100, 10, "2024-01-01 00:01:00"),
                           (101, 10, "2024-01-01 00:05:00"),
                           (102, 10, "2024-01-01 00:20:00"),
                           (103, 99, "2024-01-01 00:09:59")],
                   ["event_id", "user_id", "ts"])
    out = asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts",
                    payload_cols=["event_id"])
    pairs = _asof_pairs(out)
    assert pairs[1][0] == 101  # latest ≤ 00:10 for user 10 (not user 99's)
    assert pairs[2] == (None, None)  # nothing at or before 00:00:30


def test_asof_simultaneous_right_row_matches_and_ties_pick_max(spark):
    left = _ts_df(spark, [(1, 10, "2024-01-01 00:10:00")],
                  ["event_id", "user_id", "ts"])
    right = _ts_df(spark, [(100, 10, "2024-01-01 00:10:00"),
                           (101, 10, "2024-01-01 00:10:00")],
                   ["event_id", "user_id", "ts"])
    out = asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts",
                    payload_cols=["event_id"])
    # equal-ts right rows: deterministic winner = max payload tuple
    assert _asof_pairs(out)[1][0] == 101


def test_asof_tolerance_nulls_stale_matches_keeps_left_row(spark):
    left = _ts_df(spark, [(1, 10, "2024-01-01 01:00:00")],
                  ["event_id", "user_id", "ts"])
    right = _ts_df(spark, [(100, 10, "2024-01-01 00:00:00")],
                   ["event_id", "user_id", "ts"])
    loose = asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts",
                      payload_cols=["event_id"], tolerance_s=3600)
    tight = asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts",
                      payload_cols=["event_id"], tolerance_s=3599)
    assert _asof_pairs(loose)[1][0] == 100  # exactly at tolerance: kept
    assert _asof_pairs(tight)[1] == (None, None)  # one second too old
    assert tight.count() == 1  # left row survives with NULL payload


def test_asof_null_payload_field_does_not_leak_older_row(spark):
    """A right row whose payload FIELD is NULL must still win as-of
    selection whole (struct-atomic) — not be skipped in favor of an
    older row's non-null value."""
    left = _ts_df(spark, [(1, 10, "2024-01-01 00:10:00")],
                  ["event_id", "user_id", "ts"])
    right = _ts_df(spark, [(100, 10, "2024-01-01 00:01:00"),
                           (101, 10, "2024-01-01 00:05:00")],
                   ["event_id", "user_id", "ts"]).withColumn(
        "v", F.when(F.col("event_id") == 100, F.lit(7.0)))
    out = asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts",
                    payload_cols=["event_id", "v"])
    row = out.collect()[0]
    assert row["right_event_id"] == 101
    assert row["right_v"] is None  # 101's own NULL v, not 100's 7.0


def test_asof_accepts_ntz_timestamps(spark):
    left = _ts_df(spark, [(1, 10, "2024-01-01 00:10:00")],
                  ["event_id", "user_id", "ts"], ntz=True)
    right = _ts_df(spark, [(100, 10, "2024-01-01 00:05:00")],
                   ["event_id", "user_id", "ts"], ntz=True)
    out = asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts",
                    payload_cols=["event_id"])
    assert _asof_pairs(out)[1][0] == 100


def test_range_join_boundaries_half_open(spark):
    """Interval (lower, upper] in µs on right_ts - left_ts: a right row
    exactly AT the left ts is included (gap 0 = upper), one exactly
    window-width earlier is excluded (gap = lower is open)."""
    left = _ts_df(spark, [(1, 10, "2024-01-01 00:10:00")],
                  ["event_id", "user_id", "ts"])
    right = _ts_df(spark, [(10, "2024-01-01 00:10:00"),   # gap 0 → in
                           (10, "2024-01-01 00:00:00"),   # gap -600s → out
                           (10, "2024-01-01 00:00:00.000001"),  # just in
                           (10, "2024-01-01 00:10:00.000001"),  # future → out
                           (99, "2024-01-01 00:09:00")],  # other key → out
                   ["user_id", "ts"])
    pairs = range_join_binned(left, right, on="user_id", left_ts="ts",
                              right_ts="ts", lower_s=-600, upper_s=0)
    got = sorted(r["right_ts_us"] - r["left_ts_us"] for r in pairs.collect())
    assert got == [-599_999_999, 0]


def test_range_join_crosses_bucket_boundary(spark):
    """A match whose right row falls in the PRECEDING bucket of the
    left row's interval start must still be found (the 2-candidate
    explode covers it)."""
    # width 600s buckets; left at 00:19:59 → interval [00:09:59, 00:19:59]
    # spans buckets floor(599/600)=0 and 1 — right row at 00:10:30 is in
    # bucket 1, right row at 00:09:59.5 in bucket 0.
    left = _ts_df(spark, [(1, 10, "2024-01-01 00:19:59")],
                  ["event_id", "user_id", "ts"])
    right = _ts_df(spark, [(10, "2024-01-01 00:10:30"),
                           (10, "2024-01-01 00:09:59.5")],
                   ["user_id", "ts"])
    pairs = range_join_binned(left, right, on="user_id", left_ts="ts",
                              right_ts="ts", lower_s=-600, upper_s=0)
    assert pairs.count() == 2


def test_range_join_no_duplicate_pairs_from_candidate_buckets(spark):
    """Each true match must appear exactly once even though the left
    side emits two candidate buckets."""
    left = _ts_df(spark, [(1, 10, "2024-01-01 00:10:00")],
                  ["event_id", "user_id", "ts"])
    right = _ts_df(spark, [(10, "2024-01-01 00:05:00")], ["user_id", "ts"])
    pairs = range_join_binned(left, right, on="user_id", left_ts="ts",
                              right_ts="ts", lower_s=-600, upper_s=0)
    assert pairs.count() == 1


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup) — pure-Python oracle on hand-built vectors


def _py_semdedup(vectors, centroids, threshold):
    """Reference implementation: assign each vector to its max-cosine
    centroid (ties → lowest centroid id), then within each cell drop
    any id having a near-dup (cosine ≥ threshold) with a smaller id."""
    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    cells = {}
    for vid, v in vectors.items():
        best = max(range(len(centroids)),
                   key=lambda c: (cos(v, centroids[c]), -c))
        cells[vid] = best
    keep = {}
    for vid, v in vectors.items():
        dropped = any(
            cells[o] == cells[vid] and o < vid and cos(vectors[o], v) >= threshold
            for o in vectors
        )
        keep[vid] = not dropped
    return cells, keep


def test_semantic_dedup_matches_python_oracle(spark):
    from project_clinical_data_etl_pipeline_spark.operators.dedup import semantic_dedup

    # two well-separated directions, with near-dups inside each
    vectors = {
        0: [1.0, 0.02, 0.0, 0.0],
        1: [0.99, 0.0, 0.01, 0.0],     # near-dup of 0
        2: [0.0, 0.0, 1.0, 0.03],
        3: [0.01, 0.0, 0.98, 0.0],     # near-dup of 2
        4: [0.0, 1.0, 0.0, 0.0],       # alone in its direction
        5: [1.0, 0.03, 0.0, 0.01],     # near-dup of 0 AND 1
    }
    centroids = [[1.0, 0.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    df = spark.createDataFrame(
        [(k, v) for k, v in vectors.items()], ["vec_id", "embedding"]
    )
    out = semantic_dedup(df, "vec_id", "embedding", dim=4, threshold=0.95,
                         centroids=centroids)
    got = {r["vec_id"]: (r["cell"], r["semdedup_keep"]) for r in out.collect()}
    cells, keep = _py_semdedup(vectors, centroids, 0.95)
    assert got == {vid: (cells[vid], keep[vid]) for vid in vectors}
    # sanity on the scenario itself: 1 and 5 drop (near 0), 3 drops (near 2)
    assert [v for v, (_, k) in sorted(got.items()) if k] == [0, 2, 4]


def test_semantic_dedup_cell_cap_skips_oversize_cells(spark):
    from project_clinical_data_etl_pipeline_spark.operators.dedup import semantic_dedup

    # 4 near-identical vectors in one cell, 2 in another
    rows = [(i, [1.0, 0.001 * i, 0.0, 0.0]) for i in range(4)]
    rows += [(10, [0.0, 0.0, 1.0, 0.0]), (11, [0.0, 0.001, 1.0, 0.0])]
    centroids = [[1.0, 0.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = semantic_dedup(df, "vec_id", "embedding", dim=4, threshold=0.95,
                         centroids=centroids, max_cell_size=3)
    got = {r["vec_id"]: r["semdedup_keep"] for r in out.collect()}
    # oversize cell (4 > 3): all kept un-deduped; small cell: 11 drops
    assert all(got[i] for i in range(4))
    assert got[10] and not got[11]


def test_semantic_dedup_pair_join_is_equi_join_on_cell(spark):
    """The within-cell pair loop must be an equi-join on cell — never a
    cartesian product over the corpus (the SemDeDup scale contract)."""
    from project_clinical_data_etl_pipeline_spark.operators.dedup import semantic_dedup

    df = spark.createDataFrame(
        [(i, [float(i % 3 == j) for j in range(4)]) for i in range(9)],
        ["vec_id", "embedding"],
    )
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]]
    out = semantic_dedup(df, "vec_id", "embedding", dim=4, centroids=cents)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_asof_bucketed_carries_match_across_buckets(spark):
    """With 60 s buckets, a right row several buckets before the left
    must still match via the per-bucket summary carry, and an in-bucket
    right must beat any carried one."""
    left = _ts_df(spark, [(1, 10, "2024-01-01 00:10:30"),
                          (2, 10, "2024-01-01 00:20:30")],
                  ["event_id", "user_id", "ts"])
    right = _ts_df(spark, [(100, 10, "2024-01-01 00:02:00"),   # bucket far back
                           (101, 10, "2024-01-01 00:03:00"),   # later far back
                           (102, 10, "2024-01-01 00:20:10")],  # in-bucket for 2
                   ["event_id", "user_id", "ts"])
    out = asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts",
                    payload_cols=["event_id"], bucket_s=60)
    pairs = _asof_pairs(out)
    assert pairs[1][0] == 101  # carried across ~7 empty buckets
    assert pairs[2][0] == 102  # in-bucket match wins over the carry


def test_asof_forward_matches_earliest_at_or_after(spark):
    left = _ts_df(spark, [(1, 10, "2024-01-01 00:10:00")],
                  ["event_id", "user_id", "ts"])
    right = _ts_df(spark, [(100, 10, "2024-01-01 00:05:00"),   # past → ignored
                           (101, 10, "2024-01-01 00:12:00"),
                           (102, 10, "2024-01-01 00:30:00")],
                   ["event_id", "user_id", "ts"])
    out = asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts",
                    payload_cols=["event_id"], direction="forward")
    assert _asof_pairs(out)[1][0] == 101


def test_asof_forward_tolerance_and_bucketed(spark):
    left = _ts_df(spark, [(1, 10, "2024-01-01 00:10:00")],
                  ["event_id", "user_id", "ts"])
    right = _ts_df(spark, [(100, 10, "2024-01-01 00:40:00")],
                   ["event_id", "user_id", "ts"])
    hit = asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts",
                    payload_cols=["event_id"], direction="forward",
                    tolerance_s=1800)
    miss = asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts",
                     payload_cols=["event_id"], direction="forward",
                     tolerance_s=1799)
    assert _asof_pairs(hit)[1][0] == 100
    assert _asof_pairs(miss)[1] == (None, None)
    # bucketed forward: carry works on the negated timeline too
    bucketed = asof_join(left, right, on="user_id", left_ts="ts",
                         right_ts="ts", payload_cols=["event_id"],
                         direction="forward", bucket_s=60)
    assert _asof_pairs(bucketed)[1][0] == 100


# ---------------------------------------------------------------------------
# Corpus top-n-grams vs a DuckDB oracle on the documents table


def test_corpus_top_ngrams_matches_duckdb(spark, sf_dir):
    import duckdb

    from project_clinical_data_etl_pipeline_spark.operators.text import (
        corpus_top_ngrams,
    )
    from project_clinical_data_etl_pipeline_spark.queries.llmdata import _NORM
    from project_clinical_data_etl_pipeline_spark.tables import load

    d = load(spark, sf_dir, "documents")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )

    for by_df, df_expr in ((False, "g"), (True, "list_distinct(g)")):
        got = [
            (r["ngram"], r["cnt"])
            for r in corpus_top_ngrams(
                d, "text", n=2, k=15, by_doc_freq=by_df
            ).collect()
        ]
        want = con.execute(f"""
            WITH w AS (SELECT string_split({_NORM}, ' ') AS ws FROM documents),
            sh AS (SELECT {df_expr} AS grams FROM (
                SELECT list_transform(
                    generate_series(1, greatest(len(ws) - 1, 1)),
                    i -> array_to_string(ws[i:i+1], ' ')) AS g, ws FROM w)
                WHERE len(ws) >= 2)
            SELECT gram, CAST(count(*) AS BIGINT) FROM (
                SELECT unnest(grams) AS gram FROM sh)
            GROUP BY gram ORDER BY 2 DESC, 1 ASC LIMIT 15
        """).fetchall()
        assert got == [tuple(r) for r in want], f"by_doc_freq={by_df}"


def test_corpus_top_ngrams_plan_is_partial_agg_topk(spark, sf_dir):
    from project_clinical_data_etl_pipeline_spark.operators.text import (
        corpus_top_ngrams,
    )
    from project_clinical_data_etl_pipeline_spark.tables import load

    df = corpus_top_ngrams(load(spark, sf_dir, "documents"), "text", n=2, k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # no global sort
    assert plan.count("HashAggregate") >= 2  # partial + final (map-side combine)


def test_temporal_joins_accept_composite_keys(spark):
    left = spark.createDataFrame(
        [(1, 10, "us", "2024-01-01 00:10:00")],
        ["event_id", "user_id", "region", "ts"],
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(100, 10, "us", "2024-01-01 00:05:00"),
         (101, 10, "eu", "2024-01-01 00:09:00"),   # wrong region
         (102, 11, "us", "2024-01-01 00:09:30")],  # wrong user
        ["event_id", "user_id", "region", "ts"],
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    out = asof_join(left, right, on=["user_id", "region"], left_ts="ts",
                    right_ts="ts", payload_cols=["event_id"])
    assert _asof_pairs(out)[1][0] == 100
    bucketed = asof_join(left, right, on=["user_id", "region"], left_ts="ts",
                         right_ts="ts", payload_cols=["event_id"], bucket_s=60)
    assert _asof_pairs(bucketed)[1][0] == 100

    pairs = range_join_binned(left, right, on=["user_id", "region"],
                              left_ts="ts", right_ts="ts",
                              lower_s=-600, upper_s=0)
    assert [r["right_event_id"] for r in pairs.collect()] == [100]


def test_convert_event_ts_normalizes_long_ntz_and_timestamp(spark):
    """The loader's ts normalization must produce an identical micros
    TimestampType from all three runtime forms: a nanos long (older
    Spark + legacy conf), TIMESTAMP_NTZ (Spark 4.1+ native NANOS read),
    and an already-correct TIMESTAMP (idempotence)."""
    from pyspark.sql.types import TimestampType

    from project_clinical_data_etl_pipeline_spark.tables import convert_event_ts

    us = 1_704_067_798_778_549  # 2024-01-01 00:09:58.778549 UTC
    as_long = spark.createDataFrame([(us * 1000 + 999,)], "ts long")
    as_ntz = spark.createDataFrame([(us,)], "us long").select(
        F.timestamp_micros("us").cast("timestamp_ntz").alias("ts")
    )
    as_ts = spark.createDataFrame([(us,)], "us long").select(
        F.timestamp_micros("us").alias("ts")
    )
    vals = []
    for df in (as_long, as_ntz, as_ts):
        out = convert_event_ts(df)
        assert isinstance(out.schema["ts"].dataType, TimestampType)
        vals.append(out.select(F.unix_micros("ts")).collect()[0][0])
    assert vals == [us, us, us]  # nanos floored, NTZ/LTZ wall-clock kept


def test_array_remove_first_matching_exact_reference_semantics(spark):
    """First-only removal (the reference breaks after one deletion):
    a SECOND matching element must survive — the exact behavior the
    remove-all form deliberately deviates from."""
    from project_clinical_data_etl_pipeline_spark.operators.relational import (
        array_remove_first_matching,
        array_remove_matching,
    )

    df = spark.createDataFrame(
        [(1, ["a-ssn", "b", "c-ssn", "d"]),
         (2, ["x", "y"]),
         (3, []),
         (4, None)],
        "id long, arr array<string>",
    )
    pred = lambda x: x.contains("ssn")  # noqa: E731
    got = {
        r["id"]: (r["first_only"], r["all"])
        for r in df.select(
            "id",
            array_remove_first_matching(F.col("arr"), pred).alias("first_only"),
            array_remove_matching(F.col("arr"), pred).alias("all"),
        ).collect()
    }
    assert got[1] == (["b", "c-ssn", "d"], ["b", "d"])  # second match survives
    assert got[2] == (["x", "y"], ["x", "y"])
    assert got[3] == ([], [])
    assert got[4] == (None, None)


def test_asof_null_right_ts_and_null_keys_never_match(spark):
    """SQL equi-join semantics: a right row with NULL ts or NULL key
    can never satisfy `r.key = l.key AND r.ts <= l.ts` — it must not
    become a '-infinity' match, and NULL keys must not match each
    other. Left rows keep LEFT semantics (returned with NULL match)."""
    left = spark.createDataFrame(
        [(1, 10, "2024-01-01 00:10:00"), (2, None, "2024-01-01 00:10:00")],
        "event_id long, user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(100, 10, None),                      # NULL ts: never matches
         (101, None, "2024-01-01 00:01:00")],  # NULL key: never matches
        "event_id long, user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    for kwargs in ({}, {"bucket_s": 60}):
        out = asof_join(left, right, on="user_id", left_ts="ts",
                        right_ts="ts", payload_cols=["event_id"], **kwargs)
        pairs = _asof_pairs(out)
        assert pairs == {1: (None, None), 2: (None, None)}, kwargs


def test_zorder_bits_clamped_to_long_capacity(spark):
    """bits × n_cols beyond 63 would wrap JVM shift amounts (masked to
    6 bits) and silently corrupt the Morton key — the clamp must keep
    every interleaved position inside a signed long and the key
    non-negative."""
    from pyspark.sql import functions as F_

    from project_clinical_data_etl_pipeline_spark.plans.layout import zorder_value

    df = spark.range(100).select(
        *[(F_.col("id") * (i + 1) % 97).alias(f"c{i}") for i in range(6)]
    )
    zdf, key = zorder_value(df, [f"c{i}" for i in range(6)], bits=16)
    mn, mx = zdf.agg(F_.min(key), F_.max(key)).collect()[0]
    assert mn >= 0
    assert mx < (1 << 60)  # 6 cols × clamped 10 bits


def test_range_join_null_keys_and_ts_never_match(spark):
    """The binned range join is an equi-join, so NULL keys/timestamps
    must drop out on both sides — pinned so a future reformulation
    (e.g. null-safe join) can't silently change semantics."""
    left = spark.createDataFrame(
        [(1, 10, "2024-01-01 00:10:00"), (2, None, "2024-01-01 00:10:00"),
         (3, 10, None)],
        "event_id long, user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(100, 10, "2024-01-01 00:05:00"), (101, None, "2024-01-01 00:05:00"),
         (102, 10, None)],
        "event_id long, user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    pairs = range_join_binned(left, right, on="user_id", left_ts="ts",
                              right_ts="ts", lower_s=-600, upper_s=0)
    got = [(r["event_id"], r["right_event_id"]) for r in pairs.collect()]
    assert got == [(1, 100)]


def test_asof_bucketed_window_partitions_by_key_and_bucket(spark):
    """The skew variant's whole point is the shuffle key: the in-bucket
    window must hash-partition on (key, bucket), not on the key alone —
    pinned so the hot-key split can't silently regress."""
    left = _ts_df(spark, [(1, 10, "2024-01-01 00:10:00")],
                  ["event_id", "user_id", "ts"])
    right = _ts_df(spark, [(100, 10, "2024-01-01 00:05:00")],
                   ["event_id", "user_id", "ts"])
    out = asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts",
                    payload_cols=["event_id"], bucket_s=60)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(user_id#" in plan.replace("L", "")
    assert plan.count("hashpartitioning(user_id") >= 2  # in-bucket + carry
    assert "__b" in plan


# ---------------------------------------------------------------------------
# Windowless argmax (skew-robust top-1 per key)


def test_argmax_per_key_equals_window_form_on_events(spark, sf_dir):
    """The max_by aggregation must return exactly the ranking-window
    answer on real data (ties pinned by event_id), while its plan is a
    partial-combine aggregate — no Window, no per-key sort."""
    from project_clinical_data_etl_pipeline_spark.operators.relational import (
        argmax_per_key,
    )
    from project_clinical_data_etl_pipeline_spark.tables import load
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    windowed = {
        (r["user_id"], r["event_id"])
        for r in e.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1").select("user_id", "event_id").collect()
    }
    agged = argmax_per_key(e, "user_id", ["ts", "event_id"])
    got = {(r["user_id"], r["event_id"]) for r in agged.collect()}
    assert got == windowed

    plan = agged._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2 or plan.count("SortAggregate") >= 2

    # min_by twin: earliest per key
    first = argmax_per_key(e, "user_id", ["ts", "event_id"], desc=False)
    w2 = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    want_first = {
        (r["user_id"], r["event_id"])
        for r in e.withColumn("rn", F.row_number().over(w2))
        .filter("rn = 1").select("user_id", "event_id").collect()
    }
    assert {(r["user_id"], r["event_id"]) for r in first.collect()} == want_first


def test_range_join_rejects_degenerate_interval(spark):
    import pytest
    from project_clinical_data_etl_pipeline_spark.streaming.temporal import (
        stream_range_join,
    )

    left = _ts_df(spark, [(1, 10, "2024-01-01 00:10:00")],
                  ["event_id", "user_id", "ts"])
    right = _ts_df(spark, [(100, 10, "2024-01-01 00:09:00")],
                   ["event_id", "user_id", "ts"])
    for lo, up in [(0, 0), (5, -5), (7, 7)]:
        with pytest.raises(ValueError, match="must be > lower_s"):
            range_join_binned(left, right, on="user_id", left_ts="ts",
                              right_ts="ts", lower_s=lo, upper_s=up)
        with pytest.raises(ValueError, match="must be > lower_s"):
            stream_range_join(left, right, on="user_id", left_ts="ts",
                              right_ts="ts", lower_s=lo, upper_s=up)


def test_temporal_joins_reject_right_prefix_collisions(spark):
    import pytest

    left = _ts_df(spark, [(1, 10, "2024-01-01 00:10:00", "x")],
                  ["event_id", "user_id", "ts", "right_event_id"])
    right = _ts_df(spark, [(100, 10, "2024-01-01 00:09:00")],
                   ["event_id", "user_id", "ts"])
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts",
                  payload_cols=["event_id"])
    with pytest.raises(ValueError, match="collide"):
        range_join_binned(left, right, on="user_id", left_ts="ts",
                          right_ts="ts", lower_s=-600, upper_s=0)


def test_asof_auto_bucket_splits_synthetic_mega_key(spark):
    """bucket_s='auto' must (a) pick a finite bucket width when one key
    dwarfs the target density, (b) produce output identical to the
    unbucketed plan, and (c) leave uniform data on the unbucketed
    single-window path."""
    import project_clinical_data_etl_pipeline_spark.operators.temporal as T

    base_us = 1_700_000_000 * 1_000_000

    def mk(rows):
        return spark.createDataFrame(rows, ["event_id", "user_id", "ts_us"]) \
            .withColumn("ts", F.timestamp_micros(F.col("ts_us"))).drop("ts_us")

    # hot key 1: 2000 lefts + 2000 rights over ~2000 s; cold keys tiny
    lefts = [(i, 1, base_us + i * 1_000_000) for i in range(2000)]
    lefts += [(10_000 + i, 2 + i, base_us + i * 777_000) for i in range(20)]
    rights = [(50_000 + i, 1, base_us + i * 1_000_000 + 500_000)
              for i in range(2000)]
    rights += [(60_000 + i, 2 + i, base_us + i * 333_000) for i in range(20)]
    left, right = mk(lefts), mk(rights)

    # shrink the auto thresholds so the synthetic mega-key trips them
    orig_target, orig_trigger = T._AUTO_BUCKET_TARGET_ROWS, T._AUTO_BUCKET_TRIGGER
    T._AUTO_BUCKET_TARGET_ROWS, T._AUTO_BUCKET_TRIGGER = 100, 4
    try:
        tagged = (
            left.select("user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("__t"))
            .unionByName(right.select("user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("__t")))
        )
        width = T._auto_asof_bucket(tagged, ["user_id"])
        assert width is not None and 1 <= width <= 2000, width

        auto = asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts",
                         payload_cols=["event_id"], bucket_s="auto")
        plain = asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts",
                          payload_cols=["event_id"], bucket_s=None)
        assert _asof_pairs(auto) == _asof_pairs(plain)

        # uniform data: hottest key is far below trigger*target → None
        assert T._auto_asof_bucket(
            tagged.filter(F.col("user_id") > 1), ["user_id"]
        ) is None
    finally:
        T._AUTO_BUCKET_TARGET_ROWS, T._AUTO_BUCKET_TRIGGER = orig_target, orig_trigger


def test_interval_overlap_join_semantics_and_dedupe(spark):
    """Closed-interval semantics (touching endpoints overlap, overlap_us
    0), a pair sharing several buckets emits ONCE, NULL/malformed rows
    drop, and the result equals a naive theta join on random data."""
    import random

    from project_clinical_data_etl_pipeline_spark.operators.temporal import (
        interval_overlap_join,
    )

    def mk(rows):
        df = spark.createDataFrame(rows, ["iid", "k", "s_us", "e_us"])
        return df.select(
            "iid", "k",
            F.timestamp_micros(F.col("s_us")).alias("ws"),
            F.timestamp_micros(F.col("e_us")).alias("we"),
        )

    m = 1_000_000
    left = mk([
        (1, 10, 0 * m, 100 * m),       # long interval spanning many buckets
        (2, 10, 500 * m, 500 * m),     # degenerate point
        (3, 10, None, 700 * m),        # NULL start → dropped
        (4, None, 0, 10 * m),          # NULL key → dropped
        (5, 10, 900 * m, 800 * m),     # end < start → dropped
    ])
    right = mk([
        (100, 10, 50 * m, 60 * m),     # inside iid 1
        (101, 10, 100 * m, 120 * m),   # touches iid 1's end exactly
        (102, 10, 500 * m, 510 * m),   # covers the point interval
        (103, 10, 130 * m, 140 * m),   # overlaps nothing
        (104, 11, 50 * m, 60 * m),     # other key — never pairs
    ])
    # force multi-bucket sharing: bucket width 10 s << interval lengths
    out = interval_overlap_join(
        left, right, on="k", left_start="ws", left_end="we",
        right_start="ws", right_end="we", bucket_s=10,
    )
    got = {(r["iid"], r["right_iid"]): r["overlap_us"] for r in out.collect()}
    assert got == {
        (1, 100): 10 * m,   # emitted once despite sharing 2 buckets
        (1, 101): 0,        # touching endpoints = closed-interval overlap
        (2, 102): 0,        # point interval covered
    }

    # randomized equivalence vs the naive theta join (auto bucket width)
    rng = random.Random(11)

    def rand_rows(base):
        rows = []
        for i in range(60):
            start = rng.randint(0, 3000)
            rows.append((base + i, rng.randint(1, 3), start * m,
                         (start + rng.randint(0, 300)) * m))
        return rows

    lrows, rrows = rand_rows(0), rand_rows(1000)
    lf, rf = mk(lrows), mk(rrows)
    fast = interval_overlap_join(
        lf, rf, on="k", left_start="ws", left_end="we",
        right_start="ws", right_end="we",
    )
    naive = lf.alias("a").join(
        rf.alias("b"),
        (F.col("a.k") == F.col("b.k"))
        & (F.col("a.ws") <= F.col("b.we"))
        & (F.col("b.ws") <= F.col("a.we")),
    ).select(F.col("a.iid").alias("l"), F.col("b.iid").alias("r"))
    fast_pairs = {(r["iid"], r["right_iid"]) for r in fast.collect()}
    naive_pairs = {(r["l"], r["r"]) for r in naive.collect()}
    assert fast_pairs == naive_pairs
    assert len(fast_pairs) > 0
    # and the fast pair count has no duplicates
    assert fast.count() == len(fast_pairs)


def test_bucket_s_validation_fails_fast(spark, sf_dir):
    """Degenerate/typo'd bucket widths must raise, not silently return
    zero rows (floor(x/0) is NULL under non-ANSI mode) or fall through
    to the numeric path ('Auto' * 1_000_000 is string repetition)."""
    import pytest as _pytest

    from project_clinical_data_etl_pipeline_spark.operators.temporal import (
        asof_join,
        interval_overlap_join,
    )
    from project_clinical_data_etl_pipeline_spark.tables import load

    e = load(spark, sf_dir, "events").limit(10)
    left = e.select("user_id", "ts", "event_id")
    with _pytest.raises(ValueError, match="'auto'"):
        asof_join(left, left, on="user_id", left_ts="ts", right_ts="ts",
                  payload_cols=["event_id"], bucket_s="Auto")
    with _pytest.raises(ValueError, match="positive"):
        asof_join(left, left, on="user_id", left_ts="ts", right_ts="ts",
                  payload_cols=["event_id"], bucket_s=0)
    with _pytest.raises(ValueError, match="positive"):
        interval_overlap_join(
            left, left, on="user_id",
            left_start="ts", left_end="ts",
            right_start="ts", right_end="ts", bucket_s=0,
        )


def test_interval_auto_probe_shares_one_source_scan(spark, sf_dir):
    """The auto span probe is an action; without lineage truncation the
    join would re-scan every source a second time. With the lazy
    localCheckpoint the executed JOIN plan must contain NO FileScan at
    all (both legs read the partitions the probe materialized), and a
    self-join (same frame, same endpoint columns) must share a single
    checkpointed copy between its two legs."""
    from project_clinical_data_etl_pipeline_spark.operators.temporal import (
        interval_overlap_join,
    )
    from project_clinical_data_etl_pipeline_spark.tables import load

    li = load(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_linenumber",
        F.col("l_shipdate").alias("ws"),
        F.timestamp_add(
            "DAY", F.col("l_quantity").cast("int"), F.col("l_shipdate")
        ).alias("we"),
    )
    out = interval_overlap_join(
        li, li, on="l_suppkey", left_start="ws", left_end="we",
        right_start="ws", right_end="we", bucket_s=None,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan, plan
    # self-join shares one checkpoint between its two legs
    assert plan.count("Scan ExistingRDD") == 2, plan
    assert out.count() > 0


def test_interval_overlap_probe_pruned_matches_shared(spark):
    """probe='pruned' (two-column probe projection, no localCheckpoint,
    join re-reads source lineage) must produce the identical pair set
    and overlap lengths as the default probe='shared'; a typo'd probe
    mode fails fast."""
    import random

    import pytest as _pytest

    from project_clinical_data_etl_pipeline_spark.operators.temporal import (
        interval_overlap_join,
    )

    m = 1_000_000
    rng = random.Random(23)

    def mk(base):
        rows = []
        for i in range(50):
            start = rng.randint(0, 2000)
            rows.append((base + i, rng.randint(1, 3), start * m,
                         (start + rng.randint(0, 250)) * m))
        df = spark.createDataFrame(rows, ["iid", "k", "s_us", "e_us"])
        return df.select(
            "iid", "k",
            F.timestamp_micros(F.col("s_us")).alias("ws"),
            F.timestamp_micros(F.col("e_us")).alias("we"),
        )

    lf, rf = mk(0), mk(1000)
    kw = dict(on="k", left_start="ws", left_end="we",
              right_start="ws", right_end="we")
    shared = interval_overlap_join(lf, rf, **kw)
    pruned = interval_overlap_join(lf, rf, probe="pruned", **kw)
    s = {(r["iid"], r["right_iid"], r["overlap_us"]) for r in shared.collect()}
    p = {(r["iid"], r["right_iid"], r["overlap_us"]) for r in pruned.collect()}
    assert s == p and len(s) > 0

    with _pytest.raises(ValueError, match="probe"):
        interval_overlap_join(lf, rf, probe="fast", **kw)


def test_interval_overlap_stats_matches_pair_enumeration(spark):
    """Round-14 sweep aggregate: per-key (pair count, max overlap) from
    interval_overlap_stats equals brute-force pair enumeration — on
    random data WITH duplicate id tuples (the canonical-order SQL twin
    excludes same-id pairs, and a duplicate whose sibling holds the
    prefix max forces the polluted-row fallback join), same-id rows
    with TIED starts (whichever of them a window orders first, their
    pair must not count) and NULL ids (pair with nothing)."""
    import random

    from project_clinical_data_etl_pipeline_spark.operators.temporal import (
        interval_overlap_stats,
    )

    m = 1_000_000
    rng = random.Random(14)
    rows = []
    for i in range(400):
        start = rng.randint(0, 3000)
        rows.append((rng.randint(1, 4), i // 3, i % 7, start * m,
                     (start + rng.randint(0, 400)) * m))
    # duplicate-id groups with DIFFERING intervals: the long sibling is
    # the prefix max for the short one → polluted → fallback path
    rows += [
        (9, 100, 1, 0 * m, 5000 * m),
        (9, 100, 1, 10 * m, 20 * m),
        (9, 200, 2, 12 * m, 15 * m),
    ]
    # NULL id component → pairs with nothing
    rows += [(9, None, 3, 0 * m, 5000 * m)]
    # same id AND same start, in both input orders, plus a different-id
    # row overlapping both by 3: the same-id pair (overlap 10) is no pair
    tied = [(0, 100 * m), (0, 10 * m)]
    for k, order in ((10, tied), (11, tied[::-1])):
        rows += [(k, 300, 1, s, e) for s, e in order]
        rows.append((k, 301, 1, 5 * m, 8 * m))
    df = spark.createDataFrame(
        rows, ["k", "ok", "ln", "s_us", "e_us"]
    ).select(
        "k", "ok", "ln",
        F.timestamp_micros(F.col("s_us")).alias("ws"),
        F.timestamp_micros(F.col("e_us")).alias("we"),
    )
    got = {
        r["k"]: (r["n_overlapping"], r["max_overlap_us"])
        for r in interval_overlap_stats(
            df, on="k", start="ws", end="we", id_cols=["ok", "ln"]
        ).collect()
    }
    # brute force on the driver: unordered pairs, distinct non-null ids
    data = [r for r in rows if r[1] is not None]
    want: dict[int, list[int]] = {}
    for a in range(len(data)):
        for b in range(a + 1, len(data)):
            ka, oka, lna, sa, ea = data[a]
            kb, okb, lnb, sb, eb = data[b]
            if ka != kb or (oka, lna) == (okb, lnb):
                continue
            if sa <= eb and sb <= ea:
                want.setdefault(ka, []).append(min(ea, eb) - max(sa, sb))
    assert got == {
        k: (len(v), max(v)) for k, v in want.items()
    }
    assert got[10] == got[11] == (2, 3 * m)
    # no-ids form: all distinct-row pairs count (same-id pairs included)
    got_all = {
        r["k"]: (r["n_overlapping"], r["max_overlap_us"])
        for r in interval_overlap_stats(
            df.fillna({"ok": -1}), on="k", start="ws", end="we"
        ).collect()
    }
    data2 = rows
    want2: dict[int, list[int]] = {}
    for a in range(len(data2)):
        for b in range(a + 1, len(data2)):
            ka, _, _, sa, ea = data2[a]
            kb, _, _, sb, eb = data2[b]
            if ka == kb and sa <= eb and sb <= ea:
                want2.setdefault(ka, []).append(min(ea, eb) - max(sa, sb))
    assert got_all == {k: (len(v), max(v)) for k, v in want2.items()}


def test_transitive_closure_early_stop_exact(spark):
    """Round-14 fixpoint witness (count, max depth): path-doubling stops
    one round earlier yet still yields the exact min-depth closure on a
    diamond-with-chain graph (depth 5 — not a power of two)."""
    from project_clinical_data_etl_pipeline_spark.operators import (
        hierarchy as H,
    )

    edges = [(2, 1), (3, 2), (4, 2), (5, 3), (5, 4), (6, 5), (7, 6)]
    df = spark.createDataFrame(edges, ["child_id", "parent_id"])
    got = {
        (r["descendant_id"], r["ancestor_id"]): r["min_depth"]
        for r in H.transitive_closure(df).collect()
    }
    # brute force min-depth closure
    import collections

    adj = collections.defaultdict(list)
    for c, p in edges:
        adj[c].append(p)
    want = {}
    for start in {c for c, _ in edges}:
        q = collections.deque([(start, 0)])
        seen = {start}
        while q:
            node, d = q.popleft()
            for p in adj[node]:
                if p not in seen:
                    seen.add(p)
                    want[(start, p)] = d + 1
                    q.append((p, d + 1))
    assert got == want
