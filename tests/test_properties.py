"""Property-based tests (hypothesis): engine expressions vs plain-Python
reference semantics on adversarial inputs. Each test folds every
generated case into ONE DataFrame pass — Spark jobs are expensive,
examples are not.
"""

from __future__ import annotations

import re

import pytest

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from project_clinical_data_etl_pipeline_spark.operators import dedup as D
from project_clinical_data_etl_pipeline_spark.operators.encoders import adt_a01_message

TEXTS = st.lists(
    st.text(
        alphabet=st.characters(codec="utf-8", exclude_categories=["Cs"]),
        max_size=80,
    ),
    min_size=1,
    max_size=30,
)


# Java regex \s is ASCII [ \t\n\x0b\f\r]; Python's is Unicode-wide.
# The engine (Java) and the DuckDB oracle (RE2) agree on ASCII — the
# Python reference here must match THAT definition, not Python's.
_WS = " \t\n\x0b\f\r"


def py_normalize(s: str) -> str:
    s = s.lower()
    s = re.sub(rf"[^a-z0-9{_WS}]", "", s)
    s = re.sub(rf"[{_WS}]+", " ", s)
    return s.strip(_WS)


def py_shingles(s: str, k: int = 3) -> list[str]:
    words = py_normalize(s).split(" ")
    n = len(words)
    upper = max(n - (k - 1), 1)
    return [" ".join(words[i : i + k]) for i in range(upper)]


@settings(max_examples=20, deadline=None)
@given(TEXTS)
def test_shingles_match_python_reference(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    got = {
        r["doc_id"]: r["__shingles"]
        for r in D.with_shingles(df, "text", k=3).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == py_shingles(t, 3), repr(t)


@settings(max_examples=15, deadline=None)
@given(TEXTS)
def test_exact_dedup_groups_partition_ids(spark, texts):
    """Every id lands in exactly one group; group sizes sum to n; ids with
    identical normalized text share a group keyed by the same hash."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    groups = D.exact_dedup_groups(df, "doc_id", "text").collect()
    assert sum(g["n_dups"] for g in groups) == len(texts)
    by_norm: dict[str, set[int]] = {}
    for i, t in enumerate(texts):
        by_norm.setdefault(py_normalize(t), set()).add(i)
    assert len(groups) == len(by_norm)
    keep_ids = {g["keep_id"] for g in groups}
    assert keep_ids == {min(ids) for ids in by_norm.values()}


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abcdefgh ^|", max_size=12),  # family w/ delimiters
            st.sampled_from(["male", "female", "", "x"]),
        ),
        min_size=1,
        max_size=10,
    )
)
def test_er7_always_four_segments_fixed_fields(spark, people):
    df = spark.createDataFrame(
        [(str(i), fam, g) for i, (fam, g) in enumerate(people)],
        "pid string, family string, gender string",
    )
    msgs = adt_a01_message(
        df,
        patient_id=F.col("pid"),
        family=F.col("family"),
        given=F.lit("G"),
        gender=F.col("gender"),
        birth_date=F.to_date(F.lit("2000-01-01")),
        line=F.lit("1 St"),
        city=F.lit("C"),
        state=F.lit("S"),
        postal=F.lit("0"),
        icd10_code=F.lit("J30.4"),
        icd10_term=F.lit("T"),
        msg_ts=F.lit("20260101000000"),
    ).collect()
    for r in msgs:
        segs = r["er7"].split("\r")
        assert [s.split("|")[0] for s in segs] == ["MSH", "PID", "PV1", "DG1"]
        assert len(segs[0].split("|")) == 12
        assert len(segs[1].split("|")) == 12
        pid_8 = segs[1].split("|")[8]
        assert pid_8 in {"M", "F", "U", "X"}  # empty gender → U, never crash


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 10_000)),  # (user, offset_s)
        min_size=1,
        max_size=60,
    )
)
def test_sessionize_batch_invariants(spark, events):
    from project_clinical_data_etl_pipeline_spark.streaming.sessions import (
        sessionize_batch,
    )

    gap = 300
    df = spark.createDataFrame(
        [(u, off, float(i)) for i, (u, off) in enumerate(events)],
        "user_id long, off long, value double",
    ).select(
        "user_id",
        F.expr("timestamp_seconds(1704067200 + off)").alias("ts"),
        "value",
    )
    sessions = sessionize_batch(df, gap_s=gap).collect()
    assert sum(s["n_events"] for s in sessions) == len(events)
    per_user: dict[int, list] = {}
    for s in sessions:
        per_user.setdefault(s["user_id"], []).append(s)
    for u, ss in per_user.items():
        ss.sort(key=lambda s: s["session_start"])
        for s in ss:
            assert s["session_start"] <= s["session_end"]
        for a, b in zip(ss, ss[1:]):  # inter-session gap must exceed gap_s
            assert (b["session_start"] - a["session_end"]).total_seconds() > gap


def _uf_components(n: int, pairs_data: list[tuple[int, int]]) -> dict[int, int]:
    """Python union-find oracle: id → min id of its component, only for
    ids that appear in some pair."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs_data:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the root IS the component min
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {x: find(x) for x in parent}


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)), min_size=0, max_size=20
    )
)
def test_dedup_components_match_union_find(spark, raw_pairs):
    pairs_data = [(a, b) for a, b in raw_pairs if a < b]
    if not pairs_data:
        return
    pairs = spark.createDataFrame(pairs_data, "id_a long, id_b long")
    got = {r["id"]: r["comp"] for r in D.dedup_components(pairs).collect()}
    assert got == _uf_components(16, pairs_data)


def test_keep_canonical_components_resolves_non_cliques(spark):
    """(a,c),(b,c) is NOT a clique: dropping each pair's larger id
    would keep both a and b, but the docs are transitively one cluster
    — the component resolver must keep only a. Also: a long chain
    (worst case for propagation) collapses to its min."""
    df = spark.createDataFrame([(i,) for i in range(16)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 2), (1, 2)] + [(i, i + 1) for i in range(5, 12)],
        "id_a long, id_b long",
    )
    exact = {
        r["doc_id"]
        for r in D.keep_canonical_components(df, "doc_id", pairs).collect()
    }
    assert exact == (set(range(16)) - {1, 2} - set(range(6, 13)))


# ---------------------------------------------------------------------------
# Temporal joins vs brute-force Python oracles on random event sets

_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),        # key
        st.integers(min_value=0, max_value=2_000),    # seconds offset
    ),
    min_size=0,
    max_size=40,
)


@settings(max_examples=15, deadline=None)
@given(_EVENTS, _EVENTS)
@pytest.mark.slow  # round 14: ~1 min fuzz; fast asof pins cover semantics
def test_asof_join_matches_bruteforce(spark, lefts, rights):
    from project_clinical_data_etl_pipeline_spark.operators.temporal import asof_join

    base = 1_700_000_000  # epoch seconds
    lrows = [(i, k, (base + s) * 1_000_000) for i, (k, s) in enumerate(lefts)]
    rrows = [(i, k, (base + s) * 1_000_000) for i, (k, s) in enumerate(rights)]
    l = spark.createDataFrame(lrows, "event_id long, k long, us long").select(
        "event_id", "k", F.timestamp_micros("us").alias("ts"))
    r = spark.createDataFrame(rrows, "event_id long, k long, us long").select(
        "event_id", "k", F.timestamp_micros("us").alias("ts"))
    expect = {}
    for li, lk, lt in lrows:
        cands = [(t, i) for i, k, t in rrows if k == lk and t <= lt]
        expect[li] = max(cands)[1] if cands else None

    out = asof_join(l, r, on="k", left_ts="ts", right_ts="ts",
                    payload_cols=["event_id"])
    got = {row["event_id"]: row["right_event_id"] for row in out.collect()}
    assert got == expect

    # the skew-bucketed path must be output-identical (300 s buckets →
    # plenty of cross-bucket matches at this time spread)
    bucketed = asof_join(l, r, on="k", left_ts="ts", right_ts="ts",
                         payload_cols=["event_id"], bucket_s=300)
    got_b = {row["event_id"]: row["right_event_id"] for row in bucketed.collect()}
    assert got_b == expect

    # forward direction vs its own brute force (earliest at-or-after)
    fwd = asof_join(l, r, on="k", left_ts="ts", right_ts="ts",
                    payload_cols=["event_id"], direction="forward")
    got_f = {row["event_id"]: row["right_event_id"] for row in fwd.collect()}
    expect_f = {}
    for li, lk, lt in lrows:
        cands = [(t, i) for i, k, t in rrows if k == lk and t >= lt]
        if cands:
            t0 = min(t for t, _ in cands)
            # ties at the earliest ts resolve to the max payload tuple,
            # same rule as backward
            expect_f[li] = max(i for t, i in cands if t == t0)
        else:
            expect_f[li] = None
    assert got_f == expect_f


@settings(max_examples=15, deadline=None)
@given(_EVENTS, _EVENTS)
def test_range_join_matches_bruteforce(spark, lefts, rights):
    from project_clinical_data_etl_pipeline_spark.operators.temporal import (
        range_join_binned,
    )

    base = 1_700_000_000
    lrows = [(i, k, (base + s) * 1_000_000) for i, (k, s) in enumerate(lefts)]
    rrows = [(i, k, (base + s) * 1_000_000) for i, (k, s) in enumerate(rights)]
    l = spark.createDataFrame(lrows, "event_id long, k long, us long").select(
        "event_id", "k", F.timestamp_micros("us").alias("ts"))
    r = spark.createDataFrame(rrows, "rid long, k long, us long").select(
        "rid", "k", F.timestamp_micros("us").alias("ts"))
    pairs = range_join_binned(l, r, on="k", left_ts="ts", right_ts="ts",
                              lower_s=-600, upper_s=0)
    got = sorted((row["event_id"], row["right_rid"]) for row in pairs.collect())

    lo, up = -600 * 1_000_000, 0
    expect = sorted(
        (li, ri)
        for li, lk, lt in lrows
        for ri, rk, rt in rrows
        if rk == lk and lo < rt - lt <= up
    )
    assert got == expect


def test_approx_percentile_brackets_exact(spark, sf_dir):
    """The scale path for unbounded-group order statistics
    (approx_percentile: fixed-memory mergeable GK sketch) must land
    within its guaranteed rank-error bound of the exact percentile()
    graded in op39_43_agg_set_suite's 'pctl' leg: for accuracy A the
    sketched p-quantile lies between the exact (p - 1/A) and
    (p + 1/A) quantiles."""
    from project_clinical_data_etl_pipeline_spark.tables import load

    import bisect

    acc = 1000
    o = load(spark, sf_dir, "orders")
    rows = (
        o.groupBy("o_orderstatus")
        .agg(
            F.approx_percentile("o_totalprice", 0.5, acc).alias("approx_med"),
            F.approx_percentile("o_totalprice", 0.9, acc).alias("approx_p90"),
            F.sort_array(F.collect_list("o_totalprice")).alias("vals"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        vals = r["vals"]
        n = len(vals)
        # GK guarantee is in RANK space: |rank(approx) - p·n| ≤ n/acc,
        # plus 1 for the sketch returning an actual element (no
        # interpolation) while p·n falls between ranks.
        slack = n / acc + 1.0
        for p, v in ((0.5, r["approx_med"]), (0.9, r["approx_p90"])):
            lo = bisect.bisect_left(vals, v)
            hi = bisect.bisect_right(vals, v)
            target = p * n
            err = min(abs(lo - target), abs(hi - target))
            assert err <= slack, (r["o_orderstatus"], p, v, err, slack)
