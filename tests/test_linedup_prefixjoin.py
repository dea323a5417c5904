"""Tests for the two round-9 corpus operators: prefix-filtered exact
Jaccard pairs (AllPairs/PPJoin-style candidate generation) and C4-style
cross-document line dedup."""

from __future__ import annotations

import random

import pytest

from project_clinical_data_etl_pipeline_spark.operators import dedup as D


def _near_dup_corpus(spark, n_docs: int = 48, seed: int = 7):
    """Vocab-limited corpus with planted near-duplicate clusters, so
    pairs exist across the whole threshold range."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    base_docs = []
    for i in range(n_docs // 3):
        base = [rng.choice(vocab) for _ in range(rng.randint(6, 20))]
        base_docs.append(base)
        rows.append((len(rows), " ".join(base)))
    for base in base_docs:
        # heavy mutation (low jaccard) and light mutation (high jaccard)
        for n_mut in (1, max(1, len(base) // 2)):
            mut = list(base)
            for _ in range(n_mut):
                mut[rng.randrange(len(mut))] = rng.choice(vocab)
            rows.append((len(rows), " ".join(mut)))
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize("threshold", [0.2, 0.5, 0.8])
def test_prefix_jaccard_matches_naive(spark, threshold):
    """The prefix-filtered path must be OUTPUT-IDENTICAL to the naive
    inverted-index path — same pairs, same exact jaccard values."""
    df = _near_dup_corpus(spark)
    naive = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            df, "doc_id", "text", threshold=threshold
        ).collect()
    }
    pref = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.jaccard_pairs_prefix(
            df, "doc_id", "text", threshold=threshold
        ).collect()
    }
    assert pref == naive
    assert naive, f"corpus must produce pairs at t={threshold} for a real test"


def test_prefix_jaccard_boundary_pair_survives(spark):
    """A pair whose jaccard is EXACTLY the threshold must not be lost to
    the candidate filters' float arithmetic. 8 shared + 2 unique-each
    one-word 'shingles' → J = 8/12 = 2/3 exactly."""
    shared = [f"s{i}" for i in range(8)]
    a = shared + ["xa1", "xa2"]
    b = shared + ["xb1", "xb2"]
    df = spark.createDataFrame(
        [(0, " ".join(a)), (1, " ".join(b))], "doc_id long, text string"
    )
    # k=1 shingles = words themselves → set sizes 10/10, inter 8
    out = D.jaccard_pairs_prefix(
        df, "doc_id", "text", k=1, threshold=2.0 / 3.0
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in out] == [(0, 1)]
    assert out[0]["jaccard"] == pytest.approx(2.0 / 3.0)


def test_prefix_jaccard_rejects_degenerate_threshold(spark):
    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        D.jaccard_pairs_prefix(df, "doc_id", "text", threshold=0.0)


def test_line_dedup_known_corpus(spark):
    """Hand-checked winner/loser assignments, blank-line preservation,
    and the all-lines-dropped document surviving with empty text."""
    docs = [
        (1, "alpha\nbeta\n\ngamma"),
        (2, "beta\ndelta\nalpha"),
        (3, "beta\nbeta\nepsilon\n"),
        (4, "alpha"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in D.line_dedup_corpus(df, "doc_id", "text").collect()
    }
    assert out[1]["text_clean"] == "alpha\nbeta\n\ngamma"
    assert (out[1]["n_lines_kept"], out[1]["n_lines_dropped"]) == (4, 0)
    assert out[2]["text_clean"] == "delta"
    assert (out[2]["n_lines_kept"], out[2]["n_lines_dropped"]) == (1, 2)
    # doc 3: both betas lose to doc 1; trailing blank line is kept
    assert out[3]["text_clean"] == "epsilon\n"
    assert (out[3]["n_lines_kept"], out[3]["n_lines_dropped"]) == (2, 2)
    # doc 4 lost its only line but stays present
    assert out[4]["text_clean"] == ""
    assert (out[4]["n_lines_kept"], out[4]["n_lines_dropped"]) == (0, 1)
    assert out[4]["kept_frac"] == 0.0


def _py_line_dedup(docs: list[tuple[int, str]], min_chars: int):
    """Single-threaded reference: first occurrence by (doc_id, pos)."""
    seen: set[str] = set()
    result = {}
    for doc_id, text in sorted(docs):
        lines = text.split("\n")
        kept = []
        for line in lines:
            if len(line) < min_chars:
                kept.append(line)
            elif line not in seen:
                seen.add(line)
                kept.append(line)
        result[doc_id] = ("\n".join(kept), len(kept), len(lines) - len(kept))
    return result


@pytest.mark.parametrize("min_chars", [1, 5])
def test_line_dedup_matches_python_reference(spark, min_chars):
    """Randomized corpus vs a sequential first-occurrence reference.
    NOTE the reference walks docs in ascending doc_id, which matches the
    operator's min(struct(id, pos)) winner rule only because within one
    doc the first occurrence also wins — both hold here."""
    rng = random.Random(11)
    line_pool = [f"line number {i} of the shared pool" for i in range(25)]
    line_pool += ["", "x", "hey"]  # short lines exercise min_chars
    docs = [
        (
            i,
            "\n".join(
                rng.choice(line_pool) for _ in range(rng.randint(1, 12))
            ),
        )
        for i in range(30)
    ]
    expected = _py_line_dedup(docs, min_chars)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = D.line_dedup_corpus(df, "doc_id", "text", min_chars=min_chars)
    for r in out.collect():
        exp_text, exp_kept, exp_dropped = expected[r["doc_id"]]
        assert r["text_clean"] == exp_text
        assert r["n_lines_kept"] == exp_kept
        assert r["n_lines_dropped"] == exp_dropped


def test_line_dedup_winner_is_partial_aggregated(spark):
    """The winner-per-line aggregate must partial-combine map-side (the
    skew answer for hot boilerplate lines): the plan shows a partial
    HashAggregate below the exchange, and no window sort over lines."""
    df = spark.createDataFrame(
        [(i, "dup\nu%d" % i) for i in range(10)], "doc_id long, text string"
    )
    plan = (
        D.line_dedup_corpus(df, "doc_id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "partial_min" in plan or "partial" in plan.lower()
    assert "Window" not in plan
