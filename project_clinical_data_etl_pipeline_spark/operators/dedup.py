"""Deduplication operators for large-scale training-data pipelines.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup over a text
column. All built from JVM-side expressions (md5 / xxhash64 / array
higher-order functions) — no Python in the hot path.

Determinism: hash functions are md5/xxhash64 with fixed seeds, so
results are reproducible across runs and cluster sizes. Where an
operator has a DuckDB oracle, the hash is md5 (identical hex output in
both engines).

Scale notes: every stage is a groupBy/join on a bounded-width key
(hash or band signature). The 100 TB pattern is
  shingle → per-doc signature (map-only) → band explode (×B)
  → groupBy band bucket (shuffle of doc_id+signature only, NOT text)
  → pairs within buckets → verify.
Text never shuffles; only ids and fixed-width signatures do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame


def normalize_text(col: Column) -> Column:
    """Canonicalize text before hashing: lowercase, collapse whitespace,
    strip non-alphanumerics. Deterministic and locale-independent."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-z0-9\s]", "")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def fan_out(
    df: DataFrame,
    min_partitions: int | None = None,
    min_bytes: int = 0,
) -> DataFrame:
    """Round-robin repartition iff the input is narrower than the session's
    shuffle parallelism. Expensive per-row map stages (signatures,
    shingling) otherwise run on however few partitions the scan produced
    — a single small parquet file = ONE task = serial execution.

    At 100 TB this is a no-op (the scan already yields thousands of
    partitions); it only pays the shuffle when the input is pathologically
    narrow relative to the cluster.

    ``min_bytes`` adds a cost floor for call sites whose per-row work is
    only MODERATELY heavy: below it, the widened stage's shuffle + extra
    task scheduling cost more than the serial map it saves (measured:
    the classifier's regex features over sf0.1's 0.6 MB corpus lose
    ~0.5 s to a 32-way fan-out that wins 1.7x at sf1's 6 MB — and its
    8 GD jobs each re-pay the width against the checkpointed
    projection). The estimate is Catalyst's optimized-plan
    ``sizeInBytes`` (file size x column-pruning fraction — driver-side,
    no job). Truly heavy stages (explode fan-outs: |text| rows per row)
    should keep the default 0 — they amortize any shuffle."""
    try:
        n = min_partitions or int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    except Exception:
        n = min_partitions or 32
    if min_bytes:
        try:
            # py4j maps the scala BigInt straight to a Python int
            est = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
            if est < min_bytes:
                return df
        except Exception:
            pass  # stats unavailable -> fall through to the width check
    try:
        # width probe on the executed plan's internal RDD: same count as
        # df.rdd but skips building the Python-pickle conversion RDD
        # (df.rdd plans an extra javaToPython stage just to be counted)
        width = df._jdf.queryExecution().toRdd().getNumPartitions()
    except Exception:
        width = df.rdd.getNumPartitions()
    if width < n:
        return df.repartition(n)
    return df


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup via content hash: one output row per distinct content,
    with the kept (minimum) id and the duplicate count.

    Hash-groupBy is a single shuffle of (hash, id) — 24 bytes/row at
    100 TB, not the text itself, because md5 is computed map-side and
    the text column is pruned from the shuffle.
    """
    h = F.md5(normalize_text(F.col(text_col))).alias("content_hash")
    return (
        df.select(h, F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).cast("bigint").alias("keep_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_dups"),
        )
    )


def _mix(x: int) -> int:
    """Fixed 64-bit integer mix (splitmix64 finalizer) for deriving hash
    constants at plan-build time. Plain Python — runs once on the driver."""
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


def _shingles_from_words(words: Column, k: int) -> Column:
    """Shingle array from a words array via zip-with-shifted-slices.

    Equivalent to per-position ``slice+join`` (same output, incl. the
    short-doc fallback of one whole-text shingle), but NO lambda ever
    references ``words`` by position — so even when CollapseProject /
    column pruning substitutes the full words expression back into this
    tree (which it does once a downstream projection uses each column
    exactly once), the expensive normalize+split evaluates a bounded
    ~k+2 times per ROW instead of once per shingle POSITION."""
    cur = words
    for j in range(1, k):
        shifted = F.slice(
            words, j + 1, F.greatest(F.size(words) - F.lit(j), F.lit(0))
        )
        cur = F.zip_with(
            cur,
            shifted,
            lambda a, b: F.when(b.isNull(), F.lit(None)).otherwise(
                F.concat_ws(" ", a, b)
            ),
        )
    complete = F.filter(cur, lambda x: x.isNotNull())
    # docs with fewer than k words keep one shingle of the whole text
    # (mirrors slice(words, i, k) saturating on short arrays)
    return F.when(F.size(complete) > 0, complete).otherwise(
        F.array(F.array_join(words, " "))
    )


def with_shingles(
    df: DataFrame, text_col: str, k: int = 3, out: str = "__shingles"
) -> DataFrame:
    """Add a k-word-shingle array column via a two-step projection.

    Step 1 materializes the normalized words array as its own column;
    step 2 builds shingles referencing that attribute. The split keeps
    the regex-normalize pipeline out of the per-position lambda (no CSE
    in interpreted HOF evaluation), and CollapseProject leaves the two
    projections alone because the words column is non-cheap and
    referenced more than once."""
    w = df.withColumn("__words", F.split(normalize_text(F.col(text_col)), " "))
    return w.withColumn(out, _shingles_from_words(F.col("__words"), k)).drop("__words")


def minhash_signature_from_shingles(
    shingles: Column, num_hashes: int = 32
) -> Column:
    """MinHash signature from an existing shingle-array column."""
    # One string hash per shingle, then num_hashes multiply-shift
    # transforms h_i(x) = ((h32 XOR c_i) * a_i) >> 13 — the XOR breaks
    # monotonicity (an affine-only family would make every h_i share one
    # argmin shingle), the multiply mixes. Constants sized so the
    # arithmetic cannot overflow signed 64 ((2^32)·(2^30) < 2^63) — safe
    # under ANSI mode, deterministic. Higher-order functions evaluate
    # interpreted (no codegen), so the expensive part — string hashing —
    # is done once per shingle, not num_hashes×.
    # NB: lambdas must be single-arg — a second Python parameter binds
    # to the element index, not to Python defaults.
    a_consts = [(_mix(2 * i + 1) % ((1 << 30) - 1)) | 1 for i in range(num_hashes)]
    c_consts = [_mix(3 * i + 7) % (1 << 32) for i in range(num_hashes)]
    mask32 = F.lit(0xFFFFFFFF).cast("bigint")
    base_hashes = F.transform(shingles, lambda s: F.xxhash64(s).bitwiseAND(mask32))
    # two-level transform: the interpreted evaluator has no CSE, so the
    # string hash must be bound to a lambda variable before fan-out ×32
    hashes_per_shingle = F.transform(
        base_hashes,
        lambda h: F.array(
            *[
                F.shiftrightunsigned(
                    h.bitwiseXOR(F.lit(c).cast("bigint")) * F.lit(a).cast("bigint"),
                    13,
                )
                for a, c in zip(a_consts, c_consts)
            ]
        ),
    )
    init = F.array_repeat(F.lit((1 << 63) - 1).cast("bigint"), num_hashes)
    return F.aggregate(
        hashes_per_shingle,
        init,
        lambda acc, hs: F.zip_with(acc, hs, lambda a, b: F.least(a, b)),
    )


def _hot_key_counts(rows: DataFrame, key_col: str, max_count: int) -> DataFrame:
    """(key, __cnt) for keys occurring more than ``max_count`` times —
    the SINGLE definition of 'hot' shared by the lazy and the
    logged/pre-collected drop paths (keeping their semantics from
    drifting apart)."""
    return (
        rows.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .filter(F.col("__cnt") > max_count)
    )


def _drop_hot_keys(
    rows: DataFrame,
    key_col: str,
    max_count: int,
    hot_keys: list | None = None,
) -> DataFrame:
    """Drop every row whose ``key_col`` value occurs more than
    ``max_count`` times — the skew-cap primitive for LSH buckets and
    inverted-index postings.

    Scale shape: the hot-key set is tiny BY CONSTRUCTION (each survivor
    of the count-filter represents > max_count input rows, so there can
    be at most |rows|/max_count of them) → it broadcasts, and the drop
    is a broadcast anti-join — no extra shuffle of ``rows``.

    ``hot_keys``: pass the key values already collected from
    :func:`_hot_key_counts` (e.g. after logging them) to skip the
    aggregate and anti-join against a literal frame instead."""
    if hot_keys is not None:
        if not hot_keys:
            return rows
        hot = local_frame(
            rows.sparkSession,
            [(k,) for k in hot_keys],
            T.StructType([rows.schema[key_col]]),
        )
    else:
        hot = _hot_key_counts(rows, key_col, max_count).select(key_col)
    return rows.join(F.broadcast(hot), on=key_col, how="left_anti")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash + LSH candidate pairs: docs sharing ≥1 band bucket.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b, est_jaccard =
    fraction of matching signature positions (computed post-join from
    the full signatures — a cheap verify that prunes LSH false
    positives).

    Shuffle profile at scale: the band explode multiplies rows ×bands,
    but each shuffled row is (band_key, id, signature) — fixed width.
    The self-join happens per bucket; hot buckets (boilerplate corpora
    hashing to one signature) are the skew risk: a bucket of b docs
    materializes O(b²) pairs no matter how AQE splits the join.

    ``max_bucket_size`` bounds that blowup: band buckets holding more
    than this many docs are dropped entirely (broadcast anti-join — the
    hot-bucket set is provably ≤ |docs|·bands/max_bucket_size keys).
    Dropping is the right semantic for dedup: a mega-bucket is
    boilerplate whose members are near-identical; route them through
    ``exact_dedup_groups`` instead of enumerating b² pairs. Pairs whose
    ONLY shared bucket was hot are lost (recall trade, documented) —
    exact duplicates still surface in every other band.
    """
    sig = with_shingles(fan_out(df), text_col, k).select(
        F.col(id_col).alias("__id"),
        minhash_signature_from_shingles(F.col("__shingles"), num_hashes).alias("__sig"),
    )
    # "sign once, join many": both self-join sides would otherwise re-run
    # the shingle+hash pipeline. Signatures are fixed-width (num_hashes ×
    # 8 B/doc) so the checkpoint is tiny relative to the text; at
    # warehouse scale persist to a table instead.
    sig = sig.localCheckpoint()
    return _lsh_banded_pairs(sig, num_hashes, bands, max_bucket_size)


def _lsh_banded_pairs(
    sig: DataFrame,
    num_hashes: int,
    bands: int,
    max_bucket_size: int | None,
) -> DataFrame:
    """Shared LSH tail: band a (__id, __sig) signature frame, equi-join
    on band buckets, estimate Jaccard as the matching-position fraction.
    ``__sig`` elements may be any equality-comparable, castable-to-
    string type (bigint for the xxhash64 kernel, md5 hex strings for
    the cross-engine-graded kernel) — banding stringifies, the estimate
    compares with ``==``. One definition so the two kernels cannot
    drift in banding/dedupe/estimate semantics."""
    rows_per_band = num_hashes // bands
    banded = sig.select(
        "__id",
        "__sig",
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.array_join(
                            F.transform(
                                F.slice(F.col("__sig"), b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                            "_",
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__pos", "__band"),
    ).select(
        "__id",
        "__sig",
        F.concat_ws(":", F.col("__band.band").cast("string"), F.col("__band.bucket")).alias(
            "__bucket"
        ),
    )
    if max_bucket_size is not None:
        banded = _drop_hot_keys(banded, "__bucket", max_bucket_size)
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(right, on="__bucket")
        .filter(F.col("l.__id") < F.col("r.__id"))
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            (
                F.size(
                    F.filter(
                        F.zip_with(F.col("l.__sig"), F.col("r.__sig"), lambda a, b: a == b),
                        lambda x: x,
                    )
                ).cast("double")
                / F.lit(float(num_hashes))
            ).alias("est_jaccard"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs


def minhash_signature_md5_from_shingles(
    shingles: Column, num_hashes: int = 8
) -> Column:
    """MinHash signature as array<string>: ``sig[j] = min over shingles
    of md5(j ‖ '|' ‖ shingle)`` — lexicographic min over lowercase hex,
    identical in every engine that ships md5 (DuckDB included), so
    sketch→band→pair is CROSS-ENGINE GRADABLE end-to-end, unlike the
    xxhash64 production kernel (no DuckDB twin). The hash family is the
    classic salted-hash minhash (one independent hash per salt); md5
    costs ~an order of magnitude more than xxhash64 per shingle, which
    is why this kernel grades correctness while
    :func:`minhash_signature_from_shingles` serves production. Same
    map-side-only shape: num_hashes × 32 B/doc, no shuffle."""
    # NB: single-arg lambdas built by a factory — a second Python
    # parameter (even defaulted) makes pyspark bind it to the element
    # INDEX, silently changing the hash input.
    def salted(j: int):
        return lambda s: F.md5(F.concat(F.lit(f"{j}|"), s))

    return F.array(
        *[
            F.array_min(F.transform(shingles, salted(j)))
            for j in range(num_hashes)
        ]
    )


def minhash_md5_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    k: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash+LSH pairs on the md5-salted signature kernel — the
    DuckDB-twinnable variant of :func:`minhash_lsh_pairs` (same banding,
    pair-dedupe, and matching-fraction estimate via
    :func:`_lsh_banded_pairs`; only the hash family differs). Returns
    (id_a, id_b, est_jaccard) with id_a < id_b."""
    sig = with_shingles(fan_out(df), text_col, k).select(
        F.col(id_col).alias("__id"),
        minhash_signature_md5_from_shingles(F.col("__shingles"), num_hashes).alias(
            "__sig"
        ),
    ).localCheckpoint()
    return _lsh_banded_pairs(sig, num_hashes, bands, max_bucket_size)


def simhash_votes(shingles: Column, k: int = 2) -> Column:
    """Per-bit SimHash votes as array<int>(64) from a shingle-array
    column: one pass over the shingle hashes, +1/-1 per bit via
    zip_with — the shingle pipeline is evaluated once, not per bit."""
    hashes = F.transform(shingles, lambda s: F.xxhash64(s, F.lit(7)))
    bit_masks = F.array(
        *[F.shiftleft(F.lit(1).cast("bigint"), b) for b in range(64)]
    )
    return F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            bit_masks,
            lambda a, m: a
            + F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )


#: Packs a named array<int>(64) votes column into the signed-64 SimHash.
#: SQL expr because shiftleft-by-a-lambda-variable has no Python binding.
_PACK_VOTES_SQL = (
    "aggregate(zip_with({votes}, sequence(0, 63),"
    " (v, b) -> if(v > 0, shiftleft(1L, b), 0L)), 0L, (a, x) -> a + x)"
)


def with_simhash64(
    df: DataFrame, text_col: str, out_col: str = "simhash", k: int = 2
) -> DataFrame:
    """Add a 64-bit SimHash (bigint) of ``text_col``. Classic bit-vote
    construction; map-only, one shingle pass per row (interpreted HOF
    fold — fine for column composition; the pair-generation hot path
    uses :func:`simhash64_by_key` instead)."""
    return (
        with_shingles(df, text_col, k)
        .withColumn("__votes", simhash_votes(F.col("__shingles"), k))
        .withColumn(out_col, F.expr(_PACK_VOTES_SQL.format(votes="__votes")))
        .drop("__votes", "__shingles")
    )


_HEX_CHARS = "0123456789abcdef"


def simhash_md5_votes(shingles: Column) -> Column:
    """Per-bit SimHash votes (array<int>(64)) on the md5 hash family —
    the cross-engine-gradable twin of :func:`simhash_votes` (same vote
    rule, only the hash differs; the minhash-md5 pattern). Bits come
    from the first 16 hex chars of ``md5(shingle)`` split into two
    unsigned 32-bit halves (``conv`` hex→decimal — Spark has no
    unsigned 64); bit ``b`` reads half ``lo`` for b<32 else ``hi`` at
    position ``b%32`` via exact power-of-two integer division (the form
    the DuckDB twin states verbatim). Duplicate shingles vote once
    each — no dedupe, matching the production kernel."""
    hs = F.transform(
        shingles,
        lambda s: F.struct(
            F.conv(F.substring(F.md5(s), 1, 8), 16, 10)
            .cast("bigint")
            .alias("hi"),
            F.conv(F.substring(F.md5(s), 9, 8), 16, 10)
            .cast("bigint")
            .alias("lo"),
        ),
    )
    bit_idx = F.sequence(F.lit(0), F.lit(63))

    def vote(acc: Column, h: Column) -> Column:
        def one(a: Column, b: Column) -> Column:
            half = F.when(b < 32, h["lo"]).otherwise(h["hi"])
            p2 = F.floor(F.pow(F.lit(2.0), (b % 32).cast("double"))).cast(
                "bigint"
            )
            bit = F.floor(half / p2).cast("bigint") % 2
            return a + F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1))

        return F.zip_with(acc, bit_idx, one)

    return F.aggregate(hs, F.array_repeat(F.lit(0), 64), vote)


def with_simhash_md5_hex(
    df: DataFrame, text_col: str, out_col: str = "simhash_hex", k: int = 3
) -> DataFrame:
    """Add the md5-family SimHash as a 16-char lowercase hex STRING —
    hex char ``n`` encodes vote bits ``4n..4n+3`` with weight ``2^j``
    for bit ``4n+j`` (documented little-endian-nibble layout; both
    engines and the Python oracle state the same formula, so the
    convention is total). A string signature sidesteps signed-64
    packing entirely (bit 63 would be Long.MIN_VALUE) and compares
    identically in every engine."""
    d = with_shingles(df, text_col, k).withColumn(
        "__votes", simhash_md5_votes(F.col("__shingles"))
    )
    char_arr = F.array(*[F.lit(c) for c in _HEX_CHARS])
    nibbles = []
    for n in range(16):
        v = sum(
            [
                F.when(
                    F.element_at(F.col("__votes"), 4 * n + j + 1) > 0,
                    F.lit(1 << j),
                ).otherwise(F.lit(0))
                for j in range(4)
            ],
            F.lit(0),
        )
        nibbles.append(F.element_at(char_arr, v + 1))
    return d.withColumn(out_col, F.concat(*nibbles)).drop(
        "__votes", "__shingles"
    )


def simhash64_by_key(
    df: DataFrame, key_col: str, text_col: str, out_col: str = "simhash", k: int = 2
) -> DataFrame:
    """(key, simhash) via explode + codegen vote aggregation — the hot
    path. Shingle hashes explode to (key, hash) rows (the TEXT never
    leaves the map side), 64 per-bit vote sums run as plain whole-stage
    codegen aggregates (measured ~6× over the interpreted zip_with
    fold), and the sign bits pack into the final bigint.

    Bit-compatible with :func:`with_simhash64`: same shingles, same
    xxhash64 seed, same vote rule, bit 63 packs as Long.MIN_VALUE
    exactly like shiftleft(1L, 63)."""
    hashed = with_shingles(df, text_col, k).select(
        F.col(key_col),
        F.explode(
            F.transform(F.col("__shingles"), lambda s: F.xxhash64(s, F.lit(7)))
        ).alias("__h"),
    )
    # bit 63's mask is Long.MIN_VALUE (1<<63 overflows signed 64)
    masks = [(1 << b) if b < 63 else -(1 << 63) for b in range(64)]
    votes = [
        F.sum(
            F.when(
                F.col("__h").bitwiseAND(F.lit(masks[b]).cast("bigint")) != 0, 1
            ).otherwise(-1)
        ).alias(f"__v{b}")
        for b in range(64)
    ]
    agg = hashed.groupBy(key_col).agg(*votes)
    packed = None
    for b in range(64):
        bit_val = (1 << b) if b < 63 else -(1 << 63)
        term = F.when(F.col(f"__v{b}") > 0, F.lit(bit_val).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        packed = term if packed is None else packed + term
    return agg.withColumn(out_col, packed).drop(*[f"__v{b}" for b in range(64)])


def simhash_near_dups(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-duplicate pairs via 4-block LSH (Hamming ≤ 3 ⇒ at
    least one 16-bit block identical — pigeonhole). Returns
    (id_a, id_b, hamming).

    Blocks are join keys, so candidate generation is 4 equi-joins'
    worth of explode, shuffling (block_key, id, simhash) only.
    """
    sh = simhash64_by_key(
        fan_out(df.select(F.col(id_col).alias("__id"), text_col)),
        "__id",
        text_col,
        "__sh",
    ).select("__id", "__sh")
    blocked = sh.select(
        "__id",
        "__sh",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.lit(str(i)),
                        F.shiftrightunsigned(F.col("__sh"), 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .cast("string"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("__block"),
    )
    l, r = blocked.alias("l"), blocked.alias("r")
    hamming = F.bit_count(F.col("l.__sh").bitwiseXOR(F.col("r.__sh")))
    return (
        l.join(r, on="__block")
        .filter(F.col("l.__id") < F.col("r.__id"))
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    df_max: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs that share at
    least one shingle. Returns (id_a, id_b, jaccard ≥ threshold).

    Built as shingle-inverted-index self-join: explode distinct
    shingles → join on shingle → count shared → |A∩B| / (|A|+|B|-|A∩B|).

    ``df_max`` is the 100 TB document-frequency cap: shingles appearing
    in more than ``df_max`` docs are dropped from the inverted index
    before the self-join (broadcast anti-join on the provably-small
    hot-shingle set), bounding each posting list's pair fan-out at
    df_max². With the cap active the reported jaccard is a LOWER bound
    (capped shingles no longer count toward the intersection while doc
    sizes keep them) — the standard trade for boilerplate-heavy corpora,
    where ubiquitous shingles carry no similarity signal anyway.
    ``df_max=None`` keeps the exact semantics the DuckDB oracle checks.
    """
    sizes = with_shingles(fan_out(df), text_col, k).select(
        F.col(id_col).alias("__id"),
        F.array_distinct(F.col("__shingles")).alias("__sh"),
    ).select("__id", "__sh", F.size("__sh").alias("__n"))
    exploded = sizes.select("__id", "__n", F.explode("__sh").alias("__s"))
    if df_max is not None:
        exploded = _drop_hot_keys(exploded, "__s", df_max)
    l, r = exploded.alias("l"), exploded.alias("r")
    shared = (
        l.join(r, on="__s")
        .filter(F.col("l.__id") < F.col("r.__id"))
        .groupBy(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("__inter"),
            F.min("l.__n").alias("__na"),  # constant per group; min is deterministic
            F.min("r.__n").alias("__nb"),
        )
    )
    jac = F.col("__inter") / (F.col("__na") + F.col("__nb") - F.col("__inter"))
    return shared.select(
        "id_a", "id_b", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via prefix filtering — output-identical
    to :func:`ngram_jaccard_pairs` (df_max=None) but with candidate
    generation bounded by the AllPairs/PPJoin prefix principle
    (Chaudhuri et al. SSJoin 2006; Bayardo et al. WWW'07; Xiao et al.
    WWW'08 — all public):

      two shingle sets with J(A,B) ≥ t MUST share a token inside each
      other's PREFIX — the first ``n − ⌈t·n⌉ + 1`` tokens under a global
      canonical order. Ordering tokens by ascending document frequency
      makes the indexed prefix tokens the RAREST ones, so posting lists
      in the self-join are short where the naive inverted index is hot.

    Stages (all linear shuffles; candidate set is the only data-dependent
    term, and it shrinks as t grows):
      1. global df per shingle (one partial-agg groupBy);
      2. per-doc sort by (df, shingle) — deterministic total order —
         and slice the prefix;
      3. self-join on prefix tokens + LENGTH filter (t·max ≤ min) and
         the PPJoin positional bound
         ``1 + min(n_a − p_a, n_b − p_b) ≥ ⌈t/(1+t)·(n_a+n_b)⌉``
         (kept iff ANY shared prefix token passes — weaker than
         PPJoin's sequential accumulation, therefore sound);
      4. distinct candidate pairs re-join their full distinct-shingle
         arrays and verify EXACTLY via array_intersect.

    Candidate filters use epsilon-guarded ceils (never drop a boundary
    pair to float error); the final filter is the exact integer ratio,
    so the output matches the naive path bit-for-bit.

    Use the naive :func:`ngram_jaccard_pairs` below the measured
    crossover t ≈ 0.5 (prefix ≈ the whole set there and the per-doc
    df-sort + array re-join overhead dominates: at sf1 prefix is 6×
    SLOWER at t=0.05 and still 3.6× slower at t=0.5 — r10 same-day
    measurements, SCALE.md); this path is the dense-corpus scale
    answer for realistic near-dup thresholds (t ≥ ~0.7: 3.1×–10×
    faster, and the gap grows with df since the naive index's
    every-shingle fan-out is quadratic).

    localCheckpoint lineage cuts sit on the shingle-array frame and the
    exploded prefix: the plan references each TWICE (self-join) plus the
    arrays twice more (verification), so a lazy lineage re-runs the
    shingling regex pipeline up to six times — measured 72s → ~30s at
    sf1/t=0.7, vs the naive path's 138s. localCheckpoint blocks are not
    fault-tolerant: a lost executor fails the query instead of
    recomputing them."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    eps = 1e-9
    sizes = (
        with_shingles(fan_out(df), text_col, k)
        .select(
            F.col(id_col).alias("__id"),
            F.array_distinct(F.col("__shingles")).alias("__sh"),
        )
        .select("__id", "__sh", F.size("__sh").alias("__n"))
        .localCheckpoint()
    )
    tok = sizes.select("__id", "__n", F.explode("__sh").alias("__s"))
    dfreq = tok.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    # per-doc canonical order: ascending (df, shingle) — deterministic
    ranked = tok.join(dfreq, "__s")
    sorted_docs = ranked.groupBy("__id").agg(
        F.min("__n").alias("__n"),
        F.array_sort(F.collect_list(F.struct("__df", "__s"))).alias("__toks"),
    )
    # prefix length p = n − ⌈t·n⌉ + 1 (ceil guarded DOWN so float error
    # can only lengthen the prefix, never lose a true pair)
    plen = (
        F.col("__n")
        - F.ceil(F.col("__n").cast("double") * F.lit(threshold) - F.lit(eps))
        + F.lit(1)
    ).cast("int")
    pref = sorted_docs.select(
        "__id",
        "__n",
        F.posexplode(F.slice("__toks", 1, plen)).alias("__pos", "__t"),
    ).select("__id", "__n", "__pos", F.col("__t.__s").alias("__s"))
    # fixed-width (id, n, pos, token) rows — cheap to materialize, read
    # twice by the self-join
    pref = pref.localCheckpoint()
    l, r = pref.alias("l"), pref.alias("r")
    joined = l.join(r, on="__s").filter(F.col("l.__id") < F.col("r.__id"))
    # length filter: J ≥ t ⇒ t·max(na,nb) ≤ min(na,nb)
    na, nb = F.col("l.__n"), F.col("r.__n")
    joined = joined.filter(
        F.greatest(na, nb).cast("double") * F.lit(threshold)
        <= F.least(na, nb).cast("double") + F.lit(eps)
    )
    # overlap requirement α = ⌈t/(1+t)·(na+nb)⌉ (guarded down); upper
    # bound from this match's suffix lengths must reach it
    alpha = F.ceil(
        (na + nb).cast("double") * F.lit(threshold / (1.0 + threshold))
        - F.lit(eps)
    )
    ubound = F.lit(1) + F.least(
        na - F.col("l.__pos") - F.lit(1), nb - F.col("r.__pos") - F.lit(1)
    )
    joined = joined.filter(ubound >= alpha)
    cands = joined.select(
        F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b")
    ).distinct()
    # exact verification: rejoin the full distinct-shingle arrays
    a = sizes.select(
        F.col("__id").alias("id_a"),
        F.col("__sh").alias("__sha"),
        F.col("__n").alias("__na"),
    )
    b = sizes.select(
        F.col("__id").alias("id_b"),
        F.col("__sh").alias("__shb"),
        F.col("__n").alias("__nb"),
    )
    inter = F.size(F.array_intersect("__sha", "__shb"))
    jac = inter.cast("double") / (
        F.col("__na") + F.col("__nb") - inter
    ).cast("double")
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= F.lit(threshold))
    )


def line_dedup_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_chars: int = 1,
) -> DataFrame:
    """C4-style cross-document line deduplication (Raffel et al. 2020
    §2.2 keep-one-occurrence policy, applied at line granularity):
    every distinct line longer than ``min_chars − 1`` characters keeps
    exactly its FIRST occurrence — ordered by (doc id, line position) —
    and every other occurrence, in any document, is removed. Lines
    shorter than ``min_chars`` (e.g. blanks) always survive, preserving
    document structure.

    Returns one row per input document:
      (id, text_clean, n_lines_kept, n_lines_dropped, kept_frac) —
    documents whose every line was dropped stay present with an empty
    ``text_clean``.

    Scale shape: the winner per distinct line is ``min(struct(id, pos))``
    under a groupBy on the LINE — partial aggregation (map-side combine)
    collapses hot boilerplate lines before the shuffle, unlike a
    row_number window, whose hot-line partition would sort every copy in
    one task. The join back (lines × one-row-per-distinct-line winners)
    never expands, and AQE's skew-join split handles hot lines. Two
    linear corpus shuffles total (winner join + per-doc reassembly) —
    inherent, since reconstruction must co-locate each doc's lines."""
    lines = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias(
            "__pos", "__line"
        ),
    )
    dedupable = lines.filter(F.length("__line") >= min_chars)
    keep_always = lines.filter(F.length("__line") < min_chars)
    winners = dedupable.groupBy("__line").agg(
        F.min(F.struct("__id", "__pos")).alias("__w")
    )
    kept_dedup = (
        dedupable.join(winners, "__line")
        .filter(
            (F.col("__id") == F.col("__w.__id"))
            & (F.col("__pos") == F.col("__w.__pos"))
        )
        .select("__id", "__pos", "__line")
    )
    kept = kept_dedup.unionByName(keep_always.select("__id", "__pos", "__line"))
    rebuilt = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda x: x["__line"],
            ),
            "\n",
        ).alias("text_clean"),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )
    totals = lines.groupBy("__id").agg(F.count(F.lit(1)).alias("__total"))
    return (
        totals.join(rebuilt, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
            (F.col("__total") - F.coalesce("n_lines_kept", F.lit(0))).alias(
                "n_lines_dropped"
            ),
            (
                F.coalesce("n_lines_kept", F.lit(0)).cast("double")
                / F.col("__total").cast("double")
            ).alias("kept_frac"),
        )
    )


def embedding_near_dups(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (brute force within the
    frame). For scale, route through similarity.lsh_bucket_topk instead;
    this exact variant is the verification baseline.

    Pass ``dim`` when known: the cosine unrolls into a codegen
    expression (similarity.dot) instead of interpreted HOFs — ~40× on
    the O(n²) pair loop."""
    from .similarity import dot, norm  # local import to avoid cycle

    # Norms are per-ROW: compute once per side before the O(n²) join so
    # each pair evaluates only the dot product (the oracle's
    # sqrt(dot(a,a)) * sqrt(dot(b,b)) denominator is reproduced exactly
    # by the precomputed sqrt factors — same values, same ops).
    # the stream side drives the O(n²) loop — fan out so it parallelizes
    # (a single small parquet file scans as ONE partition = one task)
    l = fan_out(df).select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        norm(F.col(vec_col), dim).alias("__na"),
    )
    r = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        norm(F.col(vec_col), dim).alias("__nb"),
    )
    pair_cos = dot(F.col("__va"), F.col("__vb"), dim) / (
        F.col("__na") * F.col("__nb")
    )
    # Filter FIRST, project after: Catalyst pushes a filter on a computed
    # column through its projection by substitution, which would evaluate
    # the (large, unrolled) dot expression a second time for EVERY pair.
    # With the threshold filter below the projection the dot runs once
    # per pair, and the projection recomputes it only for the few
    # survivors.
    return (
        l.crossJoin(r)
        .filter((F.col("id_a") < F.col("id_b")) & (pair_cos >= threshold))
        .select("id_a", "id_b", pair_cos.alias("cosine"))
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
) -> DataFrame:
    """Benchmark decontamination: drop every training document sharing
    ≥1 k-word shingle (over normalized text) with the eval/benchmark
    set — the standard guard against test-set leakage into training
    corpora.

    Shape at 100 TB: the EVAL side is small by definition (benchmarks
    are thousands of docs, not billions) → its distinct shingle set
    broadcasts, contamination detection is a broadcast semi-join on the
    exploded corpus shingles (text never shuffles), and the final drop
    is a broadcast anti-join on the (small) contaminated-id set.
    Tighten/loosen via ``k``: smaller k = more aggressive removal."""
    doc_sh = with_shingles(fan_out(docs), text_col, k).select(
        F.col(id_col).alias("__id"),
        F.explode(F.array_distinct(F.col("__shingles"))).alias("__s"),
    )
    eval_sh = (
        with_shingles(eval_docs, text_col, k)
        .select(F.explode(F.array_distinct(F.col("__shingles"))).alias("__s"))
        .distinct()
    )
    contaminated = (
        doc_sh.join(F.broadcast(eval_sh), on="__s", how="left_semi")
        .select(F.col("__id").alias(id_col))
        .distinct()
    )
    return docs.join(F.broadcast(contaminated), on=id_col, how="left_anti")


def _winnow_from_hashes(hashes: Column, window: int) -> Column:
    """Winnowing selection over a MATERIALIZED shingle-hash array
    attribute: min of every ``window`` consecutive hashes, distinct.
    The per-window lambda slices the outer array, so ``hashes`` must be
    its own projection column (the double reference — size + slice —
    keeps CollapseProject from inlining it; an inlined expression would
    re-evaluate per window position)."""
    n = F.size(hashes)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(window - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_min(F.slice(hashes, i, window)))
    )


def with_winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    out: str = "__winnow",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., the MOSS
    algorithm): xxhash64 each k-word shingle of the normalized text,
    keep the min hash of every sliding window of ``window`` consecutive
    shingle hashes, dedup → array<bigint>.

    GUARANTEE: any two documents sharing a verbatim run of at least
    ``k + window - 1`` words share ≥1 fingerprint — the basis for fuzzy
    CONTAINMENT detection (eval data pasted inside a training doc),
    which whole-doc near-dup (minhash/simhash) cannot see. Fingerprint
    density is ~1/window of the shingle count, so the posting list is a
    window-fold smaller than the full shingle index. Three chained
    projections (words → shingles → hashes → winnow), each column
    multi-referenced so the interpreted-HOF stages never re-evaluate
    their input per element. Map-only; no shuffle."""
    w = with_shingles(df, text_col, k=k)
    w = w.withColumn(
        "__sh_hashes",
        F.transform(F.col("__shingles"), lambda s: F.xxhash64(s)),
    ).drop("__shingles")
    return w.withColumn(
        out, _winnow_from_hashes(F.col("__sh_hashes"), window)
    ).drop("__sh_hashes")


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    window: int = 4,
    threshold: float = 0.5,
    df_max: int | None = None,
) -> DataFrame:
    """Directed fuzzy-containment candidates via winnowing overlap:
    ``containment = |fp(src) ∩ fp(dst)| / |fp(src)|`` — near 1.0 when
    src's text appears (nearly) verbatim inside dst, regardless of how
    much OTHER text dst has. Emits (src_id, dst_id, containment) both
    directions (the measure is asymmetric: a paragraph is contained in
    the book, not the book in the paragraph).

    Shape at 100 TB: inverted-index self-equi-join on fingerprints —
    only (fp, id) pairs shuffle, intersection counts are a group-by,
    and ``df_max`` drops ubiquitous fingerprints (boilerplate runs)
    exactly like the shingle df-cap in :func:`ngram_jaccard_pairs`.
    Integer counts / integer sizes → deterministic double."""
    fps = with_winnow_fingerprints(
        fan_out(df).select(id_col, text_col), text_col, k=k, window=window
    ).select(
        F.col(id_col).alias("__id"),
        F.size(F.col("__winnow")).alias("__n_fp"),
        F.explode(F.col("__winnow")).alias("__fp"),
    )
    if df_max is not None:
        fps = _drop_hot_keys(fps, "__fp", df_max)
    left = fps.select(
        F.col("__id").alias("src_id"),
        F.col("__n_fp").alias("__src_n"),
        "__fp",
    )
    right = fps.select(F.col("__id").alias("dst_id"), "__fp")
    return (
        left.join(right, on="__fp")
        .filter(F.col("src_id") != F.col("dst_id"))
        .groupBy("src_id", "dst_id", "__src_n")
        .agg(F.count(F.lit(1)).alias("__inter"))
        .select(
            "src_id",
            "dst_id",
            (
                F.col("__inter").cast("double") / F.col("__src_n").cast("double")
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def decontaminate_fuzzy(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    window: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Containment-based decontamination: drop every training document
    that CONTAINS an eval/benchmark document — winnowing containment
    (eval ⊂ doc direction) ≥ ``threshold``. Where :func:`decontaminate`
    fires on ANY single shared shingle (high recall, blunt),
    this requires a substantial fraction of an eval doc's fingerprints
    to appear, so a stray idiom doesn't nuke a training doc but a
    pasted benchmark question does.

    Shape at 100 TB: identical to :func:`decontaminate` — the eval
    fingerprint set broadcasts (eval suites are small by definition),
    corpus fingerprints never shuffle (map-side winnowing + broadcast
    hash join), and the final drop is a broadcast anti-join on the
    contaminated-id set. Containment is integer-count / integer-size →
    deterministic."""
    eval_fp = with_winnow_fingerprints(
        eval_docs.select(F.col(id_col).alias("__eid"), text_col),
        text_col,
        k=k,
        window=window,
    ).select(
        "__eid",
        F.size(F.col("__winnow")).alias("__e_n"),
        F.explode(F.col("__winnow")).alias("__fp"),
    )
    doc_fp = with_winnow_fingerprints(
        fan_out(docs).select(id_col, text_col), text_col, k=k, window=window
    ).select(F.col(id_col).alias("__id"), F.explode(F.col("__winnow")).alias("__fp"))
    contaminated = (
        doc_fp.join(F.broadcast(eval_fp), on="__fp")
        .groupBy("__id", "__eid", "__e_n")
        .agg(F.count(F.lit(1)).alias("__inter"))
        .filter(
            F.col("__inter").cast("double") / F.col("__e_n").cast("double")
            >= threshold
        )
        .select(F.col("__id").alias(id_col))
        .distinct()
    )
    return docs.join(F.broadcast(contaminated), on=id_col, how="left_anti")


def dedup_components(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components of the duplicate-pair graph → ``(id, comp)``
    where ``comp`` is the MINIMUM id reachable from ``id`` — the exact
    cluster resolution for fuzzy-dedup pair sets that are not cliques.

    Min-label propagation with pointer jumping: each round takes the min
    label over the direct neighborhood, then chases one label hop
    (``comp ← comp(comp)``), so long chains converge in O(log diameter)
    rounds, not O(diameter). Labels are monotone non-increasing with
    ``comp(v) ≤ v`` invariant, so the label SUM is a strictly decreasing
    fixpoint witness — one tiny agg per round decides convergence (the
    driver-side loop is control flow, same pattern as
    ``hierarchy.transitive_closure``). Each round is localCheckpoint-ed
    to truncate lineage.

    Shuffles per round: one groupBy(dst) + two equi-joins on id — all on
    (id, comp) pairs, never payload columns. Only ids that appear in a
    pair are returned; isolated docs are their own component by
    definition (union them with ``comp = id`` if needed).
    """
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint()
    )
    prev = labels.agg(F.sum(F.col("comp").cast("decimal(38,0)"))).collect()[0][0]
    for _ in range(max_iterations):
        neigh = (
            edges.join(labels, on=edges["src"] == labels["id"])
            .groupBy("dst")
            .agg(F.min("comp").alias("ncomp"))
            .withColumnRenamed("dst", "id")
        )
        stepped = labels.join(neigh, on="id", how="left").select(
            "id", F.least(F.col("comp"), F.coalesce("ncomp", "comp")).alias("comp")
        )
        hop = stepped.select(
            F.col("id").alias("pid"), F.col("comp").alias("pcomp")
        )
        labels = (
            stepped.join(hop, on=stepped["comp"] == hop["pid"], how="left")
            .select("id", F.coalesce("pcomp", "comp").alias("comp"))
            .localCheckpoint()
        )
        cur = labels.agg(F.sum(F.col("comp").cast("decimal(38,0)"))).collect()[0][0]
        if cur == prev:
            break
        prev = cur
    return labels


def keep_canonical_components(
    df: DataFrame, id_col: str, pairs: DataFrame, max_iterations: int = 20
) -> DataFrame:
    """Exact canonical-keep over connected components: every doc whose
    component label differs from its own id is a loser; exactly one doc
    (the component-min) survives per duplicate cluster, clique or not."""
    comp = dedup_components(pairs, max_iterations)
    losers = comp.filter(F.col("comp") != F.col("id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def semdedup_n_centroids(n_rows: int, floor: int = 16) -> int:
    """Scale-derived SemDeDup cell count: k = max(floor, ⌊√n⌋).

    With balanced cells the within-cell pair work is Σ|cell|² ≈ n²/k;
    k ≈ √n keeps it ~n^1.5 — the knob that must GROW with the corpus
    (a constant k at 100 TB degenerates back toward n²). Derived from
    one cheap count (driver-scalar control flow, deterministic); the
    SQL twin is ``greatest(floor, CAST(floor(sqrt(count(*))) AS
    BIGINT))`` — both engines use the correctly-rounded IEEE sqrt of an
    exactly-representable integer, so the derived k always agrees."""
    import math

    return max(floor, int(math.floor(math.sqrt(n_rows))))


def _assign_for_semdedup(df, id_col, vec_col, dim, centroids, n_centroids):
    """Cell assignment (+ vec/norm carried) for the semantic-dedup
    family; min-id-seeded k-means when no centroids are given."""
    from .similarity import assign_cells, kmeans_centroids

    if centroids is None:
        centroids = kmeans_centroids(
            df, dim=dim, id_col=id_col, vec_col=vec_col,
            n_centroids=n_centroids,
        )
    assigned = assign_cells(
        df, centroids, dim=dim, id_col=id_col, vec_col=vec_col
    ).select(
        F.col("neighbor_id").alias("__id"),
        F.col("__cv"),
        F.col("__cn"),
        "cell",
    )
    # assign-once: the downstream self-join (and the hot-cell count)
    # would otherwise recompute the k×dim assignment expression on
    # every branch — same localCheckpoint pattern as the MinHash
    # sign-once. Assignment output is (id, vec, norm, cell): small
    # relative to recomputing, and the lineage cut keeps ONE copy of
    # the centroid argmax in the executed plan. fan_out FIRST: the
    # checkpoint freezes the scan's partitioning, and a single small
    # parquet file would otherwise serialize the entire O(n²/k) pair
    # loop into one task (measured 3s+ single-threaded at sf0.1).
    return fan_out(assigned).localCheckpoint(eager=False)


def _cell_pairs(assigned, dim, threshold, max_cell_size, log_dropped=False):
    """Within-cell cosine pairs ≥ threshold from an assignment frame:
    equi-join on cell — the O(n²/k) SemDeDup pair loop.

    ``log_dropped=True`` reports (via ``logging.warning``) which cells
    the ``max_cell_size`` cap skipped and how many members they held —
    the no-silent-caps principle: a fired cap is a recall trade the
    operator must surface, not swallow. Costs one extra aggregate job
    over the (already-materialized) assignment frame; the aggregate
    output is ≤ n/max_cell_size rows by construction."""
    from .similarity import dot

    examined = assigned
    if max_cell_size is not None:
        if log_dropped:
            import logging

            # ONE hot-cell aggregate (the same _hot_key_counts
            # definition the lazy path uses) serves both the warning
            # and the drop: the collected set is tiny by construction
            # (each hot cell represents > max_cell_size rows), so the
            # anti-join runs against a literal broadcast frame instead
            # of re-running the groupBy
            hot = _hot_key_counts(assigned, "cell", max_cell_size).collect()
            if hot:
                logging.getLogger(__name__).warning(
                    "semantic dedup: max_cell_size=%d cap dropped %d "
                    "cell(s) holding %d vectors (kept un-deduped): %s",
                    max_cell_size,
                    len(hot),
                    sum(r["__cnt"] for r in hot),
                    sorted((r["cell"], r["__cnt"]) for r in hot),
                )
            examined = _drop_hot_keys(
                assigned, "cell", max_cell_size,
                hot_keys=[r["cell"] for r in hot],
            )
        else:
            examined = _drop_hot_keys(examined, "cell", max_cell_size)
    l = examined.select(
        F.col("cell"),
        F.col("__id").alias("id_a"),
        F.col("__cv").alias("__va"),
        F.col("__cn").alias("__na"),
    )
    r = examined.select(
        F.col("cell"),
        F.col("__id").alias("id_b"),
        F.col("__cv").alias("__vb"),
        F.col("__cn").alias("__nb"),
    )
    cos = dot("__va", "__vb", dim) / (F.col("__na") * F.col("__nb"))
    return (
        l.join(r, on="cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("cell", "id_a", "id_b", "cosine")
    )


def semantic_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.95,
    centroids: list[list[float]] | None = None,
    n_centroids: int = 16,
    max_cell_size: int | None = None,
    log_dropped: bool = False,
) -> DataFrame:
    """The pair stage of :func:`semantic_dedup` exposed directly:
    (cell, id_a, id_b, cosine) for within-cell pairs ≥ threshold —
    what you audit before committing to a drop policy. Cross-cell
    near-dups are invisible by design (the SemDeDup recall trade);
    compare against ``embedding_near_dups`` on a sample to measure it.
    ``log_dropped=True`` surfaces cells the hot-cell cap skipped."""
    assigned = _assign_for_semdedup(df, id_col, vec_col, dim, centroids,
                                    n_centroids)
    return _cell_pairs(assigned, dim, threshold, max_cell_size, log_dropped)


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.95,
    centroids: list[list[float]] | None = None,
    n_centroids: int = 16,
    max_cell_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings into k cells, then examine
    cosine similarity only WITHIN each cell — near-duplicate pairs
    (cosine ≥ threshold) drop the higher-id member, keeping the min-id
    representative (the repo-wide canonical-keep convention; exact
    transitive resolution, if wanted, is ``keep_canonical_components``
    over the same pairs).

    Returns ``df``'s columns plus ``cell`` (int) and ``semdedup_keep``
    (bool) — a flag column like the curation pipeline's, so callers
    filter or audit.

    Scale shape (the entire point of SemDeDup vs ``embedding_near_dups``):
    the O(n²) pair loop becomes O(Σ|cell|²) ≈ n²/k for balanced cells —
    pair generation is a plain equi-join on ``cell`` (shuffled, AQE-
    splittable), never a cartesian product. Cell assignment is one
    map pass against broadcast centroids. ``max_cell_size`` bounds the
    residual quadratic risk: over-size cells (degenerate embedding
    mass) are SKIPPED — their members are kept un-deduped (recall
    trade, the safe direction for training data) — so worst-case pair
    work is capped at cells × max_cell_size². At warehouse scale,
    raise ``n_centroids`` so cells stay ~10³-10⁴ docs.
    """
    assigned = _assign_for_semdedup(df, id_col, vec_col, dim, centroids,
                                    n_centroids)
    losers = (
        _cell_pairs(assigned, dim, threshold, max_cell_size)
        .select(F.col("id_b").alias("__loser"))
        .distinct()
    )
    return (
        df.join(
            assigned.select(F.col("__id").alias(id_col), "cell"),
            on=id_col,
            how="left",
        )
        .join(
            losers.withColumnRenamed("__loser", id_col).withColumn(
                "__dropped", F.lit(True)
            ),
            on=id_col,
            how="left",
        )
        .withColumn("semdedup_keep", F.col("__dropped").isNull())
        .drop("__dropped")
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 3,
) -> DataFrame:
    """Fuzzy near-duplicate pairs by Levenshtein distance — the
    entity-resolution / master-data member of the dedup family (exact
    hash, shingle Jaccard, MinHash, SimHash, line dedup, and now edit
    distance). Returns one row per unordered pair of DISTINCT values
    whose edit distance is ≤ ``max_dist``:
    ``(val_a, val_b, n_a, n_b, min_id_a, min_id_b, dist, sim)`` with
    ``sim = 1 − dist / max(len_a, len_b)`` (both engines derive it
    from the same integers — one IEEE division, no ulp boundary).

    Plan shape at scale: rows first collapse to the distinct VALUE
    domain (one hash aggregate — the only pass over the full data);
    candidate pairs then come from a length-banded EQUI-join — the
    right side replicates to the ``2·max_dist + 1`` length buckets it
    can match (|len_a − len_b| ≤ dist is a true lower bound, so the
    banding loses nothing), the left side joins on its own length, and
    each pair meets exactly once. No theta join, no nested loop; the
    JVM-side ``levenshtein`` prunes the band. For huge value domains
    (edit distance over full documents) the candidate step should be
    q-gram prefix blocking instead — see ``jaccard_pairs_prefix``;
    length banding is the exact, blocking-free form for the
    short-string entity domains this operator targets.
    """
    vals = (
        df.groupBy(F.col(text_col).alias("val"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.col(id_col)).alias("min_id"),
        )
        .withColumn("len", F.length("val"))
    )
    left = vals.select(
        F.col("val").alias("val_a"),
        F.col("n").alias("n_a"),
        F.col("min_id").alias("min_id_a"),
        F.col("len").alias("len_a"),
        F.col("len").alias("__bucket"),
    )
    right = vals.select(
        F.col("val").alias("val_b"),
        F.col("n").alias("n_b"),
        F.col("min_id").alias("min_id_b"),
        F.col("len").alias("len_b"),
        F.explode(
            F.sequence(F.col("len") - max_dist, F.col("len") + max_dist)
        ).alias("__bucket"),
    )
    d = F.levenshtein(F.col("val_a"), F.col("val_b"))
    return (
        left.join(right, on="__bucket")
        .filter(F.col("val_a") < F.col("val_b"))
        .filter(d <= max_dist)
        .select(
            "val_a",
            "val_b",
            "n_a",
            "n_b",
            "min_id_a",
            "min_id_b",
            d.cast("int").alias("dist"),
            (
                F.lit(1.0)
                - d.cast("double")
                / F.greatest("len_a", "len_b").cast("double")
            ).alias("sim"),
        )
    )
