"""Deduplication operators for training-data pipelines.

Each a first-class DataFrame operator with a DuckDB oracle
(see __spark_entry__):

- exact:       md5-groupBy duplicate clusters
- minhash:     k-permutation MinHash + banded LSH candidate join,
               verified with exact Jaccard over HASHED word sets
               (8-byte ints ride the candidate shuffle, not words)
- simhash:     32-bit sign-of-weighted-sum fingerprint (single-pass
               vote aggregate) + pigeonhole block-permutation pair
               blocking (complete recall at the configured hamming)
- jaccard:     exact n-gram / word-set Jaccard for bounded pair sets
- boilerplate: cross-document repeated word-n-grams (doc frequencies)
- resolution:  connected components over near-dup pairs → cluster
               keepers (min-label propagation)

Scale notes (the 100 TB story):
- tokenization / signatures are per-row higher-order-function
  expressions (whole-stage codegen, no shuffle, no Python);
- the only shuffles are the LSH band groupBy (keys are tiny ints) and
  the candidate self-join, whose input is already reduced to
  (band, bucket) collisions — this is the standard way MinHash-LSH
  avoids the O(n²) cross join;
- all hashes are md5-based ``portable_hash64`` so results replay
  bit-identically in the DuckDB oracle and the pytest python oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from webtext_extraction_spark.functions.text import (
    hashed_word_set,
    ngrams_of_words,
    portable_hash64,
    word_set,
    words,
)

# MinHash arithmetic domain — sized so a*h + b never exceeds 2^52:
# token hashes are reduced mod TOKEN_SPACE (~2^20) and permutation
# multipliers stay < 2^31, keeping the math exact (no overflow) in
# Spark, DuckDB (which *errors* on BIGINT overflow), and Python alike.
MINHASH_PRIME = 2147483647  # 2^31 - 1
TOKEN_SPACE = 1048573       # largest prime < 2^20


def _perm_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic permutation parameters a_i, b_i from a fixed LCG."""
    params = []
    state = 88172645463325252
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (MINHASH_PRIME - 2)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % MINHASH_PRIME
        params.append((a, b))
    return params


def exact_duplicates(
    df: DataFrame, id_col: str, text_col: str, normalize_ws: bool = False
) -> DataFrame:
    """Exact-dup clusters: hash → groupBy → keep groups of ≥2.

    ``normalize_ws=True`` collapses runs of whitespace to single
    spaces and trims before hashing — this makes exact_duplicates the
    owner of DEGENERATE whitespace-only docs too (ADVICE r04: with
    byte-exact hashing, ``' '`` vs ``'  '`` group with neither this
    operator nor minhash_lsh_pairs, which excludes zero-token docs).
    Default stays byte-exact: the strictest, fully reproducible
    definition, and the one the driver oracle pins."""
    text = F.col(text_col)
    if normalize_ws:
        text = F.trim(F.regexp_replace(F.coalesce(text, F.lit("")), r"\s+", " "))
    return (
        df.select(F.md5(text).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.min(id_col).alias("keeper_id"),
        )
        .filter(F.col("n_dups") >= 2)
    )


def corpus_diff(
    old_df: DataFrame, new_df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Snapshot diff for corpus auditing — which documents were added,
    removed, changed, or carried unchanged between two corpus versions
    (the repro / provenance check a training-data pipeline runs before
    re-training on a refreshed crawl).

    Shape: project each side to (id, md5) — text never leaves its
    scan — then ONE full outer join on the id (two hash shuffles of
    36-byte rows).  Status is a pure expression over hash presence /
    equality.  NULL text hashes as the empty document so a NULL→''
    rewrite does not report as a change.

    Output: (id, status ∈ added|removed|changed|unchanged, old_hash,
    new_hash), one row per id in either snapshot."""
    def hashed(df, alias):
        return df.select(
            F.col(id_col),
            F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias(alias),
        )

    joined = hashed(old_df, "old_hash").join(
        hashed(new_df, "new_hash"), id_col, "full_outer"
    )
    status = (
        F.when(F.col("old_hash").isNull(), "added")
        .when(F.col("new_hash").isNull(), "removed")
        .when(F.col("old_hash") == F.col("new_hash"), "unchanged")
        .otherwise("changed")
    )
    return joined.select(id_col, status.alias("status"), "old_hash", "new_hash")


def with_minhash_signature(
    df: DataFrame, text_col: str, num_hashes: int = 16
) -> DataFrame:
    """Append ``minhash`` array<bigint>.  Signature_i = min over word
    tokens of (a_i·h(w) + b_i) mod M61 — all inside one row-level
    expression (no shuffle, no Python)."""
    tokens = word_set(F.col(text_col))
    hashes = F.transform(tokens, lambda w: portable_hash64(w) % F.lit(TOKEN_SPACE))

    def perm(a: int, b: int):
        # factory keeps the Spark lambda unary (default-arg lambdas read
        # as 2/3-ary to the higher-order-function binder)
        return lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MINHASH_PRIME)

    sig = F.array(
        *[
            F.array_min(F.transform(hashes, perm(a, b)))
            for a, b in _perm_params(num_hashes)
        ]
    )
    return df.withColumn("minhash", sig)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Candidate pairs via banded LSH, then exact word-set Jaccard
    verification.  Returns (id_a, id_b, jaccard) with id_a < id_b.

    The verification sets are HASHED word sets (``hashed_word_set``):
    the candidate join then shuffles arrays of 8-byte ints instead of
    full word strings — for ~10³-distinct-word documents that is the
    difference between a payload-scale shuffle and a hash-scale one at
    100 TB.  Jaccard over hashed sets equals word Jaccard modulo md5
    60-bit collisions, and the DuckDB oracle replays the same hashing
    (same move boilerplate_ngrams documents and contamination makes).
    The minhash signature is derived from the SAME hashed array —
    ``(h % TOKEN_SPACE)·a + b`` ≡ with_minhash_signature's per-word
    value, and array_min is duplicate-insensitive — so the text column
    is tokenized exactly once.

    ZERO-TOKEN documents (empty or NULL text) are excluded before
    banding: their minhash is undefined (array_min of an empty array),
    their pairwise Jaccard is 0/0 — two colliding empties crashed the
    whole job under ANSI division (r4 random-corpus soak finding) —
    and at corpus scale they all share one degenerate bucket (a
    quadratic skew bomb).  Empty-vs-empty duplication is exact
    duplication; ``exact_duplicates`` owns it.  Caveat (ADVICE r04):
    whitespace-only docs with DIFFERING bytes (``' '`` vs ``'  '``)
    are zero-token here but distinct under byte-exact md5 — run
    ``exact_duplicates(..., normalize_ws=True)`` when degenerate docs
    need a dedup owner.

    Plan shape (optimization r6, guide §2.3/§2.4 — output unchanged,
    oracle-verified):
    - the zero-token guard is ``text RLIKE '\\S'`` — the SAME predicate
      as ``size(hashed_word_set(text)) > 0`` (a token exists iff some
      non-whitespace char exists; NULL text fails rlike), but it
      pushes to the scan WITHOUT re-evaluating the md5 tokenization
      inside the pushed filter (the old guard doubled the tokenize);
    - candidate pairs are deduplicated by FIRST-COLLIDING-BAND
      ownership (a pair is emitted only from the lowest band where the
      buckets agree) instead of a post-join dropDuplicates — that
      removes one Exchange + two SortAggregates carrying full hashed
      word-set arrays from the plan;
    - exact Jaccard uses |A∩B| and the precomputed set sizes
      (|A∪B| = |A|+|B|-|A∩B| for distinct-element arrays) so the
      verification never materializes the union array."""
    rows_per_band = num_hashes // bands

    def perm(a: int, b: int):
        # factory keeps the Spark lambda unary (default-arg lambdas
        # read as 2/3-ary to the higher-order-function binder)
        return lambda h: ((h % F.lit(TOKEN_SPACE)) * F.lit(a) + F.lit(b)) % F.lit(
            MINHASH_PRIME
        )

    from webtext_extraction_spark.operators.partitioning import ensure_scan_parallelism

    base = ensure_scan_parallelism(df.filter(F.col(text_col).rlike(r"\S"))).select(
        F.col(id_col).alias("_id"),
        hashed_word_set(F.col(text_col)).alias("_ws"),
    )
    sigs = base.select(
        "_id",
        "_ws",
        F.size("_ws").alias("_sz"),
        F.array(
            *[
                F.array_min(F.transform(F.col("_ws"), perm(a, b)))
                for a, b in _perm_params(num_hashes)
            ]
        ).alias("_mh"),
    )
    # bucket key = the band slice itself, stringified: equality is then
    # portable (no engine-specific hash in the collision definition).
    # NOTE: the generator argument must stay an inline CreateArray —
    # posexplode of a materialized column makes InferFiltersFromGenerate
    # push a size(...)>0 guard that re-inlines the whole minhash
    # computation into the scan filter (plan-audited regression).
    bucket_strs = [
        F.concat_ws(
            "-",
            *[
                F.col("_mh").getItem(j).cast("string")
                for j in range(b * rows_per_band, (b + 1) * rows_per_band)
            ],
        )
        for b in range(bands)
    ]
    banded = sigs.select(
        "_id", "_ws", "_sz", "_mh",
        F.posexplode(F.array(*bucket_strs)).alias("band", "bucket"),
    )
    left = banded.alias("l")
    right = banded.alias("r")
    # first-colliding-band ownership: any earlier band whose buckets
    # also agree owns the pair, so this band must NOT emit it (bucket
    # strings are injective over the minhash slice, so value equality
    # over the slice == bucket equality)
    earlier_match = F.lit(False)
    for i in range(bands - 1):
        band_eq = F.lit(True)
        for j in range(i * rows_per_band, (i + 1) * rows_per_band):
            band_eq = band_eq & (
                F.col("l._mh").getItem(j) == F.col("r._mh").getItem(j)
            )
        earlier_match = earlier_match | ((F.col("l.band") > i) & band_eq)
    joined = left.join(
        right,
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.bucket") == F.col("r.bucket"))
        & (F.col("l._id") < F.col("r._id"))
        & ~earlier_match,
    )
    inter = F.size(F.array_intersect(F.col("l._ws"), F.col("r._ws")))
    jac = F.round(inter / (F.col("l._sz") + F.col("r._sz") - inter), 6)
    # explode barrier: keeps the threshold filter from being pushed into
    # the join condition (where the expensive intersect would run before
    # the cheap id/band predicates) and evaluates the Jaccard exactly
    # once per candidate instead of filter+project re-evaluation
    return joined.select(
        F.col("l._id").alias("id_a"),
        F.col("r._id").alias("id_b"),
        F.explode(F.array(jac)).alias("jaccard"),
    ).filter(F.col("jaccard") >= jaccard_threshold)


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 16
) -> DataFrame:
    """The persistable per-snapshot signature artifact for INCREMENTAL
    dedup — the production pattern where each new crawl dedups against
    the existing corpus without re-reading its text: (id, ws_hashes,
    minhash), derived exactly as inside :func:`minhash_lsh_pairs`
    (hashed word set tokenized once; signature from the same hashed
    array; zero-token docs excluded — same ownership rule).  Persist
    this per snapshot; feed it to
    :func:`minhash_lsh_pairs_incremental` as ``prior_signatures``.
    Signature width: ``num_hashes`` int64s + the distinct-word hashes
    — payload text never needs to be stored or shuffled again."""

    def perm(a: int, b: int):
        return lambda h: ((h % F.lit(TOKEN_SPACE)) * F.lit(a) + F.lit(b)) % F.lit(
            MINHASH_PRIME
        )

    # rlike guard == size(hashed_word_set)>0 (a token exists iff a
    # non-ws char exists) without re-running the tokenize in the
    # pushed-down filter — see minhash_lsh_pairs
    base = df.filter(F.col(text_col).rlike(r"\S")).select(
        F.col(id_col).alias("_id"),
        hashed_word_set(F.col(text_col)).alias("_ws"),
    )
    return base.select(
        F.col("_id").alias(id_col),
        F.col("_ws").alias("ws_hashes"),
        F.array(
            *[
                F.array_min(F.transform(F.col("_ws"), perm(a, b)))
                for a, b in _perm_params(num_hashes)
            ]
        ).alias("minhash"),
    )


def minhash_lsh_pairs_incremental(
    new_df: DataFrame,
    prior_signatures: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Incremental near-dup pass: candidate pairs via banded LSH where
    AT LEAST ONE side is from ``new_df`` — prior×prior pairs are
    excluded in the join predicate because earlier runs already
    resolved them (the crawl-over-crawl production shape).  Returns
    (id_a, id_b, jaccard) with id_a < id_b, exactly
    :func:`minhash_lsh_pairs`' output contract, so cluster resolution
    composes unchanged; with an empty prior it degenerates to the full
    pairwise operator (property-tested).

    ``prior_signatures`` is a :func:`minhash_signatures` table (same
    ``num_hashes``; ids must be unique across new ∪ prior — a
    re-crawled id belongs in ``new_df``, not both).  Scale shape: the
    (band, bucket) equi-join must still carry the prior signatures
    (any prior row may collide with a new one), but those are
    hash-width arrays, not text — the artifact's whole point — and
    the expensive exact-Jaccard verification runs only on pairs that
    survive the at-least-one-new predicate."""
    rows_per_band = num_hashes // bands
    new_sigs = minhash_signatures(new_df, id_col, text_col, num_hashes).withColumn(
        "_new", F.lit(True)
    )
    prior = prior_signatures.select(
        F.col(id_col), "ws_hashes", "minhash"
    ).withColumn("_new", F.lit(False))
    allsigs = new_sigs.unionByName(prior)
    # same optimized shape as minhash_lsh_pairs: inline CreateArray
    # generator (no inferred size() filter), first-colliding-band pair
    # ownership instead of a dropDuplicates carrying word-set arrays,
    # sizes-based Jaccard behind an explode barrier
    bucket_strs = [
        F.concat_ws(
            "-",
            *[
                F.col("minhash").getItem(j).cast("string")
                for j in range(b * rows_per_band, (b + 1) * rows_per_band)
            ],
        )
        for b in range(bands)
    ]
    banded = allsigs.select(
        F.col(id_col).alias("_id"),
        F.col("ws_hashes").alias("_ws"),
        F.size("ws_hashes").alias("_sz"),
        F.col("minhash").alias("_mh"),
        "_new",
        F.posexplode(F.array(*bucket_strs)).alias("band", "bucket"),
    )
    left = banded.alias("l")
    right = banded.alias("r")
    earlier_match = F.lit(False)
    for i in range(bands - 1):
        band_eq = F.lit(True)
        for j in range(i * rows_per_band, (i + 1) * rows_per_band):
            band_eq = band_eq & (
                F.col("l._mh").getItem(j) == F.col("r._mh").getItem(j)
            )
        earlier_match = earlier_match | ((F.col("l.band") > i) & band_eq)
    joined = left.join(
        right,
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.bucket") == F.col("r.bucket"))
        & (F.col("l._id") < F.col("r._id"))
        & (F.col("l._new") | F.col("r._new"))
        & ~earlier_match,
    )
    inter = F.size(F.array_intersect(F.col("l._ws"), F.col("r._ws")))
    jac = F.round(inter / (F.col("l._sz") + F.col("r._sz") - inter), 6)
    return joined.select(
        F.col("l._id").alias("id_a"),
        F.col("r._id").alias("id_b"),
        F.explode(F.array(jac)).alias("jaccard"),
    ).filter(F.col("jaccard") >= jaccard_threshold)


def with_simhash(df: DataFrame, text_col: str, bits: int = 32) -> DataFrame:
    """Append ``simhash`` bigint: bit b set iff the sum over tokens of
    sign(h(w) & 2^b) is positive.  Single pass: ONE ``F.aggregate``
    traversal of the token-hash array carrying an array<long> of
    per-bit vote counters (the previous shape ran ``bits`` independent
    aggregate passes — 32× the work); the finish lambda assembles the
    fingerprint.  Pure expressions, no shuffle, no Python."""
    if not 1 <= bits <= 63:
        raise ValueError(f"bits must be in [1, 63] (bigint fingerprint), got {bits}")
    # NULL text = the empty document (simhash 0, matching the oracle's
    # list_sum(NULL)->0 behavior); Spark's aggregate would otherwise
    # propagate NULL (r4 random-corpus soak finding).  Zero-token docs
    # therefore all carry fingerprint 0 and trivially pair with each
    # other in simhash_near_duplicates — identical on both engines.
    from webtext_extraction_spark.operators.partitioning import ensure_scan_parallelism

    df = ensure_scan_parallelism(df)
    ws = F.coalesce(word_set(F.col(text_col)), F.array().cast("array<string>"))
    hashes = F.transform(ws, lambda w: portable_hash64(w))
    # ONE array literal (not bits separate Literal nodes — plan size and
    # analysis time scale with expression-tree nodes, guide §7.3)
    powers = F.lit([1 << b for b in range(bits)]).cast("array<bigint>")
    zero = F.array_repeat(F.lit(0).cast("long"), bits)

    def merge(acc, h):
        # bit b of h set ⇔ h & 2^b ≠ 0 (constant powers array sidesteps
        # shift-by-column, which F.shiftright does not support)
        return F.zip_with(
            acc,
            powers,
            lambda c, p: c + F.when(h.bitwiseAND(p) != F.lit(0), 1).otherwise(-1),
        )

    def finish(acc):
        return F.aggregate(
            F.zip_with(
                acc,
                powers,
                lambda c, p: F.when(c > 0, p).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda a, v: a + v,
        )

    return df.withColumn("simhash", F.aggregate(hashes, zero, merge, finish))


def simhash_blocks(bits: int, max_hamming: int) -> list[tuple[int, int]]:
    """Pigeonhole block layout: (offset, width) per block.  The
    fingerprint is split into ``max_hamming + 1`` contiguous blocks
    (clamped so no block is empty); any pair with hamming ≤
    max_hamming differs in at most max_hamming blocks, so it must
    agree EXACTLY on at least one block — emitting one bucket key per
    block therefore finds every qualifying pair (complete recall, the
    property the old single-prefix bucket lacked)."""
    nblocks = min(max_hamming + 1, bits)
    base, rem = divmod(bits, nblocks)
    widths = [base + 1 if i < rem else base for i in range(nblocks)]
    offsets = [sum(widths[:i]) for i in range(nblocks)]
    return list(zip(offsets, widths))


def simhash_near_duplicates(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3, bits: int = 32
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance with complete recall
    at the configured distance (pigeonhole block permutation — see
    ``simhash_blocks``).  Shape mirrors minhash LSH: explode one
    (block, key) bucket per block, equi-join on the bucket, dedup the
    candidate pairs, verify exact hamming.  Candidates per block
    shrink ~2^-width-fold, so the join is never all-pairs; raising
    ``max_hamming`` trades narrower blocks (more candidates) for the
    recall guarantee, which is the standard cost of the pigeonhole."""
    sh = with_simhash(df, text_col, bits=bits).select(
        F.col(id_col).alias("_id"), "simhash"
    )
    banded = sh.select(
        "_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block"),
                        F.shiftright("simhash", off)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("key"),
                    )
                    for i, (off, width) in enumerate(simhash_blocks(bits, max_hamming))
                ]
            )
        ).alias("bk"),
    ).select("_id", "simhash", "bk.block", "bk.key")
    a, b = banded.alias("a"), banded.alias("b")
    # first-colliding-block ownership replaces the post-join
    # dropDuplicates (one Exchange + aggregate removed — the same move
    # as minhash_lsh_pairs): a pair is emitted only by the lowest block
    # whose keys agree
    blocks = simhash_blocks(bits, max_hamming)
    earlier_match = F.lit(False)
    for i, (off, width) in enumerate(blocks[:-1]):
        key_eq = (
            F.shiftright(F.col("a.simhash"), off).bitwiseAND(F.lit((1 << width) - 1))
            == F.shiftright(F.col("b.simhash"), off).bitwiseAND(F.lit((1 << width) - 1))
        )
        earlier_match = earlier_match | ((F.col("a.block") > i) & key_eq)
    candidates = a.join(
        b,
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col("a._id") < F.col("b._id"))
        & ~earlier_match,
    ).select(
        F.col("a._id").alias("id_a"),
        F.col("b._id").alias("id_b"),
        F.col("a.simhash").alias("_sa"),
        F.col("b.simhash").alias("_sb"),
    )
    hamming = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
    return (
        candidates.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.2,
    window: int = 10,
) -> DataFrame:
    """Exact character-shingle Jaccard for NUMERIC id pairs within
    ``window`` of each other (bounded comparison set — the
    verification half of a dedup pass; candidate generation at scale
    is minhash_lsh_pairs).

    Join shape (r5 — closes the r3/r4 watch-list flag): the range
    predicate ``a < b <= a + window`` is bucketized into an EQUI-join
    — ids bucket by ``floor(id / window)``, and any in-window pair
    lives in the same or the adjacent bucket, so the b side emits its
    bucket and its predecessor and the join key is the bucket
    (Catalyst plans a shuffle hash/sort-merge join, never a
    BroadcastNestedLoopJoin; the exact range predicate re-applies
    post-join).  Each b row duplicates exactly 2× — the standard
    banded range-join move.  The shuffle carries the shingle arrays;
    at 100 TB hash them first (portable_hash64, the minhash move) to
    bound key width — kept as strings here so output is
    human-auditable and the oracle replays verbatim."""
    # dynamic-start substring needs the expr form of transform.
    # NULL text is the empty document: without the coalesce, Spark's
    # greatest() IGNORES the NULL length (shingles = [NULL], and
    # array_intersect matches NULL elements) while DuckDB propagates
    # it — two NULL-text docs paired at 1.0 on one engine only (r4
    # random-corpus soak finding).  With '', both engines shingle to
    # [''] and empty docs pair at 1.0 consistently.
    tc = f"coalesce({text_col}, '')"
    shingles = F.expr(
        f"array_distinct(transform(sequence(0, greatest(length({tc}) - {n}, 0)),"
        f" i -> substr({tc}, i + 1, {n})))"
    )
    base = df.select(F.col(id_col).alias("_id"), shingles.alias("_sh"))
    bucket = F.floor(F.col("_id") / F.lit(window))
    a = base.withColumn("_bk", bucket).alias("a")
    b = base.withColumn(
        "_bk", F.explode(F.array(bucket, bucket - 1))
    ).alias("b")
    jac = F.size(F.array_intersect("a._sh", "b._sh")) / F.size(F.array_union("a._sh", "b._sh"))
    return (
        a.join(
            b,
            (F.col("a._bk") == F.col("b._bk"))
            & (F.col("b._id") > F.col("a._id"))
            & (F.col("b._id") <= F.col("a._id") + window),
        )
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"), "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.9,
    rare_k: int = 2,
) -> DataFrame:
    """Containment near-dup pairs — the dedup class Jaccard-based
    candidates MISS: a short doc embedded in a long one (quote pages,
    aggregators, doc+appendix reposts) has high containment
    ``|A∩B| / min(|A|, |B|)`` but low Jaccard, so minhash LSH never
    proposes the pair.  Word sets are hashed int64
    (``hashed_word_set`` — the minhash representation, so text never
    shuffles).

    Candidate generation is RARE-TOKEN BLOCKING (the classic
    entity-resolution move): each doc nominates its ``rare_k``
    lowest-document-frequency tokens (ties by token hash — total
    order), and a pair is a candidate iff one doc's rare token
    appears anywhere in the other.  Recall: COMPLETE at containment
    = 1.0 (a fully-contained doc's every token — including its
    rarest — is in the container); below 1.0 it is a high-recall
    heuristic (a miss needs ALL ``rare_k`` rare tokens inside the
    missing fraction), raise ``rare_k`` to tighten.

    Shape (100 TB): candidate volume is Σ df(token) over the
    SELECTED rare tokens — rare by construction, so the blocking join
    is anti-skewed by design; on small-vocabulary corpora where
    "rarest" is still frequent the join degrades toward all-pairs
    (AQE skew-join territory — monitor Σ df before trusting a run,
    the ANN-recall-harness discipline).  Intersections run on the
    bounded candidate set via array_intersect of the per-doc hashed
    arrays; counts are exact integers, containment is one division
    rounded to 6 dp.

    Output: (id_a, id_b, n_common int, n_a int, n_b int, containment
    double) with id_a < id_b, containment >= threshold.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if rare_k < 1:
        raise ValueError(f"rare_k must be >= 1, got {rare_k}")
    live = df.filter(F.col(text_col).rlike(r"\S"))
    hs = hashed_word_set(F.col(text_col))
    sets = live.select(F.col(id_col).alias("_id"), hs.alias("_hs"))
    # explode the expression, never the bare _hs column:
    # InferFiltersFromGenerate would push size(_hs) > 0 into the scan
    # filter and re-run the md5 tokenize on every row (plan-audited)
    toks = live.select(F.col(id_col).alias("_id"), F.explode(hs).alias("_th"))
    dfreq = toks.groupBy("_th").agg(F.count("*").cast("long").alias("_dft"))
    w = Window.partitionBy("_id").orderBy("_dft", "_th")
    rare = (
        toks.join(dfreq, "_th")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= rare_k)
        .select(F.col("_id").alias("_rid"), "_th")
    )
    cand = (
        rare.join(toks, "_th")
        .filter(F.col("_rid") != F.col("_id"))
        .select(
            F.least("_rid", "_id").alias("id_a"),
            F.greatest("_rid", "_id").alias("id_b"),
        )
        .distinct()
    )
    sa = sets.select(
        F.col("_id").alias("id_a"),
        F.col("_hs").alias("_ha"),
        F.size("_hs").alias("n_a"),
    )
    sb = sets.select(
        F.col("_id").alias("id_b"),
        F.col("_hs").alias("_hb"),
        F.size("_hs").alias("n_b"),
    )
    cont = F.round(
        F.size(F.array_intersect("_ha", "_hb")).cast("double")
        / F.least("n_a", "n_b").cast("double"),
        6,
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("n_common", F.size(F.array_intersect("_ha", "_hb")))
        .withColumn("containment", cont)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "n_common", "n_a", "n_b", "containment")
    )


def boilerplate_ngrams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_docs: int = 3,
) -> DataFrame:
    """Cross-document repeated word-n-gram detector — the standard
    boilerplate / memorized-span finder for training corpora (exact
    substring dedup's cheap cousin): word n-grams occurring in ≥
    ``min_docs`` distinct documents, with doc counts.

    Shape: per-row n-gram generation is a pure expression (sliding
    window over the word array, deduped per doc so counts are document
    frequencies), then ONE explode + groupBy on the gram — a single
    shuffle whose keys shrink as min_docs rises.  At 100 TB the gram
    would be hashed (portable_hash64) before the shuffle to bound key
    width; kept as the string here so the output is human-auditable."""
    grams = F.array_distinct(ngrams_of_words(words(F.col(text_col)), n))
    return (
        df.select(F.col(id_col).alias("_id"), F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def _materialize(df: DataFrame, cols: dict) -> DataFrame:
    """Materialize computed columns behind a Generate barrier (explode
    of a single-element struct array).  Catalyst's CollapseProject
    inlines plain projection aliases into downstream
    higher-order-function lambda bodies, and HOFs are CodegenFallback
    with no common-subexpression elimination — an inlined column
    re-evaluates PER ARRAY ELEMENT there (measured: the duplicate-span
    set apply's per-element re-eval of two array_intersects against
    15k-entry literals cost 124 s on a 3000-doc slice; behind the
    barrier the same job is sub-second).  A Generate node is not
    collapsible, so everything upstream evaluates exactly once per
    row; the one-element explode itself is noise."""
    gen = F.explode(F.array(F.struct(*[c.alias(nm) for nm, c in cols.items()])))
    out = df.withColumn("_m", gen)
    for nm in cols:
        out = out.withColumn(nm, F.col("_m")[nm])
    return out.drop("_m")


def _kept_from_flags(n: int):
    """Shared rebuild tail of the one-scan "set" apply paths
    (remove_boilerplate / remove_duplicate_spans): given a boolean
    ``_flags`` array (flag per n-gram start position: strip this
    window), keep the words of ``_ws`` no flagged window covers.
    Pure higher-order expressions — no shuffle, no join."""
    nflags = F.size("_flags")

    def uncovered(w, i):
        # word i is covered iff any flagged gram starts in
        # [i-n+1, i] ∩ [0, n_grams-1]; that window is non-empty
        # whenever n_grams >= 1 (lo <= n_grams-1 because
        # i <= len(ws)-1 = n_grams+n-2)
        lo = F.greatest(i - F.lit(n - 1), F.lit(0))
        length = F.least(i, nflags - 1) - lo + 1
        return ~F.exists(F.slice(F.col("_flags"), lo + 1, length), lambda f: f)

    return F.when(nflags == 0, F.col("_ws")).otherwise(
        F.filter(F.col("_ws"), uncovered)
    )


def _cleaned_select(marked: DataFrame, id_col: str, kept) -> DataFrame:
    """Shared output projection of remove_boilerplate's two methods."""
    return marked.select(
        F.col("_id").alias(id_col),
        F.concat_ws(" ", kept).alias("cleaned_text"),
        F.size("_ws").alias("n_words"),
        (F.size("_ws") - F.size(kept)).alias("n_removed_words"),
        F.round(
            (F.size("_ws") - F.size(kept))
            / F.greatest(F.size("_ws"), F.lit(1)).cast("double"),
            6,
        )
        .cast("double")
        .alias("removed_frac"),
    )


def remove_boilerplate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_docs: int = 3,
    grams: DataFrame | None = None,
    method: str = "set",
) -> DataFrame:
    """Strip cross-document boilerplate spans from each document — the
    removal action over :func:`boilerplate_ngrams`' detection: every
    word position covered by an n-gram occurring in >= ``min_docs``
    documents is dropped, the survivors are re-joined with single
    spaces.

    ``grams`` (a DataFrame with an ``ngram`` column) supplies a
    PRECOMPUTED boilerplate gram table — the per-snapshot artifact a
    production pipeline learns once and reuses, exactly like the rule
    table; ``None`` learns it inline from ``df`` with
    :func:`boilerplate_ngrams`.

    Two apply methods; both produce identical output:

    - ``"set"`` (default): collect the gram set to the driver (eager —
      one small job at call time; the set is small by construction,
      the same class of driver scalar as hot-key lists and k-means
      centroids) and apply in ONE projection: per doc, mark each gram
      against the set (Catalyst folds the literal IN-list to an InSet
      hash lookup), then keep the words no covering gram marks via a
      windowed ``exists`` over the flag array.  ONE text scan on the
      apply side, ZERO shuffles/joins.
    - ``"join"``: the lazy formulation for gram tables too large to
      embed in a task binary (≈ >10⁶ grams): posexplode -> broadcast
      semi-join -> covered-position fan-out -> groupBy(doc)
      collect_set -> join back.  Text is scanned once per consumer of
      the tokenized base (twice; three times with inline detection) —
      the price of staying fully lazy.

    NULL text is treated as the empty document.

    Output: one row per input doc — (id, cleaned_text, n_words,
    n_removed_words, removed_frac).
    """
    if method not in ("set", "join"):
        raise ValueError(f"method must be 'set' or 'join', got {method!r}")
    if grams is None:
        grams = boilerplate_ngrams(df, id_col, text_col, n=n, min_docs=min_docs)
    boiler = grams.select("ngram")
    base = df.select(
        F.col(id_col).alias("_id"),
        words(F.coalesce(F.col(text_col), F.lit(""))).alias("_ws"),
    )

    if method == "set":
        gram_list = [r[0] for r in boiler.collect()]
        mark = (
            (lambda g: g.isin(gram_list)) if gram_list else (lambda g: F.lit(False))
        )
        # Generate barrier: _flags must be a materialized attribute, not
        # an inlined alias, or the rebuild lambda re-marks every gram
        # per word element (see _materialize)
        marked = _materialize(
            base, {"_flags": F.transform(ngrams_of_words(F.col("_ws"), n), mark)}
        )
        return _cleaned_select(marked, id_col, _kept_from_flags(n))

    # method == "join"
    # posexplode of the gram array: the emitted position IS the gram's
    # word offset, and the word array itself is not replicated per row
    pos = base.select(
        "_id",
        F.posexplode(ngrams_of_words(F.col("_ws"), n)).alias("p", "ngram"),
    )
    covered = (
        pos.join(F.broadcast(boiler), "ngram", "left_semi")
        .select("_id", F.explode(F.sequence(F.col("p"), F.col("p") + n - 1)).alias("ci"))
        .groupBy("_id")
        .agg(F.collect_set("ci").alias("_covered"))
    )
    joined = base.join(covered, "_id", "left").withColumn(
        "_covered", F.coalesce("_covered", F.array().cast("array<int>"))
    )
    kept = F.filter(
        F.col("_ws"), lambda w, i: ~F.array_contains(F.col("_covered"), i.cast("int"))
    )
    return _cleaned_select(joined, id_col, kept)


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 20,
    min_occurrences: int = 2,
) -> DataFrame:
    """Exact-substring duplicate spans, the Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better")
    operator family at word granularity: every MAXIMAL span whose
    n-gram windows all occur >= ``min_occurrences`` times in the
    corpus (total occurrences, within-doc repeats included — unlike
    boilerplate_ngrams' document frequencies, memorized text repeated
    inside one doc counts).  Suffix arrays don't distribute; the
    standard scalable equivalent is n-gram fingerprinting: a span of
    length >= n is duplicated iff each of its n-windows is, so
    merging covered windows reconstructs the maximal spans exactly
    (granularity n — spans shorter than n are invisible, the
    documented knob).

    Shape: grams are HASHED (portable_hash64 — 8-byte shuffle keys);
    one groupBy(gram) for global occurrence counts (map-side combine —
    skew-safe), a semi-join back (hashes only, payloads never shuffle;
    a mega-hot gram is the AQE-skew-join class, enabled in session.py),
    covered positions merged per doc by gaps-and-islands
    (position - rank is constant within a contiguous run) — one window
    + one groupBy on the doc key.

    Output: (id, span_start, span_end, span_words) — inclusive WORD
    offsets, span_words = end - start + 1 >= n.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_occurrences < 2:
        raise ValueError(f"min_occurrences must be >= 2, got {min_occurrences}")
    base = df.select(
        F.col(id_col).alias("_id"),
        words(F.coalesce(F.col(text_col), F.lit(""))).alias("_ws"),
    )
    grams = base.select(
        "_id",
        F.posexplode(
            F.transform(ngrams_of_words(F.col("_ws"), n), portable_hash64)
        ).alias("p", "gh"),
    )
    dup_grams = (
        grams.groupBy("gh")
        .agg(F.count("*").alias("occ"))
        .filter(F.col("occ") >= min_occurrences)
        .select("gh")
    )
    covered = (
        grams.join(dup_grams, "gh", "left_semi")
        .select("_id", F.explode(F.sequence(F.col("p"), F.col("p") + n - 1)).alias("ci"))
        .distinct()
    )
    w = Window.partitionBy("_id").orderBy("ci")
    islands = covered.withColumn(
        "_isl", F.col("ci") - F.row_number().over(w)
    )
    return (
        islands.groupBy("_id", "_isl")
        .agg(
            F.min("ci").cast("int").alias("span_start"),
            F.max("ci").cast("int").alias("span_end"),
            F.count("*").cast("int").alias("span_words"),
        )
        .select(
            F.col("_id").alias(id_col), "span_start", "span_end", "span_words"
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 20,
    min_occurrences: int = 2,
    method: str = "auto",
    max_set_size: int = 1000,
) -> DataFrame:
    """The REMOVAL action over :func:`duplicate_spans` — Lee et al.
    2022's dedup proper: of every duplicated n-gram window, ONE
    occurrence survives (the globally first by ``(id, position)``) and
    all others are stripped; survivors re-join with single spaces.

    Greedy per-gram rule, stated exactly: keeper(g) = min (id, p) over
    g's occurrences; a word position is stripped iff some duplicated
    gram covers it in a NON-keeper occurrence.  A keeper occurrence
    can therefore still lose words to OTHER grams whose keepers live
    elsewhere — the standard greedy-removal property (exact
    first-occurrence-span preservation needs global interval
    resolution, which serializes).

    Keeper election is the same either way: ONE skew-safe aggregation
    (``groupBy(gh).agg(count, min(struct(id, p)))`` — map-side combine
    collapses hot grams before the shuffle, no per-gram window).  Two
    apply methods, identical output (remove_boilerplate's split):

    - ``"set"``: collect the elected (gh → keeper) table to the driver
      (eager — one small job at call time) and apply in ONE
      projection: per doc, ``array_intersect`` against the literal
      elected-gram array yields the doc's own dup grams and (via
      packed ``gh:p:id`` occurrence keys — collision-free: gh and p
      are colon-free numerics, id is the unambiguous tail) its own
      keeper occurrences; the per-window flag then probes those two
      SMALL per-doc arrays.  The big set is hashed once per row by
      array_intersect, never linearly scanned per gram — plain
      ``isin`` inside a higher-order-function lambda stays a linear
      ``In`` (OptimizeIn does not rewrite under lambdas; measured 20×
      slower at a 15k-gram set).  ONE text scan / ZERO shuffle on the
      apply side; total = 2 text scans + 1 shuffle incl. election.
    - ``"join"``: fully lazy for gram tables too large to embed in a
      task binary: join occurrences back on the 8-byte gram hash,
      covered-position fan-out, groupBy(doc), join to the tokenized
      base.  Three text scans; payloads still never shuffle.
    - ``"auto"`` (default): collect at most ``max_set_size + 1``
      elected rows; at or under the cap → ``"set"``, over → ``"join"``.
      Unlike boilerplate doc-frequency grams, corpus-wide
      occurrence-count grams grow LINEARLY with corpus size, so the
      set regime genuinely runs out — the probe costs one
      limit-bounded collect.  The cap default comes from measurement,
      not hope: the set apply rebuilds the literal-array hash per ROW
      (array_intersect has no cross-row cache), so its cost is
      O(rows × set) — at a 15,485-gram set over 3,000 sf0.1 docs it
      measured ~30 s vs ~2 s for join; at ≲1k grams the per-row
      rebuild is noise and the zero-shuffle shape wins.

    Output: (id, cleaned_text, n_words, n_removed_words,
    removed_frac) — one row per input doc, remove_boilerplate's shape.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_occurrences < 2:
        raise ValueError(f"min_occurrences must be >= 2, got {min_occurrences}")
    if method not in ("auto", "set", "join"):
        raise ValueError(f"method must be 'auto', 'set' or 'join', got {method!r}")
    base = df.select(
        F.col(id_col).alias("_id"),
        words(F.coalesce(F.col(text_col), F.lit(""))).alias("_ws"),
    )
    grams = base.select(
        "_id",
        F.posexplode(
            F.transform(ngrams_of_words(F.col("_ws"), n), portable_hash64)
        ).alias("p", "gh"),
    )
    dup = (
        grams.groupBy("gh")
        .agg(
            F.count("*").alias("_occ"),
            F.min(F.struct(F.col("_id").alias("i"), F.col("p").alias("q"))).alias(
                "_keep"
            ),
        )
        .filter(F.col("_occ") >= min_occurrences)
        .select("gh", "_keep")
    )

    if method == "auto":
        elected = dup.limit(max_set_size + 1).collect()
        method = "join" if len(elected) > max_set_size else "set"
    elif method == "set":
        elected = dup.collect()

    if method == "set":
        dup_list = [r["gh"] for r in elected]
        # packed occurrence key must stringify exactly like the Spark
        # side: BIGINT/INT → string casts have no decimal point, so
        # str(python int) matches
        keeper_list = [
            f"{r['gh']}:{r['_keep']['q']}:{r['_keep']['i']}" for r in elected
        ]
        # barrier 1: tokenize + hash once per row
        marked = _materialize(
            base,
            {"_ghs": F.transform(ngrams_of_words(F.col("_ws"), n), portable_hash64)},
        )
        if dup_list:
            packed = F.transform(
                "_ghs", lambda g, p: F.concat_ws(":", g, p, F.col("_id"))
            )
            # barrier 2: hash-probe the big literal arrays ONCE per
            # row — the per-window flag probes only the doc's own
            # (small) hit arrays
            marked = _materialize(
                marked,
                {
                    "_packed": packed,
                    "_dup_hits": F.array_intersect("_ghs", F.lit(dup_list)),
                    "_keep_hits": F.array_intersect(packed, F.lit(keeper_list)),
                },
            )
            # barrier 3: the rebuild lambda must see _flags as an
            # attribute, not re-derive it per word element
            marked = _materialize(
                marked,
                {
                    "_flags": F.transform(
                        "_ghs",
                        lambda g, p: F.array_contains("_dup_hits", g)
                        & ~F.array_contains(
                            "_keep_hits", F.element_at("_packed", p + 1)
                        ),
                    )
                },
            )
        else:
            marked = _materialize(
                marked, {"_flags": F.transform("_ghs", lambda g: F.lit(False))}
            )
        return _cleaned_select(marked, id_col, _kept_from_flags(n))

    # method == "join"
    covered = (
        grams.join(dup, "gh")
        .filter(
            ~((F.col("_id") == F.col("_keep.i")) & (F.col("p") == F.col("_keep.q")))
        )
        .select("_id", F.explode(F.sequence(F.col("p"), F.col("p") + n - 1)).alias("ci"))
        .groupBy("_id")
        .agg(F.collect_set("ci").alias("_covered"))
    )
    joined = base.join(covered, "_id", "left").withColumn(
        "_covered", F.coalesce("_covered", F.array().cast("array<int>"))
    )
    kept = F.filter(
        F.col("_ws"), lambda w, i: ~F.array_contains(F.col("_covered"), i.cast("int"))
    )
    return _cleaned_select(joined, id_col, kept)


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    node_col: str = "node",
    max_iterations: int = 20,
    check_every: int = 1,
) -> DataFrame:
    """Duplicate-cluster resolution: connected components over a
    near-dup pair table → (node, component) where component = the
    smallest id reachable (the canonical "keeper" of the cluster;
    singletons map to themselves).

    Algorithm: min-label propagation — every node starts labeled with
    itself; each round takes the min of its own label and its
    neighbors' labels; converges in O(graph diameter) rounds, bounded
    by ``max_iterations``.  The driver-side convergence count runs only
    every ``check_every`` rounds (each check is one extra job — at
    check_every=2 half the probe jobs for at most one surplus round).
    Each round is one shuffle on the edge key; ``localCheckpoint``
    truncates the growing plan lineage.  Near-dup graphs are
    overwhelmingly tiny cliques (diameter 1-2), so this terminates in
    2-3 rounds in practice; for adversarial high-diameter graphs use
    ``connected_components_star`` (O(log²) rounds).

    Warns (and still returns the partial labels) if ``max_iterations``
    rounds end while labels are still changing — silent truncation
    would split one cluster into several keepers with no signal
    (ADVICE r02)."""
    edges = pairs.select(
        F.col(id_a).cast("long").alias("src"), F.col(id_b).cast("long").alias("dst")
    )
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()

    labels = nodes.select(
        F.col(node_col).cast("long").alias("node")
    ).withColumn("label", F.col("node"))

    converged = False
    for i in range(max_iterations):
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # carry the changed flag INSIDE the checkpointed frame: the
        # convergence probe is then a filter-count over materialized
        # rows instead of a shuffle join of new vs old labels (one
        # fewer shuffle per probe; labels only ever decrease, so
        # changed == new < old)
        nl = F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label")))
        new_labels = (
            labels.join(nbr_min, labels["node"] == nbr_min["src"], "left")
            .select(
                "node",
                nl.alias("label"),
                (nl < F.col("label")).alias("_chg"),
            )
            .localCheckpoint()
        )
        if (i + 1) % check_every == 0 or i == max_iterations - 1:
            changed = new_labels.filter(F.col("_chg")).count()
            if changed == 0:
                labels = new_labels
                converged = True
                break
        labels = new_labels.select("node", "label")
    edges.unpersist()
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components did not converge in {max_iterations} "
            "rounds (graph diameter exceeds the budget); labels are "
            "PARTIAL — clusters may be split across several keepers. "
            "Raise max_iterations or use connected_components_star.",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("node"), F.col("label").alias("component"))


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., 'Connected Components in
    MapReduce and Beyond'): every node u connects each STRICTLY LARGER
    neighbor to m(u) = min(N(u) ∪ {u}).  Keeps edges oriented
    (src > dst after the round)."""
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient each edge toward the larger node,
    then every node u connects its smaller-or-equal neighbors (and
    itself) to m(u) = min of that neighborhood."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    joined = oriented.join(mins, "src")
    out = joined.select(F.col("dst").alias("src"), F.col("m").alias("dst")).union(
        joined.select("src", F.col("m").alias("dst"))
    )
    return out.filter(F.col("src") != F.col("dst")).distinct()


def connected_components_star(
    pairs: DataFrame,
    nodes: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    node_col: str = "node",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al.) — the adversarial-graph upgrade over min-label
    propagation: converges in O(log² n) rounds regardless of diameter
    (a path graph of length 10⁶ resolves in ~20 rounds where label
    propagation needs 10⁶).  Same equi-join + groupBy shuffle shape per
    round, no driver-side per-round data; convergence is detected from
    a 2-number edge signature (count + hash-sum) per round pair.

    Returns (node, component) with component = min node id of the
    cluster, identical contract to ``connected_components``."""
    edges = (
        pairs.select(
            F.col(id_a).cast("long").alias("src"),
            F.col(id_b).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )

    def signature(e: DataFrame) -> tuple:
        # per-edge hash reduced to [0, 2^31) so the sum stays exact in
        # ANSI long arithmetic up to 2^32 edges
        row = e.agg(
            F.count("*").alias("n"),
            F.sum(F.pmod(F.xxhash64("src", "dst"), F.lit(1 << 31))).alias("h"),
        ).first()
        return (row["n"], row["h"])

    prev_sig = signature(edges)
    converged = False
    for _ in range(max_iterations):
        edges = _small_star(_large_star(edges)).localCheckpoint()
        sig = signature(edges)
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components_star did not converge in {max_iterations} "
            "rounds; labels may be partial.",
            RuntimeWarning,
            stacklevel=2,
        )
    # at convergence every edge points a node at its component min
    labels = edges.groupBy("src").agg(F.min("dst").alias("component"))
    return (
        nodes.select(F.col(node_col).cast("long").alias("node"))
        .join(labels, F.col("node") == F.col("src"), "left")
        .select(
            "node", F.coalesce(F.col("component"), F.col("node")).alias("component")
        )
    )


def ordered_distinct(df: DataFrame, key: str, order: str) -> DataFrame:
    """A1 — order-preserving distinct: first occurrence wins
    (dict.fromkeys semantics, google_url_serch.py:634)."""
    w = Window.partitionBy(key).orderBy(order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
