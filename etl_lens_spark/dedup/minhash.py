"""MinHash + LSH near-duplicate detection — the workhorse dedup of
large-scale text pipelines (shingle → minhash signature → band-bucket
→ within-bucket candidate pairs → verify).

Spark-first design decisions:

- The signature is computed **without exploding shingles**: the
  shingle array stays row-local and the k minhashes are
  ``array_min(transform(shingles, s -> xxhash64(s, seed_i)))`` — pure
  JVM expressions inside whole-stage codegen. No shuffle, no Python.
- Banding explodes to b rows per doc (b ≈ 8-16), so the only shuffle
  is the band-bucket self-join, keyed by (band_id, band_hash) — a
  well-distributed 64-bit key.
- Giant buckets (degenerate content, e.g. boilerplate) are the skew
  hazard: buckets above ``max_bucket`` are dropped, the standard
  practical mitigation (those docs are caught by other bands or by
  exact dedup).

At 100 TB: signature build is scan-bound and embarrassingly parallel;
candidate generation shuffles ~b x docs rows of (hash, id) pairs —
small relative to the corpus because the text itself never shuffles.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_lens_spark.dedup.exact import normalized_text


def add_shingles(
    df: DataFrame, text_col: str = "text", n: int = 3, out_col: str = "shingles"
) -> DataFrame:
    """Word n-gram shingles as an array column (distinct, row-local).

    Formulation matters: shingle j is ``concat_ws(' ', words[j+1 ..
    j+n])``, and the obvious per-shingle ``slice`` allocates a fresh
    sub-array per element inside an interpreted higher-order loop —
    measured 3.9 s over the sf0.1 corpus. Zipping ``n`` whole-array
    slices once and concatenating struct fields per element produces
    the IDENTICAL shingle strings (trailing shingles shorter than
    ``n`` truncate the same way: out-of-range zip fields are NULL and
    ``concat_ws`` skips them) at 0.68 s — one array copy per offset
    instead of one per shingle.

    NULL text coalesces to the empty word list, matching the original
    per-index formulation bit-for-bit: there ``transform`` over
    ``sequence(0, 0)`` emitted ``concat_ws(' ', slice(NULL,..)) = ''``
    for NULL words, i.e. NULL-text docs shingle as ``['']`` exactly
    like empty-text docs. The zip formulation without the coalesce
    propagated NULL instead (ADVICE r11) — silently moving NULL-text
    docs out of the empty-text LSH bucket."""
    words = F.coalesce(
        F.split(normalized_text(F.col(text_col)), " "),
        F.array(F.lit("")),
    )
    m = F.greatest(F.size(words) - n, F.lit(0)) + 1  # shingle count
    zipped = F.arrays_zip(
        *[F.slice(words, i + 1, m).alias(f"c{i}") for i in range(n)]
    )
    shingles = F.transform(
        zipped,
        lambda s: F.concat_ws(" ", *[s[f"c{i}"] for i in range(n)]),
    )
    return df.withColumn(out_col, F.array_distinct(shingles))


# Spark's XXH64 constants/closed forms for fixed-width inputs —
# bit-identical to org.apache.spark.sql.catalyst.expressions.XxHash64
# over (long) and (long, int) inputs (unit-pinned against F.xxhash64
# in tests/test_dedup.py). Vectorized over numpy uint64 so the
# k-component fold runs as array arithmetic instead of an interpreted
# per-shingle expression walk (guide §4.2 — Arrow batches + native
# vectorized kernels for the hot per-row math).
_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5


def _xxh64_fold_udf(num_hashes: int):
    """pandas_udf: array<long> base shingle hashes -> array<long>
    k-component MinHash signature. Identity per component:
    ``min over shingles of xxhash64(base_hash, i)`` where
    ``xxhash64(h, i) = hashInt(i, hashLong(h, 42))`` — exactly the
    chain Spark's two-argument xxhash64 expression computes."""
    u64 = np.uint64
    P1, P2, P3, P4, P5 = (
        u64(_XXH_P1), u64(_XXH_P2), u64(_XXH_P3), u64(_XXH_P4), u64(_XXH_P5)
    )

    def rotl(x, r):
        r = u64(r)
        return (x << r) | (x >> (u64(64) - r))

    def fmix(h):
        h = h ^ (h >> u64(33))
        h = h * P2
        h = h ^ (h >> u64(29))
        h = h * P3
        h = h ^ (h >> u64(32))
        return h

    def hash_long(l, seed):
        h = seed + P5 + u64(8)
        h = h ^ (rotl(l * P2, 31) * P1)
        h = rotl(h, 27) * P1 + P4
        return fmix(h)

    def hash_int(i, seed):
        h = seed + P5 + u64(4)
        h = h ^ ((u64(i) & u64(0xFFFFFFFF)) * P1)
        h = rotl(h, 23) * P2 + P3
        return fmix(h)

    empty_sig = np.full(num_hashes, (1 << 63) - 1, dtype=np.int64)

    @F.pandas_udf("array<bigint>")
    def fold(base: pd.Series) -> pd.Series:
        old = np.seterr(over="ignore")  # uint64 wraparound is the math
        try:
            # NULL propagation matters: the original expression fold
            # (aggregate over a NULL array) returns NULL, and the LSH
            # consumers rely on NULL signatures dropping out of the
            # banding join — a sentinel here would instead bucket all
            # NULL-text docs together as est_jaccard=1.0 candidates.
            isnull = np.fromiter(
                (b is None for b in base), dtype=bool, count=len(base)
            )
            lens = np.fromiter(
                (0 if b is None else len(b) for b in base),
                dtype=np.int64,
                count=len(base),
            )
            if lens.sum() == 0:
                return pd.Series(
                    [None if n else empty_sig.copy() for n in isnull]
                )
            flat = np.concatenate(
                [np.asarray(b, dtype=np.int64) for b in base if b is not None and len(b)]
            ).view(np.uint64)
            t = hash_long(flat, u64(42))  # seed-42 prefix, i-independent
            nz = lens > 0
            starts = np.zeros(int(nz.sum()), dtype=np.int64)
            np.cumsum(lens[nz][:-1], out=starts[1:])
            sigs = np.empty((len(base), num_hashes), dtype=np.int64)
            sigs[~nz] = empty_sig
            mins_nz = np.empty((int(nz.sum()), num_hashes), dtype=np.uint64)
            for i in range(num_hashes):
                mins_nz[:, i] = np.minimum.reduceat(
                    hash_int(i, t).view(np.int64), starts
                ).view(np.uint64)
            sigs[nz] = mins_nz.view(np.int64)
            return pd.Series(
                [None if n else s for n, s in zip(isnull, sigs)]
            )
        finally:
            np.seterr(**old)

    return fold


def add_minhash_signature(
    df: DataFrame,
    shingle_col: str = "shingles",
    num_hashes: int = 64,
    out_col: str = "minhash",
) -> DataFrame:
    """k-component MinHash signature as array<long>; deterministic
    (seeded xxhash64), bit-identical to the original all-expression
    formulation (pinned by test_dedup.py's expression-vs-vectorized
    equality).

    Cost structure matters at scale: each shingle *string* is hashed
    exactly once (JVM ``xxhash64(s)`` — variable-length hashing stays
    in codegen); the k fixed-width component hashes + mins then run
    as ONE vectorized numpy kernel per Arrow batch. The previous
    all-expression fold (``aggregate``/``zip_with``/``transform``)
    ran interpreted per shingle per component — measured 3.6 s of a
    7.5 s signature pass over the sf0.1 corpus vs ~0.2 s vectorized
    (plans/r11, OPTIMIZATION_r11.md)."""
    base = F.transform(F.col(shingle_col), lambda s: F.xxhash64(s))
    return df.withColumn(out_col, _xxh64_fold_udf(num_hashes)(base))


def banded_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "minhash",
    bands: int = 16,
) -> DataFrame:
    """The banding step alone: explode each signature into ``bands``
    (band_id, band_hash) bucket keys — (__id, __sig, band_id,
    band_hash) rows. Factored out of minhash_lsh_candidates so an
    INCREMENTAL consumer (a maintained band-index table probed by
    delta documents) shares the exact banding definition with the
    batch path and the two can never hash into different buckets.

    Formulation note (round 12, verdict item 4): two codegen'd
    static-index replacements for the interpreted ``transform``/
    ``slice`` walk were built, pinned bit-identical, and MEASURED
    against this form with the interleaved anchor-paired protocol —
    an all-bands array-of-structs projection ran 1.2-1.3x SLOWER
    (generated-code blowup: 16 structs x r GetArrayItems x string
    xxhash64 in one projection) and a post-explode per-band static
    projection was a wash to 1.09x slower
    (plans/r12/ab_banding_structarray.jsonl, ab_banding_postexplode
    .jsonl). The interpreted HOF walk stays: per-row work here is
    16 slices + 16 string hashes per document — small next to the
    signature fold — and the Generate-then-project shapes pay more
    in codegen size than they save in interpretation."""
    rows_per_band = F.size(F.col(sig_col)) / bands
    return df.select(
        F.col(id_col).alias("__id"),
        F.col(sig_col).alias("__sig"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(
                                    F.col(sig_col),
                                    (b * rows_per_band).cast("int") + 1,
                                    rows_per_band.cast("int"),
                                ),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select("__id", "__sig", "band.band_id", "band.band_hash")


def bucket_pairs(
    left_banded: DataFrame,
    right_banded: DataFrame | None = None,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """Per-BUCKET candidate pairs, WITHOUT cross-bucket dedup:
    (doc_a, doc_b, est_jaccard, band_id, band_hash), one row per
    bucket that brings the pair together. This is the support-level
    view the GUARDED incremental maintenance needs — a pair's
    refcount is the number of small buckets containing both docs, so
    the bucket each pair came from must survive to the consumer.
    ``pairs_from_bands`` is exactly this with the buckets deduped
    away. One frame = self-join; two frames = delta-vs-index probe
    (the incremental shape — never a corpus re-self-join)."""
    self_join = right_banded is None
    if self_join:
        right_banded = left_banded
    left = left_banded.select(
        "band_id",
        "band_hash",
        F.col("__id").alias("__ida"),
        F.col("__sig").alias("__siga"),
    )
    right = right_banded.select(
        "band_id",
        "band_hash",
        F.col("__id").alias("__idb"),
        F.col("__sig").alias("__sigb"),
    )
    joined = left.join(right, ["band_id", "band_hash"])
    if self_join:
        joined = joined.filter(F.col("__ida") < F.col("__idb"))
    else:
        joined = joined.filter(F.col("__ida") != F.col("__idb"))
    pairs = joined.select(
        "band_id",
        "band_hash",
        F.least("__ida", "__idb").alias("doc_a"),
        F.greatest("__ida", "__idb").alias("doc_b"),
        F.when(F.col("__ida") < F.col("__idb"), F.col("__siga"))
        .otherwise(F.col("__sigb"))
        .alias("sig_a"),
        F.when(F.col("__ida") < F.col("__idb"), F.col("__sigb"))
        .otherwise(F.col("__siga"))
        .alias("sig_b"),
    )
    matches = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    est = (matches.cast("double") / F.size(F.col("sig_a"))).alias(
        "est_jaccard"
    )
    return (
        pairs.select("doc_a", "doc_b", est, "band_id", "band_hash")
        .filter(F.col("est_jaccard") >= min_est_jaccard)
    )


def pairs_from_bands(
    left_banded: DataFrame,
    right_banded: DataFrame | None = None,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """Candidate pairs from banded rows: join on the band key,
    canonicalize (doc_a < doc_b), dedup, estimate Jaccard from the
    riding signatures. One frame = self-join (the batch shape); two
    frames = cross-join of a delta against a standing index (the
    incremental shape — delta-vs-corpus candidates only, never a
    corpus re-self-join). No skew guard here: callers that want the
    degenerate-bucket drop apply it to the banded frame first (as
    minhash_lsh_candidates does via ``guard_banded``) — and must
    apply it to BOTH paths or the incremental and batch pair sets
    diverge by construction (the guarded incremental rules below do
    exactly that via per-bucket support refcounts)."""
    return (
        bucket_pairs(left_banded, right_banded, min_est_jaccard)
        .dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b", "est_jaccard")
    )


def guard_banded(banded: DataFrame, max_bucket: int) -> DataFrame:
    """The degenerate-bucket skew guard as a reusable step: drop
    every row of a bucket holding more than ``max_bucket`` banded
    rows (boilerplate collisions — the docs are caught by other
    bands or by exact dedup). The window count shares the
    (band_id, band_hash) shuffle partitioning with the join that
    follows — one extra pass, no extra join. Factored out of
    minhash_lsh_candidates so the from-scratch audit inside the
    incremental queries applies the IDENTICAL rule."""
    bn = F.count(F.lit(1)).over(Window.partitionBy("band_id", "band_hash"))
    return (
        banded.withColumn("__bn", bn)
        .filter(F.col("__bn") <= max_bucket)
        .drop("__bn")
    )


def guarded_insert_support(
    delta_banded: DataFrame,
    index_banded: DataFrame | None,
    max_bucket: int,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """Pair-support DELTAS (doc_a, doc_b, est_jaccard, d_support)
    for an INSERT batch under the degenerate-bucket guard. The
    maintained view is {pair : n_support > 0} where n_support = the
    number of SMALL buckets (≤ max_bucket rows) containing both
    docs — exactly the guarded from-scratch semantics
    (guard_banded → pairs_from_bands), kept incrementally:

    - buckets that STAY small after the delta lands: +1 per
      delta-vs-delta and delta-vs-index pair inside them;
    - buckets the delta pushes OVER the guard: −1 per pair among the
      OLD members (the support this bucket granted when it was
      small — by induction exactly 1 each); pairs involving the
      delta's own rows in such buckets are never granted;
    - buckets already over: nothing (their support was already
      retracted or never granted).

    Cost: O(delta × matching band rows). Bucket occupancies are NOT
    a separate maintained table — the counts are computed from the
    same pruned probe rows the candidate join already reads (the
    index restricted to the delta's bucket keys), so the guard adds
    zero extra state and zero extra scans; with the index bucketed
    by band_hash the probe is a pruned read at any scale. The
    retraction term is bounded by max_bucket² per newly-over bucket
    — the guard's own threshold caps its maintenance cost."""
    key = ["band_id", "band_hash"]
    # Plan shape (deliberate, bench-tuned): ONE broadcast-pruned
    # index probe (the delta's bucket keys are O(delta × bands) and
    # broadcast, so the standing index is never shuffled — a pruned
    # read when the index is bucketed by band_hash), then ONE window
    # over the combined delta∪probe rows computes both occupancies
    # and the bucket class per row — the window shares the band-key
    # shuffle with the self-join that follows (the guard_banded
    # trick), and the self-join's two sides share one exchange
    # (ReusedExchange). Three rules, one join.
    delta = delta_banded.withColumn("__new", F.lit(1))
    if index_banded is not None:
        dkeys = delta_banded.select(*key).distinct()
        probe = index_banded.join(
            F.broadcast(dkeys), key, "left_semi"
        ).withColumn("__new", F.lit(0))
        combined = delta.unionByName(probe)
    else:
        combined = delta
    w = Window.partitionBy(*key)
    tagged = combined.withColumn(
        "__dn", F.sum("__new").over(w)
    ).withColumn("__on", F.sum(1 - F.col("__new")).over(w))
    stay = F.col("__on") + F.col("__dn") <= max_bucket
    over = (F.col("__on") <= max_bucket) & (
        F.col("__on") + F.col("__dn") > max_bucket
    )
    tagged = (
        tagged.withColumn(
            "__cls",
            F.when(stay, F.lit(1)).when(over, F.lit(-1)).otherwise(
                F.lit(0)
            ),
        )
        .filter(F.col("__cls") != 0)  # already-over: contributes 0
        .drop("__dn", "__on")
    )
    left = tagged.select(
        *key,
        "__cls",
        F.col("__id").alias("__ida"),
        F.col("__sig").alias("__siga"),
        F.col("__new").alias("__newa"),
    )
    right = tagged.select(
        *key,
        F.col("__id").alias("__idb"),
        F.col("__sig").alias("__sigb"),
        F.col("__new").alias("__newb"),
    )
    # FUSED single-window shape (round 12, verdict item 3): the
    # shuffle_hash hint forbids broadcast promotion of either side,
    # so both join children inherit the window's hashpartitioning on
    # the band key (zero new exchanges) and the two branches'
    # identical Exchange subtrees collapse into one ReusedExchange —
    # the probe + union below the window executes ONCE and the
    # window + self-join share a single band-key shuffle. (Round 11
    # staged this frame instead, which re-shuffled both join sides
    # from the checkpoint.)
    joined = left.join(right.hint("shuffle_hash"), key).filter(
        F.col("__ida") < F.col("__idb")
    )
    ds = F.when(
        (F.col("__cls") == 1)
        & ((F.col("__newa") == 1) | (F.col("__newb") == 1)),
        F.lit(1),  # stay-small bucket, pair touches the delta: grant
    ).when(
        (F.col("__cls") == -1)
        & (F.col("__newa") == 0)
        & (F.col("__newb") == 0),
        F.lit(-1),  # newly-over bucket, pair among OLD members: retract
    )
    joined = joined.withColumn("__ds", ds).filter(F.col("__ds").isNotNull())
    matches = F.size(
        F.filter(
            F.zip_with(
                F.col("__siga"), F.col("__sigb"), lambda x, y: x == y
            ),
            lambda eq: eq,
        )
    )
    est = (matches.cast("double") / F.size(F.col("__siga"))).alias(
        "est_jaccard"
    )
    return (
        joined.select(
            F.col("__ida").alias("doc_a"),
            F.col("__idb").alias("doc_b"),
            est,
            "__ds",
        )
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.first("est_jaccard").alias("est_jaccard"),
            F.sum("__ds").cast("long").alias("d_support"),
        )
    )


def guarded_delete_support(
    gone_banded: DataFrame,
    index_banded: DataFrame,
    gone_ids: DataFrame,
    max_bucket: int,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """Pair-support deltas for a DELETE batch under the guard: a
    bucket the departures shrink back to ≤ max_bucket re-grants +1
    to every pair among its REMAINING members (the bucket was over,
    so none of those pairs held its support). Pairs touching the
    deleted ids themselves are dropped wholesale by the caller's
    drop rule — their bookkeeping leaves with them. ``index_banded``
    is the PRE-delete index; ``gone_ids`` carries one ``__gone``
    column. Cost: O(departures × matching band rows), re-grant term
    bounded by max_bucket² per newly-small bucket."""
    key = ["band_id", "band_hash"]
    # same one-window-one-join shape as the insert rule: the
    # departures' bucket keys broadcast to prune the index read (the
    # index never shuffles), a departing-member flag rides each row,
    # and one window computes occupancy + departures per bucket
    gkeys = gone_banded.select(*key).distinct()
    members = index_banded.join(
        F.broadcast(gkeys), key, "left_semi"
    ).join(
        F.broadcast(gone_ids),
        F.col("__id") == F.col("__gone"),
        "left",
    ).withColumn(
        "__going", F.col("__gone").isNotNull().cast("int")
    ).drop("__gone")
    w = Window.partitionBy(*key)
    tagged = members.withColumn(
        "__on", F.count(F.lit(1)).over(w)
    ).withColumn("__gn", F.sum("__going").over(w))
    # bucket_pairs self-joins this frame on the band key — the
    # shuffle_hash hint (same fusion as the insert rule) lets both
    # sides reuse the window's band-key exchange instead of staging
    # and re-shuffling
    remaining = (
        tagged.filter(
            (F.col("__on") > max_bucket)
            & (F.col("__on") - F.col("__gn") <= max_bucket)
            & (F.col("__going") == 0)
        )
        .select("__id", "__sig", *key)
        .hint("shuffle_hash")
    )
    return bucket_pairs(remaining, None, min_est_jaccard).groupBy(
        "doc_a", "doc_b"
    ).agg(
        F.first("est_jaccard").alias("est_jaccard"),
        F.sum(F.lit(1)).cast("long").alias("d_support"),
    )


def merge_support(
    pairs_state: DataFrame | None, deltas: DataFrame
) -> DataFrame:
    """Fold support deltas into the maintained pair state
    (doc_a, doc_b, est_jaccard, n_support): full-outer merge on the
    pair key, sum the refcounts, keep the positive ones. O(state +
    deltas); in a lake-table deployment the deltas APPEND and this
    fold runs at read/compaction time, so the per-epoch write stays
    O(changes)."""
    if pairs_state is None:
        return deltas.filter(F.col("d_support") > 0).select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            F.col("d_support").alias("n_support"),
        )
    joined = pairs_state.alias("s").join(
        deltas.alias("d"), ["doc_a", "doc_b"], "full_outer"
    )
    n = F.coalesce(F.col("s.n_support"), F.lit(0)) + F.coalesce(
        F.col("d.d_support"), F.lit(0)
    )
    est = F.coalesce(F.col("s.est_jaccard"), F.col("d.est_jaccard"))
    return joined.select(
        "doc_a",
        "doc_b",
        est.alias("est_jaccard"),
        n.cast("long").alias("n_support"),
    ).filter(F.col("n_support") > 0)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "minhash",
    bands: int = 16,
    max_bucket: int = 1000,
    min_est_jaccard: float = 0.5,
    cache: bool = True,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH, with the
    estimated Jaccard (fraction of equal signature components).

    Returns (doc_a, doc_b, est_jaccard), doc_a < doc_b, filtered to
    ``min_est_jaccard``. Plan: explode bands → self-join on band key →
    distinct pairs → signature compare (signatures ride along the
    join, so no extra lookup join is needed).

    ``cache=True`` persists the (id, sig, band) frame: the self-join
    references it on both sides and the skew guard once more, and
    without a persist each reference re-runs the whole shingle+
    signature pipeline. Persisted size is ~(8*k + 16) bytes/doc/band —
    negligible next to the corpus — and it's exactly what you'd
    materialize as an intermediate table in a 100 TB run.
    """
    banded = banded_rows(df, id_col, sig_col, bands)
    if cache:
        banded = banded.persist()
    banded = guard_banded(banded, max_bucket)
    return pairs_from_bands(banded, min_est_jaccard=min_est_jaccard)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
    min_jaccard: float = 0.5,
    candidate_filter: Column | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity between document pairs that
    share at least one n-gram, via an inverted-index join (explode
    n-grams → join on n-gram → count intersections → |A|+|B|-inter).

    This is the *verification* path (exact, quadratic only within
    shared-token groups); at scale it runs on LSH candidates, not the
    full corpus. ``candidate_filter`` restricts the corpus for bounded
    runs (e.g. doc_id < 150 for the oracle fixture).
    """
    base = df.filter(candidate_filter) if candidate_filter is not None else df
    with_sh = add_shingles(base, text_col, n=n, out_col="__sh")
    sizes = with_sh.select(
        F.col(id_col).alias("__id"), F.size("__sh").alias("__sz"), "__sh"
    )
    tok = sizes.select("__id", "__sz", F.explode("__sh").alias("__t"))
    a = tok.select(
        F.col("__id").alias("doc_a"), F.col("__sz").alias("sz_a"), "__t"
    )
    b = tok.select(
        F.col("__id").alias("doc_b"), F.col("__sz").alias("sz_b"), "__t"
    )
    inter = (
        a.join(b, "__t")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    jac = (
        F.col("__inter").cast("double")
        / (F.col("sz_a") + F.col("sz_b") - F.col("__inter"))
    ).alias("jaccard")
    return (
        inter.select("doc_a", "doc_b", jac)
        .filter(F.col("jaccard") >= min_jaccard)
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    min_containment: float = 0.5,
    candidate_filter: Column | None = None,
) -> DataFrame:
    """Directional n-gram containment |sh(A) ∩ sh(B)| / |sh(A)|:
    detects documents mostly CONTAINED in another (quotes, subsets,
    prefix re-posts) that symmetric Jaccard misses when the container
    is much larger than the contained doc (Broder's containment
    measure, the complement of resemblance).

    Emits (doc_sub, doc_sup, containment) for ordered pairs where
    doc_sub's n-gram set is >= min_containment inside doc_sup's.
    Same inverted-index join shape as ngram_jaccard_pairs — one
    intersection count per unordered pair, then both directions are
    derived from it without a second join.
    """
    base = df.filter(candidate_filter) if candidate_filter is not None else df
    with_sh = add_shingles(base, text_col, n=n, out_col="__sh")
    sizes = with_sh.select(
        F.col(id_col).alias("__id"), F.size("__sh").alias("__sz"), "__sh"
    )
    tok = sizes.select("__id", "__sz", F.explode("__sh").alias("__t"))
    a = tok.select(
        F.col("__id").alias("doc_a"), F.col("__sz").alias("sz_a"), "__t"
    )
    b = tok.select(
        F.col("__id").alias("doc_b"), F.col("__sz").alias("sz_b"), "__t"
    )
    inter = (
        a.join(b, "__t")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    fwd = inter.select(
        F.col("doc_a").alias("doc_sub"),
        F.col("doc_b").alias("doc_sup"),
        (F.col("__inter").cast("double") / F.col("sz_a")).alias("containment"),
    )
    rev = inter.select(
        F.col("doc_b").alias("doc_sub"),
        F.col("doc_a").alias("doc_sup"),
        (F.col("__inter").cast("double") / F.col("sz_b")).alias("containment"),
    )
    return fwd.unionAll(rev).filter(F.col("containment") >= min_containment)
