"""Training-data pipeline operators over document corpora: repetition
signals (Gopher-style quality filters), benchmark-contamination
detection, sliding-window chunking, PII redaction, URL normalization.

Like text/analysis.py, everything stays JVM-side: n-gram extraction is
``split`` + ``transform``/``slice`` (whole-stage codegen), per-doc
statistics are map-side-combinable groupBys keyed on doc_id, and the
redaction/normalization chains are ``regexp_replace`` pipelines. At
100 TB these run as one scan plus (for the n-gram stats) one
doc_id-keyed shuffle whose width is bounded by distinct n-grams per
document, not corpus size.

Regex discipline (same as analysis.py): only syntax that Java regex
(Spark) and RE2 (DuckDB oracles) interpret identically — explicit
character classes, no lookaround, no backreferences.

Reference parity: the reference engine has no document pipeline (its
analytics core is src/main.cpp's event-log viewer); these operators
are the [N] north-star extensions (SURVEY.md §2.3) that make the
engine usable for LLM training-data preparation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def ws_tokens(col: Column) -> Column:
    """Whitespace tokens with multi-space collapse — identical output
    to DuckDB's string_split(regexp_replace(trim(x),'\\s+',' ','g'))."""
    return F.split(F.regexp_replace(F.trim(col), r"\s+", " "), " ")


def word_ngrams(tokens: Column, n: int) -> Column:
    """Space-joined word n-grams; empty array when the document has
    fewer than n tokens (guards Spark's descending-sequence surprise
    when start > stop)."""
    if n < 1:
        raise ValueError("n must be >= 1")
    starts = F.sequence(F.lit(1), F.size(tokens) - n + 1)
    grams = F.transform(starts, lambda i: F.concat_ws(" ", F.slice(tokens, i, n)))
    return F.when(F.size(tokens) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def repetition_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", ns=(2, 3)
) -> DataFrame:
    """Gopher-style repetition quality signals per document: for each
    n in ``ns``, the fraction of n-grams claimed by the single most
    frequent n-gram (``top{n}_frac``) and the fraction of n-gram
    occurrences that are duplicated occurrences (``dup{n}_frac``).
    High values flag boilerplate / degenerate repetition.

    Distributed form: explode n-grams → count per (doc, gram) with
    map-side combine → per-doc max/sum. Both shuffles are keyed on
    doc_id (+gram), so the width per reducer is one document's
    distinct n-grams — scale-safe at any corpus size.
    """
    toks = df.select(id_col, ws_tokens(F.col(text_col)).alias("__t"))
    out = df.select(id_col)
    for n in ns:
        per_gram = (
            toks.select(id_col, F.explode(word_ngrams(F.col("__t"), n)).alias("g"))
            .groupBy(id_col, "g")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        sig = per_gram.groupBy(id_col).agg(
            (F.max("c").cast("double") / F.sum("c")).alias(f"top{n}_frac"),
            (
                F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).cast(
                    "double"
                )
                / F.sum("c")
            ).alias(f"dup{n}_frac"),
        )
        out = out.join(sig, id_col, "left")
    # documents shorter than n tokens have no n-grams: signal 0.0
    fills = {
        f"{w}{n}_frac": F.coalesce(F.col(f"{w}{n}_frac"), F.lit(0.0))
        for n in ns
        for w in ("top", "dup")
    }
    return out.withColumns(fills)


def contamination_overlap(
    train: DataFrame,
    evalset: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Benchmark-contamination detector: for each training document,
    the number of distinct word k-grams it shares with the evaluation
    corpus. A non-zero overlap at k=8 almost always means the eval
    text (or a near-duplicate) leaked into training data.

    Scale shape: within-doc gram dedup happens ROW-LOCALLY
    (``array_distinct`` before the explode), so the exploded
    (id, gram) pairs are already unique and the old global
    distinct-pairs shuffle — the whole gram stream as strings over
    the wire — is gone entirely. Grams travel as 64-bit xxhash64
    values (collision odds over millions of grams ~2⁻⁶⁵·n², far
    below any fixture or production false-positive budget), the
    small eval side dedups and BROADCASTS, and the only shuffle left
    is the final per-doc count over matched rows — i.e. over the
    contaminated sliver, not the corpus.
    """
    from etl_lens_spark.operators.partitioning import parallelize_compute

    gh = lambda c: F.transform(  # noqa: E731
        F.array_distinct(word_ngrams(ws_tokens(c), k)),
        lambda x: F.xxhash64(x),
    )
    # gram construction is the CPU cost — fan the (pre-explosion)
    # input out across cores before it runs (no-op on a real cluster
    # where the scan is already parallel)
    tg = parallelize_compute(train.select(id_col, text_col)).select(
        id_col, F.explode(gh(F.col(text_col))).alias("gh")
    )
    eg = (
        evalset.select(F.explode(gh(F.col(text_col))).alias("gh"))
        .distinct()
    )
    return (
        tg.join(F.broadcast(eg), "gh", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap_kgrams"))
    )


def chunk_sliding(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Split documents into sliding token windows (size
    ``chunk_tokens``, step ``stride``) — the standard pre-training /
    RAG chunking op. Emits (id, chunk_idx, chunk_text, n_chunk_tokens)
    with chunk_idx 0-based in document order; the final partial chunk
    is kept. Pure codegen: sequence → slice → posexplode, no shuffle
    at all (chunking is embarrassingly parallel)."""
    if not (0 < stride <= chunk_tokens):
        raise ValueError("require 0 < stride <= chunk_tokens")
    t = ws_tokens(F.col(text_col))
    starts = F.sequence(F.lit(1), F.greatest(F.size(t), F.lit(1)), F.lit(stride))
    chunks = F.transform(starts, lambda i: F.slice(t, i, chunk_tokens))
    return (
        df.select(id_col, F.posexplode(chunks).alias("chunk_idx", "__c"))
        .select(
            id_col,
            F.col("chunk_idx").cast("long"),
            F.concat_ws(" ", "__c").alias("chunk_text"),
            F.size("__c").cast("long").alias("n_chunk_tokens"),
        )
    )


# PII patterns: deliberately simple class-based regexes, identical
# semantics in Java regex and RE2. Order matters (emails before the
# bare-digit phone pattern so the phone rule cannot eat an address).
PII_PATTERNS: list[tuple[str, str]] = [
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"),
    ("phone", r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
]


def redact_pii(
    col: Column, patterns: list[tuple[str, str]] | None = None
) -> Column:
    """Replace every PII match with a typed placeholder ([EMAIL],
    [PHONE], ...). One chained regexp_replace per pattern — a single
    codegen'd projection, no Python."""
    out = col
    for name, pat in patterns or PII_PATTERNS:
        out = F.regexp_replace(out, pat, f"[{name.upper()}]")
    return out


def pii_counts(col: Column, patterns: list[tuple[str, str]] | None = None) -> dict[str, Column]:
    """Per-pattern match counts (for audit metrics alongside the
    redacted text)."""
    return {
        f"n_{name}": F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0))).cast(
            "long"
        )
        for name, pat in patterns or PII_PATTERNS
    }


def normalize_url(col: Column) -> Column:
    """Canonicalize a URL for dedup keys: lowercase scheme+host,
    strip a leading www., drop the fragment, drop utm_* tracking
    params (tidying any separator leftovers), and trim a trailing
    slash or bare '?'. Chained regexp_replace — pure codegen."""
    # lowercase scheme://host (authority = everything before first /?#)
    u = F.concat(
        F.lower(F.regexp_extract(col, r"^([^/?#]*://[^/?#]*)", 1)),
        F.regexp_replace(col, r"^[^/?#]*://[^/?#]*", ""),
    )
    # '://www.' → '://' (no capture-group replacement: Java uses $1,
    # RE2 uses \1 — a literal rewrite keeps Spark and oracle identical)
    u = F.regexp_replace(u, r"://www\.", "://")
    u = F.regexp_replace(u, r"#.*$", "")  # fragment
    # utm_* tracking params, any position, no capture groups:
    # 1) '&utm_x=v' mid-list  2) '?utm_x=v&' head-of-list  3) '?utm_x=v' alone
    u = F.regexp_replace(u, r"&utm_[a-z]+=[^&#]*", "")
    u = F.regexp_replace(u, r"\?utm_[a-z]+=[^&#]*&", "?")
    u = F.regexp_replace(u, r"\?utm_[a-z]+=[^&#]*$", "")
    u = F.regexp_replace(u, r"[?/]+$", "")  # trailing slash / bare '?'
    return u


def segment_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 20,
) -> DataFrame:
    """C4-style segment-level corpus dedup: split every document into
    fixed ``seg_tokens``-token segments (the paragraph analog for a
    corpus without hard paragraph breaks), drop every segment whose
    text has already appeared anywhere else in the corpus (first-seen
    wins, ordered by (doc_id, seg_idx)), and reassemble the surviving
    segments per document in original order.

    Returns (id, n_segs, n_kept, rebuilt_text).

    Scale shape: the winner election groups by the 128-bit segment
    fingerprint with a single min(struct) aggregate — map-side combine
    collapses clone groups before the shuffle, and only scalars
    (fp, id, seg_idx) cross the wire. The keep-list is then folded to
    one row per document (an index array) and joined back to the
    un-exploded documents, so segment text itself never shuffles:
    reassembly filters the in-place segment array by kept index.
    Mirrors the reference's first-seen dedup semantics
    (src/main.cpp:256-259) applied at sub-document granularity.
    """
    t = ws_tokens(F.col(text_col))
    starts = F.sequence(F.lit(1), F.greatest(F.size(t), F.lit(1)), F.lit(seg_tokens))
    segs = F.transform(starts, lambda i: F.concat_ws(" ", F.slice(t, i, seg_tokens)))
    base = df.select(F.col(id_col), segs.alias("__segs"))
    # ``base`` feeds both the fingerprint election (via the explode)
    # and the reassembly join — materialize the segmented corpus once
    # so tokenization + segment concat run a single pass (guide §5).
    # This is the one CORPUS-sized intermediate in the library, so it
    # is a managed persist(MEMORY_AND_DISK), not stage(): the lineage
    # survives an executor loss whatever the stage mode, and
    # MEMORY_AND_DISK spills rather than OOMs.
    base = base.persist(StorageLevel.MEMORY_AND_DISK)

    exploded = base.select(
        id_col, F.posexplode("__segs").alias("seg_idx", "__seg")
    ).select(
        F.col(id_col),
        F.col("seg_idx").cast("long").alias("seg_idx"),
        F.md5("__seg").alias("__fp"),
    )
    winners = (
        exploded.groupBy("__fp")
        .agg(F.min(F.struct(id_col, "seg_idx")).alias("__w"))
        .select(
            F.col(f"__w.{id_col}").alias(id_col),
            F.col("__w.seg_idx").alias("seg_idx"),
        )
    )
    keep = winners.groupBy(id_col).agg(
        F.array_sort(F.collect_list("seg_idx")).alias("__keep")
    )
    joined = base.join(keep, id_col, "left")
    kept_segs = F.filter(
        "__segs", lambda s, i: F.array_contains("__keep", i.cast("long"))
    )
    return joined.select(
        F.col(id_col),
        F.size("__segs").cast("long").alias("n_segs"),
        F.coalesce(F.size("__keep"), F.lit(0)).cast("long").alias("n_kept"),
        F.when(F.col("__keep").isNull(), F.lit("")).otherwise(
            F.concat_ws(" ", kept_segs)
        ).alias("rebuilt_text"),
    )
