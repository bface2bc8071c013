"""Exact-substring deduplication via repeated token-n-gram spans — the
distributed formulation of suffix-array training-data dedup (Lee et al.
2021, "Deduplicating Training Data Makes Language Models Better"): a
substring of >= k tokens is duplicated iff EVERY length-k token window
inside it is duplicated, so marking all k-windows whose fingerprint
occurs >= min_count times corpus-wide and merging the overlapping marked
windows per document recovers exactly the spans of all maximal
duplicated substrings of length >= k. No suffix array, no single-node
sort — the corpus-wide structure lives in one hash aggregate on the
window fingerprint.

Scale shape (the 100 TB story):
- window enumeration is pure Catalyst (split → transform over a
  sequence → posexplode); text bytes never reach Python;
- the duplicate-fingerprint set is ONE hash aggregate (map-side
  partial count) followed by an equi-join back — a hot boilerplate
  gram inflates the join output linearly (its own occurrence count),
  never quadratically, because the duplicate side is distinct
  fingerprints;
- span merging is a per-document window (gaps-and-islands over a
  running max), bounded by document length — no cross-document state;
- with fingerprint='xxhash64' only 8-byte hashes shuffle, never gram
  strings; 'exact' ships the gram text for oracle-exact replay and is
  asserted span-identical to the hash path on the test corpus (a
  divergence would need an xxhash64 collision between two distinct
  grams that co-occur in one corpus).

Reference scope note: the OCR reference (report.pdf §2) has no corpus
dedup at all — this operator family comes from the round-1 brief's
training-data-pipeline mandate, not from reference parity.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def token_ngram_windows(
    docs: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    fingerprint: str = "xxhash64",
    staged: bool = True,
) -> DataFrame:
    """Every length-k token window of every document:
    (id_col, pos, gh) with pos the 0-based token index of the window
    start and gh the window fingerprint (xxhash64 of the
    space-rejoined gram, or the gram string itself with
    fingerprint='exact').

    Documents shorter than k tokens contribute no windows (and are
    therefore never flagged — a doc that IS a duplicate below the
    window length belongs to exact/MinHash dedup, not substring
    dedup).

    ``staged`` (r9, default): materialize the token array once per doc
    inside a generator before the window sweep — the split expression
    captured in the per-window lambda is otherwise re-evaluated for
    every window (no CSE in interpreted HOFs; the winnowing O(n²) fix).
    Identical windows and fingerprints either way. The STREAMING caller
    passes ``staged=False``: the extra Generate breaks watermark
    attribute binding in microbatch planning (INTERNAL_ERROR_ATTRIBUTE_
    NOT_FOUND), and its per-batch volumes keep the unstaged form
    acceptable there."""
    if k < 2:
        raise ValueError(f"k must be >= 2 tokens, got {k}")
    if fingerprint not in ("xxhash64", "exact"):
        raise ValueError(f"fingerprint must be 'xxhash64' or 'exact', got {fingerprint!r}")
    toks = F.split(F.col(text_col), " ")
    if staged:
        # r9 second pass: build each window gram with ONE substring over
        # the staged token-offset array instead of concat_ws over an
        # array slice — byte-identical strings, identical xxhash64
        # fingerprints (see gopher._token_starts).
        from ..plans.parallelism import GRAM_TASK_BYTES, spread
        from .gopher import _gram_at, _token_starts

        sts = F.col("_starts")
        nt = F.size(sts) - 1
        gram = lambda i: _gram_at(text_col, sts, i, k)  # noqa: E731
        fp = (lambda i: F.xxhash64(gram(i))) if fingerprint == "xxhash64" else gram
        windows = F.posexplode(
            F.transform(F.sequence(F.lit(0), nt - k), fp)
        ).alias("pos", "gh")
        return (
            spread(docs, GRAM_TASK_BYTES)
            .filter(F.size(toks) >= k)
            .select(id_col, text_col, F.explode(F.array(_token_starts(text_col))).alias("_starts"))
            .select(id_col, windows)
        )
    gram = lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))  # noqa: E731
    fp = (lambda i: F.xxhash64(gram(i))) if fingerprint == "xxhash64" else gram
    windows = F.posexplode(
        F.transform(F.sequence(F.lit(0), F.size(toks) - k), fp)
    ).alias("pos", "gh")
    return docs.filter(F.size(toks) >= k).select(id_col, windows)


def repeated_ngram_spans(
    docs: DataFrame,
    k: int = 20,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    fingerprint: str = "xxhash64",
) -> DataFrame:
    """Merged spans of corpus-duplicated substrings per document:
    (id_col, span_start, span_end, n_windows) with token positions
    [span_start, span_end) half-open and n_windows the number of
    duplicated k-windows the span absorbs.

    A window is duplicated when its fingerprint occurs >= min_count
    times across ALL positions corpus-wide (cross-document AND
    within-document repeats both count, matching Lee et al.'s
    any-second-occurrence rule). Overlapping duplicated windows merge
    (share >= 1 token); touching-but-disjoint spans stay separate."""
    w = token_ngram_windows(docs, k, text_col, id_col, fingerprint)
    dup = (
        w.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_count)
        .select("gh")
    )
    marked = w.join(dup, "gh").select(id_col, "pos")
    prev = Window.partitionBy(id_col).orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    run = Window.partitionBy(id_col).orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    prev_end = F.max(F.col("pos") + k).over(prev)
    return (
        marked.withColumn(
            "_new",
            F.when(prev_end.isNull() | (F.col("pos") >= prev_end), 1).otherwise(0),
        )
        .withColumn("_island", F.sum("_new").over(run))
        .groupBy(id_col, "_island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + k).cast("long").alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("_island")
    )


def remove_repeated_spans(
    docs: DataFrame,
    k: int = 20,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    fingerprint: str = "xxhash64",
) -> DataFrame:
    """Documents with every duplicated span scrubbed out of the text:
    all input rows and columns, text_col rewritten to the kept tokens
    (space-rejoined) plus n_removed_tokens. Docs without spans (or
    shorter than k) pass through with n_removed_tokens = 0.

    The span list rides a per-doc aggregate joined back once; token
    filtering is a Catalyst HOF over the split array (exists() probe
    into the span structs) — no Python, no second shuffle past the
    span join."""
    spans = repeated_ngram_spans(docs, k, min_count, text_col, id_col, fingerprint)
    per_doc = spans.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.struct("span_start", "span_end"))).alias("_spans")
    )
    toks = F.split(F.col(text_col), " ")
    spans_arr = F.coalesce(
        F.col("_spans"),
        F.array().cast("array<struct<span_start:long,span_end:long>>"),
    )
    kept = F.filter(
        F.transform(toks, lambda x, i: F.struct(i.alias("i"), x.alias("w"))),
        lambda s: ~F.exists(
            spans_arr,
            lambda sp: (s["i"] >= sp["span_start"]) & (s["i"] < sp["span_end"]),
        ),
    )
    out_cols = docs.columns
    return (
        docs.join(per_doc, id_col, "left")
        .withColumn("_kept", kept)
        .withColumn(
            "n_removed_tokens", (F.size(toks) - F.size("_kept")).cast("long")
        )
        .withColumn(text_col, F.concat_ws(" ", F.transform(F.col("_kept"), lambda s: s["w"])))
        .select(*out_cols, "n_removed_tokens")
    )


def duplicated_windows_ordered(
    docs: DataFrame,
    k: int = 20,
    ttl: int | None = None,
    time_col: str = "ts",
    text_col: str = "text",
    id_col: str = "doc_id",
    fingerprint: str = "xxhash64",
    bucket_width: int | None = None,
) -> DataFrame:
    """Keep-first duplicate detection in ARRIVAL ORDER: every length-k
    window whose fingerprint has an earlier occurrence — ordered by
    (time_col, id_col, pos) — emits (id_col, pos, time_col); the first
    occurrence is retained silently. With ``ttl`` set, "earlier" means
    within ``ttl`` seconds of the PREVIOUS occurrence (a per-entry
    sliding window: every sighting refreshes the chain, so a gap larger
    than ttl starts a new first). This is the batch twin of
    streaming.substring_dedup.streaming_duplicated_windows — the parity
    tests drain the stream against exactly this definition.

    De-skew (the 100 TB story): the lag chain is NOT computed over a
    ``partitionBy(gh)`` window — a boilerplate gram occurring 10^8
    times corpus-wide would serialize its whole occurrence list into
    one task's sort. Instead occurrences are bucketed by
    ``floor(time / B)`` with ``B = max(ttl, 1)`` (``bucket_width``
    overrides; must be >= ttl), the chain runs locally per
    (gh, bucket), and only bucket-FIRST rows consult a per-(gh, bucket)
    max-time handoff aggregate: because B >= ttl, a predecessor more
    than one bucket back is always > ttl away, so the previous bucket's
    last timestamp fully decides the boundary rows (with ttl=None the
    boundary rule is "any earlier nonempty bucket", a per-gh min-bucket
    aggregate). The hot-gram cost cap is therefore its occurrences per
    ttl-width TIME bucket, not per corpus; the aggregates are map-side
    partial (max/min), and the handoff joins carry one row per
    (gh, bucket). Result-identical to the single-window formulation
    (differential-tested in tests/test_streaming_substring_dedup.py)."""
    if bucket_width is not None and ttl is not None and bucket_width < ttl:
        raise ValueError(
            f"bucket_width ({bucket_width}) must be >= ttl ({ttl}): the "
            "boundary handoff only consults the immediately previous bucket"
        )
    width = int(bucket_width) if bucket_width is not None else (
        max(int(ttl), 1) if ttl is not None else 3600
    )
    w = (
        token_ngram_windows(docs, k, text_col, id_col, fingerprint)
        .join(docs.select(id_col, time_col), id_col)
        .withColumn("_bkt", F.floor(F.col(time_col) / width).cast("long"))
    )
    local = Window.partitionBy("gh", "_bkt").orderBy(time_col, id_col, "pos")
    w = w.withColumn("_pts", F.lag(time_col).over(local))
    out = [id_col, "pos", time_col]
    # rows with a same-bucket predecessor: the chain rule is local
    chained = w.filter(F.col("_pts").isNotNull())
    local_dups = (
        chained
        if ttl is None
        else chained.filter(F.col(time_col) - F.col("_pts") <= ttl)
    ).select(*out)
    firsts = w.filter(F.col("_pts").isNull())
    if ttl is None:
        # a bucket-first is a duplicate iff ANY earlier bucket holds an
        # occurrence of its gram (earlier bucket <=> strictly earlier in
        # the (time, id, pos) order, since time drives both)
        min_bkt = w.groupBy("gh").agg(F.min("_bkt").alias("_min_bkt"))
        first_dups = (
            firsts.join(min_bkt, "gh")
            .filter(F.col("_bkt") > F.col("_min_bkt"))
            .select(*out)
        )
    else:
        # a bucket-first's predecessor, if within ttl, is the LAST
        # occurrence of the previous bucket (B >= ttl makes any older
        # bucket unreachable); its timestamp is that bucket's max(time)
        handoff = (
            w.groupBy("gh", "_bkt")
            .agg(F.max(time_col).alias("_last_ts"))
            .select("gh", (F.col("_bkt") + 1).alias("_bkt"), "_last_ts")
        )
        first_dups = (
            firsts.join(handoff, ["gh", "_bkt"])
            .filter(F.col(time_col) - F.col("_last_ts") <= ttl)
            .select(*out)
        )
    return local_dups.unionByName(first_dups)
