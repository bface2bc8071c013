"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
SIGMOD 2003 — the MOSS algorithm): per document, hash every character
k-gram, slide a window of w consecutive hashes, and select each
window's MINIMUM hash (ties → rightmost position); the deduplicated
selections are the fingerprint set. Guarantee (the paper's Theorem):
any substring match of length ≥ w + k − 1 between two documents shares
at least one selected fingerprint — the basis of plagiarism/overlap
detection at bounded fingerprint density (expected 2/(w+1) of all
k-grams).

Pure Catalyst: the k-gram hashes, the per-window argmin, and the
dedupe are ONE projection of nested array HOFs per document (zero
joins, zero shuffles besides the final distinct); DuckDB replays it
with the same list lambdas.

The (min hash, rightmost tie) rule is encoded into a single exact
integer key so both engines argmin with plain ``min``:
key(i) = h(i)·2^20 + (2^20 − i), minimized ⇔ (h asc, i desc). h is the
first 16 hex chars of md5 of the k-gram as an unsigned 64-bit value
(the repo hash idiom); the key needs 84 bits — exact in Spark
DECIMAL(38,0) and DuckDB HUGEINT. Positions are capped at 2^20 − 1
chars per document (docs longer than ~1 MiB must be pre-split — the
segmentation operators do exactly that).

Naive per-window argmin costs O(n·w) expression evaluations per doc
(the paper's O(n) monotone-queue needs sequential state Catalyst can't
express); w is a small constant (4–8), so this is a constant-factor,
not asymptotic, overhead — and it stays embarrassingly parallel.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

POS_BASE = 1 << 20  # position field width inside the packed key


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, pos, gram_hash) — the winnowing fingerprint set: pos is
    the 1-based character position of each selected k-gram, gram_hash
    its 16-hex md5 prefix (recomputed from pos on output, so the
    emitted hash is a plain string — no 128-bit column crosses an
    engine boundary). Documents shorter than k + w − 1 chars emit no
    fingerprints (no full window exists); documents of ≥ 2^20 chars are
    EXCLUDED (their positions would overflow the packed key's position
    field) — pre-split them with the segmentation operators first. The
    exclusion is an explicit filter, not silent corruption."""
    text = F.col(text_col)
    n = F.length(text) - k + 1  # number of k-grams
    key = lambda i: (
        F.conv(F.substring(F.md5(F.substring(text, i, k)), 1, 16), 16, 10)
        .cast("decimal(38,0)")
        * F.lit(POS_BASE)
        + (F.lit(POS_BASE) - i)
    )
    keys = F.transform(F.sequence(F.lit(1), n), key)
    # r9: the key array is MATERIALIZED once per document inside a
    # generator (explode of a one-element array) before the window
    # sweep. Referencing the ``keys`` expression inside the per-window
    # lambda re-evaluated the whole O(n) md5+DECIMAL key transform per
    # window (interpreted HOFs have no CSE) — O(n²·md5) per doc instead
    # of the documented O(n·w) argmin sweep (measured 180× at sf0.1).
    # The sweep below reads the plain ``_keys`` attribute. Same values,
    # same selection, bit-identical fingerprints.
    pos = (F.lit(POS_BASE) - F.pmod(F.col("_key"), F.lit(POS_BASE))).cast("int")
    n_keys = F.size(F.col("_keys"))
    sel = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_keys - w + 1),
            lambda p: F.array_min(F.slice(F.col("_keys"), p, w)),
        )
    )
    return (
        docs.filter(
            (F.length(text) >= k + w - 1) & (F.length(text) < POS_BASE)
        )
        .select(id_col, text.alias("_t"), F.explode(F.array(keys)).alias("_keys"))
        .select(id_col, "_t", F.explode(sel).alias("_key"))
        .select(
            id_col,
            pos.alias("pos"),
            F.substring(F.md5(F.substring(F.col("_t"), pos, k)), 1, 16).alias(
                "gram_hash"
            ),
        )
    )
