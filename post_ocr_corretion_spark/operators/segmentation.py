"""Segmentation-dataset ETL (the seq2seq preprocessing dataflow, SURVEY.md
§3.2) — pure Catalyst expressions end-to-end, zero UDFs.

Reference: seq2seqPreprocessing.py. The torch training itself is out of
engine scope (SURVEY.md §3.2); what we rebuild is the dataflow that feeds
it: clean (P2) → iterative split-to-fit ≤256 chars (D2/W7) → de-space
input (P4) → char split with '#' space marker (P3/P5) → vocabulary (A1)
→ bos/eos wrap (D3) → pad (D4/A4) → integer encode (D5).

The D2 fixpoint is a driver-side loop over DataFrames: each round splits
every too-long row at its most-central space (W7) and unions the halves;
depth is bounded by log2(maxlen/256) (SURVEY.md §2.8 D2), and sequences
with no space are dropped (the reference's over-long-single-word rule,
seq2seqPreprocessing.py:132).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.textops import BOS, EOS, MAX_SEQUENCE_LEN, PAD, SPECIAL_SYMBOLS, UNK
from ..functions.text import char_array, clean_text, despace, mark_spaces
from ..plans.parallelism import TOKEN_TASK_BYTES, spread
from ..session import local_frame


def split_to_fit(df: DataFrame, text_col: str = "seq", max_len: int = MAX_SEQUENCE_LEN) -> DataFrame:
    """D2 — iterative split at the most-central space until every sequence
    fits. Driver loop with a bounded number of rounds; each round is one
    narrow Catalyst job over only the still-too-long rows.

    r9: the W7 argmin inside each round is the PURE ARRAY EXPRESSION of
    q_w7_split_point (space positions = running prefix lengths of
    split(seq, ' ') parts; strict-< fold keeps the first position on
    ties — exactly the old row_number(ORDER BY |pos−len/2|, pos) = 1),
    instead of a per-CHARACTER explode + per-row window sort. Each
    round is now one narrow projection: no exchange, no sort, no
    O(len) explosion per row — the same split positions, so the output
    multiset is identical (oracle d2 gate + core-equivalence test
    green). The chosen position stages through a generator so the fold
    runs once per row, not once per reference (the
    Project-above-Generate collapse)."""
    c = F.col(text_col)
    df = spread(df, TOKEN_TASK_BYTES)
    ok = df.filter(F.length(c) <= max_len)
    pending = df.filter(F.length(c) > max_len)
    other_cols = [x for x in df.columns if x != text_col]
    while not pending.isEmpty():
        parts = F.split(c, " ", -1)
        # positions of the i-th space = len(parts[0..i] joined by ' ')
        space_pos = F.aggregate(
            F.slice(parts, F.lit(1), F.size(parts) - 1),
            F.struct(
                F.lit(-1).cast("int").alias("cur"),
                F.array().cast("array<int>").alias("ps"),
            ),
            lambda acc, part: F.struct(
                (acc.cur + F.length(part) + 1).cast("int").alias("cur"),
                F.concat(
                    acc.ps, F.array((acc.cur + F.length(part) + 1).cast("int"))
                ).alias("ps"),
            ),
        )["ps"]
        half = F.length(c) / F.lit(2.0)
        # W7 argmin: strict < keeps the FIRST (smallest) position on
        # ties; -1 = no space at all → the row is dropped below (the
        # reference's over-long-single-word rule, :132)
        best = F.aggregate(
            space_pos,
            F.lit(-1).cast("int"),
            lambda acc, p: F.when(acc < 0, p)
            .when(F.abs(p - half) < F.abs(acc - half), p)
            .otherwise(acc),
        )
        with_pos = pending.select(
            *other_cols, c, F.explode(F.array(best)).alias("_pos")
        ).filter(F.col("_pos") >= 0)
        # materialize the round's halves ONCE: both consumers (the kept
        # side of the union and the next round's pending) read the
        # checkpointed rows, instead of re-deriving the fold+explode
        # chain per reference (the candidate_batches lesson)
        halves = (
            with_pos.select(
                *other_cols,
                F.explode(
                    F.array(
                        F.substring(c, 1, F.col("_pos")),
                        c.substr(F.col("_pos") + 2, F.length(c) - F.col("_pos") - 1),
                    )
                ).alias(text_col),
            )
            .select(*df.columns)
            .localCheckpoint(eager=True)
        )
        ok = ok.unionByName(halves.filter(F.length(c) <= max_len))
        pending = halves.filter(F.length(c) > max_len)
    return ok


def prepare_sequences(docs: DataFrame, text_col: str = "text", max_len: int = MAX_SEQUENCE_LEN) -> DataFrame:
    """P2 clean → D2 split-to-fit → (input = de-spaced, output = original).
    Returns (seq_id, output_seq, input_seq)."""
    cleaned = docs.select(clean_text(F.col(text_col)).alias("seq"))
    fitted = split_to_fit(cleaned, "seq", max_len)
    return fitted.select(
        F.monotonically_increasing_id().alias("seq_id"),
        F.col("seq").alias("output_seq"),
        despace(F.col("seq")).alias("input_seq"),
    )


def char_vocabulary(seqs: DataFrame, seq_col: str = "output_seq") -> DataFrame:
    """A1 — distinct chars of the '#'-marked sequences, sorted, indexed
    after the 4 special symbols (seq2seqPreprocessing.py:45-51).
    Columns: token, idx."""
    from pyspark.sql import Window as W

    chars = (
        seqs.select(F.explode(char_array(mark_spaces(F.col(seq_col)))).alias("token"))
        .filter(F.col("token") != "")
        .distinct()
    )
    indexed = chars.select(
        "token", (F.row_number().over(W.orderBy("token")) + len(SPECIAL_SYMBOLS) - 1).alias("idx")
    )
    specials = local_frame(
        seqs.sparkSession, [(s, i) for i, s in enumerate(SPECIAL_SYMBOLS)], "token string, idx int"
    )
    return specials.unionByName(indexed)


def encode_sequences(
    seqs: DataFrame,
    vocab: DataFrame,
    seq_col: str,
    out_col: str,
    pad_to: int | None = None,
) -> DataFrame:
    """P3+P5 char split → D3 bos/eos wrap → D4 pad to batch max (A4) →
    D5 integer-encode via a map literal built from the vocab (broadcast
    once, applied with F.transform — no UDF, unk fallback via coalesce)."""
    rows = vocab.collect()
    mapping = F.create_map(*[x for r in rows for x in (F.lit(r.token), F.lit(r.idx))])
    unk_idx = next(r.idx for r in rows if r.token == UNK)
    pad_idx = next(r.idx for r in rows if r.token == PAD)
    bos_idx = next(r.idx for r in rows if r.token == BOS)
    eos_idx = next(r.idx for r in rows if r.token == EOS)

    chars = F.filter(char_array(mark_spaces(F.col(seq_col))), lambda x: x != "")
    body = F.transform(chars, lambda ch: F.coalesce(mapping[ch], F.lit(unk_idx)))
    wrapped = F.concat(F.array(F.lit(bos_idx)), body, F.array(F.lit(eos_idx)))
    df = seqs.withColumn("_enc", wrapped)
    if pad_to is None:
        pad_to_val = df.agg(F.max(F.size("_enc"))).collect()[0][0]  # A4 global max
    else:
        pad_to_val = pad_to
    padded = F.concat(
        F.col("_enc"),
        F.array_repeat(F.lit(pad_idx), F.lit(pad_to_val) - F.size("_enc")),
    )
    return df.withColumn(out_col, padded).drop("_enc")


def decode_sequence(col, vocab_rows, eos_first: bool = True):
    """P13/P14 — decode helper used in tests: truncate at <eos>, drop
    specials, join. Expression-only."""
    inv = F.create_map(*[x for r in vocab_rows for x in (F.lit(r.idx), F.lit(r.token))])
    toks = F.transform(col, lambda i: inv[i])
    pos = F.array_position(toks, EOS)
    trunc = F.when(pos > 0, F.slice(toks, 1, (pos - 1).cast("int"))).otherwise(toks)
    specials = F.array(*[F.lit(s) for s in SPECIAL_SYMBOLS])
    return F.concat_ws("", F.filter(trunc, lambda t: ~F.array_contains(specials, t)))
